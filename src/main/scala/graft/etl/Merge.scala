package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-merge kernel — SURVEY.md §2 rows D1–D3, U1, J1 and §3 E3.
  *
  * The reference's headline capability is resume-safe incremental ingestion
  * (`README.md:14-15`): re-runs skip already-scraped keys
  * (`fighters_scraper.py:165,178-179`) and every sink write is
  * concat-existing-first + drop_duplicates-keep-first
  * (`fighters_scraper.py:188-207`) — i.e. old rows always win, new keys
  * insert, existing keys never update.
  *
  * pandas' keep-first is row-order-defined; Spark's `dropDuplicates` is NOT
  * order-stable under shuffle (SURVEY §7.5). The faithful distributed
  * translation is the anti-join formulation in [[firstWinsMerge]]:
  * `existing ∪ (incoming ⟕anti existing)` — exactly Delta's
  * `MERGE WHEN NOT MATCHED THEN INSERT`, deterministic on any cluster.
  *
  * Scale notes (100 TB): the anti-join shuffles both sides on the key unless
  * its build side (the keys it removes) is small enough to broadcast, which
  * AQE decides from runtime sizes. On a real lake the sink would be
  * bucketed by the key so this join is shuffle-free.
  */
object Merge {

  /** J1 — incremental skip: rows of `frontier` whose key is NOT in
    * `existing` (`fighters_scraper.py:178-179` as a set-membership test).
    *
    * Null-key contract: NULL-key frontier rows are DROPPED. A left_anti
    * join would keep them (NULL never matches), while the SQL `NOT IN`
    * formulation drops everything when the subquery yields a NULL — the
    * reference never has null keys, so we pick the strict semantic and
    * make engine and oracle agree on nullable inputs (ADVICE r1).
    *
    * The existing keys are NOT de-duplicated: a left-anti join answers the
    * same with or without repeated build keys, and a `distinct` cost one
    * extra shuffle stage whenever AQE broadcast the build side. At shuffle
    * join scale the exchange on the key is planned either way. */
  def incrementalSkip(frontier: DataFrame, existing: DataFrame,
                      key: String): DataFrame =
    frontier.filter(col(key).isNotNull)
      .join(existing.filter(col(key).isNotNull).select(key),
            Seq(key), "left_anti")

  /** U1 — union-by-name with missing-column tolerance, the
    * `pd.concat(ignore_index=True)` alignment (`fighters_scraper.py:200-203`). */
  def unionByNameTolerant(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** D3 exact semantics — first-wins keyed merge: every key in `existing`
    * keeps its existing row; keys only in `incoming` are inserted
    * (`fighters_scraper.py:190-191`: existing is concat'd FIRST, then
    * `drop_duplicates(subset=[key])` keeps the first = old row).
    *
    * Contract: `incoming` must be key-unique — the reference's incoming
    * batch is (one row per scraped URL), so duplicate keys cannot occur
    * there. If yours can, pre-apply [[dedupKeepFirst]] with an explicit
    * order, or use [[firstWinsMergeOrdered]] (ADVICE r1). */
  def firstWinsMerge(existing: DataFrame, incoming: DataFrame,
                     key: String): DataFrame =
    unionByNameTolerant(
      existing,
      incrementalSkip(incoming, existing, key))

  /** [[firstWinsMerge]] for incoming batches that may repeat keys: keeps,
    * per new key, the first incoming row under the EXPLICIT `order` —
    * exactly one row per key survives, like pandas keep-first. */
  def firstWinsMergeOrdered(existing: DataFrame, incoming: DataFrame,
                            key: String, order: Seq[Column]): DataFrame =
    firstWinsMerge(existing, dedupKeepFirst(incoming, Seq(key), order), key)

  /** Keyed UPSERT — the other half of a lakehouse MERGE
    * (`WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`):
    * incoming WINS on key collision, existing rows with no incoming match
    * survive unchanged. The exact dual of [[firstWinsMerge]]:
    * `(existing ⟕anti incoming) ∪ incoming` — the anti-join keeps only
    * the untouched old rows, then every incoming row lands. The reference
    * itself never updates (old rows always win,
    * `fighters_scraper.py:190-191`), but its BASELINE north star names
    * Delta-style writes, and re-scrape-with-corrections is the first
    * thing a real deployment adds.
    *
    * Contract mirrors [[firstWinsMerge]]: `incoming` must be key-unique
    * (pre-apply [[dedupKeepFirst]] otherwise) and NULL-key rows are
    * dropped from BOTH sides — same strict NOT-IN null semantic as
    * [[incrementalSkip]], oracle-aligned. Scale: one key-shuffle
    * anti-join (broadcast when the incoming batch is small — the common
    * correction-batch case); bucketing the sink by the key makes it
    * shuffle-free on a real lake, same as the insert-only path. */
  def upsertMerge(existing: DataFrame, incoming: DataFrame,
                  key: String): DataFrame =
    unionByNameTolerant(incrementalSkip(existing, incoming, key),
                        incoming.filter(col(key).isNotNull))

  /** SCD2 (type-2 slowly-changing-dimension) reconstruction from a change
    * log — the history-PRESERVING twin of [[upsertMerge]] (which is type-1:
    * incoming wins, the old value is gone). Input: one row per
    * (key, effective date) with the attribute values in force from that
    * date; output: one row per attribute-change run, `valid_from` =
    * first effective date of the run, `valid_to` = the next run's
    * `valid_from` (NULL = the open/current row) — the lakehouse-standard
    * effective-dated history table.
    *
    * Consecutive equal attribute states COLLAPSE (a log row restating the
    * current values opens no new version — the no-op-update rule that
    * makes replayed feeds absorbing). Comparison is the null-safe `<=>`
    * over the attr struct, so a NULL attribute value is a real state, not
    * a wildcard. Contract: the log must be unique per (key, effCol) —
    * pre-apply [[dedupKeepFirst]] otherwise, like the other keyed merges.
    *
    * Scale: one shuffle on the key; both window passes (change detection,
    * then `lead` for valid_to) share the same partitioning + ordering, so
    * Catalyst plans a single Exchange + sort with two Window operators
    * over it. State per row is O(1); history per key is bounded by its
    * change count, not the log length. */
  def scd2FromLog(log: DataFrame, key: String, effCol: String,
                  attrs: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(effCol))
    val a = struct(attrs.map(col): _*)
    log
      .withColumn("__chg", !(lag(a, 1).over(w) <=> a))
      .filter(col("__chg"))
      .select(col(key) +: attrs.map(col) :+ col(effCol).as("valid_from"): _*)
      .withColumn("valid_to",
        lead(col("valid_from"), 1).over(
          Window.partitionBy(col(key)).orderBy(col("valid_from"))))
  }

  /** Point-in-time (AS OF) read of an SCD2 table — the time-travel
    * consumer the history exists FOR (r12): the row version effective at
    * `ts` is the one with `valid_from ≤ ts < valid_to` (open versions
    * have a null `valid_to`). Versions partition each key's timeline, so
    * the snapshot holds AT MOST one row per key, with keys born after
    * `ts` absent — equal to "latest attribute per key at eff ≤ ts"
    * computed directly from the change log, which is exactly how q109's
    * DuckDB oracle and the MergeSpec property check it (an independent
    * derivation, not a history replay). A pure filter: partition/file
    * pruning on `valid_from`/`valid_to` makes it a metadata operation on
    * a date-partitioned lake table. */
  def scd2AsOf(hist: DataFrame, ts: org.apache.spark.sql.Column,
               validFrom: String = "valid_from",
               validTo: String = "valid_to"): DataFrame =
    hist.filter(col(validFrom) <= ts &&
      (col(validTo).isNull || ts < col(validTo)))

  /** Incremental SCD2 merge: apply a batch of effective-dated changes to an
    * existing SCD2 table (one built by [[scd2FromLog]] or by previous
    * merges). Semantics = rebuild-from-log for the TOUCHED keys only:
    * an SCD2 table is lossless w.r.t. its change log (each version row IS
    * a change point), so the touched keys' history re-derives from
    * old-change-points ∪ incoming, with incoming WINNING when it restates
    * an existing (key, effective date) — the correction semantic, matching
    * [[upsertMerge]]'s incoming-wins. Untouched keys' rows pass through
    * byte-identical. Late/out-of-order changes are therefore handled for
    * free (a change landing between two existing versions splits the
    * earlier one and re-points `valid_to`), and replaying a batch is
    * absorbing — its log rows are already present, so the rebuild yields
    * the same table (MergeSpec property).
    *
    * Scale: the anti/semi splits broadcast the incoming batch's key set
    * (small vs the dimension, the correction-batch case); only touched
    * keys — proportional to the BATCH, not the table — re-window. On a
    * real lake the untouched side never even rewrites (partition/file
    * pruning on the semi-join); here the caller owns the write policy
    * ([[writeAndSwap]] / [[upsertWrite]] family). */
  def scd2Merge(existing: DataFrame, incoming: DataFrame, key: String,
                effCol: String, attrs: Seq[String]): DataFrame = {
    val touchedKeys = incoming.select(col(key)).distinct()
    val untouched = existing.join(broadcast(touchedKeys), Seq(key), "left_anti")
    val touched = existing.join(broadcast(touchedKeys), Seq(key), "left_semi")
    val oldLog = touched
      .select(col(key) +: attrs.map(col) :+ col("valid_from").as(effCol): _*)
      .join(broadcast(incoming.select(col(key), col(effCol))),
            Seq(key, effCol), "left_anti")
    val log = oldLog.unionByName(
      incoming.select(col(key) +: attrs.map(col) :+ col(effCol): _*))
    untouched.unionByName(scd2FromLog(log, key, effCol, attrs))
  }

  /** CDC net effect — collapse a change log of (key, seq, op, attrs…) rows
    * to one row per key: the row with the HIGHEST `seqCol` wins (the
    * Debezium/Kafka-compacted-topic semantic; `op` is 'D' for a delete
    * tombstone, anything else upserts). Tombstones are RETAINED in the
    * output — that is what makes [[cdcApply]] order-independent: a table
    * that forgot a delete would let a late-arriving older update resurrect
    * the row, while a kept tombstone out-ranks it by seq. Read the live
    * view through [[cdcView]]; a retention pass (drop tombstones older
    * than a low-watermark seq once all producers passed it) is the
    * compaction analog and composes with [[Ledger.compact]].
    *
    * Contract: (key, seq) pairs are unique — the CDC source's ordering
    * guarantee (a log with two ops at the same key+seq has no defined
    * winner anywhere). NULL-key rows are dropped, same strict semantic as
    * every keyed merge here.
    *
    * Scale: ONE shuffle on the key (window + row_number, partial nothing —
    * but the window state is O(1) per key). At 100 TB the log is
    * partitioned by key on the lake and the shuffle is avoidable via
    * bucketing, like the other keyed merges. */
  def cdcNet(log: DataFrame, key: String, seqCol: String): DataFrame =
    dedupKeepFirst(log.filter(col(key).isNotNull),
      Seq(key), Seq(col(seqCol).desc))

  /** Apply a CDC batch to a standing net table (one produced by [[cdcNet]]
    * or previous applies — tombstones included): per-key last-wins by seq
    * over `table ∪ batch`. Because both sides carry their seq and deletes
    * are tombstone rows rather than absences, this is ORDER-INDEPENDENT
    * and ABSORBING: applying batches in any order, any number of times,
    * yields the same table as one-shot [[cdcNet]] over the concatenated
    * log (MergeSpec property) — the at-least-once, out-of-order delivery
    * contract a real CDC consumer needs.
    *
    * Scale: only TOUCHED keys re-window. The batch's key set broadcasts
    * (correction batches are small vs the table); untouched rows pass
    * through without entering the window shuffle — the [[scd2Merge]]
    * pattern. */
  def cdcApply(table: DataFrame, batch: DataFrame, key: String,
               seqCol: String): DataFrame = {
    val b = batch.filter(col(key).isNotNull)
    val touchedKeys = b.select(col(key)).distinct()
    val untouched = table.join(broadcast(touchedKeys), Seq(key), "left_anti")
    val touched = table.join(broadcast(touchedKeys), Seq(key), "left_semi")
    untouched.unionByName(cdcNet(touched.unionByName(b), key, seqCol))
  }

  /** The live read view of a CDC net table: rows whose latest op is not a
    * delete tombstone. */
  def cdcView(table: DataFrame, opCol: String = "op"): DataFrame =
    table.filter(col(opCol) =!= "D")

  /** Tombstone RETENTION — the lifecycle half of [[cdcApply]]'s
    * keep-tombstones contract (the Kafka-compaction `delete.retention`
    * analog): tombstones whose seq is below a LOW-WATERMARK — a sequence
    * every producer is guaranteed past, so no future batch can carry an
    * older seq — can never again out-rank an arrival, and compact away.
    * Live rows are untouched at any seq (they are the data). Correctness
    * contract, proven as a MergeSpec property: for every batch whose rows
    * all carry seq ≥ watermark, the live view after applying to the
    * retained table equals the live view after applying to the full one.
    * Compose with [[Ledger.compact]] for the file-level rewrite. */
  def cdcRetain(table: DataFrame, seqCol: String, watermarkSeq: Long,
                opCol: String = "op"): DataFrame =
    table.filter(!(col(opCol) === "D" && col(seqCol) < watermarkSeq))

  /** S7's CDC twin — crash-safe sink apply of a CDC batch via the same
    * recover-first [[writeAndSwap]] protocol as [[mergeWrite]] /
    * [[upsertWrite]]. Re-running a batch is a no-op and batches may land
    * out of order ([[cdcApply]]'s tombstone argument), so the sink stays
    * correct under at-least-once, unordered delivery — strictly stronger
    * than the reference's resume invariant (SURVEY §3 E3). */
  def cdcWrite(incoming: DataFrame, key: String, seqCol: String,
               path: String): Unit =
    mergedWrite(incoming, key, path,
      (existing, batch, k) => cdcApply(existing, batch, k, seqCol))

  /** D3 within one batch, made deterministic: keep, per key, the row that is
    * first under an EXPLICIT total order (the reference's implicit
    * encounter order has no distributed meaning — SURVEY §2 D2/D3). */
  def dedupKeepFirst(df: DataFrame, key: Seq[String],
                     order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** S7 — idempotent append-dedup sink write: merge then swap, the Parquet
    * analog of the reference's full-file rewrite
    * (`fighters_scraper.py:197-207`). At scale this would be a Delta MERGE;
    * no lakehouse jar ships in this environment, so the transactional
    * equivalent is [[writeAndSwap]]: the merge is fully drained to a temp
    * directory FIRST (also why reading `existing` from `path` itself is
    * safe — a direct `mode("overwrite")` would delete the files the lazy
    * read plan still needs), then swapped in with crash recovery.
    * Re-running adds nothing (first-wins) — E3's core invariant.
    *
    * This reads `existing` from `path` ITSELF, after running
    * [[recoverSwap]] — the ordering is the crash-safety contract
    * (ADVICE r4): a caller-supplied `existing` frame would be constructed
    * BEFORE writeAndSwap's internal recovery ran, so in the
    * death-between-delete-and-rename window the caller either fails on the
    * missing path or, worse, bootstraps an empty frame and lets
    * writeAndSwap adopt-then-delete the orphan — merging against the
    * empty set and silently dropping every previously accumulated row. A
    * missing path AFTER recovery genuinely means first run → bootstrap
    * from the incoming batch's own (empty) shape. */
  def mergeWrite(incoming: DataFrame, key: String, path: String): Unit =
    mergedWrite(incoming, key, path, firstWinsMerge)

  /** S7's upsert twin — the sink form of [[upsertMerge]]: re-stated keys
    * REPLACE their on-disk rows, new keys insert, untouched keys survive.
    * Same crash-safe swap, same recovery-first ordering, same schema-drift
    * checks as [[mergeWrite]]; re-running the same batch is a no-op
    * (last-write-wins is absorbing), so the sink stays idempotent under
    * at-least-once delivery — E3's invariant for correction batches. */
  def upsertWrite(incoming: DataFrame, key: String, path: String): Unit =
    mergedWrite(incoming, key, path, upsertMerge)

  /** The key checks the keyed sink writes add to [[mergeSwap]]. */
  private def mergedWrite(incoming: DataFrame, key: String, path: String,
      merge: (DataFrame, DataFrame, String) => DataFrame): Unit = {
    // Guard BOTH branches (ADVICE r7): a keyless incoming batch on a
    // first run (no sink yet) would otherwise fail later as an opaque
    // 'cannot resolve' analysis error inside firstWinsMerge — exactly the
    // failure this check exists to name.
    require(incoming.columns.contains(key),
      s"incoming batch has no merge-key column '$key' " +
      s"(incoming columns: ${incoming.columns.mkString(", ")})")
    mergeSwap(incoming, path) { existing =>
      // the key must exist on disk too (anything else makes "first wins"
      // meaningless); its type is one of the shared columns mergeSwap
      // has already checked
      if (!existing.columns.contains(key))
        throw new IllegalStateException(
          s"sink $path has no merge-key column '$key' " +
          s"(on-disk columns: ${existing.columns.mkString(", ")})")
      merge(existing, incoming, key)
    }
  }

  /** The one read → merge → swap by which a standing table at `path`
    * absorbs `incoming`: adopt a crashed swap ([[exists]] runs
    * [[recoverSwap]] BEFORE the read — ADVICE r4), read the table, or
    * start from `incoming.limit(0)` on a first run, and publish
    * `merge(existing)` through [[writeAndSwap]] (temp dir
    * `$path.tmp-$token`).
    *
    * The table is read under its OWN footer schema, never a forced
    * incoming schema (ADVICE r5): forcing would silently null-fill a
    * renamed or dropped on-disk column and the merge would run against a
    * reshaped ghost of the table. Columns both sides carry must agree on
    * type (nullability aside — a parquet read makes every field
    * nullable); a column present on one side only is left to the
    * merge's union (U1's null-fill). */
  def mergeSwap(incoming: DataFrame, path: String, token: String = "merge")(
      merge: DataFrame => DataFrame): Unit = {
    val s = incoming.sparkSession
    val existing =
      if (exists(s, path)) {
        val onDisk = s.read.parquet(path)
        onDisk.schema.fields.foreach { f =>
          incoming.schema.find(_.name == f.name).foreach { in =>
            require(org.apache.spark.sql.catalyst.types.DataTypeUtils
                .equalsIgnoreNullability(in.dataType, f.dataType),
              s"sink column '${f.name}' type drift at $path: " +
              s"on-disk ${f.dataType} vs incoming ${in.dataType}")
          }
        }
        onDisk
      } else incoming.limit(0)
    writeAndSwap(merge(existing), path, token)
  }

  /** Crash-safe publish of a dataframe to `path`: drain to
    * `$path.tmp-$token`, delete the old target, rename the temp into
    * place. Rename failure THROWS (a false return with the batch
    * checkpoint-committed would silently lose the sink — ADVICE r3), and
    * [[recoverSwap]] heals the one remaining window (death between delete
    * and rename) by adopting the orphaned temp on the next run: an orphan
    * is only ever a FULLY-written merge result, because the target is
    * never deleted until the temp write has returned.
    *
    * All filesystem access goes through the Hadoop FS API resolved from
    * the path (HDFS/S3-portable). On S3A, rename is a non-atomic O(data)
    * copy — the recovery contract still holds (the orphan survives a
    * mid-copy crash and is re-adopted), but a real lake deployment should
    * prefer a table format with a transactional commit protocol.
    *
    * Concurrency (VERDICT r18 item 6, adjudicated): the delete→rename
    * window is also a READER hazard — a scan that listed the old files
    * throws FileNotFound mid-read and must retry; it can never see a
    * torn mix of generations (the rename is all-or-nothing per
    * directory), so the race is availability-only, never wrong answers.
    * Between WRITERS the swap is last-writer-wins with no merge: every
    * swap-managed artifact here is single-writer by contract, and folds
    * whose members include a read-union-swap (the BM25/NB stats ledgers)
    * are single-writer even at fold grain — two concurrent folds of the
    * same ledger can interleave to a lost update. Pure-append members
    * tolerate concurrent duplicate appends (the reader's replay-dedup
    * absorbs byte-identical rows), but COMPACTION concurrent with any
    * append can drop the append with the old generation; production
    * placement is one maintenance owner per artifact, the same way the
    * streaming sinks serialize through their checkpoint. */
  def writeAndSwap(df: DataFrame, path: String, token: String,
                   partitionBy: Option[String] = None): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    recoverSwap(fs, path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp-$token")
    val w = df.write.mode("overwrite")
    partitionBy.fold(w)(w.partitionBy(_)).parquet(tmp.toString)
    if (fs.exists(target) && !fs.delete(target, true))
      throw new java.io.IOException(s"could not delete old sink $target")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
  }

  /** Process-lifetime ledger of seconds spent BUILDING warehouse
    * artifacts (first-touch [[materialize]] builds, [[foldMissingBatches]]
    * appends, bucketed-table builds). The bench drains it per query so a
    * shared artifact's one-time build cost is attributable instead of
    * silently landing in whichever query touched the family first
    * (VERDICT r20 item 8). Nanos, atomic — build paths are effectively
    * single-writer but the counter must not lose updates if not. */
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Time `body` into the artifact-build ledger. */
  def recordBuild[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally buildNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Read-and-reset the artifact-build ledger (seconds). */
  def drainBuildSec(): Double =
    buildNanos.getAndSet(0L) / 1e9

  /** Identity of a fold ledger's CURRENT batch set — the sorted batch
    * ids from the `.batches` manifest, joined. Artifacts derived from a
    * ledger (e.g. a collapsed count view) key their path on this so any
    * later append/retract to the ledger changes the key and forces a
    * rebuild instead of serving a stale view. */
  def batchTag(s: org.apache.spark.sql.SparkSession, path: String): String =
    markedBatches(s, path).sorted.mkString("_")

  /** Process-lifetime memo of artifact SCHEMAS by path (r21, guide §1.2
    * fixed-cost audit): `read.parquet` without a schema runs a footer-
    * inference pass over the directory's part files — measured ~0.09 s
    * per call on a warm local artifact vs ~0.017 s with the schema
    * provided, and artifact-served queries pay it on EVERY reference in
    * every pass. The memo holds METADATA only: the file listing is still
    * resolved fresh on each read (appends, retractions and compactions
    * are always re-seen); only the column structure is reused, which is
    * fixed for a warehouse path by the build-once/tag-keyed contract
    * (appended ledger batches and compactions never change columns).
    * This never caches rows or results. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  /** Read a warehouse artifact/ledger directory with the schema-memoized
    * fast path. Only for paths whose column structure is stable for the
    * process lifetime — every `graft_*` warehouse path and manifest
    * generation dir qualifies; arbitrary caller temp dirs do not. */
  def readArtifact(s: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    val sch = schemaMemo.get(path)
    if (sch != null) s.read.schema(sch).parquet(path)
    else {
      val df = s.read.parquet(path)
      schemaMemo.put(path, df.schema)
      df
    }
  }

  /** Build-once materialization of a warehouse artifact: adopt a crashed
    * build, build+publish via [[writeAndSwap]] only if the artifact is
    * absent, read it back. The shared shape of every amortized model in
    * the engine (q82 frozen dict/index, q86 centroids, q87 LM) — callers
    * key `path` by [[graft.Tables.datasetTag]] so a source regeneration
    * invalidates rather than silently serving stale bytes. */
  def materialize(s: org.apache.spark.sql.SparkSession, path: String,
                  df: => DataFrame): DataFrame = {
    // adopt a crashed build first
    if (!exists(s, path)) recordBuild { writeAndSwap(df, path, "build") }
    readArtifact(s, path)
  }

  /** Target bytes per file for every compaction: a rewrite lands in
    * ceil(bytes / TargetFileBytes) files. */
  private[etl] val TargetFileBytes: Long = 128L * 1024 * 1024

  /** The data files of an artifact directory (recursive, so partitioned
    * layouts count too): everything but `_SUCCESS`-style and hidden
    * `.crc` entries. The one listing every compaction reports with. */
  private[etl] def dataFiles(s: org.apache.spark.sql.SparkSession,
      path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val b = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, /* recursive = */ true)
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith(".")) b += st
      }
    }
    b.result()
  }

  /** Whether the swap-managed artifact at `path` exists, after adopting
    * a crashed swap's orphan ([[recoverSwap]]). Every read-modify-swap
    * asks this BEFORE reading its existing generation — asking the raw
    * filesystem instead would bootstrap from empty over an adoptable
    * orphan and drop the accumulated history (ADVICE r4). */
  def exists(s: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    recoverSwap(fs, path)
    fs.exists(p)
  }

  /** The batch ids with a commit marker (`<path>.batches/<id>`). */
  def markedBatches(s: org.apache.spark.sql.SparkSession,
                    path: String): Seq[String] = {
    val mdir = new org.apache.hadoop.fs.Path(s"$path.batches")
    val fs = mdir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(mdir)) fs.listStatus(mdir).map(_.getPath.getName).toSeq
    else Nil
  }

  /** Stamp batch `id`'s commit marker — strictly AFTER its data landed
    * (see [[foldMissingBatches]] for the crash argument). */
  def markBatch(s: org.apache.spark.sql.SparkSession, path: String,
                id: String): Unit = {
    val mdir = new org.apache.hadoop.fs.Path(s"$path.batches")
    val fs = mdir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(mdir)
    fs.create(new org.apache.hadoop.fs.Path(mdir, id), true).close()
  }

  /** If `path` is missing but a `$path.tmp-*` orphan exists, a previous
    * [[writeAndSwap]] died between delete and rename: adopt the newest
    * orphan (by modification time) as the sink so the accumulated merges
    * are never lost. Single-writer contract, like the reference. */
  /** Retire a swap-managed artifact COMPLETELY: delete every `.tmp-*`
    * orphan FIRST, then the target. The order is the point (ADVICE r17,
    * multi-artifact generations): a caller about to replace a PAIR of
    * artifacts retires the second half before swapping the first, so any
    * crash in the replacement window leaves that half ABSENT — forcing
    * the consumer's rebuild-both path — rather than a stale generation
    * that [[recoverSwap]] would adopt and silently pair with the other
    * half's NEW generation. Deleting orphans before the target keeps
    * every intermediate crash state safe: orphans-gone/target-present is
    * the intact old artifact; orphans-gone/target-gone is the forced
    * rebuild. (Target-first would open a window where an old orphan is
    * adoptable against a newer sibling.) */
  def retireArtifact(fs: org.apache.hadoop.fs.FileSystem,
                     path: String): Unit = {
    val orphans = Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$path.tmp-*")))
      .getOrElse(Array.empty)
    orphans.foreach(o => fs.delete(o.getPath, true))
    val target = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(target)) fs.delete(target, true)
  }

  def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) {
      val orphans = Option(
        fs.globStatus(new org.apache.hadoop.fs.Path(s"$path.tmp-*")))
        .getOrElse(Array.empty)
      if (orphans.nonEmpty) {
        val newest = orphans.maxBy(_.getModificationTime).getPath
        if (!fs.rename(newest, new org.apache.hadoop.fs.Path(path)))
          throw new java.io.IOException(
            s"orphan recovery rename $newest -> $path failed")
      }
    }

  /** Presence-keyed idempotent batch fold over an append-maintained
    * directory — the shared shape of q137/q140/q141/q142 (each used to
    * inline it; four copies of a crash contract is how contracts drift).
    *
    * Presence is a COMMIT MARKER (`<path>.batches/<id>`, an empty file)
    * written strictly AFTER the batch's data append. The former
    * formulation read `batch_id` DISTINCT from the data itself, which has
    * two defects this fixes: (a) a driver death mid-job-commit can leave
    * a SUBSET of the batch's files visible, and any visible row made the
    * batch "present" — silently serving a half-appended batch forever;
    * with the marker, a crash anywhere before the marker write replays
    * the batch in full and the reader's replay-dedup (full-row /
    * first-wins — the same absorption the streaming sinks rely on under
    * checkpoint replay) collapses whatever the crashed attempt had
    * published; (b) the presence probe was a corpus-proportional column
    * scan, while listing the marker dir is O(batches).
    *
    * Single-writer between batches, like every offline fold here. The
    * failure modes under a CONCURRENT second folder (VERDICT r18 item 6)
    * grade by member kind: two folders racing the same pure-append batch
    * produce duplicate byte-identical rows plus an idempotent marker
    * create — absorbed, correct; but a fold whose closure also maintains
    * a read-union-swap member (BM25/NB stats) or runs a compaction can
    * lose the other writer's update in the swap window, so ledger
    * OWNERSHIP (one maintenance process per artifact path) is the
    * deployment contract, not just a performance suggestion.
    * Compaction never touches the marker dir (writeAndSwap rewrites only
    * `path`), so compacted ledgers keep their presence state. Returns the
    * ids appended by THIS call. */
  def foldMissingBatches(s: org.apache.spark.sql.SparkSession, path: String,
      batches: Seq[(String, () => Unit)]): Seq[String] = {
    val mdir = new org.apache.hadoop.fs.Path(s"$path.batches")
    val fs = mdir.getFileSystem(s.sparkContext.hadoopConfiguration)
    // Markers are only meaningful while their ledger exists: if the data
    // directory was deleted/retired but the sibling marker dir survived,
    // trusting the markers would skip every re-append and downstream
    // readers would throw on the missing path (ADVICE r18). A vanished
    // ledger drops its stale markers and rebuilds from scratch.
    if (!exists(s, path) && fs.exists(mdir)) fs.delete(mdir, true)
    val have = markedBatches(s, path).toSet
    val todo = batches.filterNot(b => have(b._1))
    todo.foreach { case (id, append) =>
      recordBuild { append() } // first-touch ledger builds are attributable
      markBatch(s, path, id)
    }
    todo.map(_._1)
  }
}
