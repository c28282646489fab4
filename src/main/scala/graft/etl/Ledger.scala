package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one append → retract → compact lifecycle behind every standing
  * ledger (search postings, count partials, decode ledgers, drift and
  * manifest feeds). A family keeps only its ROW DERIVATION and its
  * serving collapse; everything crash- and replay-related lives here,
  * and every verb goes through [[Merge.recoverSwap]] (via
  * [[Merge.exists]]) and [[Merge.writeAndSwap]]/[[Merge.readArtifact]].
  *
  * Two kinds, fixed per family in code:
  *  - ROWS (`sums` empty): rows are per-key facts (postings, per-doc
  *    hashes, published spans). A replayed append re-derives
  *    byte-identical rows, so [[read]] absorbs replays by deduplicating
  *    on `rowKey` (the full row when empty). Deletion is a TOMBSTONE:
  *    the deleted ids append to a sibling `del` directory and readers
  *    anti-join them ([[readNet]]); [[compact]] with `del` drops the
  *    masked rows physically.
  *  - SUMS (`sums` non-empty): rows are additive partials keyed by
  *    (`rowKey`, `batch_id`). [[read]] absorbs replays first-wins on that
  *    identity, [[readNet]] sums the partials per key. Deletion is a
  *    NEGATED partial ([[negate]]) through the same append, and
  *    [[compactNet]] folds every MARKED batch into one net row per key.
  *
  * The marker rule: a batch's `<path>.batches/<id>` commit marker lands
  * strictly after its rows ([[Merge.foldMissingBatches]], and every
  * stream sink that passes `markers` to `Streams.batchSink`). A marked
  * batch can never replay, so only marked rows
  * may be folded by [[compactNet]]; unmarked rows are in flight and pass
  * through verbatim, so a replay still absorbs against them.
  *
  * Layout: [[compact]] rewrites into size-targeted files hash-clustered
  * on `clusterKey` (the probe's join key); with `partitionBy` the
  * directory keeps that partition layout (the IVF `label=` cells).
  * Single-writer per path, like every swap-managed artifact. */
final case class Ledger(clusterKey: String, rowKey: Seq[String] = Nil,
    sums: Seq[String] = Nil, partitionBy: Option[String] = None) {

  /** Append one batch's rows as new files — O(batch), no existing row
    * read or rewritten. A crashed compaction is adopted FIRST: appending
    * into a missing directory would recreate it and strand the orphan
    * (and all history in it) forever (ADVICE r16). */
  def append(path: String, rows: DataFrame): Unit = {
    Merge.exists(rows.sparkSession, path)
    val w = rows.write.mode("append")
    partitionBy.fold(w)(w.partitionBy(_)).parquet(path)
  }

  /** [[append]] with the rows tagged by their batch identity. */
  def append(path: String, rows: DataFrame, batchId: String): Unit =
    append(path, rows.withColumn("batch_id", lit(batchId)))

  /** ROWS-kind deletion: the id rows (the caller's projection of the id
    * column) append to `delPath` under `batchId`; replays are absorbed
    * by the distinct in [[tombstones]]. */
  def tombstone(path: String, delPath: String, ids: DataFrame,
                batchId: String): Unit = {
    Merge.exists(ids.sparkSession, path)
    Ledger.Tombstones.append(delPath, ids, batchId)
  }

  /** SUMS-kind deletion: the partials with every `sums` column negated,
    * appended like any batch — the net read cancels them exactly when
    * they are re-derived from the same input. */
  def negate(path: String, rows: DataFrame): Unit =
    append(path, rows.select(rows.columns.map(c =>
      if (sums.contains(c)) (-col(c)).as(c) else col(c)): _*))

  def negate(path: String, rows: DataFrame, batchId: String): Unit =
    negate(path, rows.withColumn("batch_id", lit(batchId)))

  /** The ledger with replays absorbed: ROWS deduplicate on `rowKey`;
    * SUMS keep one row per (`rowKey`, `batch_id`) — the min over the
    * sums struct, exact because a replay's partials are byte-identical.
    * `excludeBatch` drops one batch BEFORE the collapse (a streaming
    * probe reading "history before me"). */
  def read(s: SparkSession, path: String,
           excludeBatch: Option[String] = None): DataFrame = {
    Merge.exists(s, path)
    val raw0 = Merge.readArtifact(s, path)
    val raw = excludeBatch.fold(raw0)(b => raw0.filter(col("batch_id") =!= b))
    if (sums.nonEmpty) firstWins(raw)
    else if (rowKey.isEmpty) raw.dropDuplicates()
    else raw.dropDuplicates(rowKey)
  }

  /** The net ledger: SUMS summed per `rowKey` over every batch (zero
    * keys kept — what counts as absent is the family's collapse); ROWS
    * minus the tombstoned ids in `delPath` (none when it is null). */
  def readNet(s: SparkSession, path: String, delPath: String = null,
              excludeBatch: Option[String] = None): DataFrame = {
    val rows = read(s, path, excludeBatch)
    if (sums.nonEmpty) total(rows)
    else Option(delPath).fold(rows)(Ledger.mask(s, rows, _))
  }

  /** Offline compaction (VERDICT r10 item 1): rewrite the directory into
    * size-targeted files hash-clustered on `clusterKey`, replay
    * duplicates garbage-collected, through the crash-safe
    * [[Merge.writeAndSwap]] — readers see the old generation until the
    * rename, a death mid-way leaves the old directory or an adoptable
    * orphan. ONE shuffle does both jobs: the dedup keys include
    * `clusterKey`, so the hash partitioning satisfies the dedup
    * aggregate's distribution and no second exchange is planned. With
    * `del`, tombstoned rows vanish from the parquet (the takedown
    * completing on disk). Returns (files before, files after). */
  def compact(s: SparkSession, path: String,
              del: Option[String] = None): (Int, Int) = {
    Merge.exists(s, path)
    val before = Merge.dataFiles(s, path)
    val raw = Merge.readArtifact(s, path)
    val live = del.fold(raw)(Ledger.mask(s, raw, _))
    val clustered = live.repartition(nFiles(before), col(clusterKey))
    val deduped =
      if (rowKey.isEmpty || sums.nonEmpty) clustered.dropDuplicates()
      else clustered.dropDuplicates((clusterKey +: rowKey).distinct)
    Merge.writeAndSwap(deduped, path, if (del.isEmpty) "compact" else "rcompact",
      partitionBy)
    (before.size, Merge.dataFiles(s, path).size)
  }

  /** SUMS-kind compaction that completes retractions on disk: rows of
    * MARKED batches collapse to one net row per key under
    * [[Ledger.NetBatchId]] and keys whose every sum nets to zero vanish;
    * rows of unmarked (in-flight) batches pass through verbatim, so a
    * replay still first-wins-absorbs against them. The net generation
    * is itself marked, so the next net compaction folds it again. A
    * key is dropped only when EVERY sum is zero: a negative net (a
    * marked retraction of an unmarked batch's docs) must survive to
    * cancel those rows at read time. */
  def compactNet(s: SparkSession, path: String): (Int, Int) = {
    require(sums.nonEmpty, "compactNet needs a sums ledger")
    Merge.exists(s, path)
    val before = Merge.dataFiles(s, path)
    val marked = Merge.markedBatches(s, path) :+ Ledger.NetBatchId
    val led = Merge.readArtifact(s, path)
    val isMarked = col("batch_id").isin(marked: _*)
    val net = total(firstWins(led.filter(isMarked)))
      .filter(sums.map(c => col(c) =!= 0L).reduce(_ || _))
      .select(rowKey.map(col) ++ sums.map(col) :+
        lit(Ledger.NetBatchId).as("batch_id"): _*)
    Merge.writeAndSwap(
      net.unionByName(led.filter(!isMarked))
        .repartition(nFiles(before), col(clusterKey)),
      path, "netcompact", partitionBy)
    Merge.markBatch(s, path, Ledger.NetBatchId)
    (before.size, Merge.dataFiles(s, path).size)
  }

  private def firstWins(raw: DataFrame): DataFrame =
    raw.groupBy((rowKey :+ "batch_id").map(col): _*)
      .agg(min(struct(sums.map(col): _*)).as("__r"))
      .select(rowKey.map(col) ++ sums.map(c => col(s"__r.$c").as(c)) :+
        col("batch_id"): _*)

  private def total(rows: DataFrame): DataFrame = {
    val aggs: Seq[Column] = sums.map(c => sum(col(c)).as(c))
    rows.groupBy(rowKey.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def nFiles(files: Seq[org.apache.hadoop.fs.FileStatus]): Int = {
    val bytes = files.map(_.getLen).sum
    math.max(1L, (bytes + Merge.TargetFileBytes - 1) / Merge.TargetFileBytes)
      .toInt
  }
}

object Ledger {
  /** Reserved batch id of net-compacted rows. Never in any fold's batch
    * list, so its marker can't vouch for a real batch. */
  val NetBatchId = "_net"

  /** The `del` member of a ROWS ledger: (id…, batch_id) rows. */
  private val Tombstones = Ledger("batch_id")

  /** The tombstone set in anti-join shape — distinct absorbs replayed
    * tombstone appends. Retention-bounded (O(deleted)), so it broadcasts. */
  def tombstones(s: SparkSession, delPath: String): DataFrame =
    Merge.readArtifact(s, delPath).drop("batch_id").distinct()

  /** `rows` minus the ids tombstoned in `delPath` — one broadcast
    * anti-join on the tombstones' id columns. */
  def mask(s: SparkSession, rows: DataFrame, delPath: String): DataFrame = {
    val t = tombstones(s, delPath)
    rows.join(broadcast(t), t.columns.toSeq, "left_anti")
  }
}
