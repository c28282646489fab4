package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.Tables
import graft.etl.Merge

/** Structured Streaming surface — the streaming form of the engine's
  * event-time operators, plus the reference's micro-batch checkpoint sink
  * (S6: "every N rows, merge into the sink and persist",
  * `fighters_scraper.py:188-193`) re-expressed as `foreachBatch` +
  * idempotent merge, which is exactly Structured Streaming's
  * checkpoint + idempotent-sink = effectively-once contract (SURVEY §3 E3).
  *
  * Batch/stream parity is the design point: [[tumblingCounts]] is the same
  * `window($"ts", …)` aggregation as `operators.Events.tumblingHourly`, so
  * one query definition serves both paths — only the read/write edges and
  * the watermark differ. Tests drive these with `Trigger.AvailableNow`
  * against the harness parquet and assert stream output == batch output.
  *
  * Scale notes: the watermark bounds window state in event time (without
  * it, state grows with the key×window product forever); `foreachBatch`
  * merge gives the sink idempotence the reference got from
  * concat+drop_duplicates-on-key; `flatMapGroupsWithState` state is
  * per-user O(1) (one open-session accumulator), evicted by timeout.
  */
object Streams {

  /** Streaming read of an events DIRECTORY (FileStreamSource's contract —
    * it tails a directory for new files; a single-file path would become
    * its own basePath and fail). Same footer-probed unit handling as the
    * batch loader ([[Tables.events]]): the `ts` unit is read from the
    * first file present at stream-definition time — MICROS reads
    * natively, legacy NANOS takes the raw-long + `ts div 1000` path.
    * An EMPTY (or not-yet-created) directory is FileStreamSource's
    * normal bootstrap — a producer fills it after the stream starts — so
    * with no file to probe the reader assumes the current-generation
    * MICROS schema instead of refusing to start (ADVICE r10); a legacy
    * NANOS producer landing later fails loudly ([PARQUET_TYPE_ILLEGAL])
    * rather than silently mis-scaling. `maxFilesPerTrigger` caps
    * micro-batch size — the streaming analog of the reference's
    * every-10-rows checkpoint cadence. */
  def readEvents(s: SparkSession, eventsDir: String,
                 maxFilesPerTrigger: Int = 1): DataFrame =
    if (!Tables.tsIsNanosAtOpt(s, eventsDir).getOrElse(false))
      s.readStream
        .schema(Tables.eventsSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(eventsDir)
    else {
      require(
        s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
        "build the session with Sessions.local (nanosAsLong)")
      s.readStream
        .schema(Tables.eventsSchemaNanos)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(eventsDir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }

  /** Tumbling 1-hour counts per event_type with a 2-hour watermark —
    * identical aggregation to the batch `Events.tumblingHourly`. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("window_start"),
              col("event_type"), col("n_events"))

  /** S6 as streaming: merge each micro-batch into a parquet sink
    * first-wins on `key` — idempotent, so checkpoint replay is safe
    * (the reference's concat+dedup+overwrite per batch).
    *
    * Durability is [[graft.etl.Merge.writeAndSwap]]'s contract (shared
    * with the batch S7 sink): Hadoop-FS, drain-to-temp-then-swap, rename
    * failures thrown, and — critically — orphan recovery at batch start.
    * Replay idempotence alone does NOT cover a death between
    * delete(target) and rename: the restarted batch would find no target,
    * merge against an EMPTY existing set, and permanently lose every
    * previously merged batch (ADVICE r3). `recoverSwap` inside
    * `writeAndSwap` adopts the orphaned temp — which is always a complete
    * merge result, since the target is only deleted after the temp write
    * returns — before the existing set is read. StreamsSpec's
    * crash-recovery case replays exactly that death. */
  def mergeSink(events: DataFrame, key: String, path: String,
                checkpoint: String): StreamingQuery =
    batchSink(events, checkpoint, "b")((b, _) => Merge.mergeWrite(b, key, path))

  /** [[mergeSink]]'s last-write-wins twin — each micro-batch UPSERTS into
    * the sink ([[graft.etl.Merge.upsertMerge]]): re-stated keys replace
    * their sink rows, the correction-stream semantic. Exactly-once holds
    * under the same contract as mergeSink: the checkpoint replays only an
    * uncommitted batch (batches apply in order, so a replay never
    * re-applies an OLDER value over a newer one), and re-applying the
    * same batch is absorbing. Same crash-safe swap + recovery-first
    * ordering. */
  def upsertSink(events: DataFrame, key: String, path: String,
                 checkpoint: String): StreamingQuery =
    batchSink(events, checkpoint, "b")((b, _) =>
      Merge.upsertWrite(b, key, path))

  /** The CDC twin of [[upsertSink]] — each micro-batch of change rows
    * (key, seq, op, attrs…) folds into the sink's net table via
    * [[graft.etl.Merge.cdcApply]]: last-wins by source sequence, deletes
    * kept as tombstones. STRICTLY stronger delivery contract than the
    * other sinks: because every row carries its seq and deletes are
    * tombstone rows, the apply is order-INDEPENDENT as well as absorbing
    * (MergeSpec property), so correctness needs only at-least-once
    * delivery in ANY order — a checkpoint replay, a re-partitioned
    * upstream topic, or a late-arriving backfill batch all land on the
    * same net table. Read the live view through
    * [[graft.etl.Merge.cdcView]]. */
  def cdcSink(changes: DataFrame, key: String, seqCol: String, path: String,
              checkpoint: String): StreamingQuery =
    batchSink(changes, checkpoint, "b")((b, _) =>
      Merge.cdcWrite(b, key, seqCol, path))

  /** Expectations-gated ingestion — the streaming face of
    * [[graft.etl.Quality]] (the Delta-Live-Tables expectations pattern):
    * each micro-batch splits on the disjunction of the row-check
    * violation predicates; clean rows first-wins-merge into the sink,
    * violating rows land in a QUARANTINE sink (same crash-safe merge,
    * keyed identically) instead of being dropped — quarantined data is
    * inspectable and replayable after the upstream fix, which is the
    * difference between a gate and a silent filter. Both sinks go
    * through the recover-first writeAndSwap protocol, so a checkpoint
    * replay is absorbing on both sides and a crash between the two
    * writes re-heals on the next batch. The split predicate is the same
    * `Column` the batch [[graft.etl.Quality.rowChecks]] counts — one
    * definition, two surfaces. */
  def dqSplitSink(events: DataFrame, key: String,
                  checks: Seq[graft.etl.Quality.RowCheck],
                  sinkPath: String, quarantinePath: String,
                  checkpoint: String): StreamingQuery = {
    val violation = coalesce(checks.map(_.violation).reduce(_ || _), lit(false))
    batchSink(events, checkpoint, "b") { (batch, _) =>
      val b = batch.localCheckpoint() // split reads it twice
      Merge.mergeWrite(b.filter(!violation), key, sinkPath)
      Merge.mergeWrite(b.filter(violation), key, quarantinePath)
    }
  }

  /** Streaming SEARCH-INDEX publication through the cross-artifact
    * manifest (r12 — [[graft.etl.Manifest]]'s streaming face): each
    * micro-batch of documents extends BOTH the corpus artifact and its
    * posting lists, then publishes the pair as ONE manifest generation —
    * a concurrent searcher that resolves the manifest mid-stream always
    * reads postings and corpus from the same publish, never new postings
    * over an old corpus (the tear the per-artifact swaps allowed).
    * First-wins on doc_id makes a checkpoint replay content-absorbing
    * (the replayed batch anti-joins away; the publish is a new
    * generation of identical rows). Each generation is a full rewrite —
    * the write-amplification trade of snapshot isolation at this size;
    * at lake scale generations would share unchanged files (the
    * Delta/Iceberg move) with [[graft.etl.Manifest.vacuum]] unchanged.
    *
    * r15 (VERDICT r14 item 4 — BM25 lifecycle parity): when the root's
    * snapshot already carries q122's `bm25`/`bm25stats` members, every
    * batch extends THEM in the same single publish — one generation
    * pairs corpus, AND-postings, BM25 postings, and the stats ledger, so
    * a BM25 searcher can never read new postings over old stats. The
    * stats artifact is the additive LEDGER form
    * ([[graft.operators.Documents.bm25StatsLedger]]): the batch appends
    * one (batch_id, n_docs, total_tokens) row derived from `fresh` only
    * — history is never re-read — and a replayed batch contributes
    * nothing because `fresh` is empty after the corpus anti-join (the
    * zero-doc ledger row is filtered, keeping the ledger equal to the
    * effective batch history). A root q122 has not touched yet skips the
    * BM25 members — q99-only publishers don't pay for an index nobody
    * built. */
  def searchPublishSink(docs: DataFrame, root: String,
                        checkpoint: String): StreamingQuery =
    batchSink(docs, checkpoint, "stream") { (batch, token) =>
      val s = batch.sparkSession
      val b = batch.localCheckpoint()
      val snap = graft.etl.Manifest.resolve(s, root)
      val corpus0 = snap.get("corpus")
        .map(p => s.read.schema(b.schema).parquet(p))
        .getOrElse(b.limit(0))
      val fresh = b.join(corpus0.select("doc_id"), Seq("doc_id"),
        "left_anti").localCheckpoint()
      val post0 = snap.get("postings").map(p => s.read.parquet(p))
        .getOrElse(graft.operators.Documents.postings(b.limit(0)))
      val bm25Updates: Map[String, DataFrame] =
        if (!snap.contains("bm25")) Map.empty
        else {
          val bm250 = s.read.parquet(snap("bm25"))
          val ledgerRaw = s.read.parquet(snap("bm25stats"))
          // normalize an r14 single-row stats artifact into the ledger
          // shape so an existing root upgrades in place
          val ledger0 =
            if (ledgerRaw.columns.contains("batch_id")) ledgerRaw
            else ledgerRaw.select(lit("build").as("batch_id"),
              col("n_docs"), col("total_tokens"))
          Map(
            "bm25" -> bm250.unionByName(
              graft.operators.Documents.bm25Postings(fresh)),
            "bm25stats" -> ledger0.unionByName(
              graft.operators.Documents
                .bm25StatsLedger(fresh, token)
                .filter(col("n_docs") > 0)))
        }
      graft.etl.Manifest.publish(s, root, Map(
        "corpus" -> corpus0.unionByName(fresh),
        "postings" -> post0.unionByName(
          graft.operators.Documents.postings(fresh))) ++ bm25Updates)
    }

  /** CDC ingest gated by EXPECTATIONS before apply (VERDICT r11 item 6) —
    * the composition production change-capture actually runs: a corrupt
    * upstream change must neither mutate the net table NOR vanish. Each
    * micro-batch splits on the same violation predicates the batch
    * [[graft.etl.Quality.rowChecks]] counts; clean changes apply with
    * [[graft.etl.Merge.cdcApply]]'s last-wins-by-sequence semantics
    * (tombstones retained — the q96 order/replay contracts), violating
    * CHANGES land whole in a quarantine table keyed by their change
    * identity (key:seq), so nothing collapses and an operator can replay
    * the quarantine through the same gate after the upstream fix — the
    * quarantined unit is the CHANGE, never the post-apply state, which
    * is what keeps the net table's history linear. Both targets go
    * through the recover-first writeAndSwap protocol: a checkpoint
    * replay re-applies absorbing merges on both sides (cdcApply is
    * replay-absorbing by the MergeSpec property; the quarantine's
    * first-wins merge on change identity is idempotent), and a crash
    * between the two writes re-heals on the next batch. */
  def gatedCdcSink(changes: DataFrame, key: String, seqCol: String,
                   checks: Seq[graft.etl.Quality.RowCheck],
                   netPath: String, quarantinePath: String,
                   checkpoint: String): StreamingQuery = {
    val violation = coalesce(checks.map(_.violation).reduce(_ || _), lit(false))
    batchSink(changes, checkpoint, "b") { (batch, _) =>
      val b = batch.localCheckpoint() // split reads it twice
      Merge.cdcWrite(b.filter(!violation), key, seqCol, netPath)
      Merge.mergeWrite(b.filter(violation)
          .withColumn("__change_id", concat_ws(":", col(key), col(seqCol))),
        "__change_id", quarantinePath)
    }
  }

  /** Per-batch incremental near-dup at INGEST time — the streaming twin
    * of q79 ([[graft.operators.Documents.incrementalNearDup]]): each
    * arriving micro-batch of documents is matched against the STATIC
    * existing corpus through the same R-S prefix-filtered exact Jaccard
    * join (one shared rarest-first token order per batch∪corpus,
    * candidates strictly batch×corpus — never batch×batch or
    * corpus×corpus), and the (in_id, corpus_id, jaccard_bp) alerts
    * first-wins-merge into the sink keyed on the pair, so a checkpoint
    * replay of an uncommitted batch is absorbing and a document
    * re-stated across batches alerts once. Because the join is EXACT,
    * per-batch results equal the one-shot batch split's regardless of
    * how ingest is batched (each batch's token order may differ, but
    * completeness holds under ANY consistent order — the result set is
    * fixed by ground-truth Jaccard). The corpus plan re-plans per batch
    * (enrichEvents' contract), picking up a corpus refresh without a
    * stream restart. Completes the ingest-dedup ladder in streaming
    * form: exact doc ([[dedupStream]]) → exact chunk
    * ([[chunkDedupStream]]) → near-dup doc (this). */
  def nearDupStream(docs: DataFrame, corpus: DataFrame, path: String,
                    checkpoint: String): StreamingQuery = {
    val corpusSh = graft.operators.Documents.shingleDocs(corpus)
    batchSink(docs, checkpoint, "b")((batch, _) =>
      Merge.mergeWrite(graft.operators.Documents
          .prefixJaccardJoin(graft.operators.Documents.shingleDocs(batch),
            corpusSh)
          .withColumn("pair_key",
            concat_ws(":", col("in_id"), col("corpus_id"))),
        "pair_key", path))
  }

  /** Stream–static enrichment join: each micro-batch joins against a
    * batch dimension (re-planned per batch, so a refreshed dimension is
    * picked up); the static side broadcasts — no stream-side shuffle and
    * no state, the cheapest join a stream can do. Keys here: events.user_id
    * against a customer-derived profile. */
  def enrichEvents(events: DataFrame, profile: DataFrame,
                   key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(profile), Seq(key))

  /** Stream–stream interval join with bounded state on BOTH sides: clicks
    * attributed to a view by the same user within `horizonMinutes` —
    * the streaming form of the as-of/attribution family (q36) and the one
    * stateful join shape a large pipeline genuinely runs continuously
    * (impression→conversion attribution). Spark buffers both streams in
    * state; WITHOUT a watermark on each side plus a time-range predicate
    * tying the two event times together it cannot ever evict, and state
    * grows with the full history. With them, the view side holds at most
    * `horizon + watermark` of events and the click side `watermark` —
    * constant in stream length, the property that survives at 100 TB/day.
    * Inner join: unmatched rows on either side simply expire. */
  def viewClickAttribution(views: DataFrame, clicks: DataFrame,
                           horizonMinutes: Int): DataFrame =
    viewClickJoin(views, clicks, horizonMinutes, "inner")
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("v_ts"), col("c_ts"))

  /** LEFT OUTER variant: every view eventually emits — matched within the
    * horizon, or null-padded once the watermark passes `v_ts + horizon`
    * and the view's state is evicted (the "no conversion" row an
    * attribution report needs; an inner join silently drops it). Same
    * bounded state as the inner form — the outer row is a free byproduct
    * of the eviction that was happening anyway. Caveat inherent to the
    * semantics: unmatched views younger than the final watermark are
    * still pending at stream end (they'd emit on the next trigger),
    * so a drained AvailableNow run reports unmatched only for the
    * watermark-expired prefix — StreamsSpec pins exactly that contract. */
  def viewClickAttributionOuter(views: DataFrame, clicks: DataFrame,
                                horizonMinutes: Int): DataFrame =
    viewClickJoin(views, clicks, horizonMinutes, "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("v_ts"),
        col("click_id"), col("c_ts"))

  private def viewClickJoin(views: DataFrame, clicks: DataFrame,
                            horizonMinutes: Int, joinType: String): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val cond =
      col("c_user") === col("v_user") &&
      col("c_ts") >= col("v_ts") &&
      col("c_ts") <= col("v_ts") + expr(s"INTERVAL $horizonMinutes MINUTES")
    if (joinType == "inner") c.join(v, cond)
    else v.join(c, cond, joinType)
  }

  /** Streaming exact-dedup on a key with bounded state: duplicates arriving
    * within the watermark horizon are dropped; state for keys older than
    * the watermark is evicted (unbounded-state dedup is the classic
    * streaming-pipeline OOM). The streaming twin of q17's content-hash
    * dedup — hash the normalized payload upstream, dedup on the digest. */
  def dedupStream(events: DataFrame, key: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(key)

  /** Chunk-level exact dedup at INGEST time — the streaming twin of the
    * batch boilerplate-removal pass (q77, `Documents.chunkDedup`): each
    * arriving `(doc_id, text, ts)` document fans out into its overlapping
    * context-window chunks map-side (`Documents.chunkFingerprints` — the
    * SAME 32-token/stride-16 geometry and portable 60-bit fingerprint as
    * the batch op, so batch and stream agree chunk-for-chunk), then only
    * the FIRST arrival of every fingerprint survives, with state bounded
    * by the watermark — [[dedupStream]]'s contract keyed on the chunk
    * fingerprint instead of the event id. At 100 TB of ingest the state
    * store holds (fp, latest-ts) longs for the watermark horizon only;
    * chunk text never enters state and never shuffles (the fan-out is at
    * the source, the dedup keys on the fingerprint). */
  def chunkDedupStream(docs: DataFrame): DataFrame =
    graft.operators.Documents.chunkFingerprints(docs)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("fp")

  /** Incremental retention-sketch maintenance — the streaming twin of q93
    * (VERDICT r10 item 7), composing the foreachBatch merge-sink pattern
    * with the mergeable KMV sketch table. Two standing tables under
    * `statePath`, both through the crash-safe writeAndSwap family:
    *
    *  - `first`:  (user_id, cohort) — each user's first active day,
    *    maintained MIN-merge (union + groupBy min), which is absorbing
    *    under replay and order-insensitive;
    *  - `sketch`: (cohort, day_offset, hashes) — the per-group KMV
    *    bottom-k table, each batch's sketch absorbed via
    *    [[graft.functions.KmvSketch.mergeTables]] (set-union-keep-k is
    *    absorbing, so checkpoint replay of an uncommitted batch is a
    *    no-op — the same effectively-once argument as [[mergeSink]]).
    *
    * Contract: feed batches in event-time order (a backfill partitioned
    * by day, or a tailing live feed). A user's cohort is the min day
    * seen SO FAR — an out-of-order batch revealing an EARLIER first day
    * corrects the cohort for future contributions but does not
    * re-attribute already-absorbed ones (doing so would require replaying
    * history, exactly what the sketch table exists to avoid); on an
    * in-order feed the final tables equal the one-shot batch q93
    * bit-for-bit, which StreamsSpec proves by folding day-split batches.
    *
    * Scale per batch: one min-merge shuffle proportional to users seen,
    * one sketch merge proportional to (cohorts × offsets × k) longs —
    * never the event history. */
  def retentionSketchSink(events: DataFrame, statePath: String,
                          checkpoint: String, k: Int = 64): StreamingQuery =
    batchSink(events, checkpoint, "b")(applyRetentionBatch(_, statePath, k, _))

  /** One batch of [[retentionSketchSink]]'s state update — factored out so
    * StreamsSpec can fold explicit in-order batches deterministically
    * (file-source listing order is a modification-time heuristic, not a
    * test contract) and assert bit-parity with batch q93. */
  private[graft] def applyRetentionBatch(batch: DataFrame, statePath: String,
                                         k: Int, token: String): Unit = {
    val s = batch.sparkSession
    val firstPath = s"$statePath/first"
    val sketchPath = s"$statePath/sketch"
    val act = batch.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val batchFirst = act.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort"))
    Merge.mergeSwap(batchFirst, firstPath, s"first-$token")(
      _.unionByName(batchFirst)
        .groupBy(col("user_id")).agg(min(col("cohort")).as("cohort")))
    val kmv = udaf(new graft.functions.KmvSketch.Agg(k))
    val batchSketch = act
      .join(s.read.parquet(firstPath), Seq("user_id"))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort")).cast("long"))
      .filter(col("day_offset").between(0, 7))
      .withColumn("h",
        graft.functions.Text.portableHash(col("user_id").cast("string")))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(kmv(col("h")).as("sk"))
      .select(col("cohort"), col("day_offset"), col("sk.hashes").as("hashes"))
    Merge.mergeSwap(batchSketch, sketchPath, s"sketch-$token")(
      graft.functions.KmvSketch.mergeTables(_, batchSketch,
        Seq("cohort", "day_offset"), "hashes", k))
  }

  /** Read [[retentionSketchSink]]'s standing sketch table in q93's output
    * shape (minus n_exact, which a sketch table deliberately does not
    * carry): kept-count, k-th minimum, KMV distinct estimate. */
  def retentionSketchState(s: SparkSession, statePath: String,
                           k: Int = 64): DataFrame = {
    val big = lit(1152921504606846976.0) // 2^60, the portable hash space
    s.read.parquet(s"$statePath/sketch")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"),
        size(col("hashes")).cast("long").as("n_kept"),
        try_element_at(col("hashes"), lit(k)).as("kth_min"))
      .withColumn("est",
        floor(lit(k - 1) * (big / col("kth_min"))).cast("long"))
  }

  /** Streaming maintenance of the q119 resample/forward-fill grid —
    * the resample ring's streaming face (VERDICT r13 item 5 / r14 item
    * 3; the only operator family that lacked one). Two standing tables
    * under the crash-safe swap protocol:
    *
    *  - `obs` LEDGER: per-batch [[graft.operators.Events.hourCollapse]]
    *    partials keyed by (user, hour, batch), APPENDED as new files
    *    (r16 — O(batch) written per batch, never O(ledger); the
    *    q82/bm25 index lifecycle) with FIRST-WINS replay absorption at
    *    read time — a checkpoint-replayed batch re-derives identical
    *    partials under the same token and dropDuplicates on the
    *    identity collapses them; [[compactGridLedger]] periodically
    *    rewrites the accumulated per-batch files user-clustered and
    *    garbage-collects the replay duplicates. Max-of-struct is
    *    associative and counts are sums over disjoint batches, so
    *    collapsing the ledger
    *    ([[graft.operators.Events.collapseObsPartials]]) equals the
    *    one-shot hour collapse of all events seen — for ANY batch split
    *    and arrival order, including late data. State is
    *    observation-bounded (one row per touched (user, hour, batch);
    *    day-split feeds touch each user-hour once), the same envelope
    *    the batch op's step 1 shuffles.
    *  - `grid` TABLE: maintained PER USER — grid rows are a pure
    *    per-user function of that user's observations, so each batch
    *    re-derives the fill for exactly its TOUCHED users from the
    *    updated ledger ([[graft.operators.Events.fillForward]], the
    *    same join-free explode-forward plan) and splices them over the
    *    standing rows via an anti-join, untouched users passing through
    *    byte-identical (the q92/q96 touched-keys pattern). Batch cost ∝
    *    the batch's user set and their grid spans, never corpus. Late
    *    data needs no special case: the late observation's user is
    *    touched, so their whole span re-fills exactly.
    *
    * By induction the grid equals batch q119 of every event seen after
    * every batch — StreamsSpec folds a day-split feed plus a replay and
    * an out-of-order late batch and asserts bit-for-bit parity. */
  def gridMaintSink(events: DataFrame, statePath: String,
                    checkpoint: String): StreamingQuery =
    batchSink(events, checkpoint, "b")(applyGridBatch(_, statePath, _))

  /** One grid-maintenance batch application — the directly-callable
    * core ([[applyRetentionBatch]]'s shape). `token` doubles as the
    * ledger's batch identity: replays MUST reuse the original token
    * ([[batchSink]] replays do — the salt and the batch id are stable
    * across restarts of one checkpoint). */
  private[graft] def applyGridBatch(batch: DataFrame, statePath: String,
                                    token: String): Unit = {
    import graft.operators.Events
    val s = batch.sparkSession
    val obsPath = s"$statePath/obs"
    val gridPath = s"$statePath/grid"
    val part = Events.hourCollapse(Events.gridEventProjection(batch))
      .withColumn("batch_id", lit(token))
      .withColumn("__obs_id",
        concat_ws(":", col("user_id"), col("hour_id"), col("batch_id")))
    // APPEND ledger (r16 — the q82/bm25 index lifecycle): the batch's
    // partials land as NEW files, O(batch) written per batch instead of
    // the read-merge-rewrite swap's O(ledger). Replay absorption moves
    // to the read side: a retried batch re-derives byte-identical
    // partials under the SAME token, so dropDuplicates on the (user,
    // hour, batch) identity collapses them (first-wins among identical
    // rows — any winner is the right one). A crash mid-append commits at
    // most a prefix of the batch's files; the retry re-appends the whole
    // batch and the same dedup absorbs the overlap. Periodic
    // [[compactGridLedger]] rewrites the accumulated small files and
    // garbage-collects replay duplicates for good.
    GridObsLedger.append(obsPath, part)
    val users = part.select(col("user_id")).distinct()
    val touched = Events.fillForward(Events.collapseObsPartials(
      Merge.readArtifact(s, obsPath)
        .join(users, Seq("user_id"), "left_semi")
        .dropDuplicates("__obs_id")))
    Merge.mergeSwap(touched, gridPath, s"grid-$token")(
      _.join(users, Seq("user_id"), "left_anti").unionByName(touched))
  }

  /** The maintained grid table (columns of q119's
    * `resampleGrid`). */
  def gridState(s: SparkSession, statePath: String): DataFrame =
    Merge.readArtifact(s, s"$statePath/grid")

  /** The grid's `obs` partials: user-clustered, full-row replay dedup. */
  val GridObsLedger = graft.etl.Ledger(clusterKey = "user_id")

  /** Compaction for the append-maintained observation ledger — the same
    * lifecycle closure as the search indexes (q82 prefix index, bm25):
    * N per-batch small files rewrite into size-targeted files clustered
    * on `user_id` (the read path's semi-join key), and full-row
    * duplicates from replayed appends are garbage-collected by the same
    * shuffle (replay partials are byte-identical, so full-row distinct
    * is exactly the read path's first-wins). Grid rows are untouched —
    * they are a pure function of the ledger's CONTENT, which compaction
    * preserves (StreamsSpec proves a post-compaction batch still splices
    * to the one-shot grid). Single-writer contract: run between batches,
    * like every offline GC here. */
  def compactGridLedger(s: SparkSession, statePath: String): (Int, Int) =
    GridObsLedger.compact(s, s"$statePath/obs")

  /** Streaming face of q128's substring dedup (VERDICT r16 #3) —
    * INGEST-TIME duplicate-span detection: per micro-batch, probe the
    * batch's documents against the standing gram ledger (everything
    * seen BEFORE this batch), append the batch's duplicate spans to
    * `outPath`, then append the batch's gram-count partials to the
    * ledger. The semantic is the streaming-dedup one (the q77-twin's):
    * a position is flagged iff its gram count over history + this
    * batch reaches 2 — the SECOND and later occurrences of a passage
    * flag as they arrive; the first occurrence is not retro-flagged
    * (that would mean rewriting already-published output; a standing
    * corpus re-probe against the final ledger recovers the retro spans
    * exactly, which StreamsSpec proves). Per batch the cost is q128's:
    * one batch scan + one count-index join, never a corpus re-tokenize;
    * ledger maintenance is the established append → first-wins →
    * [[graft.operators.Documents.compactGramLedger]] lifecycle. */
  def dupSpanSink(docs: DataFrame, statePath: String, outPath: String,
                  checkpoint: String,
                  K: Int = graft.operators.Documents.DupSpanK)
      : StreamingQuery =
    batchSink(docs, checkpoint, "b", markers = Seq(statePath))((b, token) =>
      applyDupSpanBatch(b, statePath, outPath, K, token))

  /** One ingest batch of [[dupSpanSink]] — the directly-callable core.
    * Replay-exact by construction: the probe reads the ledger WITH THIS
    * BATCH'S OWN ROWS EXCLUDED (`excludeBatch` — a crashed first attempt
    * may have appended the batch before the checkpoint committed, and a
    * replay probing its own counts would flag every position), so a
    * replay re-derives byte-identical span rows under the same token,
    * which the reader's full-row first-wins absorbs; the ledger append
    * is absorbed by the (gram, batch) first-wins as everywhere. Probe →
    * publish → append ordering means a crash at ANY point replays to
    * the same state. */
  private[graft] def applyDupSpanBatch(batch: DataFrame, statePath: String,
      outPath: String, K: Int, token: String): Unit = {
    import graft.operators.Documents
    val s = batch.sparkSession
    val idx =
      if (Merge.exists(s, statePath))
        Documents.gramLedgerCounts(s, statePath, excludeBatch = Some(token))
      else // first batch ever: empty index in the probe's (gram, n_idx) shape
        Documents.gramCounts(batch.limit(0), K)
    DupSpanLedger.append(outPath, Documents.dupSpanProbe(batch, idx, K), token)
    Documents.appendGramLedger(statePath, batch, K, token)
  }

  /** The published duplicate-span feed: full-row distinct absorbs a
    * replayed batch's byte-identical re-publish (the ledger-family
    * first-wins, applied to the output side). */
  def dupSpanFeed(s: SparkSession, outPath: String): DataFrame =
    DupSpanLedger.read(s, outPath)
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        col("n_tokens"), col("batch_id"))
      .orderBy(col("doc_id"), col("start_pos"))

  /** Compaction for the published span feed (VERDICT r17 item 3) — the
    * same lifecycle closure the gram ledger already has: every ingest
    * batch appends its spans as new small files, so the feed's file
    * population grows with batch count, not data size. Rewrite into
    * size-targeted files clustered on `doc_id` (the consumer's join/
    * filter key — a rewrite pass reads one doc's spans together), and
    * the shuffle's full-row distinct garbage-collects the byte-identical
    * rows a replayed batch re-published — PERMANENTLY doing what
    * [[dupSpanFeed]]'s dropDuplicates does per read. Crash-safe via the
    * shared writeAndSwap; single-writer (between batches), like every
    * offline GC here. */
  def compactDupSpanFeed(s: SparkSession, outPath: String): (Int, Int) =
    DupSpanLedger.compact(s, outPath)

  /** The published span feed: doc-clustered, full-row replay dedup. */
  val DupSpanLedger = graft.etl.Ledger(clusterKey = "doc_id")

  // ── tokenizer-drift sink: the q131 statistic per ingest micro-batch ─────
  /** Streaming face of the TOKENIZER lifecycle (VERDICT r17 missing #3)
    * — the last drift family whose consumer couldn't run at ingest time.
    * Per micro-batch: encode the batch's words under the FROZEN type
    * segmentation (a READ of the standing q130 artifact — the sink never
    * trains; an absent artifact is a deployment-order error and fails
    * loudly) and append ONE drift row to a ledger keyed by batch id:
    * (batch_id, n_words, n_tokens, n_unseen, n_chars,
    * chars_per_token_bp, unseen_bp) — q131's batch-side row, integer
    * basis points. Idempotence is the ledger discipline shared with
    * [[applyRetentionBatch]]/`appendGramLedger`: a checkpoint-replayed
    * batch re-derives a byte-identical row under the same batch_id and
    * the reader collapses first-wins, so a crash at any point changes
    * no published statistic. Drift checks are naturally PERIODIC, not
    * per-row: the ledger IS the time series a scheduler thresholds —
    * rising unseen_bp / falling chars_per_token_bp across batch rows is
    * the retrain signal, and [[graft.operators.Documents
    * .bpeRefreshIfDrifted]] is the action half.
    *
    * Cost per batch: one batch-side word fan-out, one broadcast join
    * against the (type-bounded) segmentation table, one single-row
    * aggregate, one O(1)-row append — no corpus pass, no state table,
    * no shuffle beyond the 1-row partial. */
  def bpeDriftSink(docs: DataFrame, typesPath: String, ledgerPath: String,
                   checkpoint: String): StreamingQuery =
    batchSink(docs, checkpoint, "b")(
      applyBpeDriftBatch(_, typesPath, ledgerPath, _))

  /** One batch of [[bpeDriftSink]] — factored so StreamsSpec can fold
    * explicit in-order batches and assert parity with q131's batch-side
    * row on the same documents. */
  private[graft] def applyBpeDriftBatch(batch: DataFrame, typesPath: String,
                                        ledgerPath: String,
                                        batchId: String): Unit = {
    // scoring is Documents' own q131 core (code-review r18: this used to
    // inline the decode/fallback/aggregate exprs — one copy now); an
    // empty batch groups to zero rows, so it publishes no stat row
    BpeDriftLedger.append(ledgerPath, graft.operators.Documents.bpeStatRow(
        graft.operators.Documents.bpeEncodeStats(
          batch.select(
            explode(graft.functions.Text.toWords(col("text"))).as("w")),
          Merge.readArtifact(batch.sparkSession, typesPath)),
        lit(batchId), "batch_id"))
  }

  /** One q131 row per batch, first-wins on batch_id. */
  val BpeDriftLedger = graft.etl.Ledger(clusterKey = "batch_id",
    sums = Seq("n_words", "n_tokens", "n_unseen", "chars_per_token_bp",
      "unseen_bp"))

  /** Arrival-order sort key for string batch ids: plain lexicographic
    * ordering breaks at 10+ batches ("10" < "2", "b10" < "b2"); under
    * (length, value) decimal ids — bare or with a constant prefix — sort
    * numerically, so within one checkpoint the feeds below really are
    * the time series their consumers threshold ([[batchSink]]'s
    * `<prefix>-<salt>-<batchId>` has a constant-length prefix).
    *
    * Between two checkpoints there is no arrival order: their tokens
    * differ in the salt, a hash of the checkpoint path, so one stream's
    * batches sort wholly before or after the other's whatever the
    * order they landed in. Both streams' rows are in the feed; ordering
    * them needs an arrival-order key in the ledger. */
  private def batchIdOrder: Seq[Column] =
    Seq(length(col("batch_id")).asc, col("batch_id").asc)

  /** A per-batch ledger as its consumer reads it: first-wins on
    * (batch_id, rowKey) — a replayed batch's rows are byte-identical, so
    * the min over the sums struct is exact — ordered by arrival, then by
    * rowKey. */
  private def feed(l: graft.etl.Ledger, s: SparkSession,
                   path: String): DataFrame =
    l.read(s, path)
      .select((("batch_id" +: l.rowKey) ++ l.sums).map(col): _*)
      .orderBy(batchIdOrder ++ l.rowKey.map(col): _*)

  /** The drift ledger, first-wins on batch_id, as a time series. */
  def bpeDriftFeed(s: SparkSession, ledgerPath: String): DataFrame =
    feed(BpeDriftLedger, s, ledgerPath)

  // ── classifier-drift sink: the q135 statistic per ingest micro-batch ────
  /** The q134/q135 supervised classifier's streaming face — with this,
    * EVERY drift family's consumer runs at ingest time (LM q88 via its
    * batch query, tabular q114, centroid q89, tokenizer [[bpeDriftSink]],
    * classifier this). Per micro-batch: score the batch's word
    * occurrences under the FROZEN single-table NB artifact (a read — the
    * sink never trains) and append q135's row keyed by batch id:
    * (batch_id, n_occ, n_oov, oov_bp, prior_bp, batch_mean_bp,
    * shift_bp), integer basis points. Same ledger discipline as
    * [[bpeDriftSink]]: byte-identical replay rows, first-wins feed.
    * Rising oov_bp or a widening shift_bp across rows is the retrain
    * signal; [[graft.operators.Documents.nbRefreshIfDrifted]] is the
    * action half. Cost per batch: word fan-out + one broadcast join +
    * one single-row aggregate + an O(1) append. */
  def nbDriftSink(docs: DataFrame, modelPath: String, ledgerPath: String,
                  checkpoint: String): StreamingQuery =
    batchSink(docs, checkpoint, "b")(
      applyNbDriftBatch(_, modelPath, ledgerPath, _))

  /** One batch of [[nbDriftSink]] — factored so StreamsSpec can fold
    * explicit batches and assert parity with q135's batch-side row. */
  private[graft] def applyNbDriftBatch(batch: DataFrame, modelPath: String,
                                       ledgerPath: String,
                                       batchId: String): Unit = {
    val model = Merge.readArtifact(batch.sparkSession, modelPath)
    NbDriftLedger.append(ledgerPath,
      graft.operators.Documents.nbDriftRow(batch, model)
        .select(lit(batchId).as("batch_id") +: NbDriftLedger.sums.map(col): _*)
        .filter(col("n_occ") > 0)) // an empty batch publishes no stat row
  }

  /** One q135 row per batch, first-wins on batch_id. */
  val NbDriftLedger = graft.etl.Ledger(clusterKey = "batch_id",
    sums = Seq("n_occ", "n_oov", "oov_bp", "prior_bp", "batch_mean_bp",
      "shift_bp"))

  /** The classifier-drift ledger, first-wins on batch_id. */
  def nbDriftFeed(s: SparkSession, ledgerPath: String): DataFrame =
    feed(NbDriftLedger, s, ledgerPath)

  // ── shard-manifest sink: q139's export at ingest grain ──────────────────
  /** The q139 shard export's streaming face. A corpus-GLOBAL hash order
    * is not append-stable — one new document lands anywhere in the order
    * and renumbers every downstream shard — which is exactly why
    * production pipelines shard PER INGEST SNAPSHOT: each micro-batch is
    * packed on its own (deterministic hash order within the batch,
    * q139's contiguous-cut rule), and its manifest rows append to a
    * ledger keyed by (batch_id, shard). Published shards are immutable
    * from birth; the one-shot [[graft.operators.Documents.shardExport]]
    * remains the full-corpus re-export (a re-shuffle epoch), this sink
    * is the between-epochs arrival path. Idempotence is the ledger
    * discipline: a checkpoint-replayed batch re-packs to byte-identical
    * manifest rows under the same key and the feed's first-wins collapse
    * absorbs them. Cost per batch: one batch-sized range shuffle + the
    * O(P) offset pass from `globalCumsum` — never a corpus pass. */
  def shardManifestSink(docs: DataFrame, ledgerPath: String,
                        checkpoint: String): StreamingQuery =
    batchSink(docs, checkpoint, "b")(applyShardBatch(_, ledgerPath, _))

  /** One batch of [[shardManifestSink]] — factored so StreamsSpec can
    * fold explicit batches and assert parity with the batch-side
    * [[graft.operators.Documents.shardManifest]]. */
  private[graft] def applyShardBatch(batch: DataFrame, ledgerPath: String,
                                     batchId: String): Unit = {
    ShardLedger.append(ledgerPath, graft.operators.Documents.shardManifest(
        batch.select(col("doc_id"),
          graft.functions.Text.portableHash(col("doc_id").cast("string"))
            .as("h"),
          size(graft.functions.Text.toWords(col("text"))).cast("long")
            .as("n_tokens")))
      .select(lit(batchId).as("batch_id"), col("shard"), col("n_docs"),
        col("sum_tokens"), col("first_h"), col("last_h")))
  }

  /** Manifest rows keyed by (batch_id, shard), first-wins; compaction
    * clusters on the consumer's key. */
  val ShardLedger = graft.etl.Ledger(clusterKey = "batch_id",
    rowKey = Seq("shard"), sums = Seq("n_docs", "sum_tokens", "first_h",
      "last_h"))

  /** The manifest ledger as a training job reads it: first-wins on
    * (batch_id, shard), ordered by arrival then shard. */
  def shardManifestFeed(s: SparkSession, ledgerPath: String): DataFrame =
    feed(ShardLedger, s, ledgerPath)

  // ── IVF ingest sink: q141's arrival path as a stream ────────────────────
  /** The q141 incremental IVF ingest driven by Structured Streaming:
    * per micro-batch, append the batch's vectors into the standing
    * cell-partitioned postings table
    * ([[graft.operators.Similarity.appendIvfBatch]] — assignment under
    * the frozen quantizer is per-vector-independent, so arrival IS
    * indexing; the sink never trains). Idempotence is the postings
    * contract: a checkpoint-replayed batch re-appends byte-identical
    * rows under the same batch token, the probe dedups them at pair
    * grain, and [[graft.operators.Similarity.compactIvfPostings]] GCs
    * them permanently on the usual cadence. Expects (vec_id, label, v,
    * nrm) rows — i.e. the normalized corpus shape; the batch is
    * immediately searchable by any q141-style probe. */
  def ivfIngestSink(vecs: DataFrame, postPath: String,
                    checkpoint: String): StreamingQuery =
    batchSink(vecs, checkpoint, "b")(
      graft.operators.Similarity.appendIvfBatch(postPath, _, _))

  // ── takedown sink: the q144 retraction verb's streaming face ────────────
  /** Takedown/right-to-be-forgotten events arriving as a STREAM of
    * (doc_id, text) rows, each micro-batch retracted through the BM25
    * index triple ([[graft.operators.Documents.retractBm25]]): tombstones
    * first (serving stops at the batch boundary even if the statistics
    * retraction crashes mid-way), then the negative df/stats partials.
    * Idempotence is the retraction contract itself: a checkpoint-replayed
    * batch re-derives byte-identical tombstones (distinct-absorbed) and
    * negative partials (first-wins on the batch token), so replay can
    * never double-forget. Empty micro-batches (idle ticks) retract
    * nothing — the r18 empty-batch lesson applied at the sink boundary.
    * Physical deletion stays on the compaction cadence
    * ([[graft.operators.Documents.compactBm25Retract]]), exactly like
    * the batch verb. */
  def bm25RetractSink(docs: DataFrame, idxPath: String, statsPath: String,
      dfPath: String, delPath: String,
      checkpoint: String): StreamingQuery =
    batchSink(docs, checkpoint, "rm")((b, id) =>
      graft.operators.Documents.retractBm25(idxPath, statsPath, dfPath,
        delPath, b, id))

  /** The one path from a micro-batch to storage: every sink above and
    * below is `batchSink(rows, checkpoint, prefix, markers)` plus the
    * apply its micro-batch calls. Append output, the checkpoint, an
    * AvailableNow trigger (drain what is there, then stop); empty idle
    * ticks apply nothing, and a checkpoint-replayed batch re-derives
    * byte-identical rows under the same token, which the target's own
    * absorption (first-wins merge, tombstone distinct, first-wins
    * partials) makes a no-op.
    *
    * The batch token `<prefix>-<salt>-<batchId>` is SALTED with a hash
    * of the checkpoint path (ADVICE r19): Structured Streaming's batchId
    * restarts at 0 for every fresh checkpoint, so a bare batch-id token
    * was reused when a SECOND stream (new checkpoint, same ledger)
    * started — and the ledgers' (key, batch_id) first-wins absorption
    * then silently dropped one wave's rows. Replay safety is preserved:
    * a restart of the SAME checkpoint re-derives the same salt and the
    * same batchId, so the replayed rows still absorb.
    *
    * `markers`: ledger paths to stamp with a `.batches/<token>` commit
    * marker AFTER the apply returns (ADVICE r19): without it the net
    * compactions ([[graft.etl.Ledger.compactNet]]) treat every stream-fed
    * batch as in-flight forever. Writing the marker after the apply is
    * the [[graft.etl.Ring.fold]] crash argument verbatim:
    * a death before the marker replays the batch in full from the
    * checkpoint and the ledger's first-wins absorption collapses the
    * crashed attempt's rows. */
  private def batchSink(rows: DataFrame, checkpoint: String, prefix: String,
      markers: Seq[String] = Nil)(
      apply: (DataFrame, String) => Unit): StreamingQuery = {
    // String.hashCode is specified (stable across JVMs/restarts)
    val salt = f"${checkpoint.hashCode & 0xffffff}%06x"
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val token = s"$prefix-$salt-$batchId"
          apply(batch.toDF(), token)
          markers.foreach(Merge.markBatch(batch.sparkSession, _, token))
        }
      }
      .start()
  }

  /** q149's takedown verb as a stream: (vec_id) rows tombstone the
    * cell-partitioned IVF postings — probes stop serving the vectors at
    * the micro-batch boundary; physical deletion stays on
    * the compaction cadence ([[graft.etl.Ledger.compact]] with `del`). */
  def ivfRetractSink(vecIds: DataFrame, postPath: String, delPath: String,
                     checkpoint: String): StreamingQuery =
    batchSink(vecIds, checkpoint, "rm")((b, id) =>
      graft.operators.Similarity.IvfLedger.tombstone(postPath, delPath,
        b.select(col("vec_id")), id))

  /** q150's takedown verb as a stream: (doc_id) rows tombstone the
    * perceptual-hash ledger; the election re-runs among survivors with
    * zero decodes. */
  def phashRetractSink(ids: DataFrame, ledgerPath: String, delPath: String,
                       checkpoint: String): StreamingQuery =
    batchSink(ids, checkpoint, "rm")((b, id) =>
      graft.multimodal.Media.PhashLedger.tombstone(ledgerPath, delPath,
        b.select(col("doc_id")), id))

  /** q153's takedown verb as a stream — the audio-fp ledger's tombstone
    * face, decode-free like the batch verb. */
  def audioRetractSink(ids: DataFrame, ledgerPath: String, delPath: String,
                       checkpoint: String): StreamingQuery =
    batchSink(ids, checkpoint, "rm")((b, id) =>
      graft.multimodal.Media.AudioFpLedger.tombstone(ledgerPath, delPath,
        b.select(col("doc_id")), id))

  /** q151's takedown verb as a stream: (doc_id, text) rows land as
    * negative gram-count partials — the ledger nets them out, so a
    * fully-retracted gram stops flagging spans at the batch boundary. */
  def gramRetractSink(docs: DataFrame, ledgerPath: String, k: Int,
                      checkpoint: String): StreamingQuery =
    batchSink(docs, checkpoint, "rm", markers = Seq(ledgerPath))((b, id) =>
      graft.operators.Documents.retractGramBatch(ledgerPath, b, k, id))

  /** q145's takedown verb as a stream: labeled (doc_id, text, y) rows
    * land as negative NB count partials; the served model nets per term
    * and drops zero-net terms to OOV-prior backoff. */
  def nbRetractSink(docs: DataFrame, ledgerPath: String,
                    checkpoint: String): StreamingQuery =
    batchSink(docs, checkpoint, "rm", markers = Seq(ledgerPath))((b, id) =>
      graft.operators.Documents.retractNbBatch(ledgerPath, b, id))

  /** One click-matched view awaiting its click's purchase horizon. */
  case class FunnelAwait(viewUs: Long, clickUs: Long)
  /** Per-user funnel state: views awaiting a click; click-matched views
    * awaiting a purchase. Both lists are bounded by the events one user
    * emits inside a horizon — a click flushes ALL pending views and a
    * purchase flushes ALL awaiting pairs, so state never accumulates
    * across horizons. */
  case class FunnelState(views: List[Long], await: List[FunnelAwait])
  /** One resolved view: did it click within the horizon, and did that
    * click purchase within its own horizon. */
  case class FunnelHit(user_id: Long, view_us: Long,
                       clicked: Boolean, purchased: Boolean)

  /** Streaming funnel — the continuous twin of q84 (VERDICT r10 item 7):
    * per view, the same user's first click within `clickHorizonMin`, then
    * a purchase within `purchaseHorizonMin` OF THAT CLICK, emitted as one
    * resolved row per view. Where the batch form runs two reversed as-of
    * window passes over history, the streaming form keeps per-user
    * PENDING state and resolves forward: a view waits for a click (the
    * first click at/after it is by construction the earliest — events
    * process in event-time order within a user); a click promotes every
    * still-valid pending view into its purchase horizon; a purchase
    * resolves every still-valid awaiting pair. Horizon ties are INCLUSIVE
    * (expiry is strictly-before, so a click landing exactly at
    * view+horizon still matches — q84's `<=` semantics), and same-ts
    * stage ties process view → click → purchase, matching the batch
    * DESC-scan tiebreak. Unresolved entries expire by event-time timeout
    * once the watermark passes their deadline, emitting the
    * clicked=false / purchased=false rows an attribution report needs
    * (the q65-outer argument: inner matching silently drops them).
    *
    * State per user is O(events within one horizon) — a click/purchase
    * FLUSHES the lists, and the timeout evicts stragglers — so total
    * state is bounded by horizon × event rate, not stream length: the
    * property that survives at 100 TB/day. Contract shared with
    * [[statefulSessions]]: within a micro-batch events sort by event
    * time; across batches feed in event-time order (late events beyond
    * the watermark are dropped by the framework). */
  def statefulFunnel(events: DataFrame, clickHorizonMin: Int = 30,
                     purchaseHorizonMin: Int = 120): DataFrame = {
    import events.sparkSession.implicits._
    val clickHz = clickHorizonMin.toLong * 60L * 1000000L
    val purchHz = purchaseHorizonMin.toLong * 60L * 1000000L
    val prio = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    events
      .withWatermark("ts", "2 hours")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp],
        col("event_type").as[String])
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rowsIn: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[FunnelState]) =>
          val out = List.newBuilder[FunnelHit]
          // expire entries whose deadline is strictly before `nowUs`
          // (inclusive horizons: deadline == now can still match)
          def expire(st: FunnelState, nowUs: Long): FunnelState = {
            val (deadV, liveV) = st.views.partition(_ + clickHz < nowUs)
            deadV.foreach(v => out += FunnelHit(uid, v, false, false))
            val (deadA, liveA) =
              st.await.partition(_.clickUs + purchHz < nowUs)
            deadA.foreach(a => out += FunnelHit(uid, a.viewUs, true, false))
            FunnelState(liveV, liveA)
          }
          def finish(st: FunnelState): Iterator[FunnelHit] = {
            val deadlines = st.views.map(_ + clickHz) ++
              st.await.map(_.clickUs + purchHz)
            if (deadlines.isEmpty) state.remove()
            else {
              state.update(st)
              // must be strictly beyond the watermark or Spark rejects it
              state.setTimeoutTimestamp(math.max(deadlines.min / 1000L,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
          if (state.hasTimedOut) {
            finish(expire(state.get, state.getCurrentWatermarkMs() * 1000L))
          } else {
            val evs = rowsIn.map { case (_, t, tpe) =>
              (t.getTime * 1000L + (t.getNanos / 1000) % 1000L, prio(tpe))
            }.toArray.sortBy(e => (e._1, e._2))
            var st = state.getOption.getOrElse(FunnelState(Nil, Nil))
            evs.foreach { case (t, p) =>
              st = expire(st, t)
              p match {
                case 0 => st = FunnelState(st.views :+ t, st.await)
                case 1 => st = FunnelState(Nil,
                  st.await ++ st.views.map(FunnelAwait(_, t)))
                case 2 =>
                  st.await.foreach(a =>
                    out += FunnelHit(uid, a.viewUs, true, true))
                  st = FunnelState(st.views, Nil)
              }
            }
            finish(st)
          }
      }
      .toDF()
  }

  /** Per-user session state for [[statefulSessions]]. */
  case class SessionAgg(userId: Long, start: Long, lastTs: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Long, n_events: Long)

  /** Open-session event buffer for [[statefulSessionPaths]]: the FIRST
    * [[graft.operators.Events.SessionPathCap]] events of the ONE open
    * session, kept sorted by (us, event_id) — r12: HARD-bounded by the
    * cap (the batch q98 contract), never by input behavior; `nTotal`
    * and `maxUs` track the full session so truncation loses neither the
    * count (it rides the path marker) nor the gap/timeout clock.
    *
    * STATE-SCHEMA BREAK (r12, flagged by ADVICE): adding `nTotal`/`maxUs`
    * changed the flatMapGroupsWithState state encoder layout, so a
    * deployed stream CANNOT restart from a pre-r12 checkpoint — Spark's
    * state-store schema check fails (or, with checks disabled, misdecodes
    * buffered open-session state). Operational contract: upgrading
    * across this boundary requires a NEW checkpoint directory; in-flight
    * open sessions re-accumulate from the replayed source (the sink is
    * the idempotent first-wins merge, so the replay is absorbing). The
    * same contract applies to any future field change here — widen via a
    * new versioned case class decoded from the old layout only if
    * cross-version checkpoint continuity ever becomes a requirement. */
  case class PathAgg(userId: Long, evs: Vector[(Long, Long, String)],
                     nTotal: Long, maxUs: Long)
  case class PathOut(user_id: Long, session_start: Long, path: String)

  /** q98's streaming twin — per-user session PATHS via
    * `flatMapGroupsWithState` (the [[statefulSessions]] pattern with the
    * event-type sequence riding in the state): each closed session emits
    * its '>'-joined event-type string, ordered by (ts, event_id) exactly
    * like the batch [[graft.operators.Events.sessionPathFrame]], whose
    * q98 rollup a downstream foreachBatch can then maintain
    * incrementally. Boundary semantics are the pinned inclusive merge
    * (an event at exactly lastTs + gap joins). Within a micro-batch
    * events sort before folding; ACROSS batches a late event that still
    * belongs to the open session splices into the buffer (the sorted
    * insert), so in-watermark disorder inside an open session cannot
    * corrupt the path — only the session-split decision assumes batches
    * arrive in event-time order, the same contract statefulSessions and
    * the funnel document. State is the open session's events only:
    * bounded by session length × row width, flushed on every close. */
  def statefulSessionPaths(events: DataFrame, gapMinutes: Int): DataFrame = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val cap = graft.operators.Events.SessionPathCap
    def pathOf(a: PathAgg): PathOut =
      PathOut(a.userId, a.evs.head._1, a.evs.map(_._3).mkString(">") +
        (if (a.nTotal > cap) ">...+" + (a.nTotal - cap) else ""))
    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp],
        col("event_id").as[Long], col("event_type").as[String])
      .groupByKey(_._1)
      .flatMapGroupsWithState[PathAgg, PathOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long,
         rowsIn: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[PathAgg]) =>
          if (state.hasTimedOut) {
            val agg = state.get
            state.remove()
            Iterator(pathOf(agg))
          } else {
            val sorted = rowsIn.map { case (_, t, id, et) =>
              (t.getTime * 1000L + (t.getNanos / 1000) % 1000L, id, et)
            }.toArray.sortBy(e => (e._1, e._2))
            var agg = state.getOption.orNull
            val out = Seq.newBuilder[PathOut]
            sorted.foreach { case ev @ (us, _, _) =>
              agg match {
                case null =>
                  agg = PathAgg(userId, Vector(ev), 1L, us)
                case a if us - a.maxUs <= gapUs =>
                  // in-session: sorted splice (a late in-watermark event
                  // may land BEFORE buffered ones), then re-trim to the
                  // cap — the kept prefix stays exactly the first `cap`
                  // events by (us, event_id) under any arrival order
                  val idx = a.evs.indexWhere(b =>
                    b._1 > us || (b._1 == us && b._2 > ev._2))
                  val spliced =
                    if (idx < 0) a.evs :+ ev
                    else (a.evs.take(idx) :+ ev) ++ a.evs.drop(idx)
                  agg = a.copy(evs = spliced.take(cap),
                    nTotal = a.nTotal + 1L, maxUs = math.max(a.maxUs, us))
                case a =>
                  out += pathOf(a)
                  agg = PathAgg(userId, Vector(ev), 1L, us)
              }
            }
            state.update(agg)
            state.setTimeoutTimestamp(
              agg.maxUs / 1000L + gapMinutes * 60L * 1000L)
            out.result().iterator
          }
      }
      .toDF()
  }

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * hand-rolled form of `session_window` for when per-group logic outgrows
    * declarative aggregation (SURVEY §2 absent-categories: stateful ops).
    * Emits a session when a gap > gapMinutes closes it; event-time timeout
    * flushes the open session once the watermark passes. */
  def statefulSessions(events: DataFrame, gapMinutes: Int): DataFrame = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      // keep the watermark-tagged `ts` column itself through the typed
      // boundary — projecting it away would drop the watermark and
      // event-time timeout requires one
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAgg, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rowsIn: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionAgg]) =>
          val rows = rowsIn.map { case (u, t) =>
            (u, t.getTime * 1000L + (t.getNanos / 1000) % 1000L)
          }
          if (state.hasTimedOut) {
            val agg = state.get
            state.remove()
            Iterator(SessionOut(agg.userId, agg.start, agg.n))
          } else {
            // micro-batch iterators are unordered: sort this batch's events
            val sorted = rows.map(_._2).toArray.sorted
            var agg = state.getOption.orNull
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { ts =>
              agg match {
                case null =>
                  agg = SessionAgg(userId, ts, ts, 1)
                // inclusive boundary: an event at exactly lastTs + gap
                // JOINS the session — session_window's touch-merge
                // semantic, pinned by EventsSpec's boundary corpus
                case a if ts - a.lastTs <= gapUs =>
                  agg = a.copy(lastTs = ts, n = a.n + 1)
                case a =>
                  out += SessionOut(a.userId, a.start, a.n)
                  agg = SessionAgg(userId, ts, ts, 1)
              }
            }
            state.update(agg)
            state.setTimeoutTimestamp(agg.lastTs / 1000L + gapMinutes * 60L * 1000L)
            out.result().iterator
          }
      }
      .toDF()
  }
}
