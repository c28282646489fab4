package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, Tables}
import graft.etl.Merge

/** Lifecycle contract of the q99 posting index (the q82 maintenance story
  * applied to text retrieval): an append-maintained index answers probes
  * identically to a from-scratch build, a replayed append is absorbed by
  * the probe's duplicate collapse, and compaction shrinks the file
  * population without changing a single probe row. */
class InvertedIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val terms = Seq("hash", "join", "scan")

  private def rows(df: DataFrame): Seq[(Long, Long)] = {
    import spark.implicits._
    df.as[(Long, Long)].collect().toSeq.sorted
  }

  test("append-maintained postings: probe == from-scratch; replayed append " +
       "absorbs; compaction shrinks files, changes nothing") {
    val docs = Tables.documents(spark, sfDir)
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-postings").toString + "/idx"

    Merge.writeAndSwap(Documents.postings(standing), path, "build")
    Documents.appendPostings(path, batch)
    Documents.appendPostings(path, batch) // replayed append: duplicates only

    val expect = rows(Documents.searchIndex(
      Documents.postings(docs), terms, 1000))
    assert(expect.nonEmpty, "probe terms missing from the corpus")
    assert(rows(Documents.searchIndex(
      spark.read.parquet(path), terms, 1000)) === expect,
      "appended index probe != from-scratch probe")

    val (before, after) = Documents.TermLedger.compact(spark, path)
    assert(after < before,
      s"compaction did not shrink the file population ($before -> $after)")
    assert(rows(Documents.searchIndex(
      spark.read.parquet(path), terms, 1000)) === expect,
      "compaction changed probe results")
  }

  test("BM25 ranking: idf downweights ubiquitous terms, length " +
       "normalization favors the shorter doc at equal tf, and a replayed " +
       "append never changes a score") {
    import spark.implicits._
    // corpus: term "rare" in 1 of 4 docs, "common" in 3 (df = n would
    // give idf = ln(1) = 0 under the (N+1)/(df+1) smoothing).
    // doc 1 (short) and doc 2 (long) both have tf(common)=1.
    val idx = Seq(
      (1L, "common", 1L, 5L),   // (doc, term, tf, dl)
      (2L, "common", 1L, 50L),
      (3L, "common", 2L, 10L),
      (4L, "rare",   1L, 10L)
    ).toDF("doc_id", "term", "tf", "dl")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val stats = Seq((4L, 75L)).toDF("n_docs", "total_tokens")
    val s1 = Documents.bm25Probe(idx, stats, Seq("common", "rare"), 10)
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, s) => d -> (n, s) }.toMap
    // doc 4 carries the rare term: idf must put it on top
    assert(s1(4L)._2 > s1(3L)._2 && s1(4L)._2 > s1(1L)._2,
      s"rare-term doc not ranked first: $s1")
    assert(s1(4L)._1 === 1L && s1(1L)._1 === 1L)
    // equal tf, shorter doc scores higher (b > 0 length normalization)
    assert(s1(1L)._2 > s1(2L)._2,
      s"length normalization missing: $s1")
    // a replayed append (duplicate posting rows) is absorbed by the probe
    val replayed = idx.unionByName(idx)
    val s2 = Documents.bm25Probe(replayed, stats, Seq("common", "rare"), 10)
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, s) => d -> (n, s) }.toMap
    assert(s2 === s1, "replayed append changed BM25 scores")
  }

  test("append-maintained BM25 index (r15 lifecycle parity with q99): " +
       "probe == from-scratch, replay absorbs on BOTH halves (postings " +
       "dedup + stats ledger first-wins), compaction changes nothing") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25").toString
    val idx = s"$dir/bm25"
    val stats = s"$dir/bm25stats"
    val dfLed = s"$dir/bm25df"

    Merge.writeAndSwap(Documents.bm25Postings(standing), idx, "build")
    Merge.writeAndSwap(Documents.bm25StatsLedger(standing, "build"),
      stats, "build")
    Merge.writeAndSwap(Documents.bm25DfLedger(standing, "build"),
      dfLed, "build")
    Documents.appendBm25(idx, stats, dfLed, batch, "b1")
    Documents.appendBm25(idx, stats, dfLed, batch, "b1") // replayed batch id

    def probe(i: DataFrame, l: DataFrame): Seq[(Long, Long, Long)] =
      Documents.bm25Probe(i, Documents.bm25StatsTotal(l), terms, 1000)
        .as[(Long, Long, Long)].collect().toSeq.sorted

    val expect = probe(Documents.bm25Postings(docs),
      Documents.bm25StatsLedger(docs, "oneshot"))
    assert(expect.nonEmpty, "probe terms missing from the corpus")
    assert(probe(spark.read.parquet(idx), spark.read.parquet(stats))
      === expect, "appended BM25 probe != from-scratch probe")
    // the stats half absorbed the replay EXACTLY (a naive += would have
    // double-counted the batch's docs and tokens, shifting every score)
    val total = Documents.bm25StatsTotal(spark.read.parquet(stats))
      .as[(Long, Long)].head()
    val oneshot = Documents.bm25StatsTotal(
      Documents.bm25StatsLedger(docs, "x")).as[(Long, Long)].head()
    assert(total === oneshot,
      s"replayed ledger row double-counted: $total != $oneshot")
    // df ledger (r18, VERDICT r17 item 1): append ≡ rebuild — the
    // per-term totals over build + appended batch (replay included)
    // must equal a one-shot df over the whole corpus, for EVERY term
    def dfRows(l: DataFrame): Seq[(String, Long)] =
      Documents.bm25DfTotal(l).as[(String, Long)].collect().toSeq.sorted
    val dfExpect = dfRows(Documents.bm25DfLedger(docs, "oneshot"))
    assert(dfRows(spark.read.parquet(dfLed)) === dfExpect,
      "appended df ledger != from-scratch df")
    // and compaction of the df ledger (term-clustered, replay rows
    // GC'd) must not change a single total
    val (dfB, dfA) = Documents.Bm25DfLedger.compact(spark, dfLed)
    assert(dfA < dfB,
      s"df compaction did not shrink the file population ($dfB -> $dfA)")
    assert(dfRows(spark.read.parquet(dfLed)) === dfExpect,
      "df compaction changed per-term totals")

    val (before, after) = Documents.TermLedger.compact(spark, idx)
    assert(after < before,
      s"compaction did not shrink the file population ($before -> $after)")
    assert(probe(spark.read.parquet(idx), spark.read.parquet(stats))
      === expect, "compaction changed BM25 probe results")
  }

  test("TAKEDOWN retraction (q144): fold(appends + retract) probes " +
       "identically to a one-shot build on the REDUCED corpus; a " +
       "replayed retraction absorbs on all three artifacts; retraction " +
       "compaction physically drops the tombstoned rows") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val removed = docs.filter(col("doc_id") % 7 === 0)
    val reduced = docs.filter(col("doc_id") % 7 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25r").toString
    val (idx, stats, dfLed, del) =
      (s"$dir/post", s"$dir/stats", s"$dir/df", s"$dir/del")
    Documents.appendBm25(idx, stats, dfLed,
      docs.filter(col("doc_id") % 2 === 0), "b0")
    Documents.appendBm25(idx, stats, dfLed,
      docs.filter(col("doc_id") % 2 === 1), "b1")
    Documents.retractBm25(idx, stats, dfLed, del, removed, "rm0")
    Documents.retractBm25(idx, stats, dfLed, del, removed, "rm0") // replay

    def netProbe(): Seq[(Long, Long, Long)] =
      Documents.bm25ProbeNet(spark.read.parquet(idx),
          Documents.readBm25Tombstones(spark, del),
          spark.read.parquet(dfLed),
          Documents.bm25StatsTotal(spark.read.parquet(stats)), terms, 1000)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val expect = Documents.bm25Probe(Documents.bm25Postings(reduced),
        Documents.bm25StatsTotal(
          Documents.bm25StatsLedger(reduced, "oneshot")), terms, 1000)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(expect.nonEmpty, "probe terms missing from the reduced corpus")
    assert(netProbe() === expect,
      "retracted probe != one-shot probe on the reduced corpus")
    // stats netted exactly despite the replayed retraction id
    val total = Documents.bm25StatsTotal(spark.read.parquet(stats))
      .as[(Long, Long)].head()
    val oneshot = Documents.bm25StatsTotal(
      Documents.bm25StatsLedger(reduced, "x")).as[(Long, Long)].head()
    assert(total === oneshot,
      s"stats did not net to the reduced corpus: $total != $oneshot")
    // df netted exactly, for EVERY term (zero-net terms drop to 0)
    val dfNet = Documents.bm25DfTotal(spark.read.parquet(dfLed))
      .filter(col("df") > 0).as[(String, Long)].collect().toSeq.sorted
    val dfExpect = Documents.bm25DfTotal(
        Documents.bm25DfLedger(reduced, "oneshot"))
      .as[(String, Long)].collect().toSeq.sorted
    assert(dfNet === dfExpect, "df ledger did not net to the reduced df")
    // compaction PHYSICALLY drops the tombstoned docs' posting rows
    val (b, a) = Documents.compactBm25Retract(spark, idx, del)
    assert(a <= b, s"retraction compaction grew the file count ($b -> $a)")
    val ghost = spark.read.parquet(idx)
      .join(Documents.readBm25Tombstones(spark, del), Seq("doc_id"))
      .count()
    assert(ghost === 0L,
      s"$ghost tombstoned posting rows survived retraction compaction")
    assert(netProbe() === expect, "retraction compaction changed the probe")
  }

  test("TAKEDOWN retraction (q154): the AND-postings net probe == " +
       "one-shot search on the REDUCED corpus; no tombstoned doc is " +
       "EVER served (before or after compaction); a replayed retraction " +
       "absorbs; retraction compaction physically drops the rows") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val removed = docs.filter(col("doc_id") % 7 === 0)
    val reduced = docs.filter(col("doc_id") % 7 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-postr").toString
    val (idx, del) = (s"$dir/post", s"$dir/del")
    Documents.appendPostings(idx, docs.filter(col("doc_id") % 2 === 0))
    Documents.appendPostings(idx, docs.filter(col("doc_id") % 2 === 1))
    Documents.TermLedger.tombstone(idx, del,
      removed.select(col("doc_id")), "rm0")
    Documents.TermLedger.tombstone(idx, del,
      removed.select(col("doc_id")), "rm0") // replay
    def tomb() = spark.read.parquet(del).select(col("doc_id")).distinct()
    def netProbe(): Seq[(Long, Long)] =
      Documents.searchIndex(
        graft.etl.Ledger.mask(spark, spark.read.parquet(idx), del),
        terms, 1000)
        .as[(Long, Long)].collect().toSeq.sorted
    val expect = rows(Documents.searchIndex(
      Documents.postings(reduced), terms, 1000))
    assert(expect.nonEmpty, "probe terms missing from the reduced corpus")
    assert(netProbe() === expect,
      "retracted probe != one-shot search on the reduced corpus")
    // the no-serve property, asserted directly: zero overlap between
    // served doc ids and the takedown set, even pre-compaction
    val servedIds = netProbe().map(_._1).toSet
    val goneIds = removed.select(col("doc_id")).as[Long].collect().toSet
    assert(servedIds.intersect(goneIds).isEmpty,
      "a tombstoned doc was served before compaction")
    val (b, a) = Documents.TermLedger.compact(spark, idx, Some(del))
    assert(a <= b, s"retraction compaction grew the file count ($b -> $a)")
    val ghost = spark.read.parquet(idx)
      .join(tomb(), Seq("doc_id")).count()
    assert(ghost === 0L,
      s"$ghost tombstoned posting rows survived retraction compaction")
    assert(netProbe() === expect, "retraction compaction changed the probe")
  }
}
