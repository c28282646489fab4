package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Completeness contract of the q68 prefix-filtered EXACT Jaccard join —
  * the one property that separates it from q18's MinHash-LSH: on ANY
  * corpus, the operator returns exactly the brute-force all-pairs answer
  * at tau = 0.8, no probabilistic recall argument required.
  *
  * The fixture deliberately parks documents on the completeness
  * boundaries:
  *   - shingle-set sizes that are exact multiples of 5, where
  *     ceil(0.8 * len) computed in DOUBLE arithmetic overshoots by one
  *     (0.8D > 4/5) and would shorten the prefix — the silent hole the
  *     operator's integer formula exists to close;
  *   - pairs with Jaccard just above AND just below 0.8, so both the
  *     keep and the drop side of the threshold are exercised;
  *   - an exact duplicate (j = 1.0, prefix length 1 — the shortest legal
  *     prefix must still collide).
  * A seeded random sweep then compares operator vs brute force on corpora
  * with no constructed structure at all. */
class PrefixJaccardSpec extends SparkSpec {
  import spark.implicits._

  private def shingleSet(words: Seq[String]): Set[String] =
    words.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  private def bruteTruth(corpus: Seq[(Long, Set[String])])
      : Set[(Long, Long, Long)] =
    (for {
      (ai, as) <- corpus; (bi, bs) <- corpus if ai < bi
      inter = (as & bs).size.toLong
      uni = (as | bs).size.toLong
      bp = math.floorDiv(inter * 10000L, uni) if bp >= 8000L
    } yield (ai, bi, bp)).toSet

  private def run(corpus: Seq[(Long, Set[String])]): Set[(Long, Long, Long)] = {
    val df: DataFrame = corpus
      .map { case (id, s) => (id, s.toSeq.sorted) }
      .toDF("doc_id", "sh")
      .filter(col("sh").isNotNull) // keep frame shape; sizes are > 0 here
    Documents.prefixJaccardPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  /** Family f's base doc: n fresh words; its twin replaces the last k
    * words with fresh ones → shared shingles n-k-2 of n-2, a dial that
    * sweeps Jaccard across the 0.8 threshold. */
  private def family(f: Int, n: Int, k: Int): Seq[(Long, Set[String])] = {
    val base = (1 to n).map(j => s"f${f}w$j")
    val twin = base.dropRight(k) ++ (1 to k).map(j => s"f${f}x$j")
    Seq((f * 10L, shingleSet(base)), (f * 10L + 1, shingleSet(twin)))
  }

  test("boundary corpus: operator == brute force, both sides of tau") {
    // sh sizes n-2 in {5, 10, 20, 25, 50} — all multiples of 5, the
    // double-ceil overshoot lengths. k chosen to straddle: for equal-size
    // twins j = (n-k-2)/(n-2+k).
    val corpus =
      family(1, 7, 0) ++ // j = 1.0 exact dup, prefix length 1
      family(2, 12, 1) ++ // j = 9/11  = 0.818 → keep
      family(3, 12, 3) ++ // j = 7/13  = 0.538 → drop
      family(4, 22, 2) ++ // j = 18/22 = 0.818 → keep
      family(5, 22, 3) ++ // j = 17/23 = 0.739 → drop
      family(6, 27, 2) ++ // j = 23/27 = 0.851 → keep
      family(7, 52, 5) ++ // j = 45/55 = 0.818 → keep
      family(8, 52, 7)    // j = 43/57 = 0.754 → drop
    val truth = bruteTruth(corpus)
    assert(truth.map(_._1).toSeq.sorted == Seq(10L, 20L, 40L, 60L, 70L),
      "fixture lost its intended keep/drop split")
    assert(run(corpus) == truth)
  }

  test("seeded random corpora: operator == brute force") {
    val rnd = new Random(42)
    (1 to 3).foreach { trial =>
      val vocab = (1 to 40).map(j => s"v$j")
      val corpus = (1L to 24L).map { id =>
        val n = 5 + rnd.nextInt(30)
        // random walks over a small shared vocab → organic overlap at
        // every similarity level, not just constructed twins
        id -> shingleSet(Seq.fill(n)(vocab(rnd.nextInt(vocab.size))))
      }.filter(_._2.nonEmpty)
      assert(run(corpus) == bruteTruth(corpus), s"trial $trial diverged")
    }
  }

  test("empty corpus yields an empty result, not a crash") {
    assert(run(Seq.empty).isEmpty)
  }

  // ── R-S (incremental, q79) variant ──────────────────────────────────────

  private def bruteCross(r: Seq[(Long, Set[String])],
                         s: Seq[(Long, Set[String])])
      : Set[(Long, Long, Long)] =
    (for {
      (ai, as) <- r; (bi, bs) <- s
      inter = (as & bs).size.toLong
      uni = (as | bs).size.toLong
      bp = math.floorDiv(inter * 10000L, uni) if bp >= 8000L
    } yield (ai, bi, bp)).toSet

  private def runCross(r: Seq[(Long, Set[String])],
                       s: Seq[(Long, Set[String])]): Set[(Long, Long, Long)] = {
    def df(c: Seq[(Long, Set[String])]): DataFrame =
      c.map { case (id, sh) => (id, sh.toSeq.sorted) }.toDF("doc_id", "sh")
    Documents.prefixJaccardJoin(df(r), df(s)).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
  }

  test("R-S boundary corpus: cross join == brute force, no within-side pairs") {
    // Each family's base goes to the incoming side, its twin to the
    // corpus side — every true pair crosses sides. Families 1/2 land a
    // second base in the CORPUS as well: a corpus×corpus near-dup that
    // the R-S join must NOT report.
    val fams = Seq(family(1, 7, 0), family(2, 12, 1), family(3, 12, 3),
      family(4, 22, 2), family(5, 22, 3), family(6, 27, 2))
    val incoming = fams.map(_.head)
    val corpus = fams.map(_.last) ++ Seq(
      (900L, incoming.head._2),   // exact dup of an incoming doc
      (901L, fams(1).last._2))    // corpus-internal dup: must stay silent
    val truth = bruteCross(incoming, corpus)
    assert(truth.nonEmpty && truth.exists(_._2 == 900L),
      "fixture lost its cross-side structure")
    assert(runCross(incoming, corpus) == truth)
  }

  test("R-S seeded random corpora: cross join == brute force") {
    val rnd = new Random(43)
    (1 to 3).foreach { trial =>
      val vocab = (1 to 40).map(j => s"v$j")
      def mk(ids: Range): Seq[(Long, Set[String])] = ids.map { id =>
        val n = 5 + rnd.nextInt(30)
        id.toLong -> shingleSet(Seq.fill(n)(vocab(rnd.nextInt(vocab.size))))
      }.filter(_._2.nonEmpty)
      val r = mk(1 to 8); val s = mk(101 to 124)
      assert(runCross(r, s) == bruteCross(r, s), s"trial $trial diverged")
    }
  }

  test("R-S with an empty side yields an empty result, not a crash") {
    val r = Seq((1L, shingleSet((1 to 9).map(j => s"w$j"))))
    assert(runCross(r, Seq.empty).isEmpty)
    assert(runCross(Seq.empty, r).isEmpty)
  }

  // ── frozen-dictionary index (q82) ───────────────────────────────────────

  private def toDf(c: Seq[(Long, Set[String])]): DataFrame =
    c.map { case (id, sh) => (id, sh.toSeq.sorted) }.toDF("doc_id", "sh")

  private def probe(r: Seq[(Long, Set[String])], s: Seq[(Long, Set[String])],
                    dict: DataFrame, idx: DataFrame): Set[(Long, Long, Long)] =
    Documents.prefixJaccardProbe(toDf(r), toDf(s), dict, idx).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet

  test("frozen-dict probe == brute force — the index order is corpus-only " +
       "yet completeness holds (any consistent total order)") {
    val fams = Seq(family(1, 7, 0), family(2, 12, 1), family(3, 12, 3),
      family(4, 22, 2), family(5, 22, 3), family(6, 27, 2))
    val incoming = fams.map(_.head)
    val corpus = fams.map(_.last)
    val dict = Documents.freezeDict(toDf(corpus))
    val idx = Documents.prefixRows(toDf(corpus), dict)
    assert(probe(incoming, corpus, dict, idx) == bruteCross(incoming, corpus))
  }

  test("append-only maintenance: batch-1 docs index under the FROZEN dict " +
       "and batch 2 finds its near-dups among them — df drift costs " +
       "selectivity, never pairs") {
    // corpus v1 freezes the dictionary; batch 1 lands and is indexed
    // WITHOUT re-ranking anything (union of prefix-row frames); batch 2
    // must then match (a) a near-dup of a batch-1 doc whose words the
    // frozen dict has NEVER seen — the df=0 unseen-token path end to end
    // — and (b) a near-dup of an original v1 doc.
    val v1 = Seq(family(1, 12, 1), family(2, 22, 2)).map(_.last)
    val dict = Documents.freezeDict(toDf(v1))
    val idx1 = Documents.prefixRows(toDf(v1), dict)

    val b1 = Seq((500L, shingleSet((1 to 14).map(j => s"unseen$j"))))
    val idx2 = idx1.unionByName(Documents.prefixRows(toDf(b1), dict))
    val corpus2 = v1 ++ b1

    val b2 = Seq(
      (600L, b1.head._2),                         // dup of the unseen-token doc
      (601L, family(1, 12, 1).last._2),           // near-dup of a v1 doc
      (602L, shingleSet((1 to 9).map(j => s"lone$j")))) // matches nothing
    val truth = bruteCross(b2, corpus2)
    assert(truth.exists(_._2 == 500L) && truth.exists(p => p._1 == 601L),
      "fixture lost its cross-batch structure")
    assert(probe(b2, corpus2, dict, idx2) == truth)
  }

  test("warehouse append maintenance: batch prefix rows APPENDED to the " +
       "materialized index files probe identically to a from-scratch " +
       "rebuild, and a replayed append changes nothing (r9 VERDICT item 4)") {
    // Same cross-batch structure as the frame-level test, but the index
    // now lives as parquet FILES: built once with the crash-safe swap
    // (as q82 materializes it), then maintained by appendPrefixRows — new
    // files only, no existing row rewritten.
    val wh = java.nio.file.Files.createTempDirectory("graft-pfxwh").toString
    val dictPath = s"$wh/dict"; val idxPath = s"$wh/idx"
    val v1 = Seq(family(1, 12, 1), family(2, 22, 2)).map(_.last)
    graft.etl.Merge.writeAndSwap(Documents.freezeDict(toDf(v1)), dictPath, "build")
    val dict = spark.read.parquet(dictPath)
    graft.etl.Merge.writeAndSwap(Documents.prefixRows(toDf(v1), dict), idxPath, "build")

    val b1 = Seq((500L, shingleSet((1 to 14).map(j => s"unseen$j"))))
    Documents.appendPrefixRows(idxPath, toDf(b1), dict)
    val corpus2 = v1 ++ b1

    val b2 = Seq(
      (600L, b1.head._2),                         // dup of the appended unseen-token doc
      (601L, family(1, 12, 1).last._2),           // near-dup of an original v1 doc
      (602L, shingleSet((1 to 9).map(j => s"lone$j")))) // matches nothing
    val truth = bruteCross(b2, corpus2)
    assert(truth.exists(_._2 == 500L) && truth.exists(_._1 == 601L),
      "fixture lost its cross-batch structure")

    val viaAppendedFiles = probe(b2, corpus2, dict, spark.read.parquet(idxPath))
    assert(viaAppendedFiles == truth,
      "probe through the appended warehouse index diverged from brute force")

    // from-scratch rebuild over corpus2 (its own refrozen dict — a rebuild
    // re-ranks everything) must answer the same pair set: drift costs
    // selectivity, never pairs
    val dict2 = Documents.freezeDict(toDf(corpus2))
    val rebuilt = Documents.prefixRows(toDf(corpus2), dict2)
    assert(probe(b2, corpus2, dict2, rebuilt) == viaAppendedFiles)

    // replayed append (at-least-once delivery): duplicated prefix rows
    // collapse in the min-slack aggregate — the probe result is unchanged
    Documents.appendPrefixRows(idxPath, toDf(b1), dict)
    assert(probe(b2, corpus2, dict, spark.read.parquet(idxPath)) == truth)
  }

  test("compaction: probe-equality across compactPrefixIndex, measured " +
       "file-count reduction, replay duplicates garbage-collected " +
       "(VERDICT r10 item 1a)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-cpwh").toString
    val dictPath = s"$wh/dict"; val idxPath = s"$wh/idx"
    val v1 = Seq(family(1, 12, 1), family(2, 22, 2)).map(_.last)
    graft.etl.Merge.writeAndSwap(Documents.freezeDict(toDf(v1)), dictPath, "build")
    val dict = spark.read.parquet(dictPath)
    graft.etl.Merge.writeAndSwap(Documents.prefixRows(toDf(v1), dict), idxPath, "build")

    // five appended batches + one at-least-once replay: the small-file
    // population an append-only index accretes between maintenance passes
    val batches = (0 until 5).map { i =>
      Seq((500L + i, shingleSet((1 to 14).map(j => s"b${i}w$j"))))
    }
    batches.foreach(b => Documents.appendPrefixRows(idxPath, toDf(b), dict))
    Documents.appendPrefixRows(idxPath, toDf(batches.head), dict) // replay
    val corpus2 = v1 ++ batches.flatten
    val rowsWithDups = spark.read.parquet(idxPath).count()
    val distinctRows = spark.read.parquet(idxPath).distinct().count()
    assert(rowsWithDups > distinctRows, "fixture lost its replay duplicates")

    val b2 = Seq(
      (600L, batches.head.head._2),             // dup of an appended doc
      (601L, family(1, 12, 1).last._2),         // near-dup of an original doc
      (602L, shingleSet((1 to 9).map(j => s"lone$j"))))
    val truth = bruteCross(b2, corpus2)
    assert(probe(b2, corpus2, dict, spark.read.parquet(idxPath)) == truth)

    val (before, after) = Documents.PrefixLedger.compact(spark, idxPath)
    assert(before > after,
      s"compaction did not reduce the file count ($before -> $after)")
    assert(after === 1, s"tiny index should compact to 1 file, got $after")
    // probe answers are invariant across the rewrite...
    assert(probe(b2, corpus2, dict, spark.read.parquet(idxPath)) == truth,
      "probe through the compacted index diverged")
    // ...and the replayed-append duplicates were garbage-collected
    assert(spark.read.parquet(idxPath).count() === distinctRows)

    // the single-shuffle claim in Ledger.compact's scaladoc: clustering on
    // the probe key and the full-row dedup share ONE hash exchange
    // (HashPartitioning(t) satisfies the dedup aggregate's distribution)
    val shape = spark.read.parquet(idxPath)
      .repartition(4, col("t")).dropDuplicates()
    shape.queryExecution.toRdd.count()
    val finalPlan = shape.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(exchanges === 1,
      s"compaction shape plans $exchanges hash exchanges, expected 1:\n$finalPlan")
  }

  test("TAKEDOWN retraction (q155): the tombstone-masked index probes " +
       "identically to an index rebuilt on the REDUCED corpus under the " +
       "same frozen dict; no retracted doc ever appears as a corpus_id; " +
       "a replayed retraction absorbs; compactPrefixRetract physically " +
       "drops the rows") {
    val wh = java.nio.file.Files.createTempDirectory("graft-pfxr").toString
    val (dictPath, idxPath, delPath) = (s"$wh/dict", s"$wh/idx", s"$wh/del")
    // corpus: three near-dup families; we take down one whole family's
    // corpus member plus one member of another — its incoming twin must
    // then match NOTHING / only the survivors
    val fams = Seq(family(1, 12, 1), family(2, 22, 2), family(3, 27, 0))
    val corpus = fams.map(_.last)
    graft.etl.Merge.writeAndSwap(
      Documents.freezeDict(toDf(corpus)), dictPath, "build")
    val dict = spark.read.parquet(dictPath)
    graft.etl.Merge.writeAndSwap(
      Documents.prefixRows(toDf(corpus), dict), idxPath, "build")
    val removedIds = Set(corpus.head._1) // family 1's corpus member
    import spark.implicits._
    Documents.PrefixLedger.tombstone(idxPath, delPath,
      removedIds.toSeq.toDF("doc_id"), "rm0")
    Documents.PrefixLedger.tombstone(idxPath, delPath,
      removedIds.toSeq.toDF("doc_id"), "rm0") // replay
    val reduced = corpus.filterNot(c => removedIds(c._1))
    val incoming = fams.map(_.head)
    def tomb() = spark.read.parquet(delPath)
      .select(col("doc_id")).distinct()
    def netProbe(): Set[(Long, Long, Long)] = {
      val masked = spark.read.parquet(idxPath)
        .join(tomb(), Seq("doc_id"), "left_anti")
      probe(incoming, reduced, dict, masked)
    }
    // ground truth: rebuild on the reduced corpus under the SAME dict
    val rebuilt = Documents.prefixRows(toDf(reduced), dict)
    val expect = probe(incoming, reduced, dict, rebuilt)
    assert(expect.nonEmpty, "fixture lost its surviving near-dup pairs")
    assert(netProbe() == expect,
      "masked-index probe != rebuild on the reduced corpus")
    assert(!netProbe().exists(p => removedIds(p._2)),
      "a retracted doc was served as a corpus match")
    val (b, a) = Documents.PrefixLedger.compact(spark, idxPath, Some(delPath))
    assert(a <= b, s"retraction compaction grew the file count ($b -> $a)")
    val ghost = spark.read.parquet(idxPath)
      .join(tomb(), Seq("doc_id")).count()
    assert(ghost === 0L,
      s"$ghost tombstoned prefix rows survived retraction compaction")
    assert(netProbe() == expect, "retraction compaction changed the probe")
  }
}
