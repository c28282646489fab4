package graft.operators

import graft.SparkSpec

/** Transitivity contract of the connected-components dedup core: the
  * harness corpus only plants DISJOINT twin pairs (2-doc components), so
  * the q63 oracle never exercises the case clustering exists for — a doc
  * chained through several overlapping pairs. This spec constructs the
  * shapes directly. */
class DedupClusterSpec extends SparkSpec {
  import spark.implicits._

  private def cc(nodeIds: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = nodeIds.toDF("doc_id")
    val edges = pairs.toDF("a_id", "b_id")
    Documents.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
  }

  test("chains, cycles, stars and singletons all collapse to the min id") {
    val out = cc(
      0L to 12L,
      Seq(
        (1L, 2L), (2L, 3L), (3L, 4L),   // chain 1-2-3-4 (diameter > 1)
        (5L, 6L), (6L, 7L), (7L, 5L),   // cycle 5-6-7
        (9L, 8L), (10L, 8L), (11L, 8L)  // star around 8, reversed orientation
      ))                                 // 0 and 12 are singletons
    val expected = Map(
      0L -> 0L,
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L,
      8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 8L,
      12L -> 12L)
    assert(out === expected)
  }

  test("two chains merged by a single bridge edge become one component") {
    // each chain would converge alone in 2 rounds; the bridge forces the
    // min label to travel the full combined diameter — the convergence
    // witness (sum strictly decreasing until fixpoint) must not stop early
    val out = cc(
      1L to 8L,
      Seq((1L, 2L), (2L, 3L), (3L, 4L),        // chain A
          (5L, 6L), (6L, 7L), (7L, 8L),        // chain B
          (4L, 8L)))                            // bridge at the far ends
    assert(out.values.toSet === Set(1L), s"bridge not propagated: $out")
  }

  test("a 45-node path (diameter 44) converges under the round cap") {
    // 44 rounds carry label 0 to the far end and one more sees no change:
    // 45 of the maxCcRounds = 50, the headroom near-dup graphs never use
    assert(Documents.maxCcRounds === 50)
    val out = cc(0L to 44L, (0L until 44L).map(i => (i, i + 1)))
    assert(out.size === 45 && out.values.toSet === Set(0L),
      s"path not collapsed to one label: $out")
  }

  test("a duplicated pair and a self-loop change nothing") {
    val out = cc(1L to 3L, Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("an empty corpus converges immediately instead of NPE-ing on the " +
       "null sum witness (ADVICE r6)") {
    assert(cc(Seq.empty, Seq.empty) === Map.empty)
  }

  // ── q80: quality-ranked canonical election ──────────────────────────────

  test("canonical election: longest member wins, min doc_id breaks ties, " +
       "singletons keep themselves") {
    val g = Seq(
      (1L, 1L, 10), (2L, 1L, 30), (3L, 1L, 30), // 2 and 3 tie at 30 → 2
      (4L, 4L, 50), (5L, 4L, 7),                // longest is the min id too
      (7L, 7L, 0)                               // empty singleton
    ).toDF("doc_id", "cluster_rep", "n_words")
    val out = Documents.electCanonical(g).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4))).toSet
    assert(out === Set(
      (1L, 2L, false), (2L, 2L, true), (3L, 2L, false),
      (4L, 4L, true), (5L, 4L, false),
      (7L, 7L, true)))
  }

  test("incrementalCC: fold over random batch orders == one-shot CC, " +
       "including cross-batch bridges of standing components and " +
       "brand-new nodes (q112's contract)") {
    val rnd = new scala.util.Random(777)
    for (trial <- 0 until 3) {
      val allNodes = (0L until 40L)
      val allPairs = Seq.fill(45) {
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter(p => p._1 != p._2)
      val oneShot = cc(allNodes, allPairs)
      // three edge batches in arrival order; nodes 30+ only enter with
      // batch 2 (the brand-new-document path)
      val batched = allPairs.map(p => (p, rnd.nextInt(3)))
      val oldNodes = allNodes.filter(_ < 30L)
      var labels = Documents.connectedComponents(
        oldNodes.toDF("doc_id"),
        batched.collect { case (p, 0) if p._1 < 30 && p._2 < 30 => p }
          .toDF("a_id", "b_id"))
      val lateNodes = allNodes.filter(_ >= 30L)
      val late = batched.collect { case (p, b) if b > 0 => (p, b) } ++
        batched.collect { case (p, 0) if p._1 >= 30 || p._2 >= 30 =>
          (p, 1) } // pairs touching late nodes arrive with them
      for (b <- 1 to 2) {
        labels = Documents.incrementalCC(labels,
          (if (b == 1) lateNodes else Seq.empty[Long]).toDF("doc_id"),
          late.collect { case (p, `b`) => p }.toDF("a_id", "b_id"))
      }
      val folded = labels.as[(Long, Long)].collect().toMap
      assert(folded === oneShot, s"trial $trial: fold != one-shot")
    }
  }

  test("election policy differs from q63's min-id keep on the same cluster") {
    // the min id (1) is NOT the longest (9): q63 would keep 1, q80 keeps 9
    val g = Seq((1L, 1L, 5), (9L, 1L, 80)).toDF("doc_id", "cluster_rep", "n_words")
    val keeps = Documents.electCanonical(g).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(keeps === Map(1L -> false, 9L -> true))
  }

  // ── q138: leakage-safe split over CC labels ──────────────────────────────

  /** The q42 split function, recomputed independently of splitByCluster so
    * the leaky-flag assertion isn't circular. */
  private def naiveSplitOf(ids: Seq[Long]): Map[Long, String] =
    ids.toDF("doc_id")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.pmod(
          graft.functions.Text.portableHash(
            org.apache.spark.sql.functions.col("doc_id").cast("string")),
          org.apache.spark.sql.functions.lit(100L)).as("b"))
      .as[(Long, Long)].collect().map { case (id, b) =>
        id -> (if (b < 80) "train" else if (b < 90) "valid" else "test")
      }.toMap

  test("splitByCluster: every member inherits the REP's own split; reps " +
       "are never leaky; members leak exactly when their q42 bucket " +
       "disagrees") {
    // pair clusters over 1..400 — enough families that some straddle
    val labels = (1L to 400L).map(i => (i, i - ((i - 1) % 2)))
    val out = Documents.splitByCluster(labels.toDF("doc_id", "lbl"))
      .as[(Long, Long, String, String, Boolean)].collect()
    val naive = naiveSplitOf((1L to 400L).toSeq)
    // one distinct split per cluster, and it is the rep's naive split
    out.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.map(_._3).toSet === Set(naive(rep)),
        s"cluster $rep split is not the rep's own bucket")
    }
    out.foreach { case (id, rep, split, naiveSplit, leaky) =>
      assert(naiveSplit === naive(id))
      assert(leaky === (naive(id) != naive(rep)))
      if (id == rep) assert(!leaky, s"rep $id flagged leaky")
    }
    // the operator is observably different from q42 on this input
    assert(out.exists(_._5), "no straddling family in 200 pairs — " +
      "the leak demonstration is degenerate")
  }

  test("splitByCluster degrades to q42 exactly on identity labels " +
       "(dedup found nothing)") {
    val labels = (1L to 100L).map(i => (i, i))
    val out = Documents.splitByCluster(labels.toDF("doc_id", "lbl"))
      .as[(Long, Long, String, String, Boolean)].collect()
    assert(out.forall(r => r._3 == r._4 && !r._5))
  }

  // ── q146: bridge reassignment over the incremental fold ─────────────────

  test("bridge reassignment (q146): a bridge edge merging two standing " +
       "clusters keeps the min-label side's split, reassigns every doc " +
       "on the other side, and flags EXACTLY those docs") {
    import org.apache.spark.sql.functions.col
    val splits = naiveSplitOf(0L until 200L)
    // two future reps whose inherited splits DIFFER — the merge must
    // move the max side's docs across the boundary
    val rmin = (0L until 200L).find(i => splits(i) == "train").get
    val rmax = (rmin + 1 until 200L)
      .find(i => splits(i) != splits(rmin)).get
    val (xa, xb) = (rmax + 10, rmax + 20) // extra members, ids > both reps
    val nodes = Seq(rmin, rmax, xa, xb).toDF("doc_id")
    val base = Documents.connectedComponents(nodes,
      Seq((rmin, xa), (rmax, xb)).toDF("a_id", "b_id"))
    // the arriving bridge doc pairs the two families
    val folded = Documents.incrementalCC(base,
      Seq.empty[Long].toDF("doc_id"), Seq((xa, xb)).toDF("a_id", "b_id"))
    val out = Documents.splitWithReassignment(base, folded)
      .select(col("doc_id"), col("cluster_rep"), col("split"),
        col("prev_split"), col("reassigned"))
      .as[(Long, Long, String, String, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // everyone lands in the min rep's cluster and inherits ITS split
    assert(out.values.forall(_._2 == rmin), "merged rep is not the min")
    assert(out.values.forall(_._3 == splits(rmin)),
      "merged split is not the min rep's split")
    // min side kept, max side moved — and the flag is exactly that set
    val moved = out.filter(_._2._5).keySet
    assert(moved === Set(rmax, xb),
      s"reassignment set wrong: $moved (expected the max-rep side)")
    assert(out(rmax)._4 == splits(rmax) && out(xb)._4 == splits(rmax),
      "prev_split must be the standing (max-side) split")
    assert(!out(rmin)._5 && !out(xa)._5, "min side must not reassign")
  }

  test("cluster repair under takedown (q152): deleting a BRIDGE doc " +
       "splits its cluster into re-elected fragments, untouched clusters " +
       "keep their labels, and the repair == one-shot CC on the reduced " +
       "graph — for bridge, leaf, and rep deletions") {
    // cluster {1,2,3} chained through bridge 2; cluster {10,11} untouched
    val nodes = Seq(1L, 2L, 3L, 10L, 11L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val standing = Documents.connectedComponents(nodes, pairs)
      .localCheckpoint(true)
    def repair(del: Seq[Long]): Map[Long, Long] =
      Documents.repairClusters(standing, pairs, del.toDF("doc_id"))
        .as[(Long, Long)].collect().toMap
    // bridge deletion: {1,3} split into singleton fragments
    assert(repair(Seq(2L)) === cc(Seq(1L, 3L, 10L, 11L), Seq((10L, 11L))),
      "bridge takedown != one-shot CC on the reduced graph")
    assert(repair(Seq(2L)) ===
      Map(1L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L))
    // leaf deletion: cluster only shrinks, rep unchanged
    assert(repair(Seq(3L)) ===
      cc(Seq(1L, 2L, 10L, 11L), Seq((1L, 2L), (10L, 11L))))
    // rep deletion: the surviving fragment re-elects its min id
    val repRemoved = repair(Seq(1L))
    assert(repRemoved(2L) === 2L && repRemoved(3L) === 2L,
      "fragment did not re-elect after its rep's takedown")
    // no deleted id ever appears — as a member OR as a label
    Seq(Seq(2L), Seq(3L), Seq(1L)).foreach { del =>
      val r = repair(del)
      assert(del.forall(id => !r.contains(id) && !r.values.toSet(id)),
        s"a tombstoned doc survived the repair for del=$del")
    }
  }
}
