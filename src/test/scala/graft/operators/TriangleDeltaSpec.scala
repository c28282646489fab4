package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q107's contracts: (1) each Δ-class (one / two / three new edges)
  * counts its triangles exactly once on a constructed graph where the
  * classes are known by hand; (2) the fold over batches reproduces a
  * one-shot recount on random graphs under random splits — the same
  * equality the DuckDB oracle checks by prefix-recount differencing on
  * the real co-purchase graph; (3) empty-batch and empty-standing edges
  * degrade to zero / pure within-batch counting. */
class TriangleDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (Long, Long)*): DataFrame = es.toSeq.toDF("a", "b")
  private def edgeDf(es: Seq[(Long, Long)]): DataFrame = es.toDF("a", "b")

  /** Independent one-shot recount (the q104 oracle's 3-way join shape). */
  private def recount(e: DataFrame): Long =
    e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .count()

  private def delta(old: DataFrame, d: DataFrame): (Long, Long) = {
    val r = Relational.deltaTriangles(old, d).collect().head
    (r.getAs[Long]("n_new_edges"), r.getAs[Long]("delta_triangles"))
  }

  test("constructed graph: one triangle per class, each counted once") {
    // standing: complete triangle {1,2,3}; open wedge 6-5-7
    val old = edges((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L), (5L, 7L))
    // batch: {1,4},{2,4},{3,4} close THREE class-2 triangles (two new
    // edges wedged at 4, standing third side); {6,7} closes the class-1
    // wedge; {8,9},{8,10},{9,10} form one all-new class-3 triangle;
    // standing triangle {1,2,3} must NOT recount
    val d = edges((1L, 4L), (2L, 4L), (3L, 4L), (6L, 7L),
      (8L, 9L), (8L, 10L), (9L, 10L))
    assert(delta(old, d) === ((7L, 5L)))
  }

  test("empty batch counts nothing; empty standing set is the pure " +
       "within-batch node-iterator") {
    val tri = edges((1L, 2L), (1L, 3L), (2L, 3L))
    assert(delta(tri, tri.limit(0)) === ((0L, 0L)))
    assert(delta(tri.limit(0), tri) === ((3L, 1L)))
  }

  test("property: fold over random batch splits == one-shot recount") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 3) {
      // random graph on 40 vertices, ~180 distinct edges → dense enough
      // for hundreds of triangles spanning all classes under any split
      val es = Seq.fill(260) {
        val u = rnd.nextInt(40).toLong; val v = rnd.nextInt(40).toLong
        (math.min(u, v), math.max(u, v))
      }.filter(p => p._1 != p._2).distinct
      val batched = es.map(e => (e, rnd.nextInt(3)))
      var folded = 0L
      for (i <- 0 until 3) {
        val old = edgeDf(batched.collect { case (e, b) if b < i => e })
        val d = edgeDf(batched.collect { case (e, b) if b == i => e })
        folded += delta(old, d)._2
      }
      val oneShot = recount(edgeDf(es))
      assert(folded === oneShot,
        s"trial $trial: folded $folded != one-shot $oneShot")
      assert(oneShot > 100, s"trial $trial: weak corpus ($oneShot triangles)")
    }
  }

  /** q136's artifact-backed apply must equal the checkpoint-frame kernel
    * under BOTH closing-probe branches (the registered query only takes
    * the Bloom path past the 8M-edge threshold, so the spec injects the
    * bits directly). */
  private def applyPar(old: DataFrame, d: DataFrame,
                       withBloom: Boolean): (Long, Long) = {
    val adj = old.select(col("a").as("u"), col("b").as("w"))
      .unionByName(old.select(col("b").as("u"), col("a").as("w")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val bloom =
      if (!withBloom) None
      else Some(graft.functions.Bloom.build(old,
        xxhash64(col("a"), col("b")), math.max(1L, old.count())))
    val r = Relational.applyTriangles(adj, old, deg, bloom, d)
      .collect().head
    (r.getAs[Long]("n_new_edges"), r.getAs[Long]("delta_triangles"))
  }

  test("q136 applyTriangles == deltaTriangles on the constructed class " +
       "graph and random graphs, with and without the closing Bloom") {
    val old = edges((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L), (5L, 7L))
    val d = edges((1L, 4L), (2L, 4L), (3L, 4L), (6L, 7L),
      (8L, 9L), (8L, 10L), (9L, 10L))
    assert(applyPar(old, d, withBloom = false) === ((7L, 5L)))
    assert(applyPar(old, d, withBloom = true) === ((7L, 5L)))
    val rnd = new scala.util.Random(1717)
    val es = Seq.fill(260) {
      val u = rnd.nextInt(40).toLong; val v = rnd.nextInt(40).toLong
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct
    val (oldR, dR) = es.partition(_ => rnd.nextInt(16) != 0)
    val want = delta(edgeDf(oldR), edgeDf(dR))
    assert(applyPar(edgeDf(oldR), edgeDf(dR), withBloom = false) === want)
    assert(applyPar(edgeDf(oldR), edgeDf(dR), withBloom = true) === want)
  }

  test("fused fold kernel == per-batch deltaTriangles on random 4-batch " +
       "splits, both closing-key branches (q107's r21 restructure)") {
    val rnd = new scala.util.Random(2121)
    for (trial <- 0 until 2) {
      val es = Seq.fill(260) {
        val u = rnd.nextInt(40).toLong; val v = rnd.nextInt(40).toLong
        (math.min(u, v), math.max(u, v))
      }.filter(p => p._1 != p._2).distinct
      val tagged = es.map { case (a, b) => (a, b, rnd.nextInt(4).toLong) }
      val e = tagged.toDF("a", "b", "batch")
      val degB = e.select(col("a").as("u"), col("b").as("w"), col("batch"))
        .unionByName(
          e.select(col("b").as("u"), col("a").as("w"), col("batch")))
        .groupBy(col("u"), col("batch")).agg(count(lit(1)).as("dg"))
      val want = (0L until 4L).map { i =>
        val old = edgeDf(tagged.collect { case (a, b, bi) if bi < i => (a, b) })
        val d = edgeDf(tagged.collect { case (a, b, bi) if bi == i => (a, b) })
        i -> delta(old, d)._2
      }.toMap
      for (packable <- Seq(true, false)) {
        val got = Relational.fusedTriCands(e, degB, packable)
          .groupBy(col("batch")).agg(count(lit(1)).as("t"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        (0L until 4L).foreach { i =>
          assert(got.getOrElse(i, 0L) === want(i),
            s"trial $trial packable=$packable batch $i: " +
              s"fused ${got.getOrElse(i, 0L)} != per-batch ${want(i)}")
        }
      }
    }
  }
}
