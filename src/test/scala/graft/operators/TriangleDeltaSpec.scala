package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{Bloom, BloomMightContainExpr}

/** The per-batch Δ-triangle kernel's contracts (q107's fold, q136's
  * apply): (1) each Δ-class (one / two / three new edges) counts its
  * triangles exactly once on a constructed graph where the classes are
  * known by hand; (2) the fold over batches reproduces a one-shot recount
  * on random graphs under random splits — the same equality the DuckDB
  * oracle checks by prefix-recount differencing on the real co-purchase
  * graph; (3) empty-batch and empty-standing edges degrade to zero / pure
  * within-batch counting; (4) every closing branch (Bloom or not, packed
  * or pair key) equals the differenced recount; (5) the fused q107 fold
  * equals the per-batch kernel; (6) on the Bloom path the exact
  * semi-join never plans beneath the Bloom filter. */
class TriangleDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (Long, Long)*): DataFrame = es.toSeq.toDF("a", "b")
  private def edgeDf(es: Seq[(Long, Long)]): DataFrame = es.toDF("a", "b")

  // standing: complete triangle {1,2,3}; open wedge 6-5-7
  private def classOld = edges((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L), (5L, 7L))
  // batch: {1,4},{2,4},{3,4} close THREE class-2 triangles (two new
  // edges wedged at 4, standing third side); {6,7} closes the class-1
  // wedge; {8,9},{8,10},{9,10} form one all-new class-3 triangle;
  // standing triangle {1,2,3} must NOT recount
  private def classBatch = edges((1L, 4L), (2L, 4L), (3L, 4L), (6L, 7L),
    (8L, 9L), (8L, 10L), (9L, 10L))

  /** ~180 distinct edges on 40 vertices: dense enough for hundreds of
    * triangles spanning all classes under any split. */
  private def randomEdges(rnd: scala.util.Random): Seq[(Long, Long)] =
    Seq.fill(260) {
      val u = rnd.nextInt(40).toLong; val v = rnd.nextInt(40).toLong
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct

  /** Independent one-shot recount (the q104 oracle's 3-way join shape). */
  private def recount(e: DataFrame): Long =
    e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .count()

  /** The standing edges' closing Bloom. The registered queries build it
    * only past the 8M-edge envelope, so the spec injects it. */
  private def bloomOf(old: DataFrame): DataFrame =
    Bloom.build(old, xxhash64(col("a"), col("b")), math.max(1L, old.count()))

  /** The kernel over standing inputs built here, as q136 keeps them:
    * undirected adjacency, degree table, the edge list itself. */
  private def kernel(old: DataFrame, d: DataFrame, bloom: Option[DataFrame],
                     packIds: Boolean): DataFrame = {
    val adj = old.select(col("a").as("u"), col("b").as("w"))
      .unionByName(old.select(col("b").as("u"), col("a").as("w")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    Relational.deltaTriCands(d, adj, deg, old, bloom, packIds)
  }

  /** (n_new_edges, delta_triangles) of one batch. */
  private def delta(old: DataFrame, d: DataFrame, withBloom: Boolean = false,
                    packIds: Boolean = false): (Long, Long) =
    (d.count(),
      kernel(old, d, Option.when(withBloom)(bloomOf(old)), packIds).count())

  test("constructed graph: one triangle per class, each counted once") {
    assert(delta(classOld, classBatch) === ((7L, 5L)))
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
      val es = randomEdges(rnd)
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

  test("kernel == differenced recount, Bloom x closing-key branches") {
    val rnd = new scala.util.Random(1717)
    val (oldR, dR) = randomEdges(rnd).partition(_ => rnd.nextInt(16) != 0)
    val graphs = Seq("class graph" -> (classOld, classBatch),
      "random graph" -> (edgeDf(oldR), edgeDf(dR)))
    for ((name, (old, d)) <- graphs) {
      val want = (d.count(), recount(old.unionByName(d)) - recount(old))
      assert(want._2 > 0, s"$name: the batch closes no triangle")
      if (name == "class graph") assert(want === ((7L, 5L)))
      for (withBloom <- Seq(false, true); packIds <- Seq(true, false))
        assert(delta(old, d, withBloom, packIds) === want,
          s"$name withBloom=$withBloom packIds=$packIds")
    }
  }

  test("fused fold kernel == per-batch kernel, both key branches") {
    val rnd = new scala.util.Random(2121)
    for (trial <- 0 until 2) {
      val tagged = randomEdges(rnd)
        .map { case (a, b) => (a, b, rnd.nextInt(4).toLong) }
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

  test("Bloom closing path plans no left-semi join beneath the Bloom " +
       "filter, and the Bloom does filter") {
    // a node that evaluates the Bloom probe over a subtree holding a
    // left-semi: the exact join then runs over the unfiltered stream
    def semiBelowBloom(p: LogicalPlan): Boolean = p.exists { n =>
      n.expressions.exists(_.exists(_.isInstanceOf[BloomMightContainExpr])) &&
        n.children.exists(_.exists {
          case j: Join => j.joinType == LeftSemi
          case _ => false
        })
    }
    for (packIds <- Seq(false, true)) {
      val cands = kernel(classOld, classBatch, Some(bloomOf(classOld)), packIds)
      assert(!semiBelowBloom(cands.queryExecution.optimizedPlan),
        s"packIds=$packIds:\n${cands.queryExecution.optimizedPlan}")
      assert(cands.count() === 5L)
    }
    // an empty Bloom passes no standing-edge candidate, so classes 1 and
    // 2 close nothing and only the class-3 triangle is left
    val empty = Bloom.build(classOld.limit(0), xxhash64(col("a"), col("b")), 1L)
    assert(kernel(classOld, classBatch, Some(empty), packIds = false)
      .count() === 1L)
  }
}
