package graft.tools

import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}
import graft.operators.Relational

/** q107 fold profiler (r21 evidence): times the fold's fixed pre-jobs
  * (artifact touch, degree/bcnt reads, pack gate) and then each batch
  * step's deltaTriangles subtree as its OWN action, so the 4-step union's
  * cost decomposes into attributable pieces instead of one opaque number.
  *
  * Usage: runMain graft.tools.TriFoldDiag <sfDir> [passes]
  */
object TriFoldDiag {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val s = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-trifold-diag")
    s.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[trifold] $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    Tables.lineitem(s, d).count() // warm the scan
    (1 to passes).foreach { p =>
      System.err.println(s"[trifold] ---- pass $p ----")
      val whole = time("q107 whole (toRdd.count)") {
        val df = graft.SparkEntry.queries("q107_triangle_delta")(s, d)
        df.queryExecution.toRdd.count()
      }
      val _ = whole
      // decomposed: mirror triangleDelta's structure step by step
      val e16 = time("tri16Edges touch")(Relational.tri16Edges(s, d))
      val batchOf = pmod(col("h16"), lit(4L))
      val e = e16.select(col("a"), col("b"), batchOf.as("batch"))
      val adjAll = e.select(col("a").as("u"), col("b").as("w"), col("batch"))
        .unionByName(
          e.select(col("b").as("u"), col("a").as("w"), col("batch")))
      val tag = Tables.datasetTag(s, d, "lineitem")
      val degB = time("degB materialize touch") {
        graft.etl.Merge.materialize(s,
          graft.etl.Artifacts.path(s, "tri_degb", tag),
          adjAll.groupBy(col("u"), col("batch"))
            .agg(count(lit(1)).as("dg")))
      }
      val bcnt = time("bcnt materialize + collect") {
        graft.etl.Merge.materialize(s,
            graft.etl.Artifacts.path(s, "tri_bcnt", tag),
            e.groupBy(col("batch")).agg(count(lit(1)).as("n")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val (minId, maxId) = time("pack gate min/max agg") {
        val r = degB.agg(min(col("u")), max(col("u"))).head
        (r.getLong(0), r.getLong(1))
      }
      (0L until 4L).foreach { i =>
        val degO = degB.filter(col("batch") < i)
          .groupBy(col("u")).agg(sum(col("dg")).as("dg"))
        val nOld = (0L until i).map(j => bcnt.getOrElse(j, 0L)).sum
        val packIds = minId >= 0L && maxId < 2147483648L
        val old = e.filter(col("batch") < i).select("a", "b")
        val dlt = e.filter(col("batch") === i).select("a", "b")
        time(f"batch $i deltaTriangles") {
          Relational.deltaTriangles(old, dlt, nOld, Some(degO), packIds)
            .queryExecution.toRdd.count()
        }
        // per-class: same kernel with the other classes' inputs emptied
        time(f"batch $i class1 (1 new)") {
          Relational.deltaTriangles(old, dlt, nOld, Some(degO), packIds)
          // class1 isolation: kill class2/3 by passing an empty delta to
          // the self-join legs is not expressible from outside; instead
          // time the wedge fan-out + probe directly
          val adjO = old.select(col("a").as("u"), col("b").as("w"))
            .unionByName(old.select(col("b").as("u"), col("a").as("w")))
          val dPick = dlt
            .join(degO.select(col("u").as("a"), col("dg").as("dga")),
              Seq("a"), "left")
            .join(degO.select(col("u").as("b"), col("dg").as("dgb")),
              Seq("b"), "left")
            .select(when(
                coalesce(col("dga"), lit(0L)) <= coalesce(col("dgb"), lit(0L)),
                struct(col("a").as("u"), col("b").as("v")))
              .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("p"))
            .select(col("p.u").as("u"), col("p.v").as("v"))
          val cand1 = dPick.join(adjO, Seq("u"))
            .filter(col("w") =!= col("v"))
            .select(least(col("v"), col("w")).as("a"),
                    greatest(col("v"), col("w")).as("b"))
          cand1.join(old, Seq("a", "b"), "left_semi")
            .queryExecution.toRdd.count()
        }
        time(f"batch $i class2 (2 new)") {
          val adjD = dlt.select(col("a").as("u"), col("b").as("w"))
            .unionByName(dlt.select(col("b").as("u"), col("a").as("w")))
          val cand2 = adjD.select(col("u").as("x"), col("w").as("y"))
            .join(adjD.select(col("u").as("x"), col("w").as("z")), Seq("x"))
            .filter(col("y") < col("z"))
            .select(col("y").as("a"), col("z").as("b"))
          cand2.join(old, Seq("a", "b"), "left_semi")
            .queryExecution.toRdd.count()
        }
        time(f"batch $i class3 (3 new)") {
          val cand3 = dlt.select(col("a").as("s"), col("b").as("p"))
            .join(dlt.select(col("a").as("s"), col("b").as("q")), Seq("s"))
            .filter(col("p") < col("q"))
            .select(col("p").as("a"), col("q").as("b"))
          cand3.join(dlt, Seq("a", "b"), "left_semi")
            .queryExecution.toRdd.count()
        }
      }
    }
    s.stop()
  }
}
