package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev harness: print registered queries' physical plans — the initial
  * plan in formatted mode (plan-as-written, what PlanSpec audits) and the
  * FINAL plan (post-execution, with AQE's runtime re-plan and exchange
  * reuse applied). The final plan is the one that tells the truth about
  * self-joins: two canonically-equal sides collapse to one map stage + a
  * ReusedExchange only at runtime, so a kernel that appears 2× in the
  * initial plan can still cost 1× per row. Per-query times, jobs and
  * repeated scans are in the Bench/SpotBench output.
  *
  * Usage: runMain graft.tools.ExplainQuery <q1,q2,...> [sfDir] [nobroadcast]
  * `nobroadcast` disables auto-broadcast so small-SF plans take the
  * shuffle-join shape they would have at scale.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: ExplainQuery <q1,q2,...> [sfDir] [nobroadcast]"))
      .split(",").toIndexedSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    if (args.lift(2).contains("nobroadcast"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"=== $name: initial plan ===")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      df.queryExecution.toRdd.count()
      println(s"=== $name: final adaptive plan (after execution) ===")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
