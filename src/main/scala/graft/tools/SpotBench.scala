package graft.tools

import graft.{Bench, Profile, Sessions, SparkEntry}

/** Spot-bench a named subset of registered queries at one SF dir and print
  * ONE JSON line — the scale-ladder evidence runner (r7 verdict item 3).
  * A full [[graft.Bench]] at sf10 would time all 66 queries × 3 passes;
  * the 100 TB scaling question only needs the shuffle-heavy handful, timed
  * the same way Bench times (plan-as-written via `toRdd.count()`,
  * construction inside the clock, min of passes, loadavg recorded).
  * Each query also carries the [[graft.Profile]] fields over its passes:
  * jobs, stages, tasks, executor time, shuffle/spill bytes, the three
  * longest jobs with their call sites, and Janino compiles.
  *
  * Usage: runMain graft.tools.SpotBench <sfDir> <q1,q2,...|all> [passes=3]
  */
object SpotBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SpotBench <sfDir> <q1,q2,..|all> [passes]")
    val sfDir = args(0)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toIndexedSeq
      else args(1).split(",").toIndexedSeq
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(Sessions.cpus, "graft-spotbench")
    spark.sparkContext.setLogLevel("WARN")
    val profile = Profile.install(spark)
    // warm-up, mirroring Bench's untimed pre-pass (r9: the first listed
    // query used to absorb ALL of session init + JIT + cold page cache —
    // a q18@sf10 spot measured 25.5 s first-in-run vs 10.4 s for q63,
    // which executes q18's whole plan as its input stage). Scale-ladder
    // replica dirs hold only the table families the laddered queries
    // read, so warm exactly the parquet dirs that exist.
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings", "events")
      .filter(t => new java.io.File(s"$sfDir/$t.parquet").isDirectory)
      .foreach(t => graft.Tables.load(spark, sfDir, t).count())
    // gate ONCE at start (Bench's bounded spin-wait): the spot ladder's
    // long self-generated passes would keep per-pass gating waiting on our
    // own decay, but starting hot is exactly the r8 contamination mode
    val gateLd = Bench.gate()
    System.err.println(f"[spot] gate released at loadavg $gateLd%.2f")
    val loadStart = Bench.loadavg()
    val t0All = System.nanoTime()
    val results = names.map { n =>
      val fn = SparkEntry.queries(n)
      profile.begin(n)
      // failure isolation, Bench's contract (r9: a q35 disk-spill blowup
      // at sf100 killed the whole run with four queries still unmeasured;
      // a ladder probe EXPECTS to find walls — finding one must not cost
      // the other measurements): a failed query records -1 and the run
      // continues
      val times = (1 to passes).iterator.map { _ =>
        val t0 = System.nanoTime()
        try {
          val rows = fn(spark, sfDir).queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          // reclaim the finished pass's shuffle scratch OFF the clock: a
          // big heap means no organic GC, so ContextCleaner never learns
          // the previous DAG is dead and its shuffle files pile up —
          // at sf100 one q68 pass writes ~50 GB, and two un-reclaimed
          // passes filled the disk (r9: two runs died this way). The
          // explicit GC publishes the dead refs; the brief sleep lets the
          // cleaner's async deletes land before the next pass starts.
          System.gc(); Thread.sleep(3000)
          (dt, rows)
        } catch { case e: Throwable =>
          System.err.println(s"[spot] $n FAILED: ${e.getMessage}")
          System.gc(); Thread.sleep(3000)
          (-1.0, -1L)
        }
      }.takeWhile(_._1 >= 0).toVector
      val ok = times.length == passes
      val mn = if (ok) times.map(_._1).min else -1.0
      val mean = if (ok) times.map(_._1).sum / passes else -1.0
      val rows = if (ok) times.head._2 else -1L
      if (ok) System.err.println(
        f"[spot] $n%-24s min $mn%8.2f s  rows $rows")
      n -> (mn, mean, rows, times.map(_._1), profile.drain())
    }
    // per-pass times ride along explicitly (r17 VERDICT item 8: the
    // ladder's cold/warm split used to be derivable-only; pass 1 IS the
    // cold end-to-end number when the run starts from a fresh session)
    val qs = results.map { case (n, (mn, mean, rows, ts, prof)) =>
      val passesJson = ts.map(t => f"$t%.4f").mkString("[", ",", "]")
      f""""$n":{"min":$mn%.4f,"mean":$mean%.4f,"rows":$rows,"passes_sec":$passesJson,${prof.json}}"""
    }.mkString("{", ",", "}")
    val wall = (System.nanoTime() - t0All) / 1e9
    println(s"""{"metric":"spot","sf":"$sfDir","passes":$passes,"loadavg_start":$loadStart,"loadavg_end":${Bench.loadavg()},"wall_sec":${f"$wall%.1f"},"queries":$qs}""")
    spark.stop()
  }
}
