package graft

import org.apache.spark.sql.functions.col

/** [[Profile]] windows: the listener's counts land in the window whose
  * jobs produced them, a drain taken straight after an action already
  * holds that action's last job, and a drained window is empty. The
  * listener is removed after each test — the test context is shared with
  * the other suites of its JVM. */
class ProfileSpec extends SparkSpec {

  private def withProfile(body: Profile => Unit): Unit = {
    val p = Profile.install(spark)
    try body(p) finally p.close()
  }

  /** A query with a shuffle: 2000 rows grouped into 7 keys. */
  private def shuffled() =
    spark.range(0, 2000, 1, 4).groupBy((col("id") % 7).as("k")).count()

  test("a shuffle query drains jobs, stages, tasks and shuffle bytes") {
    withProfile { p =>
      p.begin("shuffle")
      assert(shuffled().collect().length === 7)
      val f = p.drain()
      assert(f.jobs >= 1 && f.stages >= 1 && f.tasks >= 1, f)
      assert(f.shuffleWriteBytes > 0 && f.shuffleReadBytes > 0, f)
      assert(f.taskRunSec >= 0 && f.taskCpuSec >= 0, f)
      assert(f.topJobs.nonEmpty && f.topJobs.size <= Profile.TopJobs, f)
      assert(f.topJobs.map(_.sec) === f.topJobs.map(_.sec).sortBy(-_), f)
    }
  }

  test("the top job's call site names the calling file") {
    withProfile { p =>
      p.begin("site")
      shuffled().collect(): Unit
      val sites = p.drain().topJobs.map(_.site)
      assert(sites.exists(_.contains("ProfileSpec.scala")), sites)
    }
  }

  test("a drain taken right after the action includes its last job") {
    withProfile { p =>
      // a collect of a bare range is exactly one job (no exchange, so no
      // AQE stage jobs): n actions must drain as n jobs, the last included
      for (n <- 1 to 5) {
        p.begin(s"jobs-$n")
        (1 to n).foreach(_ => spark.range(0, 100, 1, 2).collect(): Unit)
        val f = p.drain()
        assert(f.jobs === n, s"$n actions drained $f")
      }
    }
  }

  test("a second drain returns zeros") {
    withProfile { p =>
      p.begin("twice")
      shuffled().collect(): Unit
      assert(p.drain().jobs > 0)
      assert(p.drain() === Profile.Fields(0, 0, 0, 0.0, 0.0, 0, 0, 0, Nil, 0, 0.0))
    }
  }
}
