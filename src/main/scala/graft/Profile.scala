package graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Per-query execution profile, drained the way [[graft.etl.Merge]]
  * drains artifact-build seconds: [[begin]] opens a query's window (and
  * its Spark job group), [[drain]] returns everything since and opens the
  * next. One `SparkListener` counts jobs, stages and tasks, executor run
  * and CPU time, shuffle and spill bytes, and keeps each job's duration
  * and call site. The site is the one Spark records for the job's SQL
  * execution (`count at Documents.scala:<line>`): adaptive execution
  * submits a query's stage jobs, its result stage included, from a
  * thread pool, so the stage names of those jobs carry no user frame. A job outside
  * any SQL execution (an RDD action such as Bench's `toRdd.count()`)
  * falls back to its result stage's name. Two public, monotonic JVM-wide
  * counters give the Janino compiles and their seconds
  * (`CodegenMetrics.METRIC_COMPILATION_TIME`, one sample per compile, and
  * `CodeGenerator.compileTime` in ns — in local mode driver and executor
  * share the JVM), read against a watermark rather than reset. Every
  * field is additive over the window.
  *
  * The listener bus is asynchronous, so [[drain]] first waits — at most
  * [[SettleMs]] — until the listener has seen the end of every job the
  * public `SparkStatusTracker` lists for the window's job group; a drain
  * taken right after an action then includes that action's last job.
  * Jobs of threads outside the group (a stream's micro-batches) are
  * counted but not waited for.
  *
  * Installed only by the Bench, SpotBench and Verify mains —
  * `Sessions.local` does not, so tests and the benchmark never run it. */
final class Profile private (sc: SparkContext) extends SparkListener {
  import Profile._

  private var acc = new Acc
  private var codegenSeen = codegenNow()
  private var group: Option[String] = None
  private var windows = 0L
  private val jobStart = collection.mutable.Map.empty[Int, (Long, String)]
  private val execSite = collection.mutable.Map.empty[Long, String]
  private val jobsEnded = collection.mutable.Set.empty[Int]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // with no job description set, an execution's description is its
    // call site
    case x: SparkListenerSQLExecutionStart =>
      synchronized { execSite(x.executionId) = x.description }
    case x: SparkListenerSQLExecutionEnd =>
      synchronized { execSite.remove(x.executionId) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => execSite.get(id.toLong))
    // the result stage is created last, so it has the job's highest id
    def resultStage = e.stageInfos.find(_.stageId == e.stageIds.max)
      .map(_.name).getOrElse("")
    jobStart(e.jobId) = (e.time, exec.getOrElse(resultStage))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (t0, site) = jobStart.remove(e.jobId).getOrElse((e.time, ""))
    acc.jobs += 1
    acc.jobTimes :+= Job(e.jobId, (e.time - t0) / 1e3, site)
    jobsEnded += e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      acc.taskRunMs += m.executorRunTime
      acc.taskCpuNs += m.executorCpuTime
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.diskBytesSpilled
    }
  }

  /** Opens `query`'s window: its jobs run in their own job group (the
    * calling thread's, inherited by the threads it starts), and what ran
    * before is drained away. The group has no description, which would
    * replace the executions' call sites. */
  def begin(query: String): Unit = {
    drain(): Unit
    windows += 1
    val g = s"graft-profile-$windows-$query"
    sc.setJobGroup(g, null)
    synchronized { group = Some(g) }
  }

  /** Everything since the previous [[begin]]/[[drain]]. */
  def drain(): Fields = {
    val ids = synchronized(group).toSeq
      .flatMap(sc.statusTracker.getJobIdsForGroup(_))
    val deadline = System.nanoTime() + SettleMs * 1000000L
    while (synchronized(!ids.forall(jobsEnded.contains)) &&
           System.nanoTime() < deadline)
      Thread.sleep(5)
    val now = codegenNow()
    synchronized {
      val a = acc
      acc = new Acc
      val f = Fields(a.jobs, a.stages, a.tasks, a.taskRunMs / 1e3,
        a.taskCpuNs / 1e9, a.shuffleRead, a.shuffleWrite, a.spill,
        a.jobTimes.sortBy(j => (-j.sec, j.id)).take(TopJobs),
        now._1 - codegenSeen._1, math.max(0L, now._2 - codegenSeen._2) / 1e9)
      codegenSeen = now
      f
    }
  }

  /** Stops listening (a shared test context outlives its spec). */
  def close(): Unit = sc.removeSparkListener(this)
}

object Profile {

  /** Longest jobs each window keeps, with their call sites. */
  val TopJobs = 3

  /** Upper bound on [[Profile.drain]]'s wait for the listener bus. */
  val SettleMs = 10000L

  /** One finished job: id, wall seconds, call site. */
  case class Job(id: Int, sec: Double, site: String)

  /** One window's profile. */
  case class Fields(jobs: Long, stages: Long, tasks: Long,
                    taskRunSec: Double, taskCpuSec: Double,
                    shuffleReadBytes: Long, shuffleWriteBytes: Long,
                    spillBytes: Long, topJobs: Seq[Job],
                    codegenCompiles: Long, codegenCompileSec: Double) {
    /** The fields as JSON members, to splice into an object. */
    def json: String = {
      val top = topJobs.map(j =>
        f"""{"job":${j.id},"sec":${j.sec}%.3f,"site":${quote(j.site)}}""")
        .mkString("[", ",", "]")
      f""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      f""""task_run_s":$taskRunSec%.3f,"task_cpu_s":$taskCpuSec%.3f,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""top_jobs":$top,"codegen_compiles":$codegenCompiles,""" +
      f""""codegen_compile_sec":$codegenCompileSec%.4f"""
    }
  }

  private class Acc {
    var jobs, stages, tasks, taskRunMs, taskCpuNs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var jobTimes = Vector.empty[Job]
  }

  private def codegenNow(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Registers a profile on `spark`'s context; its first window opens now. */
  def install(spark: SparkSession): Profile = {
    val p = new Profile(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in oracle SQL (or a call site) would otherwise
    * make a reader's `json.load` fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
