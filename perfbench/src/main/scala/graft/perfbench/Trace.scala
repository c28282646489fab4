package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `parent` is the id of the span that caused it (0 for
  * the run root); times are epoch milliseconds as doubles so benchmark
  * spans (nanoTime-based) and listener spans (event clocks) share a line. */
final case class Span(id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double)

/** One clock and one id sequence for every span of the run. Times are
  * epoch milliseconds taken from the monotonic clock, so they line up with
  * the listener's event times to within clock resolution. */
object Clock {
  private val clock0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  def nowMs: Double = clock0Ms + (System.nanoTime() - nano0) / 1e6
  def newId(): Long = ids.incrementAndGet()
}

/** Task-level sums for one stage, from the listener. */
final class StageSums {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var peakMem = 0L
  var shufWrite = 0L
  var shufRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inBytes = 0L
  var inRows = 0L
  var outBytes = 0L
}

final case class JobRec(jobId: Int, span: Long, startMs: Double,
                        var endMs: Double, stages: Seq[Int])

/** Span store plus the two listeners. Spans live in memory and are written
  * once when the run ends. A request parents its jobs by setting the local
  * property [[SpanProp]] before each call into the engine; Spark copies it
  * into every job the calling thread (or a stream thread it starts)
  * launches. */
object Trace {
  val SpanProp = "perfbench.span"
}

final class Trace {
  import Trace.SpanProp
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageSums]
  val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long], Long)]

  /** Time `body` as a child span of `parent`, with the span property set
    * so jobs started inside parent to it. */
  def span[T](sc: org.apache.spark.SparkContext, parent: Long,
              name: String, id: Long)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      synchronized { spans += Span(id, parent, name, t0, t1) }
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  def add(s: Span): Unit = synchronized { spans += s }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      Trace.this.synchronized {
        jobs += JobRec(e.jobId, sp, e.time.toDouble, e.time.toDouble,
          e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      Trace.this.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, new StageSums)
        val info = e.taskInfo
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L))
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Micro-batch progress of every stream: (run id hash, durationMs,
    * input rows). */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val m = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      Trace.this.synchronized { progress += ((p.batchId, m, p.numInputRows)) }
    }
  }
}
