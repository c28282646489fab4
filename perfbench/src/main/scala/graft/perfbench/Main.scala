package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, Sessions, SparkEntry, Tables}
import graft.etl.Merge
import graft.operators.{Documents, Similarity}
import graft.streaming.Streams

/** The benchmark's JVM half. `run.py` generates the inputs, starts this
  * main once per run and turns the raw record it writes (`raw.json`) into
  * metrics and output checks.
  *
  * Arguments are `key=value` pairs:
  *   workload  serve_mix | ingest_stream
  *   seed      permutes the query order (serve_mix)
  *   passes    whole passes over the mix in the window (serve_mix)
  *   seconds   length of the release window (ingest_stream)
  *   trace     0 | 1 — 1 registers the listeners and records spans from
  *             the second half of the passes (serve_mix) or the third tick
  *             (ingest_stream) on; the part before is the untraced baseline
  *             for the tracing overhead
  *   cpus      local[cpus]
  *   work      run directory: data/r<k> replicas, stream/ batches, out/
  *   reps      set-ups per run (setup_s is their median)
  *   mix       comma-separated query-name prefixes (serve_mix)
  *   period_ms batch release period (ingest_stream)
  *   compact   compaction every N ticks (ingest_stream)
  */
object Main {
  final case class Req(name: String, span: Long, startMs: Double,
                       endMs: Double, ok: Boolean, buildS: Double,
                       traced: Boolean, err: String, rows: Long)

  private var trace: Option[Trace] = None
  private val reqs = mutable.ArrayBuffer.empty[Req]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val layer = mutable.LinkedHashMap.empty[String, Any]
  private val stagingRdds = mutable.ArrayBuffer.empty[Double]
  private val stagingBytes = mutable.ArrayBuffer.empty[Double]
  private var gcMsAtTraceStart = 0L

  private val started = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = new File(a("work")).getAbsolutePath
    val out = s"$work/out"
    new File(out).mkdirs()
    val env = mutable.LinkedHashMap[String, Any](
      "loadavg_start" -> graft.Bench.loadavg(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> org.apache.spark.SPARK_VERSION)
    val setups = mutable.ArrayBuffer.empty[Double]
    val setupBuild = mutable.ArrayBuffer.empty[Double]
    val reps = a("reps").toInt
    val cpus = a("cpus")
    var spark: SparkSession = null
    // Each set-up runs the workload's first-touch work against its own
    // replica of the inputs; artifacts key on the input path, so every
    // replica pays its own builds. The first set-up also starts the session
    // and warms the JVM.
    def setUp(body: (SparkSession, Int) => Unit): Unit =
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        if (spark == null) {
          spark = Sessions.local(cpus, "perfbench")
          spark.sparkContext.setLogLevel("ERROR")
          spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
        }
        body(spark, r)
        setups += (System.nanoTime() - t0) / 1e9
        setupBuild += Merge.drainBuildSec()
        mark(s"set-up $r done")
      }
    val windowS = a("workload") match {
      case "serve_mix" => serve(a, work, setUp, () => spark)
      case "ingest_stream" => ingest(a, work, setUp, () => spark)
      case w => sys.error(s"unknown workload $w")
    }
    mark("window and checks done")
    env("probe_cpu_sec") = graft.Bench.probeMin(() => graft.Bench.cpuProbeSec())
    env("probe_codec_sec") = graft.Bench.probeMin(() => graft.Bench.codecProbeSec())
    env("loadavg_end") = graft.Bench.loadavg()
    spark.stop() // drains the listener bus before the trace is written
    layer("rss_hwm_kb") = vmHwmKb()
    val j = new Json
    j.obj {
      j.field("env", env.toMap)
      j.field("setup_s", setups.toSeq)
      j.field("setup_build_s", setupBuild.toSeq)
      j.field("window_s", windowS)
      j.field("layer", layer.toMap)
      j.field("staging_rdds", stagingRdds.toSeq)
      j.field("staging_bytes", stagingBytes.toSeq)
      j.key("requests"); j.arr(reqs.toSeq) { r =>
        j.obj {
          j.field("name", r.name); j.field("span", r.span)
          j.field("start_ms", r.startMs); j.field("end_ms", r.endMs)
          j.field("ok", r.ok); j.field("build_s", r.buildS)
          j.field("traced", r.traced); j.field("err", r.err)
          j.field("rows", r.rows)
        }
      }
      j.key("checks"); j.arr(checks.toSeq) { case (n, ok, d) =>
        j.obj { j.field("name", n); j.field("ok", ok); j.field("detail", d) }
      }
      trace.foreach { t =>
        j.key("spans"); j.arr(t.spans.toSeq) { s =>
          j.raw(s"[${s.id},${s.parent},${Json.str(s.name)},${s.startMs},${s.endMs}]")
        }
        j.key("jobs"); j.arr(t.jobs.toSeq) { jr =>
          j.raw(s"[${jr.jobId},${jr.span},${jr.startMs},${jr.endMs},${jr.stages.mkString("[", ",", "]")}]")
        }
        j.key("stages"); j.obj {
          t.stages.foreach { case (id, s) =>
            j.key(id.toString)
            j.raw(Seq(s.tasks, s.runMs, s.cpuNs, s.gcMs, s.schedDelayMs,
              s.peakMem, s.shufWrite, s.shufRead, s.fetchWaitMs, s.spill,
              s.inBytes, s.inRows, s.outBytes).mkString("[", ",", "]"))
          }
        }
        j.key("progress"); j.arr(t.progress.toSeq) { case (b, d, n) =>
          j.obj { j.field("batch", b); j.field("rows", n); j.field("ms", d) }
        }
      }
    }
    Files.write(Paths.get(s"$out/raw.json"), j.result.getBytes("UTF-8"))
    mark("record written")
  }

  // ── shared per-request machinery ──────────────────────────────────────

  /** Run one request: time it, attribute artifact builds, and in a traced
    * window sample staging and wrap it in a request span. */
  private def request(spark: SparkSession, name: String, parent: Long)(
      body: Long => Long): Boolean = {
    val id = Clock.newId()
    val t0 = Clock.nowMs
    var err = ""
    var rows = 0L
    val sc = spark.sparkContext
    if (trace.isDefined) sc.setLocalProperty(Trace.SpanProp, id.toString)
    try rows = body(id)
    catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    finally sc.setLocalProperty(Trace.SpanProp, null)
    val t1 = Clock.nowMs
    val build = Merge.drainBuildSec()
    trace.foreach { t =>
      t.add(Span(id, parent, s"request:$name", t0, t1))
      val info = sc.getRDDStorageInfo
      stagingRdds += sc.getPersistentRDDs.size.toDouble
      stagingBytes += info.map(i => i.memSize + i.diskSize).sum.toDouble
    }
    reqs += Req(name, id, t0, t1, err.isEmpty, build, trace.isDefined, err, rows)
    if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
    err.isEmpty
  }

  /** Child span under `parent` when tracing, plain call otherwise. */
  private def phase[T](spark: SparkSession, parent: Long, name: String)(
      body: => T): T = trace match {
    case Some(t) => t.span(spark.sparkContext, parent, name, Clock.newId())(body)
    case None => body
  }

  /** Register the listeners and start recording spans; JVM-wide GC and
    * heap counters restart here so they cover only the traced half. */
  private def startTrace(spark: SparkSession, on: Boolean): Unit =
    if (on && trace.isEmpty) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.streams.addListener(t.streamListener)
      trace = Some(t)
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .foreach(_.resetPeakUsage())
      gcMsAtTraceStart = gcMs()
    }

  private def finishJvmLayer(): Unit = if (trace.isDefined) {
    import scala.jdk.CollectionConverters._
    layer("jvm_gc_ms") = gcMs() - gcMsAtTraceStart
    layer("jvm_heap_peak_bytes") =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private def vmHwmKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  // ── serve_mix ─────────────────────────────────────────────────────────

  /** Closed loop, one client: whole passes over the mix, each in a fresh
    * seeded order, until the window is spent. The timed action is
    * `collect()`: the rows a caller receives, which every execution is
    * checked on. */
  private def serve(a: Map[String, String], work: String,
      setUp: ((SparkSession, Int) => Unit) => Unit,
      session: () => SparkSession): Double = {
    val prefixes = a("mix").split(",").toSeq
    val registry = SparkEntry.queries
    val mix = prefixes.map(p => registry.find(_._1.startsWith(p + "_"))
      .getOrElse(sys.error(s"no query $p")))
    val rng = new scala.util.Random(a("seed").toLong)
    val reference = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val dataDir = (r: Int) => s"$work/data/r$r"
    def execute(spark: SparkSession, d: String, name: String,
                fn: (SparkSession, String) => DataFrame, parent: Long): Unit = {
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      val ok = request(spark, name, parent) { id =>
        val (df, got) = query(spark, id)(fn(spark, d))
        rows = got
        schema = df.schema
        rows.length.toLong
      }
      if (ok) reference.get(name) match {
        case None => reference(name) = (rows, schema)
        case Some((ref, _)) =>
          if (!ref.sameElements(rows)) {
            checks += ((s"repeat:$name", false,
              s"execution returned ${rows.length} rows that differ from the first execution's ${ref.length}"))
            reqs(reqs.length - 1) = reqs.last.copy(ok = false, err = "wrong answer")
          }
      }
    }
    setUp { (spark, r) =>
      // the first-touch pass: artifact builds, codegen, footer reads
      rng.shuffle(mix).foreach { case (n, fn) =>
        execute(spark, dataDir(r), n, fn, 0L)
      }
      // set-up executions are not part of the window, but a failed one is
      // a failed check
      reqs.filter(!_.ok).foreach(q => checks += ((s"setup:${q.name}", false, q.err)))
      reqs.clear()
    }
    val spark = session()
    val d = dataDir(a("reps").toInt)
    val passes = a("passes").toInt
    val t0 = Clock.nowMs
    // A fixed number of whole passes keeps every query equally weighted
    // and the sample count, hence the tail percentile, the same run to run.
    // A traced run traces its second half only.
    for (k <- 0 until passes) {
      startTrace(spark, a("trace") == "1" && k >= passes / 2)
      val root = trace.map(_ => Clock.newId()).getOrElse(0L)
      rng.shuffle(mix).foreach { case (n, fn) => execute(spark, d, n, fn, root) }
    }
    val window = (Clock.nowMs - t0) / 1000
    mark("window done")
    finishJvmLayer()
    // every query of the mix must have returned a result to check
    mix.foreach { case (n, _) =>
      if (!reference.contains(n))
        checks += ((s"result:$n", false, "no execution returned a result"))
    }
    // results for the oracle compare, written outside every timed region
    reference.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/out/results/$n")
    }
    val oracle = SparkEntry.oracleSql
    val j = new Json
    j.obj { mix.foreach { case (n, _) => oracle.get(n).foreach(sql => j.field(n, sql)) } }
    Files.write(Paths.get(s"$work/out/oracle_sql.json"), j.result.getBytes("UTF-8"))
    window
  }

  /** One read: build the frame (`operators`), then collect it (`exec`).
    * When tracing, the action's Catalyst phases become `plans.*` spans: the
    * tracker times analysis while the frame is built and optimisation and
    * planning while the action runs, so they nest under construct and
    * action respectively. */
  private def query(spark: SparkSession, parent: Long)(
      build: => DataFrame): (DataFrame, Array[Row]) = {
    val sc = spark.sparkContext
    trace match {
      case None =>
        val df = build
        (df, df.collect())
      case Some(t) =>
        val (cId, aId) = (Clock.newId(), Clock.newId())
        val df = t.span(sc, parent, "operators.construct", cId)(build)
        val rows = t.span(sc, parent, "exec.action", aId)(df.collect())
        df.queryExecution.tracker.phases.foreach { case (p, s) =>
          t.add(Span(Clock.newId(), if (p == "analysis") cId else aId,
            s"plans.$p", s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
        (df, rows)
    }
  }

  // ── ingest_stream ─────────────────────────────────────────────────────

  /** Open loop of writes beside reads. A generator thread releases one
    * pre-written batch (documents, embeddings, takedowns) per period by
    * renaming its files into the watched directories and never waits for
    * the consumer. The consumer ticks whenever a batch is waiting: drain
    * the three sinks, run the incremental pipeline pass, probe. */
  private def ingest(a: Map[String, String], work: String,
      setUp: ((SparkSession, Int) => Unit) => Unit,
      session: () => SparkSession): Double = {
    val stream = s"$work/stream"
    val nBatches = new File(s"$stream/staged").list().count(_.startsWith("b"))
    val periodMs = a("period_ms").toLong
    val compactEvery = a("compact").toInt
    val K = Documents.DupSpanK
    val terms = Seq("hash", "join", "scan")
    var root = ""
    def roots(r: Int) = s"$work/wh/r$r"
    def p(name: String) = s"$root/$name"
    def baseDocs(s: SparkSession) = s.read.schema(Tables.documentsSchema).parquet(s"$stream/base_docs")
    def baseVecs(s: SparkSession) = s.read.schema(Tables.embeddingsSchema).parquet(s"$stream/base_vecs")
    val delSchema = org.apache.spark.sql.types.StructType(
      Tables.documentsSchema.filter(f => f.name == "doc_id" || f.name == "text"))
    // The generator renames a batch from staged/ into landing/; the
    // consumer admits every landed batch at the start of a tick by renaming
    // it into the watched in/ directories, so a batch that lands mid-tick
    // is never picked up by only some of the sinks.
    def move(from: String, to: String, batch: String): Unit =
      for (kind <- Seq("docs", "vecs", "dels")) {
        new File(s"$to/$kind").mkdirs()
        Files.move(Paths.get(s"$from/$batch/$kind.parquet"),
          Paths.get(s"$to/$kind/$batch.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
    def release(batch: String): Unit = {
      new File(s"$stream/landing/$batch").mkdirs()
      for (kind <- Seq("docs", "vecs", "dels"))
        Files.move(Paths.get(s"$stream/staged/$batch/$kind.parquet"),
          Paths.get(s"$stream/landing/$batch/$kind.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    var cents: DataFrame = null
    var sinkRows = 0L
    var tickNo = 0
    val compactStats = mutable.ArrayBuffer.empty[(Double, Long, Long)]
    val newRows = mutable.ArrayBuffer.empty[Double]
    var visibleMs = 0.0

    // The three sinks are independent streams over their own directories;
    // they run side by side, as a deployment would run them.
    def startSinks(spark: SparkSession, parent: Long) = {
        val in = s"$root/in"
        Seq("docs", "vecs", "dels").foreach(k => new File(s"$in/$k").mkdirs())
        val sinks = Seq[(String, () => org.apache.spark.sql.streaming.StreamingQuery)](
          "dupSpanSink" -> (() => Streams.dupSpanSink(
            spark.readStream.schema(Tables.documentsSchema).parquet(s"$in/docs"),
            p("gram_ledger"), p("span_feed"), p("ckpt/span"))),
          "ivfIngestSink" -> (() => Streams.ivfIngestSink(
            Similarity.withNorm(spark.readStream.schema(Tables.embeddingsSchema)
              .parquet(s"$in/vecs")), p("ivf_post"), p("ckpt/ivf"))),
          "bm25RetractSink" -> (() => Streams.bm25RetractSink(
            spark.readStream.schema(delSchema).parquet(s"$in/dels"),
            p("bm25/post"), p("bm25/stats"), p("bm25/df"), p("bm25/del"),
            p("ckpt/bm25"))))
        val started = sinks.map { case (n, start) =>
          val sid = Clock.newId()
          if (trace.isDefined) spark.sparkContext.setLocalProperty(Trace.SpanProp, sid.toString)
          (n, sid, Clock.nowMs, start())
        }
        if (trace.isDefined) spark.sparkContext.setLocalProperty(Trace.SpanProp, parent.toString)
        started
    }
    def awaitSinks(started: Seq[(String, Long, Double, org.apache.spark.sql.streaming.StreamingQuery)],
                   parent: Long): Unit =
    {
      // poll rather than await in order, so each sink's span ends when it does
      var left = started
      while (left.nonEmpty) {
        val (done, running) = left.partition(!_._4.isActive)
        done.foreach { case (n, sid, t0, q) =>
          trace.foreach(_.add(Span(sid, parent, s"streaming.$n", t0, Clock.nowMs)))
          q.exception.foreach(e => throw e)
        }
        left = running
        if (left.nonEmpty) Thread.sleep(5)
      }
    }

    def tick(spark: SparkSession, name: String, parent: Long): Boolean =
      request(spark, name, parent) { id =>
        val started = startSinks(spark, id)
        // the reference's resume-safe rescan is a dataflow of its own and
        // runs on the client thread while the streams drain
        phase(spark, id, "pipeline.pass") {
          val fs = new org.apache.hadoop.fs.Path(p("pipeline_sink"))
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val sink = if (fs.exists(new org.apache.hadoop.fs.Path(p("pipeline_sink"))))
            spark.read.parquet(p("pipeline_sink")) else Pipeline.emptySink(spark)
          Merge.mergeWrite(Pipeline.runIncrementalPass(spark, sink), "url", p("pipeline_sink"))
          val n = spark.read.parquet(p("pipeline_sink")).count()
          newRows += (n - sinkRows).toDouble
          sinkRows = n
        }
        awaitSinks(started, id)
        val rows = probe(spark, id)
        visibleMs = Clock.nowMs
        tickNo += 1
        // compaction runs after the probes of every `compactEvery`-th tick
        // (in a traced run, the traced one): it delays the next batch, not
        // this one's freshness
        if (tickNo % compactEvery == 0) phase(spark, id, "etl.compact") {
          val t0 = System.nanoTime()
          val cs = Seq(Streams.compactDupSpanFeed(spark, p("span_feed")),
            Documents.compactGramLedger(spark, p("gram_ledger")),
            Similarity.compactIvfPostings(spark, p("ivf_post")),
            Documents.compactBm25Retract(spark, p("bm25/post"), p("bm25/del")))
          compactStats += (((System.nanoTime() - t0) / 1e9,
            cs.map(_._1.toLong).sum, cs.map(_._2.toLong).sum))
        }
        rows
      }
    // read back what was just written: the published span feed, a
    // q141-style IVF probe under the frozen quantizer, a BM25 search
    // (before the first batch, the span feed and the takedown tombstones do
    // not exist yet, and their reads are skipped)
    def probe(spark: SparkSession, id: Long): Long = {
      def when(path: String)(build: => DataFrame) =
        if (new File(p(path)).exists) Some(query(spark, id)(build)) else None
      Seq(when("span_feed")(Streams.dupSpanFeed(spark, p("span_feed"))),
          when("ivf_post")(Similarity.ivfProbeWith(Similarity.readPostings(spark, p("ivf_post")),
            cents, nprobe = 1, k = 5, dedupPairs = true)),
          when("bm25/del")(bm25Net(spark)))
        .flatten.map(_._2.length.toLong).sum
    }
    def bm25Net(spark: SparkSession): DataFrame =
      Documents.bm25ProbeNet(Merge.readArtifact(spark, p("bm25/post")),
        Documents.readBm25Tombstones(spark, p("bm25/del")),
        Merge.readArtifact(spark, p("bm25/df")),
        Documents.bm25StatsTotal(Merge.readArtifact(spark, p("bm25/stats"))),
        terms, 20)

    setUp { (spark, r) =>
      root = roots(r)
      val docs = baseDocs(spark)
      Documents.appendBm25(p("bm25/post"), p("bm25/stats"), p("bm25/df"),
        docs.select("doc_id", "text"), "base")
      Documents.appendGramLedger(p("gram_ledger"), docs, K, "base")
      val vecs = Similarity.withNorm(baseVecs(spark))
      Similarity.appendIvfBatch(p("ivf_post"), vecs, "base")
      cents = Merge.materialize(spark, p("ivf_cents"), Similarity.trainCentroids(vecs))
      Merge.mergeWrite(Pipeline.runIncrementalPass(spark, Pipeline.emptySink(spark)),
        "url", p("pipeline_sink"))
      sinkRows = spark.read.parquet(p("pipeline_sink")).count()
    }
    val spark = session()
    val windowMs = a("seconds").toDouble * 1000
    val traced = a("trace") == "1"
    // generator: batch i is due at t0 + i * period and only ever renamed
    val released = new java.util.concurrent.LinkedBlockingQueue[(Int, Double)]()
    val releasedMs = Array.fill(nBatches)(-1.0)
    val t0 = Clock.nowMs + 200
    val lastBatch = math.min(nBatches, math.ceil(windowMs / periodMs).toInt) - 1
    @volatile var stop = false
    val gen = new Thread(() => {
      var i = 0
      while (!stop && i < nBatches && (i * periodMs) < windowMs) {
        val at = t0 + i * periodMs
        val wait = at - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (!stop) {
          release(f"b$i%04d")
          releasedMs(i) = Clock.nowMs
          released.put((i, at))
        }
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    val batches = mutable.ArrayBuffer.empty[(Int, Double, Double, Double, Double, Boolean)]
    var rootSpan = 0L
    // batches released inside the window are all made visible; those still
    // queued when the window closes are the backlog
    var backlog = -1
    while (Clock.nowMs - t0 < windowMs || !released.isEmpty || gen.isAlive) {
      if (backlog < 0 && Clock.nowMs - t0 >= windowMs) { stop = true; backlog = released.size }
      val first = released.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (first != null) {
        val more = new java.util.ArrayList[(Int, Double)]()
        released.drainTo(more)
        import scala.jdk.CollectionConverters._
        val pending = first +: more.asScala.toSeq
        // a traced run traces from its third tick on: the first is cold and
        // the second is the warm untraced baseline for the overhead. Should
        // the batches bunch up into fewer ticks, the last tick is traced.
        if (traced && trace.isEmpty &&
            (tickNo >= 2 || (tickNo >= 1 && pending.exists(_._1 == lastBatch)))) {
          startTrace(spark, on = true)
          rootSpan = Clock.newId()
        }
        val tickStart = Clock.nowMs
        pending.foreach { case (i, _) => move(s"$stream/landing", s"$root/in", f"b$i%04d") }
        val ok = tick(spark, s"tick${pending.map(_._1).mkString("+")}", rootSpan)
        // a batch is fresh once the tick's probes have read it back
        if (ok) pending.foreach { case (i, at) =>
          batches += ((i, at, releasedMs(i), tickStart, visibleMs, trace.isDefined))
        }
      }
    }
    stop = true
    gen.join()
    val window = (Clock.nowMs - t0) / 1000
    mark("window done")
    finishJvmLayer()
    val admitted = batches.map(_._1).toSet
    val releasedSet = (0 until nBatches).filter(releasedMs(_) >= 0).toSet
    checks += (("stream:admitted", admitted == releasedSet,
      s"${admitted.size} of ${releasedSet.size} released batches made visible"))
    layer("backlog_batches") = math.max(0, backlog).toLong
    layer("compact") = compactStats.map { case (s, b, f) => Seq(s, b.toDouble, f.toDouble) }.toSeq
    layer("pipeline_new_rows") = newRows.toSeq
    layer("generator_late_ms") = (0 until nBatches).filter(releasedMs(_) >= 0)
      .map(i => releasedMs(i) - (t0 + i * periodMs)).toSeq
    layer("batches") = batches.map { case (i, at, rel, ts, end, tr) =>
      Seq(i.toDouble, at, rel, ts, end, if (tr) 1.0 else 0.0) }.toSeq
    // ── output checks, outside every timed region ──
    // releases after the last tick are not admitted: their files must not
    // count toward the expected state, so only batches that ticked do
    val names = admitted.toSeq.sorted.map(i => f"b$i%04d")
    def admittedOf(kind: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val paths = names.map(n => s"$root/in/$kind/$n.parquet")
      spark.read.schema(schema).parquet(paths: _*)
    }
    val allDocs = baseDocs(spark).unionByName(admittedOf("docs", Tables.documentsSchema))
    val (got, want) = (Documents.gramLedgerCounts(spark, p("gram_ledger")), Documents.gramCounts(allDocs, K))
    checks += (("stream:gram_ledger", got.count() == want.count() && got.exceptAll(want).isEmpty,
      "streamed gram ledger vs gram counts over base + admitted documents"))
    val sink = spark.read.parquet(p("pipeline_sink"))
    val (n, keys) = (sink.count(), sink.select("url").distinct().count())
    checks += (("stream:pipeline_sink", n > 0 && n == keys && newRows.forall(_ == 0.0),
      s"$n rows, $keys distinct keys; rescans after the first pass added ${newRows.sum} rows"))
    // final reads for the oracle: a BM25 search over the retracted index and
    // an IVF probe over the streamed postings with the quantizer retrained
    bm25Net(spark).coalesce(1).write.mode("overwrite").parquet(s"$work/out/results/stream_bm25")
    val post = Similarity.readPostings(spark, p("ivf_post"))
    Similarity.ivfProbeWith(post, Similarity.trainCentroids(post.dropDuplicates(Seq("vec_id"))),
        nprobe = 1, k = 5, dedupPairs = true)
      .coalesce(1).write.mode("overwrite").parquet(s"$work/out/results/stream_ivf")
    val j = new Json
    j.obj { j.field("admitted", names); j.field("root", root) }
    Files.write(Paths.get(s"$work/out/admitted.json"), j.result.getBytes("UTF-8"))
    val q = new Json
    q.obj { Seq("q122_bm25_search", "q86_ivf_indexed").foreach(n => q.field(n, SparkEntry.oracleSql(n))) }
    Files.write(Paths.get(s"$work/out/oracle_sql.json"), q.result.getBytes("UTF-8"))
    window
  }
}

/** Minimal JSON writer: the benchmark's record is flat enough that a
  * dependency would be heavier than this. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  def key(k: String): Unit = { sep(); sb.append(Json.str(k)).append(':'); first = true }
  def raw(v: String): Unit = { sep(); sb.append(v) }
  def obj(body: => Unit): Unit = { sep(); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def arr[T](xs: Seq[T])(f: T => Unit): Unit = {
    sep(); sb.append('['); first = true; xs.foreach(f); sb.append(']'); first = false
  }
  def field(k: String, v: Any): Unit = { key(k); value(v) }
  def value(v: Any): Unit = v match {
    case s: String => raw(Json.str(s))
    case b: Boolean => raw(b.toString)
    case d: Double => raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Long => raw(n.toString)
    case n: Int => raw(n.toString)
    case m: Map[_, _] => obj { m.foreach { case (k, x) => field(k.toString, x) } }
    case xs: Seq[_] => arr(xs)(value)
    case other => raw(Json.str(String.valueOf(other)))
  }
  def result: String = sb.toString
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
