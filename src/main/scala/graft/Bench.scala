package graft

/** Driver-run benchmark: times every registered query at the given SF and
  * prints ONE JSON line. Failures are REPORTED, not swallowed: a failed
  * query records `-1` in the per-query map, is listed in `"errors"`, and
  * the process exits non-zero (VERDICT r1 "What's wrong" #1).
  *
  * CONTENTION-PROOFING (r3 VERDICT item 1): the sandbox is shared, and a
  * single timed pass per query once reported 30× phantom regressions
  * (BENCH_r03 q16/q52) that standalone re-timing showed were co-tenant
  * load. So each query is timed [[Passes]] times and the headline number
  * is the MIN (load can only inflate a pass, never deflate it); the mean
  * is reported alongside so drift stays visible, and each query carries
  * its previous round's time (parsed from the newest BENCH_r*.json in the
  * working directory) so a real regression self-diagnoses in the output
  * instead of needing a by-hand rerun.
  *
  * Output schema: `"queries"` stays `{name: seconds}` (the min — the
  * driver's documented contract), and `"queries_detail"` carries
  * `{name: {"min","mean","prev","load","reruns"}}` per query (`"prev"`
  * null when the query is new or no prior bench file exists; `"load"` =
  * /proc/loadavg 1-min at the start of the min-producing pass; `"reruns"`
  * = extra passes granted by the outlier re-run rule;
  * `"artifact_build_sec"` = first-touch artifact builds;
  * `"construct_s"` = the min pass's `fn(spark, d)` call, inside its time;
  * `"analysis_s"`/`"optimization_s"`/`"planning_s"` = the min pass's
  * Catalyst phases (`queryExecution.tracker`); `"scans"` = FileScans per
  * source in the last pass's final adaptive plan, for sources scanned 2+
  * times; then the [[Profile]] fields over all the query's passes). Top
  * level adds
  * `"loadavg_start"`/`"loadavg_end"`/`"wall_sec"` so a contaminated run
  * is diagnosable from the artifact alone (r7 VERDICT item 1: two rounds
  * of poisoned media numbers). A query whose min still sits
  * >[[RerunFactor]]× above prev after [[RerunPasses]] extra passes is a
  * REAL regression — the re-run rule makes the artifact self-adjudicating
  * in both directions.
  *
  * An untimed warm-up pass runs first so q01 doesn't absorb session init /
  * codegen / parquet-footer costs — r1 showed 6.9 s for a ~1 s query purely
  * from JVM warm-up. The warm-up touches every parquet table family AND the
  * DSv2 FrontierSource (r3 item 8: q33/q55 used to pay first-use source
  * init in-measure). */
object Bench {

  /** Timed passes per query; min wins. 3 keeps the 57-query run under the
    * driver budget while making a single contended pass non-fatal. */
  val Passes = 3

  /** Extra passes granted to a query whose min regressed >[[RerunFactor]]×
    * vs its previous round (r7 VERDICT item 1: two consecutive rounds
    * shipped load-contaminated media numbers because a 3-pass min under a
    * busy co-tenant can still be 2-3× the idle time; re-running later in
    * the run usually lands on a quieter window). Re-runs stop early the
    * moment the min drops back under the factor. */
  val RerunPasses = 4
  val RerunFactor = 2.0

  /** LOAD GATE (r8 VERDICT item 1). The rerun rule can rescue a min from a
    * TRANSIENT load spike, but under SUSTAINED ambient load every pass is
    * inflated and reruns just measure the same contention again — r8's
    * committed artifact proved it (loadavg 2.8→5.5, half the mins 1.5–2×
    * their idle values, 4 reruns couldn't fix q48). The fix is to not
    * START a timed pass while the box is hot: spin-wait until the 1-min
    * loadavg drops under [[GateLoad]], bounded by a GLOBAL [[GateBudgetMs]]
    * of total waiting per run (a box that never quiets must not hang the
    * driver — the run proceeds and stamps itself `"gated": false`, which
    * tells the reader the mins may be inflated WITHOUT a by-hand
    * re-timing). Threshold 1.5: the judge's idle re-timings ran at ~1.1,
    * and our own decaying contribution between passes sits well under it
    * at sf0.1 pass lengths. */
  val GateLoad = 1.5
  // 5 min sufficed through the 87-query r10 surface; 12 min through 106
  // queries; at 133 the r17 run exhausted it mid-run again (gate_wait
  // 720 s, tail flagged ungated on an idle box — the load being gated
  // against is mostly our own passes' 1-min decay). Scale with the
  // surface instead of chasing it: ~10 s of budget per registered query.
  // `lazy` (ADVICE r17): touching the registry size forces eager init of
  // every operator object; tools that only want gate()/loadavg()
  // (SpotBench) must not pay full registry construction at Bench init.
  lazy val GateBudgetMs = 10 * 1000L * graft.SparkEntry.queries.size

  /** Milliseconds of gate budget spent so far this run. */
  private var gateSpentMs = 0L

  /** True while every timed pass so far started under [[GateLoad]]. */
  private var allGated = true

  /** Wait (within the remaining global budget) for loadavg < [[GateLoad]];
    * record whether THIS pass starts gated. Returns the loadavg observed
    * at release, which the caller stamps on the pass. */
  def gate(): Double = {
    var ld = loadavg()
    while (ld >= GateLoad && gateSpentMs < GateBudgetMs && ld >= 0) {
      Thread.sleep(2000)
      gateSpentMs += 2000
      ld = loadavg()
    }
    if (ld >= GateLoad) allGated = false
    ld
  }

  /** CONTAINER CALIBRATION (r16 VERDICT item 5): cross-round absolute
    * comparisons on single-thread codec paths (q67/q91/q113) proved
    * unreliable — r16's quiet-box forensics showed a 1.5× swing on
    * byte-identical code, i.e. the CONTAINER, not the code. These two
    * fixed probes stamp every bench header with the box's single-thread
    * speed so a reader can divide the container out: a codec query that
    * moved 1.5× alongside a 1.5× probe move is machine variance; one
    * that moved against a flat probe is a real regression.
    *
    * CPU probe: a 10^7-iteration FNV-style integer checksum loop —
    * pure ALU, no allocation, no syscalls; measures raw single-thread
    * throughput. */
  def cpuProbeSec(): Double = {
    val t0 = System.nanoTime()
    var acc = 1469598103934665603L
    var i = 0
    while (i < 10000000) { acc = (acc ^ i) * 1099511628211L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("") // keep the loop live
    dt
  }

  /** Codec probe: 8 encode+decode round-trips of a fixed 256×256 RGB
    * pattern through javax.imageio's PNG plugin — the exact
    * single-thread library path the media queries ride (deflate +
    * filter + color-model conversion), so it moves when THEY would. */
  def codecProbeSec(): Double = {
    // In-memory streams only (ADVICE r17): ImageIO's default disk cache
    // routes the write through a temp file, so on contended scratch disk
    // the probe would move for non-codec reasons — the opposite of its
    // purpose as a pure deflate+filter yardstick.
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(256, 256,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 256; x <- 0 until 256)
      img.setRGB(x, y, (x * 31 + y * 17) * 2654435761L.toInt)
    val t0 = System.nanoTime()
    var n = 0
    var sink = 0L
    while (n < 8) {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      sink += back.getRGB(128, 128)
      n += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.println("")
    dt
  }

  /** Min of `reps` probe runs — the same min-wins logic as query passes
    * (load can only inflate). */
  def probeMin(probe: () => Double, reps: Int = 5): Double =
    (1 to reps).map(_ => probe()).min

  /** 1-minute load average from /proc/loadavg (Linux); -1 when
    * unreadable. Recorded before every timed pass so a contaminated
    * number carries its own evidence in the artifact instead of needing a
    * by-hand re-timing to adjudicate. */
  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Per-query seconds out of a bench-file's text. The known flat shape
    * (`"queries":{"qNN_name":sec,…}`) is parsed with a regex — query keys
    * are the only `"qNN_…":number` pairs in the file — so no JSON
    * dependency. The driver's file embeds our stdout line as an ESCAPED
    * string (`\"qNN\":sec`), so the quotes may carry a backslash — `\\?`
    * accepts both framings (BenchSpec pins both). In our own output the
    * per-query DETAIL entries (`"qNN":{"min":…}`) don't match the flat
    * pattern (their value starts with `{`, not a digit) — they are parsed
    * SEPARATELY as a fallback, because the driver's wrapper TRUNCATES the
    * embedded stdout line from the front (BENCH_r07's tail starts
    * mid-detail and has lost the whole flat section — r8: prev silently
    * parsed empty and the outlier re-run rule had no baseline). The flat
    * value wins when both framings survive. */
  def parseQueryTimes(txt: String): Map[String, Double] = {
    def pairs(rx: scala.util.matching.Regex) =
      rx.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 >= 0) // a failed (-1) prev is no baseline
        .toVector
    val detail = pairs(
      """"(q\d+[A-Za-z0-9_]*)\\?"\s*:\s*\{\\?"min\\?"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r)
    val flat = pairs(
      """"(q\d+[A-Za-z0-9_]*)\\?"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r)
    (detail ++ flat).toMap // toMap keeps the last duplicate → flat wins
  }

  /** [[parseQueryTimes]] over EVERY `BENCH_r{N}.json` / `BENCH_r{N}_local
    * .json` in cwd, newest round first, per-query first-hit-wins. The old
    * newest-file-only lookup lost two rounds' baselines to the driver
    * wrapper's front-truncation (r19: the whole tail read `prev n/a`, so
    * the outlier re-run rule had no baseline to rescue anything) — a
    * query missing from the newest artifact now falls back to the most
    * recent round that still carries it. A malformed/missing file
    * degrades to "no prev", never a bench failure. */
  def prevQueryTimes(): Map[String, Double] =
    try {
      val rx = """BENCH_r(\d+)(_local)?\.json""".r
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          // driver artifact sorts before the same round's local record,
          // but both feed the per-query fallback
          case rx(n, loc) => Some(((n.toInt, if (loc == null) 1 else 0), f))
          case _ => None
        })
      files.sortBy(_._1).reverse.foldLeft(Map.empty[String, Double]) {
        case (acc, (_, f)) =>
          val txt = try {
            val src = scala.io.Source.fromFile(f, "UTF-8")
            try src.mkString finally src.close()
          } catch { case _: Throwable => "" }
          parseQueryTimes(txt) ++ acc // acc (newer files) wins
      }
    } catch { case _: Throwable => Map.empty }

  /** One query's bench result; seconds read -1 when the query failed.
    * `construct`/`phases` come from the min pass (-1 and zeros when the
    * query failed), `scans` from the last pass, `profile` from all of
    * them ([[Profile.drain]]). */
  case class Timed(min: Double, mean: Double, load: Double, reruns: Int,
                   capped: Boolean, buildSec: Double, construct: Double,
                   phases: Phases, scans: Seq[(String, Int)],
                   profile: Profile.Fields)

  /** Catalyst's analysis, optimization and planning seconds. */
  case class Phases(analysis: Double, optimization: Double, planning: Double)

  /** One successful pass: seconds, loadavg at its start, seconds of
    * `fn(spark, d)`, and the frame it ran. */
  private case class Pass(sec: Double, load: Double, construct: Double,
                          df: org.apache.spark.sql.DataFrame)

  /** A pass's phase times, from its `QueryPlanningTracker`. */
  private def phases(df: org.apache.spark.sql.DataFrame): Phases = {
    val ph = df.queryExecution.tracker.phases
    def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    Phases(sec("analysis"), sec("optimization"), sec("planning"))
  }

  /** FileScans per source in an executed frame's final adaptive plan,
    * sources scanned [[MinScans]]+ times, most-scanned first. A base table
    * scanned more than once after exchange reuse usually means an
    * expensive derivation (tokenize, shingle, parse) is re-evaluated per
    * reference — a staging candidate. */
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[(String, Int)] = {
    val tablePat = "([A-Za-z0-9_]+)\\.parquet".r
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0).linesIterator
      .filter(l => l.contains("FileScan") || l.contains("Scan parquet"))
      .flatMap(l => tablePat.findFirstMatchIn(l).map(_.group(1)))
      .toSeq.groupBy(identity).view.mapValues(_.size).toSeq
      .filter(_._2 >= MinScans).sortBy { case (t, n) => (-n, t) }
  }
  val MinScans = 2

  private def jnum(d: Double) = if (d < 0) "-1" else f"$d%.4f"
  private def jprev(p: Option[Double]) = p.map(v => f"$v%.4f").getOrElse("null")
  private def profileJson(t: Timed) = {
    val sc = t.scans.map { case (tb, n) => s"${Profile.quote(tb)}:$n" }
      .mkString("{", ",", "}")
    s""""construct_s":${jnum(t.construct)},"analysis_s":${jnum(t.phases.analysis)},"optimization_s":${jnum(t.phases.optimization)},"planning_s":${jnum(t.phases.planning)},"scans":$sc,${t.profile.json}"""
  }

  /** The query's line in `BENCH_stream.jsonl`. */
  def streamJson(name: String, t: Timed, prev: Option[Double]): String =
    s"""{"q":"$name","min":${jnum(t.min)},"mean":${jnum(t.mean)},"prev":${jprev(prev)},"load":${jnum(t.load)},"reruns":${t.reruns},"capped":${t.capped},"artifact_build_sec":${jnum(t.buildSec)},${profileJson(t)}}"""

  /** The query's entry in `queries_detail`; `min` stays its first key
    * ([[parseQueryTimes]] reads it there). */
  def detailJson(name: String, t: Timed, prev: Option[Double]): String =
    s""""$name":{"min":${jnum(t.min)},"mean":${jnum(t.mean)},"prev":${jprev(prev)},"load":${jnum(t.load)},"reruns":${t.reruns},"artifact_build_sec":${jnum(t.buildSec)},${profileJson(t)}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    val profile = Profile.install(spark)
    // warm-up: JIT the scan/agg/shuffle paths, read every table family's
    // parquet footers, and initialize the DSv2 source — all untimed
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().collect()
    Seq("orders", "customer", "supplier", "part", "nation", "region",
        "documents", "embeddings", "events")
      .foreach(t => Tables.load(spark, sfDir, t).count())
    spark.read.format("graft.sources.FrontierSource")
      .option("mode", "letters").load().count()
    // media codec warm-up (r9 VERDICT item 5): the first pass through
    // javax.imageio / javax.sound pays one-time plugin-registry scans and
    // JIT of the decode loops — q34's min read 2× its idle value purely
    // from first-use costs landing in-measure. One untimed pass through
    // the image+audio feature path and the GIF sequence reader moves that
    // cost here, where session init already lives.
    graft.multimodal.Media.mediaFeatures(spark, sfDir)
      .queryExecution.toRdd.count()
    graft.multimodal.Media.gifFrameStats(spark, sfDir)
      .queryExecution.toRdd.count()

    // calibration probes run AFTER warm-up (imageio registry loaded) and
    // before any timed pass; min-of-5 for the same reason query mins win
    val probeCpu = probeMin(() => cpuProbeSec())
    val probeCodec = probeMin(() => codecProbeSec())
    System.err.println(
      f"[bench] container probes: cpu $probeCpu%.4f s, codec $probeCodec%.4f s")

    val benchT0 = System.nanoTime()
    val loadStart = loadavg()
    val prev = prevQueryTimes()
    // DAMAGE TOLERANCE (r19 VERDICT item 1b): the r19 driver bench was
    // killed at rc 124 and left NO totals — the one output line never
    // printed. Per-query results now also stream to BENCH_stream.jsonl as
    // they land (one JSON object per line, written+flushed after each
    // query), so a timeout kill preserves everything measured up to the
    // kill, in a file the driver's stdout-wrapper cannot truncate.
    val streamPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM",
      "BENCH_stream.jsonl")
    val streamOut = try {
      Some(new java.io.PrintWriter(
        new java.io.FileWriter(streamPath, /* append = */ false)))
    } catch { case _: Throwable => None }
    // ... and one pathological query cannot eat the whole driver window:
    // once a query's ACCUMULATED timed seconds cross the cap, no further
    // passes (or reruns) are granted — the min-so-far ships, stamped
    // "capped" so the reader knows it saw fewer passes. 150 s is ~15× the
    // most expensive query's healthy sf0.1 time; a query that hits it is
    // already the artifact's loudest finding.
    val capSec = sys.env.get("SPARK_GRAFT_QUERY_CAP_SEC")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(150.0)
    var errors = List.empty[String]
    val results = SparkEntry.queries.map { case (name, fn) =>
      // one pass; None on failure
      def pass(): Option[Pass] = {
        val ld = gate() // spin-wait (bounded) for an idle box, then stamp
        val t0 = System.nanoTime()
        // toRdd executes the query's physical plan AS WRITTEN — df.count()
        // would let the optimizer prune every projected column and time an
        // empty scan instead of the actual kernels
        try { val df = fn(spark, sfDir)
              val t1 = System.nanoTime()
              df.queryExecution.toRdd.count()
              Some(Pass((System.nanoTime() - t0) / 1e9, ld, (t1 - t0) / 1e9, df)) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      def spent(ps: Vector[Pass]): Double = ps.map(_.sec).sum
      // artifact-build attribution (r21, VERDICT r20 item 8): drain the
      // warehouse build ledger so first-touch artifact builds triggered
      // by THIS query's passes are reported separately — the min still
      // includes nothing extra (warm passes dominate it), but the build
      // cost stops hiding inside whichever family member ran first
      graft.etl.Merge.drainBuildSec(): Unit
      profile.begin(name) // and profile its passes' jobs and compiles
      var passes = Vector.empty[Pass]
      var failed = false
      while (!failed && passes.length < Passes &&
             (passes.isEmpty || spent(passes) < capSec)) {
        pass() match {
          case Some(p) => passes :+= p
          case None => failed = true
        }
      }
      val ok = !failed && passes.nonEmpty
      val capped = ok && passes.length < Passes
      // load self-defense: a min that regressed >RerunFactor× vs prev is
      // more likely co-tenant contamination than a real regression (both
      // have happened; the artifact must distinguish them) — grant extra
      // passes until the min recovers or the budget is spent
      var reruns = 0
      if (ok && !capped) {
        val base = prev.get(name)
        while (reruns < RerunPasses && spent(passes) < capSec &&
               base.exists(p => passes.map(_.sec).min > RerunFactor * p)) {
          reruns += 1
          pass().foreach(passes :+= _)
        }
      }
      if (!ok) errors ::= name
      val buildSec = graft.etl.Merge.drainBuildSec() // this query's builds
      val times = passes.map(_.sec)
      // the pass that produced the min — its loadavg is the number a
      // reader needs to trust (or distrust) the headline
      val best = if (ok) Some(passes.minBy(_.sec)) else None
      val t = Timed(
        min = if (ok) times.min else -1.0,
        mean = if (ok) times.sum / times.length else -1.0,
        load = best.fold(-1.0)(_.load),
        reruns = reruns, capped = capped, buildSec = buildSec,
        construct = best.fold(-1.0)(_.construct),
        phases = best.fold(Phases(0, 0, 0))(b => phases(b.df)),
        scans = if (ok) scans(passes.last.df) else Nil,
        profile = profile.drain())
      val prevStr = prev.get(name).map(p => f"prev $p%7.2f s").getOrElse("prev     n/a")
      System.err.println(
        if (ok) f"[bench] $name%-24s min ${t.min}%7.2f s  mean ${t.mean}%7.2f s  $prevStr  load ${t.load}%5.1f" +
                (if (reruns > 0) s"  reruns $reruns" else "") +
                (if (buildSec > 0.05) f"  build $buildSec%.2f s" else "") +
                (if (capped) "  CAPPED" else "")
        else    f"[bench] $name%-24s FAILED")
      streamOut.foreach { w =>
        w.println(streamJson(name, t, prev.get(name)))
        w.flush()
      }
      name -> t
    }
    val qs = results.map { case (k, t) => "\"" + k + "\":" + jnum(t.min) }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, t) => detailJson(k, t, prev.get(k)) }
      .mkString("{", ",", "}")
    val errJson = errors.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.map(_.min).filter(_ >= 0).sum
    // round-over-round continuity: the round-1 bench covered only q01-q09,
    // so report that subset's total alongside the full-surface total
    val core9 = results.collect {
      case (k, t) if t.min >= 0 && k.matches("q0[1-9].*") => t.min }.sum
    val wall = (System.nanoTime() - benchT0) / 1e9
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_detail":$detail,"passes":$Passes,"n_queries":${results.size},"core9_total":$core9,"errors":$errJson,"loadavg_start":${jnum(loadStart)},"loadavg_end":${jnum(loadavg())},"gated":$allGated,"gate_wait_sec":${gateSpentMs / 1000},"probe_cpu_sec":${jnum(probeCpu)},"probe_codec_sec":${jnum(probeCodec)},"wall_sec":${jnum(wall)},"sf":"$sfDir"}"""
    println(line)
    streamOut.foreach { w => w.println(line); w.close() }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
