package graft

import org.scalatest.funsuite.AnyFunSuite

/** The prev-round parser must accept every framing a BENCH_r{N}.json has
  * actually shipped in: our own raw stdout line (bare quotes) and the
  * driver's wrapper, which embeds that line as an ESCAPED string under
  * "tail" (`\"qNN\":sec`). Round 4 shipped a parser that silently read
  * zero prevs from the escaped form — this spec keeps that from
  * recurring. */
class BenchSpec extends AnyFunSuite {

  test("parses the raw stdout framing") {
    val txt = """{"metric":"total","value":3.2,"unit":"sec","queries":{"q01_pricing_summary":1.175,"q30_top_orders":0.0846},"sf":"x"}"""
    val m = Bench.parseQueryTimes(txt)
    assert(m === Map("q01_pricing_summary" -> 1.175, "q30_top_orders" -> 0.0846))
  }

  test("parses the driver's escaped-tail framing") {
    val txt = """{"n":3,"rc":0,"tail":"\"queries\":{\"q01_pricing_summary\":2.316650583,\"q02_filter_project\":0.902911882}"}"""
    val m = Bench.parseQueryTimes(txt)
    assert(m === Map("q01_pricing_summary" -> 2.316650583,
                     "q02_filter_project" -> 0.902911882))
  }

  test("failed (-1) entries are dropped, detail objects don't double-count") {
    val txt = """{"queries":{"q01_a":-1,"q02_b":0.5},"queries_detail":{"q01_a":{"min":-1,"mean":-1,"prev":null},"q02_b":{"min":0.4,"mean":0.7,"prev":0.9}}}"""
    val m = Bench.parseQueryTimes(txt)
    // q01_a failed → no baseline; q02_b's FLAT 0.5 wins over the detail's
    // min when both framings are present
    assert(m === Map("q02_b" -> 0.5))
  }

  test("front-truncated tail falls back to the detail {\"min\":…} framing") {
    // the driver's wrapper truncates the embedded stdout line from the
    // FRONT — BENCH_r07 shipped with the whole flat section cut off, and
    // round 8's prev-baseline silently parsed empty from it
    val txt = """{"n":7,"rc":0,"tail":"469,\"prev\":null},\"q24_ivf_topk\":{\"min\":0.2700,\"mean\":0.3264,\"prev\":null},\"q35_cosine_neardup\":{\"min\":0.6707,\"mean\":0.8391,\"prev\":null}"}"""
    val m = Bench.parseQueryTimes(txt)
    assert(m === Map("q24_ivf_topk" -> 0.27, "q35_cosine_neardup" -> 0.6707))
  }

  test("garbage degrades to empty, not an exception") {
    assert(Bench.parseQueryTimes("not json at all { : ") === Map.empty)
  }

  test("loadavg reads a non-negative 1-min load on this box") {
    // /proc/loadavg exists on every Linux the bench runs on; the method
    // must never throw and must parse the first field
    assert(Bench.loadavg() >= 0.0)
  }

  test("detail entries with load/reruns fields still don't double-count") {
    val txt = """{"queries":{"q02_b":0.5},"queries_detail":{"q02_b":{"min":0.5,"mean":0.7,"prev":0.9,"load":3.2,"reruns":1}},"loadavg_start":2.1}"""
    assert(Bench.parseQueryTimes(txt) === Map("q02_b" -> 0.5))
  }

  test("per-query stream lines and detail entries carry the codegen " +
       "fields, and the detail still parses back to its min") {
    // and the phase, scan and listener fields beside them
    val t = Bench.Timed(min = 0.25, mean = 0.3, load = 1.2, reruns = 0,
      capped = false, buildSec = 0.0, construct = 0.05,
      phases = Bench.Phases(0.011, 0.022, 0.033),
      scans = Seq("documents" -> 3, "part" -> 2),
      profile = Profile.Fields(jobs = 4, stages = 6, tasks = 9,
        taskRunSec = 1.5, taskCpuSec = 1.25, shuffleReadBytes = 123,
        shuffleWriteBytes = 456, spillBytes = 0,
        topJobs = Seq(Profile.Job(7, 0.125, "count at Documents.scala:3898"),
                      Profile.Job(8, 0.0625, "head at \"odd\"\tsite")),
        codegenCompiles = 17, codegenCompileSec = 0.4321))
    val stream = Bench.streamJson("q07_x", t, Some(0.2))
    val detail = Bench.detailJson("q07_x", t, None)
    for (line <- Seq(stream, detail)) {
      for (field <- Seq(""""codegen_compiles":17""",
                        """"codegen_compile_sec":0.4321""",
                        """"artifact_build_sec":0.0000""",
                        """"construct_s":0.0500""",
                        """"analysis_s":0.0110""",
                        """"optimization_s":0.0220""",
                        """"planning_s":0.0330""",
                        """"scans":{"documents":3,"part":2}""",
                        """"jobs":4,"stages":6,"tasks":9""",
                        """"task_run_s":1.500,"task_cpu_s":1.250""",
                        """"shuffle_read_bytes":123""",
                        """"shuffle_write_bytes":456,"spill_bytes":0""",
                        """{"job":7,"sec":0.125,"site":"count at Documents.scala:3898"}""",
                        // call sites are JSON-escaped like Verify's SQL
                        """"site":"head at \"odd\"\tsite""""))
        assert(line.contains(field), s"$field missing from $line")
    }
    assert(stream.startsWith("""{"q":"q07_x","min":0.2500,"""), stream)
    assert(detail.startsWith(""""q07_x":{"min":0.2500,"""), detail)
    assert(Bench.parseQueryTimes(s"""{"queries_detail":{$detail}}""") ===
      Map("q07_x" -> 0.25))
  }

  test("container calibration probes return plausible positive times " +
       "and are repeatable to the min-wins contract") {
    val cpu = Bench.probeMin(() => Bench.cpuProbeSec(), 3)
    val codec = Bench.probeMin(() => Bench.codecProbeSec(), 2)
    // 10^7 ALU iterations: microseconds would mean the loop was DCE'd,
    // >5 s would mean the probe itself is unusable as a yardstick
    assert(cpu > 0.0005 && cpu < 5.0, s"cpu probe out of range: $cpu")
    assert(codec > 0.001 && codec < 30.0, s"codec probe out of range: $codec")
  }
}
