package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Alongside,
  * `verify_profile.jsonl` carries one line per query: `"q"`, `"ok"` and
  * the Janino compiles it ran, `"codegen_compiles"`/`"codegen_compile_sec"`
  * (drained as Bench drains them, see [[Codegen]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name substrings — local
    // iteration runs only the matching queries (the driver passes none).
    val only: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(",").toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val profile = new java.io.PrintWriter(
      new java.io.FileWriter(s"$outDir/verify_profile.jsonl", false))
    Codegen.drain(): Unit
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      val ok =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name"); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      val (compiles, compileSec) = Codegen.drain()
      profile.println(f"""{"q":"$name","ok":$ok,"codegen_compiles":$compiles,"codegen_compile_sec":$compileSec%.4f}""")
      profile.flush()
    }
    profile.close()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
