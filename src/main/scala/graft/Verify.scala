package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Alongside,
  * `verify_profile.jsonl` carries one line per query: `"q"`, `"ok"` and
  * the [[Profile]] fields of its run (jobs, stages, tasks, executor time,
  * shuffle/spill bytes, longest jobs with call sites, Janino compiles). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name substrings — local
    // iteration runs only the matching queries (the driver passes none).
    val only: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(",").toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val spark = Sessions.local(Sessions.cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val jsonl = new java.io.PrintWriter(
      new java.io.FileWriter(s"$outDir/verify_profile.jsonl", false))
    val profile = Profile.install(spark)
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      profile.begin(name)
      val ok =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name"); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      jsonl.println(s"""{"q":"$name","ok":$ok,${profile.drain().json}}""")
      jsonl.flush()
    }
    jsonl.close()
    // a tab or CR in oracle SQL left unescaped would make the oracle
    // check's json.load fail
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Profile.quote(k)}: ${Profile.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
