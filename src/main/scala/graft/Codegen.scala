package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Janino compiles as a drained ledger, the way [[graft.etl.Merge]]
  * drains artifact-build seconds: each [[drain]] returns the classes
  * compiled, and the seconds spent compiling them, since the previous
  * drain. Counts are JVM-wide (in local mode driver and executor share
  * the JVM). Both sources are Spark's public, monotonic counters —
  * `CodegenMetrics.METRIC_COMPILATION_TIME` (one sample per compile) and
  * `CodeGenerator.compileTime` (nanoseconds) — so the ledger keeps its
  * own watermark instead of resetting Spark's. */
object Codegen {

  private var seen = (0L, 0L)

  /** (compiles, compile seconds) since the previous drain. */
  def drain(): (Long, Double) = synchronized {
    val now = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
               CodeGenerator.compileTime)
    val d = (now._1 - seen._1, math.max(0L, now._2 - seen._2) / 1e9)
    seen = now
    d
  }
}
