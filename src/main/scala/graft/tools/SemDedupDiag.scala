package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.Native

/** q90 recall diagnostic: brute-force ground-truth drop count over the
  * planted semantic-dedup corpus vs the shipped canopy operator's count.
  * The canopy quantizer claims recall 1.0 by construction (CanopySpec
  * proves it on constructed corpora); this measures it on a REAL ladder
  * decade, where the r11 history shows the interesting failures live
  * (the banded form lost 37% here; the r11 "bare" fixed-centroid form
  * itself lost ~11% at its Voronoi boundaries — a loss nobody had
  * measured until the canopy form exceeded its drop count).
  *
  * Usage: runMain graft.tools.SemDedupDiag <sfDir>
  */
object SemDedupDiag {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val sp = Sessions.local(Sessions.cpus, "graft-semdedup-diag")
    sp.sparkContext.setLogLevel("WARN")
    val aug = graft.operators.Similarity.semDedupCorpus(sp, d)
    val a = aug.select(col("vec_id").as("a_id"), col("v").as("av"),
      col("nrm").as("an"))
    val b = aug.repartition(64).select(col("vec_id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val brute = b.crossJoin(broadcast(a))
      .filter(col("a_id") < col("b_id"))
      .filter(floor(Native.dotProduct(col("av"), col("bv")) /
          (col("an") * col("bn")) * lit(1000000.0) + lit(0.5)).cast("long")
        >= lit(graft.operators.Similarity.SemDedupTauMicro))
      .select("b_id").distinct().count()
    val op = graft.operators.Similarity.semanticDedup(sp, d).count()
    println(s"""{"metric":"semdedup_recall","sf":"$d","brute_drops":$brute,"canopy_drops":$op}""")
    sp.stop()
  }
}
