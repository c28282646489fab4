package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.Native
import graft.operators.Similarity

/** Sketch-collision telemetry for q35's LSH geometry: histogram of FULL-
  * sketch Hamming distance over every band-bucket match in the corpus
  * (q35's exact candidate-generation join, twins included). Run this
  * before believing a geometry at a new scale — it separates the two
  * collision regimes the q35 scaladoc documents:
  *
  *  - RANDOM collisions (Hamming ≈ SketchBits/2): killed by widening
  *    chunks — the r5/r8 retunes.
  *  - FAMILY collisions (Hamming small but nonzero — sub-threshold
  *    near-dup clusters, e.g. ScaleUp's perturbed replicas or production
  *    boilerplate/template embeddings): INSENSITIVE to chunk width,
  *    because the pigeonhole that guarantees recall for Hamming ≤
  *    NChunks−1 admits them at any geometry. The r9 sf100 attempt hit
  *    this regime at 2M vectors: candidate volume ~C(family,2)·families
  *    spilled the disk before verify. The histogram is the evidence that
  *    picks the right lever (filter / upstream dedup / geometry).
  *
  * Streaming-safe by construction: the only wide exchange is the band
  * self-join's SIDES (|corpus|·NChunks rows of (chunk, cv, 5-long
  * sketch)); matches flow straight into a partial-aggregated histogram —
  * candidate pairs are never materialized or deduped, so a 10^9-match
  * corpus costs CPU, not disk.
  *
  * Usage: runMain graft.tools.LshDiag <sfDir>
  * Prints one JSON line: {"metric":"lsh_diag","hist":{h: matches,…},…}
  */
object LshDiag {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: LshDiag <sfDir>")
    val dir = args(0)
    val spark = Sessions.local(Sessions.cpus, "graft-lshdiag")
    spark.sparkContext.setLogLevel("WARN")
    // q35's exact corpus: embeddings + the %25 scaled twins
    val corpus = Similarity.twinCorpus(spark, dir)
    val chunks = corpus.select(col("vec_id"),
        Native.signSketchBands(col("v"),
          Similarity.SketchBits, Similarity.NChunks).as("bands"))
      .select(col("vec_id"), col("bands"),
        explode(col("bands")).as("c"))
      .select(col("vec_id"), col("bands"),
        col("c.band").as("chunk"), col("c.bh").as("cv"))
    val hamming = aggregate(
      zip_with(col("x.bands"), col("y.bands"),
        (a, b) => bit_count(a.getField("bh").bitwiseXOR(b.getField("bh")))),
      lit(0), (acc, n) => acc + n)
    val t0 = System.nanoTime()
    val hist = chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(hamming.as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .orderBy(col("h"))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val total = hist.map(_.getLong(1)).sum
    val guaranteed = hist.filter(_.getInt(0) < Similarity.NChunks)
      .map(_.getLong(1)).sum
    val hj = hist.map(r => s""""${r.getInt(0)}":${r.getLong(1)}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"lsh_diag","sf":"$dir","bits":${Similarity.SketchBits},"chunks":${Similarity.NChunks},"matches_total":$total,"matches_hamming_lt_chunks":$guaranteed,"secs":${f"$secs%.1f"},"hist":$hj}""")
    spark.stop()
  }
}
