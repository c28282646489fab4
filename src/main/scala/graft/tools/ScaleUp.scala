package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}

/** Scale-ladder data generator (r4 verdict #7): replicate an existing SF
  * directory N× into a NEW directory with FK-consistent key shifts, so the
  * bench can run one decade up without touching the read-only harness data.
  *
  * Replica 0 is the identity — the source SF embeds exactly. Key columns
  * shift by rep·10⁷ per replica (far above any source key), preserving
  * referential integrity within each replica; fixed-size dimensions
  * (region, nation) copy once, like real scale factors.
  *
  * The similarity corpora are PERTURBED per replica rather than copied: a
  * verbatim copy would give every document 9 exact twins and every
  * embedding 9 cosine-1.0 twins, turning the near-dup queries'
  * linear-in-corpus workload into a quadratic cross-replica pair explosion
  * no real 10× corpus has. Documents get a deterministic per-replica word
  * rewrite (≈1/3 of words suffixed with the replica id → cross-replica
  * Jaccard ≈ (2/3)²/(2−(2/3)²) ≈ 0.28, far under the 0.8 near-dup bar,
  * while WITHIN-replica planted pairs keep their overlap because the
  * rewrite is a pure word function applied to both sides). Embeddings get
  * per-(vec, dim, replica) hash noise (±0.05/dim on unit-norm vectors →
  * cross-replica cosine ≈ 0.97, under the 0.999 bar; q35 plants its
  * scaled twins inside the query, per replica, as before).
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> [replicas=10]
  *          [tables=all]   — comma-separated subset for spot ladders; a
  *                           decade that only feeds 5 spot queries need
  *                           not pay for the tables they never read
  */
object ScaleUp {

  /** Key shift per replica — above any source key in the RAW testdata.
    * Shifts do NOT compose across decades (a rep-1 copy of a raw key
    * collides with a rep-0 copy of an already-shifted key), so every
    * ladder decade replicates from a RAW sf dir with more replicas
    * (sf10 = 100 reps of sf0.1, sf100 = 1000 reps), never from a
    * previously scaled dir. rep·Off stays far under Long range. */
  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcSfDir> <dstDir> [replicas] [tables]")
    val spark = Sessions.local(Sessions.cpus, "graft-scaleup")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args(1), args.lift(2).map(_.toInt).getOrElse(10),
      args.lift(3).map(_.split(",").toSet).getOrElse(Set.empty))
    spark.stop()
  }

  /** Session-borrowing core (main owns its session; ScaleUpSpec passes the
    * shared test session). `only` empty = all tables. */
  def run(spark: SparkSession, src: String, dst: String, reps: Int,
          only: Set[String] = Set.empty): Unit = {
    // repartition BEFORE the explode: a source table is typically ONE
    // parquet file (= one input split), and a 1000× fan-out behind a
    // single split runs on a single core for the whole generation (the
    // r9 sf100 build measured exactly that). Shuffling the SMALL source
    // 32 ways costs nothing; the explode then fans out map-side in
    // parallel and writes directly — no post-explode shuffle of the full
    // scaled output at all.
    def replicate(t: String): DataFrame =
      Tables.load(spark, src, t).repartition(32)
        .withColumn("rep", explode(sequence(lit(0L), lit(reps - 1L))))
    def shift(c: String): Column = col(c) + col("rep") * Off

    def write(t: String, df: => DataFrame): Unit =
      if (only.nonEmpty && !only(t)) println(s"[scaleup] $t skipped")
      else {
        val d = df
        val cols = d.columns.filterNot(_ == "rep").map(col).toIndexedSeq
        d.select(cols: _*)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
        println(s"[scaleup] $t done")
      }

    Seq("region", "nation").foreach(t => write(t, Tables.load(spark, src, t)))

    write("customer", replicate("customer")
      .withColumn("c_custkey", shift("c_custkey")))
    write("supplier", replicate("supplier")
      .withColumn("s_suppkey", shift("s_suppkey")))
    write("part", replicate("part")
      .withColumn("p_partkey", shift("p_partkey")))
    write("orders", replicate("orders")
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")))
    write("lineitem", replicate("lineitem")
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")))
    // ts reads as TimestampType under the current (MICROS) testdata and
    // writes back as a parquet timestamp; the loader's footer probe
    // resolves the scaled copy's unit the same way it does the source's
    write("events", replicate("events")
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id")))
    write("documents", replicate("documents")
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(array_join(
          transform(split(col("text"), " "),
            w => when(pmod(xxhash64(w, col("rep")), lit(3L)) === 0,
                      concat(w, lit("q"), col("rep"))).otherwise(w)),
          " ")))
      .withColumn("n_chars", when(col("rep") === 0, col("n_chars"))
        .otherwise(length(col("text")).cast("long"))))
    write("embeddings", replicate("embeddings")
      .withColumn("vec_id", shift("vec_id"))
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + (pmod(xxhash64(col("vec_id"), i, col("rep")), lit(1000L))
                    .cast("double") / 1000.0 - 0.5).cast("float") * 0.1f)
              .cast("float")))))
  }
}
