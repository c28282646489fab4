package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The takedown ring's batch schedule: which rows form which batch under
  * which id. Every ledger family that folds a corpus in as two appended
  * batches and retracts a takedown slice (q137, q140–q142, q144, q145,
  * q147, q149–q151, q153–q158) keeps only its row derivation and hands
  * the schedule to [[fold]].
  *
  * The carve is a pure function of the key — the portable hash mod 100 —
  * so Spark and the DuckDB oracle see identical batches: each `…Sql`
  * member is the DuckDB twin of the Scala member of the same name, and
  * every oracle that carves interpolates them. Batch ids, bucket ranges
  * and fold order are part of every existing warehouse's `.batches`
  * markers: changing any of them re-folds (or worse, mis-serves)
  * standing ledgers. */
object Ring {

  /** The one carve: `key`'s portable-hash bucket in [0, 100). */
  def bucket(key: Column): Column =
    pmod(graft.functions.Text.portableHash(key.cast("string")), lit(100L))

  /** [[bucket]] in DuckDB, over the SQL expression `key`. */
  def bucketSql(key: String): String =
    s"(${graft.functions.Text.portableHashSql(s"CAST($key AS VARCHAR)")} % 100)"

  /** `rows` with its `key` carve as column `bucket`. */
  def carve(rows: DataFrame, key: String = "doc_id"): DataFrame =
    rows.withColumn("bucket", bucket(col(key)))

  /** The takedown slice, buckets [20, 30), over a carved frame. */
  val takedown: Column = inBuckets(20, 30)
  def takedownSql(bucket: String): String = s"$bucket BETWEEN 20 AND 29"

  /** The standing corpus of the 90/10 carve, buckets [0, 90). */
  val corpus: Column = col("bucket") < 90
  def corpusSql(bucket: String): String = s"$bucket < 90"

  /** The incoming batch of the 90/10 carve, buckets [90, 100). */
  val incoming: Column = col("bucket") >= 90
  def incomingSql(bucket: String): String = s"$bucket >= 90"

  /** The 80/10/10 train/valid/test split of a bucket: [0, 80) train,
    * [80, 90) valid, [90, 100) test. */
  def split(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
  def splitSql(bucket: String): String =
    s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'valid' " +
      "ELSE 'test' END"

  private def inBuckets(lo: Int, hi: Int): Column =
    col("bucket") >= lo && col("bucket") < hi

  /** Fold the ring's batches of the carved `rows` into the ledger at
    * `path` through [[Merge.foldMissingBatches]], in this order:
    *  - `b0` = buckets [0, split), through `append`;
    *  - `b1` = buckets [split, hi), through `append`;
    *  - `rm0` = the [[takedown]] slice, through `retract` when given.
    * Each closure gets the batch's rows (still carrying `bucket`) and its
    * id. Returns the ids this call folded (none once all are marked). */
  def fold(s: SparkSession, path: String, rows: DataFrame, split: Int,
           hi: Int)(append: (DataFrame, String) => Unit,
           retract: Option[(DataFrame, String) => Unit] = None)
      : Seq[String] = {
    def batch(id: String, pred: Column, f: (DataFrame, String) => Unit) =
      id -> (() => f(rows.filter(pred), id))
    Merge.foldMissingBatches(s, path,
      Seq(batch("b0", inBuckets(0, split), append),
          batch("b1", inBuckets(split, hi), append)) ++
        retract.map(batch("rm0", takedown, _)))
  }
}
