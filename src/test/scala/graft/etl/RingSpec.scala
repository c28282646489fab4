package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The takedown ring's schedule ([[Ring.fold]]): each batch id receives
  * exactly its bucket range, the takedown slice lies inside what the two
  * appends folded, and a second call folds nothing. */
class RingSpec extends SparkSpec {
  import spark.implicits._

  // 2000 keys cover every one of the 100 buckets (asserted below)
  private lazy val rows = Ring.carve((0L until 2000L).toDF("doc_id"))

  private def bucketsOf(b: DataFrame): Set[Long] =
    b.select(col("bucket")).distinct().as[Long].collect().toSet

  test("the carve covers buckets 0-99 and the takedown is [20, 30)") {
    assert(bucketsOf(rows) === (0L until 100L).toSet)
    assert(bucketsOf(rows.filter(Ring.takedown)) === (20L until 30L).toSet)
  }

  for ((split, hi) <- Seq((50, 100), (50, 90), (45, 90)))
    test(s"fold ($split, $hi): b0, b1, rm0 get exactly their buckets, " +
         "rm0 inside b0 ∪ b1, a second call folds nothing") {
      val path = java.nio.file.Files
        .createTempDirectory("graft-ring").toString + "/led"
      val got = scala.collection.mutable.LinkedHashMap[String, Set[Long]]()
      def record(b: DataFrame, id: String): Unit = {
        got(id) = bucketsOf(b)
        b.write.mode("append").parquet(path)
      }
      def fold() = Ring.fold(spark, path, rows, split, hi)(
        record, Some(record))
      assert(fold() === Seq("b0", "b1", "rm0"))
      assert(got.toSeq === Seq(
        "b0" -> (0L until split.toLong).toSet,
        "b1" -> (split.toLong until hi.toLong).toSet,
        "rm0" -> (20L until 30L).toSet))
      assert(got("rm0").subsetOf(got("b0") ++ got("b1")))
      got.clear()
      assert(fold() === Nil)
      assert(got.isEmpty)
      assert(Merge.markedBatches(spark, path).toSet === Set("b0", "b1", "rm0"))
    }

  test("the Scala carve and hash equal their DuckDB spellings; split " +
       "cuts at 80 and 90") {
    // DuckDB's answers to Ring.bucketSql("x") and Text.portableHashSql
    // over the same keys, from this one-line command:
    // duckdb -c "SELECT x, (CAST(concat('0x', substr(md5(CAST(x AS VARCHAR)), 1, 15)) AS BIGINT) % 100) FROM (VALUES (0::BIGINT), (1), (42), (2147483655), (1099511627776)) t(x); SELECT CAST(concat('0x', substr(md5('12,34'), 1, 15)) AS BIGINT), CAST(concat('0x', substr(md5(CAST(42 AS VARCHAR) || 'tmix'), 1, 15)) AS BIGINT)"
    val ids = Seq(0L, 1L, 42L, (1L << 31) + 7, 1L << 40)
    val buckets = ids.toDF("x").select(col("x"), Ring.bucket(col("x")))
      .as[(Long, Long)].collect().toMap
    assert(buckets === ids.zip(Seq(98L, 48L, 26L, 40L, 19L)).toMap)
    val hashes = Seq("12,34", "42tmix").toDF("k")
      .select(col("k"), graft.functions.Text.portableHash(col("k")))
      .as[(String, Long)].collect().toMap
    assert(hashes === Map("12,34" -> 406681905331491972L,
      "42tmix" -> 815293906027496291L))
    val splits = Seq(79L, 80L, 89L, 90L).toDF("b")
      .select(col("b"), Ring.split(col("b"))).as[(Long, String)].collect()
    assert(splits.toSeq === Seq(79L -> "train", 80L -> "valid",
      89L -> "valid", 90L -> "test"))
  }

  test("without a retract closure the fold is b0 then b1 only") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-ring").toString + "/led"
    val ids = Ring.fold(spark, path, rows, 50, 100)((b, _) =>
      b.write.mode("append").parquet(path))
    assert(ids === Seq("b0", "b1"))
    assert(Merge.markedBatches(spark, path).toSet === Set("b0", "b1"))
  }
}
