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

  test("without a retract closure the fold is b0 then b1 only") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-ring").toString + "/led"
    val ids = Ring.fold(spark, path, rows, 50, 100)((b, _) =>
      b.write.mode("append").parquet(path))
    assert(ids === Seq("b0", "b1"))
    assert(Merge.markedBatches(spark, path).toSet === Set("b0", "b1"))
  }
}
