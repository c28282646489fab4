package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.{Profile, SparkEntry, SparkSpec}

/** [[SmallSort]]: a small global sort sorts in one range partition and
  * runs no sampling job; a sort above the size gate, a sort over an
  * explode, and a user's `repartitionByRange(n)` keep their partition
  * counts; the rows are sorted either way. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"
  private val MinPartitionSize =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Collects `df`, returning its rows and the partition counts of the
    * range exchanges in its final adaptive plan. */
  private def run(df: DataFrame): (Seq[Row], Seq[Int]) = {
    val rows = df.collect().toSeq
    val counts = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case r: RangePartitioning => r.numPartitions }
    (rows, counts)
  }

  /** 2000 rows of (id, v) with repeated v values, in 2 input partitions. */
  private def scrambled() =
    spark.range(0, 2000, 1, 2)
      .select(col("id"), (col("id") * 7919 % 997).as("v"))

  private def sortedByVId(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(r => (r.getLong(1), r.getLong(0)))

  test("q02 at sf0.001 sorts in one range partition and runs 2 jobs, not 3") {
    val df = SparkEntry.queries("q02_filter_project")(spark, sfDir)
    val p = Profile.install(spark)
    try {
      p.begin("q02")
      val (rows, counts) = run(df)
      val f = p.drain()
      assert(counts === Seq(1))
      // the range exchange's map stage and the result stage; no sampling
      assert(f.jobs === 2, f)
      assert(rows.nonEmpty)
      assert(rows === rows.sortBy(r => (r.getLong(0), r.getInt(1))))
    } finally p.close()
  }

  test("a sort whose input is above the size gate keeps its n partitions") {
    spark.conf.set(MinPartitionSize, "1k") // the input is ~24 KB
    try {
      val (rows, counts) = run(scrambled().orderBy(col("v"), col("id")))
      assert(counts === Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt))
      assert(counts.head > 1)
      assert(rows === sortedByVId(scrambled().collect().toSeq))
    } finally spark.conf.unset(MinPartitionSize)
  }

  test("a sort below the gate sorts in one partition; rows equal a Scala sort") {
    val (rows, counts) = run(scrambled().orderBy(col("v"), col("id")))
    assert(counts === Seq(1))
    assert(rows === sortedByVId(scrambled().collect().toSeq))
  }

  test("a sort with an explode in its stage keeps its n partitions") {
    val exploded = spark.range(0, 20, 1, 2)
      .select(col("id"), explode(sequence(lit(1L), lit(50L))).as("x"))
    val (rows, counts) = run(exploded.orderBy(col("x"), col("id")))
    assert(counts === Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    assert(counts.head > 1)
    assert(rows.map(r => (r.getLong(1), r.getLong(0))) ===
      (for (x <- 1L to 50L; id <- 0L until 20L) yield (x, id)))
  }

  test("repartitionByRange(n) keeps its n partitions") {
    val ranged = scrambled().repartitionByRange(3, col("v"))
    val (rows, counts) = run(ranged)
    assert(counts === Seq(3))
    assert(ranged.rdd.getNumPartitions === 3)
    assert(rows.size === 2000)
    // a global sort straight on the user's exchange leaves it alone
    val (sorted, sortedCounts) = run(ranged.orderBy(col("v")))
    assert(sortedCounts === Seq(3))
    assert(sorted.map(_.getLong(1)) === rows.map(_.getLong(1)).sorted)
  }
}
