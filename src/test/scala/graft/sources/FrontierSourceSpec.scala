package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DSv2 frontier source: the packing of pages into splits, the
  * skip-not-fail contract, and both pagination modes. */
class FrontierSourceSpec extends SparkSpec {

  private def read(mode: String, pages: Int = 3) =
    spark.read.format("graft.sources.FrontierSource")
      .option("mode", mode).option("pages", pages.toString).load()

  private def parallelism = spark.sparkContext.defaultParallelism

  /** Every (page, url, ord) row the pages of `mode` fetch, in page order. */
  private def fetched(mode: String, pages: Int) =
    FrontierSource.pageKeys(mode, pages).zipWithIndex.flatMap { case (k, i) =>
      FrontierSource.fetchPage(i, k).map { case (url, ord) => (k, url, ord) }
    }

  private def rows(mode: String, pages: Int = 3) =
    read(mode, pages).select(col("page"), col("url"), col("ord")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq

  test("letters mode plans 26 input partitions") {
    // 26 pages, packed into min(26, defaultParallelism) splits
    assert(read("letters").rdd.getNumPartitions ===
      math.min(26, parallelism))
  }

  test("pages mode plans N numbered partitions") {
    // N pages, packed into min(N, defaultParallelism) splits
    for (n <- Seq(1, 5, 12))
      assert(read("pages", n).rdd.getNumPartitions ===
        math.min(n, parallelism), s"pages=$n")
    assert(read("pages", 5).select("page").distinct().count() === 4)
    // (page index 3 simulates retry exhaustion → no rows, job still green)
  }

  test("the rows are the fetchPage rows of every page, each exactly once") {
    for ((mode, n) <- Seq("letters" -> 3, "pages" -> 1, "pages" -> 12)) {
      val got = rows(mode, n)
      assert(got.sorted === fetched(mode, n).sorted, s"$mode/$n")
      assert(got.distinct.size === got.size, s"$mode/$n repeats a row")
    }
  }

  test("pages at index i % 7 == 3 yield zero rows") {
    val keys = FrontierSource.pageKeys("letters", 3)
    val seen = rows("letters").map(_._1).toSet
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(seen(k) === (i % 7 != 3), s"page $k at index $i")
    }
  }

  test("failed fetches skip pages without failing the scan") {
    val pages = read("letters").select("page").distinct().count()
    assert(pages === 22) // 26 letters minus indices 3,10,17,24
  }

  test("detail links and chaff both emitted; F1 filter separates them") {
    val df = read("letters")
    val total = df.count()
    val details = df.filter(col("url").contains("fighter-details")).count()
    assert(details * 2 === total, "expected 1:1 detail/chaff mix")
  }

  test("column pruning: url-only scan never materializes page/ord") {
    // goes through SupportsPushDownRequiredColumns; correctness of the
    // pruned read is the observable contract
    val urls = read("letters").select("url").distinct().count()
    assert(urls > 0)
    val schema = read("letters").select("url").queryExecution
      .executedPlan.toString
    assert(!schema.contains("ord"), s"ord survived pruning:\n$schema")
  }

  test("a pruned read returns the full read's values of its columns") {
    val ordPage = read("letters").select(col("ord"), col("page")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(ordPage.sorted === rows("letters").map(r => (r._3, r._1)).sorted)
    val plan = read("letters").select(col("ord"), col("page"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("url"), s"url survived pruning:\n$plan")
  }
}
