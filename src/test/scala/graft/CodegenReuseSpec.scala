package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Each generated class compiles once per JVM, whichever session runs it.
  * Spark keys its codegen cache on (context class loader, code); with
  * artifact isolation on, the executor gives every session UUID its own
  * class loader, so a new session — and every session a streaming query
  * clones — recompiled bodies the JVM already held ([[Sessions.local]]
  * turns isolation off). The count is Janino compiles, JVM-wide, as
  * `CodegenMetrics` records them (local mode: driver and executor share
  * the JVM). */
class CodegenReuseSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def compilesIn(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a query already run compiles no class when re-run in a new session") {
    def q(s: SparkSession): DataFrame =
      s.range(0, 20000, 1, 4)
        .select((col("id") % 13).as("k"), (col("id") * 7).as("v"))
        .groupBy("k").agg(sum("v").as("s"), max("v").as("m"))
        .orderBy("k")
    val first = q(spark).collect().toSeq
    val fresh = spark.newSession()
    var again = Seq.empty[org.apache.spark.sql.Row]
    val n = compilesIn { again = q(fresh).collect().toSeq }
    assert(again === first)
    assert(n === 0L, s"re-running the query in a new session compiled $n classes")
  }

  test("a second dup-span stream over an identical batch compiles no class") {
    // docs with equal id % 7 share their text, so spans repeat
    val docs = spark.range(0, 120).selectExpr("id AS doc_id",
      "concat_ws(' ', transform(sequence(0, 39), " +
        "i -> concat('w', CAST((i * (id % 7 + 1)) % 23 AS STRING)))) AS text")
    val in = tmp("graft-cgr-docs")
    docs.write.mode("overwrite").parquet(in)
    // a fresh ledger root and checkpoint each: both streams take the same
    // first-batch-ever path over the same single batch
    def drain(root: String): Unit = {
      val q = Streams.dupSpanSink(
        spark.readStream.schema(docs.schema).parquet(in),
        s"$root/ledger", s"$root/feed", s"$root/ckpt")
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    val (a, b) = (tmp("graft-cgr-a"), tmp("graft-cgr-b"))
    drain(a)
    val n = compilesIn(drain(b))
    def feed(root: String) = Streams.dupSpanFeed(spark, s"$root/feed")
      .drop("batch_id")
    assert(feed(a).exceptAll(feed(b)).count() === 0 &&
           feed(b).exceptAll(feed(a)).count() === 0,
      "the two streams published different spans")
    assert(n === 0L, s"the second stream compiled $n classes")
  }
}
