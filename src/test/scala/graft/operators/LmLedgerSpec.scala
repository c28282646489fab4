package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, Tables}

/** Retraction contract of the q156 LM bigram-count ledger — the q145
  * negative-partial stance applied to the q87 frozen-LM family: the
  * served (bgTop, ctxTop) pair must equal a model trained one-shot on
  * the reduced corpus, with both top-K caps re-applied AFTER netting,
  * zero-net bigrams leaving the model (and, after net compaction, the
  * parquet), and replayed retraction batches absorbed by the
  * (bg, batch_id) first-wins. */
class LmLedgerSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def sets(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("TAKEDOWN retraction (q156): fold(appends + retract) nets to the " +
       "reduced-corpus model on BOTH halves (bigrams + contexts, one " +
       "ledger); a replayed retraction absorbs; compactLmLedgerNet " +
       "physically drops zero-net bigrams and changes no served row") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val removed = docs.filter(col("doc_id") % 7 === 0)
    val reduced = docs.filter(col("doc_id") % 7 =!= 0)
    val led = java.nio.file.Files
      .createTempDirectory("graft-lmr").toString + "/led"
    Documents.appendLmLedger(led, docs.filter(col("doc_id") % 2 === 0), "b0")
    Documents.appendLmLedger(led, docs.filter(col("doc_id") % 2 === 1), "b1")
    Documents.retractLmBatch(led, removed, "rm0")
    Documents.retractLmBatch(led, removed, "rm0") // replay

    def served() = Documents.lmLedgerModel(spark, led)
    val want = Documents.lmTrain(Documents.lmBigrams(reduced))
    assert(want._1.count() > 0, "reduced corpus trained an empty model")
    assert(sets(served()._1) === sets(want._1),
      "net bigram table != one-shot train on the reduced corpus")
    assert(sets(served()._2) === sets(want._2),
      "net context table != one-shot train on the reduced corpus")

    // markers vouch for all three batches (the registered query's
    // foldMissingBatches writes them); net compaction may then fold
    val fs = new org.apache.hadoop.fs.Path(led).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(s"$led.batches")
    fs.mkdirs(mdir)
    Seq("b0", "b1", "rm0").foreach(id =>
      fs.create(new org.apache.hadoop.fs.Path(mdir, id), true).close())
    val (before, after) = Documents.LmLedger.compactNet(spark, led)
    assert(after <= before,
      s"net compaction grew the file count ($before -> $after)")
    // every marked batch collapsed; only the reserved net id remains
    import spark.implicits._
    val ids = spark.read.parquet(led).select(col("batch_id"))
      .distinct().as[String].collect().toSet
    assert(ids === Set(graft.etl.Ledger.NetBatchId),
      s"marked batches not folded: $ids")
    // zero-net bigrams are PHYSICALLY gone: the parquet's bigram domain
    // is exactly the reduced corpus's
    val physBgs = spark.read.parquet(led).select(col("bg"))
      .distinct().as[String].collect().toSet
    val wantBgs = Documents.lmBigrams(reduced).select(col("bg"))
      .distinct().as[String].collect().toSet
    assert(physBgs === wantBgs,
      "zero-net bigrams survived net compaction (or live ones vanished)")
    // ...and the served model is unchanged
    assert(sets(served()._1) === sets(want._1) &&
           sets(served()._2) === sets(want._2),
      "net compaction changed the served model")
  }
}
