package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the q134/q135 supervised-classifier contract on constructed
  * corpora: exact integer weights and scores (the values the DuckDB
  * oracle re-derives), OOV backoff to the artifact-derived prior, the
  * deterministic top-K cap, frozen-score ≡ train-and-score on an
  * unchanged corpus, and both branches of the drift-triggered refresh
  * (including that the refreshed artifact equals a from-scratch train on
  * the union — the [[Documents.nbRefreshIfDrifted]] guarantee). */
class NbSpec extends SparkSpec {
  import spark.implicits._

  private def labeled(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("doc_id", "text", "y")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def scores(d: DataFrame, m: DataFrame): Seq[(Long, Long, Long,
      Long)] =
    Documents.nbScoreAgainst(d, m)
      .as[(Long, Long, Long, Long)].collect().toSeq

  private def tmpPath(): String =
    java.nio.file.Files.createTempDirectory("graft_nb").toString + "/model"

  test("exact integer weights and mean-posterior scores: the values " +
       "the oracle re-derives, hand-computed") {
    // good: c1=1,c0=0 -> (10000*2)//3 = 6666; day: c1=1,c0=1 -> 5000;
    // bad: c1=0,c0=1 -> (10000*1)//3 = 3333; prior = (10000*3)//6 = 5000
    val m = Documents.nbTrainModel(
      labeled((1L, "good day", 1L), (2L, "bad day", 0L)))
    assert(m.as[(String, Long, Long)].collect().toSet ===
      Set(("good", 1L, 0L), ("day", 1L, 1L), ("bad", 0L, 1L)))
    val got = scores(docs((7L, "good day"), (8L, "bad zzz")), m)
    // doc 7: (6666+5000)//2 = 5833, pred 1; doc 8: (3333+5000)//2 =
    // 4166, pred 0 (zzz is OOV -> prior 5000)
    assert(got === Seq((7L, 2L, 5833L, 1L), (8L, 2L, 4166L, 0L)))
  }

  test("OOV backoff is the PRIOR derived from the model table itself, " +
       "not an uninformative constant: an all-unseen doc scores exactly " +
       "prior_bp") {
    // a: c1=3, c0=1 -> prior = (10000*(3+1)) // (3+1+2) = 6666
    val m = Documents.nbTrainModel(labeled(
      (1L, "a", 1L), (2L, "a", 1L), (3L, "a", 1L), (4L, "a", 0L)))
    assert(scores(docs((9L, "zz qq")), m) === Seq((9L, 2L, 6666L, 1L)))
  }

  test("top-K cap is deterministic (count DESC, term ASC) and capped-" +
       "out terms back off to the prior like any OOV term") {
    // counts: day=3, bad=2, zoo=2 -> K=2 keeps day + bad (tie 2==2
    // broken by term text: 'bad' < 'zoo')
    val corpus = labeled((1L, "day day bad", 1L), (2L, "day bad zoo", 0L),
      (3L, "zoo", 0L))
    val m = Documents.nbTrainModel(corpus, topK = 2)
    assert(m.select("w").as[String].collect().toSet === Set("day", "bad"))
    // prior over the CAPPED table: c1 = 2+1 = 3, c0 = 1+1 = 2 ->
    // (10000*4)//7 = 5714; 'zoo' scores 5714, 'day' = (10000*3)//5 =
    // 6000, 'bad' = (10000*2)//4 = 5000
    assert(scores(docs((5L, "zoo day bad")), m) ===
      Seq((5L, 3L, (5714L + 6000L + 5000L) / 3L, 1L)))
  }

  test("frozen-score == train-and-score on an unchanged corpus, and a " +
       "second freeze serves the artifact without re-running the builder") {
    val corpus = labeled((1L, "good day today", 1L), (2L, "bad day", 0L),
      (3L, "good good", 1L), (4L, "bad bad bad", 0L))
    val batch = docs((10L, "good day"), (11L, "bad day zzz"))
    val p = tmpPath()
    val frozen = graft.etl.Merge.materialize(spark, p,
      Documents.nbTrainModel(corpus))
    assert(scores(batch, frozen) ===
      scores(batch, Documents.nbTrainModel(corpus)),
      "scoring against the frozen artifact must equal train-and-score")
    val again = graft.etl.Merge.materialize(spark, p,
      sys.error("builder must not run when the artifact exists"))
    assert(again.exceptAll(frozen).count() === 0 &&
           frozen.exceptAll(again).count() === 0)
  }

  test("NB count ledger (q137): two appended batches == one-shot train " +
       "on the union; a replayed append is absorbed; compaction changes " +
       "nothing and shrinks the file population") {
    val b0 = labeled((1L, "good day", 1L), (2L, "bad day", 0L))
    val b1 = labeled((3L, "good good zoo", 1L), (4L, "zoo bad", 0L))
    val p = tmpPath()
    Documents.appendNbLedger(p, b0, "b0")
    Documents.appendNbLedger(p, b1, "b1")
    def model(): Set[(String, Long, Long)] =
      Documents.nbLedgerModel(spark, p)
        .as[(String, Long, Long)].collect().toSet
    val want = Documents.nbTrainModel(b0.unionByName(b1))
      .as[(String, Long, Long)].collect().toSet
    assert(model() === want, "ledger sum != one-shot counts")
    Documents.appendNbLedger(p, b1, "b1") // checkpoint-replayed append
    assert(model() === want, "replayed append changed the model")
    val (before, after) = Documents.NbLedger.compact(spark, p)
    assert(after < before, s"compaction must shrink files ($before->$after)")
    assert(model() === want, "compaction changed the model")
    // the scoring face is byte-identical under either training path
    val batch = docs((9L, "good zzz"))
    assert(scores(batch, Documents.nbLedgerModel(spark, p)) ===
           scores(batch, Documents.nbTrainModel(b0.unionByName(b1))))
  }

  test("TAKEDOWN retraction (q145): append∘append∘retract == one-shot " +
       "train on the REDUCED corpus, in any interleaving, with replay; " +
       "a term occurring only in retracted docs leaves the model and " +
       "scores as OOV prior backoff") {
    val b0 = labeled((1L, "good day", 1L), (2L, "bad day secret", 0L))
    val b1 = labeled((3L, "good good zoo", 1L), (4L, "zoo bad", 0L))
    val rm = labeled((2L, "bad day secret", 0L)) // doc 2 taken down
    val reduced = b0.filter($"doc_id" =!= 2L).unionByName(b1)
    val want = Documents.nbTrainModel(reduced)
      .as[(String, Long, Long)].collect().toSet
    assert(!want.exists(_._1 == "secret"),
      "precondition: 'secret' must occur only in the retracted doc")
    // any interleaving of the retraction between/after the appends
    for (order <- Seq(Seq("b0", "b1", "rm"), Seq("b0", "rm", "b1"))) {
      val p = tmpPath()
      order.foreach {
        case "b0" => Documents.appendNbLedger(p, b0, "b0")
        case "b1" => Documents.appendNbLedger(p, b1, "b1")
        case "rm" => Documents.retractNbBatch(p, rm, "rm0")
      }
      Documents.retractNbBatch(p, rm, "rm0") // checkpoint-replayed retract
      val got = Documents.nbLedgerModel(spark, p)
        .as[(String, Long, Long)].collect().toSet
      assert(got === want, s"order $order: netted model != reduced one-shot")
      // the retracted-only term backs off to the prior like any OOV term
      val batch = docs((9L, "secret"))
      assert(scores(batch, Documents.nbLedgerModel(spark, p)) ===
             scores(batch, Documents.nbTrainModel(reduced)),
        s"order $order: retracted term did not score as OOV")
    }
  }

  test("compactNbLedgerNet: marked batches collapse to net rows, " +
       "zero-net terms vanish from the parquet, unmarked (in-flight) " +
       "batch rows pass through, and the model is invariant") {
    val b0 = labeled((1L, "good day", 1L), (2L, "bad day secret", 0L))
    val b1 = labeled((3L, "good good zoo", 1L), (4L, "zoo bad", 0L))
    val rm = labeled((2L, "bad day secret", 0L))
    val p = tmpPath()
    // fold with markers, like the registered query does
    graft.etl.Merge.foldMissingBatches(spark, p, Seq(
      "b0"  -> (() => Documents.appendNbLedger(p, b0, "b0")),
      "b1"  -> (() => Documents.appendNbLedger(p, b1, "b1")),
      "rm0" -> (() => Documents.retractNbBatch(p, rm, "rm0"))))
    // plus one UNMARKED in-flight batch (crashed before its marker)
    Documents.appendNbLedger(p, labeled((5L, "flight", 1L)), "b2")
    def model(): Set[(String, Long, Long)] =
      Documents.nbLedgerModel(spark, p)
        .as[(String, Long, Long)].collect().toSet
    val before = model()
    val (fb, fa) = Documents.NbLedger.compactNet(spark, p)
    assert(fa <= fb, s"net compaction grew the file count ($fb -> $fa)")
    assert(model() === before, "net compaction changed the model")
    val raw = spark.read.parquet(p)
    assert(raw.filter($"w" === "secret").count() === 0L,
      "zero-net term physically survived net compaction")
    assert(raw.filter($"batch_id" === "b2").count() > 0L,
      "unmarked in-flight batch rows were folded away")
    // the in-flight batch replays (marker absent) and first-wins absorbs
    // its surviving raw rows — the reason they must NOT fold into _net
    graft.etl.Merge.foldMissingBatches(spark, p, Seq(
      "b2" -> (() => Documents.appendNbLedger(
        p, labeled((5L, "flight", 1L)), "b2"))))
    assert(model() === before, "replayed in-flight batch double-counted")
    // a second net compaction folds the _net generation again
    val (_, _) = Documents.NbLedger.compactNet(spark, p)
    assert(model() === before, "second net compaction changed the model")
    // an UNMARKED in-flight batch whose docs a MARKED batch retracts: the
    // marked net is negative and must survive the fold to cancel the
    // in-flight rows, or the takedown is undone
    val q = tmpPath()
    val flight = labeled((5L, "flight", 1L))
    graft.etl.Merge.foldMissingBatches(spark, q, Seq(
      "b0" -> (() => Documents.appendNbLedger(q, b0, "b0"))))
    Documents.appendNbLedger(q, flight, "b2")
    graft.etl.Merge.foldMissingBatches(spark, q, Seq(
      "rm1" -> (() => Documents.retractNbBatch(q, flight, "rm1"))))
    def modelQ(): Set[(String, Long, Long)] =
      Documents.nbLedgerModel(spark, q)
        .as[(String, Long, Long)].collect().toSet
    val beforeQ = modelQ()
    assert(!beforeQ.exists(_._1 == "flight"), "fixture lost its point")
    Documents.NbLedger.compactNet(spark, q)
    assert(modelQ() === beforeQ,
      "net compaction brought back a retracted in-flight term")
  }

  test("nbRefreshIfDrifted: an in-distribution batch refreshes nothing; " +
       "an OOV-heavy batch triggers and the refreshed artifact equals a " +
       "from-scratch train on the union") {
    val corpus = labeled((1L, "good day", 1L), (2L, "bad day", 0L))
    val p = tmpPath()
    // same vocabulary -> oov_bp = 0 -> no refresh
    assert(!Documents.nbRefreshIfDrifted(spark, p, corpus,
      labeled((5L, "good bad", 1L))))
    val before = spark.read.parquet(p).as[(String, Long, Long)]
      .collect().toSet
    assert(before === Set(("good", 1L, 0L), ("day", 1L, 1L),
      ("bad", 0L, 1L)), "no-refresh branch must leave the artifact intact")
    // all-new vocabulary -> oov_bp = 10000 > 500 -> refresh on the union
    val shifted = labeled((6L, "neu wort", 0L), (7L, "neu neu", 0L))
    assert(Documents.nbRefreshIfDrifted(spark, p, corpus, shifted))
    val after = spark.read.parquet(p).as[(String, Long, Long)]
      .collect().toSet
    assert(after === Documents.nbTrainModel(corpus.unionByName(shifted))
      .as[(String, Long, Long)].collect().toSet,
      "refreshed artifact != from-scratch train on the union")
  }

  test("nbRefreshIfDrifted: an EMPTY batch (idle ingest tick) decides " +
       "'no drift' instead of NPE-ing on the null aggregate " +
       "(code-review r18)") {
    val corpus = labeled((1L, "good day", 1L), (2L, "bad day", 0L))
    val p = tmpPath()
    assert(!Documents.nbRefreshIfDrifted(spark, p, corpus,
      labeled()), "empty batch must not refresh")
    // an empty-TEXT doc is a different case: both engines split "" to
    // one empty-string token (the q134 gate's semantics), which is OOV
    // against any trained vocabulary — such a batch is honestly 100%
    // out-of-distribution and DOES trigger
    assert(Documents.nbRefreshIfDrifted(spark, tmpPath(), corpus,
      labeled((5L, "", 1L))), "all-empty-text batch is 100% OOV")
  }
}
