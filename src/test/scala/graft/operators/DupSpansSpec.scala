package graft.operators

import graft.SparkSpec

/** Pins the q126 substring-dedup contract on constructed corpora: a span
  * is every MAXIMAL run of ≥ K consecutive tokens occurring ≥ 2 times in
  * the corpus — cross-doc or within one doc — with overlapping duplicated
  * windows merged by the gaps-and-islands pass, and nothing shorter than
  * K ever surfacing. */
class DupSpansSpec extends SparkSpec {
  import spark.implicits._

  private def spans(k: Int, docs: (Long, String)*) =
    Documents.dupSpansCore(docs.toDF("doc_id", "text"), k)
      .as[(Long, Long, Long, Long)].collect().toSeq

  test("a shared K-token passage surfaces as one span in BOTH docs; " +
       "unique docs stay silent") {
    val shared = "a b c d" // K = 4
    val got = spans(4,
      (1L, s"x1 x2 $shared y1"),
      (2L, s"z1 $shared z2 z3"),
      (3L, "p q r s t u v w"))
    assert(got === Seq((1L, 3L, 6L, 4L), (2L, 2L, 5L, 4L)))
  }

  test("overlapping duplicated windows merge into ONE maximal span — a " +
       "shared passage longer than K is one island, not len-K+1 spans") {
    // 6 shared tokens, K=4 → windows at 3 positions per doc merge
    val got = spans(4, (1L, "a b c d e f"), (2L, "x a b c d e f y"))
    assert(got === Seq((1L, 1L, 6L, 6L), (2L, 2L, 7L, 6L)))
  }

  test("within-doc repetition counts: a passage occurring twice in ONE " +
       "document is duplicated even with no other doc involved") {
    val got = spans(3, (1L, "a b c x y z a b c"))
    assert(got === Seq((1L, 1L, 3L, 3L), (1L, 7L, 9L, 3L)))
  }

  test("shared runs shorter than K never surface, exactly-K does") {
    // 3 shared tokens, K=4 → silence
    assert(spans(4, (1L, "a b c q1 q2"), (2L, "a b c r1 r2")) === Seq.empty)
    // exactly K shared tokens → both spans, inclusive boundary
    val got = spans(4, (1L, "a b c d q1"), (2L, "a b c d r1"))
    assert(got === Seq((1L, 1L, 4L, 4L), (2L, 1L, 4L, 4L)))
  }

  test("two DISJOINT duplicated passages in one doc stay two spans — " +
       "islands only merge adjacent or overlapping windows") {
    val got = spans(3,
      (1L, "a b c m1 m2 m3 x y z"),
      (2L, "a b c n1 n2"),
      (3L, "x y z n3 n4"))
    assert(got === Seq(
      (1L, 1L, 3L, 3L), (1L, 7L, 9L, 3L),
      (2L, 1L, 3L, 3L), (3L, 1L, 3L, 3L)))
  }

  test("docs shorter than K tokens are excluded wholesale") {
    assert(spans(4, (1L, "a b c"), (2L, "a b c")) === Seq.empty)
  }

  private def dedup(k: Int, docs: (Long, String)*) =
    Documents.spanDedupCore(docs.toDF("doc_id", "text"), k)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq

  test("span dedup elects min (doc, pos) as the keeper among " +
       "byte-identical spans — cross-doc and within-doc") {
    // same 4-token passage in three places: doc1@3, doc2@2, doc2@7
    val got = dedup(4,
      (2L, "z1 a b c d q1 a b c d"),
      (1L, "x1 x2 a b c d y1"))
    assert(got === Seq(
      (1L, 3L, 6L, 4L, 1L),  // canonical: smallest doc_id
      (2L, 2L, 5L, 4L, 0L),
      (2L, 7L, 10L, 4L, 0L)))
  }

  test("hash-bucket election repairs collisions EXACTLY: a degenerate " +
       "hash (everything collides) and a length hash (same-length texts " +
       "collide) both produce the text-grouped verdicts") {
    import org.apache.spark.sql.functions.{length, lit}
    // two distinct same-length 4-token texts ('a b c d' / 'e f g h'),
    // each duplicated — under the length hash they share a bucket; under
    // the constant hash everything does
    val docs = Seq(
      (2L, "z1 a b c d q1 a b c d"),
      (1L, "x1 x2 a b c d y1"),
      (3L, "e f g h w1"), (4L, "w2 e f g h")).toDF("doc_id", "text")
    val want = Documents.spanDedupCore(docs, 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(want === Seq(
      (1L, 3L, 6L, 4L, 1L), (2L, 2L, 5L, 4L, 0L), (2L, 7L, 10L, 4L, 0L),
      (3L, 1L, 4L, 4L, 1L), (4L, 2L, 5L, 4L, 0L)))
    for (weak <- Seq[org.apache.spark.sql.Column =>
                     org.apache.spark.sql.Column](
           _ => lit(0L), t => length(t))) {
      val got = Documents.spanDedupCore(docs, 4, weak)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got === want, "collision repair diverged from text grouping")
    }
  }

  test("collision repair on REAL data (VERDICT r17 item 2): a 3-bit " +
       "election hash over the sf0.001 corpus throws every span into 8 " +
       "buckets of genuinely colliding texts, and the repair still " +
       "reproduces the default 128-bit election verdicts") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit, struct}
    // unlike the constructed two-text cases above, the corpus's planted
    // duplicates give buckets holding MANY distinct real span texts, so
    // the repair's per-bucket re-election runs at genuine multiplicity
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val want = Documents.spanDedupCore(docs, Documents.DupSpanK)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(want.nonEmpty, "sf0.001 must carry duplicated spans")
    val got = Documents.spanDedupCore(docs, Documents.DupSpanK,
      t => struct(pmod(xxhash64(t), lit(8L))))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === want,
      "coarse-hash election diverged from the 128-bit verdicts")
  }

  private def probe(k: Int, corpus: Seq[(Long, String)],
                    incoming: Seq[(Long, String)]) =
    Documents.dupSpanProbe(incoming.toDF("doc_id", "text"),
      Documents.gramCounts(corpus.toDF("doc_id", "text"), k), k)
      .as[(Long, Long, Long, Long)].collect().toSeq

  test("incremental probe == batch finder restricted to the batch: " +
       "cross-corpus, within-batch, and corpus-internal cases") {
    val corpus = Seq(
      (1L, "a b c d p1 p2"),   // shares 'a b c d' with incoming doc 10
      (2L, "m1 m2 m3 m4 m5"),
      (3L, "e f g h z1"), (4L, "e f g h z2")) // corpus-internal dup
    val incoming = Seq(
      (10L, "q1 a b c d"),     // cross: gram count 1 (batch) + 1 (index)
      (11L, "u v w x y"),      // globally unique → silent
      (12L, "r s t u1 u2"), (13L, "r s t v1 v2")) // within-batch pair? 3<K
    // K = 4: doc 12/13 share only 3 tokens → silent; doc 10 recovers
    val got = probe(4, corpus, incoming)
    assert(got === Seq((10L, 2L, 5L, 4L)))
    // the batch finder over corpus ∪ incoming, restricted to the batch,
    // says exactly the same — the count decomposition changes nothing
    val batch = spans(4, (corpus ++ incoming): _*)
      .filter(_._1 >= 10L)
    assert(batch === got)
    // corpus-internal dups (docs 3/4) never reach the probe's output
    assert(!got.exists(_._1 <= 4L))
  }

  test("within-batch duplication surfaces without any index hit, and " +
       "TWO index occurrences make a single batch occurrence duplicated") {
    // 'j k l m' twice in the batch, absent from the corpus
    val got1 = probe(4, Seq((1L, "zz yy xx ww vv")),
      Seq((10L, "j k l m t1"), (11L, "t2 j k l m")))
    assert(got1 === Seq((10L, 1L, 4L, 4L), (11L, 2L, 5L, 4L)))
    // gram occurs twice in the CORPUS, once in the batch → duplicated
    val got2 = probe(4, Seq((1L, "n o p q a1"), (2L, "n o p q a2")),
      Seq((10L, "b1 n o p q")))
    assert(got2 === Seq((10L, 2L, 5L, 4L)))
  }

  test("gram ledger lifecycle: batched appends + a replay collapse to " +
       "the one-shot counts, compaction shrinks files and leaves the " +
       "probe invariant") {
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_gram_ledger").toString + "/idx"
    val b1 = Seq((1L, "a b c d p1 p2"), (2L, "a b c d p3 p4"))
    val b2 = Seq((3L, "e f g h z1"), (4L, "a b c d z2"))
    Documents.appendGramLedger(ledger, b1.toDF("doc_id", "text"), 4, "b1")
    Documents.appendGramLedger(ledger, b2.toDF("doc_id", "text"), 4, "b2")
    // checkpoint replay re-appends b2 under the SAME id: absorbed whole
    Documents.appendGramLedger(ledger, b2.toDF("doc_id", "text"), 4, "b2")
    val folded = Documents.gramLedgerCounts(spark, ledger)
    val oneShot = Documents.gramCounts((b1 ++ b2).toDF("doc_id", "text"), 4)
    assert(folded.exceptAll(oneShot).count() === 0 &&
           oneShot.exceptAll(folded).count() === 0,
      "ledger fold != one-shot gram counts")
    val incoming = Seq((10L, "q1 a b c d"))
    val before = Documents.dupSpanProbe(incoming.toDF("doc_id", "text"),
      folded, 4).as[(Long, Long, Long, Long)].collect().toSeq
    assert(before === Seq((10L, 2L, 5L, 4L)))
    // compaction: replay duplicates GC'd, files shrink, probe invariant
    val (nb, na) = Documents.compactGramLedger(spark, ledger)
    assert(nb > na, s"compaction must shrink files ($nb -> $na)")
    val after = Documents.dupSpanProbe(incoming.toDF("doc_id", "text"),
      Documents.gramLedgerCounts(spark, ledger), 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(after === before, "compaction changed a probe verdict")
  }

  test("Bloom index-pruning branch is EXACT: forcing the gate to 0 " +
       "(every index qualifies) changes no probe verdict") {
    // the branch normally only activates past 256 MB of index — never at
    // unit or oracle scale (ADVICE r16) — so force it and assert
    // equality against both the unbloomed probe and the batch finder
    val corpus = Seq(
      (1L, "a b c d p1 p2"), (2L, "m1 m2 m3 m4 m5"),
      (3L, "e f g h z1"), (4L, "e f g h z2"))
    val incoming = Seq(
      (10L, "q1 a b c d"), (11L, "u v w x y"),
      (12L, "j k l m t1"), (13L, "t2 j k l m"))
    val idx = Documents.gramCounts(corpus.toDF("doc_id", "text"), 4)
    val bloomed = Documents.dupSpanProbe(incoming.toDF("doc_id", "text"),
      idx, 4, bloomGateBytes = 0L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val plain = probe(4, corpus, incoming)
    assert(bloomed === plain, "Bloom branch changed a probe verdict")
    val batch = spans(4, (corpus ++ incoming): _*).filter(_._1 >= 10L)
    assert(bloomed === batch)
  }

  test("gram ledger survives a compaction crash at every interleaving: " +
       "orphan adoption at append AND at read, replay-after-compaction " +
       "absorbed (ADVICE r16)") {
    def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def counts(ledger: String) =
      Documents.gramLedgerCounts(spark, ledger)
        .as[(String, Long)].collect().toSet
    val b1 = Seq((1L, "a b c d p1 p2"), (2L, "a b c d p3 p4"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "e f g h z1")).toDF("doc_id", "text")

    // interleaving 1: compact crashes in the delete->rename window
    // (ledger dir GONE, only the .tmp-compact orphan), next APPEND must
    // adopt the orphan first — without the recoverSwap guard it would
    // recreate the dir and strand all pre-crash history forever
    val l1 = java.nio.file.Files
      .createTempDirectory("graft_ledger_i1").toString + "/idx"
    Documents.appendGramLedger(l1, b1, 4, "b1")
    val want1 = counts(l1)
    val fs = fsOf(l1)
    assert(fs.rename(new org.apache.hadoop.fs.Path(l1),
      new org.apache.hadoop.fs.Path(s"$l1.tmp-compact")),
      "test setup: simulate the mid-swap crash")
    Documents.appendGramLedger(l1, b2, 4, "b2")
    val merged = counts(l1)
    assert(want1.subsetOf(merged),
      "pre-crash history lost: the append stranded the compaction orphan")
    assert(merged.size === want1.size +
      Documents.gramCounts(b2, 4).count().toInt,
      "adopted ledger must hold exactly old + new grams (disjoint here)")

    // interleaving 2: same crash, next touch is a READ — adoption at
    // gramLedgerCounts
    val l2 = java.nio.file.Files
      .createTempDirectory("graft_ledger_i2").toString + "/idx"
    Documents.appendGramLedger(l2, b1, 4, "b1")
    val want2 = counts(l2)
    val fs2 = fsOf(l2)
    assert(fs2.rename(new org.apache.hadoop.fs.Path(l2),
      new org.apache.hadoop.fs.Path(s"$l2.tmp-compact")))
    assert(counts(l2) === want2, "read-side orphan adoption failed")

    // interleaving 3: a batch committed BEFORE compaction replays AFTER
    // it (lost checkpoint): compaction GC'd the first append's rows into
    // the compacted generation; the replay re-appends byte-identical
    // (gram, n_idx, batch_id) rows and the reader's (gram, batch)
    // first-wins must absorb them — counts invariant
    val l3 = java.nio.file.Files
      .createTempDirectory("graft_ledger_i3").toString + "/idx"
    Documents.appendGramLedger(l3, b1, 4, "b1")
    Documents.appendGramLedger(l3, b2, 4, "b2")
    val want3 = counts(l3)
    Documents.compactGramLedger(spark, l3)
    Documents.appendGramLedger(l3, b1, 4, "b1") // replay post-compaction
    assert(counts(l3) === want3,
      "replay-after-compaction changed the collapsed counts")
  }

  test("orphan adoption at append AND at read holds for EVERY ledger " +
       "family's append: a compaction that crashed in the delete->rename " +
       "window is adopted before the next batch lands or is read") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{array, col, explode, lit}
    import graft.etl.Ledger
    import graft.multimodal.Media
    import graft.streaming.Streams
    val docs = Seq((1L, "a b c d p1 p2", 1L), (2L, "a b c d p3 p4", 0L),
                   (3L, "a b c d z1", 1L), (4L, "e f g h z2", 0L))
      .toDF("doc_id", "text", "y").localCheckpoint(true)
    def half(i: Int): DataFrame = docs.filter(col("doc_id") % 2 === i % 2)
    def text(i: Int) = half(i).select(col("doc_id"), col("text"))
    val dict = Documents.freezeDict(Documents.shingleDocs(docs))
    val events = Seq((1L, 1L, "2024-01-01 10:00:00", 2.5),
                     (2L, 1L, "2024-01-01 13:30:00", 4.0),
                     (3L, 2L, "2024-01-02 08:15:00", 1.25),
                     (4L, 4L, "2024-01-02 09:45:00", 3.0))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val vecs = docs.select(col("doc_id").as("vec_id"),
      array(lit(1.0), col("doc_id").cast("double")).as("v"),
      lit(1.0).as("nrm"), (col("doc_id") % 2).cast("int").as("label"))
    val words = docs.select(explode(graft.functions.Text.toWords(
      col("text"))).as("w"))
    // (family, its ledger, ledger path under the family dir, one batch's
    // append through the family's own verb)
    val families: Seq[(String, Ledger, String, (String, Int) => Unit)] = Seq(
      ("gram", Documents.GramLedger, "led", (d, i) =>
        Documents.appendGramLedger(s"$d/led", text(i), 4, s"b$i")),
      ("lm", Documents.LmLedger, "led", (d, i) =>
        Documents.appendLmLedger(s"$d/led", text(i), s"b$i")),
      ("word-freq", Documents.WfLedger, "led", (d, i) =>
        Documents.appendWfLedger(s"$d/led", text(i), s"b$i")),
      ("nb", Documents.NbLedger, "led", (d, i) =>
        Documents.appendNbLedger(s"$d/led", half(i), s"b$i")),
      ("prefix", Documents.PrefixLedger, "led", (d, i) =>
        Documents.appendPrefixRows(s"$d/led",
          Documents.shingleDocs(text(i)), dict)),
      ("and-postings", Documents.TermLedger, "led", (d, i) =>
        Documents.appendPostings(s"$d/led", text(i))),
      ("bm25 postings", Documents.TermLedger, "led", (d, i) =>
        Documents.appendBm25(s"$d/led", s"$d/stats", s"$d/df", text(i),
          s"b$i")),
      ("bm25 df", Documents.Bm25DfLedger, "df", (d, i) =>
        Documents.appendBm25(s"$d/post", s"$d/stats", s"$d/df", text(i),
          s"b$i")),
      ("phash", Media.PhashLedger, "led", (d, i) =>
        Media.appendPhashLedger(s"$d/led", half(i).select(col("doc_id")),
          s"b$i")),
      ("audio-fp", Media.AudioFpLedger, "led", (d, i) =>
        Media.appendAudioFpLedger(s"$d/led", half(i).select(col("doc_id")),
          s"b$i")),
      ("ivf", Similarity.IvfLedger, "led", (d, i) =>
        Similarity.appendIvfBatch(s"$d/led",
          vecs.filter(col("vec_id") % 2 === i % 2), s"b$i")),
      ("grid obs", Streams.GridObsLedger, "state/obs", (d, i) =>
        Streams.applyGridBatch(
          events.filter(col("user_id") % 2 === i % 2), s"$d/state", s"b$i")),
      ("dup-span feed", Streams.DupSpanLedger, "out", (d, i) =>
        Streams.applyDupSpanBatch(text(i), s"$d/state", s"$d/out", 4,
          s"b$i")),
      ("shard manifest", Streams.ShardLedger, "led", (d, i) =>
        Streams.applyShardBatch(text(i), s"$d/led", s"b$i")),
      ("nb drift", Streams.NbDriftLedger, "led", (d, i) => {
        if (i == 1) graft.etl.Merge.writeAndSwap(
          Documents.nbTrainModel(docs), s"$d/model", "build")
        Streams.applyNbDriftBatch(text(i), s"$d/model", s"$d/led", s"b$i")
      }),
      ("bpe drift", Streams.BpeDriftLedger, "led", (d, i) => {
        Documents.bpeFreezeAt(spark, s"$d/merges", s"$d/types", words)
        Streams.applyBpeDriftBatch(text(i), s"$d/types", s"$d/led", s"b$i")
      }))
    def rows(ledger: Ledger, path: String) =
      ledger.read(spark, path).collect().toSet
    families.foreach { case (name, ledger, rel, append) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_orphan")
        .toString
      val led = s"$dir/$rel"
      val fs = new org.apache.hadoop.fs.Path(led)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def crash(): Unit = assert(fs.rename(new org.apache.hadoop.fs.Path(led),
        new org.apache.hadoop.fs.Path(s"$led.tmp-compact")),
        s"$name: test setup: simulate the mid-swap crash")
      append(dir, 1)
      val want = rows(ledger, led)
      assert(want.nonEmpty, s"$name: fixture appended nothing")
      crash()
      assert(rows(ledger, led) === want, s"$name: read-side adoption failed")
      crash()
      append(dir, 2)
      assert(want.subsetOf(rows(ledger, led)),
        s"$name: the append stranded the compaction orphan")
    }
  }

  test("applyDropRanges: overlapping, adjacent, and whole-doc ranges " +
       "all conserve tokens — n_out = n_in - covered positions") {
    val docs = Seq(
      (1L, Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8")),
      (2L, Seq("u1", "u2", "u3", "u4")),
      (3L, Seq("v1", "v2", "v3")),
      (4L, Seq("w1", "w2"))).toDF("doc_id", "w")
    val drops = Seq(
      (1L, 2L, 5L), (1L, 4L, 7L),  // OVERLAP: covers 2..7 (6 positions)
      (2L, 1L, 2L), (2L, 3L, 4L),  // ADJACENT: covers all 4
      (3L, 1L, 3L))                // whole doc
      .toDF("doc_id", "start_pos", "end_pos")
    val got = Documents.applyDropRanges(docs, drops)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 8L, 6L, 2L, "t1 t8"),
      (2L, 4L, 4L, 0L, ""),
      (3L, 3L, 3L, 0L, ""),
      (4L, 2L, 0L, 2L, "w1 w2")))  // no ranges -> untouched
    got.foreach { case (_, in, dr, out, _) =>
      assert(out === in - dr, "token conservation violated") }
  }

  test("span rewrite end-to-end: the keeper occurrence survives, " +
       "duplicate occurrences are dropped from the text") {
    val got = Documents.spanRewriteCore(Seq(
        (2L, "z1 a b c d q1 a b c d"),
        (1L, "x1 x2 a b c d y1"),
        (5L, "only unique words here ok")).toDF("doc_id", "text"), 4)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 7L, 0L, 7L, "x1 x2 a b c d y1"),   // keeper: untouched
      (2L, 10L, 8L, 2L, "z1 q1"),             // both occurrences dropped
      (5L, 5L, 0L, 5L, "only unique words here ok")))
  }

  test("spans of different extent are different content: each text " +
       "cluster keeps its own canonical") {
    // doc1+doc2 share 5 tokens (span 'a b c d e'); doc3+doc4 share the
    // 4-token prefix only — two clusters, two keepers
    val got = dedup(4,
      (1L, "a b c d e p1"), (2L, "q1 a b c d e"),
      (3L, "a b c d r1 r2"), (4L, "s1 s2 a b c d"))
    assert(got === Seq(
      (1L, 1L, 5L, 5L, 1L), (2L, 2L, 6L, 5L, 0L),
      (3L, 1L, 4L, 4L, 1L), (4L, 3L, 6L, 4L, 0L)))
  }

  test("TAKEDOWN retraction (q151): negative gram partials net out — a " +
       "fully-retracted gram stops flagging, a surviving dup still " +
       "flags, probe == one-shot on the reduced corpus; a replayed " +
       "retraction absorbs; net compaction physically drops zero-net " +
       "grams and passes in-flight rows through") {
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_gram_retract").toString + "/idx"
    // docs 1/2 own 'a b c d' (both retracted below); docs 3/4 own
    // 'e f g h' (both survive)
    val b0 = Seq((1L, "a b c d p1 p2"), (2L, "a b c d p3 p4"))
    val b1 = Seq((3L, "e f g h z1"), (4L, "e f g h z2"))
    val rm = b0 // the takedown re-derives grams from the SAME text
    graft.etl.Merge.foldMissingBatches(spark, ledger, Seq(
      "b0"  -> (() => Documents.appendGramLedger(
        ledger, b0.toDF("doc_id", "text"), 4, "b0")),
      "b1"  -> (() => Documents.appendGramLedger(
        ledger, b1.toDF("doc_id", "text"), 4, "b1")),
      "rm0" -> (() => Documents.retractGramBatch(
        ledger, rm.toDF("doc_id", "text"), 4, "rm0"))))
    val incoming = Seq((10L, "q1 a b c d"), (11L, "q2 e f g h"))
    def got() = Documents.dupSpanProbe(incoming.toDF("doc_id", "text"),
        Documents.gramLedgerCounts(spark, ledger), 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // 'a b c d' netted to 0 -> doc 10 is silent (1 own occurrence < 2);
    // 'e f g h' survives at 2 -> doc 11 still flags — and the whole
    // probe equals the one-shot index on the reduced corpus
    val want = Documents.dupSpanProbe(incoming.toDF("doc_id", "text"),
        Documents.gramCounts(b1.toDF("doc_id", "text"), 4), 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(want === Seq((11L, 2L, 5L, 4L)), "fixture lost its point")
    assert(got() === want, "retracted probe != reduced one-shot probe")
    // a crashed-and-replayed retraction appends byte-identical negative
    // rows under the same id — first-wins absorbs them
    Documents.retractGramBatch(ledger, rm.toDF("doc_id", "text"), 4, "rm0")
    assert(got() === want, "replayed retraction changed a verdict")
    // one UNMARKED in-flight append (crashed before its marker)
    Documents.appendGramLedger(
      ledger, Seq((5L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text"), 4, "b2")
    val withB2 = got()
    val (fb, fa) = Documents.GramLedger.compactNet(spark, ledger)
    assert(fa <= fb, s"net compaction grew the file count ($fb -> $fa)")
    val raw = spark.read.parquet(ledger)
    assert(raw.filter($"gram" === "a b c d").count() === 0L,
      "zero-net gram physically survived net compaction")
    assert(raw.filter($"batch_id" === "b2").count() > 0L,
      "unmarked in-flight batch rows were folded away")
    assert(got() === withB2, "net compaction changed a probe verdict")
    // the in-flight batch replays (marker absent) and first-wins absorbs
    graft.etl.Merge.foldMissingBatches(spark, ledger, Seq(
      "b2" -> (() => Documents.appendGramLedger(
        ledger, Seq((5L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text"),
        4, "b2"))))
    assert(got() === withB2, "replayed in-flight batch double-counted")
    // a second net compaction folds the _net generation again
    Documents.GramLedger.compactNet(spark, ledger)
    assert(got() === withB2, "second net compaction changed a verdict")
  }

  test("served span verdicts (q158): the dup-gram set read from a " +
       "standing gram ledger yields EXACTLY the one-shot spanDedup " +
       "verdicts — cross-doc, within-doc, and after a replayed ledger " +
       "append (fold over batches IS the global count)") {
    val K = 4
    val docs = Seq(
      (1L, "a b c d e x1"),          // cross-doc dup span with doc 2
      (2L, "z1 a b c d e"),
      (3L, "m n o p m n o p q"),     // within-doc repetition
      (4L, "u1 u2 u3 u4 u5"))        // unique — must stay silent
      .toDF("doc_id", "text")
    val led = java.nio.file.Files
      .createTempDirectory("graft_span_served").toString + "/led"
    Documents.appendGramLedger(led, docs.filter($"doc_id" <= 2), K, "b0")
    Documents.appendGramLedger(led, docs.filter($"doc_id" > 2), K, "b1")
    Documents.appendGramLedger(led, docs.filter($"doc_id" > 2), K, "b1") // replay
    def served() = Documents.spanDedupCore(docs, K,
      dupGrams = Some(Documents.gramLedgerCounts(spark, led)
        .filter($"n_idx" >= 2L).select($"gram")))
    val want = Documents.spanDedupCore(docs, K)
    assert(want.count() > 0, "fixture produced no spans")
    assert(served().exceptAll(want).count() === 0 &&
           want.exceptAll(served()).count() === 0,
      "ledger-served verdicts != one-shot spanDedup")
    assert(served().filter($"doc_id" === 4L).count() === 0,
      "a unique doc gained a span from the ledger path")
  }
}
