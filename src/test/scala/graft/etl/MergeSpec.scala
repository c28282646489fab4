package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The incremental-merge kernel's contracts (SURVEY §5 item 3): first-wins
  * semantics, idempotence of the incremental pass (`fighters_scraper
  * .py:210-211` — re-running adds nothing), and the null-key contract. */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def kv(rows: Seq[(Long, String)]) = rows.toDF("k", "v")

  test("firstWinsMerge: existing rows win, new keys insert") {
    val existing = kv(Seq(1L -> "old1", 2L -> "old2"))
    val incoming = kv(Seq(2L -> "NEW2", 3L -> "new3"))
    val out = Merge.firstWinsMerge(existing, incoming, "k")
      .as[(Long, String)].collect().sorted
    assert(out === Array(1L -> "old1", 2L -> "old2", 3L -> "new3"))
  }

  test("incrementalSkip drops null-key frontier rows (strict NOT IN semantics)") {
    val frontier = Seq(Some(1L) -> "a", None -> "nullkey", Some(9L) -> "b")
      .map { case (k, v) => (k.map(Long.box).orNull, v) }.toDF("k", "v")
    val existing = kv(Seq(1L -> "x"))
    val out = Merge.incrementalSkip(frontier, existing, "k")
      .select(col("v")).as[String].collect()
    assert(out.toSet === Set("b"))
  }

  /** The skip as it read with a `distinct` on the existing keys. */
  private def distinctSkip(frontier: DataFrame, existing: DataFrame) =
    frontier.filter(col("k").isNotNull).join(
      existing.filter(col("k").isNotNull).select("k").distinct(),
      Seq("k"), "left_anti")

  private def nullableKv(rows: Seq[(Option[Long], String)]) =
    rows.map { case (k, v) => (k.map(Long.box).orNull, v) }.toDF("k", "v")

  private def sortedRows(df: DataFrame) =
    df.select(col("k"), col("v")).as[(Option[Long], String)].collect()
      .sortBy { case (k, v) => (k.getOrElse(Long.MinValue), v) }

  test("incrementalSkip with duplicate and NULL existing keys equals the " +
       "distinct formulation") {
    val frontier = nullableKv(Seq(Some(1L) -> "a", Some(2L) -> "b",
      None -> "n", Some(3L) -> "c", Some(3L) -> "c2", Some(4L) -> "d"))
    val existing = nullableKv(Seq(Some(1L) -> "x", Some(1L) -> "y",
      None -> "z", Some(3L) -> "w", Some(3L) -> "w", None -> "z2"))
    val got = sortedRows(Merge.incrementalSkip(frontier, existing, "k"))
    assert(got === sortedRows(distinctSkip(frontier, existing)))
    assert(got === Array(Some(2L) -> "b", Some(4L) -> "d"))
  }

  test("firstWinsMerge and upsertMerge: duplicate keys on the anti-join's " +
       "build side give the distinct formulation's rows") {
    val existing = kv(Seq(1L -> "o1", 1L -> "o1b", 2L -> "o2", 2L -> "o2"))
    val incoming = kv(Seq(2L -> "n2", 3L -> "n3", 3L -> "n3b", 4L -> "n4"))
    // firstWinsMerge builds on the existing keys
    assert(sortedRows(Merge.firstWinsMerge(existing, incoming, "k")) ===
      sortedRows(existing.unionByName(distinctSkip(incoming, existing))))
    // upsertMerge builds on the incoming keys
    val existingUnique = kv(Seq(1L -> "o1", 2L -> "o2", 5L -> "o5"))
    assert(sortedRows(Merge.upsertMerge(existingUnique, incoming, "k")) ===
      sortedRows(distinctSkip(existingUnique, incoming).unionByName(incoming)))
    assert(sortedRows(Merge.upsertMerge(existingUnique, incoming, "k"))
      .map(_._2) === Array("o1", "n2", "n3", "n3b", "n4", "o5"))
  }

  test("dedupKeepFirst keeps exactly the first row under the explicit order") {
    val df = Seq((1L, 5, "late"), (1L, 1, "first"), (2L, 3, "only"))
      .toDF("k", "ord", "v")
    val out = Merge.dedupKeepFirst(df, Seq("k"), Seq(col("ord").asc))
      .select(col("k"), col("v")).as[(Long, String)].collect().sorted
    assert(out === Array(1L -> "first", 2L -> "only"))
  }

  test("firstWinsMergeOrdered: duplicate incoming keys keep the ordered first") {
    val existing = kv(Seq(1L -> "old"))
    val incoming = Seq((2L, 9, "late"), (2L, 1, "first"), (3L, 5, "only"))
      .toDF("k", "ord", "v")
    val out = Merge.firstWinsMergeOrdered(
        existing.withColumn("ord", org.apache.spark.sql.functions.lit(0)),
        incoming, "k", Seq(col("ord").asc))
      .select(col("k"), col("v")).as[(Long, String)].collect().sorted
    assert(out === Array(1L -> "old", 2L -> "first", 3L -> "only"))
  }

  test("mergeWrite: the S7 sink write is idempotent on re-run") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-mergewrite").toString + "/sink"
    // first run bootstraps the sink from the incoming batch's shape
    Merge.mergeWrite(kv(Seq(1L -> "a", 2L -> "b")), "k", path)
    val incoming = kv(Seq(2L -> "XX", 3L -> "c"))
    // mergeWrite reads `existing` FROM the path being republished — safe
    // because writeAndSwap fully drains the merge to a temp dir before
    // touching the target (no cache() dance needed)
    def runIncremental(): Unit = Merge.mergeWrite(incoming, "k", path)
    runIncremental()
    val after1 = spark.read.parquet(path).as[(Long, String)].collect().sorted
    runIncremental() // E3: re-running the pass adds nothing
    val after2 = spark.read.parquet(path).as[(Long, String)].collect().sorted
    assert(after1 === Array(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(after2 === after1)
  }

  test("mergeWrite heals a delete-rename crash BEFORE reading existing " +
       "(ADVICE r4: no silent merge-against-empty)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-mergecrash").toString + "/sink"
    // simulate death between delete and rename: the fully-written merge
    // result survives only as an orphaned temp dir, target missing
    kv(Seq(1L -> "a", 2L -> "b")).write.parquet(s"$path.tmp-merge")
    Merge.mergeWrite(kv(Seq(3L -> "c")), "k", path)
    // the accumulated rows must be adopted and merged against — a batch
    // path that read `existing` before recovery would have bootstrapped
    // empty and published only (3, c)
    val out = spark.read.parquet(path).as[(Long, String)].collect().sorted
    assert(out === Array(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("upsertMerge: incoming wins on collision, unmatched old rows survive") {
    val existing = kv(Seq(1L -> "old1", 2L -> "old2", 3L -> "old3"))
    val incoming = kv(Seq(2L -> "NEW2", 4L -> "new4"))
    val out = Merge.upsertMerge(existing, incoming, "k")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out === Array(1L -> "old1", 2L -> "NEW2", 3L -> "old3", 4L -> "new4"))
  }

  test("upsertMerge drops null-key rows on both sides (strict NOT-IN contract)") {
    val existing = Seq((Some(1L), "old1"), (None, "oldnull")).toDF("k", "v")
    val incoming = Seq((Some(1L), "NEW1"), (None, "newnull")).toDF("k", "v")
    val out = Merge.upsertMerge(existing, incoming, "k")
      .as[(Option[Long], String)].collect()
    assert(out.toSet === Set(Some(1L) -> "NEW1"))
  }

  test("property: upsertMerge is last-write-wins and key-complete") {
    // against random existing/incoming batches: every incoming key carries
    // the incoming row, every other existing key its old row, and
    // re-applying the same batch is a no-op (idempotence)
    val gen = for {
      ex <- Gen.mapOf(Gen.zip(Gen.choose(0L, 30L), Gen.alphaStr.map("E" + _)))
      in <- Gen.mapOf(Gen.zip(Gen.choose(0L, 30L), Gen.alphaStr.map("I" + _)))
    } yield (ex, in)
    (1 to 20).foreach { i =>
      val (ex, in) = gen(Gen.Parameters.default, Seed(i.toLong)).get
      val once = Merge.upsertMerge(kv(ex.toSeq), kv(in.toSeq), "k")
      val got = once.as[(Long, String)].collect().toMap
      assert(got === ex ++ in, s"seed $i: upsert != map-merge")
      val twice = Merge.upsertMerge(once, kv(in.toSeq), "k")
        .as[(Long, String)].collect().toMap
      assert(twice === got, s"seed $i: re-apply not idempotent")
    }
  }

  test("upsertWrite: corrections replace on-disk rows; re-run is a no-op") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-upsertwrite").toString + "/sink"
    Merge.mergeWrite(kv(Seq(1L -> "a", 2L -> "b")), "k", path)
    // a correction batch: restate key 2, add key 3
    Merge.upsertWrite(kv(Seq(2L -> "B2", 3L -> "c")), "k", path)
    def read() = spark.read.parquet(path).as[(Long, String)]
      .collect().sortBy(_._1)
    assert(read() === Array(1L -> "a", 2L -> "B2", 3L -> "c"))
    // idempotence under at-least-once redelivery of the same batch
    Merge.upsertWrite(kv(Seq(2L -> "B2", 3L -> "c")), "k", path)
    assert(read() === Array(1L -> "a", 2L -> "B2", 3L -> "c"))
    // and the insert-only sink still refuses to clobber after an upsert
    Merge.mergeWrite(kv(Seq(3L -> "IGNORED", 4L -> "d")), "k", path)
    assert(read() === Array(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("q75's state half round-trips through upsertWrite (materialized-view " +
       "upkeep — the scaladoc's production claim, executed)") {
    // Day 1 writes the (priority, month) revenue partials as a parquet
    // state sink; day 2's delta is merged by re-aggregating ONLY the
    // affected groups and upserting them back (incoming-wins replaces the
    // straddled mid-month groups, untouched groups survive on disk
    // unread). The result must equal the full-history recompute — q75's
    // semantics with the state half genuinely living in the sink.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft-q75state").toString + "/state"
    val o = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
               .as("cents"),
             count(lit(1)).as("n"))
        // upsertWrite keys on ONE column: the group key, made explicit
        .withColumn("gk", concat_ws("|", col("o_orderpriority"), col("month")))
    // day 1: bootstrap the state sink with pre-cutoff partials
    Merge.upsertWrite(
      partials(o.filter(col("o_orderdate") < lit("2000-06-15"))), "gk", path)
    // day 2: delta partials; merge state+delta for AFFECTED groups only
    val delta = partials(o.filter(col("o_orderdate") >= lit("2000-06-15")))
    val merged = spark.read.parquet(path)
      .join(delta.select("gk"), Seq("gk"), "left_semi")
      .unionByName(delta)
      .groupBy("gk", "o_orderpriority", "month")
      .agg(sum("cents").as("cents"), sum("n").as("n"))
      // pin the batch before the sink it reads from is swapped underneath
      // it (the production analog: the delta job materializes its output
      // before the MERGE commits)
      .localCheckpoint(true)
    Merge.upsertWrite(merged, "gk", path)
    def read() = spark.read.parquet(path)
      .select("o_orderpriority", "month", "cents", "n")
    val want = partials(o).select("o_orderpriority", "month", "cents", "n")
    assert(read().exceptAll(want).count() === 0
        && want.exceptAll(read()).count() === 0,
      "state+delta upsert diverged from the full-history recompute")
    // at-least-once redelivery of the same merged batch is absorbing
    Merge.upsertWrite(merged, "gk", path)
    assert(read().exceptAll(want).count() === 0
        && want.exceptAll(read()).count() === 0)
  }

  test("mergeWrite rejects a keyless incoming batch on a FIRST run too " +
       "(ADVICE r7: the guard must not live only in the sink-exists branch)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-keyless-first").toString
    val e = intercept[IllegalArgumentException] {
      Merge.mergeWrite(Seq(("b", 2L)).toDF("v", "other"), "k", s"$base/fresh")
    }
    assert(e.getMessage.contains("no merge-key column"))
  }

  test("mergeWrite fails loudly on sink schema drift instead of null-filling " +
       "(ADVICE r5)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-mergedrift").toString
    // key column renamed away on disk → the merge key is gone: hard fail,
    // never a silent merge against an all-null key column
    val renamed = s"$base/renamed"
    kv(Seq(1L -> "a")).withColumnRenamed("k", "kk").write.parquet(renamed)
    val e1 = intercept[IllegalStateException] {
      Merge.mergeWrite(kv(Seq(2L -> "b")), "k", renamed)
    }
    assert(e1.getMessage.contains("no merge-key column"))
    // shared non-key column changed type on disk → hard fail
    val drifted = s"$base/drifted"
    Seq((1L, 7)).toDF("k", "v").write.parquet(drifted)
    val e2 = intercept[IllegalArgumentException] {
      Merge.mergeWrite(kv(Seq(2L -> "b")), "k", drifted)
    }
    assert(e2.getMessage.contains("type drift"))
    // incoming batch lacking the key entirely must fail with the same
    // descriptive message, not an opaque analysis error downstream
    // (ADVICE r6: the forall-based type check passes vacuously)
    val keyless = s"$base/keyless"
    kv(Seq(1L -> "a")).write.parquet(keyless)
    val e3 = intercept[IllegalArgumentException] {
      Merge.mergeWrite(Seq(("b", 2L)).toDF("v", "other"), "k", keyless)
    }
    assert(e3.getMessage.contains("no merge-key column"))
    // a column present on only one side is legitimate U1 evolution: the
    // tolerant union null-fills it, first-wins still keyed correctly
    val evolved = s"$base/evolved"
    kv(Seq(1L -> "a")).write.parquet(evolved)
    Merge.mergeWrite(
      kv(Seq(1L -> "NEW", 2L -> "b"))
        .withColumn("extra", org.apache.spark.sql.functions.lit(9L)),
      "k", evolved)
    val out = spark.read.parquet(evolved)
      .select(col("k"), col("v"), col("extra")).as[(Long, String, Option[Long])]
      .collect().sortBy(_._1)
    assert(out === Array((1L, "a", None), (2L, "b", Some(9L))))
  }

  test("writeAndSwap publishes exactly the dataframe and leaves no temp") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-swap").toString
    val path = s"$base/sink"
    Merge.writeAndSwap(kv(Seq(1L -> "a", 2L -> "b")), path, "t0")
    Merge.writeAndSwap(kv(Seq(3L -> "c")), path, "t1") // republish over it
    val out = spark.read.parquet(path).as[(Long, String)].collect().sorted
    assert(out === Array(3L -> "c"))
    val leftovers = new java.io.File(base).listFiles().map(_.getName).toSet
    assert(leftovers === Set("sink"), s"temp dirs survived the swap: $leftovers")
  }

  test("recoverSwap adopts the newest orphan; no-ops when the target exists") {
    val fsPath = new org.apache.hadoop.fs.Path("/")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = java.nio.file.Files
      .createTempDirectory("graft-recover").toString
    val path = s"$base/sink"
    // two orphans with distinct mtimes, no target: the crash left the
    // NEWEST one as the complete merge result — it must win
    kv(Seq(1L -> "old")).write.parquet(s"$path.tmp-1")
    Thread.sleep(1100) // local FS mtime granularity is a full second
    kv(Seq(1L -> "old", 2L -> "new")).write.parquet(s"$path.tmp-2")
    Merge.recoverSwap(fs, path)
    val out = spark.read.parquet(path).as[(Long, String)].collect().sorted
    assert(out === Array(1L -> "old", 2L -> "new"))
    // target present now → a second recovery must not touch anything
    Merge.recoverSwap(fs, path)
    val again = spark.read.parquet(path).as[(Long, String)].collect().sorted
    assert(again === out)
  }

  // ScalaCheck generators driven by fixed seeds (scalatestplus isn't in the
  // offline dependency set, so samples are drawn directly and
  // deterministically): idempotence — merging the same incoming twice is a
  // no-op — and key-completeness of the merge.
  private val rowsGen: Gen[List[(Long, String)]] =
    Gen.listOfN(12, Gen.zip(Gen.choose(0L, 8L), Gen.alphaStr.map(_.take(4))))

  test("property: firstWinsMerge is idempotent and key-complete") {
    for (seed <- 0L until 8L) {
      val ex = rowsGen(Gen.Parameters.default, Seed(2 * seed)).get
      val in = rowsGen(Gen.Parameters.default, Seed(2 * seed + 1)).get
      // contract: inputs key-unique (reference batches are; see scaladoc)
      val exU = ex.distinctBy(_._1)
      val inU = in.distinctBy(_._1)
      val once = Merge.firstWinsMerge(kv(exU), kv(inU), "k")
      val twice = Merge.firstWinsMerge(once, kv(inU), "k")
      val onceRows = once.as[(Long, String)].collect().sorted.toList
      val twiceRows = twice.as[(Long, String)].collect().sorted.toList
      assert(twiceRows === onceRows, s"seed $seed: second merge changed rows")
      assert(onceRows.map(_._1).toSet === (exU.map(_._1) ++ inU.map(_._1)).toSet,
        s"seed $seed: merged key set incomplete")
      // first-wins: every existing pair survives untouched
      assert(exU.toSet.subsetOf(onceRows.toSet), s"seed $seed: existing row lost")
    }
  }

  // ── SCD2 (type-2 effective-dated merge) ──────────────────────────────────

  private def logDf(rows: Seq[(Long, Int, String)]) =
    rows.toDF("k", "eff", "attr")

  private def scd2Rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("attr"), col("valid_from"), col("valid_to"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3)))
      .sorted.toList

  test("scd2FromLog: runs collapse, valid_to chains, last row open") {
    val log = logDf(Seq(
      (1L, 10, "A"), (1L, 20, "A"), (1L, 30, "B"), (1L, 40, "A"),
      (2L, 15, "X")))
    val out = scd2Rows(Merge.scd2FromLog(log, "k", "eff", Seq("attr")))
    assert(out === List(
      (1L, "A", 10, 30), (1L, "A", 40, -1), (1L, "B", 30, 40),
      (2L, "X", 15, -1)))
  }

  test("scd2Merge: late-arriving change splits an existing version") {
    val base = Merge.scd2FromLog(
      logDf(Seq((1L, 10, "A"), (1L, 50, "C"))), "k", "eff", Seq("attr"))
    // a correction lands BETWEEN the two existing versions
    val out = scd2Rows(Merge.scd2Merge(base,
      logDf(Seq((1L, 30, "B"))), "k", "eff", Seq("attr")))
    assert(out === List(
      (1L, "A", 10, 30), (1L, "B", 30, 50), (1L, "C", 50, -1)))
  }

  test("scd2Merge: restated (key, eff) is corrected incoming-wins; " +
       "no-op restatement opens no version") {
    val base = Merge.scd2FromLog(
      logDf(Seq((1L, 10, "A"), (2L, 10, "X"))), "k", "eff", Seq("attr"))
    val out = scd2Rows(Merge.scd2Merge(base,
      logDf(Seq((1L, 10, "A2"),   // correction of an existing change point
                (2L, 20, "X"))),  // same attr later — must collapse away
      "k", "eff", Seq("attr")))
    assert(out === List((1L, "A2", 10, -1), (2L, "X", 10, -1)))
  }

  private val scd2Gen: Gen[List[(Long, Int, String)]] =
    Gen.listOfN(24, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 11),
      Gen.oneOf("A", "B", "C")))

  test("property: scd2Merge folded over any batch split equals one-shot " +
       "scd2FromLog, and replay is absorbing") {
    for (seed <- 0L until 8L) {
      val raw = scd2Gen(Gen.Parameters.default, Seed(seed)).get
        .distinctBy(t => (t._1, t._2)) // contract: unique (key, eff)
      val cut = 4 + (seed % 4).toInt
      val (b1, b2) = raw.partition(_._2 < cut)
      val oneShot = scd2Rows(
        Merge.scd2FromLog(logDf(raw), "k", "eff", Seq("attr")))
      val folded = Merge.scd2Merge(
        Merge.scd2FromLog(logDf(b1), "k", "eff", Seq("attr")),
        logDf(b2), "k", "eff", Seq("attr"))
      assert(scd2Rows(folded) === oneShot, s"seed $seed: fold != one-shot")
      val replayed = Merge.scd2Merge(folded, logDf(b2), "k", "eff", Seq("attr"))
      assert(scd2Rows(replayed) === oneShot, s"seed $seed: replay not absorbing")
    }
  }

  test("property: scd2AsOf == latest change per key at eff <= ts, derived " +
       "independently from the log (q109's oracle stance)") {
    for (seed <- 20L until 26L) {
      val raw = scd2Gen(Gen.Parameters.default, Seed(seed)).get
        .distinctBy(t => (t._1, t._2))
      val hist = Merge.scd2FromLog(logDf(raw), "k", "eff", Seq("attr"))
      for (ts <- Seq(0, 3, 6, 11, 20)) {
        val snap = Merge.scd2AsOf(hist, lit(ts))
          .select(col("k"), col("attr"))
          .as[(Long, String)].collect().sorted.toList
        val expect = raw.filter(_._2 <= ts)
          .groupBy(_._1).map { case (k, vs) => (k, vs.maxBy(_._2)._3) }
          .toList.sorted
        assert(snap === expect, s"seed $seed ts $ts: snapshot diverged")
        assert(snap.map(_._1).distinct.size === snap.size,
          s"seed $seed ts $ts: duplicate key in snapshot")
      }
    }
  }

  // ── CDC apply (q96) ──────────────────────────────────────────────────────

  private def cdcDf(rows: Seq[(Long, Long, String, String)]) =
    rows.toDF("k", "seq", "op", "v")

  private def cdcRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("seq"), col("op"), col("v"))
      .as[(Long, Long, String, String)].collect().sorted

  test("cdcNet: last-wins per key, tombstones retained, view hides them") {
    val log = cdcDf(Seq((1L, 1L, "I", "a"), (1L, 3L, "U", "b"),
      (2L, 1L, "I", "x"), (2L, 5L, "D", ""), (3L, 2L, "I", "only")))
    val net = cdcRows(Merge.cdcNet(log, "k", "seq"))
    assert(net === Array((1L, 3L, "U", "b"), (2L, 5L, "D", ""),
      (3L, 2L, "I", "only")))
    val live = cdcRows(Merge.cdcView(Merge.cdcNet(log, "k", "seq")))
    assert(live.map(_._1).toSeq === Seq(1L, 3L))
  }

  test("cdcApply: a kept tombstone out-ranks a late-arriving older update") {
    val table = Merge.cdcNet(
      cdcDf(Seq((7L, 1L, "I", "born"), (7L, 9L, "D", ""))), "k", "seq")
    // the late batch carries seq 5 < 9 — without the tombstone the key
    // would resurrect; with it, the delete still wins
    val late = cdcDf(Seq((7L, 5L, "U", "zombie")))
    val out = cdcRows(Merge.cdcApply(table, late, "k", "seq"))
    assert(out === Array((7L, 9L, "D", "")))
  }

  private val cdcGen: Gen[List[(Long, Long, String, String)]] =
    Gen.listOfN(30, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 19L),
      Gen.oneOf("I", "U", "D"), Gen.oneOf("a", "b", "c")))

  test("property: cdcApply folded over any batch split, in any order, " +
       "with replay, equals one-shot cdcNet") {
    for (seed <- 0L until 8L) {
      val raw = cdcGen(Gen.Parameters.default, Seed(seed)).get
        .distinctBy(t => (t._1, t._2)) // contract: unique (key, seq)
      val oneShot = cdcRows(Merge.cdcNet(cdcDf(raw), "k", "seq"))
      val cut = 5 + (seed % 10)
      val (b1, b2) = raw.partition(_._2 < cut)
      // apply the NEWER half first, then the older, then replay the older
      val folded = Merge.cdcApply(
        Merge.cdcApply(Merge.cdcNet(cdcDf(b2), "k", "seq"),
          cdcDf(b1), "k", "seq"),
        cdcDf(b1), "k", "seq")
      assert(cdcRows(folded) === oneShot,
        s"seed $seed: out-of-order fold + replay != one-shot")
    }
  }

  test("property: cdcRetain below a honored low-watermark never changes " +
       "any future live view") {
    for (seed <- 100L until 108L) {
      val raw = cdcGen(Gen.Parameters.default, Seed(seed)).get
        .distinctBy(t => (t._1, t._2))
      val wm = 8 + (seed % 6)
      val (old, fresh) = raw.partition(_._2 < wm)
      val net = Merge.cdcNet(cdcDf(old), "k", "seq")
      val retained = Merge.cdcRetain(net, "seq", wm)
      // every future batch honors the watermark (all seqs >= wm)
      val liveFull = cdcRows(Merge.cdcView(
        Merge.cdcApply(net, cdcDf(fresh), "k", "seq")))
      val liveRetained = cdcRows(Merge.cdcView(
        Merge.cdcApply(retained, cdcDf(fresh), "k", "seq")))
      assert(liveRetained === liveFull,
        s"seed $seed: retention at wm=$wm changed the live view")
    }
  }

  test("cdcWrite: the sink apply is idempotent and order-independent " +
       "across runs") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-cdcwrite").toString + "/sink"
    val b1 = cdcDf(Seq((1L, 1L, "I", "a"), (2L, 2L, "I", "x")))
    val b2 = cdcDf(Seq((1L, 4L, "U", "a2"), (2L, 6L, "D", "")))
    Merge.cdcWrite(b2, "k", "seq", path) // newer batch lands FIRST
    Merge.cdcWrite(b1, "k", "seq", path)
    Merge.cdcWrite(b1, "k", "seq", path) // replay
    val out = cdcRows(spark.read.parquet(path))
    assert(out === Array((1L, 4L, "U", "a2"), (2L, 6L, "D", "")))
  }

  test("foldMissingBatches: presence is the commit MARKER, not data rows " +
       "— a partially committed crashed append is re-appended in full " +
       "and the reader's dedup absorbs it (code-review r18)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-fold").toString + "/ledger"
    def append(id: String, rows: Seq[(String, Long)]): Unit =
      rows.toDF("k", "v").withColumn("batch_id", lit(id))
        .write.mode("append").parquet(path)
    // simulate a crashed b0: SOME of its rows are visible (a mid-commit
    // death), but no marker was written
    append("b0", Seq(("a", 1L)))
    var ran = List.empty[String]
    def fold(): Seq[String] = Merge.foldMissingBatches(spark, path, Seq(
      "b0" -> (() => { ran ::= "b0"; append("b0", Seq(("a", 1L), ("b", 2L))) }),
      "b1" -> (() => { ran ::= "b1"; append("b1", Seq(("c", 3L))) })))
    assert(fold().toSet === Set("b0", "b1"),
      "partial data rows must NOT count as presence")
    // the reader's full-row dedup absorbs the crashed attempt's rows
    val got = spark.read.parquet(path).dropDuplicates()
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(got === Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // second touch: markers present, nothing re-runs
    ran = Nil
    assert(fold().isEmpty)
    assert(ran.isEmpty, "marked batches must be skipped")
  }

  test("foldMissingBatches: a vanished ledger drops its stale markers " +
       "and rebuilds — surviving markers must not vouch for deleted " +
       "data (ADVICE r18)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-fold-gone").toString + "/ledger"
    def append(id: String, rows: Seq[(String, Long)]): Unit =
      rows.toDF("k", "v").withColumn("batch_id", lit(id))
        .write.mode("append").parquet(path)
    def fold(): Seq[String] = Merge.foldMissingBatches(spark, path, Seq(
      "b0" -> (() => append("b0", Seq(("a", 1L)))),
      "b1" -> (() => append("b1", Seq(("b", 2L))))))
    assert(fold().toSet === Set("b0", "b1"))
    // retire the ledger but leave the sibling marker dir behind — the
    // exact state retireArtifact produces today
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Merge.retireArtifact(fs, path)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path.batches")),
      "precondition: stale markers survive retirement")
    assert(fold().toSet === Set("b0", "b1"),
      "stale markers vouched for a vanished ledger")
    val got = spark.read.parquet(path)
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(got === Set(("a", 1L), ("b", 2L)), "ledger did not rebuild")
  }
}
