package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Contract of the q141 incremental IVF ingest: folding the corpus into
  * the cell-partitioned postings table through any batch decomposition —
  * including a crashed-and-replayed append — must probe identically to
  * the one-shot index, and compaction must GC the replay rows without
  * touching the partition layout the probe's pruning needs. */
class IvfIngestSpec extends SparkSpec {
  import spark.implicits._

  /** 64-dim deterministic corpus over ids 0..99 (queries 0 and 50 land in
    * the fixed QueryIds list), 4 cells. Floats roundtrip parquet exactly,
    * so probe equality is exact, not approximate. */
  private def corpus(): DataFrame = {
    val rows = (0L to 99L).map { id =>
      val v = Array.tabulate(64)(j =>
        (math.sin(id * 31 + j).toFloat * 100).round / 100.0f)
      (id, (id % 4).toInt, v.toSeq)
    }
    Similarity.withNorm(rows.toDF("vec_id", "label", "embedding"))
  }

  private def probeOf(e: DataFrame): Seq[(Long, Long, Long, Long)] = {
    val cents = Similarity.trainCentroids(e)
    Similarity.ivfProbeWith(e, cents, nprobe = 1, k = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
  }

  private def probePostings(path: String): Seq[(Long, Long, Long, Long)] = {
    val post = Similarity.readPostings(spark, path)
    // mirror of ivfIncremental's training path (ADVICE r18): the
    // quantizer trains on vec_id-deduped rows so replay duplicates can
    // never skew a frozen cell mean
    val cents = Similarity.trainCentroids(post.dropDuplicates(Seq("vec_id")))
    Similarity.ivfProbeWith(post, cents, nprobe = 1, k = 5,
        dedupPairs = true)
      .as[(Long, Long, Long, Long)].collect().toSeq
  }

  test("fold through two appended batches == one-shot probe; a replayed " +
       "batch is absorbed at pair grain; compaction GCs it permanently " +
       "and preserves the cell layout") {
    val e = corpus().localCheckpoint(true)
    val path = Files.createTempDirectory("graft-ivf-ingest").toString + "/post"
    // batch carve deliberately DE-ALIGNED from the label=id%4 cells
    // (ADVICE r18): a replayed batch duplicates only HALF of each cell's
    // members, so undeduplicated training would shift every cell mean —
    // the parity carve used before was mean-preserving by construction
    // and could not catch it
    val (b0, b1) = (e.filter($"vec_id" < 50), e.filter($"vec_id" >= 50))
    Similarity.appendIvfBatch(path, b0, "b0")
    Similarity.appendIvfBatch(path, b1, "b1")
    val want = probeOf(e)
    assert(want.nonEmpty)
    assert(probePostings(path) === want, "fold != one-shot")
    // crashed-and-replayed append: byte-identical rows land twice
    Similarity.appendIvfBatch(path, b0, "b0")
    assert(probePostings(path) === want, "replay changed the probe")
    // compaction: fewer files, duplicates gone, label= dirs intact
    val (before, after) = Similarity.compactIvfPostings(spark, path)
    assert(after < before, s"no file reduction: $before -> $after")
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("label=")).toSet
    assert(dirs === Set("label=0", "label=1", "label=2", "label=3"),
      s"partition layout lost: $dirs")
    assert(spark.read.parquet(path).count() === 100L,
      "compaction did not GC the replayed rows")
    assert(probePostings(path) === want, "compaction changed the probe")
  }

  test("a replayed batch cannot skew the frozen quantizer: centroids " +
       "trained through the dedup path equal the one-shot model, while " +
       "raw training over the duplicated postings provably differs") {
    val e = corpus().localCheckpoint(true)
    val path = Files.createTempDirectory("graft-ivf-skew").toString + "/post"
    Similarity.appendIvfBatch(path, e.filter($"vec_id" < 50), "b0")
    Similarity.appendIvfBatch(path, e.filter($"vec_id" >= 50), "b1")
    // crash-replay window: b0's data visible twice
    Similarity.appendIvfBatch(path, e.filter($"vec_id" < 50), "b0")
    val post = Similarity.readPostings(spark, path)
    def model(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      Similarity.trainCentroids(df).as[(Long, Seq[Double])].collect().toMap
    val oneShot = model(e.select($"vec_id", $"label", $"v"))
    assert(model(post.dropDuplicates(Seq("vec_id"))) === oneShot,
      "dedup-trained quantizer diverged from the one-shot model")
    assert(model(post) !== oneShot,
      "carve failed to perturb a cell mean — the test is vacuous")
  }

  test("a compaction that died between delete and rename is adopted on " +
       "the next touch — the partitioned layout renames atomically") {
    val e = corpus().localCheckpoint(true)
    val path = Files.createTempDirectory("graft-ivf-crash").toString + "/post"
    Similarity.appendIvfBatch(path, e.filter($"vec_id" % 2 === 0), "b0")
    Similarity.appendIvfBatch(path, e.filter($"vec_id" % 2 === 1), "b1")
    val want = probePostings(path)
    // simulate the crash window: the compacted generation is fully
    // written under the tmp name, the old target already deleted
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$path.tmp-compact")))
    // every entry point (append, registered query) runs recoverSwap first
    graft.etl.Merge.recoverSwap(fs, path)
    assert(probePostings(path) === want, "adoption lost posting rows")
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("label=")).toSet
    assert(dirs.size === 4, s"partition layout lost in adoption: $dirs")
  }

  test("ivfIngestSink wires end-to-end through foreachBatch: a streamed " +
       "corpus probes identically to the one-shot index") {
    val e = corpus().localCheckpoint(true)
    val base = Files.createTempDirectory("graft-ivf-sink").toString
    val vecsDir = s"$base/vecs"
    e.write.mode("overwrite").parquet(vecsDir)
    val q = graft.streaming.Streams.ivfIngestSink(
      spark.readStream.schema(e.schema).parquet(vecsDir),
      s"$base/post", s"$base/ckpt")
    q.awaitTermination(120000)
    assert(probePostings(s"$base/post") === probeOf(e))
  }

  test("presence check: an already-appended batch id is skipped, a " +
       "missing one is appended (crash between appends heals)") {
    val e = corpus().localCheckpoint(true)
    val path = Files.createTempDirectory("graft-ivf-ingest2").toString + "/post"
    Similarity.appendIvfBatch(path, e.filter($"vec_id" % 2 === 0), "b0")
    // simulate the registered query's healing pass: only b1 is missing
    val have = spark.read.parquet(path).select($"batch_id").distinct()
      .as[String].collect().toSet
    assert(have === Set("b0"))
    Seq("b0", "b1").filterNot(have).foreach { id =>
      Similarity.appendIvfBatch(path,
        e.filter($"vec_id" % 2 === (if (id == "b0") 0 else 1)), id)
    }
    assert(probePostings(path) === probeOf(e))
  }

  test("TAKEDOWN retraction (q149): tombstoned vectors vanish from the " +
       "probe — fold + retract == one-shot on the reduced corpus; a " +
       "replayed retraction absorbs; retraction compaction physically " +
       "drops the rows and keeps the cell layout") {
    val e = corpus().localCheckpoint(true)
    val base = Files.createTempDirectory("graft-ivf-retract").toString
    val (path, del) = (s"$base/post", s"$base/del")
    Similarity.appendIvfBatch(path, e.filter($"vec_id" < 50), "b0")
    Similarity.appendIvfBatch(path, e.filter($"vec_id" >= 50), "b1")
    // takedown slice: 14 ids spread over all 4 cells, no query ids
    // (QueryIds are multiples of 50; 50 % 7 == 1)
    val removed = e.filter($"vec_id" % 7 === 3).select($"vec_id")
      .localCheckpoint(true)
    Similarity.IvfLedger.tombstone(path, del, removed, "rm0")
    Similarity.IvfLedger.tombstone(path, del, removed, "rm0") // replay
    val reduced = e.join(removed, Seq("vec_id"), "left_anti")
    val want = probeOf(reduced)
    assert(want.nonEmpty)
    assert(want !== probeOf(e),
      "takedown slice hit no served neighbor — the fixture is vacuous")
    def netProbe(): Seq[(Long, Long, Long, Long)] = {
      val post = Similarity.readPostingsNet(spark, path, del)
      val cents = Similarity.trainCentroids(
        post.dropDuplicates(Seq("vec_id")))
      Similarity.ivfProbeWith(post, cents, nprobe = 1, k = 5,
          dedupPairs = true)
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    assert(netProbe() === want,
      "retracted probe != one-shot probe on the reduced corpus")
    // the no-serve guarantee, stated directly: no tombstoned id is ever
    // returned as a neighbor
    val gone = removed.as[Long].collect().toSet
    assert(netProbe().forall { case (_, _, nId, _) => !gone(nId) })
    // physical drop on the compaction cadence, layout preserved
    val (before, after) = Similarity.IvfLedger.compact(spark, path, Some(del))
    assert(after <= before, s"retraction compaction grew files ($before -> $after)")
    assert(spark.read.parquet(path).count() === (100L - gone.size),
      "tombstoned posting rows survived retraction compaction")
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("label=")).toSet
    assert(dirs === Set("label=0", "label=1", "label=2", "label=3"),
      s"partition layout lost: $dirs")
    assert(netProbe() === want, "retraction compaction changed the probe")
  }
}
