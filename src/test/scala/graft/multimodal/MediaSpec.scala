package graft.multimodal

import graft.SparkSpec

/** The multimodal plumbing: decode runs per-partition, outputs are
  * deterministic, and the feature column has the embedding shape the
  * similarity operators consume. */
class MediaSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("feature extraction is deterministic and complete") {
    val a = Media.extractFeatures(Media.mediaRecords(spark, sfDir)).collect()
      .sortBy(_.doc_id)
    val b = Media.extractFeatures(Media.mediaRecords(spark, sfDir)).collect()
      .sortBy(_.doc_id)
    assert(a.length > 0)
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.doc_id === y.doc_id)
      assert(x.features.toSeq === y.features.toSeq)
    }
  }

  test("features have the embedding shape and sane ranges") {
    val rows = Media.extractFeatures(Media.mediaRecords(spark, sfDir))
      .collect()
    rows.foreach { r =>
      assert(r.features.length === 8)
      assert(r.features.forall(f => f >= 0.0f && f <= 1.0f))
      assert(r.width >= 64 && r.width < 64 + 1024)
      assert(r.height >= 64 && r.height < 64 + 1024)
      assert(r.n_bytes > 0)
    }
  }

  test("resize fits the bounding box and preserves aspect") {
    val out = Media.resize(Media.mediaRecords(spark, sfDir), 128).collect()
    out.foreach { r =>
      assert(math.max(r.thumb_w, r.thumb_h) <= 128)
      assert(r.thumb_w >= 1 && r.thumb_h >= 1)
      // aspect preserved within integer rounding of the SMALL dimension
      val orig = r.width.toDouble / r.height
      val thumb = r.thumb_w.toDouble / r.thumb_h
      val tol = 1.0 / math.min(r.thumb_w, r.thumb_h) + 1e-9
      assert(math.abs(orig - thumb) / orig <= tol, s"aspect drift: $r")
      assert(r.thumb.nonEmpty)
    }
  }

  test("frame sampling strides through stub-decoded frames") {
    val records = Media.mediaRecords(spark, sfDir)
    val all = Media.sampleFrames(records, 1)
    val sampled = Media.sampleFrames(records, 4)
    val allCount = all.count()
    assert(allCount > records.count(), "expected multi-frame payloads")
    assert(sampled.count() < allCount)
    val idxs = sampled.collect().map(_.frame_idx)
    assert(idxs.forall(_ % 4 == 0), "stride not respected")
  }

  /** A real PNG: w×h gradient (x+y luma ramp), encoded through ImageIO —
    * actual compressed image bytes, not a digest fake. */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val lum = ((x + y) * 255) / (w + h - 2).max(1)
        img.setRGB(x, y, (lum << 16) | (lum << 8) | lum)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("real PNG bytes decode through the production operator (r4 verdict #6)") {
    import spark.implicits._
    // real compressed PNGs of known dimensions, driven through the SAME
    // Dataset operator the stub-backed oracle queries use
    val recs = Seq(
      Media.MediaRecord(1L, pngBytes(320, 200), "image/png"),
      Media.MediaRecord(2L, pngBytes(64, 64), "image/png"),
      Media.MediaRecord(3L, pngBytes(1, 1), "image/png")).toDS()
    val out = Media.extractFeatures(recs).collect().sortBy(_.doc_id)
    assert(out.map(r => (r.doc_id, r.width, r.height)).toSeq ===
      Seq((1L, 320, 200), (2L, 64, 64), (3L, 1, 1)))
    out.foreach { r =>
      // luma histogram: 8 fractions summing to 1
      assert(r.features.length === 8)
      assert(math.abs(r.features.map(_.toDouble).sum - 1.0) < 1e-5)
      assert(r.n_bytes > 8, "payload should be real compressed bytes")
    }
    // the gradient spans the full luma range → every bin occupied
    val grad = out.head
    assert(grad.features.forall(_ > 0.0f), s"gradient histogram has empty bins")
  }

  test("real PNG resize round-trips: output is a decodable image at target dims") {
    import spark.implicits._
    val recs = Seq(
      Media.MediaRecord(1L, pngBytes(320, 200), "image/png"),
      Media.MediaRecord(2L, pngBytes(100, 400), "image/png")).toDS()
    val out = Media.resize(recs, maxSide = 128).collect().sortBy(_.doc_id)
    assert(out.map(r => (r.width, r.height, r.thumb_w, r.thumb_h)).toSeq ===
      Seq((320, 200, 128, 80), (100, 400, 32, 128)))
    out.foreach { r =>
      // the thumb payload is itself a real PNG of exactly the target dims
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.thumb))
      assert(back != null, "resized payload is not a decodable image")
      assert((back.getWidth, back.getHeight) === ((r.thumb_w, r.thumb_h)))
    }
  }

  /** A 16-bit mono PCM WAV: first half a full-scale-ish sine, second half
    * silence — the RMS profile then has a known shape. */
  private def wavBytes(sampleRate: Int, nFrames: Int): Array[Byte] = {
    val pcm = new Array[Byte](nFrames * 2)
    var f = 0
    while (f < nFrames / 2) {
      val s = (math.sin(2 * math.Pi * 440.0 * f / sampleRate) * 30000).toShort
      pcm(2 * f) = (s & 0xff).toByte
      pcm(2 * f + 1) = ((s >> 8) & 0xff).toByte
      f += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  test("real WAV bytes decode through the production operator") {
    import spark.implicits._
    val recs = Seq(
      Media.MediaRecord(1L, wavBytes(8000, 8000), "audio/wav"),
      Media.MediaRecord(2L, wavBytes(16000, 4000), "audio/wav")).toDS()
    val out = Media.extractFeatures(recs).collect().sortBy(_.doc_id)
    // dims slot carries (sample_rate, frame_count)
    assert(out.map(r => (r.doc_id, r.width, r.height)).toSeq ===
      Seq((1L, 8000, 8000), (2L, 16000, 4000)))
    out.foreach { r =>
      assert(r.features.length === 8)
      // sine half: RMS ≈ amplitude/√2 ≈ 0.65; silent half: exactly 0
      r.features.take(4).foreach(v => assert(v > 0.5f && v < 0.8f,
        s"sine-half RMS out of range: $v"))
      r.features.drop(4).foreach(v => assert(v === 0.0f,
        s"silent-half RMS nonzero: $v"))
    }
  }

  /** Delegates to the production builder (q67 generates its corpus with
    * the same code; this spec checks the decode side independently). */
  private def gifBytes(w: Int, h: Int, lums: Seq[Int]): Array[Byte] =
    Media.syntheticGif(w, h, lums)

  test("real animated-GIF frames decode through sampleFrames (r7 verdict #2)") {
    import spark.implicits._
    // 5 frames of known solid grays: luma of gray g is exactly g, so each
    // frame's histogram is a single spike at bin g>>5
    val lums = Seq(0, 40, 80, 160, 255)
    val recs = Seq(
      Media.MediaRecord(1L, gifBytes(16, 12, lums), "image/gif"),
      // a single-frame PNG goes through the SAME real path as 1 frame
      Media.MediaRecord(2L, pngBytes(8, 8), "image/png")).toDS()
    val all = Media.sampleFrames(recs, 1).collect()
    val gif = all.filter(_.doc_id == 1L).sortBy(_.frame_idx)
    assert(gif.map(_.frame_idx).toSeq === Seq(0, 1, 2, 3, 4))
    gif.zip(lums).foreach { case (fr, lum) =>
      val expect = Array.tabulate(8)(b => if (b == (lum >> 5)) 1.0f else 0.0f)
      assert(fr.features.toSeq === expect.toSeq,
        s"frame ${fr.frame_idx} (gray $lum) histogram off: ${fr.features.toSeq}")
    }
    assert(all.count(_.doc_id == 2L) === 1, "PNG must decode as one frame")
    // stride sampling hits exactly every 2nd stored frame
    val strided = Media.sampleFrames(recs, 2).collect()
      .filter(_.doc_id == 1L).map(_.frame_idx).sorted
    assert(strided.toSeq === Seq(0, 2, 4))
  }

  test("null/unknown mime dispatches to the stub, never NPEs (ADVICE r5)") {
    val codec = MediaCodec.open()
    val payload = "no mime attached".getBytes("UTF-8")
    // null mime = a record scraped without a content-type header; the
    // documented contract is "everything else falls to the stub"
    def flat(t: (Int, Int, Array[Float])) = (t._1, t._2, t._3.toSeq)
    assert(flat(codec.decode(payload, null)) === flat(codec.decodeStub(payload)))
    assert(flat(codec.decode(payload, "application/octet-stream"))
      === flat(codec.decodeStub(payload)))
    assert(codec.reencode(payload, null, 10, 10).toSeq
      === codec.reencodeStub(payload, 10, 10).toSeq)
  }

  test("dHash is invariant across encodings and integer scales (q91)") {
    val codec = MediaCodec.open()
    val base = codec.dHash(Media.encodeImage(Media.formulaImage(7, 1), "png"))
    // 3x the pixels, different PNG bytes entirely
    assert(codec.dHash(Media.encodeImage(Media.formulaImage(7, 3), "png")) === base)
    // 2x, a scale the q91 corpus doesn't even use
    assert(codec.dHash(Media.encodeImage(Media.formulaImage(7, 2), "png")) === base)
    // palettized container — md5-distinct, perceptually identical
    assert(codec.dHash(Media.encodeImage(Media.formulaImage(7, 1), "gif")) === base)
    // different content family → different hash
    assert(codec.dHash(Media.encodeImage(Media.formulaImage(8, 1), "png")) !== base)
  }

  /** Nearest-neighbor integer upscale — each source pixel becomes a k×k
    * block, so exact area-averaging must recover the source grid. */
  private def upscale(img: java.awt.image.BufferedImage,
                      k: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      img.getWidth * k, img.getHeight * k,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until out.getHeight; x <- 0 until out.getWidth)
      out.setRGB(x, y, img.getRGB(x / k, y / k))
    out
  }

  test("dHash survives re-encode of a non-grid gradient image") {
    val codec = MediaCodec.open()
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(pngBytes(45, 32)))
    val h1 = codec.dHashOfImage(img)
    val h2 = codec.dHashOfImage(upscale(img, 3))
    assert(h1 === h2, "area-average downsample must be scale-exact")
    // a gradient's dHash is all-ones per row (strictly increasing lumas)
    // except where integer luma plateaus — just sanity: nonzero, stable
    assert(h1._1 != 0L || h1._2 != 0L)
  }

  test("dHash flips exactly one bit when one adjacent-cell ordering flips") {
    val codec = MediaCodec.open()
    def grid(vals: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9) {
        val g = vals(x, y)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    val a = grid((x, y) => (x * 29 + y * 37) % 200)
    // swap cells (3,2) and (4,2): only the comparisons touching columns
    // 3/4 of row 2 can change; choose values so exactly bit (2,3) flips
    val b = grid((x, y) =>
      if (y == 2 && x == 3) (4 * 29 + 2 * 37) % 200
      else if (y == 2 && x == 4) (3 * 29 + 2 * 37) % 200
      else (x * 29 + y * 37) % 200)
    val (ahi, alo) = codec.dHashOfImage(a)
    val (bhi, blo) = codec.dHashOfImage(b)
    val hamming = java.lang.Long.bitCount(ahi ^ bhi) +
                  java.lang.Long.bitCount(alo ^ blo)
    // swapping two adjacent cells flips their mutual comparison and may
    // flip the two flanking ones — small, local damage only
    assert(hamming >= 1 && hamming <= 3, s"hamming=$hamming")
  }

  test("decode stub matches its spec (md5-derived dims)") {
    val codec = MediaCodec.open()
    val payload = "hello world".getBytes("UTF-8")
    val (w1, h1, f1) = codec.decodeStub(payload)
    val (w2, h2, f2) = MediaCodec.open().decodeStub(payload)
    assert((w1, h1) === ((w2, h2)))
    assert(f1.toSeq === f2.toSeq)
  }

  test("q113 kernel: constant-segment WAV decodes to EXACT per-eighth RMS " +
       "(s/2^15, bit-exact), and the envelope fingerprint is invariant " +
       "under re-sampling and volume scaling but not under content change") {
    val codec = MediaCodec.open()
    def fpOf(family: Long, rate: Int, nFrames: Int, div: Int): Long = {
      val lv = Media.envelopeLevels(family)
      val samples = Array.tabulate(nFrames)(i =>
        (lv(i * 8 / nFrames) * 300 / div).toShort)
      val (sr, nf, feats) =
        codec.decodeAudio(Media.syntheticWav(rate, samples))
      assert(sr === rate && nf === nFrames)
      // exactness: each bin is literally level*300/div / 32768 as a float
      (0 until 8).foreach { b =>
        assert(feats(b) === (lv(b) * 300 / div) / 32768.0f,
          s"bin $b not exact for family $family rate $rate div $div")
      }
      val mx = feats.max.toDouble
      (0 until 8).foldLeft((0L, 1L)) { case ((fp, m), b) =>
        (fp + math.floor(feats(b).toDouble / mx * 64.0 + 0.5).toLong * m,
          m * 65L)
      }._1
    }
    for (fam <- 0L until 40L) {
      val base = fpOf(fam, 8000, 4000, 1)
      assert(fpOf(fam, 16000, 8000, 1) === base, s"rate broke fp, fam $fam")
      assert(fpOf(fam, 8000, 4000, 2) === base, s"volume broke fp, fam $fam")
      // the q113 operator's SHIPPED geometry (40 ms clips, r15): sample
      // count is a free parameter — the short clips must fingerprint
      // identically to the long ones
      assert(fpOf(fam, 8000, 320, 1) === base &&
             fpOf(fam, 16000, 640, 1) === base &&
             fpOf(fam, 8000, 320, 2) === base,
        s"shipped short-clip geometry broke fp, fam $fam")
      // any rate works as long as the frame count is a multiple of 8 —
      // the alignment contract between generator segments and the
      // decoder's per-eighth bins (4410 frames would straddle a bin)
      assert(fpOf(fam, 11025, 4416, 1) === base,
        s"odd rate broke fp, fam $fam")
    }
    // the fingerprint is deliberately LOSSY (64-step quantization of the
    // normalized envelope): the 40-family formula yields one colliding
    // pair — the perceptual false-positive rate, the same class of
    // near-collision dHash carries. Content discrimination must still be
    // near-total, and the oracle predicts the collision identically (the
    // q113 gate stays exact).
    val all = (0L until 40L).map(fpOf(_, 8000, 4000, 1))
    assert(all.distinct.size >= 39,
      s"family fingerprints over-collided: ${all.distinct.size}/40")
  }
  test("frameMeanLumas: solid GIF frames decode to their exact grays " +
       "(q118 kernel)") {
    val grays = Seq(10, 13, 73, 76, 200)
    val gif = Media.syntheticGif(16, 12, grays)
    val lumas = MediaCodec.open().frameMeanLumas(gif).toSeq
    assert(lumas === grays.zipWithIndex.map { case (g, i) => (i, g) },
      "GIF palettization or the mean-luma reduction is not exact")
  }

  test("q118 scene cuts: lag-window detector finds exactly the planted " +
       "jumps on a constructed sequence") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // drift +3 within scenes, one +63 jump at frame 2, one at frame 4
    val lumas = Seq((1L, 0, 10), (1L, 1, 13), (1L, 2, 76), (1L, 3, 79),
      (1L, 4, 142), (2L, 0, 50), (2L, 1, 53))
      .toDF("doc_id", "frame_idx", "luma")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val got = lumas
      .withColumn("diff", col("luma") - lag(col("luma"), 1).over(w))
      .filter(col("diff") > Media.SceneCutThreshold)
      .select("doc_id", "frame_idx").as[(Long, Int)].collect().toSet
    assert(got === Set((1L, 2), (1L, 4)),
      "detector missed a planted cut or flagged in-scene drift")
  }

  test("q118 end-to-end: encode->decode->detect matches the planting " +
       "formula on sf0.001") {
    import org.apache.spark.sql.Row
    val got = Media.sceneCuts(spark, sfDir).collect()
    assert(got.length > 0)
    got.foreach { case Row(id: Long, nF: Long, nCuts: Long, sumIdx: Long) =>
      val n = id % 9 + 4
      val cuts = (1L until n).filter(f => (id + f) % 5 == 0)
      assert(nF === n, s"doc $id frame count")
      assert(nCuts === cuts.size.toLong, s"doc $id cut count")
      assert(sumIdx === cuts.sum, s"doc $id cut index sum")
    }
  }

  test("q142 phash ledger: fold over two appended batches == one-shot " +
       "clusters; replay absorbs; compaction GCs and preserves the feed") {
    import spark.implicits._
    val ids = (0L to 79L).toDF("doc_id").localCheckpoint(true)
    val path = java.nio.file.Files
      .createTempDirectory("graft-phash-ledger").toString + "/ledger"
    val (b0, b1) = (ids.filter($"doc_id" % 2 === 0),
                    ids.filter($"doc_id" % 2 === 1))
    Media.appendPhashLedger(path, b0, "b0")
    Media.appendPhashLedger(path, b1, "b1")
    val want = Media.electPhashClusters(Media.phashPerDoc(ids))
      .collect().toSeq
    def got() = Media.electPhashClusters(Media.PhashLedger.read(spark, path))
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got() === want, "fold != one-shot")
    // a crashed-and-replayed append re-derives byte-identical rows
    Media.appendPhashLedger(path, b0, "b0")
    assert(got() === want, "replay changed the clusters")
    val (before, after) = Media.PhashLedger.compact(spark, path)
    assert(after < before, s"no file reduction: $before -> $after")
    assert(got() === want, "compaction changed the clusters")
  }

  test("q147 audio ledger: fold over two appended batches == one-shot " +
       "clusters; replay absorbs; compaction GCs and preserves the feed") {
    import spark.implicits._
    val ids = (0L to 79L).toDF("doc_id").localCheckpoint(true)
    val path = java.nio.file.Files
      .createTempDirectory("graft-audiofp-ledger").toString + "/ledger"
    val (b0, b1) = (ids.filter($"doc_id" % 2 === 0),
                    ids.filter($"doc_id" % 2 === 1))
    Media.appendAudioFpLedger(path, b0, "b0")
    Media.appendAudioFpLedger(path, b1, "b1")
    val want = Media.electAudioClusters(Media.audioFpPerDoc(ids))
      .collect().toSeq
    def got() = Media.electAudioClusters(
        Media.AudioFpLedger.read(spark, path))
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got() === want, "fold != one-shot")
    // a crashed-and-replayed append re-derives byte-identical rows
    // (the fingerprint is a pure function of the payload)
    Media.appendAudioFpLedger(path, b1, "b1")
    assert(got() === want, "replay changed the clusters")
    val (before, after) = Media.AudioFpLedger.compact(spark, path)
    assert(after < before, s"no file reduction: $before -> $after")
    assert(got() === want, "compaction changed the clusters")
  }

  test("TAKEDOWN retraction (q150): tombstoned docs vanish from the " +
       "election and a cluster's canonical RE-ELECTS among survivors; " +
       "replay absorbs; retraction compaction physically drops the rows " +
       "— all with zero decodes") {
    import spark.implicits._
    val ids = (0L to 79L).toDF("doc_id").localCheckpoint(true)
    val base = java.nio.file.Files
      .createTempDirectory("graft-phash-retract").toString
    val (path, del) = (s"$base/led", s"$base/del")
    Media.appendPhashLedger(path, ids.filter($"doc_id" % 2 === 0), "b0")
    Media.appendPhashLedger(path, ids.filter($"doc_id" % 2 === 1), "b1")
    // doc 3 is family-3's canonical (pair {3, 53}); taking it down must
    // promote 53 to a singleton canonical of its own hash cluster
    val removed = Seq(3L, 10L, 27L).toDF("doc_id").localCheckpoint(true)
    Media.PhashLedger.tombstone(path, del, removed, "rm0")
    Media.PhashLedger.tombstone(path, del, removed, "rm0") // replay
    val reduced = ids.join(removed, Seq("doc_id"), "left_anti")
    val want = Media.electPhashClusters(Media.phashPerDoc(reduced))
      .collect().toSeq
    def got() = Media.electPhashClusters(
        Media.readPhashLedgerNet(spark, path, del))
      .collect().toSeq
    assert(got() === want, "retracted election != reduced one-shot")
    // doc 3 was its hash cluster's canonical pre-takedown (min id in the
    // 0..79 corpus shares its hash); doc 53 shares doc 3's image family,
    // so its cluster must have RE-ELECTED: same hash, new canonical,
    // one fewer member — and never a tombstoned id
    val preBy53 = Media.electPhashClusters(Media.phashPerDoc(ids))
      .collect().toSeq.find(_.getLong(0) == 53L).get
    assert(preBy53.getLong(6) === 3L, "fixture lost its point")
    val d53 = got().find(_.getLong(0) == 53L).get
    assert(!Set(3L, 10L, 27L).contains(d53.getLong(6)),
      "a tombstoned doc survived as a cluster canonical")
    assert(d53.getLong(5) === preBy53.getLong(5) - 1L,
      "cluster size did not shrink by the retracted member")
    val (fb, fa) = Media.PhashLedger.compact(spark, path, Some(del))
    assert(fa <= fb, s"retraction compaction grew files ($fb -> $fa)")
    assert(spark.read.parquet(path).count() === 77L,
      "tombstoned ledger rows survived retraction compaction")
    assert(got() === want, "retraction compaction changed the election")
  }

  test("TAKEDOWN retraction (q153): the audio-fp ledger masks tombstoned " +
       "docs, the election re-runs among survivors, replay absorbs, and " +
       "retraction compaction physically drops the rows") {
    import spark.implicits._
    val ids = (0L to 79L).toDF("doc_id").localCheckpoint(true)
    val base = java.nio.file.Files
      .createTempDirectory("graft-audiofp-retract").toString
    val (path, del) = (s"$base/led", s"$base/del")
    Media.appendAudioFpLedger(path, ids.filter($"doc_id" % 2 === 0), "b0")
    Media.appendAudioFpLedger(path, ids.filter($"doc_id" % 2 === 1), "b1")
    val removed = Seq(5L, 12L, 40L).toDF("doc_id").localCheckpoint(true)
    Media.AudioFpLedger.tombstone(path, del, removed, "rm0")
    Media.AudioFpLedger.tombstone(path, del, removed, "rm0") // replay
    val want = Media.electAudioClusters(Media.audioFpPerDoc(
        ids.join(removed, Seq("doc_id"), "left_anti")))
      .collect().toSeq
    def got() = Media.electAudioClusters(
        Media.readAudioFpLedgerNet(spark, path, del))
      .collect().toSeq
    assert(got() === want, "retracted election != reduced one-shot")
    val (fb, fa) = Media.AudioFpLedger.compact(spark, path, Some(del))
    assert(fa <= fb, s"retraction compaction grew files ($fb -> $fa)")
    assert(spark.read.parquet(path).count() === 77L,
      "tombstoned ledger rows survived retraction compaction")
    assert(got() === want, "retraction compaction changed the election")
  }
}
