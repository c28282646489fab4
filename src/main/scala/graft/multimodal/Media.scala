package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Ring

/** Multimodal-column plumbing — images/audio/video as opaque `binary`
  * columns with typed metadata, decoded batch-wise inside partitions.
  *
  * The codec dispatches on the record's mime type: `image/`-prefixed payloads go
  * through REAL decoders ([[MediaCodec.decodeImage]] /
  * [[MediaCodec.resizeImage]] / [[MediaCodec.decodeFrames]], JDK
  * `javax.imageio` — PNG, animated GIF and every other ImageIO-supported
  * format, no external libs), `audio/`-prefixed through
  * [[MediaCodec.decodeAudio]] (JDK `javax.sound.sampled`); everything else
  * falls to [[MediaCodec.decodeStub]], a clearly-marked deterministic FAKE
  * standing in for the decoders this container lacks (true video
  * containers — the JDK ships no MP4/WebM codec).
  * Everything around the codec — schema, Dataset encoders, per-partition
  * batch iteration, feature-column shape — is identical on both paths:
  * MediaSpec drives real PNG bytes through the SAME operators the
  * stub-backed oracle queries run.
  *
  * Scale notes: decode runs inside `mapPartitions` (the Scala analog of
  * mapInPandas batch UDFs) so per-record codec setup is amortized across a
  * partition; binary payloads never shuffle — features are extracted
  * before any wide operation; the feature column is `Array[Float]`, the
  * same shape the `embeddings` table and [[graft.operators.Similarity]]
  * consume, so decoded media flows straight into ANN search.
  */
object Media {

  /** An opaque media payload + typed metadata. */
  case class MediaRecord(doc_id: Long, media: Array[Byte], mime: String)

  /** Extracted features: dimensions + a fixed-width embedding. */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, width: Int,
                           height: Int, features: Array[Float])

  /** Documents' text re-encoded as an opaque binary payload — the harness
    * has no real media bytes, so the bytes ARE the UTF-8 text; the
    * pipeline treats them as opaque. */
  def mediaRecords(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"),
              lit("application/octet-stream").as("mime"))
      .as[MediaRecord]
  }

  /** Batch decode + feature extraction over partitions. The iterator is
    * consumed lazily — no partition-wide materialization. */
  def extractFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      val codec = MediaCodec.open() // per-partition setup, amortized
      it.map { r =>
        val (w, h, feats) = codec.decode(r.media, r.mime)
        MediaFeatures(r.doc_id, r.media.length, w, h, feats)
      }
    }
  }

  /** Resized variant record (the thumbnail/preview path). */
  case class ResizedMedia(doc_id: Long, width: Int, height: Int,
                          thumb_w: Int, thumb_h: Int, thumb: Array[Byte])

  /** Resize: per-partition batch op over decoded dims — aspect-preserving
    * fit into a bounding box; the byte payload is mime-dispatched like the
    * decode (real bilinear scale + PNG re-encode for images, the stub's
    * deterministic digest otherwise). Same plumbing contract as
    * [[extractFeatures]] on both paths. */
  def resize(records: Dataset[MediaRecord], maxSide: Int): Dataset[ResizedMedia] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      val codec = MediaCodec.open()
      it.map { r =>
        val (w, h, _) = codec.decode(r.media, r.mime)
        val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
        // floor(x + 0.5) with the add performed in IEEE double — the exact
        // op sequence the DuckDB oracle runs. (Math.round is NOT that: since
        // Java 8 it computes floor(x+0.5) in exact arithmetic, diverging on
        // the 0.49999999999999994-class inputs half an ulp below n+0.5.)
        val (tw, th) = (math.max(1, math.floor(w * scale + 0.5).toInt),
                        math.max(1, math.floor(h * scale + 0.5).toInt))
        ResizedMedia(r.doc_id, w, h, tw, th,
          codec.reencode(r.media, r.mime, tw, th))
      }
    }
  }

  /** One sampled frame: index + its feature vector. */
  case class Frame(doc_id: Long, frame_idx: Int, features: Array[Float])

  /** Frame sampling: every `stride`-th frame of a multi-frame payload,
    * each frame feature-extracted — the 1→N expansion runs INSIDE the
    * partition iterator, so a million-frame payload never materializes as
    * a driver-side list. `image/`-prefixed payloads decode for REAL
    * ([[MediaCodec.decodeFrames]], `javax.imageio` sequence reading —
    * animated GIF's every frame, single-frame formats as one frame);
    * other mimes (true video containers, which no JDK codec decodes)
    * fall to the md5 stub, same dispatch contract as [[extractFeatures]]. */
  def sampleFrames(records: Dataset[MediaRecord], stride: Int): Dataset[Frame] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      val codec = MediaCodec.open()
      it.flatMap { r =>
        codec.frames(r.media, r.mime, stride).map { case (i, feats) =>
          Frame(r.doc_id, i, feats)
        }
      }
    }
  }

  /** A real animated GIF: one solid-gray frame per entry of `grays`,
    * written through ImageIO's sequence API. Lives in main (not test)
    * code because q67 generates its corpus with it; MediaSpec reuses it.
    * Solid colors survive GIF palettization exactly, which is what makes
    * decoded-pixel outputs oracle-predictable. */
  def syntheticGif(w: Int, h: Int, grays: Seq[Int]): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    // MemoryCache, NOT ImageIO.createImageOutputStream: the factory's
    // default is a FileCache stream — a temp file created and deleted
    // under java.io.tmpdir PER PAYLOAD, which serializes the whole
    // encode fleet on filesystem metadata ops (measured: q67 at sf1 was
    // ~10 s flat whether 4 or 32 cores — the cores were all queueing on
    // /tmp — and drops ~8× memory-cached). Same class of fix as
    // MediaCodec.open's setUseCache(false), pinned here structurally so
    // a refactor back to the factory can't silently reintroduce it.
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    grays.foreach { g =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      try { gr.setColor(new java.awt.Color(g, g, g)); gr.fillRect(0, 0, w, h) }
      finally gr.dispose()
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  /** q67: the REAL frame-decode path, oracle-checked end-to-end. Each doc
    * becomes an animated GIF of `doc_id % 7 + 1` solid-gray frames (gray
    * of frame f = `(doc_id*31 + f*17) % 256` — pure integer formulas), the
    * GIF is ENCODED then DECODED through the production [[sampleFrames]]
    * operator (stride 2, `javax.imageio` sequence reader), and each
    * decoded frame's feature spike is folded back to its dominant luma
    * bin. DuckDB predicts every output from the generation formulas alone
    * — so a wrong pixel anywhere in the encode→decode→histogram chain
    * hash-mismatches. The GIF bytes are born and die inside one partition
    * (generate → decode in consecutive mapPartitions; only 8-float
    * features and ints survive), the same no-binary-shuffle contract as
    * q56/q57. */
  def gifFrameStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Spread the KEYS across the cluster before the payloads are born:
    // the scan's partitioning is sized for IO (openCostInBytes packs the
    // small files into a couple of splits), and the CPU-heavy
    // encode+decode chain would inherit it — measured 10.3 s at sf1 with
    // 32 cores pinned to ~2 scan partitions vs 1.3 s spread. The shuffle
    // carries ONE long per doc; the no-binary-shuffle contract is intact
    // (and PlanSpec pins both: an Exchange below the generate whose only
    // column is doc_id, and none between generate and decode). This works
    // ONLY because the payload is born downstream — q34/q56/q57 read
    // payloads off the scan itself, where the same repartition would
    // shuffle the media bytes and is correctly absent.
    val recs = Tables.documents(s, d)
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (id % 7 + 1).toInt
          val grays = (0 until n).map(f => ((id * 31 + f * 17) % 256).toInt)
          MediaRecord(id, syntheticGif(16, 12, grays), "image/gif")
        }
      }
    sampleFrames(recs, stride = 2)
      .select(col("doc_id"), col("frame_idx"),
        // a solid frame's histogram is a single 1.0 spike → its index IS
        // the gray's luma bin (gray >> 5), exact under GIF palettization
        (array_position(col("features"), array_max(col("features"))) - 1)
          .as("dominant_bin"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"),
           sum(col("frame_idx")).as("sum_idx"),
           sum(col("dominant_bin")).as("sum_bin"))
      .orderBy(col("doc_id"))
  }
  val gifFrameStatsSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 7 + 1 AS n FROM documents),
      |f AS (
      |  SELECT doc_id, unnest(range(0, n, 2)) AS fi FROM d)
      |SELECT doc_id, count(*) AS n_sampled,
      |  CAST(sum(fi) AS BIGINT) AS sum_idx,
      |  CAST(sum(((doc_id*31 + fi*17) % 256) // 32) AS BIGINT) AS sum_bin
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q34: the decode pipeline's integer outputs, oracle-checked — the stub
    * is md5-determined, so DuckDB re-derives width/height from the hex
    * digest (floats are covered by MediaSpec, not hash-compared). */
  def mediaFeatures(s: SparkSession, d: String): DataFrame =
    extractFeatures(mediaRecords(s, d))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"))
      .orderBy(col("doc_id"))
  /** decodeStub's dims are 12-bit slices of the digest: width bits = hex
    * chars 1-3, height bits = hex chars 5-7 (md5(text) == md5 of the UTF-8
    * payload bytes). */
  val mediaFeaturesSql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  CAST(64 + CAST(concat('0x', substr(md5(text), 1, 3)) AS INT) % 1024 AS INT) AS width,
      |  CAST(64 + CAST(concat('0x', substr(md5(text), 5, 3)) AS INT) % 1024 AS INT) AS height
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** q56: the resize pipeline's integer outputs (source + thumb dims),
    * oracle-checked — the aspect-preserving fit arithmetic runs on
    * stub-decoded dims, so DuckDB replays the identical IEEE ops:
    * scale = min(1, 256/max(w,h)); thumb = max(1, floor(side*scale+0.5)),
    * with [[Media.resize]] computing literally `math.floor(x + 0.5)` so
    * both engines perform the identical IEEE add-then-floor. */
  def resizedDims(s: SparkSession, d: String): DataFrame =
    resize(mediaRecords(s, d), maxSide = 256)
      .select(col("doc_id"), col("width"), col("height"),
              col("thumb_w"), col("thumb_h"))
      .orderBy(col("doc_id"))
  val resizedDimsSql: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |    CAST(64 + CAST(concat('0x', substr(md5(text), 1, 3)) AS INT) % 1024 AS INT) AS width,
      |    CAST(64 + CAST(concat('0x', substr(md5(text), 5, 3)) AS INT) % 1024 AS INT) AS height
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, width, height,
      |    least(1.0, 256.0 / greatest(width, height)) AS scale
      |  FROM dims)
      |SELECT doc_id, width, height,
      |  CAST(greatest(1, CAST(floor(width * scale + 0.5) AS BIGINT)) AS INT) AS thumb_w,
      |  CAST(greatest(1, CAST(floor(height * scale + 0.5) AS BIGINT)) AS INT) AS thumb_h
      |FROM sc ORDER BY doc_id""".stripMargin

  /** q57: frame sampling's integer outputs — stride-4 sampling of the
    * stub-decoded frame count (1..32, digest byte 4 = md5 hex chars 9-10):
    * per doc, the sampled-frame count and index sum. The sum over indexes
    * 0, 4, ..., 4(c-1) closes to 2·c·(c-1). */
  def frameSampleStats(s: SparkSession, d: String): DataFrame =
    sampleFrames(mediaRecords(s, d), stride = 4)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("frame_idx")).as("sum_idx"))
      .orderBy(col("doc_id"))
  val frameSampleStatsSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    1 + CAST(concat('0x', substr(md5(text), 9, 2)) AS INT) % 32 AS n_total
      |  FROM documents),
      |c AS (SELECT doc_id, (n_total + 3) // 4 AS cnt FROM n)
      |SELECT doc_id, CAST(cnt AS BIGINT) AS n_frames,
      |  CAST(2 * cnt * (cnt - 1) AS BIGINT) AS sum_idx
      |FROM c ORDER BY doc_id""".stripMargin

  // ── q91: perceptual-hash (dHash) image near-dup ─────────────────────────

  /** One perceptual hash per (doc, encoding variant) — the hash split into
    * two 32-bit halves because the DuckDB oracle cannot shift into bit 63
    * of a signed BIGINT (overflow error), and two non-negative halves
    * compare exactly on both engines. */
  case class PerceptualHash(doc_id: Long, variant: Int,
                            hash_hi: Long, hash_lo: Long)

  /** The q91 corpus generator: a 9×8 grid of solid grays from a pure
    * integer formula of (family, column, row), painted at `scale`× so the
    * SAME content exists at different pixel dimensions. Families repeat
    * across docs (doc_id % 50), planting true perceptual near-dup groups
    * whose md5 payloads all DIFFER (PNG at two sizes + GIF palettization
    * produce distinct bytes) — exactly the case the byte-hash dedup of
    * q17/`Media` misses and a perceptual hash catches. */
  private[multimodal] def formulaImage(family: Long,
                                       scale: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      9 * scale, 8 * scale, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    try {
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 9) {
          val g = ((family * 131 + c * 31 + r * 17) % 251).toInt
          g2.setColor(new java.awt.Color(g, g, g))
          g2.fillRect(c * scale, r * scale, scale, scale)
          c += 1
        }
        r += 1
      }
    } finally g2.dispose()
    img
  }

  private[multimodal] def encodeImage(img: java.awt.image.BufferedImage,
                                      format: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    // MemoryCache for the same reason as [[syntheticGif]]
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    javax.imageio.ImageIO.write(img, format, ios)
    ios.close()
    baos.toByteArray
  }

  /** q91: perceptual near-dup over images — the multimodal analog of the
    * q18/q54 lexical near-dup family (VERDICT r10 item 3). `Media`'s
    * byte-level digests only catch byte-identical payloads; a difference
    * hash (dHash) survives re-encoding and re-scaling, the two mutations
    * real image corpora are full of. Each doc's formula image is encoded
    * THREE ways — PNG at 9×8, PNG at 27×24 (3× the pixels), GIF at 9×8
    * (palettized container) — every payload byte-distinct, then all three
    * are decoded and dHashed through the production
    * [[MediaCodec.dHash]]: exact area-average downsample to a 9×8 luma
    * grid + adjacent-column comparisons, 64 bits as two 32-bit halves.
    * All three variants MUST collapse to one hash (n_doc_hashes = 1 —
    * re-encode robustness, oracle-asserted), and docs sharing a content
    * family collapse into one cluster with min-doc canonical election
    * (the q80 pattern on the perceptual key). DuckDB predicts every hash
    * bit from the generating formula alone — a wrong pixel anywhere in
    * the encode→decode→downsample→compare chain hash-mismatches.
    *
    * Scale: payloads are born and die inside one partition (generate →
    * hash in the same mapPartitions; only (doc_id, variant, two longs)
    * survive — the no-binary-shuffle contract of q67); the per-doc
    * collapse and the cluster election are two hash-partitioned aggregates
    * on 4-long rows; the cluster join is co-partitioned on the hash pair.
    * At 100 TB of images the hash computation is embarrassingly parallel
    * and everything that shuffles is 32 bytes/doc. For sub-exact matching
    * (Hamming ≤ k), the two halves band directly into the q54
    * Hamming-band LSH — same key shape as the simhash family. */
  def perceptualNearDup(s: SparkSession, d: String): DataFrame =
    electPhashClusters(phashPerDoc(
      Tables.documents(s, d).select(col("doc_id"))))

  /** Decode → dHash → per-doc collapse for any frame with a `doc_id`
    * column: (doc_id, n_variants, n_doc_hashes, hash_hi, hash_lo). The
    * EXPENSIVE half of the family — payloads are born and die inside one
    * mapPartitions; only 32 bytes/doc survive. Factored so the q142
    * ledger appends exactly this per batch (decode work runs once per
    * document EVER, the amortization that matters at 100 TB of images). */
  private[graft] def phashPerDoc(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val hashes = ids.select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { it =>
        val codec = MediaCodec.open()
        it.flatMap { id =>
          val family = id % 50
          val variants = Seq(
            encodeImage(formulaImage(family, 1), "png"),
            encodeImage(formulaImage(family, 3), "png"),
            encodeImage(formulaImage(family, 1), "gif"))
          variants.zipWithIndex.map { case (bytes, v) =>
            val (hi, lo) = codec.dHash(bytes)
            PerceptualHash(id, v, hi, lo)
          }
        }
      }
    hashes.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_variants"),
           countDistinct(col("hash_hi"), col("hash_lo")).as("n_doc_hashes"),
           min(col("hash_hi")).as("hash_hi"),
           min(col("hash_lo")).as("hash_lo"))
  }

  /** Cluster election over per-doc hashes — two aggregates + one
    * co-partitioned join on the hash pair, all 4-long rows. */
  private[graft] def electPhashClusters(perDoc: DataFrame): DataFrame = {
    val clusters = perDoc.groupBy(col("hash_hi"), col("hash_lo"))
      .agg(count(lit(1)).as("n_same"), min(col("doc_id")).as("canonical_id"))
    perDoc.join(clusters, Seq("hash_hi", "hash_lo"))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        col("n_variants"), col("n_doc_hashes"), col("n_same"),
        col("canonical_id"))
      .orderBy(col("doc_id"))
  }
  /** The q91 oracle parameterized on the corpus predicate — q150's
    * takedown oracle reuses the identical hash/election chain over the
    * REDUCED corpus. */
  private def perceptualSqlFor(where: String): String =
    s"""WITH fam AS (SELECT doc_id, doc_id % 50 AS f FROM documents
      |             WHERE $where),
      |grid AS (SELECT rr.r, cc.c FROM range(0,8) rr(r), range(0,8) cc(c)),
      |bits AS (
      |  SELECT doc_id, r, c,
      |    CASE WHEN ((f*131 + (c+1)*31 + r*17) % 251)
      |           > ((f*131 + c*31 + r*17) % 251)
      |         THEN 1::BIGINT ELSE 0::BIGINT END AS b
      |  FROM fam, grid),
      |h AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN r < 4 THEN b << ((r % 4) * 8 + c) ELSE 0 END) AS BIGINT) AS hash_hi,
      |    CAST(sum(CASE WHEN r >= 4 THEN b << ((r % 4) * 8 + c) ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM bits GROUP BY doc_id),
      |cl AS (
      |  SELECT hash_hi, hash_lo, count(*) AS n_same, min(doc_id) AS canonical_id
      |  FROM h GROUP BY 1, 2)
      |SELECT doc_id, hash_hi, hash_lo, 3::BIGINT AS n_variants,
      |  1::BIGINT AS n_doc_hashes, n_same, canonical_id
      |FROM h JOIN cl USING (hash_hi, hash_lo)
      |ORDER BY doc_id""".stripMargin

  val perceptualNearDupSql: String = perceptualSqlFor("TRUE")

  /** q150's oracle: q91's one-shot election on the REDUCED corpus —
    * the takedown slice (hash bucket [20,30)) contributes no hash row,
    * so its clusters re-elect among the survivors. */
  val perceptualRetractSql: String = perceptualSqlFor(
    graft.operators.Documents.untakenSql)

  // ── q142: INCREMENTAL perceptual dedup — the multimodal ledger face ─────
  /** The q82/q128/q137 ledger move applied to the media ring (previously
    * the only family without an incremental face): at 100 TB of images
    * the decode→downsample→dHash pass is the dominant cost, and a
    * standing corpus must never re-decode because a batch arrived. Each
    * ingest batch appends its PER-DOC hash rows (the [[phashPerDoc]]
    * output — 32 bytes/doc, media payloads already dead) to a ledger
    * keyed by batch id; serving is the [[electPhashClusters]] election
    * over the ledger — two aggregates on long rows, decode-free. The
    * registered query carves the corpus 2-way on the q42 hash bucket,
    * folds both batches presence-keyed (a missing id is appended, an
    * existing one skipped — the healing contract), and is gated against
    * q91's ORACLE VERBATIM: fold ≡ one-shot, the q112/q137/q141 stance.
    * Replayed appends re-derive byte-identical rows (the hash is a pure
    * function of the payload) and the reader's full-row dedup absorbs
    * them; compaction is the shared hash-clustered rewrite. */
  val PhashLedger = graft.etl.Ledger(clusterKey = "hash_hi")

  /** A batch's ledger rows: [[phashPerDoc]] of its doc ids. */
  private[graft] def appendPhashLedger(ledgerPath: String,
      ids: DataFrame, batchId: String): Unit =
    PhashLedger.append(ledgerPath, phashPerDoc(ids), batchId)

  /** The ledger in [[electPhashClusters]]'s shape. */
  private def phashShape(ledger: DataFrame): DataFrame =
    ledger.select(col("doc_id"), col("n_variants"), col("n_doc_hashes"),
      col("hash_hi"), col("hash_lo"))

  def perceptualNearDupIncremental(s: SparkSession, d: String): DataFrame = {
    val ids = Ring.carve(Tables.documents(s, d).select(col("doc_id")))
    val path = graft.etl.Artifacts.path(s, "phash",
      Tables.datasetTag(s, d, "documents"))
    Ring.fold(s, path, ids, 50, 100)((b, id) =>
      appendPhashLedger(path, b.select(col("doc_id")), id))
    electPhashClusters(phashShape(PhashLedger.read(s, path)))
  }

  // ── q150: TAKEDOWN propagation through the phash ledger ────────────────
  /** The retraction verb reaching the multimodal ring: a takedown of
    * ingested images must drop them from the dedup election WITHOUT
    * re-decoding anything. Ledger rows are per-doc (not mergeable sums),
    * so deletion is the tombstone half of the q144/q149 pattern: the
    * deleted doc_id set appends to a `del` member (batch-keyed,
    * replay-absorbed by distinct), the serving election anti-joins it —
    * and because [[electPhashClusters]] is a pure function of the net
    * ledger, cluster sizes and canonical ids RE-ELECT among survivors
    * automatically (a takedown of a cluster's canonical doc promotes the
    * next-lowest id, exactly what the reduced one-shot oracle computes).
    * [[PhashLedger]]`.compact` with `del` physically drops masked rows on the normal
    * compaction cadence. Zero decodes anywhere in the retraction path. */
  /** The ledger net of tombstones — what every q150 consumer reads. */
  private[graft] def readPhashLedgerNet(s: SparkSession,
      ledgerPath: String, delPath: String): DataFrame =
    phashShape(PhashLedger.readNet(s, ledgerPath, delPath))

  /** q150: perceptual dedup under takedown — two ingest batches fold in
    * (q142's decode-once lifecycle), the bucket-[20,30) slice retracts
    * as tombstones, and the election runs the net ledger. Gated against
    * q91's one-shot oracle on the REDUCED corpus. */
  def perceptualRetract(s: SparkSession, d: String): DataFrame = {
    val ids = Ring.carve(Tables.documents(s, d).select(col("doc_id")))
    val root = graft.etl.Artifacts.path(s, "phashr",
      Tables.datasetTag(s, d, "documents"))
    val (path, delPath) = (s"$root/led", s"$root/del")
    Ring.fold(s, path, ids, 50, 100)(
      (b, id) => appendPhashLedger(path, b.select(col("doc_id")), id),
      Some((b, id) => PhashLedger.tombstone(path, delPath,
        b.select(col("doc_id")), id)))
    electPhashClusters(readPhashLedgerNet(s, path, delPath))
  }

  // ── q113: perceptual AUDIO near-dup (envelope fingerprint) ──────────────

  case class AudioFp(doc_id: Long, variant: Int, fp: Long)

  /** Minimal RIFF/WAVE container: mono 16-bit signed PCM, little-endian. */
  private[multimodal] def syntheticWav(rate: Int,
                                       samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** The q113 envelope formula: 8 per-eighth amplitude levels in 3..99,
    * consecutive levels never equal (13 ∤ 97). */
  private[multimodal] def envelopeLevels(family: Long): Array[Int] =
    Array.tabulate(8)(b => ((family * 37 + b * 13) % 97 + 3).toInt)

  /** q113: perceptual near-dup over AUDIO — the q91 story on the second
    * modality, completing the dedup ladder's audio member: byte digests
    * miss a re-sampled or volume-scaled copy of the same recording; a
    * loudness-ENVELOPE fingerprint survives both. Each doc's content
    * family (doc_id % 40) is an 8-segment constant-amplitude envelope
    * synthesized as real WAV THREE ways — 8 kHz, 16 kHz (re-sampled
    * twin), and 8 kHz at HALF volume (scaled twin) — every payload
    * byte-distinct, then decoded through the production
    * [[decodeAudio]] (real `javax.sound.sampled` PCM decode, per-eighth
    * RMS). The fingerprint is the MAX-NORMALIZED envelope quantized to
    * 64 steps and base-65 packed: normalization cancels volume, and
    * per-eighth RMS is duration/rate-free, so all three variants MUST
    * collapse to one fingerprint (n_doc_fps = 1, oracle-asserted); docs
    * sharing a family collapse into one cluster with min-doc election.
    *
    * The IEEE chain is EXACT end-to-end, which is what lets DuckDB
    * predict every bit from the generating formula alone: constant DC
    * segments make each RMS bin literally s/2¹⁵ (a perfect square under
    * an exact sum — every intermediate is representable), s = level·300
    * (or ·150 halved — a power-of-two scale, so the normalized ratios
    * divide to the SAME double), and both engines then run the identical
    * divide → ×64 → +0.5 → floor. A wrong sample anywhere in the
    * synth→container→decode→RMS chain hash-mismatches.
    *
    * Scale: payloads are born and die inside one partition (generate →
    * decode → fingerprint in one mapPartitions; only (doc_id, variant,
    * one long) survive — q67's no-binary-shuffle contract); the per-doc
    * collapse and cluster election are hash-partitioned aggregates on
    * 3-long rows; everything that shuffles is 24 bytes/doc. */
  def audioNearDup(s: SparkSession, d: String): DataFrame =
    electAudioClusters(audioFpPerDoc(
      Tables.documents(s, d).select(col("doc_id"))))

  /** Synthesize → decode → fingerprint → per-doc collapse for any frame
    * with a `doc_id` column: (doc_id, n_doc_fps, fp). The EXPENSIVE half
    * of the audio family — payloads are born and die inside one
    * mapPartitions; only 24 bytes/doc survive. Factored (r19, the q142
    * move on the second modality) so the q147 ledger appends exactly
    * this per batch: audio decode runs once per document EVER. */
  private[graft] def audioFpPerDoc(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val fps = ids.select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { it =>
        val codec = MediaCodec.open()
        it.flatMap { id =>
          val lv = envelopeLevels(id % 40)
          // 40 ms clips (320/640 frames), not the original 500 ms: the
          // envelope math is per-eighth, so sample count is a FREE
          // parameter of the harness (r13 verdict item 8 / r14 item 6 —
          // the #1 bench line was pure synthesis+decode constant; the
          // fingerprints, and therefore the oracle, are bit-identical at
          // any 8-aligned length, which MediaSpec pins at exactly these
          // shipped sizes). Real corpora stream real bytes; the decode
          // cost scales with THEIR length either way.
          Seq((0, 8000, 320, 1), (1, 16000, 640, 1), (2, 8000, 320, 2))
            .map { case (variant, rate, nFrames, div) =>
              val samples = new Array[Short](nFrames)
              var i = 0
              while (i < nFrames) {
                samples(i) = (lv(i * 8 / nFrames) * 300 / div).toShort
                i += 1
              }
              val (_, _, feats) =
                codec.decodeAudio(syntheticWav(rate, samples))
              val mx = feats.max.toDouble
              var fp = 0L
              var m = 1L
              var b = 0
              while (b < 8) {
                fp += math.floor(feats(b).toDouble / mx * 64.0 + 0.5)
                  .toLong * m
                m *= 65L
                b += 1
              }
              AudioFp(id, variant, fp)
            }
        }
      }.toDF()
    fps.groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("n_doc_fps"), min(col("fp")).as("fp"))
  }

  /** Cluster election over per-doc fingerprints — two hash-partitioned
    * aggregates + one co-partitioned join on the fp, all long rows. */
  private[graft] def electAudioClusters(perDoc: DataFrame): DataFrame = {
    val rep = perDoc.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("cluster_rep"))
    perDoc.join(rep, Seq("fp"))
      .select(col("doc_id"), col("n_doc_fps"), col("fp"), col("cluster_rep"),
        (col("doc_id") === col("cluster_rep")).as("keep"))
      .orderBy(col("doc_id"))
  }

  // ── q147: INCREMENTAL audio dedup — the q142 ledger on modality two ─────
  /** q113's envelope fingerprint behind the q142 ledger pattern (VERDICT
    * r18 item 3 — audio decode is as expensive as image decode, and the
    * audio family was the last decode path without an incremental face):
    * each ingest batch appends its PER-DOC fingerprint rows
    * ([[audioFpPerDoc]] — 24 bytes/doc, payloads already dead) to a
    * batch-keyed ledger; serving is [[electAudioClusters]] over the
    * ledger — decode-free. Fold is presence-keyed via commit markers;
    * replayed appends re-derive byte-identical rows (the fingerprint is
    * a pure function of the payload) and the reader's full-row dedup
    * absorbs them; compaction clusters on the fingerprint. Gated against
    * q113's ORACLE VERBATIM: fold ≡ one-shot. */
  val AudioFpLedger = graft.etl.Ledger(clusterKey = "fp")

  /** A batch's ledger rows: [[audioFpPerDoc]] of its doc ids. */
  private[graft] def appendAudioFpLedger(ledgerPath: String,
      ids: DataFrame, batchId: String): Unit =
    AudioFpLedger.append(ledgerPath, audioFpPerDoc(ids), batchId)

  /** The ledger in [[electAudioClusters]]'s shape. */
  private def audioShape(ledger: DataFrame): DataFrame =
    ledger.select(col("doc_id"), col("n_doc_fps"), col("fp"))

  def audioNearDupIncremental(s: SparkSession, d: String): DataFrame = {
    val ids = Ring.carve(Tables.documents(s, d).select(col("doc_id")))
    val path = graft.etl.Artifacts.path(s, "audiofp",
      Tables.datasetTag(s, d, "documents"))
    Ring.fold(s, path, ids, 50, 100)((b, id) =>
      appendAudioFpLedger(path, b.select(col("doc_id")), id))
    electAudioClusters(audioShape(AudioFpLedger.read(s, path)))
  }

  // ── q153: TAKEDOWN propagation through the audio-fp ledger ─────────────
  /** q150's tombstone pattern on modality two, closing takedown across
    * BOTH decode ledgers: deleted doc_ids mask the fingerprint election
    * with zero decodes, cluster reps re-elect among survivors (the
    * election is a pure function of the net ledger), and the rows drop
    * physically on the compaction cadence. Oracle = q113's one-shot on
    * the reduced corpus. */
  private[graft] def readAudioFpLedgerNet(s: SparkSession,
      ledgerPath: String, delPath: String): DataFrame =
    audioShape(AudioFpLedger.readNet(s, ledgerPath, delPath))

  def audioNearDupRetract(s: SparkSession, d: String): DataFrame = {
    val ids = Ring.carve(Tables.documents(s, d).select(col("doc_id")))
    val root = graft.etl.Artifacts.path(s, "audiofpr",
      Tables.datasetTag(s, d, "documents"))
    val (path, delPath) = (s"$root/led", s"$root/del")
    Ring.fold(s, path, ids, 50, 100)(
      (b, id) => appendAudioFpLedger(path, b.select(col("doc_id")), id),
      Some((b, id) => AudioFpLedger.tombstone(path, delPath,
        b.select(col("doc_id")), id)))
    electAudioClusters(readAudioFpLedgerNet(s, path, delPath))
  }
  /** Oracle: the envelope formula → exact ratio quantization → base-65
    * packing, predicted without ever touching a WAV byte; n_doc_fps is
    * the PREDICTION 1 (a decode divergence on any variant breaks it). */
  val audioNearDupSql: String = audioSqlFor("TRUE")

  /** q153's oracle: q113's one-shot election on the REDUCED corpus. */
  val audioRetractSql: String = audioSqlFor(
    graft.operators.Documents.untakenSql)

  private def audioSqlFor(where: String): String = {
    val mults = (0 until 8).map(b =>
      s"($b, CAST(${Seq.fill(b)("65").foldLeft(BigInt(1))((a, _) => a * 65)} AS BIGINT))")
      .mkString(", ")
    s"""WITH lv AS (
       |  SELECT doc_id, t.b,
       |    ((doc_id % 40) * 37 + t.b * 13) % 97 + 3 AS a
       |  FROM documents, range(0, 8) t(b) WHERE $where),
       |mx AS (SELECT doc_id, max(a) AS amax FROM lv GROUP BY doc_id),
       |m(b, mult) AS (VALUES $mults),
       |fp AS (
       |  SELECT lv.doc_id, CAST(sum(
       |    CAST(floor((CAST(a * 300 AS DOUBLE) / 32768.0)
       |      / (CAST(amax * 300 AS DOUBLE) / 32768.0) * 64.0 + 0.5)
       |      AS BIGINT) * mult) AS BIGINT) AS fp
       |  FROM lv JOIN mx ON mx.doc_id = lv.doc_id JOIN m ON m.b = lv.b
       |  GROUP BY lv.doc_id),
       |cl AS (SELECT fp, min(doc_id) AS cluster_rep FROM fp GROUP BY fp)
       |SELECT doc_id, CAST(1 AS BIGINT) AS n_doc_fps, fp.fp, cluster_rep,
       |  doc_id = cluster_rep AS keep
       |FROM fp JOIN cl USING (fp)
       |ORDER BY doc_id""".stripMargin
  }

  // ── q118: scene-cut detection over decoded frame sequences ─────────────
  /** A cut ⇔ consecutive decoded frames' mean luma jumps by more than
    * this (drift steps are +3, planted scene jumps +63). */
  val SceneCutThreshold = 30

  /** q118: shot-boundary detection — the video-curation member of the
    * multimodal ring (training pipelines segment footage at scene cuts
    * before captioning/sampling; the standard detector thresholds a
    * frame-to-frame difference signal). Each doc becomes a REAL animated
    * GIF of `doc_id % 9 + 4` solid frames whose gray DRIFTS by +3 per
    * frame (in-scene motion) and JUMPS +60 wherever `(doc_id + f) % 5 == 0`
    * (a planted cut); the GIF is encoded, then every frame decoded back
    * through `javax.imageio` and reduced to an integer mean luma — exact
    * for solid frames under GIF palettization, the q67 argument — all
    * inside ONE `mapPartitions` (payloads born and dead in-partition;
    * only (doc_id, frame_idx, luma) 3-int rows shuffle, q67's
    * no-binary-shuffle contract, with the same pre-generate key-spread
    * repartition). The detector itself is declarative: one lag window
    * over (doc_id, frame_idx) rides the single exchange, and the per-doc
    * rollup (frame count, cut count, cut-index sum) reuses the same
    * hash partitioning. The oracle predicts every row from the planting
    * formulas alone — a wrong pixel anywhere in the
    * encode→decode→luma→lag chain hash-mismatches. */
  def sceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lumas = Tables.documents(s, d)
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { it =>
        val codec = MediaCodec.open()
        it.flatMap { id =>
          val n = (id % 9 + 4).toInt
          var scene = 0
          val grays = (0 until n).map { f =>
            if (f > 0 && (id + f) % 5 == 0) scene += 1
            ((id % 20) + 3 * f + 60 * scene).toInt
          }
          codec.frameMeanLumas(syntheticGif(16, 12, grays))
            .map { case (f, l) => (id, f, l) }
        }
      }.toDF("doc_id", "frame_idx", "luma")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    lumas
      .withColumn("diff", col("luma") - lag(col("luma"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("diff") > SceneCutThreshold, 1L).otherwise(0L))
          .as("n_cuts"),
        sum(when(col("diff") > SceneCutThreshold,
          col("frame_idx").cast("long")).otherwise(0L)).as("sum_cut_idx"))
      .orderBy(col("doc_id"))
  }
  val sceneCutsSql: String =
    """WITH d AS (SELECT doc_id, doc_id % 9 + 4 AS n FROM documents),
      |f AS (SELECT doc_id, unnest(range(1, n)) AS fi FROM d),
      |c AS (SELECT doc_id, fi FROM f WHERE (doc_id + fi) % 5 = 0)
      |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_frames,
      |  CAST(count(c.fi) AS BIGINT) AS n_cuts,
      |  CAST(coalesce(sum(c.fi), 0) AS BIGINT) AS sum_cut_idx
      |FROM d LEFT JOIN c USING (doc_id)
      |GROUP BY d.doc_id, d.n ORDER BY d.doc_id""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q118_scene_cuts"    -> (sceneCuts _),
    "q34_media_features" -> (mediaFeatures _),
    "q56_media_resize"   -> (resizedDims _),
    "q57_frame_sample"   -> (frameSampleStats _),
    "q67_gif_frames"     -> (gifFrameStats _),
    "q91_phash_neardup"  -> (perceptualNearDup _),
    "q142_phash_incremental" -> (perceptualNearDupIncremental _),
    "q150_phash_retract" -> (perceptualRetract _),
    "q113_audio_neardup" -> (audioNearDup _),
    "q147_audio_incremental" -> (audioNearDupIncremental _),
    "q153_audio_retract" -> (audioNearDupRetract _))

  val oracles: Seq[(String, String)] = Seq(
    "q118_scene_cuts"    -> sceneCutsSql,
    "q34_media_features" -> mediaFeaturesSql,
    "q56_media_resize"   -> resizedDimsSql,
    "q57_frame_sample"   -> frameSampleStatsSql,
    "q67_gif_frames"     -> gifFrameStatsSql,
    "q91_phash_neardup"  -> perceptualNearDupSql,
    // q142's oracle IS q91's one-shot SQL — the gate itself proves
    // ledger-decomposition ≡ one-shot perceptual clustering
    "q142_phash_incremental" -> perceptualNearDupSql,
    // q150's oracle is the one-shot election on the REDUCED corpus
    "q150_phash_retract" -> perceptualRetractSql,
    "q113_audio_neardup" -> audioNearDupSql,
    // q147's oracle IS q113's one-shot SQL — fold ≡ one-shot, gated
    "q147_audio_incremental" -> audioNearDupSql,
    // q153's oracle is the one-shot election on the REDUCED corpus
    "q153_audio_retract" -> audioRetractSql)
}

/** The per-partition codec. `image/`-prefixed payloads decode for REAL through
  * JDK `javax.imageio` (public API, present in every JVM — PNG, GIF, BMP,
  * JPEG); other mime types fall to the md5-derived stub so tests and
  * oracles can reproduce them. Opened once per partition — ImageIO's
  * plugin registry scan happens per JVM, not per record. */
class MediaCodec private () {

  /** Mime-dispatched decode: real image decode for `image/`-prefixed,
    * real audio decode for `audio/`-prefixed (JDK `javax.sound.sampled`
    * — WAV/AIFF/AU PCM, no external libs), stub otherwise — INCLUDING a
    * null mime (ADVICE r5: an unchecked `mime.startsWith` NPE'd inside
    * mapPartitions on records with no mime, where the documented contract
    * is "everything else falls to the stub"). One return shape for all
    * paths. */
  def decode(bytes: Array[Byte], mime: String): (Int, Int, Array[Float]) =
    if (mime != null && mime.startsWith("image/")) decodeImage(bytes)
    else if (mime != null && mime.startsWith("audio/")) decodeAudio(bytes)
    else decodeStub(bytes)

  /** Mime-dispatched re-encode at a target size; null/unknown mime falls
    * to the stub like [[decode]]. */
  def reencode(bytes: Array[Byte], mime: String, w: Int, h: Int): Array[Byte] =
    if (mime != null && mime.startsWith("image/")) resizeImage(bytes, w, h)
    else reencodeStub(bytes, w, h)

  /** REAL image decode: dims + an 8-bin luma histogram (fractions summing
    * to 1) as the fixed-width feature vector — the same `Array[Float]`
    * shape the stub emits and [[graft.operators.Similarity]] consumes.
    * Luma = integer Rec.601 ((299R + 587G + 114B) / 1000), binned into 8
    * bands of 32 levels. Throws on corrupt/unsupported payloads — a
    * production pipeline would wrap this in a parse-or-skip filter
    * (SURVEY F4 semantics), which is a caller policy, not codec policy. */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "unsupported or corrupt image payload")
    (img.getWidth, img.getHeight, lumaHistogram(img))
  }

  /** 8-bin luma-histogram features of one decoded frame — shared by the
    * single-image and frame-sequence paths. */
  private def lumaHistogram(img: java.awt.image.BufferedImage): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val hist = new Array[Int](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                    (rgb & 0xff) * 114) / 1000
        hist(luma >> 5) += 1
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toFloat
    hist.map(_ / n)
  }

  /** Mime-dispatched frame sampling: every `stride`-th frame's features.
    * `image/`-prefixed payloads go through [[decodeFrames]] (REAL,
    * `javax.imageio` — an animated GIF yields one entry per stored frame,
    * a PNG/JPEG/BMP yields exactly one); anything else — true video
    * containers, for which the JDK ships no codec — falls to the
    * deterministic md5 stub, the same everything-else contract as
    * [[decode]]. */
  def frames(bytes: Array[Byte], mime: String,
             stride: Int): Iterator[(Int, Array[Float])] =
    if (mime != null && mime.startsWith("image/")) decodeFrames(bytes, stride)
    else {
      val n = frameCountStub(bytes)
      Iterator.range(0, n, stride).map(f => (f, frameFeaturesStub(bytes, f)))
    }

  /** REAL frame-sequence decode via the `javax.imageio` reader API:
    * `getNumImages(true)` counts the stored frames (the animated-GIF
    * case; 1 for single-frame formats), `read(i)` decodes each sampled
    * frame, [[lumaHistogram]] reduces it to the fixed-width feature
    * vector. Sampled features are drained eagerly per payload (8 floats
    * per frame, never the pixels) so the reader can be disposed before
    * the iterator escapes — a lazily-captured reader would leak its
    * stream if a downstream `take` stopped early. Throws on
    * corrupt/unsupported payloads; parse-or-skip is caller policy, like
    * [[decodeImage]]. */
  def decodeFrames(bytes: Array[Byte],
                   stride: Int): Iterator[(Int, Array[Float])] = {
    // MemoryCache for the same reason as [[Media.syntheticGif]]'s output
    // stream: the factory default is a temp-FILE-backed cache per payload
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) {
      iis.close()
      throw new IllegalArgumentException("unsupported or corrupt image payload")
    }
    val reader = readers.next()
    try {
      // seekForwardOnly=false: getNumImages(true) must scan ahead
      reader.setInput(iis, false)
      val n = reader.getNumImages(true)
      Iterator.range(0, n, stride)
        .map(i => (i, lumaHistogram(reader.read(i)))).toVector.iterator
    } finally { reader.dispose(); iis.close() }
  }

  /** Per-frame INTEGER mean luma of an image sequence — the scene-cut
    * difference signal (q118). Luma of a pixel = (r + g + b) / 3 summed
    * exactly, then one integer division by 3·pixels: for a solid frame
    * the mean is the frame's gray value EXACTLY (3·g·n / (3·n)), which
    * is what makes the cut detector oracle-predictable under GIF
    * palettization. Same reader protocol and eager drain as
    * [[decodeFrames]]; throws on corrupt/unsupported payloads. */
  def frameMeanLumas(bytes: Array[Byte]): Iterator[(Int, Int)] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) {
      iis.close()
      throw new IllegalArgumentException("unsupported or corrupt image payload")
    }
    val reader = readers.next()
    try {
      reader.setInput(iis, false)
      val n = reader.getNumImages(true)
      Iterator.range(0, n).map { i =>
        val img = reader.read(i)
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        (i, (sum / (3L * w * h)).toInt)
      }.toVector.iterator
    } finally { reader.dispose(); iis.close() }
  }

  /** Perceptual difference hash (dHash) of an image payload: decode, then
    * [[dHashOfImage]]. Throws on corrupt/unsupported payloads —
    * parse-or-skip is caller policy, like [[decodeImage]]. */
  def dHash(bytes: Array[Byte]): (Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "unsupported or corrupt image payload")
    dHashOfImage(img)
  }

  /** dHash core: EXACT area-average downsample to a 9-column × 8-row luma
    * grid, then one bit per adjacent-column comparison — bit (r,c) set iff
    * cell (r, c+1)'s mean luma is strictly greater than cell (r, c)'s.
    * Returned as two 32-bit halves (rows 0–3 → hi, rows 4–7 → lo; bit
    * index (r mod 4)·8 + c within each half) so an oracle in an engine
    * without unsigned 64-bit shifts can reproduce every bit.
    *
    * Exactness is the design point, not an optimization: the usual
    * Graphics2D bilinear downsample is filter-kernel-dependent (not
    * reproducible outside the JVM), while integer area sums compared by
    * CROSS-MULTIPLICATION (sumR·cntL > sumL·cntR — no division, no
    * rounding) make the hash a pure function of the pixel grid that any
    * engine can replay. Pixel→cell assignment is c = ⌊x·9/w⌋ (identical
    * to the half-open boundary partition ⌊c·w/9⌋ ≤ x < ⌊(c+1)·w/9⌋), so
    * an integer k× upscale replicates every cell's pixel population k²-
    * fold and the rational means — hence every bit — are invariant, which
    * is exactly the re-encode/re-scale robustness a perceptual hash is
    * for. Luma is the same integer Rec.601 as [[lumaHistogram]]. */
  def dHashOfImage(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 9 && h >= 8, s"dHash needs at least 9x8 pixels, got ${w}x$h")
    val sums = new Array[Long](8 * 9)
    val cnts = new Array[Long](8 * 9)
    var y = 0
    while (y < h) {
      val r = y * 8 / h
      var x = 0
      while (x < w) {
        val c = x * 9 / w
        val rgb = img.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                    (rgb & 0xff) * 114) / 1000
        sums(r * 9 + c) += luma
        cnts(r * 9 + c) += 1
        x += 1
      }
      y += 1
    }
    var hi = 0L
    var lo = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val l = r * 9 + c
        if (sums(l + 1) * cnts(l) > sums(l) * cnts(l + 1)) {
          val idx = (r % 4) * 8 + c
          if (r < 4) hi |= 1L << idx else lo |= 1L << idx
        }
        c += 1
      }
      r += 1
    }
    (hi, lo)
  }

  /** REAL image resize: bilinear scale into (w, h) via Graphics2D, then a
    * PNG re-encode — output is itself a decodable image, which MediaSpec
    * round-trips. */
  def resizeImage(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "unsupported or corrupt image payload")
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", baos)
    baos.toByteArray
  }

  /** REAL audio decode via JDK `javax.sound.sampled` (WAV/AIFF/AU
    * containers, PCM): returns (sample_rate, frame_count) as the dims
    * slot and an 8-bin per-eighth RMS loudness profile (each in [0, 1])
    * as the fixed-width feature vector — the same `Array[Float]` shape
    * the image path and stub emit, so decoded audio flows into the same
    * downstream columns. 16-bit signed PCM, either endianness, channels
    * averaged. Throws on unsupported payloads — parse-or-skip is caller
    * policy, like [[decodeImage]]. */
  /** Container reader resolved ONCE per codec handle — the audio analog
    * of [[MediaCodec.open]]'s ImageIO cache pin (r15, the q113 bench
    * constant): `AudioSystem.getAudioInputStream` re-scans the SPI
    * provider list on EVERY call, and each non-matching provider
    * rejects by throwing internally — per-payload overhead that
    * dominates short-clip decode fleets. A homogeneous stream (one
    * container format per source, the normal case) steady-states to one
    * direct reader call; a format change just re-resolves. Same SPI
    * objects, same decode result — ServiceLoader over
    * `javax.sound.sampled.spi.AudioFileReader` is the public mechanism
    * AudioSystem itself uses. */
  private var audioReader: javax.sound.sampled.spi.AudioFileReader = null

  private def audioStream(
      bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val bais = new java.io.ByteArrayInputStream(bytes)
    if (audioReader != null)
      try return audioReader.getAudioInputStream(bais)
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException =>
          bais.reset() // stale cache: fall through to a fresh scan
      }
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    while (it.hasNext) {
      val r = it.next()
      try {
        val s = r.getAudioInputStream(bais)
        audioReader = r
        return s
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException =>
          bais.reset()
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no installed AudioFileReader accepts this payload")
  }

  def decodeAudio(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val in = audioStream(bytes)
    try {
      val fmt = in.getFormat
      require(fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16,
        s"unsupported audio format: $fmt (need 16-bit signed PCM)")
      val raw = in.readAllBytes()
      val ch = fmt.getChannels
      val nFrames = raw.length / (2 * ch)
      // per-frame mean over channels, decoded per the container endianness
      val mono = new Array[Double](nFrames)
      var f = 0
      while (f < nFrames) {
        var acc = 0.0
        var c = 0
        while (c < ch) {
          val o = (f * ch + c) * 2
          val s =
            if (fmt.isBigEndian) ((raw(o) << 8) | (raw(o + 1) & 0xff)).toShort
            else ((raw(o + 1) << 8) | (raw(o) & 0xff)).toShort
          acc += s / 32768.0
          c += 1
        }
        mono(f) = acc / ch
        f += 1
      }
      val feats = Array.tabulate(8) { b =>
        val from = (nFrames.toLong * b / 8).toInt
        val until = (nFrames.toLong * (b + 1) / 8).toInt
        if (until <= from) 0.0f
        else {
          var ss = 0.0
          var i = from
          while (i < until) { ss += mono(i) * mono(i); i += 1 }
          math.sqrt(ss / (until - from)).toFloat
        }
      }
      (fmt.getSampleRate.toInt, nFrames, feats)
    } finally in.close()
  }

  /** STUB — stands in for the decoders this container lacks (video
    * frames; audio formats beyond what `javax.sound.sampled` ships).
    * Deterministic: width/height/features are pure functions
    * of md5(payload). */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val d = digest(bytes)
    val width = 64 + (u8(d, 0) << 4 | u8(d, 1) >> 4) % 1024
    val height = 64 + (u8(d, 2) << 4 | u8(d, 3) >> 4) % 1024
    val feats = Array.tabulate(8)(i => u8(d, i * 2) / 255.0f)
    (width, height, feats)
  }

  /** STUB re-encode at a target size: deterministic bytes derived from the
    * payload digest + dims (a real codec would scale and re-compress). */
  def reencodeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
    digest(bytes ++ Array(w.toByte, h.toByte))

  /** STUB frame count: 1–32 frames, digest-determined. */
  def frameCountStub(bytes: Array[Byte]): Int = 1 + u8(digest(bytes), 4) % 32

  /** STUB per-frame features (digest of payload + frame index). */
  def frameFeaturesStub(bytes: Array[Byte], frame: Int): Array[Float] = {
    val d = digest(bytes ++ Array(frame.toByte))
    Array.tabulate(8)(i => u8(d, i) / 255.0f)
  }

  private def digest(bytes: Array[Byte]): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(bytes)
  }
  private def u8(d: Array[Byte], i: Int): Int = d(i) & 0xff
}

object MediaCodec {
  /** Per-partition handle. Also pins ImageIO's JVM-wide stream-cache mode
    * to memory: `ImageIO.read/write` internally create File-cached
    * streams by default — a temp file per payload under java.io.tmpdir,
    * which serializes a 32-core decode fleet on filesystem metadata ops
    * (see [[Media.syntheticGif]] for the measured effect). Idempotent,
    * public API, standard server-side ImageIO practice. */
  def open(): MediaCodec = {
    javax.imageio.ImageIO.setUseCache(false)
    new MediaCodec()
  }
}
