package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Iterate.CutOps

/** Multimodal-column operators (reference: image→Rekognition labels,
  * module/instagram/labels.js:51-80 = SURVEY.md M1/M2; generalized to the
  * opaque-binary-column pattern of training-data pipelines).
  *
  * Media is carried as an opaque `binary` column plus typed metadata.
  * Decode / feature-extraction runs executor-side via `mapPartitions`
  * over a typed Dataset in fixed-size batches — and the image decode is
  * REAL: `javax.imageio` (JDK-bundled, fully offline) parses actual
  * PNG bytes into pixels, and the features (dimensions, per-channel
  * pixel sums) are computed from the decoded raster. The image corpus
  * is a deterministic generated fixture ([[genPng]]): each document
  * gets a small PNG whose pixels are a closed-form function of
  * (doc_id, x, y), so the DuckDB oracle can restate the EXPECTED
  * decode output exactly — PNG is lossless, so decode(encode(pixels))
  * must reproduce the formula or the hash check fails. Only the video
  * frame-sampling transform keeps a byte-level stand-in kernel (no
  * video codec ships with the JDK); its plumbing is identical.
  *
  * Scale notes: binary payloads never pass through a shuffle here — the
  * decode is a narrow map; only the small feature rows move on. Batch
  * size 64 bounds per-task peak memory regardless of partition size.
  */
object Multimodal extends graft.QueryPack {
  // never spill decode scratch to executor-local temp files
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(doc_id: Long, content: Array[Byte])
  case class ImageFeatures(
      doc_id: Long, width: Long, height: Long, n_px: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic PNG fixture for one document: W = 8 + d%9,
    * H = 8 + d%7, pixel (x,y) channels
    * r = (d·31 + x·7 + y·13) mod 256, g = (d·17 + x·3 + y·5) mod 256,
    * b = (d·23 + x·11 + y·2) mod 256 — encoded through the real
    * `ImageIO` PNG writer. The formula IS the oracle contract: DuckDB
    * recomputes it in closed form and the decoded features must agree
    * byte-for-byte. */
  def genPng(d: Long): Array[Byte] = renderPng(d, zeroOrigin = false)

  /** Near-dup copy fixture for the 64-bit pHash plant: the SOURCE
    * image re-encoded with pixel (0,0) blacked out — a one-pixel
    * retouch, the smallest perceptual edit. Measured on the fixture
    * corpus it lands copies across Hamming 0..14 from their source
    * (0/1/2/3 → 36/40/29/38 of the 294 sf0.1 copies) — non-degenerate
    * on BOTH sides of the radius-3 boundary, so the Hamming join has
    * true accepts AND true rejects to prove itself on. */
  def genPngNearDup(d: Long): Array[Byte] = renderPng(d, zeroOrigin = true)

  private def renderPng(d: Long, zeroOrigin: Boolean): Array[Byte] = {
    val w = (8 + d % 9).toInt
    val h = (8 + d % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb =
          if (zeroOrigin && x == 0 && y == 0) 0
          else {
            val r = ((d * 31 + x * 7 + y * 13) % 256).toInt
            val g = ((d * 17 + x * 3 + y * 5) % 256).toInt
            val b = ((d * 23 + x * 11 + y * 2) % 256).toInt
            (r << 16) | (g << 8) | b
          }
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode: `javax.imageio` parses the payload and the
    * features come from the decoded raster. An undecodable payload
    * (null, empty, not an image) yields a zero-dimension row rather
    * than throwing — one corrupt image must not kill a 100 TB scan. */
  def decodeImage(docId: Long, content: Array[Byte]): ImageFeatures = {
    val img =
      if (content == null || content.isEmpty) null
      else try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      catch { case _: java.io.IOException => null }
    if (img == null) ImageFeatures(docId, 0, 0, 0, 0, 0, 0)
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff
          sg += (p >> 8) & 0xff
          sb += p & 0xff
          x += 1
        }
        y += 1
      }
      ImageFeatures(docId, w, h, w.toLong * h, sr, sg, sb)
    }
  }

  case class PhashRow(doc_id: Long, phash: Long)

  /** Average-hash (aHash) perceptual fingerprint over the REAL decoded
    * raster: the image is block-averaged onto a fixed 4×4 grid (cell
    * (i,j) covers x ∈ [⌊iW/4⌋, ⌊(i+1)W/4⌋), same for y) and bit i·4+j
    * is set iff the cell's mean gray exceeds the whole-image mean.
    * Both means are rationals over integer pixel sums, so the
    * comparison is done EXACTLY as s_cell·N > S_total·c_cell — no
    * float division anywhere, and the oracle restates the identical
    * integer inequality. Undecodable payloads fingerprint as -1
    * (the decodeImage zero-row contract). */
  def imagePhash(content: Array[Byte]): Long = {
    val img =
      if (content == null || content.isEmpty) null
      else try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      catch { case _: java.io.IOException => null }
    if (img == null) return -1L
    val w = img.getWidth
    val h = img.getHeight
    val s = new Array[Long](16)
    val c = new Array[Long](16)
    var total = 0L
    var y = 0
    while (y < h) {
      val cj = y * 4 / h
      var x = 0
      while (x < w) {
        val ci = x * 4 / w
        val p = img.getRGB(x, y)
        val gray3 = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
        s(ci * 4 + cj) += gray3
        c(ci * 4 + cj) += 1L
        total += gray3
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    var hash = 0L
    var idx = 0
    while (idx < 16) {
      if (s(idx) * n > total * c(idx)) hash |= 1L << idx
      idx += 1
    }
    hash
  }

  // ---- 64-bit DCT pHash (q_phash64_hamming) ---------------------------

  /** Fixed-point DCT-II basis at scale 1e5: dctTab(N)(k)(x) =
    * ⌊cos(π(2x+1)k/(2N))·1e5 + 0.5⌋ for the fixture side range
    * N ∈ [8,16], k ∈ [0,8). Cross-engine exactness is by CONSTRUCTION:
    * JVM `Math.cos` and DuckDB `cos` were diffed over all 864 entries
    * and agree bit-for-bit (the nearest value sits 1.3e-3 from a
    * rounding boundary — 13 orders of magnitude above a 1-ulp cos
    * drift), so downstream both engines run IDENTICAL integer
    * arithmetic. ⌊x+0.5⌋ on both sides, not round(): Java Math.round
    * and DuckDB ROUND disagree on negative halves. */
  private val dctTab: Map[Int, Array[Array[Long]]] =
    (8 to 16).map { n =>
      n -> Array.tabulate(8, n)((k, x) =>
        math.floor(
          math.cos(math.Pi * (2 * x + 1) * k / (2 * n)) * 100000.0 + 0.5)
          .toLong)
    }.toMap

  /** Production 64-bit perceptual hash: separable 2-D DCT-II of the
    * decoded gray raster (gray3 = r+g+b, the house integer gray), kept
    * as EXACT fixed-point integers — row pass R(k,y) = Σ_x gray3·ct,
    * column pass C(k,l) = Σ_y R·ct — then bit k·8+l set iff the
    * low-frequency coefficient exceeds the mean of the 63 non-DC
    * coefficients, compared as 63·C(k,l) > Σ'C (integer, no division,
    * DC excluded: it carries total brightness, not structure).
    * Overflow headroom: |R| ≤ 765·1e5·16 ≈ 1.2e9, |C| ≤ 1.7e15,
    * 63·|C| ≈ 1.1e17 — 80× under Long.MaxValue. Undecodable → -1
    * (the decodeImage contract; -1 rows are filtered before any
    * join). Unlike the 4×4 aHash this fingerprints the FULL
    * low-frequency structure, and its 2^64 domain is what makes the
    * pigeonhole join downstream load-bearing rather than
    * domain-bounded. */
  def imagePhash64(content: Array[Byte]): Long = {
    val img =
      if (content == null || content.isEmpty) null
      else try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      catch { case _: java.io.IOException => null }
    if (img == null) return -1L
    phash64Of(img)
  }

  /** Decode ONCE, report dims + 64-bit hash — the single-pass form the
    * composed media pipeline uses (gate verdicts need dims, dedup
    * stages need the hash; a 100 TB scan decodes each payload once). */
  case class MediaInfo(img_id: Long, width: Long, height: Long, phash: Long)
  def imageInfo(id: Long, content: Array[Byte]): MediaInfo = {
    val img =
      if (content == null || content.isEmpty) null
      else try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      catch { case _: java.io.IOException => null }
    if (img == null) MediaInfo(id, 0L, 0L, -1L)
    else MediaInfo(id, img.getWidth.toLong, img.getHeight.toLong,
      phash64Of(img))
  }

  private def phash64Of(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    if (w < 8 || w > 16 || h < 8 || h > 16) return -1L
    val ctw = dctTab(w); val cth = dctTab(h)
    val gray = Array.ofDim[Long](w, h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        gray(x)(y) =
          (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
        x += 1
      }
      y += 1
    }
    val rPass = Array.ofDim[Long](8, h)
    var k = 0
    while (k < 8) {
      var yy = 0
      while (yy < h) {
        var s = 0L; var x = 0
        while (x < w) { s += gray(x)(yy) * ctw(k)(x); x += 1 }
        rPass(k)(yy) = s
        yy += 1
      }
      k += 1
    }
    val coef = Array.ofDim[Long](8, 8)
    var tot = 0L
    k = 0
    while (k < 8) {
      var l = 0
      while (l < 8) {
        var s = 0L; var yy = 0
        while (yy < h) { s += rPass(k)(yy) * cth(l)(yy); yy += 1 }
        coef(k)(l) = s
        if (k != 0 || l != 0) tot += s
        l += 1
      }
      k += 1
    }
    var hash = 0L
    k = 0
    while (k < 8) {
      var l = 0
      while (l < 8) {
        if ((k != 0 || l != 0) && 63L * coef(k)(l) > tot)
          hash |= 1L << (k * 8 + l)
        l += 1
      }
      k += 1
    }
    hash
  }

  /** The 64-bit-pHash corpus: every document's fixture image plus, for
    * doc_id % 17 == 4, a near-dup retouched copy at id + 1,000,000
    * ([[genPngNearDup]]) — generated, REAL-decoded and hashed in one
    * batched executor-side pass (binary never crosses a shuffle; only
    * (id, hash) rows move on). */
  def phash64Corpus(spark: SparkSession, docIds: DataFrame): DataFrame = {
    import spark.implicits._
    // spread: generate+decode+DCT is heavy per row and docIds usually
    // arrives as a 1-split scan (r15; guide §2.5)
    graft.Tables.spread(docIds.select(col("doc_id")), col("doc_id")).as[Long]
      .mapPartitions(_.grouped(64).flatMap(_.flatMap { id =>
        val rows = scala.collection.mutable.ArrayBuffer(
          PhashRow(id, imagePhash64(genPng(id))))
        if (id % 17 == 4)
          rows += PhashRow(id + 1000000L, imagePhash64(genPngNearDup(id)))
        rows
      }))
      .toDF()
  }

  /** The generated image corpus as a binary media column: one small
    * PNG per document, produced executor-side (a narrow map — the
    * fixture generator stands where a parquet binary column or
    * binaryFile scan would in production; StorageLayoutSpec covers the
    * binaryFile read path). */
  def imageFixtures(spark: SparkSession, docIds: DataFrame): DataFrame = {
    import spark.implicits._
    // spread: PNG generation (and the decode that follows it in every
    // consumer) is heavy per row; the docIds scan is 1-split (r15)
    graft.Tables.spread(docIds.select(col("doc_id")), col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, genPng(id))))
      .toDF()
  }

  /** Executor-side batched decode: partitions stream through in batches
    * of 64 rows (the batch shape a vectorized decoder / model server
    * call would use). */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRow]
      .mapPartitions(_.grouped(64).flatMap(_.map(m =>
        decodeImage(m.doc_id, m.content))))
      .toDF()
  }

  case class FrameRow(
      doc_id: Long, frame_no: Long, frame_offset: Long,
      frame_checksum: Long, n_frames: Long,
      resized_len: Long, resized_md5: String)

  /** STUB transform — stands in for image resize + video frame
    * sampling. "Resize" = every-4th-byte stride (output identified by
    * md5, the real op emits a smaller binary); "frames" = 256-byte
    * blocks, sampled at first / middle / last; per-frame checksum =
    * byte sum. Deterministic, so the oracle restates it byte-for-byte
    * on the ASCII payloads. A real decoder replaces only this body.
    * NULL payload = empty bytes, as in [[decodeStub]]. */
  def transformStub(m: MediaRow): Seq[FrameRow] = {
    val b = if (m.content == null) Array.emptyByteArray else m.content
    val resized = b.indices.by(4).map(b(_)).toArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val resizedMd5 = md.digest(resized).map("%02x".format(_)).mkString
    val nFrames = math.max((b.length + 255) / 256, 1)
    Seq(0, nFrames / 2, nFrames - 1).distinct.sorted.map { f =>
      val off = f * 256
      val end = math.min(off + 256, b.length)
      val checksum =
        if (off >= b.length) 0L
        else (off until end).map(i => b(i) & 0xffL).sum
      FrameRow(m.doc_id, f.toLong, off.toLong, checksum, nFrames.toLong,
        resized.length.toLong, resizedMd5)
    }
  }

  case class AudioFrame(doc_id: Long, frame_no: Long, n_samples: Long,
      energy: Long, zero_crossings: Long, peak: Long)

  /** Deterministic PCM fixture: little-endian signed 16-bit mono, a
    * sawtooth with doc-dependent period p = 3 + id%8 and length
    * n = 2048 + (id%5)·512 samples — sample(i) = (i%p)·2000 − 7000,
    * values ≡ 1000 (mod 2000) so zero never occurs and sign tests
    * are unambiguous. Closed-form in the row key, so the oracle
    * recomputes the features WITHOUT parsing bytes — the Spark side's
    * real byte decode is checked against analytic ground truth (the
    * q_dom_extract device applied to audio). */
  def genPcm(id: Long): Array[Byte] = {
    val p = 3 + (id % 8).toInt
    val n = 2048 + (id % 5).toInt * 512
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = ((i % p) * 2000 - 7000).toShort
      out(2 * i) = (v & 0xff).toByte
      out(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** REAL PCM parse (LE int16) + per-256-sample-frame features: exact
    * integer energy (Σs²), zero-crossing count (strict sign flip
    * between consecutive in-frame samples), peak |amplitude|. The
    * audio analog of [[decodeImage]] — raw-PCM byte math IS the real
    * operation for WAV-class data, no codec stub needed. */
  def audioFrames(id: Long, bytes: Array[Byte]): Seq[AudioFrame] = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    val n = b.length / 2
    val out = scala.collection.mutable.ArrayBuffer.empty[AudioFrame]
    var f = 0
    while (f * 256 < n) {
      val start = f * 256
      val end = math.min(start + 256, n)
      var energy = 0L; var zc = 0L; var peak = 0L
      var prev = 0; var first = true
      var i = start
      while (i < end) {
        val s = (b(2 * i + 1).toInt << 8) | (b(2 * i) & 0xff)
        energy += s.toLong * s
        if (math.abs(s) > peak) peak = math.abs(s)
        if (!first && prev * s < 0) zc += 1
        prev = s; first = false; i += 1
      }
      out += AudioFrame(id, f.toLong, (end - start).toLong, energy, zc, peak)
      f += 1
    }
    out.toSeq
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Audio feature extraction over the binary PCM column: the third
    // modality next to image decode and video frame sampling — same
    // batched mapPartitions shape (binary never crosses a shuffle;
    // only the per-frame integer features move on). Frames are the
    // model-input unit a speech pipeline windows on; energy/ZCR/peak
    // are the classic VAD screening features.
    "q_audio_features" -> ((s, d) => {
      import s.implicits._
      graft.Tables.spread(Tables(s, d, "documents")
        .select(col("doc_id")), col("doc_id")).as[Long]
        .mapPartitions(_.map(id => MediaRow(id, genPcm(id))))
        .mapPartitions(_.grouped(64).flatMap(_.flatMap(m =>
          audioFrames(m.doc_id, m.content))))
        .toDF()
        .orderBy(col("doc_id"), col("frame_no"))
    }),
    // Binary media column → REAL javax.imageio decode via mapPartitions
    // batches: per-doc generated PNG fixtures, decoded back to
    // (dimensions, per-channel pixel sums); the oracle recomputes the
    // pixel formula in closed form — lossless PNG makes them equal.
    "q_multimodal_features" -> ((s, d) => {
      val media = imageFixtures(s, Tables(s, d, "documents"))
      extractFeatures(s, media)
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy(col("doc_id"))
    }),

    // Resize + frame-sample plumbing: the other two media transforms a
    // training pipeline runs (image resize, video frame sampling),
    // through the same batched mapPartitions shape as the decode — one
    // output row per sampled frame, binary never crosses a shuffle,
    // only checksums/digests move on.
    "q_multimodal_transform" -> ((s, d) => {
      import s.implicits._
      Tables(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("content"))
        .as[MediaRow]
        .mapPartitions(_.grouped(64).flatMap(_.flatMap(transformStub)))
        .toDF()
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    // M1 as a Generator (UDTF) with a REAL image decode: one label row
    // per image per detected label, via the custom graft_image_labels
    // generator — planned as a Generate node exactly like explode
    // (§2.10's "Generator variant to emit one label row per image").
    // The label model ranks the decoded color channels; the contract
    // (rank, confidence, name) is labels.js:51-71's stored shape.
    "q_multimodal_labels" -> ((s, d) => {
      imageFixtures(s, Tables(s, d, "documents"))
        .select(col("doc_id"), graft.functions.ImageLabels.labels(col("content")))
        .orderBy(col("doc_id"), col("label_rank"), col("name"))
    }),

    // Image near-dup groups by perceptual hash: the multimodal member
    // of the dedup family. The REAL decode + 4×4 aHash runs in the
    // same batched mapPartitions as the feature extract (narrow map,
    // binary never crosses a shuffle — only the 8-byte fingerprint
    // moves on), then one hash-keyed groupBy collapses perceptually
    // identical images; aHash ignores brightness offsets, so gradient
    // images that differ only by channel phase collide (253 groups
    // from 500 docs at sf0.01, largest 23 — the grouping genuinely
    // bites). At 100 TB this is the canonical image-dedup layout:
    // work ∝ shared fingerprints, never corpus².
    "q_image_phash" -> ((s, d) => {
      import s.implicits._
      imageFixtures(s, Tables(s, d, "documents"))
        .as[MediaRow]
        .mapPartitions(_.grouped(64).flatMap(_.map(m =>
          PhashRow(m.doc_id, imagePhash(m.content)))))
        .toDF()
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("min_doc"))
        .orderBy(col("phash"))
    }),

    // Image QUALITY GATE — the multimodal member of the
    // first-failing-gate family (q_quality_gate for text,
    // q_embedding_pipeline's degenerate stage for vectors): before
    // multimodal training data is trusted, every image passes
    // decodability (one corrupt payload must not kill a 100 TB scan —
    // it must be ROUTED, the dead-letter discipline) and a
    // minimum-dimension check. The corrupt plant truncates every
    // 29th-keyed payload to 10 bytes (a real broken download: a PNG
    // header without a body), exercising the REAL ImageIO failure
    // path; the dimension rule bites naturally (the fixture's
    // w ∈ [8,16], h ∈ [8,14] straddle the 10px floor). The oracle is
    // fully analytic (dims from the fixture formula, the plant from
    // the key): if the real decode disagrees with the contract,
    // the hash breaks. Per-row decode in the same batched
    // mapPartitions as the extract; binary never crosses a shuffle.
    "q_image_gate" -> ((s, d) => {
      import s.implicits._
      val media = imageFixtures(s, Tables(s, d, "documents"))
        .as[MediaRow]
        .mapPartitions(_.map { m =>
          if (m.doc_id % 29 == 5) MediaRow(m.doc_id, m.content.take(10))
          else m
        })
      media
        .mapPartitions(_.grouped(64).flatMap(_.map(m =>
          decodeImage(m.doc_id, m.content))))
        .toDF()
        .select(col("doc_id"),
          when(col("width") === 0, "undecodable")
            .when(least(col("width"), col("height")) < 10, "too_small")
            .as("reason"))
        .select(col("doc_id"), col("reason").isNull.as("keep"), col("reason"))
        .orderBy(col("doc_id"))
    }),

    // Image NEAR-dup matching at Hamming ≤ 2 over the 16-bit aHash —
    // the multimodal member of the Hamming-join family next to
    // q_simhash_hamming's text fingerprints: exact-collision grouping
    // (q_image_phash) misses a one-bit flip from a resize artifact or
    // a recompression, so near-dup image dedup pairs DISTINCT
    // fingerprints within a small Hamming radius. Candidates come from
    // the Manku pigeonhole split — 3 blocks (6+5+5 bits) for radius 2,
    // so any qualifying pair agrees exactly on ≥1 block and surfaces
    // from a block-keyed equi-join; popcount(xor) verifies, and the
    // first-agreeing-block predicate (the q_simhash_hamming device)
    // emits each pair once without a candidate-sized distinct. The
    // join runs on the GROUPED fingerprint table, not images: at any
    // corpus size the distinct-16-bit frame is domain-bounded (≤ 2^16
    // rows), so the layout is safe outright — and it is the same
    // pigeonhole layout a production 64-bit pHash needs, where the
    // block join (not a bounded domain) is what prevents corpus².
    "q_phash_hamming" -> ((s, d) => {
      import s.implicits._
      val ph = imageFixtures(s, Tables(s, d, "documents"))
        .as[MediaRow]
        .mapPartitions(_.grouped(64).flatMap(_.map(m =>
          PhashRow(m.doc_id, imagePhash(m.content)))))
        .toDF()
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("min_doc"))
      val blocked = ph
        .withColumn("blk", explode(sequence(lit(0), lit(2))))
        .withColumn("bits", expr(
          """cast(CASE WHEN blk = 0 THEN shiftright(phash, 10) & 63
            |          WHEN blk = 1 THEN shiftright(phash, 5) & 31
            |          ELSE phash & 31 END as int)""".stripMargin))
      val l = blocked.select(col("blk"), col("bits"),
        col("phash").as("ph_a"), col("n_images").as("n_images_a"))
      val r = blocked.select(col("blk"), col("bits"),
        col("phash").as("ph_b"), col("n_images").as("n_images_b"))
      l.join(r, Seq("blk", "bits"))
        .filter(col("ph_a") < col("ph_b"))
        .filter(
          col("blk") === 0 ||
          (col("blk") === 1 && expr(
            "shiftright(ph_a, 10) & 63 != shiftright(ph_b, 10) & 63")) ||
          (col("blk") === 2 && expr(
            """shiftright(ph_a, 10) & 63 != shiftright(ph_b, 10) & 63 and
              |shiftright(ph_a, 5) & 31 != shiftright(ph_b, 5) & 31"""
              .stripMargin)))
        .select(col("ph_a"), col("ph_b"),
          expr("cast(bit_count(ph_a ^ ph_b) as bigint)").as("hamming"),
          col("n_images_a"), col("n_images_b"))
        .filter(col("hamming") <= 2 && col("hamming") >= 1)
        .orderBy(col("ph_a"), col("ph_b"))
    }),

    // PRODUCTION 64-bit DCT pHash near-dup join (VERDICT r10 item 2):
    // q_phash_hamming's 16-bit aHash bounds its distinct-fingerprint
    // frame by domain (≤ 2^16 rows) so its pigeonhole was never
    // load-bearing; here the fingerprint space is 2^64 and the
    // distinct frame is CORPUS-sized (~4.7k of 5.3k images at sf0.1
    // hash uniquely), so the Manku split is the only thing between
    // this join and corpus². Radius 3 ⇒ K+1 = 4 disjoint 16-bit
    // blocks: two hashes within Hamming ≤ 3 agree exactly on ≥ 1
    // block, candidates come from the (blk, bits) equi-join on the
    // GROUPED fingerprint table, popcount(xor) verifies, and the
    // first-agreeing-block predicate emits each pair once (the
    // q_simhash_hamming device, block width 16). The retouched-copy
    // plant ([[genPngNearDup]]) populates both sides of the radius
    // boundary. Hash arithmetic is exact fixed-point integer DCT
    // ([[imagePhash64]]) so the DuckDB oracle replays it bit-for-bit
    // from the pixel formula — including the sign bit (coefficient
    // (7,7) maps to bit 63; both engines' arithmetic shift + mask
    // agree, verified semantics).
    "q_phash64_hamming" -> ((s, d) =>
      phash64Pairs(
        phash64Corpus(s, Tables(s, d, "documents"))
          .filter(col("phash") =!= -1L)
          .groupBy(col("phash"))
          .agg(count(lit(1)).as("n_images")))
        .orderBy(col("ph_a"), col("ph_b"))),

    // Image-identity ADMISSION — the batch twin of the crossmodal
    // streaming admission drain (VERDICT r11 item 5): arriving docs'
    // images (doc % 7 = 3, copies travel with their source) admitted
    // against the stored [[phashIndex]] through the shared pigeonhole
    // kernel ([[phashAdmit]]). Completes the admission family's
    // fourth modality: text stats (bm25), vectors (ann), text dedup
    // (minhash), and now media identity.
    "q_phash_admission" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"))
      phashAdmit(s, docs.filter(col("doc_id") % 7 === 3),
        phashIndex(s, docs))
        .orderBy(col("img_id"))
    }),

    // CROSS-MODAL dedup attribution — the composed multimodal
    // flagship: image near-dup CANDIDATES (the 64-bit pHash space —
    // exact-collision pairs within a hash group ∪ radius-3 pairs from
    // the pigeonhole join, both reusing the q_phash64_hamming
    // kernels) are verified against the TEXT modality with exact
    // per-pair trigram Jaccard, and each pair gets the verdict a
    // multimodal curator acts on: `dup_both` (same image AND same
    // prose — a true duplicate document, drop one) vs `image_only`
    // (same image under different prose — a reused stock asset, keep
    // both texts, dedup the media store). The retouched-copy plant
    // populates dup_both (a copy shares its source's text verbatim →
    // Jaccard 1.0) and background hash collisions populate image_only
    // (unrelated prose → Jaccard ≈ 0), so BOTH verdicts fire. Scale
    // shape: text work is proportional to the CANDIDATE PAIR list
    // (image-bounded), never doc² — the gram joins fan out only over
    // the paired docs' shingle sets; jaccard reports in micro-units
    // (scale-0 fixed point, the r10 data-dependent-denominator house
    // rule). Copies map to their source text via the id − 1,000,000
    // fixture rule before the gram join.
    "q_crossmodal_dedup" -> ((s, d) => crossmodalDedup(s, d)),

    // Image near-dup CLUSTER formation — completes the image-identity
    // ladder: q_image_phash groups exact fingerprints,
    // q_phash64_hamming pairs near fingerprints, this forms the
    // transitive components a media-store dedup acts on (a retouch
    // chain A~B~C is ONE asset even when A and C sit beyond radius 3
    // of each other). Components come from the STAR-CONTRACTION
    // kernel (Dedup.ccStars, Kiveris et al. SoCC'14 — one definition,
    // two modalities), NOT the label-propagation default: the image
    // graph is exactly the diameter case that kernel exists for —
    // radius-3 chains through hash space grow a 240-member component
    // at sf0.1, and one-hop-per-round propagation paid the component
    // RADIUS in shuffle rounds (measured 11.5 s; star contraction's
    // diameter-independent alternations settle at ~4.6 s idle on the
    // same graph — the remaining cost is the per-round fixed overhead
    // every graph fixpoint pays at sf0.1, the q_sssp/q_modularity
    // band). cluster_id = component-minimum doc_id, which IS the
    // canonical asset (keep-smallest-id, the house keeper rule).
    // localCheckpoint before the fixpoint: the pair lineage includes
    // the full PNG generate+decode+hash pass, which no round should
    // replay. Singleton images never enter the pair graph and need
    // no row — the report lists exactly the images with a dedup
    // decision to make.
    "q_image_dedup_clusters" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = phash64DocPairs(s, Tables(s, d, "documents"),
        PHASH_GROUP_CAP)
        .select(col("id_a"), col("id_b")).cut()
      val cl = Dedup.ccStars(pairs.toDF("src", "dst"))
        .toDF("doc_id", "cluster_id")
      val wC = Window.partitionBy(col("cluster_id"))
      cl.withColumn("n_members", count(lit(1)).over(wC))
        .select(col("doc_id"), col("cluster_id"), col("n_members"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // The composed MEDIA curation pipeline — the multimodal member of
    // the composed-flagship family (q_dedup_pipeline for text,
    // q_embedding_pipeline for vectors): decodability gate → exact
    // fingerprint dedup → transitive near-dup canonicalization, ONE
    // oracle-checked plan with a first-failing-stage `reason` per
    // image, each stage consuming the prior stage's SURVIVORS.
    //   1. gate      — undecodable (the q_image_gate truncation plant,
    //                  here keyed on the IMAGE id so copies gate
    //                  independently) then too_small (min dim < 10);
    //                  dims and hash come from ONE decode (imageInfo —
    //                  a 100 TB scan decodes each payload once).
    //   2. exact_dup — identical 64-bit hash among gate survivors;
    //                  smallest image id survives (partner = keeper).
    //   3. near_dup  — radius-3 components among the per-hash keepers
    //                  via the pigeonhole pair join + star contraction
    //                  (each surviving hash is now UNIQUE, so the
    //                  degenerate-group cap is unnecessary by
    //                  construction — stage 2 already collapsed every
    //                  group to one representative; the quadratic
    //                  fan-out the cap guarded cannot occur);
    //                  non-canonical members drop (partner = the
    //                  component-minimum canonical).
    // Kernels definitionally shared with q_image_gate /
    // q_phash64_hamming / q_image_dedup_clusters — a bug in any stage
    // surfaces in two queries at once.
    "q_media_pipeline" -> ((s, d) => {
      import s.implicits._
      val docs = Tables(s, d, "documents")
      val info = docs.select(col("doc_id")).as[Long]
        .mapPartitions(_.grouped(64).flatMap(_.flatMap { id =>
          def gated(imgId: Long, png: Array[Byte]) =
            imageInfo(imgId,
              if (imgId % 29 == 5) png.take(10) else png)
          val rows = scala.collection.mutable.ArrayBuffer(
            gated(id, genPng(id)))
          if (id % 17 == 4)
            rows += gated(id + 1000000L, genPngNearDup(id))
          rows
        }))
        .toDF()
      val gate1 = info.withColumn("reason",
        when(col("width") === 0L, "undecodable")
          .when(least(col("width"), col("height")) < 10L, "too_small"))
      val s1 = gate1.filter(col("reason").isNull)
        .select(col("img_id"), col("phash"))
      val keep2 = s1.groupBy(col("phash"))
        .agg(min(col("img_id")).as("keeper"), count(lit(1)).as("n"))
      val exactDrop = s1
        .join(keep2, Seq("phash"))
        .filter(col("img_id") =!= col("keeper"))
        .select(col("img_id"), col("keeper").as("partner_id"),
          lit("exact_dup").as("reason2"))
      val s2grouped = keep2
        .select(col("phash"), lit(1L).as("n_images"))
      val pairs = phash64Pairs(s2grouped)
        .select(col("ph_a"), col("ph_b"))
        .join(keep2.select(col("phash").as("ph_a"),
          col("keeper").as("id_a")), Seq("ph_a"))
        .join(keep2.select(col("phash").as("ph_b"),
          col("keeper").as("id_b")), Seq("ph_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .cut()
      val clusters = Dedup.ccStars(pairs.toDF("src", "dst"))
        .toDF("img_id", "cluster_id")
      val nearDrop = clusters.filter(col("img_id") =!= col("cluster_id"))
        .select(col("img_id"), col("cluster_id").as("partner_id"),
          lit("near_dup").as("reason3"))
      gate1.select(col("img_id"), col("reason"))
        .join(exactDrop.select(col("img_id"),
          col("partner_id").as("p2"), col("reason2")),
          Seq("img_id"), "left_outer")
        .join(nearDrop.select(col("img_id"),
          col("partner_id").as("p3"), col("reason3")),
          Seq("img_id"), "left_outer")
        .select(col("img_id"),
          coalesce(col("reason"), col("reason2"), col("reason3"))
            .as("reason"),
          coalesce(col("p2"), col("p3")).as("partner_id"))
        .select(col("img_id"), col("reason").isNull.as("keep"),
          col("reason"), col("partner_id"))
        .orderBy(col("img_id"))
    })
  )

  /** Group-size cap for the pHash pair frames — a hash shared by more
    * images than this is a DEGENERATE asset class that fans out
    * quadratically (Dedup's shingle df cap discipline). The pair
    * kernel and its oracle take the cap as a parameter, so
    * MultimodalSpec exercises the cut at a second value (cap=2). */
  private val PHASH_GROUP_CAP = 20

  /** DOC-level image near-dup candidate pairs at Hamming ≤ 3:
    * exact-collision pairs within a hash group ∪ radius-3 pairs from
    * the pigeonhole join, both under the group-size ≤ `cap` cap
    * (the q_winnow_overlap df-cap device, same named reason: a hash
    * shared by dozens of images is a DEGENERATE asset class — the
    * fixture grows 100+-image groups at sf0.1 — that carries no pairing
    * signal and fans out quadratically; those groups stay fully
    * described by the q_image_phash grouping report). ONE definition
    * shared by q_crossmodal_dedup (text verification) and
    * q_image_dedup_clusters (component formation). */
  private def phash64DocPairs(s: SparkSession, docs: DataFrame,
      cap: Int): DataFrame = {
    val phAll = phash64Corpus(s, docs).filter(col("phash") =!= -1L)
    val grouped = phAll.groupBy(col("phash"))
      .agg(count(lit(1)).as("n_images"))
      .filter(col("n_images") <= cap.toLong)
    val ph = phAll.join(grouped.select(col("phash")), Seq("phash"),
      "left_semi")
    val same = ph.select(col("phash"), col("doc_id").as("id_a"))
      .join(ph.select(col("phash"), col("doc_id").as("id_b")),
        Seq("phash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    val cross = phash64Pairs(grouped)
      .select(col("ph_a"), col("ph_b"), col("hamming"))
      .join(ph.select(col("phash").as("ph_a"), col("doc_id").as("ida")),
        Seq("ph_a"))
      .join(ph.select(col("phash").as("ph_b"), col("doc_id").as("idb")),
        Seq("ph_b"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("hamming"))
    same.unionByName(cross)
  }

  /** The stored image-identity index: (phash, min_id) over every image
    * of the NON-arriving documents (doc-level % 7 split, the
    * q_dedup_incremental convention — a doc's retouched copy travels
    * with its source doc). Aggregated to distinct hashes BEFORE any
    * probe join, so a degenerate hash group (100+ images at sf0.1)
    * costs the index one row, not a fan-out — which is why admission
    * needs no [[PHASH_GROUP_CAP]]: the quadratic group risk the cap
    * guards in pair mining cannot occur against an agg-collapsed
    * side. */
  private[operators] def phashIndex(s: SparkSession, docs: DataFrame): DataFrame =
    phash64Corpus(s, docs.filter(col("doc_id") % 7 =!= 3))
      .filter(col("phash") =!= -1L)
      .groupBy(col("phash")).agg(min(col("doc_id")).as("min_id"))

  /** Image admission through the pigeonhole kernel: the batch docs'
    * images are generated, REAL-decoded and hashed batch-side
    * (batch-sized work), then each distinct new hash probes the
    * static index for Hamming ≤ 3 — exact duplicates ARE the
    * hamming-0 case (equal hashes agree on every block, so exactly
    * the blk-0 row survives the first-agreeing-block predicate; no
    * separate exact path). Verdict per image: exact_dup / near_dup /
    * unique with the canonical partner (min index id at the best
    * (hamming, id) rank). Per-image verdicts depend only on the image
    * and the static index, so a union over arbitrary batch slicing ≡
    * the whole-batch query — the admission-drain contract. */
  private[operators] def phashAdmit(s: SparkSession, batchDocs: DataFrame,
      idxh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ph = phash64Corpus(s, batchDocs).filter(col("phash") =!= -1L)
    def blocked(df: DataFrame, c: String) = df
      .withColumn("blk", explode(sequence(lit(0), lit(3))))
      .withColumn("bits",
        expr(s"cast(shiftright($c, (3 - blk) * 16) & 65535 as int)"))
    val l = blocked(ph.select(col("phash").as("ph_n")).distinct(), "ph_n")
    val r = blocked(idxh.select(col("phash").as("ph_i"), col("min_id")), "ph_i")
    val matched = l.join(r, Seq("blk", "bits"))
      .filter(
        col("blk") === 0 ||
        (col("blk") === 1 && expr(
          "shiftright(ph_n, 48) & 65535 != shiftright(ph_i, 48) & 65535")) ||
        (col("blk") === 2 && expr(
          """shiftright(ph_n, 48) & 65535 != shiftright(ph_i, 48) & 65535 and
            |shiftright(ph_n, 32) & 65535 != shiftright(ph_i, 32) & 65535"""
            .stripMargin)) ||
        (col("blk") === 3 && expr(
          """shiftright(ph_n, 48) & 65535 != shiftright(ph_i, 48) & 65535 and
            |shiftright(ph_n, 32) & 65535 != shiftright(ph_i, 32) & 65535 and
            |shiftright(ph_n, 16) & 65535 != shiftright(ph_i, 16) & 65535"""
            .stripMargin)))
      .withColumn("hamming",
        expr("cast(bit_count(ph_n ^ ph_i) as bigint)"))
      .filter(col("hamming") <= 3)
    val best = matched
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("ph_n"))
          .orderBy(col("hamming"), col("min_id"))))
      .filter(col("rk") === 1)
      .select(col("ph_n").as("phash"), col("min_id").as("partner_id"),
        col("hamming"))
    ph.join(best, Seq("phash"), "left_outer")
      .select(col("doc_id").as("img_id"),
        when(col("hamming") === 0L, "exact_dup")
          .when(col("hamming").isNotNull, "near_dup")
          .otherwise("unique").as("verdict"),
        col("partner_id"), col("hamming"))
  }

  /** The radius-3 pigeonhole pair join over a GROUPED 64-bit
    * fingerprint frame (phash, n_images) — factored so MultimodalSpec
    * can drive it against a brute-force all-pairs reference on a
    * corpus dense enough to produce matches. */
  private[operators] def phash64Pairs(ph: DataFrame): DataFrame = {
    val blocked = ph
      .withColumn("blk", explode(sequence(lit(0), lit(3))))
      .withColumn("bits",
        expr("cast(shiftright(phash, (3 - blk) * 16) & 65535 as int)"))
    val l = blocked.select(col("blk"), col("bits"),
      col("phash").as("ph_a"), col("n_images").as("n_images_a"))
    val r = blocked.select(col("blk"), col("bits"),
      col("phash").as("ph_b"), col("n_images").as("n_images_b"))
    l.join(r, Seq("blk", "bits"))
      .filter(col("ph_a") < col("ph_b"))
      .filter(
        col("blk") === 0 ||
        (col("blk") === 1 && expr(
          "shiftright(ph_a, 48) & 65535 != shiftright(ph_b, 48) & 65535")) ||
        (col("blk") === 2 && expr(
          """shiftright(ph_a, 48) & 65535 != shiftright(ph_b, 48) & 65535 and
            |shiftright(ph_a, 32) & 65535 != shiftright(ph_b, 32) & 65535"""
            .stripMargin)) ||
        (col("blk") === 3 && expr(
          """shiftright(ph_a, 48) & 65535 != shiftright(ph_b, 48) & 65535 and
            |shiftright(ph_a, 32) & 65535 != shiftright(ph_b, 32) & 65535 and
            |shiftright(ph_a, 16) & 65535 != shiftright(ph_b, 16) & 65535"""
            .stripMargin)))
      .select(col("ph_a"), col("ph_b"),
        expr("cast(bit_count(ph_a ^ ph_b) as bigint)").as("hamming"),
        col("n_images_a"), col("n_images_b"))
      .filter(col("hamming") <= 3 && col("hamming") >= 1)
  }

  /** DuckDB expression for the LabelGen checksum over text-payload
    * expression `p` — ascii sum of every 16th byte; COALESCE because
    * list_sum([]) is NULL in DuckDB while the kernel's checksum over an
    * empty payload is 0 (one label emitted). ONE definition shared by
    * the q_multimodal_labels oracle and the pipeline oracle's label
    * stage. */
  def labelChecksumSqlDuck(p: String): String =
    s"CAST(COALESCE(list_sum(list_transform(range(1, length($p) + 1, 16), " +
      s"i -> ascii(substring($p, i, 1)))), 0) AS BIGINT)"

  /** Shared oracle prelude: the per-document pixel grid with the
    * closed-form channel formulas from [[genPng]] — PNG is lossless,
    * so the REAL `javax.imageio` decode must reproduce these exactly. */
  private val pixelPxSqlDuck: String =
    """d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |       FROM documents),
      |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
      |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)"""
      .stripMargin

  /** DuckDB twin of [[imagePhash]] over the generated pixels: the
    * 4×4 mean-threshold hash of each image's summed-channel grid,
    * ending at ph(doc_id, phash). */
  private val phash16SqlDuck: String =
    s"""$pixelPxSqlDuck,
      |g AS (
      |  SELECT doc_id, (x * 4) // w AS ci, (y * 4) // h AS cj,
      |    (doc_id * 31 + x * 7 + y * 13) % 256 +
      |    (doc_id * 17 + x * 3 + y * 5) % 256 +
      |    (doc_id * 23 + x * 11 + y * 2) % 256 AS gray3
      |  FROM px),
      |cells AS (
      |  SELECT doc_id, ci, cj, CAST(SUM(gray3) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM g GROUP BY doc_id, ci, cj),
      |tot AS (
      |  SELECT doc_id, CAST(SUM(s) AS BIGINT) AS stot,
      |    CAST(SUM(c) AS BIGINT) AS n
      |  FROM cells GROUP BY doc_id),
      |bits AS (
      |  SELECT cells.doc_id,
      |    CASE WHEN s * n > stot * c
      |         THEN 1 << CAST(ci * 4 + cj AS INTEGER) ELSE 0 END AS bit
      |  FROM cells JOIN tot ON cells.doc_id = tot.doc_id),
      |ph AS (
      |  SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS phash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  private val pixelGridSqlDuck: String =
    s"""$pixelPxSqlDuck,
      |sums AS (
      |  SELECT doc_id, w, h, w * h AS n_px,
      |    sum((doc_id * 31 + x * 7 + y * 13) % 256) AS sr,
      |    sum((doc_id * 17 + x * 3 + y * 5) % 256) AS sg,
      |    sum((doc_id * 23 + x * 11 + y * 2) % 256) AS sb
      |  FROM px GROUP BY doc_id, w, h)""".stripMargin

  /** Shared oracle prefix: the bit-exact per-image 64-bit DCT pHash
    * replay (scaled cosine table → pixel grid incl. the retouched
    * copies → separable integer passes → HUGEINT-folded signed hash),
    * ending at ph(doc_id, phash) — ONE definition for the
    * q_phash64_hamming and q_crossmodal_dedup oracles. */
  private val phash64SqlDuck: String =
    """ct AS (
        |  SELECT n, k, x,
        |    CAST(FLOOR(COS(PI()*(2*x+1)*k/(2*n))*100000 + 0.5) AS BIGINT)
        |      AS v
        |  FROM range(8, 17) tn(n), range(0, 8) tk(k), range(0, 16) tx(x)
        |  WHERE x < n),
        |d AS (
        |  SELECT doc_id, doc_id AS src, 8 + doc_id % 9 AS w,
        |    8 + doc_id % 7 AS h, FALSE AS cp
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 8 + doc_id % 9,
        |    8 + doc_id % 7, TRUE
        |  FROM documents WHERE doc_id % 17 = 4),
        |xs AS (SELECT doc_id, src, w, h, cp, unnest(range(0, w)) AS x
        |  FROM d),
        |px AS (SELECT doc_id, src, w, h, cp, x, unnest(range(0, h)) AS y
        |  FROM xs),
        |g AS (
        |  SELECT doc_id, w, h, x, y,
        |    CASE WHEN cp AND x = 0 AND y = 0 THEN 0 ELSE
        |      (src * 31 + x * 7 + y * 13) % 256 +
        |      (src * 17 + x * 3 + y * 5) % 256 +
        |      (src * 23 + x * 11 + y * 2) % 256 END AS gray3
        |  FROM px),
        |rt AS (
        |  SELECT g.doc_id, g.h, ct.k, g.y,
        |    CAST(SUM(g.gray3 * ct.v) AS BIGINT) AS r
        |  FROM g JOIN ct ON ct.n = g.w AND ct.x = g.x
        |  GROUP BY g.doc_id, g.h, ct.k, g.y),
        |co AS (
        |  SELECT rt.doc_id, rt.k, ct.k AS l,
        |    CAST(SUM(rt.r * ct.v) AS BIGINT) AS c
        |  FROM rt JOIN ct ON ct.n = rt.h AND ct.x = rt.y
        |  GROUP BY rt.doc_id, rt.k, ct.k),
        |tot AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN k = 0 AND l = 0 THEN 0 ELSE c END)
        |      AS BIGINT) AS s
        |  FROM co GROUP BY doc_id),
        |hs AS (
        |  SELECT co.doc_id,
        |    SUM(CASE WHEN (co.k <> 0 OR co.l <> 0) AND 63 * co.c > tot.s
        |      THEN (1::HUGEINT << CAST(co.k * 8 + co.l AS INTEGER))
        |      ELSE 0::HUGEINT END) AS hraw
        |  FROM co JOIN tot USING (doc_id) GROUP BY co.doc_id),
        |ph AS (
        |  SELECT doc_id, CAST(CASE WHEN hraw >= (1::HUGEINT << 63)
        |    THEN hraw - (1::HUGEINT << 64) ELSE hraw END AS BIGINT)
        |    AS phash
        |  FROM hs)"""
      .stripMargin

  /** DuckDB twin of [[phash64DocPairs]] at group-size cap `cap`: the
    * doc-level Hamming ≤ 3 pair frame over the hash replay — used by
    * the q_crossmodal_dedup and q_image_dedup_clusters oracles. */
  private def phash64PairsSqlDuck(cap: Int): String =
    s"""capped AS (
        |  SELECT ph.doc_id, ph.phash FROM ph
        |  JOIN (SELECT phash FROM ph GROUP BY phash
        |        HAVING COUNT(*) <= $cap) ok USING (phash)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |  FROM capped a JOIN capped b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3)"""
      .stripMargin

  /** q_crossmodal_dedup at pHash group-size cap `cap`: the capped image
    * near-dup pairs, each verified by the text trigram Jaccard of the
    * two source documents. */
  private[graft] def crossmodalDedup(s: SparkSession, d: String,
      cap: Int = PHASH_GROUP_CAP): DataFrame = {
    val docs = Tables(s, d, "documents")
    def src(c: Column) =
      when(c >= 1000000L, c - 1000000L).otherwise(c)
    val cand = phash64DocPairs(s, docs, cap)
      .withColumn("src_a", src(col("id_a")))
      .withColumn("src_b", src(col("id_b")))
    val grams = docs.select(col("doc_id"),
      explode(Dedup.shingleUdf(col("text"))).as("g"))
    val sizes = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val inter = cand
      .join(grams.select(col("doc_id").as("src_a"), col("g")),
        Seq("src_a"))
      .join(grams.select(col("doc_id").as("src_b"), col("g")),
        Seq("src_b", "g"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val union = col("n_grams_a") + col("n_grams_b") - col("n_common")
    cand
      .join(sizes.select(col("doc_id").as("src_a"),
        col("n_grams").as("n_grams_a")), Seq("src_a"), "left_outer")
      .join(sizes.select(col("doc_id").as("src_b"),
        col("n_grams").as("n_grams_b")), Seq("src_b"), "left_outer")
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .select(col("id_a"), col("id_b"), col("hamming"),
        coalesce(col("n_grams_a"), lit(0L)).as("n_grams_a"),
        coalesce(col("n_grams_b"), lit(0L)).as("n_grams_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard_e6",
        when(union === 0L, lit(0L)).otherwise(
          round(lit(1000000.0d) * col("n_common") / union.cast("double"))
            .cast("long")))
      .withColumn("verdict",
        when(col("jaccard_e6") >= 500000L, "dup_both")
          .otherwise("image_only"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The q_crossmodal_dedup oracle at group-size cap `cap`: ONE
    * all-doc-pairs Hamming filter over the shared hash replay, text
    * side as exact per-pair trigram Jaccard. */
  private[graft] def crossmodalDedupOracle(cap: Int = PHASH_GROUP_CAP): String =
    s"""WITH $phash64SqlDuck,
      |${phash64PairsSqlDuck(cap)},
      |tg AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
      |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))))
      |      AS g
      |  FROM documents),
      |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM tg GROUP BY doc_id),
      |withsrc AS (
      |  SELECT id_a, id_b, hamming,
      |    CASE WHEN id_a >= 1000000 THEN id_a - 1000000 ELSE id_a END
      |      AS src_a,
      |    CASE WHEN id_b >= 1000000 THEN id_b - 1000000 ELSE id_b END
      |      AS src_b
      |  FROM pairs),
      |inter AS (
      |  SELECT w.id_a, w.id_b, CAST(COUNT(*) AS BIGINT) AS nc
      |  FROM withsrc w JOIN tg ga ON ga.doc_id = w.src_a
      |                 JOIN tg gb ON gb.doc_id = w.src_b AND gb.g = ga.g
      |  GROUP BY w.id_a, w.id_b),
      |scored AS (
      |  SELECT w.id_a, w.id_b, w.hamming,
      |    COALESCE(sa.n, 0) AS n_grams_a, COALESCE(sb.n, 0) AS n_grams_b,
      |    COALESCE(i.nc, 0) AS n_common,
      |    CASE WHEN COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
      |              - COALESCE(i.nc, 0) = 0 THEN 0
      |      ELSE CAST(ROUND(1000000.0 * COALESCE(i.nc, 0) /
      |        CAST(COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
      |             - COALESCE(i.nc, 0) AS DOUBLE)) AS BIGINT) END
      |      AS jaccard_e6
      |  FROM withsrc w
      |    LEFT JOIN sz sa ON sa.doc_id = w.src_a
      |    LEFT JOIN sz sb ON sb.doc_id = w.src_b
      |    LEFT JOIN inter i ON i.id_a = w.id_a AND i.id_b = w.id_b)
      |SELECT id_a, id_b, hamming, n_grams_a, n_grams_b, n_common,
      |  jaccard_e6,
      |  CASE WHEN jaccard_e6 >= 500000 THEN 'dup_both'
      |       ELSE 'image_only' END AS verdict
      |FROM scored ORDER BY id_a, id_b""".stripMargin

  def oracles: Map[String, String] = Map(
    // same 4×4 block-average grid over the closed-form pixels, same
    // EXACT integer inequality s·N > S·c for each bit
    // features recomputed analytically from the row key (the fixture
    // is closed-form): the oracle never touches bytes, so the Spark
    // side's LE-int16 parse is checked against ground truth
    "q_audio_features" ->
      """WITH d AS (
        |  SELECT doc_id, 3 + doc_id % 8 AS p,
        |    2048 + (doc_id % 5) * 512 AS n
        |  FROM documents),
        |idx AS (SELECT doc_id, p, n, unnest(range(0, 4096)) AS i FROM d),
        |vals AS (
        |  SELECT doc_id, i // 256 AS frame_no, i,
        |    (i % p) * 2000 - 7000 AS s
        |  FROM idx WHERE i < n),
        |lagged AS (
        |  SELECT doc_id, frame_no, s,
        |    LAG(s) OVER (PARTITION BY doc_id, frame_no ORDER BY i) AS prev
        |  FROM vals)
        |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(s * s) AS BIGINT) AS energy,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND prev * s < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak
        |FROM lagged GROUP BY doc_id, frame_no
        |ORDER BY doc_id, frame_no""".stripMargin,

    "q_image_phash" ->
      s"""WITH $phash16SqlDuck
        |SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_images,
        |  MIN(doc_id) AS min_doc
        |FROM ph GROUP BY phash ORDER BY phash""".stripMargin,

    // fully analytic: the plant from the key, the dims from the
    // fixture formula — the decode itself is the thing under test
    "q_image_gate" ->
      """SELECT doc_id,
        |  reason IS NULL AS keep, reason
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 29 = 5 THEN 'undecodable'
        |         WHEN least(8 + doc_id % 9, 8 + doc_id % 7) < 10
        |           THEN 'too_small'
        |    END AS reason
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // same grouped-fingerprint table as q_image_phash, then the plain
    // all-distinct-pairs Hamming filter — the oracle does not need the
    // pigeonhole (the 16-bit domain is tiny in SQL); the Spark side
    // must reproduce it from block-keyed candidates only
    "q_phash_hamming" ->
      s"""WITH $phash16SqlDuck,
        |grp AS (
        |  SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_images
        |  FROM ph GROUP BY phash)
        |SELECT a.phash AS ph_a, b.phash AS ph_b,
        |  CAST(len(list_filter(range(0, 16), i ->
        |    ((a.phash >> i) & 1) <> ((b.phash >> i) & 1))) AS BIGINT)
        |    AS hamming,
        |  a.n_images AS n_images_a, b.n_images AS n_images_b
        |FROM grp a JOIN grp b ON a.phash < b.phash
        |WHERE len(list_filter(range(0, 16), i ->
        |    ((a.phash >> i) & 1) <> ((b.phash >> i) & 1))) BETWEEN 1 AND 2
        |ORDER BY ph_a, ph_b""".stripMargin,

    // bit-exact replay of the fixed-point DCT pHash from the pixel
    // formula: the ct CTE regenerates the SAME 864-entry scaled cosine
    // table (floor(cos·1e5 + 0.5) — verified to match JVM Math.cos on
    // every entry), the two separable passes run the identical integer
    // sums, and the hash folds through HUGEINT so bit 63 (coefficient
    // 7,7) survives the signed BIGINT cast exactly as the JVM's
    // 1L << 63. The oracle pair join is the plain all-distinct-pairs
    // Hamming filter — the Spark side must reproduce it from
    // block-keyed pigeonhole candidates only.
    // the same hash replay restricted to the admission split (src doc
    // % 7 — an image id >= 1e6 is the retouched copy of id - 1e6 and
    // travels with its source doc); the oracle does not need the
    // pigeonhole: a plain new x index Hamming filter over distinct
    // hashes is the same set
    "q_phash_admission" ->
      s"""WITH $phash64SqlDuck,
        |newimg AS (
        |  SELECT doc_id AS img_id, phash FROM ph
        |  WHERE (CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
        |         ELSE doc_id END) % 7 = 3),
        |idx AS (
        |  SELECT phash, MIN(doc_id) AS min_id FROM ph
        |  WHERE (CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
        |         ELSE doc_id END) % 7 <> 3
        |  GROUP BY phash),
        |best AS (
        |  SELECT img_id, partner_id, hamming FROM (
        |    SELECT n.img_id, i.min_id AS partner_id,
        |      CAST(bit_count(xor(n.phash, i.phash)) AS BIGINT) AS hamming,
        |      ROW_NUMBER() OVER (PARTITION BY n.img_id ORDER BY
        |        bit_count(xor(n.phash, i.phash)), i.min_id) AS rk
        |    FROM newimg n JOIN idx i
        |      ON bit_count(xor(n.phash, i.phash)) <= 3) t
        |  WHERE rk = 1)
        |SELECT n.img_id,
        |  CASE WHEN best.hamming = 0 THEN 'exact_dup'
        |       WHEN best.hamming IS NOT NULL THEN 'near_dup'
        |       ELSE 'unique' END AS verdict,
        |  best.partner_id, best.hamming
        |FROM newimg n LEFT JOIN best USING (img_id)
        |ORDER BY img_id""".stripMargin,

    "q_phash64_hamming" ->
      s"""WITH $phash64SqlDuck,
        |grp AS (
        |  SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_images
        |  FROM ph GROUP BY phash)
        |SELECT a.phash AS ph_a, b.phash AS ph_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming,
        |  a.n_images AS n_images_a, b.n_images AS n_images_b
        |FROM grp a JOIN grp b ON a.phash < b.phash
        |WHERE bit_count(xor(a.phash, b.phash)) BETWEEN 1 AND 3
        |ORDER BY ph_a, ph_b""".stripMargin,

    // image candidates as ONE all-doc-pairs Hamming filter over the
    // shared hash replay (the oracle does not need the pigeonhole or
    // the same-hash/cross-hash split), text side as exact per-pair
    // trigram Jaccard with the copy -> source id rule
    "q_crossmodal_dedup" -> crossmodalDedupOracle(),

    // the three stages restated: analytic gate (truncation by image
    // key, dims by formula), hash replay filtered to gate survivors,
    // exact groups, then transitive closure over the per-hash
    // keepers' radius-3 pairs
    "q_media_pipeline" ->
      s"""WITH RECURSIVE $phash64SqlDuck,
        |gate1 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 29 = 5 THEN 'undecodable'
        |    WHEN least(w, h) < 10 THEN 'too_small' END AS reason
        |  FROM d),
        |ph1 AS (
        |  SELECT ph.doc_id, ph.phash FROM ph
        |  JOIN gate1 USING (doc_id) WHERE gate1.reason IS NULL),
        |keep2 AS (
        |  SELECT phash, MIN(doc_id) AS keeper FROM ph1 GROUP BY phash),
        |exact AS (
        |  SELECT ph1.doc_id, k.keeper FROM ph1
        |  JOIN keep2 k USING (phash) WHERE ph1.doc_id <> k.keeper),
        |pairs AS (
        |  SELECT least(a.keeper, b.keeper) AS id_a,
        |    greatest(a.keeper, b.keeper) AS id_b
        |  FROM keep2 a JOIN keep2 b ON a.phash < b.phash
        |  WHERE bit_count(xor(a.phash, b.phash)) BETWEEN 1 AND 3),
        |${Dedup.componentsSqlDuck},
        |cl AS (
        |  SELECT node AS doc_id, MIN(r) AS cluster_id
        |  FROM reach GROUP BY node),
        |near AS (
        |  SELECT doc_id, cluster_id FROM cl WHERE doc_id <> cluster_id),
        |verdicts AS (
        |  SELECT g.doc_id AS img_id,
        |    CASE WHEN g.reason IS NOT NULL THEN g.reason
        |         WHEN e.keeper IS NOT NULL THEN 'exact_dup'
        |         WHEN n.cluster_id IS NOT NULL THEN 'near_dup' END
        |      AS reason,
        |    COALESCE(e.keeper, n.cluster_id) AS partner_id
        |  FROM gate1 g
        |    LEFT JOIN exact e ON e.doc_id = g.doc_id
        |    LEFT JOIN near n ON n.doc_id = g.doc_id)
        |SELECT img_id, reason IS NULL AS keep, reason, partner_id
        |FROM verdicts ORDER BY img_id""".stripMargin,

    // transitive closure over the same capped pair frame (the
    // q_dedup_clusters recursive-CTE device); cluster_id = component
    // minimum
    "q_image_dedup_clusters" ->
      s"""WITH RECURSIVE $phash64SqlDuck,
        |${phash64PairsSqlDuck(PHASH_GROUP_CAP)},
        |${Dedup.componentsSqlDuck},
        |cl AS (
        |  SELECT node AS doc_id, MIN(r) AS cluster_id
        |  FROM reach GROUP BY node)
        |SELECT doc_id, cluster_id,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
        |    AS n_members,
        |  doc_id = cluster_id AS is_canonical
        |FROM cl ORDER BY doc_id""".stripMargin,

    // expected output of the real PNG decode, recomputed in closed form
    "q_multimodal_features" ->
      s"""WITH $pixelGridSqlDuck
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(n_px AS BIGINT) AS n_px,
        |  CAST(sr AS BIGINT) AS sum_r, CAST(sg AS BIGINT) AS sum_g,
        |  CAST(sb AS BIGINT) AS sum_b
        |FROM sums ORDER BY doc_id""".stripMargin,

    "q_multimodal_transform" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    greatest((length(text) + 255) // 256, 1) AS n_frames,
        |    array_to_string(list_transform(
        |      range(1, length(text) + 1, 4), i -> substring(text, i, 1)), '')
        |      AS resized
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, text, n_frames, resized,
        |    unnest(list_sort(list_distinct(
        |      [0, n_frames // 2, n_frames - 1]))) AS frame_no
        |  FROM f)
        |SELECT doc_id,
        |  CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(frame_no * 256 AS BIGINT) AS frame_offset,
        |  CAST(CASE WHEN frame_no * 256 >= length(text) THEN 0
        |    ELSE COALESCE(list_sum(list_transform(
        |      range(CAST(frame_no * 256 + 1 AS INTEGER),
        |            CAST(least(frame_no * 256 + 256, length(text)) + 1 AS INTEGER)),
        |      i -> ascii(substring(text, i, 1)))), 0) END AS BIGINT)
        |    AS frame_checksum,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(length(resized) AS BIGINT) AS resized_len,
        |  md5(resized) AS resized_md5
        |FROM fr ORDER BY doc_id, frame_no""".stripMargin,

    // channel-ranking labels over the same decoded pixels; confidence
    // = 100·sum/(255·n_px) evaluated with the IDENTICAL double
    // arithmetic on both engines (multiply before divide)
    "q_multimodal_labels" ->
      s"""WITH $pixelGridSqlDuck,
        |ch AS (
        |  SELECT doc_id, n_px,
        |    unnest(['red', 'green', 'blue']) AS name,
        |    unnest([sr, sg, sb]) AS s,
        |    unnest([0, 1, 2]) AS idx
        |  FROM sums),
        |r AS (
        |  SELECT doc_id, name, s, n_px,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, idx)
        |      AS label_rank
        |  FROM ch)
        |SELECT doc_id, CAST(label_rank AS BIGINT) AS label_rank,
        |  100.0 * s / (255.0 * n_px) AS confidence, name
        |FROM r ORDER BY doc_id, label_rank, name""".stripMargin
  )
}
