package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal
import graft.operators.Multimodal.{ImageFeatures, MediaRow}

class MultimodalSpec extends AnyFunSuite {

  test("genPng emits a real PNG and decodeImage reproduces the pixel formula") {
    val d = 7L
    val png = Multimodal.genPng(d)
    // actual PNG container, not a fake: 8-byte signature
    assert((png(0) & 0xff) == 0x89 && new String(png.slice(1, 4), "UTF-8") == "PNG")
    val f = Multimodal.decodeImage(d, png)
    val (w, h) = ((8 + d % 9).toInt, (8 + d % 7).toInt)
    def sum(m: Long, xm: Long, ym: Long) =
      (for (x <- 0 until w; y <- 0 until h)
        yield (d * m + x * xm + y * ym) % 256).sum
    assert(f == ImageFeatures(d, w, h, w.toLong * h,
      sum(31, 7, 13), sum(17, 3, 5), sum(23, 11, 2)))
  }

  test("undecodable payloads degrade, never throw") {
    assert(Multimodal.decodeImage(1L, null) == ImageFeatures(1L, 0, 0, 0, 0, 0, 0))
    assert(Multimodal.decodeImage(2L, Array.emptyByteArray).n_px == 0)
    assert(Multimodal.decodeImage(3L, "not an image".getBytes).n_px == 0)
    assert(graft.functions.ImageLabels.detect("garbage".getBytes).isEmpty)
    assert(graft.functions.ImageLabels.detect(null).isEmpty)
  }

  test("ImageLabels ranks decoded channels with deterministic tie-breaks") {
    // a solid-color image: red dominant, green second, blue zero
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4; y <- 0 until 4) img.setRGB(x, y, (200 << 16) | (50 << 8))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val rows = graft.functions.ImageLabels.detect(bos.toByteArray)
    assert(rows.map(r => (r.getLong(0), r.getString(2).toString)) ==
      Seq((1L, "red"), (2L, "green"), (3L, "blue")))
    assert(rows.head.getDouble(1) == 100.0 * 200 * 16 / (255.0 * 16))
    // all-equal channels: rank falls back to channel order, no
    // partitioning-dependent ambiguity
    val grey = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 2; y <- 0 until 2) grey.setRGB(x, y, 0x7f7f7f)
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grey, "png", bos2)
    assert(graft.functions.ImageLabels.detect(bos2.toByteArray)
      .map(_.getString(2).toString) == Seq("red", "green", "blue"))
  }

  test("mapPartitions batch plumbing produces one row per input") {
    val spark = TestSpark.spark
    import spark.implicits._
    val media = (1L to 200L).map(i => MediaRow(i, Multimodal.genPng(i))).toDF()
    val out = Multimodal.extractFeatures(spark, media)
    assert(out.count() == 200)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == (1L to 200L))
  }

  test("LabelGen UDTF plans as Generate and works from SQL LATERAL VIEW") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    GraftExtensions.register(spark)
    val df = Tables(spark, TestSpark.sf, "documents").limit(10)
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val viaCol = df.select(col("doc_id"), graft.functions.LabelGen.labels(col("content")))
    // the analyzer wraps the generator in a Generate node, like explode
    assert(viaCol.queryExecution.executedPlan.toString.contains("Generate"),
      viaCol.queryExecution.executedPlan.toString.take(1000))
    assert(viaCol.schema.fieldNames.toSeq ==
      Seq("doc_id", "label_rank", "confidence", "name"))
    df.createOrReplaceTempView("media_tmp")
    val viaSql = spark.sql(
      """SELECT doc_id, l.label_rank, l.confidence, l.name
        |FROM media_tmp LATERAL VIEW graft_labels(content) l""".stripMargin)
    assert(viaSql.collect().map(_.toSeq).toSet ==
      viaCol.collect().map(_.toSeq).toSet)
    // 1-3 labels per item, rank starts at 1, confidence descends from 100
    val rows = viaCol.collect()
    assert(rows.length >= 10 && rows.length <= 30)
    assert(rows.filter(_.getLong(1) == 1L).forall(_.getDouble(2) == 100.0))
  }

  test("ImageLabels UDTF plans as Generate and works from SQL LATERAL VIEW") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    GraftExtensions.register(spark)
    val df = Multimodal.imageFixtures(spark,
      Tables(spark, TestSpark.sf, "documents").limit(10))
    val viaCol = df.select(col("doc_id"),
      graft.functions.ImageLabels.labels(col("content")))
    assert(viaCol.queryExecution.executedPlan.toString.contains("Generate"),
      viaCol.queryExecution.executedPlan.toString.take(1000))
    assert(viaCol.schema.fieldNames.toSeq ==
      Seq("doc_id", "label_rank", "confidence", "name"))
    df.createOrReplaceTempView("image_media_tmp")
    val viaSql = spark.sql(
      """SELECT doc_id, l.label_rank, l.confidence, l.name
        |FROM image_media_tmp LATERAL VIEW graft_image_labels(content) l""".stripMargin)
    assert(viaSql.collect().map(_.toSeq).toSet ==
      viaCol.collect().map(_.toSeq).toSet)
    // exactly 3 channel labels per image, rank 1..3
    val rows = viaCol.collect()
    assert(rows.length == 30)
    assert(rows.groupBy(_.getLong(0)).values.forall(
      _.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L)))
  }

  test("transformStub: resize stride, frame grid, and edge cases") {
    import graft.operators.Multimodal.{transformStub, MediaRow}
    // 600 bytes -> 3 frames, sampled {0, 1, 2}; resized = 150 bytes
    val b = Array.tabulate(600)(i => (i % 251).toByte)
    val fr = transformStub(MediaRow(7L, b))
    assert(fr.map(_.frame_no) == Seq(0L, 1L, 2L))
    assert(fr.forall(_.n_frames == 3L))
    assert(fr.forall(_.resized_len == 150L))
    assert(fr.map(_.frame_offset) == Seq(0L, 256L, 512L))
    // checksum of a partial last frame counts only real bytes
    assert(fr(2).frame_checksum ==
      (512 until 600).map(i => (i % 251) & 0xff).sum.toLong)
    // empty payload: one frame, zero checksum, md5 of empty input
    val e = transformStub(MediaRow(8L, Array.emptyByteArray))
    assert(e.map(r => (r.frame_no, r.frame_checksum, r.n_frames)) ==
      Seq((0L, 0L, 1L)))
    assert(e.head.resized_md5 == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("imagePhash: brightness-invariant, structure-sensitive, -1 on junk") {
    import graft.operators.Multimodal.imagePhash
    def png(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // aHash compares each cell to the IMAGE mean, so a constant
    // brightness offset must not change a single bit...
    val base = png(12, 10)((x, y) => 10 + x * 8 + y * 6)
    val brighter = png(12, 10)((x, y) => 40 + x * 8 + y * 6)
    assert(imagePhash(base) == imagePhash(brighter))
    // ...while transposing the gradient flips the cell pattern
    val transposed = png(12, 10)((x, y) => 10 + x * 6 + y * 8)
    assert(imagePhash(base) != imagePhash(transposed) ||
      imagePhash(base) == 0L) // (equal only if degenerate — not here)
    assert(imagePhash(base) != 0L)
    // undecodable payloads fingerprint as -1, never throw
    assert(imagePhash(null) == -1L)
    assert(imagePhash(Array[Byte](1, 2, 3)) == -1L)
  }

  test("q_image_phash groups partition the corpus and genuinely collide") {
    val rows = graft.operators.Multimodal
      .queries("q_image_phash")(TestSpark.spark, TestSpark.sf).collect()
    val nDocs = Tables(TestSpark.spark, TestSpark.sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    assert(rows.exists(_.getLong(1) > 1L), "no perceptual collisions — " +
      "the dedup grouping is vacuous on this fixture")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("q_image_gate: the truncated plant genuinely fails the REAL decode; all verdicts fire") {
    // decode-level check, independent of the query: a 10-byte PNG
    // prefix must be rejected by ImageIO itself (the gate's
    // 'undecodable' verdict rides the real failure path, not the key)
    val truncated = graft.operators.Multimodal.genPng(34L).take(10)
    val f = graft.operators.Multimodal.decodeImage(34L, truncated)
    assert(f.width == 0 && f.height == 0)
    val rows = graft.operators.Multimodal
      .queries("q_image_gate")(TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    val byReason = rows.groupBy(_._3).view.mapValues(_.length)
    Seq(null, "undecodable", "too_small").foreach { v =>
      assert(byReason.getOrElse(v, 0) > 0, s"verdict '$v' never fired")
    }
    rows.foreach { case (id, keep, reason) =>
      assert(keep == (reason == null))
      assert((id % 29 == 5) == (reason == "undecodable"))
    }
  }

  test("q_phash_hamming equals the all-pairs Hamming reference (pigeonhole is exact)") {
    // independent JVM recompute: all distinct-fingerprint pairs at
    // Hamming 1..2, straight from the q_image_phash groups — the
    // block-join candidates must lose nothing (3 blocks cover radius
    // 2 by pigeonhole) and emit nothing twice
    val groups = graft.operators.Multimodal
      .queries("q_image_phash")(TestSpark.spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (a, na) <- groups; (b, nb) <- groups if a < b
      h = java.lang.Long.bitCount(a ^ b) if h >= 1 && h <= 2
    } yield (a, b, h.toLong, na, nb)).sortBy(t => (t._1, t._2)).toSeq
    val actual = graft.operators.Multimodal
      .queries("q_phash_hamming")(TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(expected.nonEmpty, "fixture has no near-dup fingerprints — vacuous")
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (x, y) => x != y }}")
  }

  test("q_phash_admission equals the all-pairs admission reference (exact = hamming-0 of the same join)") {
    // independent JVM recompute: hash every image on both sides of
    // the doc-level % 7 split, then per new image the best
    // (hamming <= 3, min partner) by brute force over ALL index
    // hashes — the pigeonhole + agg-collapsed index must lose
    // nothing, and exact dups must surface as hamming 0 with the
    // smallest index id sharing the hash
    def imgs(p: Long => Boolean): Seq[(Long, Long)] =
      (0L until 500L).filter(p).flatMap { d =>
        val base = Seq(d -> Multimodal.imagePhash64(Multimodal.genPng(d)))
        if (d % 17 == 4)
          base :+ ((d + 1000000L) ->
            Multimodal.imagePhash64(Multimodal.genPngNearDup(d)))
        else base
      }.filter(_._2 != -1L)
    val idx = imgs(_ % 7 != 3)
    val idxByHash = idx.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val expected = imgs(_ % 7 == 3).map { case (id, h) =>
      val best = idxByHash.toSeq
        .map { case (ih, mid) => (java.lang.Long.bitCount(h ^ ih).toLong, mid) }
        .filter(_._1 <= 3L).sorted.headOption
      best match {
        case Some((0L, mid)) => (id, "exact_dup", mid, 0L)
        case Some((hm, mid)) => (id, "near_dup", mid, hm)
        case None => (id, "unique", -1L, -1L)
      }
    }.sortBy(_._1)
    val actual = graft.operators.Multimodal
      .queries("q_phash_admission")(TestSpark.spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(expected.exists(_._2 == "exact_dup") &&
      expected.exists(_._2 == "unique"),
      "fixture degenerate — not all verdict classes fire")
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (x, y) => x != y }}")
    TestSpark.housekeeping()
  }

  test("imagePhash64: DCT kernel edge cases and the retouch plant's spread") {
    // undecodable payloads fingerprint as -1, never throw
    assert(Multimodal.imagePhash64(null) == -1L)
    assert(Multimodal.imagePhash64(Array[Byte](1, 2, 3)) == -1L)
    // the hash is a full 64-bit object: over the 500-doc corpus some
    // hash must use the top block (bits 48..63) — i.e. the space is
    // NOT domain-bounded like the 16-bit aHash
    val hashes = (0L until 500L).map(d =>
      Multimodal.imagePhash64(Multimodal.genPng(d)))
    assert(hashes.exists(h => (h >>> 48) != 0L))
    assert(hashes.distinct.length > 450,
      "64-bit fingerprints should be nearly collision-free on 500 docs")
    // the one-pixel retouch plant must land copies on BOTH sides of
    // the radius-3 boundary (true accepts AND true rejects), and at
    // least one exactly on it
    val hams = (0L until 500L).filter(_ % 17 == 4).map { d =>
      java.lang.Long.bitCount(
        Multimodal.imagePhash64(Multimodal.genPng(d)) ^
          Multimodal.imagePhash64(Multimodal.genPngNearDup(d)))
    }
    assert(hams.exists(h => h >= 1 && h <= 3), "no copy inside radius 3")
    assert(hams.exists(_ > 3), "no copy outside radius 3")
  }

  test("q_phash64_hamming pigeonhole equals the all-pairs Hamming reference") {
    // independent JVM recompute: hash every image (sources + the
    // doc_id % 17 == 4 retouched copies) straight from the
    // generators, group, and brute-force all distinct-hash pairs at
    // Hamming 1..3 — the block-keyed candidates must lose nothing
    // (4 × 16-bit blocks cover radius 3 by pigeonhole) and emit
    // nothing twice
    val nDocs = Tables(TestSpark.spark, TestSpark.sf, "documents").count()
    val jvmHashes = (0L until nDocs).flatMap { d =>
      val src = Multimodal.imagePhash64(Multimodal.genPng(d))
      if (d % 17 == 4)
        Seq(src, Multimodal.imagePhash64(Multimodal.genPngNearDup(d)))
      else Seq(src)
    }
    val groups = jvmHashes.groupBy(identity).view
      .mapValues(_.length.toLong).toSeq.sortBy(_._1)
    val expected = (for {
      (a, na) <- groups; (b, nb) <- groups if a < b
      h = java.lang.Long.bitCount(a ^ b) if h >= 1 && h <= 3
    } yield (a, b, h.toLong, na, nb)).sortBy(t => (t._1, t._2))
    val actual = Multimodal
      .queries("q_phash64_hamming")(TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(expected.nonEmpty, "fixture has no radius-3 pairs — vacuous")
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (x, y) => x != y }}")
  }

  test("q_crossmodal_dedup equals a plain-Scala hash+trigram recompute; both verdicts fire") {
    val spark = TestSpark.spark
    val nDocs = Tables(spark, TestSpark.sf, "documents").count()
    val texts = Tables(spark, TestSpark.sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // hashes incl. copies, then the group-size-20 cap and all pairs
    // at Hamming <= 3
    val hashes = (0L until nDocs).flatMap { d =>
      val src = (d, Multimodal.imagePhash64(Multimodal.genPng(d)))
      if (d % 17 == 4)
        Seq(src, (d + 1000000L,
          Multimodal.imagePhash64(Multimodal.genPngNearDup(d))))
      else Seq(src)
    }
    val groupN = hashes.groupBy(_._2).view.mapValues(_.length).toMap
    val capped = hashes.filter { case (_, h) => groupN(h) <= 20 }
    // trigram sets mirroring ngramStrings: lowercase, split(" ", -1),
    // max(len-2, 1) windows clamped at the end
    def gramsOf(text: String): Set[String] = {
      val t = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
      val k = math.max(t.length - 2, 1)
      (0 until k).map(i => t.slice(i, math.min(i + 3, t.length))
        .mkString(" ")).toSet
    }
    val gsets = texts.view.mapValues(gramsOf).toMap
    def srcOf(id: Long) = if (id >= 1000000L) id - 1000000L else id
    val expected = (for {
      (ida, ha) <- capped; (idb, hb) <- capped if ida < idb
      ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 3
    } yield {
      val (ga, gb) = (gsets(srcOf(ida)), gsets(srcOf(idb)))
      val nc = (ga intersect gb).size
      val un = ga.size + gb.size - nc
      val j = if (un == 0) 0L else math.round(1000000.0 * nc / un)
      (ida, idb, ham.toLong, ga.size.toLong, gb.size.toLong, nc.toLong,
        j, if (j >= 500000L) "dup_both" else "image_only")
    }).sortBy(t => (t._1, t._2))
    val actual = Multimodal
      .queries("q_crossmodal_dedup")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSeq
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (x, y) => x != y }}")
    assert(expected.exists(_._8 == "dup_both"), "dup_both never fires")
    assert(expected.exists(_._8 == "image_only"), "image_only never fires")
  }

  test("phash group cap: the pair frame honors the cap, exercised at cap=2") {
    // The q_winnow_overlap df-cap discipline: the group-size cut must
    // be the cap the kernel is given, not a baked literal — run the
    // pair-producing query at cap=2 against a brute recompute that
    // applies the same cap, and require the cut to be non-vacuous
    // (cap=2 drops pairs that cap=20 keeps on this fixture).
    val spark = TestSpark.spark
    val nDocs = Tables(spark, TestSpark.sf, "documents").count()
    val hashes = (0L until nDocs).flatMap { d =>
      val src = (d, Multimodal.imagePhash64(Multimodal.genPng(d)))
      if (d % 17 == 4)
        Seq(src, (d + 1000000L,
          Multimodal.imagePhash64(Multimodal.genPngNearDup(d))))
      else Seq(src)
    }
    val groupN = hashes.groupBy(_._2).view.mapValues(_.length).toMap
    def brutePairs(cap: Int): Seq[(Long, Long, Long)] = {
      val capped = hashes.filter { case (_, h) => groupN(h) <= cap }
      (for {
        (ida, ha) <- capped; (idb, hb) <- capped if ida < idb
        ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 3
      } yield (ida, idb, ham.toLong)).sortBy(t => (t._1, t._2))
    }
    val at20 = brutePairs(20)
    val at2 = brutePairs(2)
    assert(at2.size < at20.size,
      s"cap=2 cuts nothing on this fixture (${at2.size} vs ${at20.size})")
    val actual = Multimodal.crossmodalDedup(spark, TestSpark.sf, cap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(actual == at2,
      s"first diff: ${actual.zip(at2).find { case (x, y) => x != y }}")
    // the oracle builder interpolates the cap it is given
    assert(Multimodal.crossmodalDedupOracle(cap = 2).contains("<= 2"),
      "oracle SQL does not interpolate the cap")
  }

  test("q_image_dedup_clusters equals a plain-Scala union-find over the brute pair graph") {
    val spark = TestSpark.spark
    val nDocs = Tables(spark, TestSpark.sf, "documents").count()
    val hashes = (0L until nDocs).flatMap { d =>
      val src = (d, Multimodal.imagePhash64(Multimodal.genPng(d)))
      if (d % 17 == 4)
        Seq(src, (d + 1000000L,
          Multimodal.imagePhash64(Multimodal.genPngNearDup(d))))
      else Seq(src)
    }
    val groupN = hashes.groupBy(_._2).view.mapValues(_.length).toMap
    val capped = hashes.filter { case (_, h) => groupN(h) <= 20 }
    val pairs = for {
      (ida, ha) <- capped; (idb, hb) <- capped if ida < idb
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)
    // union-find with path compression — independent of the query's
    // propagation/star-contraction kernel
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = members.map(m => m -> find(m)).toMap
    val sizes = expect.values.groupBy(identity).view.mapValues(_.size).toMap
    val rows = Multimodal
      .queries("q_image_dedup_clusters")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.map(_._1).toSet == expect.keySet)
    rows.foreach { case (doc, cl, n, canon) =>
      assert(cl == expect(doc), s"cluster($doc)")
      assert(n == sizes(expect(doc)).toLong, s"n_members($doc)")
      assert(canon == (doc == cl))
    }
    // non-vacuous: a transitive chain exists — some cluster is larger
    // than any single radius-3 neighborhood could explain trivially
    assert(rows.nonEmpty && rows.map(_._3).max >= 3,
      "no multi-member chain — cluster formation is vacuous")
  }

  test("q_media_pipeline: stage attribution invariants — each stage consumes the prior's survivors") {
    val rows = Multimodal
      .queries("q_media_pipeline")(TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3))))
    val byId = rows.map(r => r._1 -> r).toMap
    // every image of the media corpus (sources + copies) is attributed
    val nDocs = Tables(TestSpark.spark, TestSpark.sf, "documents").count()
    val expectIds = (0L until nDocs).flatMap(d =>
      if (d % 17 == 4) Seq(d, d + 1000000L) else Seq(d)).toSet
    assert(rows.map(_._1).toSet == expectIds)
    // all verdict classes fire, keep <-> reason null, partners only on
    // dup verdicts
    Seq(null, "undecodable", "too_small", "exact_dup", "near_dup")
      .foreach(v => assert(rows.exists(_._3 == v), s"verdict '$v' silent"))
    rows.foreach { case (id, keep, reason, partner) =>
      assert(keep == (reason == null))
      assert((partner != null) ==
        (reason == "exact_dup" || reason == "near_dup"))
      // gate stage is purely analytic: the truncation plant by image
      // key, the dim floor by the fixture formula on the SOURCE id
      val src = if (id >= 1000000L) id - 1000000L else id
      if (id % 29 == 5) assert(reason == "undecodable", s"$id")
      else if (math.min(8 + src % 9, 8 + src % 7) < 10)
        assert(reason == "too_small", s"$id")
      else assert(reason == null || reason == "exact_dup" ||
        reason == "near_dup", s"$id")
    }
    // dup partners must themselves be SURVIVING keepers (keep or a
    // near_dup canonical that keeps) and smaller than the member
    rows.filter(_._3 == "exact_dup").foreach { case (id, _, _, p) =>
      assert(p < id, s"exact partner not the smaller id: $id -> $p")
      val pr = byId(p.longValue)
      assert(pr._3 == null || pr._3 == "near_dup",
        s"exact partner $p was itself dropped before stage 2: ${pr._3}")
    }
    rows.filter(_._3 == "near_dup").foreach { case (id, _, _, p) =>
      assert(p < id, s"canonical not the component min: $id -> $p")
      assert(byId(p.longValue)._2, s"canonical $p does not keep")
    }
  }
}
