package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** q_neardup_embedding's bucketed multi-probe LSH vs the unbucketed
  * all-pairs reference (the r3 verdict's promised regression guard):
  * on the test corpus every qualifying pair has signature Hamming
  * distance <= 1, so the two forms must agree element-wise. A recall
  * regression in the probe generation (missed flip bucket, double
  * probe, off-by-one in the bit-string surgery) breaks this before it
  * ever reaches oracle time.
  */
class NearDupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed near-dup equals the all-pairs reference on the test corpus") {
    val bucketed = Similarity.queries("q_neardup_embedding")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val allPairs = Similarity.neardupAllPairs(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(bucketed.nonEmpty, "test corpus produced no near-dup pairs at all")
    assert(bucketed == allPairs,
      s"bucketed=${bucketed.size} rows, allPairs=${allPairs.size} rows; " +
        s"missing=${allPairs.diff(bucketed).take(5)} extra=${bucketed.diff(allPairs).take(5)}")
  }

  test("every reported pair is exact-cosine verified (precision is 1 by construction)") {
    val rows = Similarity.queries("q_neardup_embedding")(spark, TestSpark.sf)
      .collect()
    assert(rows.forall(_.getDouble(2) >= 0.9))
    // pairs are emitted once: (id_a < id_b) and no duplicates
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.forall { case (a, b) => a < b })
    assert(keys.distinct.length == keys.length, "duplicate pair emitted")
  }

  test("LSH width knob: wider plane sets strictly refine buckets (scale path)") {
    // The 100 TB contract of N_PLANES: one more plane per
    // corpus doubling keeps bucket size constant. That only works if
    // (a) plane i is identical under every width >= i+1 (so a wider
    // deployment REFINES buckets instead of reshuffling them) and
    // (b) refinement actually splits buckets. Verified here directly
    // on the corpus embeddings with the same double-cast dot the
    // engine uses.
    val p8 = Similarity.planesFor(8)
    val p12 = Similarity.planesFor(12)
    assert(p12.take(8) == p8, "plane sequence is not prefix-stable")
    val vecs = Tables(spark, TestSpark.sf, "embeddings")
      .selectExpr("cast(embedding as array<double>) as e").collect()
      .map(_.getSeq[Double](0))
    def bucket(v: Seq[Double], ps: Seq[Seq[Int]]): String =
      ps.map(p => if (p.iterator.zip(v.iterator).map { case (a, b) => a * b }.sum >= 0) '1' else '0').mkString
    val b8 = vecs.map(bucket(_, p8))
    val b12 = vecs.map(bucket(_, p12))
    assert(b8.zip(b12).forall { case (narrow, wide) => wide.startsWith(narrow) },
      "wider bucket does not extend the narrow bucket bit-for-bit")
    // refinement must split: distinctly more buckets → smaller buckets
    assert(b12.distinct.length > b8.distinct.length,
      s"12-plane buckets (${b12.distinct.length}) did not refine " +
        s"8-plane buckets (${b8.distinct.length})")
  }

  test("semdedup: one row per corpus vector, duplicates found, cluster minimum never dropped") {
    val rows = Similarity.queries("q_semdedup")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // decision surface covers the whole corpus exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    // the planted perturbed copies (cosine ~1 to their originals) are found
    assert(rows.exists(_._3), "no duplicate detected in a corpus with planted copies")
    // keep-policy invariant: the smallest id in a cluster has no smaller
    // same-cluster partner, so it can never be dropped
    rows.groupBy(_._2).foreach { case (c, members) =>
      val min = members.minBy(_._1)
      assert(!min._3, s"cluster $c: minimum id ${min._1} was dropped")
    }
  }

  test("q_dedup_threshold_curve: strictly meaningful, monotone in tau") {
    // columns: tau, n_pairs, n_docs_dropped, drop_frac
    val rows = graft.operators.Dedup
      .queries("q_dedup_threshold_curve")(spark, TestSpark.sf).collect()
      .sortBy(_.getDouble(0))
    TestSpark.housekeeping()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 0.6, 0.7, 0.8))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(1) >= b.getLong(1), "pairs grew with tau")
        assert(a.getLong(2) >= b.getLong(2), "drops grew with tau")
      case _ =>
    }
    // the planted mid-similarity tiers must make the curve
    // DISCRIMINATE: a flat curve means the sweep measures nothing
    assert(rows.head.getLong(1) > rows.last.getLong(1),
      s"degenerate flat curve: ${rows.map(_.getLong(1)).mkString(",")}")
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("q_lsh_tuning: aligned bands nest — candidates shrink and recall never grows with r") {
    // columns: bands, rows_per_band, n_truth, n_cand, n_caught, recall, prec
    val rows = graft.operators.Dedup
      .queries("q_lsh_tuning")(spark, TestSpark.sf).collect()
      .sortBy(_.getLong(1))
    TestSpark.housekeeping()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((16L, 1L), (8L, 2L), (4L, 4L)))
    // r divides evenly, so an r=4 band match implies its r=2 sub-bands
    // match implies r=1: candidate sets are nested
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(3) >= b.getLong(3), "candidates grew with r")
        assert(a.getLong(4) >= b.getLong(4), "caught grew with r")
      case _ =>
    }
    // the sweep must discriminate: the permissive end pays precision
    val precs = rows.map(_.getDouble(6))
    assert(precs.head < precs.last,
      s"precision curve flat: ${precs.mkString(",")}")
    rows.foreach(r => assert(r.getLong(4) <= r.getLong(2)))
  }

  test("q_ivf_tuning: nested probe sets make recall non-decreasing in nprobe") {
    // columns: nprobe, qid, n_exact, n_hits, recall, macro_recall
    val rows = graft.operators.Similarity
      .queries("q_ivf_tuning")(spark, TestSpark.sf).collect()
    TestSpark.housekeeping()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(1L, 2L, 4L))
    rows.foreach { r =>
      assert(r.getLong(2) == 3L, "exact top-3 must always be 3 deep")
      assert(r.getLong(3) <= 3L)
    }
    // the top-1 probe list is inside the top-2 inside the top-4, so
    // per-query hits can only grow with nprobe
    rows.groupBy(_.getLong(1)).foreach { case (qid, g) =>
      val byN = g.sortBy(_.getLong(0)).map(_.getLong(3))
      byN.sliding(2).foreach {
        case Array(a, b) => assert(a <= b, s"qid $qid hits shrank with nprobe")
        case _ =>
      }
    }
    // planted neighbors make the curve meaningful: the widest probe
    // must recover at least as much as it costs to scan
    assert(rows.filter(_.getLong(0) == 4L).map(_.getLong(3)).sum > 0L)
  }

  test("q_ann_ivfpq_lloyd: trained quantizer recovers the residual knob") {
    // columns: variant, code_k, qid, n_exact, n_hits, recall,
    // macro_recall. The r11 finding was that residual encoding
    // UNDERPERFORMS raw under sampled centroids; with the Lloyd-trained
    // coarse quantizer + trained codebooks it must match or beat raw at
    // EVERY code budget — and strictly win at the discriminating K=4
    // budget, where raw must also pay a visible cost (< 1.0) or the
    // comparison measures nothing.
    val rows = graft.operators.Similarity
      .queries("q_ann_ivfpq_lloyd")(spark, TestSpark.sf).collect()
    TestSpark.housekeeping()
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("raw", "residual"))
    assert(rows.map(_.getLong(1)).distinct.sorted.toSeq == Seq(4L, 16L))
    rows.foreach(r => assert(r.getLong(3) == 3L && r.getLong(4) <= 3L))
    val mrec = rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(6))
      .toMap
    Seq(4L, 16L).foreach(ck =>
      assert(mrec(("residual", ck)) >= mrec(("raw", ck)),
        s"residual lost to raw at K=$ck: ${mrec(("residual", ck))} < " +
          s"${mrec(("raw", ck))}"))
    assert(mrec(("raw", 4L)) < 1.0, "degenerate: raw @K=4 pays nothing")
    assert(mrec(("residual", 4L)) > mrec(("raw", 4L)),
      "residual must strictly win at the discriminating K=4 budget")
    assert(mrec(("residual", 16L)) > 0.9, "K=16 must be near-exact")
  }

  test("q_sq8_recall: set recall free at every bits level, @1 ordering pays") {
    // columns: n_bits, k, qid, n_exact, n_hits, recall, macro_recall
    val rows = graft.operators.Similarity
      .queries("q_sq8_recall")(spark, TestSpark.sf).collect()
    TestSpark.housekeeping()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(2L, 4L, 8L))
    assert(rows.map(_.getLong(1)).distinct.sorted.toSeq == Seq(1L, 3L))
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1), "truth depth must equal k")
      assert(r.getLong(4) <= r.getLong(3))
      val rec = BigDecimal(r.getLong(4).toDouble / r.getLong(3).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) == rec)
    }
    val mrec = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(6))
      .toMap
    // part 1 of the measured finding: recall@3 is PERFECT at every
    // bits level — even 3-level reconstruction keeps the 0.995-vs-0.3
    // plant margin, so set retrieval of coarse near-dups is free
    Seq(2L, 4L, 8L).foreach(b =>
      assert(mrec((b, 3L)) == 1.0, s"@3 not free at bits=$b"))
    // part 2: recall@1 (within-plant ordering) is NOT free — coarse
    // bits scramble sub-step sim margins, and even int8 pays some of
    // the cost; non-degenerate in both directions
    assert(mrec((2L, 1L)) < 1.0, "degenerate: 2-bit @1 ordering free")
    assert(mrec((8L, 1L)) > 0.0, "degenerate: int8 @1 recall zero")
    assert(mrec((8L, 1L)) > mrec((2L, 1L)),
      "int8 must order better than 2-bit at @1")
  }

  test("q_ann_recall: nested candidate sets make hits monotone in width") {
    // columns: width, qid, n_exact, n_hits, recall, macro_recall
    val rows = graft.operators.Similarity
      .queries("q_ann_recall")(spark, TestSpark.sf).collect()
    TestSpark.housekeeping()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(2L, 4L, 8L))
    rows.foreach { r =>
      assert(r.getLong(2) == 3L, "exact top-3 must always be 3 deep")
      assert(r.getLong(3) <= 3L)
      val rec = BigDecimal(r.getLong(3).toDouble / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == rec)
    }
    // bucket equality at width w+Δ implies equality at w, so the
    // candidate sets are nested and per-query hits can only shrink
    rows.groupBy(_.getLong(1)).foreach { case (qid, g) =>
      val byW = g.sortBy(_.getLong(0)).map(_.getLong(3))
      byW.sliding(2).foreach {
        case Array(a, b) => assert(a >= b, s"qid $qid hits grew with width")
        case _ =>
      }
    }
    // the planted near-duplicates make the curve NON-DEGENERATE: some
    // hits at the narrowest width, some misses at the widest (an
    // all-zero or all-one curve means the evaluator measures nothing)
    val totalByW = rows.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(3)).sum).toMap
    assert(totalByW(2L) > 0L, "degenerate: zero recall at width 2")
    assert(totalByW(8L) < rows.count(_.getLong(0) == 8L) * 3L,
      "degenerate: perfect recall at width 8")
    // the sweep must discriminate on testdata: the coarse index finds
    // true neighbors, the full-width exact-bucket index finds none
    val mrec = rows.groupBy(_.getLong(0))
      .map { case (w, g) => w -> g.head.getDouble(5) }
    assert(mrec(2L) > 0.0, "coarse width must recover some neighbors")
    assert(mrec(2L) >= mrec(4L) && mrec(4L) >= mrec(8L))
  }
}
