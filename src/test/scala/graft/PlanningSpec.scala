package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic gates for the recommendation and layout-planning operators:
  * ranking well-formedness and the basket cap actually firing for
  * q_item_cf (testdata orders are small, so the cap is exercised by
  * calling it with a lower cap), and bin
  * well-formedness/conservation for q_compaction_plan.
  */
class PlanningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("q_item_cf: dense ranks, monotone scores, symmetric evidence") {
    val rows =
      try graft.operators.Analytic.queries("q_item_cf")(spark, TestSpark.sf)
        .collect()
      finally TestSpark.housekeeping()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (item, g) =>
      val byRank = g.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to g.length).toSeq,
        s"item $item ranks not dense")
      assert(g.length <= 5)
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(4) >= b.getDouble(4))
        case _ =>
      }
      g.foreach(r => assert(r.getLong(3) >= 2L, "evidence floor"))
    }
    // co-occurrence is symmetric: where both directions surface, the
    // evidence count must agree
    val c = rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    c.foreach { case ((i, j), cij) =>
      c.get((j, i)).foreach(rev => assert(rev == cij, s"($i,$j)"))
    }
  }

  test("q_item_cf: the basket cap prunes megabaskets when lowered") {
    val default =
      try graft.operators.Analytic.queries("q_item_cf")(spark, TestSpark.sf)
        .collect()
      finally TestSpark.housekeeping()
    try {
      val capped = graft.operators.Analytic
        .itemCf(spark, TestSpark.sf, cap = 2).collect()
      assert(capped.length < default.length,
        "cap=2 must drop pairs that 3+-part baskets contributed")
      // and the oracle restates the cap it is given
      assert(graft.operators.Analytic.itemCfOracle(cap = 2).contains("<= 2"))
    } finally TestSpark.housekeeping()
  }

  test("q_seq_patterns: well-formed 3-patterns, ordered, bounded support") {
    val rows =
      try graft.operators.Analytic.queries("q_seq_patterns")(
        spark, TestSpark.sf).collect()
      finally TestSpark.housekeeping()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    val types = Set("click", "view", "purchase", "signup", "error")
    rows.foreach { r =>
      val parts = r.getString(0).split(">")
      assert(parts.length == 3 && parts.forall(types), r.getString(0))
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) < 1.0)
    }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(1) >= b.getLong(1))
      case _ =>
    }
  }

  test("q_markov_eval: grid covers the types, ratios restate the counts") {
    val rows =
      try graft.operators.Analytic.queries("q_markov_eval")(
        spark, TestSpark.sf).collect()
      finally TestSpark.housekeeping()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, h) = (r.getLong(1), r.getLong(2))
      assert(h <= n && n > 0)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == r6(h.toDouble / n.toDouble))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // on uniform synthetic transitions the learned predictor sits at
    // the 1/|types| noise floor — it must not silently do better or
    // worse than chance by a wide margin (that would mean a leak or a
    // join bug, not signal)
    val accs = rows.map(_.getDouble(3))
    assert(accs.forall(a => a > 0.1 && a < 0.35), accs.mkString(","))
  }

  test("q_cf_holdout: precision restates confirmed-rec counts") {
    val rows =
      try graft.operators.Analytic.queries("q_cf_holdout")(
        spark, TestSpark.sf).collect()
      finally TestSpark.housekeeping()
    assert(rows.length == 1)
    val r = rows.head
    val (items, recs, hits) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(hits <= recs)
    assert(recs <= items * 5, "top-5 cap violated")
    if (recs > 0) {
      val expect = BigDecimal(hits.toDouble / recs.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == expect)
    }
    // planted brand-anchor preferences make the gate NON-DEGENERATE:
    // anchors confirm across slices (hits > 0) while independent noise
    // pairs stay unconfirmed (precision < 1)
    assert(hits > 0L, "degenerate: zero confirmed recommendations")
    assert(hits < recs, "degenerate: every recommendation confirmed")
  }

  test("q_token_budget: allocations sum EXACTLY to B, each within 1 of its share") {
    val rows =
      try graft.operators.Extras.queries("q_token_budget")(
        spark, TestSpark.sf).collect()
      finally TestSpark.housekeeping()
    val B = 10000000L
    assert(rows.map(_.getLong(2)).sum == B,
      "largest-remainder apportionment must conserve the budget exactly")
    val wTot = rows.map(_.getLong(1)).sum.toDouble
    rows.foreach { r =>
      val exact = B * r.getLong(1) / wTot
      assert(math.abs(r.getLong(2) - exact) <= 1.0,
        s"${r.getString(0)}: alloc ${r.getLong(2)} vs exact share $exact")
    }
  }

  test("q_compaction_plan: disjoint ordered ranges, conservation") {
    // columns: source, bin, n_files, bytes, first_doc, last_doc, fill
    val rows =
      try graft.operators.Extras
        .queries("q_compaction_plan")(spark, TestSpark.sf).collect()
      finally TestSpark.housekeeping()
    assert(rows.nonEmpty)
    val docTotals = Tables(spark, TestSpark.sf, "documents")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum("n_chars").as("b"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    TestSpark.housekeeping()
    rows.groupBy(_.getString(0)).foreach { case (src, g) =>
      val byBin = g.sortBy(_.getLong(1))
      // next-fit over a small-file manifest: bins are contiguous
      assert(byBin.map(_.getLong(1)).toSeq == (0L until g.length).toSeq,
        s"$src bins not dense")
      // doc-id ranges are disjoint and ordered (streamable rewrite)
      byBin.foreach(r => assert(r.getLong(4) <= r.getLong(5)))
      byBin.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4), src)
        case _ =>
      }
      // conservation: every file lands in exactly one bin
      val (bytes, nFiles) = docTotals(src)
      assert(byBin.map(_.getLong(3)).sum == bytes, s"$src bytes")
      assert(byBin.map(_.getLong(2)).sum == nFiles, s"$src files")
      // fill_ratio restates bytes/target
      byBin.foreach { r =>
        val expect = BigDecimal(r.getLong(3).toDouble / 16384.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getDouble(6) == expect)
      }
    }
  }
}
