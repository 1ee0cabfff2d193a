package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark.spark

/** q_ann_graph / q_ann_graph_recall — the deterministic NN-Descent
  * graph index (VERDICT r11 item 2). Pins the two curve ends the
  * oracle can't see as *properties* (monotonicity, non-degeneracy),
  * the no-cartesian cost bound, and the init width's measured trade
  * (fine seed blocks start high, coarse blocks descend further).
  */
class GraphAnnSpec extends AnyFunSuite {

  private def recallRows(width: Int = 4): Seq[(Long, Long, Long)] =
    graft.operators.Similarity.annGraphRecall(spark, TestSpark.sf, width)
      .collect()
      .toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // (rnd, qid, n_hits)

  test("q_ann_graph_recall: per-query recall is monotone in descent rounds and the curve is non-degenerate") {
    val rows = recallRows()
    assert(rows.size == 30, s"expected 3 rounds x 10 queries, got ${rows.size}")
    // per-query monotonicity — k=4 >= 3 planted means a found planted
    // neighbor can never be evicted, so n_hits must never decrease
    rows.groupBy(_._2).foreach { case (qid, rs) =>
      val byRound = rs.sortBy(_._1).map(_._3)
      byRound.sliding(2).foreach { case Seq(a, b) =>
        assert(b >= a, s"recall regressed for qid=$qid: $byRound")
      }
    }
    // non-degenerate: the descent must actually move the needle
    val macroHits = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(macroHits(2L) > macroHits(0L),
      s"descent added nothing over the md5 seed: $macroHits")
    assert(macroHits(2L) >= 15, // >= 0.5 macro recall after 2 rounds
      s"converged recall below the measured floor: $macroHits")
    TestSpark.housekeeping()
  }

  test("q_ann_graph: k-NN lists complete (4 per query), equi-join-only plan, sims consistent with brute force") {
    val df = graft.operators.Similarity
      .queries("q_ann_graph")(spark, TestSpark.sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(rows.length == 40, s"10 queries x k=4, got ${rows.length}")
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L),
        s"ranks not 1..4 for qid=$qid")
      // ranked descending by sim with dst tie-break
      val ordered = rs.sortBy(_.getLong(1)).toSeq
        .map(r => (r.getDouble(3), -r.getLong(2)))
      ordered.sliding(2).foreach { case Seq(a, b) =>
        assert(a._1 > b._1 || (a._1 == b._1 && a._2 > b._2),
          s"rank order violates (sim DESC, nid) for qid=$qid")
      }
    }
    TestSpark.housekeeping()
  }

  test("q_ann_beam: recall non-decreasing in beam width, widest beam reaches the graph's own recall ceiling, no cartesian") {
    val df = graft.operators.Similarity
      .queries("q_ann_beam")(spark, TestSpark.sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(rows.length == 40, s"4 beams x 10 queries, got ${rows.length}")
    val macroHits = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    // macro recall must never decrease as the beam widens (measured
    // property pinned on the deterministic fixture — beam search has
    // no per-query nesting guarantee, but the macro curve does hold
    // here and a regression means the search or graph changed)
    Seq(1L, 2L, 4L, 8L).sliding(2).foreach { case Seq(a, b) =>
      assert(macroHits(b) >= macroHits(a),
        s"macro recall regressed from beam $a to $b: $macroHits")
    }
    // the widest beam must recover everything the index knows: its
    // hits equal the converged round-2 graph recall (0.67 macro on
    // this fixture) — search is lossless against its own index
    val graphHits = recallRows().filter(_._1 == 2L).map(_._3).sum
    assert(macroHits(8L) == graphHits,
      s"beam-8 search (${macroHits(8L)}) != graph ceiling ($graphHits)")
    // and the curve is non-degenerate: width must buy something
    assert(macroHits(8L) > macroHits(1L),
      s"beam width bought nothing: $macroHits")
    TestSpark.housekeeping()
  }

  test("q_ann_layered: hierarchy-routed entry dominates the global entry at every width (VERDICT r12 item 2)") {
    val df = graft.operators.Similarity
      .queries("q_ann_layered")(spark, TestSpark.sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(rows.length == 80, s"2 arms x 4 beams x 10 queries, got ${rows.length}")
    // (entry, beam) -> summed hits
    val hits = rows.groupBy(r => (r.getString(0), r.getLong(1))).view
      .mapValues(_.map(_.getLong(4)).sum).toMap
    // the hierarchy's job: its routed entry must never lose to the
    // blind global entry at any width, and must win in aggregate
    // (measured on this fixture: layered 0.20-0.33 macro vs global
    // 0.03 flat across widths)
    Seq(1L, 2L, 4L, 8L).foreach { b =>
      assert(hits(("layered", b)) >= hits(("global", b)),
        s"layered lost to global at beam $b: $hits")
    }
    val sumL = Seq(1L, 2L, 4L, 8L).map(b => hits(("layered", b))).sum
    val sumG = Seq(1L, 2L, 4L, 8L).map(b => hits(("global", b))).sum
    assert(sumL > sumG, s"hierarchy bought nothing: layered=$sumL global=$sumG")
    // both arms share the exact-truth denominator
    rows.foreach(r => assert(r.getLong(3) == 3L))
    TestSpark.housekeeping()
  }

  test("q_ann_graph_admission: links only to index-side nodes, <= k ranked links per new vector, no index rebuild shapes") {
    val df = graft.operators.Similarity
      .queries("q_ann_graph_admission")(spark, TestSpark.sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // new vectors are the % 7 = 3 split; every link must land on a
      // stored index node — a % 7 = 3 nid means the walk leaked an
      // arriving vector into the graph
      assert(r.getLong(0) % 7 == 3, s"non-arriving qid admitted: $r")
      assert(r.getLong(2) % 7 != 3, s"link to a non-index node: $r")
    }
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val rks = rs.map(_.getLong(1)).sorted.toSeq
      assert(rks == (1L to rks.length).toSeq && rks.length <= 4,
        s"bad link ranks for qid=$qid: $rks")
    }
    TestSpark.housekeeping()
  }

  test("q_ann_delete: tombstones absent from repaired graph and results, alive edges preserved, repair bridges, post >= pre (VERDICT r13 item 3)") {
    val (_, delIds, gPre, gPost) =
      graft.operators.Similarity.deleteRepair(spark, TestSpark.sf)
    val del = delIds.collect().map(_.getLong(0)).toSet
    assert(del.nonEmpty, "fixture has no tombstoned nodes")
    val pre = gPre.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val post = gPost.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1. no tombstoned endpoint survives anywhere in the repaired graph
    post.foreach { case (s, t) =>
      assert(!del(s) && !del(t), s"tombstoned endpoint in gPost: ($s,$t)")
    }
    // 2. deletion never drops an edge between two ALIVE nodes: the
    // repair only removes tombstone-adjacent edges and adds bridges
    val alivePre = pre.filter { case (s, t) => !del(s) && !del(t) }
    assert(alivePre.subsetOf(post),
      s"alive pre-edges lost: ${alivePre.diff(post).take(5)}")
    // 3. the repair actually bridges: new 2-hop edges exist
    assert(post.diff(pre).nonEmpty, "repair added no re-route edges")
    // 4. output level: the post arm serves zero tombstones, the pre
    // arm provably serves stale ones, and post recall on surviving
    // truth never loses to pre at any beam
    val rows = graft.operators.Similarity
      .queries("q_ann_delete")(spark, TestSpark.sf).collect()
    assert(rows.length == 80, s"2 arms x 4 beams x 10 queries, got ${rows.length}")
    rows.filter(_.getString(0) == "post").foreach(r =>
      assert(r.getLong(5) == 0L, s"post arm surfaced a tombstone: $r"))
    assert(rows.filter(_.getString(0) == "pre").map(_.getLong(5)).sum > 0,
      "fixture degenerate: pre arm never surfaced a tombstone")
    val hits = rows.groupBy(r => (r.getString(0), r.getLong(1))).view
      .mapValues(_.map(_.getLong(4)).sum).toMap
    Seq(1L, 2L, 4L, 8L).foreach { b =>
      assert(hits(("post", b)) >= hits(("pre", b)),
        s"post-delete recall lost to pre at beam $b: $hits")
    }
    TestSpark.housekeeping()
  }

  test("q_ann_filtered: one shared full walk, all-matching induced visits that thin with selectivity, postfilter never loses here (VERDICT r13 item 4)") {
    val rows = graft.operators.Similarity
      .queries("q_ann_filtered")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // (strategy, pred, beam, qid, n_visited, n_match, n_exact, n_hits)
    assert(rows.length == 120, s"2x3x2x10 grid, got ${rows.length}")
    rows.foreach(r => assert(r._7 == 3L, s"constrained truth not 3: $r"))
    // structural: the induced walk only ever visits matching nodes
    rows.filter(_._1 == "induced").foreach(r =>
      assert(r._5 == r._6, s"induced visited a non-matching node: $r"))
    // structural: postfilter slices ONE walk, so its per-query visit
    // count is selectivity-independent (identical across preds)
    rows.filter(_._1 == "postfilter").groupBy(r => (r._3, r._4)).foreach {
      case (k, rs) =>
        assert(rs.map(_._5).distinct.length == 1,
          s"postfilter n_visited varies across preds at $k: $rs")
    }
    // measured, both fixtures: the induced subgraph thins with
    // selectivity (k·sel edges/node), so its mean visits strictly
    // shrink lt5 -> lt2 -> eq0 at beam 8
    def meanVisited(p: String) = {
      val v = rows.filter(r => r._1 == "induced" && r._2 == p && r._3 == 8L)
      v.map(_._5).sum.toDouble / v.length
    }
    assert(meanVisited("lt5") > meanVisited("lt2") &&
      meanVisited("lt2") > meanVisited("eq0"),
      s"induced visits did not thin: ${Seq("lt5", "lt2", "eq0").map(meanVisited)}")
    // measured, both fixtures: on the near-orthogonal noise corpus
    // predicate-agnostic routing (postfilter) never loses recall to
    // the induced walk — the documented no-crossover refutation
    val hits = rows.groupBy(r => (r._1, r._2, r._3)).view
      .mapValues(_.map(_._8).sum).toMap
    for (p <- Seq("lt5", "lt2", "eq0"); b <- Seq(4L, 8L))
      assert(hits(("postfilter", p, b)) >= hits(("induced", p, b)),
        s"induced beat postfilter at ($p, $b): $hits")
    TestSpark.housekeeping()
  }

  test("q_stream_ann_delete: the incremental tombstone chain is safe, order-dependent for real, and equals the drained state") {
    import org.apache.spark.sql.functions._
    val (nodes, delIds, gPre) =
      graft.operators.Similarity.deleteGraphParts(spark, TestSpark.sf)
    val del = delIds.collect().map(_.getLong(0)).toSet
    val edgeSet = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d1 = delIds.filter(col("did") % 18 === 4)
    val d2 = delIds.filter(col("did") % 18 =!= 4)
    assert(d1.count() > 0 && d2.count() > 0, "fixture needs two real batches")
    val inc = edgeSet(graft.operators.Similarity.repairStep(nodes,
      graft.operators.Similarity.repairStep(nodes, gPre, d1), d2))
    // safety: no tombstoned endpoint survives the chain, and no edge
    // between two alive nodes is ever lost
    inc.foreach { case (s0, t) =>
      assert(!del(s0) && !del(t), s"tombstoned endpoint survived: ($s0,$t)")
    }
    val alivePre = edgeSet(gPre)
      .filter { case (s0, t) => !del(s0) && !del(t) }
    assert(alivePre.subsetOf(inc),
      s"alive pre-edges lost: ${alivePre.diff(inc).take(5)}")
    // order-dependence is REAL, not theoretical: an early-batch bridge
    // routed through a node deleted in a later batch is re-repaired,
    // creating 2-hop-of-2-hop edges the one-shot repair never builds
    // (measured: 112/104 chain-only edges at sf0.001/sf0.01)
    val one = edgeSet(graft.operators.Similarity.repairStep(nodes, gPre, delIds))
    assert(inc != one, "chain collapsed to the one-shot repair - fixture degenerate")
    assert((inc -- one).nonEmpty, "chain built no re-repair bridges")
    // and the drained query is exactly this chain (one definition,
    // two paths — the same kernel runs per micro-batch)
    val drained = graft.operators.StreamingGate
      .queries("q_stream_ann_delete")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drained == inc,
      s"drained state diverged from the chain: ${(drained diff inc).take(3)} / ${(inc diff drained).take(3)}")
    TestSpark.housekeeping()
  }

  test("q_stream_ann_search: drained top-k equals the one-shot batch walk (serving is stateless — VERDICT r14 item 2)") {
    import org.apache.spark.sql.functions._
    val (nodes, g, qs) =
      graft.operators.Similarity.serveIndexParts(spark, TestSpark.sf)
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // the batch-parity reference: ONE walk over all queries
    val batch = rows(
      graft.operators.Similarity.serveTopK(nodes, g, qs))
    assert(batch.nonEmpty, "batch walk returned nothing")
    // each query gets exactly 3 ranked results
    assert(batch.groupBy(_._1).forall(_._2.size == 3),
      "a query is missing top-3 rows")
    // the drain splits the same queries across two staged files and
    // walks the STORED index per micro-batch — per-query
    // independence makes the union identical, row for row
    val drained = rows(graft.operators.StreamingGate
      .queries("q_stream_ann_search")(spark, TestSpark.sf))
    assert(drained == batch,
      s"drained serve diverged from the batch walk: " +
        s"${(drained diff batch).take(3)} / ${(batch diff drained).take(3)}")
    TestSpark.housekeeping()
  }

  test("q_ann_rebuild_compare: edge algebra consistent, arms share truth, recall monotone in beam (r15)") {
    val rows = graft.operators.Similarity
      .queries("q_ann_rebuild_compare")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    // 2 arms x 2 beams
    assert(rows.length == 4, s"expected 4 rows, got ${rows.length}")
    assert(rows.map(_._1).toSet == Set("incremental", "rebuild"))
    // both arms rank against the SAME surviving planted truth
    rows.groupBy(_._2).foreach { case (beam, rs) =>
      assert(rs.map(_._3).distinct.length == 1,
        s"beam $beam: truth denominators differ across arms")
    }
    // edge algebra: counts positive, intersection bounded, jaccard
    // recomputes from the counts exactly
    rows.foreach { case (arm, _, _, _, _, nE, nC, jac) =>
      assert(nE > 0 && nC > 0 && nC <= nE, s"$arm: bad edge counts")
    }
    val nInc = rows.filter(_._1 == "incremental").head._6
    val nReb = rows.filter(_._1 == "rebuild").head._6
    val nCom = rows.head._7
    assert(nCom <= math.min(nInc, nReb))
    val jac = rows.head._8
    assert(math.abs(jac -
      BigDecimal(nCom.toDouble / (nInc + nReb - nCom))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    // the graphs genuinely differ (the audit is non-degenerate) but
    // overlap substantially (both are k-NN graphs of the same corpus)
    assert(jac > 0.2 && jac < 1.0, s"degenerate jaccard $jac")
    // cumulative-visited walk: recall non-decreasing in beam per arm
    Seq("incremental", "rebuild").foreach { arm =>
      val byBeam = rows.filter(_._1 == arm).sortBy(_._2).map(_._5)
      byBeam.toSeq.sliding(2).foreach { case Seq(a, b) =>
        assert(b >= a, s"$arm recall not monotone in beam: $byBeam")
      }
    }
    TestSpark.housekeeping()
  }

  test("q_stream_ann_serve_maintain: read-your-writes — post-phase serves no tombstones, pre-phase does, answers differ (r15)") {
    val rows = graft.operators.StreamingGate
      .queries("q_stream_ann_serve_maintain")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pre = rows.filter(_._1 == "pre").map(t => (t._2, t._3, t._4)).toSet
    val post = rows.filter(_._1 == "post").map(t => (t._2, t._3, t._4)).toSet
    // both phases serve the SAME query set, top-3 each
    assert(pre.map(_._1) == post.map(_._1), "phases query different sets")
    assert(pre.groupBy(_._1).forall(_._2.size == 3) &&
      post.groupBy(_._1).forall(_._2.size == 3), "missing top-3 rows")
    val isTomb = (nid: Long) => nid % 9 == 4 && nid >= 10
    // the maintenance batch is VISIBLE to later serving: the pre
    // phase still surfaces tombstoned ids, the post phase cannot
    assert(pre.exists(t => isTomb(t._3)),
      "pre phase served no tombstones - fixture degenerate")
    assert(!post.exists(t => isTomb(t._3)),
      s"post phase served a tombstone: ${post.filter(t => isTomb(t._3))}")
    assert(pre != post, "serve results did not change across maintenance")
    TestSpark.housekeeping()
  }

  test("init width 8: fine blocks seed high, coarse blocks recover by descent") {
    val dflt = recallRows().groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val fine = recallRows(8).groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // width 8 = full-signature blocks: the planted near-dups share the
    // query's tight bucket, so the md5 SEED already contains many of
    // them — measured 0.53 vs 0.07 macro at width 4 (sf0.01)
    assert(fine(0L) > dflt(0L),
      s"fine seed blocks did not raise round-0 recall: fine=$fine default=$dflt")
    // and the width must reach the oracle too: the generated DuckDB SQL
    // embeds it (lockstep by construction)
    val oracle = graft.operators.Similarity.annGraphRecallOracle(8)
    assert(oracle.contains(", 1, 8) AS blk"))
    assert(graft.operators.Similarity.oracles("q_ann_graph_recall") ==
      graft.operators.Similarity.annGraphRecallOracle(4))
    TestSpark.housekeeping()
  }
}
