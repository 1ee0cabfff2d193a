package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The coarse-quantizer delivery contract (graft.plans.CentroidScores):
  * K centroids ride as ONE reference object in ONE expression node, so
  * plan size / analysis cost / generated code are O(1) in K. This is the
  * r5→r6 fix for the sqrt-K rule: K = ceil(sqrt N) grows with the
  * corpus, so per-centroid LITERAL subtrees made the expression tree
  * grow with the data. Here we assert (a) the plan's expression-node
  * count is IDENTICAL for K=4 and K=256, and (b) the kernel's scores
  * are bit-identical to the old literal-array formulation (same round-9
  * HALF_UP cosine, same (v·v+c·c)−v·c·2 L2, same tie-break structs).
  */
class CentroidPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val DIM = 8

  private def corpus = {
    val rnd = new java.util.Random(11)
    val rows = (0L until 64L).map { id =>
      (id, Seq.fill(DIM)(rnd.nextDouble() * 2 - 1))
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .withColumn("nrm", graft.plans.VectorExpressions.norm(col("embedding")))
  }

  private def cents(k: Int): Array[(Long, Seq[Double], Double)] = {
    val rnd = new java.util.Random(7)
    Array.tabulate(k) { i =>
      val v = Seq.fill(DIM)(rnd.nextDouble() * 2 - 1)
      (i.toLong, v, math.sqrt(v.map(x => x * x).sum))
    }
  }

  private def planNodeCount(k: Int): Int = {
    val df = corpus
      .withColumn("arr", graft.plans.VectorExpressions.centroidCosines(
        col("embedding"), col("nrm"), cents(k)))
      .withColumn("centroid_id", array_max(col("arr")).getField("negcid") * -1)
      .select(col("vec_id"), col("centroid_id"))
    df.queryExecution.optimizedPlan
      .map(p => p.expressions.map(e => e.collect { case x => x }.size).sum)
      .sum
  }

  test("plan expression count does not grow with K (4 vs 256)") {
    val small = planNodeCount(4)
    val large = planNodeCount(256)
    assert(small === large,
      s"plan grew with K: $small nodes at K=4 vs $large at K=256")
  }

  test("kernel cosine scores match the literal-array formulation bit-wise") {
    import graft.plans.VectorExpressions.dot
    val cs = cents(5)
    // The pre-r6 construction: K unrolled literal subtrees.
    val literalArr = array(cs.map { case (cid, cv, cnrm) =>
      struct(
        round(dot(col("embedding"), typedlit(cv)) / (col("nrm") * lit(cnrm)), 9)
          .as("sim"),
        lit(-cid).as("negcid"))
    }: _*)
    val kernelArr = graft.plans.VectorExpressions.centroidCosines(
      col("embedding"), col("nrm"), cs)
    val diff = corpus
      .withColumn("a", literalArr).withColumn("b", kernelArr)
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff === 0L, s"$diff rows diverge between kernel and literal scores")
  }

  test("kernel L2 scores match the literal-array formulation bit-wise") {
    import graft.plans.VectorExpressions.dot
    val cs: Seq[(Int, Seq[Double])] = cents(5).map { case (cid, cv, _) => (cid.toInt, cv) }.toSeq
    def d2(c: Seq[Double]) =
      dot(col("embedding"), col("embedding")) + dot(typedlit(c), typedlit(c)) -
        dot(col("embedding"), typedlit(c)) * 2
    val literalArr = array(cs.map { case (k, c) =>
      struct(d2(c).as("d2"), lit(k).as("k"))
    }: _*)
    val kernelArr = graft.plans.VectorExpressions.centroidL2(col("embedding"), cs)
    val diff = corpus
      .withColumn("a", literalArr).withColumn("b", kernelArr)
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff === 0L, s"$diff rows diverge between kernel and literal L2 scores")
  }

  private def twoLevelPlanNodeCount(k2: Int): Int = {
    val k1 = math.ceil(math.sqrt(k2.toDouble)).toInt
    val model = graft.plans.VectorExpressions.twoLevelModel(cents(k1), cents(k2))
    val df = corpus
      .withColumn("arr", graft.plans.VectorExpressions.twoLevelCentroidCosines(
        col("embedding"), col("nrm"), model))
      .withColumn("centroid_id", array_max(col("arr")).getField("negcid") * -1)
      .select(col("vec_id"), col("centroid_id"))
    df.queryExecution.optimizedPlan
      .map(p => p.expressions.map(e => e.collect { case x => x }.size).sum)
      .sum
  }

  test("two-level model: plan size is O(1) in both centroid counts (K2=16 vs K2=256)") {
    assert(twoLevelPlanNodeCount(16) === twoLevelPlanNodeCount(256))
  }

  test("two-level model: per-row work is o(K2) — the N^(1/4) routing cost bound") {
    // the whole point of the second level: assignment scores K1 heads
    // plus ONE group's lists, never all K2 lists
    for (k2 <- Seq(64, 256)) {
      val k1 = math.ceil(math.sqrt(k2.toDouble)).toInt
      val model = graft.plans.VectorExpressions.twoLevelModel(cents(k1), cents(k2))
      val worst = model.maxComparisonsPerRow
      assert(worst < k2,
        s"K2=$k2: two-level worst case $worst must beat the flat $k2")
      // sampled (unclustered) centroids can skew groups, but the bound
      // must stay well under flat cost — half is a loose, stable line
      assert(worst <= k2 / 2,
        s"K2=$k2: routing degenerated — worst $worst > ${k2 / 2}")
    }
  }

  test("two-level assignment agrees with a flat argmax restricted to the routed group") {
    // independent recompute of the two-stage rule over the corpus:
    // stage-1 argmax over K1 (round-9, lowest cid), then flat argmax
    // over that group's lists — must equal the kernel's array_max
    val k2 = 32
    val k1 = math.ceil(math.sqrt(k2.toDouble)).toInt
    val c1 = cents(k1); val c2 = cents(k2)
    val model = graft.plans.VectorExpressions.twoLevelModel(c1, c2)
    def r9(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    def cos(a: Seq[Double], b: Seq[Double], na: Double, nb: Double) =
      r9(a.zip(b).map { case (x, y) => x * y }.sum / (na * nb))
    val route = c2.map { case (_, v, n) =>
      c1.maxBy { case (cid, cv, cn) => (cos(v, cv, n, cn), -cid) }._1
    }
    val rows = corpus.withColumn("arr",
        graft.plans.VectorExpressions.twoLevelCentroidCosines(
          col("embedding"), col("nrm"), model))
      .withColumn("centroid_id", array_max(col("arr")).getField("negcid") * -1)
      .select(col("embedding"), col("nrm"), col("centroid_id"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0); val n = r.getDouble(1)
      val g = c1.maxBy { case (cid, cv, cn) => (cos(v, cv, n, cn), -cid) }._1
      val expect = c2.zip(route).filter(_._2 == g).map(_._1)
        .maxBy { case (cid, cv, cn) => (cos(v, cv, n, cn), -cid) }._1
      assert(r.getLong(2) == expect)
    }
  }

  test("q_ann_incremental: batch-sized admission — broadcast batch probes, no cartesian, index-only model") {
    // the operational contract of incremental admission: per arriving
    // batch the work is the batch's own two-level assignment plus a
    // probe-list equi-join where the BATCH is the broadcast (small)
    // side — never a corpus self-join, never a re-clustered model
    val df = graft.operators.Similarity
      .queries("q_ann_incremental")(spark, TestSpark.sf)
    // collect() first: executedPlan.toString then prints the AQE FINAL
    // plan (the PlanShapeSpec convention)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "probe join lost its broadcast (batch side must broadcast): " +
        plan.take(3000))
    // every list id must come from the stored (index-side) model — a
    // batch vec_id (% 7 = 3) appearing as a centroid means the model
    // was rebuilt over data that arrived after it was trained
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) % 7 != 3, s"batch vector as insert list: $r")
      assert(r.getLong(4) % 7 != 3, s"batch vector as neighbor list: $r")
      assert(r.getLong(0) % 7 == 3, s"non-batch row admitted: $r")
      assert(r.getLong(3) % 7 != 3, s"batch vector as index neighbor: $r")
    }
  }

  test("q_ann_ivfpq: composed-scan cost bound — no cartesian, broadcast probe join, neighbors only from probed lists, ADC recomputed") {
    import graft.Tables
    val df = graft.operators.Similarity
      .queries("q_ann_ivfpq")(spark, TestSpark.sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "probe join lost its broadcast (query side must broadcast): " +
        plan.take(3000))
    assert(rows.nonEmpty)
    // independent plain-Scala recompute of the whole composed
    // contract: two-level routing, top-2 in-group probes, PQ codes at
    // IVFPQ_K = 16, and the per-row ADC sum — so a bug in the kernel
    // and a bug in the oracle's restatement can't cancel
    val e = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    def r9(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    def nrm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    def dotp(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Seq[Double], b: Seq[Double]) =
      r9(dotp(a, b) / (nrm(a) * nrm(b))).doubleValue()
    val k2 = math.ceil(math.sqrt(e.size.toDouble)).toInt
    val k1 = math.ceil(math.sqrt(k2.toDouble)).toInt
    val c2 = (10L until 10L + k2).map(id => id -> e(id))
    val c1 = (10L until 10L + k1).map(id => id -> e(id))
    def head(v: Seq[Double]) =
      c1.maxBy { case (cid, cv) => (cos(v, cv), -cid) }._1
    val route = c2.map { case (cid, cv) => cid -> head(cv) }.toMap
    def groupLists(v: Seq[Double]) = {
      val g = head(v); c2.filter { case (cid, _) => route(cid) == g }
    }
    def assign(v: Seq[Double]) =
      groupLists(v).maxBy { case (cid, cv) => (cos(v, cv), -cid) }._1
    def probes(v: Seq[Double]) = groupLists(v)
      .sortBy { case (cid, cv) => (-cos(v, cv), cid) }.take(2).map(_._1)
    // PQ codebook at the composed scan's 16 codewords
    val M = 4; val K = 16; val SUB = 16
    val cb = Array.tabulate(M, K)((m, k) =>
      e(10L + k).slice(m * SUB, (m + 1) * SUB))
    def d2(v: Seq[Double], m: Int, k: Int) = {
      val s = v.slice(m * SUB, (m + 1) * SUB); val cw = cb(m)(k)
      (dotp(s, s) + dotp(cw, cw)) - dotp(s, cw) * 2.0d
    }
    def codes(v: Seq[Double]) = (0 until M).map(m =>
      (0 until K).minBy(k => (d2(v, m, k), k)))
    def adc(q: Seq[Double], v: Seq[Double]) =
      codes(v).zipWithIndex.map { case (c, m) => r9(d2(q, m, c)) }
        .reduce(_ add _).doubleValue()
    rows.foreach { r =>
      val (qid, nid, cid, approx) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(cid == assign(e(nid)), s"wrong list for neighbor $nid")
      assert(probes(e(qid)).contains(cid),
        s"neighbor $nid from unprobed list $cid for query $qid")
      assert(approx == adc(e(qid), e(nid)),
        s"ADC mismatch for ($qid, $nid)")
    }
  }

  test("q_pq_distortion equals a plain-Scala recompute of the PQ assignment surface") {
    import graft.Tables
    // independent recompute with the house constants (M=4, K=4,
    // SUB=16): codeword (m,k) = slice of embedding vec_id 10+k,
    // assignment by (d² asc, k asc), d² in the kernel's association
    val M = 4; val K = 4; val SUB = 16
    def r9(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val rows = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val cbRows = rows.filter { case (id, _) => id >= 10 && id < 10 + K }
      .map(_._2)
    def d2(v: Array[Double], m: Int, k: Int): Double = {
      val a = v.slice(m * SUB, (m + 1) * SUB)
      val c = cbRows(k).slice(m * SUB, (m + 1) * SUB)
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      (dot(a, a) + dot(c, c)) - dot(a, c) * 2.0
    }
    val agg = scala.collection.mutable.Map[(Long, Long),
      (Long, java.math.BigDecimal)]()
    for ((_, v) <- rows; m <- 0 until M) {
      val best = (0 until K).minBy(k => (d2(v, m, k), k))
      val key = (m.toLong, best.toLong)
      val (n, s) = agg.getOrElse(key, (0L, java.math.BigDecimal.ZERO))
      agg(key) = (n + 1, s.add(r9(d2(v, m, best))))
    }
    val tot = rows.length.toLong
    val expected = (for (m <- 0L until M.toLong; c <- 0L until K.toLong)
      yield {
        val (n, s) = agg.getOrElse((m, c), (0L, java.math.BigDecimal.ZERO))
        val mean = if (n == 0) null
          else java.lang.Double.valueOf(
            r9(s.doubleValue() / n).doubleValue())
        (m, c, n, mean,
          java.lang.Double.valueOf(r9(n.toDouble / tot).doubleValue()))
      }).toSeq
    val actual = graft.operators.Similarity
      .queries("q_pq_distortion")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)),
        java.lang.Double.valueOf(r.getDouble(4)))).toSeq
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (a, b) => a != b }}")
    // non-degenerate: assignments actually spread over codes
    assert(agg.keys.map(_._2).toSet.size > 1,
      "all rows landed on one codeword — vacuous distortion surface")
  }

  test("q_ann_pq equals a plain-Scala recompute of the ADC top-3 scan") {
    import graft.Tables
    // the same house constants and codebook as q_pq_distortion, outside
    // IVF: every vector's codes, each query's round-9 DECIMAL cell sums
    // over them, and the per-query top-3 by (approx, nid)
    val M = 4; val K = 4; val SUB = 16
    def r9(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val rows = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val cbRows = rows.filter { case (id, _) => id >= 10 && id < 10 + K }
      .map(_._2)
    def d2(v: Array[Double], m: Int, k: Int): Double = {
      val a = v.slice(m * SUB, (m + 1) * SUB)
      val c = cbRows(k).slice(m * SUB, (m + 1) * SUB)
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      (dot(a, a) + dot(c, c)) - dot(a, c) * 2.0
    }
    val codes = rows.map { case (id, v) =>
      id -> (0 until M).map(m => (0 until K).minBy(k => (d2(v, m, k), k)))
    }.toMap
    val expected = rows.filter(_._1 < 10).toSeq.flatMap { case (qid, q) =>
      rows.filter(_._1 != qid).map { case (nid, _) =>
        nid -> (0 until M).map(m => r9(d2(q, m, codes(nid)(m))))
          .reduce(_ add _)
      }.sortBy { case (nid, approx) => (approx, nid) }.take(3)
        .zipWithIndex.map { case ((nid, approx), i) =>
          (qid, i + 1L, nid, approx.doubleValue())
        }
    }
    val actual = graft.operators.Similarity
      .queries("q_ann_pq")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (a, b) => a != b }}")
    // non-vacuous: ten queries, and the ADC sums actually separate rows
    assert(actual.map(_._1).distinct.size == 10)
    assert(actual.map(_._4).distinct.size > 1, "every ADC sum is equal")
  }

  test("q_dim_audit equals a plain-Scala fixed-point moment recompute; plant detected") {
    import graft.Tables
    val rows = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val dims = rows.head.length
    val expected = (1 to dims).map { d =>
      val xs = rows.map(v => if (d == 7) 0.5 else v(d - 1))
      val sv = xs.map(x => BigInt(math.round(x * 1e6)))
      val n = xs.length.toLong
      val s1 = sv.sum; val s2 = sv.map(s => s * s).sum
      // HALF_UP (away from zero), matching both engines — math.round
      // rounds negative halves toward +inf and would disagree
      def rnd0(v: Double) = java.math.BigDecimal.valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      val meanE6 = rnd0(s1.toDouble / n)
      val varE12 = rnd0(
        (BigInt(n) * s2 - s1 * s1).toDouble / (n.toDouble * n.toDouble))
      (d.toLong, n, meanE6, varE12, varE12 < 100000000L)
    }
    val actual = graft.operators.Similarity
      .queries("q_dim_audit")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (a, b) => a != b }}")
    // the planted dead dim is flagged, and ONLY it (live dims vary)
    assert(actual.filter(_._5).map(_._1) == Seq(7L),
      s"dead dims: ${actual.filter(_._5).map(_._1)}")
  }

  test("whole-stage codegen survives the kernel (no fallback projection)") {
    // Over parquet, not a local Seq — ConvertToLocalRelation folds a
    // LocalRelation projection at plan time and leaves no codegen span.
    val dim64cents = {
      val rnd = new java.util.Random(7)
      Array.tabulate(16) { i =>
        val v = Seq.fill(64)(rnd.nextDouble() * 2 - 1)
        (i.toLong, v, math.sqrt(v.map(x => x * x).sum))
      }
    }
    val df = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("nrm", graft.plans.VectorExpressions.norm(col("embedding")))
      .withColumn("arr", graft.plans.VectorExpressions.centroidCosines(
        col("embedding"), col("nrm"), dim64cents))
      .withColumn("centroid_id", array_max(col("arr")).getField("negcid") * -1)
      .select(col("vec_id"), col("centroid_id"))
    val codegenSpans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenSpans.nonEmpty,
      s"no codegen span in:\n${df.queryExecution.executedPlan}")
    // The scoring projection itself must sit INSIDE a codegen span (a
    // fallback expression would hang as a separate interpreted Project).
    val scoringInside = codegenSpans.exists(
      _.toString.contains("graft_centroid_scores"))
    assert(scoringInside,
      s"scoring projection fell out of codegen:\n${df.queryExecution.executedPlan}")
  }
}
