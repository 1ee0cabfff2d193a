package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Iterate.CutOps

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *   - brute-force cosine top-k: the correctness baseline. Query side is
  *     tiny → broadcast; the big side streams through one codegen'd
  *     projection (no shuffle until the per-query top-k).
  *   - hyperplane-LSH bucketed top-k: the scale path. 8 fixed random
  *     hyperplanes → 256 buckets; candidate set = same-bucket rows, so
  *     the cross product never materializes. At 100 TB the bucket id is
  *     the shuffle/bucketing key and each query touches ~1/256 of data.
  *   - embedding near-dup: all-pairs cosine ≥ threshold over a corpus
  *     with derived perturbed copies (near-duplicate detection by
  *     embedding, the "semantic dedup" op of training-data pipelines).
  *
  * All math is done in DOUBLE with a fixed evaluation order and results
  * rounded to 9 decimals, so Spark and the DuckDB oracle agree bit-wise.
  */
object Similarity extends graft.QueryPack {

  private val DIM = 64

  /** LSH bucket width in bits for every hyperplane-bucketed query
    * (q_ann_lsh, q_neardup_embedding): with p planes, expected bucket
    * size is N/2^p, so a deployment adds ONE MORE plane per corpus
    * doubling to keep within-bucket candidate work constant — without
    * it, fixed-width buckets grow ∝N and the bucket self-join
    * quadratically, the same failure class the sqrt-K rule fixes for
    * the coarse quantizers. Unlike K (derivable from a 1-row count on
    * both engine sides), the plane MATRIX is inlined as literals into
    * the static oracle SQL, so the width is a constant (8 ≈ log2 of
    * the testdata corpus + headroom): the Spark plan and the generated
    * DuckDB oracle rebuild from it. [[planesFor]] draws planes as a
    * prefix-stable sequence (same seed, sequential draws), so a wider
    * width strictly REFINES narrower buckets — NearDupSpec asserts the
    * refinement and the bucket-shrink factor at 12 planes. */
  val N_PLANES: Int = 8

  /** First n ±1 hyperplanes of the java.util.Random(42) draw sequence —
    * the LCG sequence is specified by the JDK, so these are stable
    * constants; plane i is identical under every n >= i+1 (prefix
    * stability: growing the width only APPENDS planes). */
  def planesFor(n: Int): Seq[Seq[Int]] = {
    val rnd = new java.util.Random(42)
    Seq.fill(n)(Seq.fill(DIM)(if (rnd.nextBoolean()) 1 else -1))
  }

  /** The configured hyperplane matrix, inlined as a literal into both
    * the Spark and oracle SQL. */
  val planes: Seq[Seq[Int]] = planesFor(N_PLANES)

  private val planesDuck: String =
    planes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** 16×64 ±1 JL projection matrix, java.util.Random(7) — a stable
    * constant like [[planes]], inlined into both engines. */
  val rpPlanes: Seq[Seq[Int]] = {
    val rnd = new java.util.Random(7)
    Seq.fill(16)(Seq.fill(DIM)(if (rnd.nextBoolean()) 1 else -1))
  }
  private val rpPlanesDuck: String =
    rpPlanes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Spark side uses the native codegen'd DotProduct expression
    * (graft.plans.VectorExpressions) — a tight fused loop instead of
    * interpreted higher-order functions; the DuckDB oracle mirrors the
    * identical left-to-right double accumulation. */
  private def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dot(a, b)
  private def norm(a: Column): Column = graft.plans.VectorExpressions.norm(a)

  private val normDuck =
    s"sqrt(list_sum(list_transform(range(1,${DIM + 1}), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
  private def dotDuck(a: String, b: String) =
    s"list_sum(list_transform(range(1,${DIM + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** 8-bit hyperplane bucket: sign of dot with each fixed plane. Planes
    * are Literal arrays (no per-row construction). */
  private def bucketCol(emb: Column): Column =
    concat(planes.map(p =>
      when(dot(emb, typedlit(p.map(_.toDouble))) >= 0, "1").otherwise("0")): _*)
  private val bucketDuck =
    s"""array_to_string(list_transform(range(1,${N_PLANES + 1}), j ->
       |  CASE WHEN list_sum(list_transform(range(1,${DIM + 1}), i ->
       |    ($planesDuck)[j][i] * CAST(embedding[i] AS DOUBLE))) >= 0
       |  THEN '1' ELSE '0' END), '')""".stripMargin

  /** (dim, sv) fixed-point coordinate cells with the dim-7 constant
    * plant — the shared kernel of the batch q_dim_audit and the
    * q_stream_dim_audit fold (one definition, two paths). sv =
    * round(x·1e6) BIGINT widened to DECIMAL(38,0) so the downstream
    * moment algebra never wraps. */
  private[operators] def dimCells(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val planted = expr(
      """transform(cast(embedding as array<double>),
        |  (x, i) -> CASE WHEN i = 6 THEN cast(0.5 as double)
        |                 ELSE x END)""".stripMargin)
    e.select(posexplode(planted).as(Seq("p", "x")))
      .select((col("p") + 1).cast("long").as("dim"),
        expr("cast(round(x * cast(1000000 as double)) as bigint)")
          .cast(DecimalType(38, 0)).as("sv"))
  }

  /** One-pass per-dim moments (n, Σs, Σs²) off the cells — a sum
    * monoid on the 64-row dim grid, so the STREAMING fold merges the
    * same shapes by addition. */
  private[operators] def dimMoments(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    cells.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("sv")).cast(DecimalType(38, 0)).as("s1"),
        sum(col("sv") * col("sv")).cast(DecimalType(38, 0)).as("s2"))
  }

  /** The audit report off (dim, n, s1, s2) moments — shared tail of
    * both audit paths. Mean and variance are reported in FIXED-POINT
    * integer units (mean_e6 = micro-units, var_e12 = micro² units):
    * scale-0 rounding is the only cross-engine-safe rounding of a
    * RATIONAL value — s1/n at sf0.1 has denominator 20000 = 2⁵·5⁴, a
    * terminating decimal that can land exactly on a 9th-digit half
    * boundary where Spark's exact-BigDecimal HALF_UP and DuckDB's
    * float-multiply round(x, 9) disagree by 1e-9 (observed at sf0.1);
    * at scale 0 both engines agree on every double. The dead flag is
    * then a pure integer compare (1e-4 · 1e12 = 1e8). */
  private[operators] def dimReport(moments: DataFrame): DataFrame =
    moments
      .select(col("dim"), col("n"),
        expr("cast(round(cast(s1 as double) / n) as bigint)").as("mean_e6"),
        expr("""cast(round(cast(n * s2 - s1 * s1 as double) /
                (cast(n as double) * cast(n as double))) as bigint)""")
          .as("var_e12"))
      .withColumn("is_dead", col("var_e12") < 100000000L)
      .orderBy(col("dim"))

  /** embeddings with vectors widened to array<double> + precomputed norm. */
  // NOT spread (r15, measured): a spread was tried here and REVERTED —
  // the 2k-row corpus prep is cheap (one norm per row), and the extra
  // exchange ahead of every walk/descent query cost the ANN family
  // +7.5 s in the full leg (101.4 → 108.9 s) with no stage it could
  // parallelize. The spread belongs where per-row work is measured
  // heavy (dedup shingles, image decode, tokenizer folds), not here.
  private[operators] def loadEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("nrm", norm(col("embedding")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Hard-negative mining for contrastive training (the retrieval-
    // training data step: DPR/Contriever-style pairs need negatives
    // that are SIMILAR but wrong): for each anchor vector, the top-3
    // most-cosine-similar candidates whose class label DIFFERS — the
    // highest-loss negatives a trainer can feed. Same broadcast-probe
    // shape as q_ann_bruteforce (anchors are the broadcast side;
    // candidates stream through once at any corpus size); the label
    // inequality is a pushed filter on the joined row, so the per-
    // anchor top-k window never sees same-class rows. At 100 TB the
    // anchor set is the small side by construction (you mine
    // negatives for a training batch, not the corpus) and the scan
    // parallelizes over candidate partitions.
    "q_hard_negatives" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"),
          col("label"))
        .withColumn("nrm", norm(col("embedding")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("label").as("qlabel"))
      val cand = e.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("nrm").as("nnrm"), col("label").as("nlabel"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      cand.join(broadcast(q), col("qlabel") =!= col("nlabel"))
        .withColumn("sim",
          round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
          col("rk"), col("nid"), col("nlabel").cast("long").as("nlabel"),
          col("sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // k-NN majority-label classification (Fix & Hodges 1951 / Cover &
    // Hart 1967) — the label-transfer primitive a curation pipeline
    // uses to propagate scarce human labels onto an unlabeled corpus
    // (weak supervision / pseudo-labeling): eval half (vec_id odd)
    // classified by its 5 nearest train-half (vec_id even) neighbors
    // by round-9 cosine, majority vote with ties to the SMALLEST
    // label, reported as the confusion matrix against the held-out
    // true labels. Same broadcast-probe shape as q_ann_bruteforce —
    // the eval batch is the broadcast side, the train corpus streams
    // through once — and at 100 TB the brute-force candidate stage
    // swaps for the q_ann_ivf coarse-quantizer kernel verbatim (the
    // vote and confusion stages are candidate-source-agnostic). Vote
    // argmax is max(struct(cnt, -label)): exact integers, no
    // order-dependent float anywhere past the rounded sim.
    "q_knn_classify" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"),
          col("label").cast("long").as("label"))
        .withColumn("nrm", norm(col("embedding")))
      val q = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("label").as("qlabel"))
      // spread (r15): the broadcast cross join computes |t|·|q| 64-dim
      // dots (~1M sims) on the streamed side, which otherwise rides
      // the 1-split embeddings scan (measured 2.6 s 1-task stage)
      val t = graft.Tables.spread(e.filter(col("vec_id") % 2 === 0), col("vec_id"))
        .select(col("vec_id").as("nid"), col("embedding").as("nv"),
          col("nrm").as("nnrm"), col("label").as("nlabel"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      t.join(broadcast(q))
        .withColumn("sim",
          round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .groupBy(col("qid"), col("qlabel"), col("nlabel"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("qid"), col("qlabel"))
        .agg(max(struct(col("cnt"), (-col("nlabel")).as("nl"))).as("m"))
        .select(col("qlabel").as("true_label"),
          (-col("m.nl")).as("pred_label"))
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_label"), col("pred_label"))
    }),

    // Brute-force cosine top-5 for 10 query vectors (baseline).
    "q_ann_bruteforce" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = loadEmbeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
      val cand = e.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nnrm"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      cand.join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("sim", round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"), col("sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // ANN index-quality evaluation — the recall@3-vs-index-width curve
    // of the hyperplane-LSH index against exact brute force: the
    // tuning sweep an embedding pipeline runs before trusting an
    // approximate index for semantic dedup (a recall cliff after an
    // embedding-model change is how ANN deployments silently rot).
    // The synthetic corpus is near-orthogonal — no query has a real
    // neighbor, and an evaluator scored on it reads recall 0 at every
    // width (r7 finding). So the eval PLANTS recoverable structure
    // in-query: each query vector gets three near-duplicates (one
    // coordinate bumped by 0.1·‖v‖ → cosine ≈ 0.995, far above the
    // ~0.3 noise floor) appended to the candidate corpus under
    // reserved ids. The exact top-3 is then the planted set by
    // construction, and recall@width measures how many survive the
    // bucket prefix — a non-degenerate, width-monotone curve. The
    // perturbation is a pure function of the stored vectors, restated
    // verbatim in the oracle. Prefix-stable planes make the sweep one
    // query: bucket equality at width w IS equality of the
    // signature's first w characters, so the w∈{2,4,8} candidate sets
    // are nested (hits provably non-increasing in w — the spec's
    // monotonicity gate) and all widths share ONE similarity frame
    // from one broadcast join. The exact side's all-pairs scan over a
    // FIXED query sample is the offline-evaluation shape, not a scale
    // bug: candidates stream through the broadcast join once at any
    // corpus size.
    "q_ann_recall" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = plantedCorpus(s, d)
        .withColumn("bucket", bucketCol(col("embedding")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("bucket").as("qbucket"))
      val cand = e.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("nrm").as("nnrm"), col("bucket").as("nbucket"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      val sims = cand.join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("sim",
          round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
      val exact = sims.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).select(col("qid"), col("nid"))
      val wa = Window.partitionBy(col("width"), col("aqid"))
        .orderBy(col("sim").desc, col("anid"))
      val approx = sims
        .select(col("qid").as("aqid"), col("nid").as("anid"), col("sim"),
          col("qbucket"), col("nbucket"),
          explode(typedlit(Seq(2, 4, 8))).as("width"))
        .filter(substring(col("qbucket"), 1, 8).substr(lit(1), col("width"))
          === substring(col("nbucket"), 1, 8).substr(lit(1), col("width")))
        .withColumn("rk", row_number().over(wa))
        .filter(col("rk") <= 3)
        .select(col("width").as("awidth"), col("aqid"), col("anid"))
      recallAt3(exact.select(col("qid"), col("nid"),
            explode(typedlit(Seq(2, 4, 8))).as("width")),
          approx, Seq("width" -> "awidth"))
        .select(col("width").cast("long").as("width"), col("qid"),
          col("n_exact"), col("n_hits"), col("recall"), col("macro_recall"))
        .orderBy(col("width"), col("qid"))
    }),

    // Hyperplane-LSH bucketed top-3 (scale path: join on bucket key).
    "q_ann_lsh" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = loadEmbeddings(s, d).withColumn("bucket", bucketCol(col("embedding")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("bucket"))
      val cand = e.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("nrm").as("nnrm"), col("bucket"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      cand.join(broadcast(q), Seq("bucket"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("sim", round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("bucket"), col("rk"), col("nid"), col("sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // IVF top-3 with nprobe=2: the third ANN strategy next to brute
    // force and LSH. Coarse-quantize with K = ceil(sqrt(N))
    // DETERMINISTIC sampled centroids (the embeddings of vec_id
    // 10..10+K-1 — IVF with sampled centroids instead of Lloyd
    // iterations, which keeps the DuckDB oracle exact; the oracle
    // restates the same ceil(sqrt(COUNT(*))) list count). The
    // scale-critical part is HOW rows are assigned to inverted lists:
    // centroids are collected driver-side (K rows) and shipped as ONE
    // reference object inside a single codegen'd expression (plan size
    // K-independent — see centroidSimsArr), so assignment is a pure
    // map-side projection — array_max over K fused dot products,
    // NO shuffle and NO join. At 100 TB the list id computed here is
    // the bucketing/partition key; a query probes the nprobe nearest
    // lists and scans ~nprobe/sqrt(N) of the data, a fraction that
    // SHRINKS as the corpus grows because nlist tracks sqrt(N).
    "q_ann_ivf" -> ((s, d) => {
      val e = loadEmbeddings(s, d)
      val cents = sampledCentroids(s, d, sqrtK(Tables(s, d, "embeddings").count()))
      val assigned = e.withColumn("arr", centroidSimsArr(cents))
        .withColumn("centroid_id", array_max(col("arr")).getField("negcid") * -1)
      ivfProbeTop3(assigned).orderBy(col("qid"), col("rk"))
    }),

    // Two-level IVF (IVF-within-IVF) — the scale refinement of
    // q_ann_ivf's flat quantizer: K1 = ceil(sqrt(K2)) ~ N^(1/4)
    // first-stage centroids route to the same K2 = ceil(sqrt(N))
    // inverted lists, so per-row assignment costs O((N^(1/4) +
    // maxGroup)·D) dot products instead of the flat O(sqrt(N)·D) —
    // the r8 verdict's named watch item. Routing is a one-time
    // K2 × K1 pass inside the model object; rows score the K1 heads
    // then ONLY their group's lists (a TwoLevelCentroidModel in one
    // CentroidScores codegen node, plan size independent of both
    // K's). Same sampled centroids, same round-9/lowest-cid argmax
    // discipline at every stage, so the whole two-stage assignment
    // restates in plain SQL and the oracle stays exact. Queries probe
    // the top-2 lists WITHIN their routed group (the two-level probe
    // path); the tail is [[ivfProbeTop3]], shared with q_ann_ivf.
    "q_ann_ivf2" -> ((s, d) => {
      val e = loadEmbeddings(s, d)
      val k2 = sqrtK(Tables(s, d, "embeddings").count())
      val model = graft.plans.VectorExpressions.twoLevelModel(
        sampledCentroids(s, d, sqrtK(k2.toLong)),
        sampledCentroids(s, d, k2))
      val assigned = e.withColumn("arr",
        graft.plans.VectorExpressions.twoLevelCentroidCosines(
          col("embedding"), col("nrm"), model))
        .withColumn("centroid_id",
          array_max(col("arr")).getField("negcid") * -1)
      ivfProbeTop3(assigned).orderBy(col("qid"), col("rk"))
    }),

    // Incremental ANN admission — the vector twin of
    // q_dedup_incremental and the operational 100 TB embedding-index
    // mode: an ARRIVING BATCH (vec_id % 7 = 3, the same stable crawl
    // stand-in) is queried/inserted against the STORED two-level IVF
    // index of the already-indexed corpus WITHOUT re-clustering.
    // The model (K1 = ceil(sqrt(K2)) heads routing K2 =
    // ceil(sqrt(|index|)) lists) is sampled from the INDEX corpus
    // only — a model built before the batch arrived cannot contain
    // batch vectors — and ships as the same TwoLevelCentroidModel
    // reference object as q_ann_ivf2, so per-batch-row assignment is
    // O((K1 + maxGroup)·D) fused dot products inside ONE codegen
    // node. Per new vector: route to its head group, probe the top-2
    // lists within the group (the q_ann_ivf2 probe path), rank the
    // index members of those lists by round-9 cosine, report top-3
    // neighbors plus insert_cid — the list the vector is admitted
    // into. At 100 TB the index side's assignments are a STORED
    // column maintained by prior runs (recomputed here only because
    // the sandbox has no persisted index, exactly q_dedup_incremental's
    // documented posture); the per-batch work is batch assignment +
    // a probe-list equi-join bounded by shared lists — corpus-sized
    // scans never re-run, and the batch (the small side by
    // construction) is the broadcast side of the probe join.
    "q_ann_incremental" -> ((s, d) =>
      annIndexModel(s, d) match {
        case None => annAdmitEmpty(s)
        case Some((model, cand)) =>
          annAdmitWith(model, cand,
            loadEmbeddings(s, d).filter(col("vec_id") % 7 === 3))
            .orderBy(col("qid"), col("rk"))
      }),

    // Greedy k-center seed selection (Gonzalez 1985, the classic
    // 2-approximation) — DIVERSITY sampling over the embedding corpus:
    // each round picks the vector FARTHEST from every center chosen so
    // far (lowest max-cosine, ties to the lowest vec_id), the coreset/
    // probe-set construction step of embedding-based curation (the
    // diversity dual of q_semdedup's redundancy removal). Per round:
    // ONE corpus pass through the centroid kernel (the chosen set
    // rides as one codegen reference object — q_ann_ivf's delivery)
    // ending in a TakeOrdered(1) — a single row to the driver, the
    // k-means fixpoint-probe budget. K−1 rounds = K−1 narrow passes,
    // no shuffle beyond the 1-row pick; the final coverage_minsim (the
    // k-center objective: the worst-covered row's similarity) is one
    // more pass + a 1-row agg. Deterministic end to end: round-9
    // cosines, total-order ties — the oracle unrolls the same 7 rounds
    // as chained argmin CTEs (the BPE unroll precedent).
    "q_kcenter_seeds" -> ((s, d) => {
      val K = 8
      val e = loadEmbeddings(s, d).persist()
      val seed = e.filter(col("vec_id") === 0)
        .select(col("vec_id"), col("embedding"), col("nrm")).collect()(0)
      var centers = Array(
        (seed.getLong(0), seed.getSeq[Double](1).toSeq, seed.getDouble(2)))
      val picks = scala.collection.mutable.ArrayBuffer[
        (Long, Long, java.lang.Double)]((1L, 0L, null))
      for (r <- 2 to K) {
        val chosen = centers.map(_._1).toSeq
        val nxt = e
          .withColumn("ms",
            array_max(centroidSimsArr(centers)).getField("sim"))
          .filter(!col("vec_id").isInCollection(chosen))
          .orderBy(col("ms").asc, col("vec_id"))
          .limit(1)
          .select(col("vec_id"), col("embedding"), col("nrm"), col("ms"))
          .collect()(0)
        centers = centers :+
          ((nxt.getLong(0), nxt.getSeq[Double](1).toSeq, nxt.getDouble(2)))
        picks += ((r.toLong, nxt.getLong(0), nxt.getDouble(3)))
      }
      val coverage = e
        .withColumn("ms", array_max(centroidSimsArr(centers)).getField("sim"))
        .agg(min(col("ms"))).collect()(0).getDouble(0)
      import s.implicits._
      picks.toSeq.toDF("round", "vec_id", "max_sim")
        .withColumn("coverage_minsim", lit(coverage))
        .orderBy(col("round"))
    }),

    // IVF nprobe tuning curve — the third member of the tuning-sweep
    // family (LSH bands, dedup τ, now IVF probes): recall@3 against
    // exact brute force at nprobe ∈ {1, 2, 4}, over the SAME planted
    // corpus as q_ann_recall. Probe sets are nested by construction
    // (the top-1 list is inside the top-2 inside the top-4), so recall
    // is provably non-decreasing in nprobe — and each probe level
    // scans ~nprobe/√N of the corpus, which is the cost-recall
    // tradeoff this sweep exists to price. One assignment pass + ONE
    // similarity frame serve every probe level.
    "q_ivf_tuning" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cents = sampledCentroids(s, d,
        sqrtK(Tables(s, d, "embeddings").count()))
      val assigned = plantedCorpus(s, d)
        .withColumn("arr", centroidSimsArr(cents))
        .persist()
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("arr").as("qarr"))
      val cand = assigned.select(col("vec_id").as("nid"),
        col("embedding").as("nv"), col("nrm").as("nnrm"),
        (array_max(col("arr")).getField("negcid") * -1).as("ncid"))
      val sims = cand.join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("sim",
          round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
        .persist()
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      val exact = sims.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).select(col("qid"), col("nid"))
      val probes = q.select(col("qid").as("pqid"),
          posexplode(slice(reverse(array_sort(col("qarr"))), 1, 4)))
        .select(col("pqid"), (col("pos") + 1).as("prank"),
          (col("col.negcid") * -1).as("probe_cid"))
      val wa = Window.partitionBy(col("nprobe"), col("aqid"))
        .orderBy(col("sim").desc, col("anid"))
      val approx = sims
        .select(col("qid").as("aqid"), col("nid").as("anid"),
          col("sim"), col("ncid"))
        .join(probes,
          col("aqid") === col("pqid") && col("ncid") === col("probe_cid"))
        .select(col("aqid"), col("anid"), col("sim"), col("prank"),
          explode(typedlit(Seq(1, 2, 4))).as("nprobe"))
        .filter(col("prank") <= col("nprobe"))
        .withColumn("rk", row_number().over(wa))
        .filter(col("rk") <= 3)
        .select(col("nprobe").as("anprobe"), col("aqid"), col("anid"))
      recallAt3(exact.select(col("qid"), col("nid"),
            explode(typedlit(Seq(1, 2, 4))).as("nprobe")),
          approx, Seq("nprobe" -> "anprobe"))
        .select(col("nprobe").cast("long").as("nprobe"), col("qid"),
          col("n_exact"), col("n_hits"), col("recall"), col("macro_recall"))
        .orderBy(col("nprobe"), col("qid"))
    }),

    // ANN strategy #4: product quantization with asymmetric distance
    // (ADC). Vectors are ENCODED once into M=4 one-byte codes (the
    // nearest sampled codeword per 16-dim subspace — a pure map-side
    // projection over literal codewords, like the IVF assignment); a
    // query precomputes its M×K distance table ONCE (narrow, on the
    // 10-row broadcast side) and each candidate costs M array lookups
    // + M-1 adds instead of a 64-dim scan. That asymmetry is the PQ
    // scale story: at 100 TB the engine scans 4-byte codes (64× less
    // I/O than raw vectors) and never decodes. Per-cell distances are
    // rounded and summed as DECIMAL so the lookup-sum is
    // order-independent and oracle-exact; codes argmin on raw doubles
    // with lowest-k tie-break (the struct-max trick, as in IVF).
    "q_ann_pq" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      adcTop3(e, e.filter(col("vec_id") < 10), col("embedding"),
          pqCodebook(s, d), lists = None)
        .select(col("qid"), col("rk"), col("nid"),
          col("approx").cast("double").as("approx_d2"))
        .orderBy(col("qid"), col("rk"))
    }),

    // The COMPOSED IVF-PQ scan (VERDICT r10 item 3) — the production
    // layout the PQ scaladoc names at Similarity's PQ section: coarse
    // two-level routing (q_ann_ivf2's quantizer, nlist ~ sqrt(N))
    // composed with in-list asymmetric-distance code scans (q_ann_pq's
    // ADC, here at IVFPQ_K = 16 codewords). See [[ivfpqTopk]] for the
    // full scale story; both halves are the suite's own kernels, so a
    // bug in either surfaces in three queries at once.
    "q_ann_ivfpq" -> ((s, d) =>
      ivfpqTopk(s, d, loadEmbeddings(s, d)).orderBy(col("qid"), col("rk"))),

    // IVF-PQ recall-vs-code-budget CURVE against exact L2 truth — the
    // index-quality sweep that prices the COMPOSED approximation
    // (list pruning × code quantization together, where q_ann_recall
    // priced LSH and q_ivf_tuning priced list pruning alone), swept
    // over the PQ model constant K ∈ {4, 16}. The two ends make the
    // evaluator prove itself in BOTH directions: at K = 4 ADC ties
    // bury the planted ids under low-id collisions (the documented
    // q_pq_distortion finding, now measured: recall ≈ 0), at K = 16
    // the code grid separates them (recall ≈ 1) — a non-degenerate
    // curve whose spread IS the knob's price. Runs on the SAME
    // planted corpus as q_ann_recall (three near-duplicates per query
    // at reserved ids); truth is the exact L2 top-3 from a 10-row
    // broadcast join (the documented offline-evaluation shape); hits
    // must survive BOTH the probe prefilter and the ADC ranking.
    // The two code budgets rerun assignment+encode (two corpus
    // passes — a sweep cost, like q_ann_recall's shared-frame widths
    // but without prefix nesting: codes at K=4 are NOT a prefix of
    // codes at K=16). Macro window: 10-row per-K frame (grid-sized).
    "q_ann_ivfpq_recall" -> ((s, d) =>
      ivfpqRecallCurve(s, d, residual = false)),

    // The RESIDUAL twin of the recall curve — the recall knob the
    // composed scan's own comment names (FAISS IVFPQ
    // by_residual=true, the production default): identical sweep,
    // identical truth, the only change is WHAT the codebook
    // quantizes (v − c(v) instead of v). Run side by side with
    // q_ann_ivfpq_recall this makes the knob a measured number at
    // both code budgets rather than a named possibility — at K = 4
    // it prices whether spending the 2-bit codes on within-list
    // displacement escapes the documented raw-PQ tie burial.
    "q_ann_ivfpq_residual" -> ((s, d) =>
      ivfpqRecallCurve(s, d, residual = true)),

    // The TRAINED-quantizer re-measurement of the residual knob
    // (VERDICT r11 item 1): both variants at both code budgets under
    // a Lloyd-trained single-level coarse quantizer — see
    // [[ivfpqLloydRecall]] for the full design and the measured
    // finding.
    "q_ann_ivfpq_lloyd" -> ((s, d) => ivfpqLloydRecall(s, d)),

    // Graph-based ANN — the missing production index family (VERDICT
    // r11 item 2): a deterministic NN-Descent k-NN graph (see
    // [[nnDescentEdges]] for the full design — md5-seeded same-block
    // init, capped reverse-neighbor local join, fixed 2 rounds). The
    // k-NN graph IS the all-nodes ANN answer (HNSW/NSW search walks
    // exactly this structure); this query reports the converged
    // neighbor lists of the 10 query nodes ranked by round-9 cosine.
    // Scale: each round is ≤ N·(2k)² candidate sims through equi-joins
    // only — no cartesian, hub fan-out bounded by the md5 reverse cap,
    // seed-block width a constant that grows like N_PLANES.
    "q_ann_graph" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nodes = nnNodes(loadEmbeddings(s, d)
        .withColumn("bucket", bucketCol(col("embedding"))))
      val last = nnDescentEdges(nodes, rounds = 2).last
      val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
      nnScored(last.filter(col("src") < 10), nodes)
        .withColumn("rk", row_number().over(w).cast("long"))
        .select(col("src").as("qid"), col("rk"), col("dst").as("nid"),
          col("sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // The descent-rounds recall curve of the graph index — recall@3
    // vs exact truth on the q_ann_recall planted corpus at rounds
    // 0 (md5 seed), 1, 2. Non-degenerate by the same planting (the
    // exact top-3 is the planted set by construction) and provably
    // monotone in rounds (see [[nnDescentEdges]]: k=4 ≥ 3 and each
    // round keeps the top-k of a superset, so found planted neighbors
    // can never be evicted) — the spec pins both ends. Same output
    // shape as q_ann_recall with the round index as the swept knob.
    "q_ann_graph_recall" -> ((s, d) => annGraphRecall(s, d)),

    // NSW beam SEARCH over the converged NN-Descent graph — the query
    // path of the graph index family (build = q_ann_graph, quality =
    // q_ann_graph_recall, this = search): from one deterministic
    // entry node (min-md5 non-query node, the fixed entry point a
    // flat NSW keeps), each query walks 3 fixed hops over the
    // SYMMETRIZED graph keeping a beam of the best-so-far VISITED
    // nodes per width, swept over beam ∈ {1, 2, 4, 8} in ONE
    // relational chain (beam is a column — rk <= beam — not an
    // unrolled dimension). Result = recall@3 of the cumulative
    // visited set vs the planted truth. Per-hop work is
    // |beam|·degree(≤2k) candidate rows per query through equi-joins
    // on the edge key — the bounded navigating-search cost that makes
    // graph indexes the production default at corpus scale.
    "q_ann_beam" -> ((s, d) => {
      val nodes = nnNodes(plantedCorpus(s, d)
        .withColumn("bucket", bucketCol(col("embedding"))))
      val g = nnSearchGraph(nnDescentEdges(nodes, rounds = 2).last)
      val qs = nodes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("blk").as("qblk"))
      beamRecallReport(beamWalk(nodes, g, qs, Seq(1, 2, 4, 8), hops = 7),
        qs, Seq(1, 2, 4, 8))
    }),

    // LAYERED-entry beam search — the 2-level hierarchy that closes
    // the gap to production HNSW (VERDICT r12 item 2), run as the A/B
    // it exists to make: the SAME beamWalk at the same hops and
    // widths under two entry policies — arm `global` (the single
    // min-md5 node, HNSW-without-its-layers: the r12-documented 0.1
    // floor) and arm `layered` (each query first walks a √N
    // md5-sampled UPPER LAYER greedily from the single global upper
    // node, and the best upper node found becomes the base entry).
    // The upper layer is a ring-seeded NN-Descent graph over the
    // sample (same descent kernel; the md5 rank is the deterministic
    // stand-in for HNSW's random level assignment), searched with the
    // ring's long-range links kept next to the converged kNN links —
    // the navigable-small-world construction itself (short links
    // exploit, long links route; a kNN-only upper graph fragments
    // into the LSH-block clusters and the walk measured AT the 0.1
    // global floor). MEASURED (sf0.01 / sf0.001 macro): layered 0.30
    // / 0.20-0.33 vs global 0.10 / 0.03 at every width — the
    // hierarchy's whole job (replace a blind global entry with a
    // guided one) priced directly; GraphAnnSpec pins layered ≥ global
    // per beam. The REFUTED hypothesis is documented too: routing
    // does NOT beat q_ann_beam's LSH seed-block entry here (0.47-0.67
    // flat), because on a near-orthogonal noise corpus cosine carries
    // almost no block-membership signal (routed block = query block
    // in 1/10 queries at sf0.01) — block-locality is the only
    // navigable structure, and a hybrid {block ∪ routed} entry set
    // loses the single beam-1 frontier slot to the higher-cosine
    // routed entry (0.37 < 0.47). On real embedding manifolds the
    // guided entry is the piece that survives at 100 TB, where a
    // query's seed block may be empty or unknown; cost: the upper
    // walk touches √N-sized frames only (descent |U|·(2k)²/round),
    // O(√N) added to an O(N) index build.
    "q_ann_layered" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nodes = nnNodes(plantedCorpus(s, d)
        .withColumn("bucket", bucketCol(col("embedding"))))
      val qs = nodes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("blk").as("qblk"))
      val wE = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("node"))
      // The BASE index build (N-node descent) and the UPPER-LAYER
      // chain (√N sample → ring seed → √N descent → routed-entry
      // walk) are independent given `nodes` — the merged lower walk
      // below is the first consumer that needs both. Build them
      // concurrently ([[Tables.inParallel]], guide §2.6): each is a
      // checkpoint-bounded serial driver loop whose planning gaps and
      // job tails otherwise strictly serialize.
      val (g, entryL) = Tables.inParallel(
        nnSearchGraph(nnDescentEdges(nodes, rounds = 2).last), {
          val (up, nU) = upperLayer(nodes)
          val ring = ringSeed(up, nU)
          val gU = nnSearchGraph(
            descentRounds(up, ring, 2).last.union(ring).distinct())
          // upper entry = the urk=1 (min-md5) upper node — HNSW's
          // single top-level entry point; broadcast 1-row crossJoin
          // (the documented accepted pattern)
          val entryU = qs.select(col("qid")).crossJoin(broadcast(
            up.filter(col("urk") === 1L).select(col("vec_id").as("node"))))
          beamWalkFrom(up, gU, qs, entryU, Seq(1), hops = 7)
            .withColumn("rk", row_number().over(wE))
            .filter(col("rk") === 1)
            .select(col("qid"), col("node"))
        })
      // both arms run through ONE beamWalkFrom call: arm `global`
      // rides on sign-encoded query ids (qid' = -qid - 1 — negative,
      // so it can never collide with a node id and the dst =!= qid
      // self-exclusion never misfires). Walk state is keyed by
      // (beam, qid), so the arms cannot interact and the merged walk
      // is row-identical to two separate walks (the oracle runs them
      // as two CTE chains) — but the 7 hop joins, the lineage
      // checkpoints and the final scoring are paid ONCE, which
      // halves the per-hop job count that dominates this query's
      // wall time on grid-sized frames.
      val entryG = qs.select((-col("qid") - 1L).as("qid"))
        .crossJoin(broadcast(
          nodes.filter(col("vec_id") >= 10)
            .withColumn("h", md5(col("vec_id").cast("string")))
            .orderBy(col("h"), col("vec_id")).limit(1)
            .select(col("vec_id").as("node"))))
      val qsBoth = qs.unionByName(
        qs.select((-col("qid") - 1L).as("qid"), col("qv"), col("qnrm"),
          col("qblk")))
      val visited = beamWalkFrom(nodes, g, qsBoth,
        entryL.unionByName(entryG), Seq(1, 2, 4, 8), hops = 7)
      val wB = Window.partitionBy(col("beam"), col("qid"))
        .orderBy(col("sim").desc, col("node"))
      val ranked = visited
        .withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= 3)
        .select(col("beam").as("abeam"), col("qid").as("aqid"),
          col("node").as("anid"))
      // planted truth duplicated onto both signed keys
      val truth = qs.select(col("qid"),
          explode(typedlit(Seq(1, 2, 3))).as("c"))
        .select(col("qid"),
          (lit(1000000L) + col("qid") * 10 + col("c")).as("nid"))
        .select(explode(array(col("qid"), -col("qid") - 1L)).as("qid"),
          col("nid"))
        .withColumn("beam", explode(typedlit(Seq(1, 2, 4, 8))))
      val wW = Window.partitionBy(col("entry"), col("beam"))
      hitCounts(truth, ranked, annPairs, "beam", "qid")
        .withColumn("entry",
          when(col("qid") < 0, lit("global")).otherwise(lit("layered")))
        .withColumn("qid",
          when(col("qid") < 0, -col("qid") - 1L).otherwise(col("qid")))
        .withColumn("recall", round(col("n_hits").cast("double") / 3.0, 6))
        .withColumn("macro_recall",
          round(sum(col("n_hits")).over(wW).cast("double") /
            (lit(3.0) * count(lit(1)).over(wW)), 6))
        .select(col("entry"), col("beam").cast("long").as("beam"),
          col("qid"), col("n_exact"), col("n_hits"), col("recall"),
          col("macro_recall"))
        .orderBy(col("entry"), col("beam"), col("qid"))
    }),

    // Graph-index ADMISSION — the insert path that makes the graph a
    // MAINTAINED index (how HNSW/NSW actually grows: a new vector
    // beam-searches the existing graph and links to the best visited
    // nodes): new vectors (vec_id % 7 = 3, the house admission split)
    // walk the STORED graph built over the index side only and emit
    // their k=4 links — per-vector work is one routed-entry probe +
    // 7 bounded hops, never an index rebuild, never a corpus join.
    // Completes the family ladder the other index families have:
    // build (q_ann_graph) → quality (recall) → search (beam) → ADMIT.
    "q_ann_graph_admission" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val all = loadEmbeddings(s, d)
        .withColumn("bucket", bucketCol(col("embedding")))
      val nodes = nnNodes(all.filter(col("vec_id") % 7 =!= 3))
      val g = nnSearchGraph(nnDescentEdges(nodes, rounds = 2).last)
      val qs = all.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"),
          substring(col("bucket"), 1, NN_INIT_WIDTH).as("qblk"))
      val wB = Window.partitionBy(col("beam"), col("qid"))
        .orderBy(col("sim").desc, col("node"))
      beamWalk(nodes, g, qs, Seq(8), hops = 7)
        .withColumn("rk", row_number().over(wB).cast("long"))
        .filter(col("rk") <= NN_K)
        .select(col("qid"), col("rk"), col("node").as("nid"), col("sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // Graph-index DELETION — the tombstone + repair path that
    // completes the index lifecycle (build → quality → search →
    // admit → DELETE): a real deployment must retire vectors without
    // a rebuild. Tombstoned nodes (vec_id % 9 = 4, ~11% of the
    // corpus INCLUDING 4 of the 30 planted truth ids, so "surviving
    // truth" is a real set change, not a no-op) leave the node and
    // edge frames, and every alive node that pointed INTO a tombstone
    // re-routes to the tombstone's alive out-neighbors — the classic
    // NSW repair (the 2-hop bridge that preserves the paths the
    // deleted node carried). Re-routes are ranked by round-9 cosine
    // and capped at NN_K per node (≤ (2k)² candidates per node, the
    // descent local-join bound — never a rebuild, never a corpus
    // join), then the repaired edge set re-symmetrizes through the
    // same md5-capped rule as the build. The A/B this query exists to
    // make: the SAME routed-entry beam walk on the pre-delete and
    // post-delete graphs, both scored against the SURVIVING planted
    // truth, plus n_del_top3 = tombstoned ids still surfacing in the
    // top-3 (pre arm: the stale results a tombstone-less index keeps
    // serving; post arm: structurally 0 — deleted nodes are not in
    // the graph). Both arms ride ONE beamWalkFrom via id-shifting
    // (post arm at +2e6 on disjoint node/query ids — the
    // q_ann_layered merged-arm device generalized to two GRAPHS), so
    // the 7 hop joins and lineage cuts are paid once. MEASURED: post
    // ≥ pre at every width on both fixtures — strictly at sf0.001
    // beam 1 (0.654 vs 0.538 macro: the stale tombstone held the
    // single beam slot), equal elsewhere (sf0.01: 0.423/0.423/0.500/
    // 0.654 both arms — the repair preserves navigability for the
    // surviving 26 truth ids exactly), while the pre arm keeps
    // serving 3-4 tombstoned ids in its top-3 (n_del_top3) and the
    // post arm serves 0 structurally.
    "q_ann_delete" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val OFF = ID_SHIFT_OFF
      val (nodes, delIds, gPre, gPost) = deleteRepair(s, d)
      val aliveN = nodes.join(delIds.select(col("did").as("vec_id")),
        Seq("vec_id"), "left_anti")
      val qs = nodes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("blk").as("qblk"))
      // entries routed on ORIGINAL ids (the md5 rank must see the
      // same strings as the oracle), shifted only afterwards
      val entryPre = routedEntry(nodes, qs)
      val entryPost = routedEntry(aliveN, qs)
        .select((col("qid") + OFF).as("qid"), (col("node") + OFF).as("node"))
      val nodesAll = nodes.unionByName(aliveN.select(
        (col("vec_id") + OFF).as("vec_id"), col("embedding"), col("nrm"),
        col("blk")))
      val gAll = gPre.unionByName(gPost.select(
        (col("src") + OFF).as("src"), (col("dst") + OFF).as("dst")))
      val qsAll = qs.unionByName(qs.select((col("qid") + OFF).as("qid"),
        col("qv"), col("qnrm"), col("qblk")))
      val visited = beamWalkFrom(nodesAll, gAll, qsAll,
        entryPre.unionByName(entryPost), Seq(1, 2, 4, 8), hops = 7)
      val wB = Window.partitionBy(col("beam"), col("qid"))
        .orderBy(col("sim").desc, col("node"))
      val ranked = visited.withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= 3)
        .select(col("beam").as("abeam"), col("qid").as("aqid"),
          col("node").as("anid"))
        .cut() // grid-sized; read twice (truth + del count)
      val struth = qs
        .select(col("qid"), explode(typedlit(Seq(1, 2, 3))).as("c"))
        .select(col("qid"),
          (lit(1000000L) + col("qid") * 10 + col("c")).as("nid"))
        .filter(col("nid") % 9 =!= 4)
      val truth = struth
        .unionByName(struth.select((col("qid") + OFF).as("qid"),
          (col("nid") + OFF).as("nid")))
        .withColumn("beam", explode(typedlit(Seq(1, 2, 4, 8))))
      // tombstoned ids surfacing in the top-3: only unshifted (pre)
      // ids can match delIds, which is the claim itself
      val delTop = ranked.join(delIds, col("anid") === col("did"))
        .groupBy(col("abeam").as("dbeam"), col("aqid").as("dqid"))
        .agg(count(lit(1)).as("nd"))
      val wW = Window.partitionBy(col("arm"), col("beam"))
      hitCounts(truth, ranked, annPairs, "beam", "qid")
        .join(delTop,
          col("beam") === col("dbeam") && col("qid") === col("dqid"),
          "left_outer")
        .withColumn("n_del_top3", coalesce(col("nd"), lit(0L)))
        .withColumn("arm",
          when(col("qid") >= OFF, lit("post")).otherwise(lit("pre")))
        .withColumn("qid",
          when(col("qid") >= OFF, col("qid") - OFF).otherwise(col("qid")))
        .withColumn("recall",
          round(col("n_hits").cast("double") / col("n_exact"), 6))
        .withColumn("macro_recall",
          round(sum(col("n_hits")).over(wW).cast("double") /
            sum(col("n_exact")).over(wW), 6))
        .select(col("arm"), col("beam").cast("long").as("beam"),
          col("qid"), col("n_exact"), col("n_hits"), col("n_del_top3"),
          col("recall"), col("macro_recall"))
        .orderBy(col("arm"), col("beam"), col("qid"))
    }),

    // INCREMENTAL-MAINTENANCE DRIFT AUDIT (r15) — the "when do I
    // rebuild?" question every incrementally-maintained index faces:
    // after the full tombstone delete, compare the INCREMENTALLY
    // repaired graph (q_ann_delete's one-shot repairStep — bounded
    // 2-hop re-route, never a rebuild) against a FRESH from-scratch
    // rebuild on the surviving corpus (same descent, same md5 seed
    // blocks — the alive nodes keep their stored bucket signatures,
    // exactly what a production rebuild over stored vectors does).
    // Two answers, both exact: (a) edge-set algebra — sizes,
    // intersection, Jaccard — how far the repaired TOPOLOGY drifted
    // from what a rebuild would choose; (b) recall against the
    // surviving planted truth per beam — whether the drift COSTS
    // anything at query time. Both arms walk through ONE merged
    // beamWalkFrom (rebuild arm id-shifted at +OFF; entries routed on
    // original ids over the SAME alive node set, so the arms differ
    // ONLY in graph). At 100 TB this query prices the rebuild
    // trigger: run it on a sample after N maintenance batches and
    // rebuild when the recall gap (not the Jaccard — topology drift
    // with equal recall is free) crosses budget.
    "q_ann_rebuild_compare" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val OFF = ID_SHIFT_OFF
      val (nodes, delIds, gPre) = deleteGraphParts(s, d)
      val aliveN = nodes.join(delIds.select(col("did").as("vec_id")),
        Seq("vec_id"), "left_anti")
        .cut() // reused: rebuild descent + 2 arms + entry
      // The INCREMENTAL repair (bounded 2-hop re-route off gPre) and
      // the FRESH rebuild (full 2-round descent over the survivors)
      // are the two arms under comparison — independent by
      // construction (both read only the checkpointed aliveN / gPre /
      // delIds frames). Build them concurrently ([[Tables.inParallel]],
      // guide §2.6) instead of serializing two checkpoint-bounded
      // driver loops.
      val (gInc, gReb) = Tables.inParallel(
        repairStep(nodes, gPre, delIds),
        nnSearchGraph(nnDescentEdges(aliveN, rounds = 2).last))
      val stats = gInc.agg(count(lit(1)).as("n_inc"))
        .crossJoin(gReb.agg(count(lit(1)).as("n_reb")))
        .crossJoin(gInc.intersect(gReb).agg(count(lit(1)).as("n_common")))
      val qs = nodes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("blk").as("qblk"))
      val ent = routedEntry(aliveN, qs)
      val nodesAll = aliveN.unionByName(aliveN.select(
        (col("vec_id") + OFF).as("vec_id"), col("embedding"), col("nrm"),
        col("blk")))
      val gAll = gInc.unionByName(gReb.select(
        (col("src") + OFF).as("src"), (col("dst") + OFF).as("dst")))
      val qsAll = qs.unionByName(qs.select((col("qid") + OFF).as("qid"),
        col("qv"), col("qnrm"), col("qblk")))
      val entAll = ent.unionByName(ent.select(
        (col("qid") + OFF).as("qid"), (col("node") + OFF).as("node")))
      val visited = beamWalkFrom(nodesAll, gAll, qsAll, entAll,
        Seq(2, 4), hops = 7)
      val wB = Window.partitionBy(col("beam"), col("qid"))
        .orderBy(col("sim").desc, col("node"))
      val ranked = visited.withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= 3)
        .select(col("beam").as("abeam"), col("qid").as("aqid"),
          col("node").as("anid"))
      val struth = qs
        .select(col("qid"), explode(typedlit(Seq(1, 2, 3))).as("c"))
        .select(col("qid"),
          (lit(1000000L) + col("qid") * 10 + col("c")).as("nid"))
        .filter(col("nid") % 9 =!= 4)
      val truthAll = struth
        .unionByName(struth.select((col("qid") + OFF).as("qid"),
          (col("nid") + OFF).as("nid")))
        .withColumn("beam", explode(typedlit(Seq(2, 4))))
      val armed = truthAll.withColumn("arm",
        when(col("qid") >= OFF, lit("rebuild")).otherwise(lit("incremental")))
      hitCounts(armed, ranked, annPairs, "arm", "beam")
        .crossJoin(broadcast(stats))
        .select(col("arm"), col("beam").cast("long").as("beam"),
          col("n_exact"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_exact"), 6)
            .as("macro_recall"),
          when(col("arm") === "incremental", col("n_inc"))
            .otherwise(col("n_reb")).as("n_edges"),
          col("n_common"),
          round(col("n_common").cast("double") /
            (col("n_inc") + col("n_reb") - col("n_common")), 9)
            .as("jaccard"))
        .orderBy(col("arm"), col("beam"))
    }),

    // FILTERED (attribute-constrained) ANN — the most common
    // production vector-search need: top-k under a metadata predicate
    // (here the embeddings' class label at three selectivities:
    // lt5 ≈ 50%, lt2 ≈ 20%, eq0 ≈ 10%). The A/B prices the two
    // query-time policies against EXACT brute-force constrained truth
    // (top-3 among matching nodes — the denominator a filtered-search
    // benchmark must use; planted truth can't serve here because the
    // plant carries no label):
    //   - postfilter: walk the FULL stored graph, then keep only
    //     matching visited nodes — navigability intact, but beam
    //     slots and hop work are spent on non-matching nodes
    //     (n_visited vs n_match_visited is the waste, printed);
    //   - induced (in-walk): walk only the predicate-induced SUBGRAPH
    //     of the same stored index (edges with both endpoints
    //     matching, entry routed over matching nodes) — every visit
    //     counts, but edges vanish with selectivity² and the walk
    //     fragments.
    // No rebuild in either arm: the index is built once; filtering is
    // query-time frame algebra — exactly what a 100 TB deployment
    // does (per-predicate index rebuilds are not an option). All four
    // walks (1 full + 3 induced) ride ONE beamWalkFrom via the
    // id-shift device at offsets i·2e6. MEASURED (sf0.01 macro /
    // mean-visited, beam 8; sf0.001 agrees): the textbook RECALL
    // crossover does NOT materialize on this near-orthogonal noise
    // corpus — postfilter ≥ induced at EVERY selectivity (lt5 0.133
    // vs 0.100, lt2 0.200 vs 0.167, eq0 0.100 vs 0.067) for the same
    // reason the r12 layered-routing hypothesis failed: block-
    // locality is the only navigable structure here, so removing
    // nodes from the walk only severs paths. What IS measured is the
    // COST structure the crossover story rests on: postfilter's
    // visits are flat and selectivity-independent (28.5/query at
    // every pred — the SAME walk, sliced three ways) but mostly
    // wasted at low selectivity (3.5 of 28.5 matching at eq0 — an
    // 8× overspend), while the induced walk's visits are all-
    // matching yet COLLAPSE as the subgraph thins (11.6 → 3.8 → 2.0
    // for lt5 → lt2 → eq0: a k=4 graph keeps ~k·sel edges/node, so
    // below sel ≈ 2/k the walk is entry + one neighbor — the
    // fragmentation is directly visible in n_visited). Production
    // rule derived: route through non-matching nodes and eat the
    // wasted visits (ACORN-style predicate-agnostic expansion —
    // exactly the postfilter arm's semantics), because the induced
    // subgraph stops percolating long before the predicate gets
    // genuinely selective.
    "q_ann_filtered" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val OFF = ID_SHIFT_OFF
      val all = loadEmbeddings(s, d)
        .withColumn("bucket", bucketCol(col("embedding")))
      val nodes = guardIdsBelow(nnNodes(all), "vec_id")
      val labels = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label"))
      val g = nnSearchGraph(nnDescentEdges(nodes, rounds = 2).last)
      val qs = nodes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"), col("blk").as("qblk"))
      val preds: Seq[(String, Column)] = Seq(
        ("lt5", col("label") < 5),
        ("lt2", col("label") < 2),
        ("eq0", col("label") === 0))
      val beams = Seq(4, 8)
      // arm 0 = the full-graph walk; arms 1..3 = the pred-induced
      // subgraph walks, id-shifted (entries routed on ORIGINAL ids —
      // the md5 rank must see the oracle's strings — then shifted)
      val armed = preds.zipWithIndex.map { case ((_, p), i) =>
        val off = OFF * (i + 1)
        val mn = nodes.join(
          labels.filter(p).select(col("vec_id")), Seq("vec_id"), "left_semi")
        val gI = g
          .join(mn.select(col("vec_id").as("src")), Seq("src"), "left_semi")
          .join(mn.select(col("vec_id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
        (mn.select((col("vec_id") + off).as("vec_id"), col("embedding"),
            col("nrm"), col("blk")),
          gI.select((col("src") + off).as("src"), (col("dst") + off).as("dst")),
          qs.select((col("qid") + off).as("qid"), col("qv"), col("qnrm"),
            col("qblk")),
          routedEntry(mn, qs)
            .select((col("qid") + off).as("qid"), (col("node") + off).as("node")))
      }
      val nodesAll = (nodes +: armed.map(_._1)).reduce(_ unionByName _)
      val gAll = (g +: armed.map(_._2)).reduce(_ unionByName _)
      val qsAll = (qs +: armed.map(_._3)).reduce(_ unionByName _)
      val entryAll = (routedEntry(nodes, qs) +: armed.map(_._4))
        .reduce(_ unionByName _)
      val visited = beamWalkFrom(nodesAll, gAll, qsAll, entryAll, beams,
        hops = 7).cut() // grid-sized; sliced 6 ways below
      // postfilter rows: the ONE full walk, tagged per predicate with
      // its match flag read off the label join
      val v0 = visited.filter(col("qid") < OFF)
        .join(labels.select(col("vec_id").as("node"), col("label")),
          Seq("node"))
      val tagged0 = preds.map { case (nm, p) =>
        v0.select(lit("postfilter").as("strategy"), lit(nm).as("pred"),
          col("beam"), col("qid"), col("node"), col("sim"), p.as("m"))
      }.reduce(_ unionByName _)
      val taggedI = preds.zipWithIndex.map { case ((nm, _), i) =>
        val off = OFF * (i + 1)
        visited.filter(col("qid") >= off && col("qid") < off + 10)
          .select(lit("induced").as("strategy"), lit(nm).as("pred"),
            col("beam"), (col("qid") - off).as("qid"),
            (col("node") - off).as("node"), col("sim"), lit(true).as("m"))
      }.reduce(_ unionByName _)
      val allV = tagged0.unionByName(taggedI).cut()
      val counts = allV
        .groupBy(col("strategy").as("cs"), col("pred").as("cp"),
          col("beam").as("cb"), col("qid").as("cq"))
        .agg(count(lit(1)).as("n_visited"),
          sum(when(col("m"), 1L).otherwise(0L)).as("n_match_visited"))
      val wR = Window
        .partitionBy(col("strategy"), col("pred"), col("beam"), col("qid"))
        .orderBy(col("sim").desc, col("node"))
      val ranked = allV.filter(col("m"))
        .withColumn("rk", row_number().over(wR))
        .filter(col("rk") <= 3)
        .select(col("strategy").as("rs"), col("pred").as("rp"),
          col("beam").as("rb"), col("qid").as("rq"), col("node").as("rnid"))
      // EXACT constrained truth: brute-force top-3 among matching
      // nodes per (pred, query) — 10 broadcast queries against one
      // corpus scan, the q_ann_flat baseline shape
      val bsims = nodes.join(labels, Seq("vec_id"))
        .crossJoin(broadcast(qs.select(col("qid"), col("qv"), col("qnrm"))))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim", round(
          dot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")), 9))
      val wT = Window.partitionBy(col("pred"), col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      val truth = preds.map { case (nm, p) =>
        bsims.filter(p).withColumn("pred", lit(nm))
      }.reduce(_ unionByName _)
        .withColumn("rk", row_number().over(wT))
        .filter(col("rk") <= 3)
        .select(col("pred"), col("qid"), col("vec_id").as("nid"))
        .withColumn("strategy",
          explode(typedlit(Seq("postfilter", "induced"))))
        .withColumn("beam", explode(typedlit(beams)))
      val wW = Window.partitionBy(col("strategy"), col("pred"), col("beam"))
      hitCounts(truth, ranked,
          Seq("strategy" -> "rs", "pred" -> "rp", "beam" -> "rb",
            "qid" -> "rq", "nid" -> "rnid"),
          "strategy", "pred", "beam", "qid")
        .join(counts,
          col("strategy") === col("cs") && col("pred") === col("cp") &&
            col("beam") === col("cb") && col("qid") === col("cq"),
          "left_outer")
        .withColumn("n_visited", coalesce(col("n_visited"), lit(0L)))
        .withColumn("n_match_visited",
          coalesce(col("n_match_visited"), lit(0L)))
        .withColumn("recall",
          round(col("n_hits").cast("double") / col("n_exact"), 6))
        .withColumn("macro_recall",
          round(sum(col("n_hits")).over(wW).cast("double") /
            sum(col("n_exact")).over(wW), 6))
        .select(col("strategy"), col("pred"),
          col("beam").cast("long").as("beam"), col("qid"),
          col("n_visited"), col("n_match_visited"), col("n_exact"),
          col("n_hits"), col("recall"), col("macro_recall"))
        .orderBy(col("strategy"), col("pred"), col("beam"), col("qid"))
    }),

    // PQ codebook audit — usage histogram + quantization distortion
    // per codeword, the health check a compressed-index deployment
    // runs before trusting ADC rankings: a DEAD codeword (zero
    // assignments) wastes code bits and a hot one with high mean d²
    // means the quantizer can't represent its region (retrain signal).
    // A planted-recall eval was considered and REJECTED as degenerate:
    // at PQ_K=4 a 0.1·‖v‖ single-coordinate bump never moves a code,
    // so ADC ties bury the planted ids and recall pins at 0 — the
    // distortion surface is the real, non-degenerate signal. Same
    // codebook, same (sub·sub + cw·cw) − sub·cw·2 kernel and the same
    // round-9→DECIMAL discipline as q_ann_pq; assignment is the
    // map-side argmin projection (no shuffle), the only aggregation
    // is the 16-cell (m × code) grid, and the zero-fill grid join +
    // per-m share window are grid-sized. Scale: one corpus pass, one
    // grid agg — nothing grows faster than the corpus.
    "q_pq_distortion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val cb = pqCodebook(s, d)
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val best = (0 until PQ_M).map { m =>
        val b = array_min(pqL2(col("embedding"), cb, m))
        struct(lit(m).cast("long").as("m"),
          b.getField("k").cast("long").as("code"),
          round(b.getField("d2"), 9).cast(DecimalType(18, 9)).as("dr"))
      }
      val counts = e.select(explode(array(best: _*)).as("a"))
        .select(col("a.m").as("m"), col("a.code").as("code"), col("a.dr").as("dr"))
        .groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n_assigned"), sum(col("dr")).as("sd"))
      val grid = s.range(PQ_M).select(col("id").as("m"))
        .crossJoin(s.range(PQ_K).select(col("id").as("code")))
      val wM = Window.partitionBy(col("m"))
      grid.join(counts, Seq("m", "code"), "left_outer")
        .withColumn("n_assigned", coalesce(col("n_assigned"), lit(0L)))
        .withColumn("tot", sum(col("n_assigned")).over(wM))
        .select(col("m"), col("code"), col("n_assigned"),
          round(col("sd").cast("double") / col("n_assigned"), 9).as("mean_d2"),
          round(col("n_assigned").cast("double") / col("tot"), 9)
            .as("usage_share"))
        .orderBy(col("m"), col("code"))
    }),

    // Per-label centroid (mean embedding) through the custom
    // TypedImperativeAggregate graft_vec_sum — the aggregate tier of
    // the Catalyst ladder, with map-side partials and elementwise
    // merge like Spark's own sketches. Fixed-point Long accumulation
    // makes the distributed mean EXACTLY order-independent (double
    // sums are not associative), i.e. reproducible across
    // partitionings/retries/cluster sizes — and oracle-exact.
    "q_vec_centroid" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
      e.groupBy(col("label"))
        .agg(graft.functions.VecSum.vecSumScaled(col("v"), DIM).as("sums"),
          count(lit(1)).as("n"))
        .select(col("label"), posexplode(col("sums")).as(Seq("pos", "sv")), col("n"))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          round(col("sv").cast("double") / col("n") / lit(1000000.0), 9)
            .as("centroid"))
        .orderBy(col("label"), col("dim"))
    }),

    // k-means (Lloyd's) over the embedding corpus: K=8 centroids seeded
    // from vec_id 10..17, two full assign→re-estimate rounds — the
    // clustering primitive under SemDedup/IVF done as REAL iterations
    // instead of one-shot sampled centroids. The 100 TB layout is the
    // point: each assignment is a pure map-side projection against K×D
    // literal centroids (array_min of codegen'd dot products — no
    // shuffle, no join), and each re-estimation is one cluster-keyed
    // aggregation whose output is K rows; only those K×D values ever
    // reach the driver between rounds (like the IVF centroid collect).
    // Determinism: per-row d² = (v·v + c·c) − v·c·2 with the fixed
    // left-to-right dot kernel (ties → lowest cluster id via struct
    // min), and re-estimated centroids come from the fixed-point VecSum
    // aggregate (order-independent Long sums), so every iteration —
    // and the DuckDB oracle restating it — is exact, not
    // approximately-equal. An empty cluster drops out of the next round
    // on both sides identically (no group row).
    "q_kmeans" -> ((s, d) => {
      val K = 8; val ITERS = 2
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // ITERS-1 collected rounds (K rows per round cross the driver,
      // nothing else); the last round's sums stay in-plan
      lloydSums(e, col("v"), lloyd(e, col("v"), K, ITERS - 1))
        .select(col("cluster").cast("long").as("cluster"),
          posexplode(col("sums")).as(Seq("pos", "sv")), col("n"))
        .select(col("cluster"), (col("pos") + 1).cast("long").as("dim"),
          round(col("sv").cast("double") / col("n") / lit(1000000.0), 9)
            .as("centroid"),
          col("n").as("n_members"))
        .orderBy(col("cluster"), col("dim"))
    }),

    // Centroid-exemplar selection (prototype picking): join documents
    // to their embeddings, build each LANGUAGE's exact fixed-point
    // centroid, and keep the 5 docs most cosine-similar to their own
    // language's centroid — the "choose representative examples per
    // slice" curation step, and the one query that ties the text
    // metadata table to the embedding table. Centroids never touch the
    // driver: the per-lang VecSum aggregate is transformed to a double
    // array IN-PLAN and joined back as a langs-sized broadcast dim;
    // scoring is the codegen dot kernel; per-lang top-5 is one window
    // over a languages-sized key space.
    "q_exemplars" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
      val e = loadEmbeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val joined = e.join(docs, col("vec_id") === col("doc_id"))
      val cents = joined.groupBy(col("lang"))
        .agg(graft.functions.VecSum.vecSumScaled(col("embedding"), DIM).as("sums"),
          count(lit(1)).as("n"))
        .select(col("lang"), expr(
          "transform(sums, s -> CAST(s AS DOUBLE) / n / 1000000.0D)").as("cv"))
        .withColumn("cnrm", norm(col("cv")))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("sim").desc, col("doc_id"))
      joined.join(broadcast(cents), Seq("lang"))
        .withColumn("sim",
          round(dot(col("embedding"), col("cv")) / (col("nrm") * col("cnrm")), 9))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("doc_id"), col("sim"))
        .orderBy(col("lang"), col("rk"))
    }),

    // Embedding-distribution drift (r9) — the "did the corpus move
    // under my model" monitor an embedding-based pipeline runs between
    // snapshots: per label, the exact fixed-point centroid of the
    // reference snapshot (even vec_id) vs the current one (odd
    // vec_id), drift = round-9 cosine between the two centroids, with
    // both snapshot counts in-row. The vector twin of q_psi_drift's
    // binned scalar form. Determinism is the q_exemplars discipline:
    // VecSum fixed-point sums (order-free BIGINT per dimension), one
    // exact division per dim, round-9 at the single emitted cosine —
    // restated dimension-for-dimension in the oracle. Scale: two
    // label-keyed aggs + a labels-sized join; vectors never cross a
    // shuffle unaggregated beyond the grouped sums.
    "q_embedding_drift" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
      def half(pred: Column, nName: String, cvName: String) = e.filter(pred)
        .groupBy(col("label"))
        .agg(graft.functions.VecSum.vecSumScaled(col("v"), DIM).as("sums"),
          count(lit(1)).as("n"))
        .select(col("label"), col("n").as(nName), expr(
          "transform(sums, s -> CAST(s AS DOUBLE) / n / 1000000.0D)")
          .as(cvName))
      half(col("vec_id") % 2 === 0, "n_ref", "ref_cv")
        .join(half(col("vec_id") % 2 === 1, "n_cur", "cur_cv"), Seq("label"))
        .withColumn("drift_cos",
          round(dot(col("ref_cv"), col("cur_cv")) /
            (norm(col("ref_cv")) * norm(col("cur_cv"))), 9))
        .select(col("label"), col("n_ref"), col("n_cur"), col("drift_cos"),
          (col("drift_cos") < 0.9).as("drifted"))
        .orderBy(col("label"))
    }),

    // Top principal component by POWER ITERATION over the centered
    // embedding corpus (Mises & Pollaczek-Geiringer 1929; the
    // distributed layout is Halko et al. 2011 §4's one-pass product):
    // the spectral summary a curation pipeline reads before whitening,
    // drift checks or low-rank compression. Three unrolled rounds of
    // w ← Σᵢ cᵢ·(cᵢ·v), v ← w/‖w‖ — each round ONE map-side codegen
    // dot + scale projection feeding the order-independent fixed-point
    // VecSum aggregate (the q_kmeans discipline), so each round is a
    // single 64-long reduction; only those 64 sums reach the driver
    // between rounds (the "K×D values" precedent). Determinism end to
    // end: μ from fixed-point sums, v₀ = 1/√64 = 0.125 exactly, and
    // normalization as s_j/√(Σ s_j²) with the square-sum in exact
    // DECIMAL/HUGEINT (the 1e6 scale cancels) — every iterate is
    // bit-identical across partitionings and engines. The final round
    // stays fully distributed (posexplode + DECIMAL norm crossJoin).
    "q_pca_power" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val ITERS = 3
      val ee = Tables(s, d, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
      val s0row = ee
        .agg(graft.functions.VecSum.vecSumScaled(col("v"), DIM).as("s"),
          count(lit(1)).as("n")).head()
      val n = s0row.getLong(1)
      val mu = s0row.getSeq[Long](0).map(sj => sj.toDouble / 1000000.0 / n)
      val ce = ee
        .withColumn("c", zip_with(col("v"), typedlit(mu), (a, b) => a - b))
        .select(col("c")).persist()
      def wSums(v: Seq[Double]): DataFrame = ce
        .select(col("c"), dot(col("c"), typedlit(v)).as("p"))
        .select(expr("transform(c, x -> x * p)").as("cp"))
        .agg(graft.functions.VecSum.vecSumScaled(col("cp"), DIM).as("s"))
      var v: Seq[Double] = Seq.fill(DIM)(0.125)
      for (_ <- 1 until ITERS) {
        val w = wSums(v).head().getSeq[Long](0)
        val nrm = math.sqrt(w.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
        v = w.map(_.toDouble / nrm)
      }
      val wx = wSums(v).select(posexplode(col("s")).as(Seq("pos", "sv")))
      val q = wx.agg(sum(col("sv").cast(DecimalType(38, 0)) *
        col("sv").cast(DecimalType(38, 0))).as("q"))
      wx.crossJoin(broadcast(q))
        .select((col("pos") + 1).cast("long").as("dim"),
          round(col("sv").cast("double") / sqrt(col("q").cast("double")), 9)
            .as("loading"))
        .orderBy(col("dim"))
    }),

    // Johnson-Lindenstrauss random projection: 64 → 16 dims through a
    // fixed ±1 matrix (seed 7, same stable-LCG constant trick as the
    // LSH planes), scaled by 1/√16 so pairwise distances are preserved
    // in expectation — the cheap dimensionality-reduction front end
    // before exact rerank. Entirely map-side: 16 codegen'd dot products
    // per row against literal rows of R, no shuffle but the
    // verification sort. Output checks the JL property per vector
    // (projected/original norm ratio) plus the first projected
    // coordinate as a value witness.
    "q_project_rp" -> ((s, d) => {
      val e = loadEmbeddings(s, d)
      val proj = array(rpPlanes.map(p =>
        dot(col("embedding"), typedlit(p.map(_.toDouble))) / 4.0d): _*)
      e.withColumn("proj", proj)
        .select(col("vec_id"),
          round(element_at(col("proj"), 1), 9).as("p1"),
          round(sqrt(expr(
            "aggregate(transform(proj, x -> x * x), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"))
            / col("nrm"), 9).as("norm_ratio"))
        .orderBy(col("vec_id"))
    }),

    // Int8 scalar quantization of the embedding corpus — the storage-
    // side counterpart to PQ: per-DIMENSION symmetric scale
    // (max |v_d| / 127 over the corpus), each value encoded as
    // round(v/scale) ∈ [-127, 127], per-vector reconstruction MSE
    // reported. Layout: one dims-keyed aggregation produces the 64
    // scales (64 rows → one array row via sorted collect, broadcast to
    // every executor — constant-size however large the corpus), then
    // encode + error are a single narrow zip_with/aggregate projection
    // per row. Scales are data (corpus max), so they flow as a
    // broadcast row, not driver literals.
    "q_quantize_int8" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val scales = e
        .select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(max(abs(col("x"))).as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mx")))).as("sm"))
        .select(transform(col("sm"), s => s.getField("mx") / 127).as("scales"))
      e.crossJoin(broadcast(scales))
        .select(col("vec_id"),
          expr("""CAST(aggregate(
            |  zip_with(v, scales, (x, sc) ->
            |    (x - round(x / sc) * sc) * (x - round(x / sc) * sc)),
            |  CAST(0.0 AS DOUBLE), (acc, e2) -> acc + e2) AS DOUBLE)"""
            .stripMargin).as("sse"),
          expr("""aggregate(
            |  zip_with(v, scales, (x, sc) -> abs(round(x / sc))),
            |  CAST(0 AS BIGINT), (acc, e2) -> acc + CAST(e2 AS BIGINT))"""
            .stripMargin).as("code_l1"))
        .select(col("vec_id"), round(col("sse") / lit(DIM), 12).as("mse"),
          col("code_l1"))
        .orderBy(col("vec_id"))
    }),

    // Scalar-quantization RECALL curve (VERDICT r11 item 7) — the
    // retrieval-cost companion q_quantize_int8 lacks: int8 storage
    // reports reconstruction MSE, but what a deployment buys or loses
    // is recall@k, so this sweep prices the SAME per-dimension
    // symmetric quantizer (scale = max|v_d| / levels, code =
    // round(v/sc), reconstruction = code·sc) at bits ∈ {2, 4, 8}
    // (levels 1 / 7 / 127) against the exact float cosine truth on the
    // q_ann_recall planted corpus, at BOTH k ∈ {1, 3}. The scan is
    // ASYMMETRIC (FAISS SQ convention: query stays float, candidates
    // are reconstructed), so the curve isolates what quantizing the
    // INDEX costs. MEASURED shape (the honest two-part finding, pinned
    // in NearDupSpec): recall@3 is 1.0 at EVERY bits level — even
    // 3-level reconstruction keeps the 0.995-vs-0.3 plant margin, so
    // set-retrieval of coarse near-dups is free — while recall@1 (the
    // WITHIN-plant ordering: which of a query's three near-identical
    // plants is nearest) degrades under quantization, and int8 itself
    // pays a measurable @1 cost (~0.7 macro at sf0.01): sub-step sim
    // margins scramble. Not monotone in bits by construction —
    // quantization grids are not nested (unlike LSH prefixes / probe
    // lists), so 4-bit can lose an ordering 2-bit accidentally kept.
    // Candidates whose reconstruction is the ZERO vector are
    // unrankable under a cosine scorer and are dropped on both sides
    // (rnrm > 0 — only reachable at bits=2 where sub-half-scale
    // coordinates all snap to 0). Scale shape: scales are one 64-row
    // aggregate broadcast as a 1-row dim; reconstruction is a narrow
    // per-row projection per bits value (no shuffle); ranking is the
    // 10-query broadcast offline-evaluation join of q_ann_recall
    // (documented eval harness, not the serving path); the final frame
    // is grid-sized (3 bits × 2 k × 10 queries).
    "q_sq8_recall" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = plantedCorpus(s, d)
      val mxs = corpus
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(max(abs(col("x"))).as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mx")))).as("sm"))
        .select(transform(col("sm"), t => t.getField("mx")).as("mxs"))
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qnrm"))
      // exact float truth ranked once, then replicated per (bits, k)
      // cell and cut at depth k (the q_ann_recall truth shape)
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      val exact = corpus
        .select(col("vec_id").as("nid"), col("embedding").as("nv"),
          col("nrm").as("nnrm"))
        .join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("sim",
          round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("qid"), col("nid"), col("rk"),
          explode(typedlit(Seq(2L, 4L, 8L))).as("n_bits"))
        .select(col("qid"), col("nid"), col("rk"), col("n_bits"),
          explode(typedlit(Seq(1L, 3L))).as("k"))
        .filter(col("rk") <= col("k"))
      // quantized index: reconstruct candidates at each bits level
      // (levels as exact literals, NOT pow() — cross-engine parity)
      val recon = corpus.crossJoin(broadcast(mxs))
        .select(col("vec_id").as("anid"), col("embedding"), col("mxs"),
          explode(typedlit(Seq((2L, 1.0d), (4L, 7.0d), (8L, 127.0d))))
            .as("bl"))
        .select(col("anid"), col("bl._1").as("abits"),
          expr("""zip_with(embedding, mxs, (x, m) ->
            |  round(x / (m / bl._2)) * (m / bl._2))""".stripMargin)
            .as("rv"))
        .withColumn("rnrm", norm(col("rv")))
        .filter(col("rnrm") > 0.0d)
      val wa = Window.partitionBy(col("abits"), col("aqid"))
        .orderBy(col("sim").desc, col("anid"))
      val approx = recon
        .join(broadcast(q.select(col("qid").as("aqid"), col("qv"),
          col("qnrm"))), col("aqid") =!= col("anid"))
        .withColumn("sim",
          round(dot(col("qv"), col("rv")) / (col("qnrm") * col("rnrm")), 9))
        .withColumn("ark", row_number().over(wa)).filter(col("ark") <= 3)
        .select(col("abits"), col("aqid"), col("anid"), col("ark"),
          explode(typedlit(Seq(1L, 3L))).as("ak"))
        .filter(col("ark") <= col("ak"))
        .select(col("abits"), col("ak"), col("aqid"), col("anid"))
      val wB = Window.partitionBy(col("n_bits"), col("k"))
      hitCounts(exact, approx,
          Seq("n_bits" -> "abits", "k" -> "ak", "qid" -> "aqid",
            "nid" -> "anid"),
          "n_bits", "k", "qid")
        .withColumn("recall",
          round(col("n_hits").cast("double") / col("n_exact"), 6))
        .withColumn("macro_recall",
          round(sum(col("n_hits")).over(wB).cast("double") /
            sum(col("n_exact")).over(wB), 6))
        .orderBy(col("n_bits"), col("k"), col("qid"))
    }),

    // Embedding-cosine near-dup over corpus ∪ perturbed copies.
    // Candidate generation is BUCKETED (SURVEY §9: "candidate generation
    // always through a hash-bucket key"): every vector lands in its 8-bit
    // hyperplane bucket; the left side additionally probes all 1-bit-flip
    // neighbor buckets (multi-probe LSH), so the equi-join on the bucket
    // key yields exactly the pairs whose signatures differ in <= 1 bit —
    // each such pair exactly once (equal buckets match only via the
    // identity probe; 1-bit-apart buckets only via the one flipping
    // probe), so no dedup pass is needed. Candidates are then verified
    // with the exact cosine. The all-pairs cross product is never formed:
    // at 100 TB the bucket id is the shuffle key (add planes to keep
    // buckets small; probe volume grows only linearly in planes).
    //
    // Recall CONTRACT (explicit, not luck): the operator's definition is
    // "signature Hamming distance <= 1 AND cosine >= t" — the DuckDB
    // oracle below states exactly that (same planes, same bucket
    // function via bucketDuck), so oracle greenness is structural at any
    // data scale, not dependent on qualifying pairs avoiding 2-bit
    // flips. For a pair at angle θ each plane flips independently with
    // p = θ/π, so recall vs the exact all-pairs definition is
    // P(flips <= 1) = (1-p)^8 + 8p(1-p)^7 — ~1.0 for true near-dups
    // (testdata's perturbed copies sit at cosine ~0.9999995, p ~ 3e-4)
    // and ~0.68 for threshold-grazing pairs at cosine = 0.9; widen the
    // probe radius to trade shuffle volume for tail recall.
    // NearDupSpec runs this bucketed query side-by-side with
    // neardupAllPairs (the unbucketed crossJoin form) and asserts
    // element-wise equality on the test corpus; PlanShapeSpec asserts
    // the executed plan contains no CartesianProduct /
    // BroadcastNestedLoopJoin.
    "q_neardup_embedding" -> ((s, d) => {
      val corpus = neardupCorpus(s, d)
      // bucket with bit j flipped (1-based position in the bit string)
      def flip(b: Column, j: Int): Column = concat(
        substring(b, 1, j - 1),
        when(substring(b, j, 1) === "1", "0").otherwise("1"),
        substring(b, j + 1, N_PLANES - j))
      val l = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na"),
        explode(array(col("bucket") +:
          (1 to N_PLANES).map(j => flip(col("bucket"), j)): _*)).as("bkt"))
      val r = corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("nrm").as("nb"), col("bucket").as("bkt"))
      l.join(r, Seq("bkt")).filter(col("id_a") < col("id_b"))
        .withColumn("sim", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9))
        .filter(col("sim") >= 0.9)
        .select(col("id_a"), col("id_b"), col("sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDedup — semantic dedup by embedding clusters (the published
    // recipe: k-means the embeddings, then drop near-identical pairs
    // WITHIN each cluster only). Coarse-cluster with K = ceil(sqrt(N))
    // deterministic sampled centroids, N = corpus row count from a
    // 1-row aggregate (map-side one-node kernel assignment, no shuffle;
    // same derivation as q_ann_ivf's list count and restated verbatim
    // in the DuckDB oracle). Candidate pairs come from a self equi-join
    // on the cluster id, so the cross product never forms — and
    // because K tracks sqrt(N), expected cluster size is ~sqrt(N) and
    // total pair volume is bounded at ~N^1.5, not the N² a FIXED K
    // would quadratically degrade to as the corpus grows; the cluster
    // id is the shuffle/partition key. Keep-policy: the SMALLEST
    // vec_id of every duplicate group survives — a row is dropped iff
    // a smaller-id vector in its cluster has cosine ≥ 0.95 with it
    // (deterministic, order-independent). Output is a KEEP/DROP
    // decision per corpus row — the shape a pipeline actually
    // consumes. PlanShapeSpec asserts the executed plan contains no
    // CartesianProduct / BroadcastNestedLoopJoin.
    "q_semdedup" -> ((s, d) => {
      val cents = sampledCentroids(s, d, sqrtK(neardupCorpus(s, d).count()))
      val assigned = neardupCorpus(s, d)
        .withColumn("centroid_id",
          (array_max(centroidSimsArr(cents)).getField("negcid") * -1))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid_id"))
      val l = assigned.select(col("centroid_id"), col("vec_id").as("id_a"),
        col("embedding").as("va"), col("nrm").as("na"))
      val r = assigned.select(col("centroid_id"), col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("nrm").as("nb"))
      val dropped = l.join(r, Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9)
          >= 0.95)
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("is_dup", lit(true))
      assigned.select(col("vec_id"), col("centroid_id"))
        .join(dropped, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("centroid_id"),
          coalesce(col("is_dup"), lit(false)).as("dropped"))
        .orderBy(col("vec_id"))
    }),

    // Per-dimension feature-health audit — the third leg of the
    // embedding-table health family next to q_ann_hubness (neighbor
    // pathology) and q_pq_distortion (codebook pathology): mean and
    // population variance per coordinate, with a DEAD-DIM flag — a
    // dimension whose variance collapsed (an encoder head that died,
    // a normalization bug pinning a coordinate) silently wastes index
    // bits and distorts every cosine. Dim 7 is PLANTED constant
    // (0.5) in-query so the flag is non-vacuous at any SF; the plant
    // is restated in the oracle. Exactness: coordinates fixed-point
    // scaled to round(x·1e6) BIGINT BEFORE the moment algebra, which
    // runs as n·Σs² − (Σs)² in DECIMAL(38,0) (HUGEINT in the oracle —
    // the q_jackknife pairing); doubles only in the two final rounded
    // divisions. Shape: one explode + a 64-row map-combinable grid
    // agg (at 100 TB the same moments accumulate through a
    // VecSum-style per-partition aggregate instead of the explode —
    // the q_vec_centroid device; the explode keeps the oracle
    // row-identical here).
    "q_dim_audit" -> ((s, d) =>
      dimReport(dimMoments(dimCells(Tables(s, d, "embeddings"))))),

    // Hubness audit (Radovanović et al., JMLR 2010) — the embedding
    // pathology ANN deployments inherit from high dimensionality: a
    // few vectors ("hubs") appear in a disproportionate share of
    // other points' nearest-neighbor lists, silently dominating
    // retrieval and semantic-dedup decisions. k-occurrence is counted
    // over the LIST-LOCAL kNN graph (each vector's top-3 by round-9
    // cosine among its own IVF list-mates — the q_semdedup
    // within-cluster pair bound, ≈N^1.5 work, never all-pairs: the
    // honest 100 TB hubness estimate, since production kNN graphs are
    // themselves IVF-candidate-restricted). Output: the top-20 hubs
    // with their occurrence ratio vs the corpus mean (k_occ·N /
    // total_picks; exact integers until one rounded division).
    // TakeOrdered cut under the (k_occ desc, vec_id) total order.
    "q_ann_hubness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = loadEmbeddings(s, d)
      val cents = sampledCentroids(s, d,
        sqrtK(Tables(s, d, "embeddings").count()))
      val assigned = e.withColumn("centroid_id",
        array_max(centroidSimsArr(cents)).getField("negcid") * -1)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid_id"))
      val l = assigned.select(col("centroid_id"), col("vec_id").as("qid"),
        col("embedding").as("qv"), col("nrm").as("qnrm"))
      val r = assigned.select(col("centroid_id"), col("vec_id").as("nid"),
        col("embedding").as("nv"), col("nrm").as("nnrm"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      val occ = l.join(r, Seq("centroid_id"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("sim",
          round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .groupBy(col("nid")).agg(count(lit(1)).as("k_occ"))
      val stats = occ.agg(sum(col("k_occ")).as("total_picks"))
        .crossJoin(assigned.agg(count(lit(1)).as("n_vecs")))
      occ.crossJoin(broadcast(stats))
        .select(col("nid").as("vec_id"), col("k_occ"),
          round(col("k_occ").cast("double") * col("n_vecs") /
            col("total_picks"), 9).as("occ_ratio"))
        .orderBy(col("k_occ").desc, col("vec_id")).limit(20)
    }),

    // The EMBEDDING-SIDE composed flagship (the r10 counterpart of
    // q_curation_pipeline's text funnel): vector quality gate →
    // semantic dedup → class balance → index/shard admission, in ONE
    // oracle-checked plan with per-row FIRST-FAILING-STAGE
    // attribution. Stage kernels are definitionally shared with the
    // standalone queries: the dedup rule is q_semdedup's verbatim
    // (sqrt-K sampled-centroid clusters, within-cluster ≥0.95 pairs,
    // smallest id wins), the balance rule is q_class_balance's
    // ((md5, id) rank prefix to the minority count), the shard key is
    // q_split_hash's 16-bit md5 bucket. The corpus is the planted
    // near-dup corpus (base ∪ +0.01-perturbed copies) with a
    // DEGENERATE plant on top — vec_id % 41 = 7 rows zeroed, the
    // broken-producer vectors (zero norm = undefined cosine) a real
    // embedding table accumulates and the quality gate exists to stop
    // BEFORE they poison the cosine stages. Stage order is the only
    // correct one: dedup math divides by the norms quality guards,
    // and balance targets must count the deduped class mass, not
    // duplicates. Scale shape: quality is a narrow projection; dedup
    // pairs are cluster-keyed (≈N^1.5 bound, no cartesian —
    // PlanShapeSpec); balance is one per-label rank window; the
    // corpus frame is persisted once for the survivor chain + final
    // attribution join (the q_curation_pipeline persist lesson); the
    // returned frame is lazy so the query cannot unpersist it itself —
    // the cache is reclaimed by Harness.housekeeping between queries
    // (both Verify and Bench run it), the same documented reliance as
    // q_setsim_prefix (Dedup.scala).
    // Centroids come from the QUALITY SURVIVORS (first K ids ≥ 10 —
    // a zero-norm centroid would NaN every cosine in its cluster),
    // via the bounded q_ann_incremental collect device.
    "q_embedding_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val zero = typedlit(Seq.fill(DIM)(0.0d))
      val c = neardupCorpus(s, d)
        .select(col("vec_id"),
          when(col("vec_id") % 41 === 7, zero).otherwise(col("embedding"))
            .as("embedding"))
        .withColumn("nrm", norm(col("embedding")))
        .persist()
      val surv1 = c.filter(col("nrm") > 0.0d)
      val cents = firstCentroids(surv1, sqrtK(surv1.count()))
      val assigned = surv1.withColumn("centroid_id",
        array_max(centroidSimsArr(cents)).getField("negcid") * -1)
      val l = assigned.select(col("centroid_id"), col("vec_id").as("id_a"),
        col("embedding").as("va"), col("nrm").as("na"))
      val r = assigned.select(col("centroid_id"), col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("nrm").as("nb"))
      val dup = l.join(r, Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9)
          >= 0.95)
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("is_dup", lit(true))
      val s2 = assigned.select(col("vec_id"), col("centroid_id"))
        .join(dup, Seq("vec_id"), "left_outer")
      // labels: a perturbed copy inherits its source vector's class
      val lbl = Tables(s, d, "embeddings")
        .select(col("vec_id").as("orig"), col("label").cast("long").as("label"))
      val withL = s2.filter(col("is_dup").isNull)
        .withColumn("orig", when(col("vec_id") >= 100000L,
          col("vec_id") - 100000L).otherwise(col("vec_id")))
        .join(lbl, Seq("orig"))
      val target = withL.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("target"))
      val w = Window.partitionBy(col("label"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      val s3 = withL.crossJoin(broadcast(target))
        .withColumn("rk", row_number().over(w))
        .select(col("vec_id"), (col("rk") <= col("target")).as("balanced"))
      val bucket = conv(substring(md5(col("vec_id").cast("string")), 1, 4),
        16, 10).cast("long")
      c.select(col("vec_id"), col("nrm"))
        .join(s2, Seq("vec_id"), "left_outer")
        .join(s3, Seq("vec_id"), "left_outer")
        .withColumn("reason",
          when(col("nrm") === 0.0d, "degenerate")
            .when(col("is_dup").isNotNull, "semantic_dup")
            .when(!col("balanced"), "balance"))
        .select(col("vec_id"), col("reason").isNull.as("keep"), col("reason"),
          col("centroid_id"),
          when(col("reason").isNull, bucket % 32).as("shard"))
        .orderBy(col("vec_id"))
    })
  )

  // ---- IVF probe scan and recall@3 grading (the ANN sweeps) ---------

  /** The IVF probe scan of q_ann_ivf and q_ann_ivf2: each query
    * (vec_id < 10) probes the top-2 lists of its `arr` (the per-list
    * (sim, negcid) structs of the quantizer), and the candidates in
    * those lists rank by round-9 cosine desc, then nid. `assigned`
    * carries embedding, nrm, arr and centroid_id. Returns qid, rk
    * (BIGINT, ≤ 3), nid, centroid_id, sim. */
  private def ivfProbeTop3(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = assigned.select(col("vec_id").as("nid"),
      col("embedding").as("nv"), col("nrm").as("nnrm"), col("centroid_id"))
    val probes = assigned.filter(col("vec_id") < 10)
      .withColumn("p", explode(slice(reverse(array_sort(col("arr"))), 1, 2)))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), (col("p.negcid") * -1).as("probe_cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    cand.join(broadcast(probes),
        col("centroid_id") === col("probe_cid") && col("qid") =!= col("nid"))
      .withColumn("sim", round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("nid"), col("centroid_id"), col("sim"))
  }

  // DuckDB twins of the IVF frames: every IVF oracle builds its lists
  // from these CTEs instead of restating them.

  /** The row-to-list assignment every IVF oracle shares: per vec_id
    * the argmax of `scored` by (csim desc, cid) — assigned(`cols`,
    * centroid_id). */
  private def assignedDuck(cols: String): String =
    s"""assigned AS (
       |  SELECT $cols, cid AS centroid_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                                 ORDER BY csim DESC, cid) AS rn
       |    FROM scored) t WHERE rn = 1)""".stripMargin

  /** DuckDB twin of the one-level quantizer ([[sampledCentroids]] +
    * the list cosines): cents = the first ⌈√N⌉ non-query rows of e,
    * N counted over `countFrom`, and scored(vec_id, embedding, nrm,
    * cid, csim) = every row of e against every centroid. */
  private def sampledScoredDuck(countFrom: String): String =
    s"""cents AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
       |          FROM e WHERE vec_id >= 10 AND vec_id < 10 +
       |            (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM $countFrom)),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, c.cid,
       |    round(${dotDuck("e.embedding", "c.cv")} / (e.nrm * c.cnrm), 9) AS csim
       |  FROM e CROSS JOIN cents c)""".stripMargin

  /** DuckDB twin of the two-level quantizer's list routing
    * (`VectorExpressions.twoLevelModel`): each l2 centroid goes to its
    * nearest l1 centroid, route(cid, l1cid). */
  private lazy val ivfRouteDuck: String =
    s"""route AS (
       |  SELECT cid, l1cid FROM (
       |    SELECT l2.cid, l1.cid AS l1cid,
       |      ROW_NUMBER() OVER (PARTITION BY l2.cid ORDER BY
       |        round(${dotDuck("l2.cv", "l1.cv")} / (l2.cnrm * l1.cnrm), 9)
       |          DESC, l1.cid) AS rn
       |    FROM l2 CROSS JOIN l1) t WHERE rn = 1)""".stripMargin

  /** DuckDB twin of the two-level quantizer over e: l1/l2 = the first
    * k1/k2 non-query rows, [[ivfRouteDuck]], each row's l1 group g, and
    * scored(vec_id, embedding, nrm, cid, csim) against the lists routed
    * to that group. */
  private lazy val ivf2ScoredDuck: String =
    s"""k AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k2,
       |             CAST(ceil(sqrt(ceil(sqrt(COUNT(*))))) AS BIGINT) AS k1
       |      FROM embeddings),
       |l1 AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
       |       FROM e, k WHERE vec_id >= 10 AND vec_id < 10 + k1),
       |l2 AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
       |       FROM e, k WHERE vec_id >= 10 AND vec_id < 10 + k2),
       |$ivfRouteDuck,
       |g AS (
       |  SELECT vec_id, embedding, nrm, l1cid FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, l1.cid AS l1cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(${dotDuck("e.embedding", "l1.cv")} / (e.nrm * l1.cnrm), 9)
       |          DESC, l1.cid) AS rn
       |    FROM e CROSS JOIN l1) t WHERE rn = 1),
       |scored AS (
       |  SELECT g.vec_id, g.embedding, g.nrm, l2.cid,
       |    round(${dotDuck("g.embedding", "l2.cv")} / (g.nrm * l2.cnrm), 9) AS csim
       |  FROM g JOIN route r ON r.l1cid = g.l1cid JOIN l2 ON l2.cid = r.cid)""".stripMargin

  /** [[ivf2ScoredDuck]] + assigned(vec_id, centroid_id) + each query's
    * top-2 lists, probes(qid, probe_cid): the IVF side of the IVF-PQ
    * oracles. */
  private lazy val ivf2ProbesDuck: String =
    s"""$ivf2ScoredDuck,
       |${assignedDuck("vec_id")},
       |probes AS (
       |  SELECT vec_id AS qid, cid AS probe_cid
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                                 ORDER BY csim DESC, cid) AS rn
       |    FROM scored WHERE vec_id < 10) t WHERE rn <= 2)""".stripMargin

  /** DuckDB twin of [[ivfProbeTop3]] over `scored`: assigned rows,
    * each query's top-2 probes, and the top-3 (qid, rk, nid,
    * centroid_id, sim) of the probed lists. */
  private lazy val ivfProbeTop3Duck: String =
    s"""${assignedDuck("vec_id, embedding, nrm")},
       |probes AS (
       |  SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm, cid AS probe_cid
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                                 ORDER BY csim DESC, cid) AS rn
       |    FROM scored WHERE vec_id < 10) t WHERE rn <= 2),
       |sims AS (
       |  SELECT p.qid, a.centroid_id, a.vec_id AS nid,
       |    round(${dotDuck("p.qv", "a.embedding")} / (p.qnrm * a.nrm), 9) AS sim
       |  FROM assigned a JOIN probes p
       |    ON a.centroid_id = p.probe_cid AND p.qid <> a.vec_id)
       |SELECT qid, rk, nid, centroid_id, sim FROM (
       |  SELECT qid, centroid_id, nid, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |                            ORDER BY sim DESC, nid) AS BIGINT) AS rk
       |  FROM sims) t
       |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** The hit count every recall grading shares: `truth` left-joined to
    * `approx` on the (truth, approx) column `pairs` — the neighbor pair
    * last — and grouped by the truth columns `by`: n_exact (truth rows)
    * and n_hits (truth rows the approx side returned). */
  private def hitCounts(truth: DataFrame, approx: DataFrame,
      pairs: Seq[(String, String)], by: String*): DataFrame =
    truth
      .join(approx,
        pairs.map { case (t, a) => col(t) === col(a) }.reduce(_ && _),
        "left_outer")
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_exact"), count(col(pairs.last._2)).as("n_hits"))

  /** The (beam, qid, nid) pairs of the graph-walk sweeps' top-3. */
  private val annPairs =
    Seq("beam" -> "abeam", "qid" -> "aqid", "nid" -> "anid")

  /** Recall@3 grading of the ANN sweeps: `truth` (keys, qid, nid — 3
    * exact neighbors per query) left-joined to `approx` (its keys
    * under the paired names, aqid, anid), per (keys, qid): n_exact,
    * n_hits, recall = n_hits / 3 and the key cell's macro_recall. */
  private def recallAt3(truth: DataFrame, approx: DataFrame,
      keys: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(k => col(k._1)): _*)
    hitCounts(truth, approx, keys ++ Seq("qid" -> "aqid", "nid" -> "anid"),
        keys.map(_._1) :+ "qid": _*)
      .withColumn("recall", round(col("n_hits").cast("double") / 3.0, 6))
      .withColumn("macro_recall",
        round(sum(col("n_hits")).over(w).cast("double") /
          (lit(3.0) * count(lit(1)).over(w)), 6))
  }

  // ---- product quantization (q_ann_pq) --------------------------------
  private val PQ_M = 4              // subspaces
  private val PQ_K = 4              // codewords per subspace
  private val PQ_SUB = DIM / PQ_M   // dims per subspace

  /** PQ_M × K codewords; codeword (m, k) is a PQ_SUB-dim slice. */
  private type Codebook = Array[Array[Seq[Double]]]

  // The one PQ/ADC kernel: q_ann_pq, q_pq_distortion, the IVF-PQ scans
  // and their codebook training all encode, tabulate and rank through
  // pqSub/pqL2/pqCode/adcTop3, so the formula the oracles
  // restate — association, tie-break, round-9 DECIMAL cells — has one
  // definition.

  /** Subspace m of the vector column `enc`. */
  private def pqSub(enc: Column, m: Int): Column = slice(enc, m * PQ_SUB + 1, PQ_SUB)

  /** array<struct<d2, k>>: ||sub − cw||² of subspace m to every
    * codeword k of cb(m), through the one `centroidL2` kernel —
    * (sub·sub + cw·cw) − sub·cw·2 with left-to-right folds, the
    * association the oracle SQL restates — in one plan node however
    * many codewords. */
  private def pqL2(enc: Column, cb: Codebook, m: Int): Column =
    graft.plans.VectorExpressions.centroidL2(pqSub(enc, m),
      cb(m).toSeq.zipWithIndex.map(_.swap))

  /** Nearest codeword of subspace m: array_min over (d2, k), so ties
    * go to the lowest k. */
  private def pqCode(enc: Column, cb: Codebook, m: Int): Column =
    array_min(pqL2(enc, cb, m)).getField("k")

  /** DuckDB twin of [[pqCodebook]] and [[pqL2]]: cw(k, embedding) = the
    * `nCodes` sampled codeword rows, ms = the subspace ids, and d2(vec_id,
    * m, k, d) = the squared L2 distance of each of `rows`' subvectors
    * to each codeword, in the Spark side's (ss_a + ss_b) - dot*2 order. */
  private def pqD2Duck(nCodes: Int, rows: String): String =
    s"""cw AS (SELECT CAST(vec_id - 10 AS INTEGER) AS k, embedding
       |       FROM embeddings WHERE vec_id BETWEEN 10 AND ${9 + nCodes}),
       |ms AS (SELECT unnest(range(0, $PQ_M)) AS m),
       |d2 AS (
       |  SELECT e.vec_id, ms.m, cw.k,
       |    (list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
       |       CAST(e.embedding[ms.m*$PQ_SUB+i] AS DOUBLE) *
       |       CAST(e.embedding[ms.m*$PQ_SUB+i] AS DOUBLE)))
       |     + list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
       |       CAST(cw.embedding[ms.m*$PQ_SUB+i] AS DOUBLE) *
       |       CAST(cw.embedding[ms.m*$PQ_SUB+i] AS DOUBLE)))
       |     - list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
       |       CAST(e.embedding[ms.m*$PQ_SUB+i] AS DOUBLE) *
       |       CAST(cw.embedding[ms.m*$PQ_SUB+i] AS DOUBLE))) * 2) AS d
       |  FROM $rows, ms, cw)""".stripMargin

  /** DuckDB twin of [[pqCode]] and the ADC table: codes(vec_id, m, code)
    * = the argmin codeword per subspace by (d, k), and qtab(qid, m, k,
    * dd) = each query's round-9 DECIMAL distance table. */
  private lazy val pqCodesDuck: String =
    s"""codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                                            ORDER BY d, k) AS rn
       |    FROM d2) t WHERE rn = 1),
       |qtab AS (
       |  SELECT vec_id AS qid, m, k, CAST(round(d, 9) AS DECIMAL(18,9)) AS dd
       |  FROM d2 WHERE vec_id < 10)""".stripMargin

  /** The ADC top-3 scan. Candidates are ENCODED once into PQ_M codes (a
    * map-side projection over literal codewords); each query builds its
    * PQ_M × K distance table ONCE on the broadcast side, with cells
    * rounded to 9 places and cast to DECIMAL(18,9) so the lookup-sum is
    * order-independent and oracle-exact; a candidate then costs PQ_M
    * array lookups + PQ_M−1 adds instead of a 64-dim scan. Both frames
    * carry `vec_id` and the column `enc` names. `lists` = (candidate
    * list column, query probe column) restricts each query to the
    * inverted lists it probes (IVF-PQ, an equi-join); None scans every
    * other vector. Returns qid, nid, the list column, `approx` (the
    * DECIMAL sum) and rk (BIGINT, ≤ 3, by approx then nid). */
  private def adcTop3(cand: DataFrame, queries: DataFrame, enc: Column,
      cb: Codebook, lists: Option[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val ms = 0 until PQ_M
    val codes = cand.select(Seq(col("vec_id").as("nid")) ++
      lists.map(l => col(l._1)) ++ ms.map(m => pqCode(enc, cb, m).as(s"c$m")): _*)
    val tables = queries.select(Seq(col("vec_id").as("qid")) ++
      lists.map(l => col(l._2)) ++ ms.map(m =>
        transform(pqL2(enc, cb, m), x =>
          round(x.getField("d2"), 9).cast(DecimalType(18, 9))).as(s"dtab$m")): _*)
    val approx = ms.map(m =>
      element_at(col(s"dtab$m"), (col(s"c$m") + 1).cast("int"))).reduce(_ + _)
    val notSelf = col("qid") =!= col("nid")
    val w = Window.partitionBy(col("qid")).orderBy(col("approx"), col("nid"))
    codes.join(broadcast(tables),
        lists.fold(notSelf) { case (c, p) => col(c) === col(p) && notSelf })
      .withColumn("approx", approx)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
  }

  /** `df`'s vectors in column `v`, collected in vec_id order — the
    * bounded driver fetch every sampled codebook starts from. */
  private def vecRows(df: DataFrame, v: Column): Array[Seq[Double]] =
    df.select(col("vec_id"), v).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).map(_._2)

  /** Codeword (m, k) = the m-th PQ_SUB slice of rows(k). */
  private def pqSlices(rows: Array[Seq[Double]], k: Int): Codebook =
    Array.tabulate(PQ_M, k)((m, i) => rows(i).slice(m * PQ_SUB, (m + 1) * PQ_SUB))

  /** PQ codebook: codeword (m,k) = the m-th 16-dim slice of the
    * embedding of vec_id 10+k — deterministic sampled codewords (same
    * rationale as [[sampledCentroids]]: no Lloyd iterations, so the
    * DuckDB oracle restates the codebook exactly). Collected
    * driver-side (PQ_K rows) for literal inlining.
    *
    * Unlike the IVF/SemDedup list count, PQ_K deliberately does NOT
    * scale with N: in published PQ the per-subspace codeword count is a
    * fixed MODEL constant (256, one byte per code) at any corpus size —
    * code width, not list fan-out, is what PQ trades for recall. The
    * scale knobs for PQ are M (subspaces) and composing with an IVF
    * stage (IVF-PQ), whose nlist DOES grow ~sqrt(N) via [[sqrtK]]. Here
    * PQ_K=4 keeps the oracle-restated codebook small; the per-candidate
    * cost is M lookups regardless of PQ_K, so a fixed PQ_K creates no
    * quadratic term at 100×. */
  private def pqCodebook(s: SparkSession, d: String, nCodes: Int = PQ_K): Codebook =
    pqSlices(vecRows(loadEmbeddings(s, d).filter(col("vec_id").between(10, 9 + nCodes)),
      col("embedding")), nCodes)

  // ---- Lloyd (q_kmeans, the IVF-PQ coarse quantizer) ------------------

  /** One exact Lloyd round over the vector column `v` of `corpus`: the
    * kernel assignment (d² = (v·v + c·c) − v·c·2 with left-to-right dot
    * folds, ties → lowest cid; one codegen node, so the plan does not
    * grow with K) plus the fixed-point VecSum re-estimation
    * (order-independent Long sums — reproducible and oracle-exact).
    * Returns (cluster, sums, n), one row per non-empty cluster. */
  private def lloydSums(corpus: DataFrame, v: Column,
      cents: Seq[(Int, Seq[Double])]): DataFrame =
    corpus.withColumn("best",
        array_min(graft.plans.VectorExpressions.centroidL2(v, cents)))
      .withColumn("cluster", col("best.k"))
      .groupBy(col("cluster"))
      .agg(graft.functions.VecSum.vecSumScaled(v, DIM).as("sums"),
        count(lit(1)).as("n"))

  /** Decode a fixed-point VecSum cell: sums / n / 1e6 per dim. */
  private def fixedMean(sums: Seq[Long], n: Long): Seq[Double] =
    sums.map(sv => sv.toDouble / n.toDouble / 1000000.0)

  /** `rounds` collected Lloyd rounds over `corpus` at K = k: seeds are
    * the vectors of vec_id 10..10+k-1 (cid = vec_id − 10), each round
    * is one [[lloydSums]]. Returns the TRAINED centroids (what FAISS
    * calls the coarse quantizer after train()); empty clusters drop
    * out, keeping their seed cid labels on the survivors. Driver
    * traffic: k rows per round — the sampledCentroids collect bound. */
  private def lloyd(corpus: DataFrame, v: Column, k: Int,
      rounds: Int): Seq[(Int, Seq[Double])] = {
    val seeds = corpus
      .filter(col("vec_id") >= 10 && col("vec_id") < lit(10L + k))
      .select(col("vec_id"), v).collect()
      .map(r => ((r.getLong(0) - 10).toInt, r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq
    (1 to rounds).foldLeft(seeds) { (c, _) =>
      lloydSums(corpus, v, c).collect()
        .map(r => (r.getInt(0), fixedMean(r.getSeq[Long](1).toSeq, r.getLong(2))))
        .sortBy(_._1).toSeq
    }
  }

  // ---- IVF-PQ (q_ann_ivfpq and its recall sweeps) --------------------

  /** Residual v − c(v) as column `enc`: `df` joined on `cidCol` to the
    * broadcast centroid dim `centDim` (ccid, cvec). */
  private def withResidual(df: DataFrame, centDim: DataFrame, cidCol: String): DataFrame =
    df.join(broadcast(centDim), col(cidCol) === col("ccid"))
      .withColumn("enc", zip_with(col("embedding"), col("cvec"), (a, b) => a - b))
      .drop("ccid", "cvec")

  /** Exact L2 top-3 (qid, nid) for the queries vec_id < 10 of `corpus`
    * — the truth side of the IVF-PQ recall sweeps, from a 10-row
    * broadcast join (the documented offline-evaluation shape). */
  private def exactL2Top3(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val cand = corpus.select(col("vec_id").as("nid"),
      col("embedding").as("nv"), col("nrm").as("nnrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    cand.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("d2", round(
        col("qnrm") * col("qnrm") + col("nnrm") * col("nnrm")
          - dot(col("qv"), col("nv")) * 2.0d, 9))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("nid"))
  }

  /** DuckDB twin of [[exactL2Top3]] per code_k cell of ks, graded: the
    * exact L2 top-3 of each query over e, left-joined to approx(a_code_k,
    * aqid, anid) into per-(code_k, qid) recall and each cell's macro
    * recall — the tail of the IVF-PQ recall oracles. */
  private lazy val exactL2RecallDuck: String =
    s"""exact AS (
       |  SELECT ks.code_k, t.qid, t.nid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS nid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(q.nrm * q.nrm + c.nrm * c.nrm -
       |          ${dotDuck("q.embedding", "c.embedding")} * 2, 9), c.vec_id)
       |        AS rk
       |    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id) t, ks
       |  WHERE rk <= 3),
       |per_q AS (
       |  SELECT exact.code_k, qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |    CAST(COUNT(anid) AS BIGINT) AS n_hits
       |  FROM exact LEFT JOIN approx
       |    ON exact.code_k = approx.a_code_k
       |      AND exact.qid = approx.aqid AND exact.nid = approx.anid
       |  GROUP BY exact.code_k, qid)
       |SELECT CAST(code_k AS BIGINT) AS code_k, qid, n_exact, n_hits,
       |  round(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall,
       |  round(CAST(SUM(n_hits) OVER (PARTITION BY code_k) AS DOUBLE) /
       |    (3.0 * COUNT(*) OVER (PARTITION BY code_k)), 6) AS macro_recall
       |FROM per_q ORDER BY code_k, qid""".stripMargin

  /** Codewords per subspace for the COMPOSED IVF-PQ scan. PQ_K = 4 is
    * kept for q_ann_pq / q_pq_distortion (small oracle-restated
    * codebook); the composed layout runs 16 because at K = 4 ADC ties
    * bury any fine ranking (the documented q_pq_distortion finding —
    * a K-4 code identifies only 256 cells over a 64-dim space). In
    * production this is the fixed model constant 256 (one byte per
    * code); it does NOT scale with N — list fan-out (sqrtK) does. */
  private val IVFPQ_K = 16

  /** The composed IVF-PQ scan — the production layout the PQ scaladoc
    * names: the q_ann_ivf2 two-level coarse quantizer routes every
    * vector to an inverted list, vectors are PQ-encoded ONCE (M=4
    * one-byte codes, map-side argmin over the sampled codebook — the
    * q_ann_pq device at IVFPQ_K codewords), and a query (vec_id < 10)
    * probes the top-2 lists within its routed group scanning ONLY
    * CODES: its M×K distance table rides the 10-row broadcast side
    * and each in-list candidate costs M array lookups + M−1 DECIMAL
    * adds — never a 64-dim scan, never a full-corpus pass. Raw-vector
    * PQ (FAISS IVFPQ by_residual=false): residual encoding would tie
    * the codebook to the coarse assignment and is a recall knob, not
    * a layout change. Scale shape: assignment + encoding are narrow
    * map-side projections (model/codebook are bounded driver fetches
    * shipped as reference objects inside single codegen nodes); the
    * only join is the probe-list equi-join with the query side
    * broadcast; ranking is a per-qid window over in-list candidates.
    * At 100 TB: codes are 64× less I/O than raw vectors and the probe
    * join touches ~nprobe/nlist of them. */
  private def ivfpqTopk(s: SparkSession, d: String,
      corpus: DataFrame, nCodes: Int = IVFPQ_K,
      residual: Boolean = false): DataFrame = {
    val nIdx = Tables(s, d, "embeddings").count()
    val k2 = sqrtK(nIdx)
    // totality: the model needs codeword-source vec_ids (10..10+K raw;
    // 10+k2..10+k2+K residual — beyond the centroid range) and at
    // least one centroid — an empty/tiny index has no stored model,
    // so the scan degrades to an empty frame (EmptyInputSpec), the
    // q_ann_incremental guard posture.
    // FLOOR MIRRORED IN THE ORACLES (r13, closes VERDICT r12 item 2):
    // every ivfpq oracle now restates this exact predicate — q_ann_
    // ivfpq's final WHERE drops all rows below 10+IVFPQ_K embeddings,
    // the recall/residual codes CTEs drop a code budget's codes below
    // its per-K floor (so that K's n_hits reads 0, as the engine's
    // empty approxTop does), and the Lloyd oracle empties below
    // 10+k2+IVFPQ_K — so engine ≡ oracle on a tiny-but-nonempty
    // corpus too (11-25 embeddings), not just on the pinned fixtures
    // (sf0.001 has 600; EmptyInputSpec covers the fully-empty end).
    // ApproxSpec pins the engine side of the band at 12 embeddings.
    if (nIdx < 10L + nCodes || (residual && nIdx < 10L + k2 + nCodes))
      return s.range(0).select(col("id").as("qid"), col("id").as("rk"),
        col("id").as("nid"), col("id").as("centroid_id"),
        col("id").cast("double").as("approx_d2"))
    val leaves = sampledCentroids(s, d, k2)
    val model = graft.plans.VectorExpressions.twoLevelModel(
      sampledCentroids(s, d, sqrtK(k2.toLong)), leaves)
    val assigned = corpus.withColumn("arr",
      graft.plans.VectorExpressions.twoLevelCentroidCosines(
        col("embedding"), col("nrm"), model))
      .withColumn("centroid_id",
        array_max(col("arr")).getField("negcid") * -1)
    val probeBase = assigned.filter(col("vec_id") < 10)
      .withColumn("p", explode(slice(reverse(array_sort(col("arr"))), 1, 2)))
      .withColumn("probe_cid", col("p.negcid") * -1)

    // (candidates, probes, codebook): the RAW variant
    // quantizes vectors directly; the RESIDUAL variant (FAISS IVFPQ
    // by_residual=true, the production default) quantizes v − c(v) —
    // the codebook spends its bits on within-list displacement instead
    // of re-describing list location, and a query's distance table is
    // built per PROBED LIST from q − c_list (each probe row carries
    // its own list's table; the probe equi-join guarantees a candidate
    // only ever meets its matching-list table). Residual codeword
    // sources sit BEYOND the centroid range (ids 10+k2 .. 10+k2+K):
    // the raw codebook's sources (ids 10..10+K) ARE the leaf
    // centroids, and a centroid's residual under its own assignment
    // is the ZERO vector — a residual codebook sampled there is
    // identically zero, every ADC sum constant, and recall pins at 0
    // (measured; the degenerate-sampling analog of q_ann_recall's r7
    // finding). Residuals come through the KERNEL assignment as a
    // K-row bounded collect, so the codebook cannot drift from the
    // scan's own routing.
    val (cand, probes, cb) =
      if (!residual) (assigned, probeBase, pqCodebook(s, d, nCodes))
      else {
        import s.implicits._
        val centDim = leaves.map { case (cid, v, _) => (cid, v) }.toSeq
          .toDF("ccid", "cvec")
        val cbRes = pqSlices(vecRows(withResidual(
          assigned.filter(
            col("vec_id") >= 10L + k2 && col("vec_id") < 10L + k2 + nCodes),
          centDim, "centroid_id"), col("enc")), nCodes)
        (withResidual(assigned, centDim, "centroid_id"),
          withResidual(probeBase, centDim, "probe_cid"), cbRes)
      }
    adcTop3(cand, probes, if (residual) col("enc") else col("embedding"), cb,
        Some(("centroid_id", "probe_cid")))
      .select(col("qid"), col("rk"), col("nid"), col("centroid_id"),
        col("approx").cast("double").as("approx_d2"))
  }

  /** The Lloyd-trained IVF-PQ recall sweep (VERDICT r11 item 1) —
    * re-measures FAISS's by_residual knob with a TRAINED coarse
    * quantizer, closing the r11 finding that residual encoding
    * underperforms raw under *sampled* centroids (non-Lloyd centroids
    * don't shrink residuals; Similarity's residual-curve comment named
    * the cause). Layout: single-level IVF (the classic FAISS IVF) at
    * nlist = ⌈√N⌉, centroids from [[lloyd]] (two exact q_kmeans
    * rounds over the planted corpus), index assignment +
    * nprobe=2 probes by exact d² under the trained model, then the
    * q_ann_ivfpq ADC scan at code budgets K ∈ {4, 16} for BOTH
    * variants in one frame, scored against the exact L2 top-3 — so
    * "residual ≥ raw at equal code budget" is one artifact, not a
    * cross-query diff. Codebooks stay sampled (raw: ids 10..10+K-1;
    * residual: the ids-beyond-the-centroid-range discipline,
    * 10+k2..10+k2+K-1, encoded v − c(v) under the TRAINED assignment),
    * so the only change vs q_ann_ivfpq_recall/_residual is the trained
    * quantizer — the knob is isolated. Scale shape: three Lloyd/index
    * assignment passes (K-independent kernel, k2-row driver fetches),
    * four encode passes (2 variants × 2 K — sweep cost, like the
    * recall curves), probe equi-joins with the 10-row query side
    * broadcast, grid-sized output (2×2×10). */
  private def ivfpqLloydRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nIdx = Tables(s, d, "embeddings").count()
    val k2 = sqrtK(nIdx)
    // totality: centroid seeds + beyond-range residual codeword
    // sources must exist (the ivfpqTopk guard posture; same
    // fixture-size precondition note applies)
    if (nIdx < 10L + k2 + IVFPQ_K)
      return s.range(0).select(lit("").as("variant"),
        col("id").as("code_k"), col("id").as("qid"),
        col("id").as("n_exact"), col("id").as("n_hits"),
        col("id").cast("double").as("recall"),
        col("id").cast("double").as("macro_recall"))
    val corpus = plantedCorpus(s, d).persist()
    val cents = lloyd(corpus, col("embedding"), k2, rounds = 2)
    // index assignment + nprobe=2 probes under the TRAINED model
    val arr = graft.plans.VectorExpressions.centroidL2(col("embedding"), cents)
    val assigned = corpus.withColumn("arr", arr)
      .withColumn("centroid_id", array_min(col("arr")).getField("k"))
      .drop("arr")
    val probeBase = corpus.filter(col("vec_id") < 10)
      .withColumn("arr", arr)
      .withColumn("p", explode(slice(array_sort(col("arr")), 1, 2)))
      .withColumn("probe_cid", col("p.k"))
      .drop("arr", "p")
    val centDim = cents.toDF("ccid", "cvec")
    // codebooks (sampled, prefix-nested: K=4 is the first 4 rows of
    // K=16): raw from ids 10..10+K-1, residual from the beyond-range
    // sources' encodings under the trained assignment
    val rawRows = vecRows(corpus
      .filter(col("vec_id") >= 10 && col("vec_id") < lit(10L + IVFPQ_K)),
      col("embedding"))
    val resRows = vecRows(withResidual(
        assigned.filter(col("vec_id") >= lit(10L + k2) &&
          col("vec_id") < lit(10L + k2 + IVFPQ_K)), centDim, "centroid_id"),
      col("enc"))
    // per-subspace codebook Lloyd (FAISS ProductQuantizer::train): two
    // rounds of per-m argmin assignment (the kernel's d² and lowest-code
    // tie-break) + fixed-point VecSum re-estimation over the 16-dim
    // subvectors; an EMPTY code cell keeps its previous-round codeword
    // (the COALESCE rule, restated by the oracle's grid join). Both
    // variants train identically on their own encodings, so the
    // residual-vs-raw comparison stays fair. Driver traffic:
    // PQ_M × K rows per round.
    def trainCb(encFrame: DataFrame, enc: Column, seed: Codebook): Codebook =
      (1 to 2).foldLeft(seed) { (cb, _) =>
        val cells = encFrame.select(explode(array((0 until PQ_M).map(m =>
            struct(lit(m).as("m"), pqCode(enc, cb, m).as("code"),
              pqSub(enc, m).as("sub"))): _*)).as("a"))
          .select(col("a.m").as("m"), col("a.code").as("code"),
            col("a.sub").as("sub"))
          .groupBy(col("m"), col("code"))
          .agg(graft.functions.VecSum.vecSumScaled(col("sub"), PQ_SUB).as("sums"),
            count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) ->
            fixedMean(r.getSeq[Long](2).toSeq, r.getLong(3)))
          .toMap
        Array.tabulate(PQ_M, cb(0).length)((m, k) =>
          cells.getOrElse((m, k), cb(m)(k)))
      }
    // one trained-codebook ADC pass (the ivfpqTopk scan at a single
    // level) per sweep arm
    def adcTop(variant: String, ck: Int): DataFrame = {
      val residual = variant == "residual"
      val (cand, probes, enc) =
        if (!residual) (assigned, probeBase, col("embedding"))
        else (withResidual(assigned, centDim, "centroid_id"),
          withResidual(probeBase, centDim, "probe_cid"), col("enc"))
      val cb = trainCb(cand, enc, pqSlices(if (residual) resRows else rawRows, ck))
      adcTop3(cand, probes, enc, cb, Some(("centroid_id", "probe_cid")))
        .select(lit(variant).as("avariant"), lit(ck.toLong).as("a_code_k"),
          col("qid").as("aqid"), col("nid").as("anid"))
    }
    // The four sweep arms are independent experiments whose codebook
    // training is collect-bounded (2 sequential driver rounds each):
    // run them concurrently (Tables.inParallelSeq, guide §2.6
    // overlap-independent-jobs) so one arm's Lloyd collects back-fill
    // the executors another arm's tail leaves idle. Arms never share
    // mutable state (each trains its own codebook off the persisted
    // corpus); result rows are identical to the sequential build, the
    // union order is fixed by the arms list.
    val approxTop = Tables.inParallelSeq(
      for (v <- Seq("raw", "residual"); ck <- Seq(4, 16))
        yield () => adcTop(v, ck)).reduce(_ unionByName _)
    val exact = exactL2Top3(corpus)
      .select(col("qid"), col("nid"),
        explode(typedlit(Seq("raw", "residual"))).as("variant"))
      .select(col("variant"), col("qid"), col("nid"),
        explode(typedlit(Seq(4L, 16L))).as("code_k"))
    recallAt3(exact, approxTop,
        Seq("variant" -> "avariant", "code_k" -> "a_code_k"))
      .orderBy(col("variant"), col("code_k"), col("qid"))
  }

  /** The K ∈ {4, 16} recall-vs-code-budget curve against exact L2
    * top-3 truth on the shared planted corpus — ONE definition for
    * the raw (q_ann_ivfpq_recall) and residual (q_ann_ivfpq_residual)
    * variants; see the q_ann_ivfpq_recall comment for the sweep's
    * design rationale. */
  private def ivfpqRecallCurve(s: SparkSession, d: String,
      residual: Boolean): DataFrame = {
    val corpus = plantedCorpus(s, d)
    val approxTop = Seq(4, 16).map { ck =>
      ivfpqTopk(s, d, corpus, ck, residual)
        .select(lit(ck.toLong).as("a_code_k"),
          col("qid").as("aqid"), col("nid").as("anid"))
    }.reduce(_ unionByName _)
    recallAt3(exactL2Top3(corpus).select(col("qid"), col("nid"),
        explode(typedlit(Seq(4L, 16L))).as("code_k")),
      approxTop, Seq("code_k" -> "a_code_k"))
      .orderBy(col("code_k"), col("qid"))
  }

  // ---- stored-index ANN admission (q_ann_incremental + drain) ---------

  /** The STORED index side of incremental ANN admission: the two-level
    * model sampled from the INDEX corpus only (vec_id % 7 ≠ 3; a model
    * built before the batch arrived cannot contain batch vectors —
    * centroids are the first K index vectors with vec_id ≥ 10,
    * prefix-nested like q_ann_ivf2's, fetched as the bounded
    * K = ⌈√|index|⌉ driver collect) plus the index frame with its list
    * assignment — the column a production index STORES and prior runs
    * maintain (recomputed here only because the sandbox has no
    * persisted index, the q_dedup_incremental posture). None when the
    * index is empty or has no centroid-eligible rows: no stored model
    * → nothing to admit against (EmptyInputSpec — an empty frame, not
    * a zero-centroid kernel). ONE definition shared by the batch
    * query and the streaming drain, which prepares this once and
    * admits every micro-batch against it. */
  private[operators] def annIndexModel(s: SparkSession, d: String)
      : Option[(graft.plans.TwoLevelCentroidModel,
        DataFrame)] = {
    val e = loadEmbeddings(s, d)
    val index = e.filter(!(col("vec_id") % 7 === 3))
    val k2 = sqrtK(index.count())
    lazy val leaves = firstCentroids(index, k2)
    if (k2 == 0 || leaves.isEmpty) None
    else {
      val model = graft.plans.VectorExpressions.twoLevelModel(
        firstCentroids(index, sqrtK(k2.toLong)), leaves)
      val cand = index.withColumn("arr",
          graft.plans.VectorExpressions.twoLevelCentroidCosines(
            col("embedding"), col("nrm"), model))
        .select(col("vec_id").as("nid"),
          col("embedding").as("nv"), col("nrm").as("nnrm"),
          (array_max(col("arr")).getField("negcid") * -1).as("centroid_id"))
      Some((model, cand))
    }
  }

  /** Admit a batch of (vec_id, embedding, nrm) rows against the stored
    * model: route each to its head group, probe the top-2 lists within
    * the group (the q_ann_ivf2 probe path), rank the index members of
    * those lists by round-9 cosine, report top-3 neighbors plus
    * insert_cid — the list the vector is admitted into. Per-batch
    * work: batch assignment (one codegen node) + a probe-list
    * equi-join bounded by shared lists, with the batch (the small side
    * by construction) broadcast. UNORDERED — callers order or append. */
  private[operators] def annAdmitWith(
      model: graft.plans.TwoLevelCentroidModel,
      cand: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = batch.withColumn("arr",
        graft.plans.VectorExpressions.twoLevelCentroidCosines(
          col("embedding"), col("nrm"), model))
      .withColumn("insert_cid",
        array_max(col("arr")).getField("negcid") * -1)
      .withColumn("p", explode(slice(reverse(array_sort(col("arr"))), 1, 2)))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("insert_cid"),
        (col("p.negcid") * -1).as("probe_cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    cand.join(broadcast(probes), col("centroid_id") === col("probe_cid"))
      .withColumn("sim",
        round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("insert_cid"), col("rk"), col("nid"),
        col("centroid_id"), col("sim"))
  }

  private[operators] def annAdmitEmpty(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("qid"),
      col("id").as("insert_cid"), col("id").as("rk"),
      col("id").as("nid"), col("id").as("centroid_id"),
      col("id").cast("double").as("sim"))

  /** Scale knob for the coarse quantizers: K = ceil(sqrt(N)) lists —
    * the standard IVF parameterization (nlist ~ sqrt(N), the published
    * FAISS tuning guideline). Both the list COUNT and the expected list
    * SIZE then grow ~sqrt(N), so a within-list self-join does ~N^1.5
    * total pair work instead of the N² an all-pairs pass (or a fixed K)
    * degrades to. N comes from a 1-row count aggregate — a scalar to
    * the driver, same tier as the k-means fixpoint probe — and every
    * DuckDB oracle restates the identical ceil(sqrt(COUNT(*))) formula,
    * so greenness survives any SF. */
  /** The index-evaluation corpus: embeddings ∪ three planted
    * near-duplicates per query vector (one coordinate bumped by
    * 0.1·‖v‖ under reserved ids — cosine ≈ 0.995 vs the ~0.3 noise
    * floor), shared by q_ann_recall and q_ivf_tuning so both sweeps
    * score against the same recoverable structure. */
  private def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = loadEmbeddings(s, d)
    val planted = base.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(typedlit(Seq(1, 2, 3))).as("c"))
      .select(
        (lit(1000000L) + col("vec_id") * 10 + col("c")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === col("c") - 1, x + lit(0.1) * col("nrm"))
            .otherwise(x)).as("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    base.unionByName(planted)
  }

  /** DuckDB twin of [[plantedCorpus]] up to its union: CTEs q0, planted
    * and aug(vec_id, embedding). Oracles that widen the corpus rows
    * themselves (q_ann_recall adds the LSH bucket) start here. */
  private lazy val plantedAugDuck: String =
    s"""q0 AS (SELECT vec_id, embedding, $normDuck AS nrm
       |            FROM embeddings WHERE vec_id < 10),
       |planted AS (
       |  SELECT 1000000 + vec_id * 10 + c AS vec_id,
       |    list_transform(range(1, ${DIM + 1}), i ->
       |      CASE WHEN i = c THEN CAST(embedding[i] AS DOUBLE) + 0.1 * nrm
       |           ELSE CAST(embedding[i] AS DOUBLE) END) AS embedding
       |  FROM q0, (VALUES (1), (2), (3)) t(c)),
       |aug AS (
       |  SELECT vec_id, list_transform(range(1, ${DIM + 1}), i ->
       |      CAST(embedding[i] AS DOUBLE)) AS embedding
       |  FROM embeddings
       |  UNION ALL SELECT vec_id, embedding FROM planted)""".stripMargin

  /** DuckDB twin of [[plantedCorpus]]: [[plantedAugDuck]] closed by
    * e(vec_id, embedding, nrm), the frame every planted-corpus oracle
    * indexes and searches. */
  private lazy val plantedCorpusDuck: String =
    s"""$plantedAugDuck,
       |e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM aug)""".stripMargin

  // ---- graph-based ANN: NN-Descent (q_ann_graph) -----------------------

  /** Init-block prefix width (chars of the LSH bucket signature) for the
    * NN-Descent seed graph: 4 of the 8-char signature → 16 seed blocks
    * on the test corpus; at corpus scale the width grows with log2(N)
    * exactly like [[N_PLANES]], keeping within-block seed work
    * constant. [[annGraphRecall]] and [[annGraphRecallOracle]] take it
    * as a parameter so a spec can sweep a second width. */
  private val NN_INIT_WIDTH = 4

  /** NN-Descent neighbor count (k of the k-NN graph). 4 ≥ the planted-
    * truth depth 3, which makes per-query recall provably monotone in
    * rounds: each round keeps the top-k of a SUPERSET of the previous
    * edge set, and the 3 planted near-dups outrank every noise pair,
    * so once found they can never be evicted from a k=4 list. */
  private val NN_K = 4

  /** Corpus rows widened to NN-Descent node frame: (vec_id, embedding,
    * nrm, blk) where blk is the first `width` chars of the
    * hyperplane signature. localCheckpointed — every round joins it
    * twice. */
  private def nnNodes(e: DataFrame, width: Int = NN_INIT_WIDTH): DataFrame =
    e.select(col("vec_id"), col("embedding"), col("nrm"),
        substring(col("bucket"), 1, width).as("blk"))
      .cut()

  /** q_ann_graph_recall at seed-block width `width`: recall@3 of the
    * NN-Descent graph after 0, 1 and 2 rounds on the planted corpus. */
  private[graft] def annGraphRecall(s: SparkSession, d: String,
      width: Int = NN_INIT_WIDTH): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nodes = nnNodes(plantedCorpus(s, d)
      .withColumn("bucket", bucketCol(col("embedding"))), width)
    val w = Window.partitionBy(col("rnd"), col("src"))
      .orderBy(col("sim").desc, col("dst"))
    val ranked = nnDescentEdges(nodes, rounds = 2).zipWithIndex
      .map { case (df, i) =>
        nnScored(df.filter(col("src") < 10), nodes)
          .withColumn("rnd", lit(i)) }
      .reduce(_ unionByName _)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("rnd").as("arnd"), col("src").as("aqid"),
        col("dst").as("anid"))
    val truth = nodes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        explode(typedlit(Seq(1, 2, 3))).as("c"))
      .select(col("qid"),
        (lit(1000000L) + col("qid") * 10 + col("c")).as("nid"),
        explode(typedlit(Seq(0, 1, 2))).as("rnd"))
    recallAt3(truth, ranked, Seq("rnd" -> "arnd"))
      .select(col("rnd").cast("long").as("rnd"), col("qid"),
        col("n_exact"), col("n_hits"), col("recall"), col("macro_recall"))
      .orderBy(col("rnd"), col("qid"))
  }

  /** NN-Descent (Dong, Charikar & Li, WWW'11) with every source of
    * randomness replaced by a deterministic total order, which is what
    * makes a graph ANN index DuckDB-oracle-able at all:
    *
    *   - seed graph: per node, the k=[[NN_K]] same-block peers ranked
    *     by md5(src||'|'||dst) — the md5 rank is the "random sample"
    *     (the q_split_hash device), identical on both engines;
    *   - reverse-neighbor sampling (the paper's ρ·K cap): top-k
    *     REVERSE edges per node under the same md5 order — this is the
    *     bound that keeps hub nodes from exploding the local join
    *     (without it a node with R reverse edges contributes R²
    *     candidate pairs; with it ≤ (2k)² = 64);
    *   - local join: all ordered pairs of distinct neighbors sharing a
    *     pivot in the capped bidirectional graph — pure equi-join on
    *     the pivot, no cartesian anywhere;
    *   - update: per node, top-k of (current ∪ candidate) edges by
    *     (round-9 cosine DESC, dst) — a window, not a float argmax.
    *
    * Each round is ≤ N·(2k)² candidate sims through two hash joins to
    * the node frame — shuffle-partitioned, hub-bounded, and
    * localCheckpointed so no round replays the last (the iterative-
    * kernel discipline of q_modularity/q_sssp). Rounds are FIXED (no
    * convergence probe) because the oracle unrolls them as chained
    * CTEs — the q_kcenter_seeds/BPE unroll precedent.
    *
    * Returns the edge frame (src, dst) per round: element 0 is the
    * md5-seeded graph, element i the graph after i descent rounds. */
  private def nnDescentEdges(nodes: DataFrame, rounds: Int): Seq[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val k = NN_K
    val wH = Window.partitionBy(col("src")).orderBy(col("h"), col("dst"))
    val init = nodes.select(col("vec_id").as("src"), col("blk"))
      .join(nodes.select(col("vec_id").as("dst"), col("blk").as("blk2")),
        col("blk") === col("blk2") && col("src") =!= col("dst"))
      .withColumn("h", md5(concat_ws("|", col("src"), col("dst"))))
      .withColumn("rk", row_number().over(wH))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"))
      .cut()
    descentRounds(nodes, init, rounds)
  }

  /** Descending (sim, then id asc) struct comparator with Spark
    * SortOrder double semantics: primitive </> treats -0.0 == 0.0;
    * NaN explicitly ranked greatest (first in this descending order)
    * to mirror nanSafeCompareDoubles — unreachable on real corpora
    * (nrm > 0), kept so the array kernels are order-identical to the
    * window ranks they replaced even on degenerate input. Shared by
    * the beam walk ([[beamWalkFrom]]) and the descent update. */
  private def simDescOrd(idField: String): (Column, Column) => Column =
    (l: Column, r: Column) =>
      when(l.getField("sim") > r.getField("sim"), -1)
        .when(r.getField("sim") > l.getField("sim"), 1)
        .when(isnan(l.getField("sim")) && !isnan(r.getField("sim")), -1)
        .when(isnan(r.getField("sim")) && !isnan(l.getField("sim")), 1)
        .when(l.getField(idField) < r.getField(idField), -1)
        .when(l.getField(idField) > r.getField(idField), 1)
        .otherwise(0)

  /** Per-pivot bidirectional adjacency in ONE pass over an edge frame
    * (r16): (u, fwd, bi) where fwd = u's out-neighbor list and
    * bi = distinct(fwd ∪ the md5-capped top-[[NN_K]] REVERSE
    * neighbors — the paper's ρK hub bound). Each edge row emits its
    * forward and reverse contributions into ONE groupBy(u), so the
    * reverse cap (previously a window over the transposed frame) and
    * the cur ∪ rev distinct (previously a union+distinct shuffle)
    * both collapse into in-row array ops after a single exchange.
    * Array bounds are the degree caps themselves: |fwd| ≤ k from the
    * previous round's top-k, |rev candidates| ≤ the node's reverse
    * degree (hub-bounded at ≤ N but capped to k immediately inside
    * the aggregate) — row-local, no skewed pair blowup. */
  private def biAdj(edges: DataFrame): DataFrame = {
    val k = NN_K
    // typed null for the rev slot of forward emissions (when without
    // otherwise = null of the branch type)
    val revNull = when(lit(false), struct(lit("").as("h"), lit(0L).as("node")))
    edges.select(explode(array(
        struct(col("src").as("u"), col("dst").as("fwd"), revNull.as("rev")),
        struct(col("dst").as("u"), lit(null).cast("long").as("fwd"),
          struct(md5(concat_ws("|", col("dst"), col("src"))).as("h"),
            col("src").as("node")).as("rev")))).as("e"))
      .select(col("e.u").as("u"), col("e.fwd").as("fwd"),
        col("e.rev").as("rev"))
      .groupBy(col("u"))
      .agg(collect_list(col("fwd")).as("fwd"),
        transform(slice(array_sort(collect_list(col("rev"))), 1, k),
          r => r.getField("node")).as("revk"))
      .select(col("u"), col("fwd"),
        array_distinct(concat(col("fwd"), col("revk"))).as("bi"))
  }

  /** The descent loop over ANY seed graph — shared by the block-seeded
    * base index ([[nnDescentEdges]]) and q_ann_layered's ring-seeded
    * √N upper layer. Element 0 is the seed, element i the graph after
    * i rounds; every bound (reverse-edge md5 cap, (2k)² local join)
    * is the one documented above.
    *
    * r16 shape: each round is TWO exchanges instead of five. The
    * reverse cap + bidirectional union ride [[biAdj]]'s single
    * groupBy; the local join (all ordered neighbor pairs sharing a
    * pivot) is emitted IN-ROW from the pivot's bi array (≤ (2k)²
    * structs per pivot — the same bound the relational join had) into
    * one groupBy(src) that also dedups candidates (array_distinct
    * replaces the union+distinct shuffle); the top-k update is an
    * in-row sort of the scored candidate array (replaces the window
    * shuffle), with both embedding joins broadcast against the
    * checkpointed node frame. Row-identical: same candidate sets,
    * same round-9 sims, same (sim DESC, dst) order with the nan-safe
    * comparator, same k cut. Per-round localCheckpoint kept —
    * q_ann_graph_recall consumes EVERY round's frame, and the cut
    * keeps each round's two-exchange plan from re-deriving the last.
    *
    * REFUTED (r16 session 2): fusing the rounds into one execution
    * for .last-only callers (cutRounds flag, per-round cut dropped —
    * safe, each round is referenced exactly once by round r+1) was
    * measured FLAT on a same-hour stash A/B (beam 2.69 vs 2.88,
    * layered 2.82 vs 2.88, delete 3.97 vs 4.05, graph 1.32 vs 1.17,
    * min-of-4 sf0.1 cpus=32) with jobs/rep unchanged (~26-30): AQE
    * stage-materialization jobs replace the checkpoint jobs one for
    * one, so the fusion buys plan depth, not jobs. Reverted. */
  private def descentRounds(nodes: DataFrame, init: DataFrame,
      rounds: Int): Seq[DataFrame] = {
    val k = NN_K
    val ord = simDescOrd("dst")
    val out = scala.collection.mutable.ArrayBuffer[DataFrame](init)
    var cur = init
    (1 to rounds).foreach { _ =>
      // candidate lists per src: the node's own current edges (cand =
      // cur ∪ share keeps cur) plus, per pivot, every ordered pair of
      // distinct bi-neighbors — emitted from the pivot row, regrouped
      // by the pair's source
      val cands = biAdj(cur)
        .select(explode(concat(
          array(struct(col("u").as("a"), col("fwd").as("cands"))),
          transform(col("bi"), b => struct(b.as("a"),
            filter(col("bi"), x => x =!= b).as("cands"))))).as("e"))
        .select(col("e.a").as("src"), col("e.cands").as("cands"))
        .groupBy(col("src"))
        .agg(array_distinct(flatten(collect_list(col("cands")))).as("cands"))
      // score + per-src top-k, in-row (round-9 cosine, ties → lowest
      // dst — the window rank's exact order)
      cur = cands
        .join(nodes.select(col("vec_id").as("src"),
          col("embedding").as("sv"), col("nrm").as("snrm")), "src")
        .select(col("src"), col("sv"), col("snrm"),
          explode(col("cands")).as("dst"))
        .join(nodes.select(col("vec_id").as("dst"),
          col("embedding").as("dv"), col("nrm").as("dnrm")), "dst")
        .select(col("src"), struct(
          round(dot(col("sv"), col("dv")) / (col("snrm") * col("dnrm")), 9)
            .as("sim"), col("dst").as("dst")).as("sc"))
        .groupBy(col("src"))
        .agg(transform(slice(array_sort(collect_list(col("sc")), ord), 1, k),
          x => x.getField("dst")).as("top"))
        .select(col("src"), explode(col("top")).as("dst"))
        .cut()
      out += cur
    }
    out.toSeq
  }

  /** The [[nnDescentEdges]] rounds unrolled as chained DuckDB CTEs
    * (the q_kcenter_seeds/BPE unroll precedent). Expects an
    * `e(vec_id, embedding, nrm)` CTE in scope; emits `nodes` and
    * `e0..e{rounds}`, seeded at the same block `width` as the Spark
    * side's [[nnNodes]]. */
  private def nnDescentDuck(rounds: Int, width: Int = NN_INIT_WIDTH): String = {
    val k = NN_K
    val init =
      s"""nodes AS MATERIALIZED (SELECT vec_id, embedding, nrm,
         |  substr($bucketDuck, 1, $width) AS blk FROM e),
         |e0 AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT l.vec_id AS src, r.vec_id AS dst,
         |    ROW_NUMBER() OVER (PARTITION BY l.vec_id ORDER BY
         |      md5(CAST(l.vec_id AS VARCHAR) || '|' || CAST(r.vec_id AS VARCHAR)),
         |      r.vec_id) AS rk
         |  FROM nodes l JOIN nodes r ON l.blk = r.blk AND l.vec_id <> r.vec_id) t
         | WHERE rk <= $k)""".stripMargin
    (init +: Seq(descentStepsDuck("nodes", "e", rounds))).mkString(",\n")
  }

  /** DuckDB twin of [[annGraphRecall]] at seed-block width `width`:
    * the planted-corpus prefix (q_ann_recall verbatim) feeding the
    * same unroll; recall measured per round against the planted
    * truth. */
  private[graft] def annGraphRecallOracle(width: Int = NN_INIT_WIDTH): String =
    s"""WITH $plantedCorpusDuck,
       |${nnDescentDuck(2, width)},
       |g AS (SELECT 0 AS rnd, src, dst FROM e0
       |      UNION ALL SELECT 1, src, dst FROM e1
       |      UNION ALL SELECT 2, src, dst FROM e2),
       |ranked AS (SELECT rnd, qid, nid FROM (
       |  SELECT g.rnd, g.src AS qid, g.dst AS nid,
       |    ROW_NUMBER() OVER (PARTITION BY g.rnd, g.src ORDER BY
       |      round(${dotDuck("a.embedding", "b.embedding")} /
       |        (a.nrm * b.nrm), 9) DESC, g.dst) AS rk
       |  FROM g JOIN nodes a ON a.vec_id = g.src
       |         JOIN nodes b ON b.vec_id = g.dst
       |  WHERE g.src < 10) t WHERE rk <= 3),
       |truth AS (SELECT q0.vec_id AS qid,
       |    1000000 + q0.vec_id * 10 + c AS nid, rnd
       |  FROM q0, (VALUES (1), (2), (3)) t(c),
       |       (VALUES (0), (1), (2)) r(rnd)),
       |per_q AS (
       |  SELECT truth.rnd, truth.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |    CAST(COUNT(ranked.nid) AS BIGINT) AS n_hits
       |  FROM truth LEFT JOIN ranked ON ranked.rnd = truth.rnd
       |    AND ranked.qid = truth.qid AND ranked.nid = truth.nid
       |  GROUP BY truth.rnd, truth.qid)
       |SELECT CAST(rnd AS BIGINT) AS rnd, qid, n_exact, n_hits,
       |  round(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall,
       |  round(CAST(SUM(n_hits) OVER (PARTITION BY rnd) AS DOUBLE) /
       |    (3.0 * COUNT(*) OVER (PARTITION BY rnd)), 6) AS macro_recall
       |FROM per_q ORDER BY rnd, qid""".stripMargin

  /** The descent-round CTEs over ANY node frame / edge prefix —
    * factored (r13) so q_ann_layered's √N upper layer unrolls with
    * the same text at prefix `u`. Edges are `$ep{0..rounds}`; helper
    * CTEs carry the prefix too. Mirrors [[descentRounds]]. */
  private def descentStepsDuck(nodesCte: String, ep: String,
      rounds: Int): String = {
    val k = NN_K
    (1 to rounds).map { i =>
      s"""${ep}rev$i AS (SELECT src, dst FROM (
         |  SELECT g.dst AS src, g.src AS dst,
         |    ROW_NUMBER() OVER (PARTITION BY g.dst ORDER BY
         |      md5(CAST(g.dst AS VARCHAR) || '|' || CAST(g.src AS VARCHAR)),
         |      g.src) AS rk
         |  FROM $ep${i - 1} g) t WHERE rk <= $k),
         |${ep}bi$i AS (SELECT src, dst FROM $ep${i - 1}
         |         UNION SELECT src, dst FROM ${ep}rev$i),
         |${ep}cand$i AS (SELECT DISTINCT src, dst FROM (
         |  SELECT b1.dst AS src, b2.dst AS dst
         |  FROM ${ep}bi$i b1 JOIN ${ep}bi$i b2
         |    ON b1.src = b2.src AND b1.dst <> b2.dst
         |  UNION ALL SELECT src, dst FROM $ep${i - 1}) t),
         |$ep$i AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT c.src, c.dst,
         |    ROW_NUMBER() OVER (PARTITION BY c.src ORDER BY
         |      round(${dotDuck("a.embedding", "b.embedding")} /
         |        (a.nrm * b.nrm), 9) DESC, c.dst) AS rk
         |  FROM ${ep}cand$i c JOIN $nodesCte a ON a.vec_id = c.src
         |                JOIN $nodesCte b ON b.vec_id = c.dst) t
         | WHERE rk <= $k)""".stripMargin
    }.mkString(",\n")
  }

  /** The q_ann_beam search unrolled: symmetrized graph over e2, routed
    * per-query entries, `hops` frontier/expand CTE pairs with beam as
    * a COLUMN (rk <= beam — all widths in one chain), ending at
    * v{hops}(beam, qid, node) = the cumulative visited set. Expects
    * the [[nnDescentDuck]] CTEs (nodes, e0..e2) in scope. */
  private def nnBeamDuck(hops: Int, beams: Seq[Int], qsSql: String): String = {
    val head =
      s"""${symGraphDuck("g", "e2")},
         |qs AS MATERIALIZED ($qsSql),
         |${routedEntryDuck("ent", "nodes")},
         |beams AS (SELECT * FROM (VALUES ${beams.map(b => s"($b)").mkString(", ")}) b(beam))""".stripMargin
    (head +: Seq(walkDuck("", "nodes", "g", "ent", "beams", hops)))
      .mkString(",\n")
  }

  /** Symmetrized search graph as CTEs: `$gname` = `$edgeCte` ∪ its
    * md5-capped reverse — the [[nnSearchGraph]] unroll, factored (r13)
    * so the layered oracle symmetrizes base and upper graphs with one
    * definition. */
  private def symGraphDuck(gname: String, edgeCte: String): String = {
    val k = NN_K
    s"""${gname}rev AS (SELECT src, dst FROM (
       |  SELECT g.dst AS src, g.src AS dst,
       |    ROW_NUMBER() OVER (PARTITION BY g.dst ORDER BY
       |      md5(CAST(g.dst AS VARCHAR) || '|' || CAST(g.src AS VARCHAR)),
       |      g.src) AS rk
       |  FROM $edgeCte g) t WHERE rk <= $k),
       |$gname AS MATERIALIZED (SELECT src, dst FROM $edgeCte
       |  UNION SELECT src, dst FROM ${gname}rev)""".stripMargin
  }

  /** The cumulative-visited walk CTEs from a SUPPLIED entry CTE —
    * the [[beamWalkFrom]] unroll: `${pfx}v0..${pfx}v$hops` over
    * `$gCte`, scored against the fixed `qs`. Factored (r13) so the
    * layered oracle runs the upper greedy walk and both base arms
    * with one definition. */
  private def walkDuck(pfx: String, nodesCte: String, gCte: String,
      entCte: String, beamsCte: String, hops: Int): String = {
    val simOrd =
      s"""round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node""".stripMargin
    val v0 =
      s"""${pfx}v0 AS MATERIALIZED (SELECT b.beam, e.qid, e.node
         |  FROM $entCte e, $beamsCte b)""".stripMargin
    val steps = (1 to hops).map { i =>
      s"""${pfx}f$i AS (SELECT beam, qid, node FROM (
         |  SELECT v.beam, v.qid, v.node,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      $simOrd) AS rk
         |  FROM ${pfx}v${i - 1} v JOIN $nodesCte n ON n.vec_id = v.node
         |                   JOIN qs q ON q.qid = v.qid) t
         | WHERE rk <= beam),
         |${pfx}v$i AS MATERIALIZED (SELECT DISTINCT beam, qid, node FROM (
         |  SELECT beam, qid, node FROM ${pfx}v${i - 1}
         |  UNION ALL
         |  SELECT f.beam, f.qid, g.dst
         |  FROM ${pfx}f$i f JOIN $gCte g ON g.src = f.node
         |  WHERE g.dst <> f.qid) t)""".stripMargin
    }
    (v0 +: steps).mkString(",\n")
  }

  /** Symmetrized search graph over a converged edge frame: edges ∪
    * md5-capped reverse edges (the same ρK hub bound as the descent's
    * local join), distinct, localCheckpointed — NSW's undirected
    * links. r16: exactly [[biAdj]]'s bi list exploded back to edge
    * rows — one exchange instead of three (reverse-cap window +
    * union/distinct). */
  private def nnSearchGraph(e2: DataFrame): DataFrame =
    biAdj(e2)
      .select(col("u").as("src"), explode(col("bi")).as("dst"))
      .cut()

  /** q_ann_layered's UPPER LAYER: the ⌈√N⌉ non-query nodes with the
    * smallest (md5(vec_id), vec_id) — the deterministic analog of
    * HNSW's random level sampling (the q_split_hash device), indexed
    * 1..U in hash order (`urk`; urk=1 is the global entry). The
    * sample is a TakeOrderedAndProject (per-partition top-U heaps, no
    * full sort); the urk window then runs over the √N-row result
    * only. At corpus scale where even √N strains one partition, swap
    * the exact rank for an md5-threshold sample (expected-√N, same
    * hash) — exact rank is kept here for oracle row-parity. */
  private def upperLayer(nodes: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val nU = sqrtK(nodes.count())
    val wU = Window.orderBy(col("h"), col("vec_id"))
    val up = nodes.filter(col("vec_id") >= 10)
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(nU)
      .withColumn("urk", row_number().over(wU).cast("long"))
      .drop("h")
      .cut()
    (up, nU)
  }

  /** Ring seed for the upper layer's descent: node urk=i links to the
    * next [[NN_K]] nodes on the md5 ring (i+1..i+k mod U) — the
    * deterministic "random regular seed graph" NN-Descent wants,
    * with no dependence on LSH blocks (a √N sample would leave most
    * blocks empty). One equi-join on the ring index; the self-edge
    * guard only bites when U ≤ k. */
  private def ringSeed(up: DataFrame, nU: Int): DataFrame =
    up.select(col("vec_id").as("src"), col("urk"))
      .withColumn("j", explode(typedlit(List.range(1, NN_K + 1))))
      .withColumn("tgt", ((col("urk") - 1L + col("j")) % nU) + 1L)
      .join(up.select(col("vec_id").as("dst"), col("urk").as("urk2")),
        col("tgt") === col("urk2"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .cut()

  /** q_ann_delete's tombstone + NSW repair internals, factored so
    * GraphAnnSpec can assert the repair invariants on the frames
    * directly: (nodes, delIds(did), gPre, gPost). Tombstones = non-
    * query nodes with vec_id % 9 = 4; gPost = alive edges ∪ top-NN_K
    * cosine-ranked re-routes (u → alive out-neighbor of u's deleted
    * neighbor), re-symmetrized through [[nnSearchGraph]]'s md5-capped
    * rule. All frames are corpus-partitioned; the repair touches only
    * the 2-hop neighborhoods of deleted nodes (≤ (2k)² candidate rows
    * per affected node) — at 100 TB a delete batch is a bounded
    * incremental job, never an index rebuild. */
  private[graft] def deleteRepair(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (nodes, delIds, gPre) = deleteGraphParts(s, d)
    (nodes, delIds, gPre, repairStep(nodes, gPre, delIds))
  }

  /** The q_ann_delete fixture: planted-corpus node frame, the
    * tombstone list (vec_id % 9 = 4 among non-query nodes) and the
    * pre-delete search graph — shared by the one-shot query and
    * streaming drain #31 (which replays the SAME tombstones as an
    * ordered delete feed). */
  /** Id-shift arm offset shared by q_ann_delete (pre/post at +OFF)
    * and q_ann_filtered (arms at +i·OFF, i ≤ 3). Non-overlap of the
    * shifted ranges [i·OFF, i·OFF+maxId] requires every corpus +
    * planted id to stay strictly below OFF — an out-of-range id
    * would silently alias arms (e.g. a shifted post id matching a
    * delId and corrupting the n_del_top3 join). ADVICE r14: guarded
    * at zero job cost by [[guardIdsBelow]] riding the existing scan. */
  private[graft] val ID_SHIFT_OFF = 2000000L

  /** Explicit bound check: one max() job over the (localCheckpointed)
    * node frame, then require. NOT an inline assert_true filter — that
    * was tried first and REFUTED: Catalyst constant-propagates sibling
    * equi-join conjuncts pushed into the same Filter into the guard's
    * predicate (e.g. vec_id = <literal> folds `vec_id < OFF` to
    * false), leaving an unconditional raise_error that fires on rows
    * the guard was never meant to test. The agg is a bounded metadata-
    * cheap job against materialized checkpoint rows, paid once per
    * id-shift query. */
  private def guardIdsBelow(df: DataFrame, idCol: String): DataFrame = {
    val mx = df.agg(max(col(idCol))).first()
    if (!mx.isNullAt(0))
      require(mx.getLong(0) < ID_SHIFT_OFF,
        s"id-shift guard: max($idCol) = ${mx.getLong(0)} reaches the " +
          s"arm offset $ID_SHIFT_OFF — shifted arms would alias")
    df
  }

  private[graft] def deleteGraphParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val nodes = guardIdsBelow(nnNodes(plantedCorpus(s, d)
      .withColumn("bucket", bucketCol(col("embedding")))), "vec_id")
    val gPre = nnSearchGraph(nnDescentEdges(nodes, rounds = 2).last)
    val delIds = nodes
      .filter(col("vec_id") % 9 === 4 && col("vec_id") >= 10)
      .select(col("vec_id").as("did"))
      .cut() // tombstone list: |D| rows, reused by 4 joins
    (nodes, delIds, gPre)
  }

  /** DuckDB twin of [[deleteGraphParts]]: the planted-corpus nodes,
    * the pre-delete search graph pg and the tombstones del(did). */
  private lazy val deleteGraphDuck: String =
    s"""$plantedCorpusDuck,
       |${nnDescentDuck(2)},
       |${symGraphDuck("pg", "e2")},
       |del AS MATERIALIZED (SELECT vec_id AS did FROM nodes
       |  WHERE vec_id % 9 = 4 AND vec_id >= 10)""".stripMargin

  /** The query side of the delete oracles over [[deleteGraphDuck]]:
    * qs(qid, qv, qnrm, qblk), the alive nodes an, and each query's
    * routed entry into the pre-delete (pent) and alive (bent) nodes. */
  private lazy val deleteEntriesDuck: String =
    s"""qs AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv,
       |  nrm AS qnrm, blk AS qblk FROM nodes WHERE vec_id < 10),
       |an AS MATERIALIZED (SELECT * FROM nodes
       |  WHERE vec_id NOT IN (SELECT did FROM del)),
       |${routedEntryDuck("pent", "nodes")},
       |${routedEntryDuck("bent", "an")}""".stripMargin

  /** ONE tombstone + NSW 2-hop repair application against an
    * ARBITRARY current edge frame — the kernel of q_ann_delete
    * (one application over the full tombstone set) and streaming
    * drain #31 (per-batch application whose state is the evolving
    * graph; order matters — a bridge routed through a node deleted in
    * a LATER batch is re-repaired then, so the incremental chain is
    * its own semantics and its oracle unrolls the chain). `delIds` =
    * (did). */
  private[graft] def repairStep(nodes: DataFrame, g: DataFrame,
      delIds: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gAlive = g
      .join(delIds.select(col("did").as("src")), Seq("src"), "left_anti")
      .join(delIds.select(col("did").as("dst")), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
    // (u → x) links into a tombstone x from an alive u, bridged to
    // x's alive out-neighbors y — the NSW 2-hop repair
    val cands = g
      .join(delIds.select(col("did").as("dst")), Seq("dst"))
      .join(delIds.select(col("did").as("src")), Seq("src"), "left_anti")
      .select(col("src").as("u"), col("dst").as("x"))
      .join(g.select(col("src").as("x"), col("dst").as("y")), Seq("x"))
      .join(delIds.select(col("did").as("y")), Seq("y"), "left_anti")
      .filter(col("y") =!= col("u"))
      .select(col("u").as("src"), col("y").as("dst"))
      .distinct()
    val wR = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst"))
    val rrTop = nnScored(cands, nodes)
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") <= NN_K)
      .select(col("src"), col("dst"))
    nnSearchGraph(gAlive.union(rrTop).distinct())
  }

  /** One repair application as DuckDB CTEs (suffix-parameterized like
    * descentStepsDuck): tombstones `$delCte(did)` applied to `$gIn`,
    * repaired graph emitted as `$out` — mirrors [[repairStep]].
    * Shared by the q_ann_delete oracle (one application) and the
    * drain-#31 oracle (the chain unrolled per delete batch). */
  private[operators] def repairDuck(pfx: String, gIn: String,
      delCte: String, out: String): String =
    s"""galive$pfx AS (SELECT src, dst FROM $gIn
       |  WHERE src NOT IN (SELECT did FROM $delCte)
       |    AND dst NOT IN (SELECT did FROM $delCte)),
       |rcand$pfx AS (SELECT DISTINCT g.src AS src, h.dst AS dst
       |  FROM $gIn g JOIN $gIn h ON h.src = g.dst
       |  WHERE g.dst IN (SELECT did FROM $delCte)
       |    AND g.src NOT IN (SELECT did FROM $delCte)
       |    AND h.dst NOT IN (SELECT did FROM $delCte)
       |    AND h.dst <> g.src),
       |rr$pfx AS (SELECT src, dst FROM (
       |  SELECT c.src, c.dst,
       |    ROW_NUMBER() OVER (PARTITION BY c.src ORDER BY
       |      round(${dotDuck("a.embedding", "b.embedding")} /
       |        (a.nrm * b.nrm), 9) DESC, c.dst) AS rk
       |  FROM rcand$pfx c JOIN nodes a ON a.vec_id = c.src
       |                   JOIN nodes b ON b.vec_id = c.dst) t
       | WHERE rk <= $NN_K),
       |rru$pfx AS (SELECT src, dst FROM galive$pfx
       |        UNION SELECT src, dst FROM rr$pfx),
       |${symGraphDuck(out, s"rru$pfx")}""".stripMargin

  /** Streaming drain #31's oracle (lives here because it is pure
    * graph-ANN machinery): the planted prefix + pre-delete graph, the
    * tombstone feed split into its two staged batches (did % 18 = 4
    * first, the rest second — the drain's file order), and the repair
    * chain unrolled in arrival order. Final edge set, sorted. */
  private[operators] def streamDeleteOracleSql: String =
    s"""WITH $plantedCorpusDuck,
       |${nnDescentDuck(2)},
       |${symGraphDuck("pg", "e2")},
       |del1 AS MATERIALIZED (SELECT vec_id AS did FROM nodes
       |  WHERE vec_id % 9 = 4 AND vec_id >= 10 AND vec_id % 18 = 4),
       |del2 AS MATERIALIZED (SELECT vec_id AS did FROM nodes
       |  WHERE vec_id % 9 = 4 AND vec_id >= 10 AND vec_id % 18 <> 4),
       |${repairDuck("s1", "pg", "del1", "qg1")},
       |${repairDuck("s2", "qg1", "del2", "qg2")}
       |SELECT src, dst FROM qg2 ORDER BY src, dst""".stripMargin

  // ---- graph-ANN serving (drain #32, q_stream_ann_search) --------------

  /** The SERVING separation (VERDICT r14 item 2): the index is built
    * offline once and STORED; queries arrive later, in micro-batches,
    * and walk the stored graph statelessly. This returns the build
    * side: (nodes, searchGraph, queryFrame) — the q_ann_beam build
    * verbatim, factored so the drain stores nodes+graph as parquet
    * and GraphAnnSpec runs the batch-parity reference on the same
    * frames. */
  private[graft] def serveIndexParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val nodes = nnNodes(plantedCorpus(s, d)
      .withColumn("bucket", bucketCol(col("embedding"))))
    val g = nnSearchGraph(nnDescentEdges(nodes, rounds = 2).last)
    val qs = nodes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("blk").as("qblk"))
    (nodes, g, qs)
  }

  /** Serve one query frame against a stored index: routed entry +
    * beam-4/7-hop NSW walk (the q_ann_beam kernel at its best
    * measured width), top-3 per query. Stateless and per-query
    * independent, so ANY micro-batching of the query stream drains
    * to exactly the batch walk's rows — the parity the drain's
    * oracle and GraphAnnSpec pin. Per-batch work is
    * |batch|·beam·degree(≤2k) rows per hop through equi-joins on the
    * edge key; the index frames are read per batch, never rebuilt.
    * Returns (qid, rk, nid, sim). */
  private[graft] def serveTopK(nodes: DataFrame, g: DataFrame,
      qs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val visited = beamWalkFrom(nodes, g, qs, routedEntry(nodes, qs),
      Seq(4), hops = 7)
    val wB = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("node"))
    visited
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk").cast("long").as("rk"),
        col("node").as("nid"), col("sim"))
  }

  /** DuckDB twin of [[serveTopK]]: `name`(qid, rk, nid, sim) = each
    * query's top-3 of the walk's visited set `visited` by round-9
    * cosine against the node CTE `nodes`. */
  private def serveTop3Duck(name: String, visited: String,
      nodes: String): String =
    s"""$name AS (SELECT qid, rk, nid, sim FROM (
       |  SELECT v.qid, v.node AS nid,
       |    round(${dotDuck("q.qv", "n.embedding")} /
       |      (q.qnrm * n.nrm), 9) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY v.qid ORDER BY
       |      round(${dotDuck("q.qv", "n.embedding")} /
       |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
       |  FROM $visited v JOIN $nodes n ON n.vec_id = v.node
       |              JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3)""".stripMargin

  /** Drain #32's oracle (pure graph-ANN machinery, so it lives by
    * its kernel): the one-shot batch walk at beam 4 over all queries
    * — statelessness makes the streamed union equal it exactly,
    * whatever the file batching. */
  private[operators] def streamServeOracleSql: String =
    s"""WITH $plantedCorpusDuck,
       |${nnDescentDuck(2)},
       |${nnBeamDuck(7, Seq(4),
          "SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm, " +
            "blk AS qblk FROM nodes WHERE vec_id < 10")},
       |${serveTop3Duck("ranked", "v7", "nodes")}
       |SELECT qid, CAST(rk AS BIGINT) AS rk, nid, sim
       |FROM ranked ORDER BY qid, rk""".stripMargin

  /** Drain #34's oracle: the SAME query set served before and after
    * the maintenance batch — pre phase walks the full stored index,
    * post phase walks the tombstone-repaired one with entries routed
    * over the alive set. The staged order (queries, deletes,
    * queries) is the semantics; the oracle unrolls it. */
  private[operators] def streamServeMaintainOracleSql: String =
    s"""WITH $deleteGraphDuck,
       |${repairDuck("d", "pg", "del", "qg")},
       |$deleteEntriesDuck,
       |svb AS (SELECT * FROM (VALUES (4)) b(beam)),
       |${walkDuck("pa", "nodes", "pg", "pent", "svb", 7)},
       |${walkDuck("pb", "an", "qg", "bent", "svb", 7)},
       |${serveTop3Duck("parank", "pav7", "nodes")},
       |${serveTop3Duck("pbrank", "pbv7", "an")}
       |SELECT phase, qid, CAST(rk AS BIGINT) AS rk, nid, sim FROM (
       |  SELECT 'pre' AS phase, * FROM parank
       |  UNION ALL
       |  SELECT 'post', * FROM pbrank) u
       |ORDER BY phase, qid, rk""".stripMargin

  /** Planted-truth recall report over a SCORED visited set — the
    * shared tail of q_ann_beam and q_ann_layered: rank visited per
    * (beam, qid), hit-join the planted truth, emit per-query recall
    * and per-beam macro recall. */
  private def beamRecallReport(visitedScored: DataFrame, qs: DataFrame,
      beams: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy(col("beam"), col("qid"))
      .orderBy(col("sim").desc, col("node"))
    val ranked = visitedScored
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= 3)
      .select(col("beam").as("abeam"), col("qid").as("aqid"),
        col("node").as("anid"))
    val truth = qs.select(col("qid"),
        explode(typedlit(Seq(1, 2, 3))).as("c"))
      .select(col("qid"),
        (lit(1000000L) + col("qid") * 10 + col("c")).as("nid"),
        explode(typedlit(beams)).as("beam"))
    recallAt3(truth, ranked, Seq("beam" -> "abeam"))
      .select(col("beam").cast("long").as("beam"), col("qid"),
        col("n_exact"), col("n_hits"), col("recall"), col("macro_recall"))
      .orderBy(col("beam"), col("qid"))
  }

  /** Cumulative-visited NSW beam walk, shared by q_ann_beam (the
    * swept-width query path) and q_ann_graph_admission (the insert
    * path). `qs` = (qid, qv, qnrm, qblk); queries need NOT be graph
    * members. ROUTED entry per query: the min-md5 non-self node of
    * the query's seed block — the flat stand-in for HNSW's upper
    * layers, whose whole job is delivering a block-local entry (a
    * single GLOBAL entry was measured flat at recall 0.1: greedy
    * ascent has no gradient over near-orthogonal noise). Each hop
    * re-ranks the cumulative visited set per (beam, qid), expands the
    * top-beam frontier over the graph's edges, and unions — per-hop
    * work is |beam|·degree(≤2k) candidate rows per query through
    * equi-joins on the edge key. Returns the SCORED visited set
    * (beam, qid, node, sim). */
  private def beamWalk(nodes: DataFrame, g: DataFrame, qs: DataFrame,
      beams: Seq[Int], hops: Int): DataFrame =
    beamWalkFrom(nodes, g, qs, routedEntry(nodes, qs), beams, hops)

  /** The routed per-query entry of [[beamWalk]], factored (r14) so
    * q_ann_delete / q_ann_filtered can route entries over a node
    * SUBSET (alive nodes, predicate-matching nodes) with the identical
    * rule: min-md5 same-block non-self node, one row per query (zero
    * rows when the query's block has no eligible node — the walk then
    * visits nothing for that query, deterministically on both
    * engines). */
  private def routedEntry(nodes: DataFrame, qs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wE = Window.partitionBy(col("qid")).orderBy(col("h"), col("node"))
    qs.select(col("qid"), col("qblk"))
      .join(nodes.select(col("vec_id").as("node"), col("blk")),
        col("blk") === col("qblk") && col("node") =!= col("qid"))
      .withColumn("h", md5(concat_ws("|", col("qid"), col("node"))))
      .withColumn("rk", row_number().over(wE))
      .filter(col("rk") === 1)
      .select(col("qid"), col("node"))
  }

  /** DuckDB twin of [[routedEntry]] over qs(qid, qblk) and the node
    * CTE `nodes`: $name(qid, node) = per query the md5-first node of
    * its block. */
  private def routedEntryDuck(name: String, nodes: String): String =
    s"""$name AS (SELECT qid, node FROM (
       |  SELECT q.qid, n.vec_id AS node,
       |    ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |      md5(CAST(q.qid AS VARCHAR) || '|' || CAST(n.vec_id AS VARCHAR)),
       |      n.vec_id) AS rk
       |  FROM qs q JOIN $nodes n ON n.blk = q.qblk AND n.vec_id <> q.qid) t
       | WHERE rk = 1)""".stripMargin

  /** [[beamWalk]] with the entry frame SUPPLIED — the hook
    * q_ann_layered uses to feed hierarchy-routed entries into the
    * same walk. `entry` = (qid, node), one or more rows per query.
    *
    * ARRAY-STATE walk (r16, VERDICT r15 item 1): one row per
    * (beam, qid) carries the cumulative SCORED visited set as a
    * canonically-sorted array<struct<node,sim>>, so the whole
    * multi-hop walk runs as ONE query execution instead of one per
    * hop. Versus the r15 row-state kernel (score → window-rank →
    * edge-join → union → distinct → localCheckpoint per hop, ~6 AQE
    * materialization jobs + 1 checkpoint job per hop, with driver
    * gaps ≈ jobs — plans/r16/q_ann_beam_jobs_before.txt):
    *   - the per-hop window shuffle is an in-row `slice` of the
    *     sorted array (frontier = top-beam prefix);
    *   - the per-hop distinct shuffle is an in-row `array_distinct`
    *     (sims are a pure function of (qid, node), so equal nodes
    *     carry bit-equal structs);
    *   - each node is scored ONCE when first seen, not re-scored
    *     every hop with two joins over the whole cumulative set;
    *   - the `nodes`/`g` broadcast exchanges are REUSED across all
    *     hops (one execution), instead of being re-broadcast per hop
    *     because every localCheckpoint started a fresh execution.
    * Row-identical by induction: same scored entry set, same
    * top-(sim desc, node asc) frontier (the array comparator mimics
    * Spark's nan-safe double ordering: -0.0 == 0.0, NaN greatest),
    * same edge expansion and self-exclusions, same dedup semantics.
    * The DuckDB oracle (nnBeamDuck) re-proves every consumer. */
  private def beamWalkFrom(nodes: DataFrame, g: DataFrame, qs: DataFrame,
      entry: DataFrame, beams: Seq[Int], hops: Int): DataFrame = {
    val nodesK = nodes.select(col("vec_id").as("node"),
      col("embedding").as("nv"), col("nrm").as("nnrm"))
    val qsK = qs.select(col("qid"), col("qv"), col("qnrm"))
    val sim = round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 9)
    val visOrd = simDescOrd("node")
    // initial state: the scored entry set per query (entry nodes
    // missing from `nodes` drop out of the inner join — exactly the
    // rows the old kernel's score() could never emit), exploded per
    // beam width. Grid-sized: |beams|·|qs| rows.
    var state = entry.join(nodesK, "node").join(qsK, "qid")
      .withColumn("sim", sim)
      .groupBy(col("qid"))
      .agg(collect_list(struct(col("node"), col("sim"))).as("vis"))
      .join(qsK, "qid")
      .withColumn("beam", explode(typedlit(beams)))
      .select(col("beam"), col("qid"), col("qv"), col("qnrm"),
        array_sort(array_distinct(col("vis")), visOrd).as("vis"))
    (1 to hops).foreach { _ =>
      // One linear pass per hop — `state` flows through ONCE (explode
      // carrying vis → joins → regroup), so the hop plan NEVER
      // references the previous state twice and the tree grows
      // linearly in hops (a state-vs-candidates self-join would
      // double the uncached subtree per hop — the old kernel's
      // exponential-replan disease in new clothes).
      //   frontier = top-beam prefix of the sorted visited array
      //     (replaces the per-hop window shuffle);
      //   LEFT joins keep dead-end frontiers alive (a frontier node
      //     with no edges / a dst outside `nodes` contributes no
      //     cand, but the (beam, qid) row must survive with vis
      //     unchanged — the old union-with-empty semantics);
      //   self-exclusion, sign-encoding aware: q_ann_layered rides
      //     its second arm on qid' = -qid - 1, so the node to exclude
      //     is -qid' - 1; for ordinary positive-qid callers that
      //     value is negative and can never match a node id;
      //   merge = array_distinct over structs (sims are a pure
      //     function of (qid, node): equal node ⇒ bit-equal struct),
      //     re-sorted to keep the array canonical (replaces the
      //     per-hop distinct shuffle).
      // The regroup keys (beam, qid) — the same hash partitioning
      // every hop, established once: with `g`/`nodes` broadcast the
      // hops after the first need NO new exchange.
      state = state
        .select(col("beam"), col("qid"), col("qv"), col("qnrm"),
          col("vis"),
          explode(expr("transform(slice(vis, 1, beam), x -> x.node)"))
            .as("fnode"))
        .join(g, col("fnode") === col("src"), "left_outer")
        .join(nodesK, col("dst") === col("node"), "left_outer")
        .withColumn("cand",
          when(col("node").isNotNull &&
            col("dst") =!= col("qid") &&
            col("dst") =!= (-col("qid") - 1L),
            struct(col("node"), sim.as("sim"))))
        .groupBy(col("beam"), col("qid"))
        .agg(first(col("qv")).as("qv"), first(col("qnrm")).as("qnrm"),
          array_sort(array_distinct(concat(first(col("vis")),
            collect_list(col("cand")))), visOrd).as("vis"))
    }
    // NO mid-walk cut: the hop above grows the plan linearly, so the
    // walk runs as one execution with its broadcast exchanges reused
    // across hops, and a cut would only break that reuse and add jobs.
    // Measured r16 (cpus=32, sf0.1, min-sums over q_ann_beam/layered/
    // delete/filtered): cutting every 1/2/3 hops vs never = 15.7/14.5/
    // 14.1/14.2 s.
    // Final cut: consumers slice the result several ways (recall
    // joins, per-arm filters) — materialize the grid-sized walk once
    state.cut()
      .select(col("beam"), col("qid"), explode(col("vis")).as("v"))
      .select(col("beam"), col("qid"),
        col("v.node").as("node"), col("v.sim").as("sim"))
  }

  /** (src, dst) pairs joined back to the node frame for the round-9
    * cosine — the shared scoring step of the descent update and the
    * final ranking. */
  private def nnScored(pairs: DataFrame, nodes: DataFrame): DataFrame =
    pairs
      .join(nodes.select(col("vec_id").as("src"), col("embedding").as("sv"),
        col("nrm").as("snrm")), "src")
      .join(nodes.select(col("vec_id").as("dst"), col("embedding").as("dv"),
        col("nrm").as("dnrm")), "dst")
      .withColumn("sim",
        round(dot(col("sv"), col("dv")) / (col("snrm") * col("dnrm")), 9))
      .select(col("src"), col("dst"), col("sim"))

  private def sqrtK(n: Long): Int = math.ceil(math.sqrt(n.toDouble)).toInt

  /** K DETERMINISTIC sampled centroids (the embeddings of vec_id
    * 10..10+K-1) — IVF-style coarse quantization with sampled centroids
    * instead of Lloyd iterations, which keeps the DuckDB oracles exact.
    * Collected driver-side (K = ceil(sqrt(N)) rows — a bounded scalar
    * fetch like the k-means fixpoint probe) and delivered to executors
    * as one CentroidModel reference object, never as literals. */
  private def sampledCentroids(s: SparkSession, d: String, k: Int): Array[(Long, Seq[Double], Double)] =
    loadEmbeddings(s, d)
      .filter(col("vec_id") >= 10 && col("vec_id") < lit(10L + k))
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
      .sortBy(_._1)

  /** The first k rows of `frame` with vec_id ≥ 10 as centroids — the
    * [[sampledCentroids]] rule over a SUBSET (quality survivors, the
    * stored index side), where ids are not contiguous. */
  private def firstCentroids(frame: DataFrame, k: Int): Array[(Long, Seq[Double], Double)] =
    frame.filter(col("vec_id") >= 10)
      .orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
      .sortBy(_._1)

  /** Per-row (sim, -cid) struct vs every centroid — assignment is a pure
    * map-side projection (array_max over the kernel output, NO shuffle,
    * NO join); max struct = nearest centroid with lowest cid on ties.
    * The K×D matrix rides as ONE reference object inside a single
    * codegen'd expression node (graft.plans.CentroidScores), so the plan
    * is K-INDEPENDENT: with K = ceil(sqrt N) growing with the corpus,
    * per-centroid literal subtrees would grow the expression tree — and
    * Catalyst analysis + generated code — with the data (fatal at the
    * K~10⁵ a 100 TB corpus implies). CentroidPlanSpec asserts the node
    * count does not move between K=4 and K=256. Expects `embedding` +
    * `nrm`. */
  private def centroidSimsArr(cents: Array[(Long, Seq[Double], Double)]): Column =
    graft.plans.VectorExpressions.centroidCosines(col("embedding"), col("nrm"), cents)

  /** Shared corpus for the near-dup queries: embeddings ∪ perturbed
    * copies (every 20th vector, +0.01 on dim 1), with norm and 8-bit
    * hyperplane bucket precomputed. */
  private[graft] def neardupCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables(s, d, "embeddings")
    val perturbed = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), expr(
        s"""transform(sequence(1,$DIM), i ->
           |  cast(element_at(embedding, i) as double) +
           |  CASE WHEN i = 1 THEN cast(0.01 as double) ELSE cast(0 as double) END)""".stripMargin)
        .as("embedding"))
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .unionByName(perturbed)
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("bucket", bucketCol(col("embedding")))
  }

  /** DuckDB twin of [[neardupCorpus]] before its widening: the CTE
    * `name`(vec_id, embedding) = embeddings ∪ every 20th row shifted
    * by 0.01 in dim 1 under vec_id + 100000. */
  private def neardupCorpusDuck(name: String): String =
    s"""$name AS (
       |  SELECT vec_id,
       |    list_transform(range(1,${DIM + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS embedding
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    list_transform(range(1,${DIM + 1}), i ->
       |      CAST(embedding[i] AS DOUBLE) +
       |      CASE WHEN i = 1 THEN CAST(0.01 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
       |  FROM embeddings WHERE vec_id % 20 = 0)""".stripMargin

  /** Unbucketed all-pairs reference for q_neardup_embedding — O(n²), for
    * NearDupSpec's side-by-side equality check only, never benched. */
  private[graft] def neardupAllPairs(s: SparkSession, d: String): DataFrame = {
    val corpus = neardupCorpus(s, d)
    val l = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val r = corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9))
      .filter(col("sim") >= 0.9)
      .select(col("id_a"), col("id_b"), col("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared oracle prefix for the planted-corpus IVF-PQ recall
    * sweeps: [[plantedCorpusDuck]] + [[ivf2ProbesDuck]], ending at
    * probes(qid, probe_cid) — ONE definition for the raw and residual
    * variants. */
  private lazy val ivfpqPlantedPrefixDuck: String =
    s"""$plantedCorpusDuck,
       |$ivf2ProbesDuck""".stripMargin

  /** Generated oracle for q_ann_ivfpq_lloyd — the full unroll, every
    * stage restated in the house CTE shapes: coarse Lloyd
    * (c0→a1→c1→a2→c2, the q_kmeans CTEs at K = ⌈√N⌉ over the planted
    * corpus), trained assignment + nprobe=2 probes, per-subspace
    * codebook Lloyd (two rounds per (variant, K) cell; an empty code
    * cell keeps its previous-round codeword via the grid COALESCE),
    * final ADC codes/tables, candidates restricted to probed lists,
    * exact L2 top-3 truth. Helpers generate the repeated rounds (the
    * q_pca_power precedent). */
  private lazy val ivfpqLloydDuck: String = {
    val D1 = DIM + 1
    val S1 = PQ_SUB + 1
    def coarseD2(v: String, c: String) =
      s"""(list_sum(list_transform(range(1, $D1), i -> $v[i] * $v[i]))
         |         + list_sum(list_transform(range(1, $D1), i -> $c[i] * $c[i])))
         |        - list_sum(list_transform(range(1, $D1), i -> $v[i] * $c[i])) * 2""".stripMargin
    def assignCte(out: String, cents: String) =
      s"""$out AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${coarseD2("e.embedding", "c.cv")}, c.cid) AS rn
         |    FROM e, $cents c) t WHERE rn = 1)""".stripMargin
    def reestCte(src: String, sOut: String, cOut: String) =
      s"""$sOut AS (
         |  SELECT cid, dim,
         |    SUM(CAST(ROUND(embedding[CAST(dim AS INTEGER)] * 1000000) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT cid, unnest(range(1, $D1)) AS dim, embedding FROM $src)
         |  GROUP BY cid, dim),
         |$cOut AS (
         |  SELECT cid, list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS cv
         |  FROM $sOut GROUP BY cid)""".stripMargin
    def pqD2Cte(out: String, encCte: String, cbCte: String) =
      s"""$out AS (
         |  SELECT E.vec_id, w.m, w.k,
         |    (list_sum(list_transform(range(1, $S1), i ->
         |       E.enc[w.m*$PQ_SUB+i] * E.enc[w.m*$PQ_SUB+i]))
         |     + list_sum(list_transform(range(1, $S1), i -> w.w[i] * w.w[i]))
         |     - list_sum(list_transform(range(1, $S1), i ->
         |       E.enc[w.m*$PQ_SUB+i] * w.w[i])) * 2) AS d
         |  FROM $encCte E, $cbCte w)""".stripMargin
    def codesCte(out: String, dCte: String) =
      s"""$out AS (
         |  SELECT vec_id, m, k AS code FROM (
         |    SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |                                            ORDER BY d, k) AS rn
         |    FROM $dCte) t WHERE rn = 1)""".stripMargin
    def trainRound(tag: String, encCte: String, prevCb: String, outCb: String) =
      s"""${pqD2Cte(s"d_$tag", encCte, prevCb)},
         |${codesCte(s"asg_$tag", s"d_$tag")},
         |cell_$tag AS (
         |  SELECT m, code, dim,
         |    SUM(CAST(ROUND(enc[m*$PQ_SUB+CAST(dim AS INTEGER)] * 1000000)
         |        AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT a.m, a.code, E.enc, unnest(range(1, $S1)) AS dim
         |        FROM asg_$tag a JOIN $encCte E ON E.vec_id = a.vec_id)
         |  GROUP BY m, code, dim),
         |agg_$tag AS (
         |  SELECT m, code, list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS w
         |  FROM cell_$tag GROUP BY m, code),
         |$outCb AS (
         |  SELECT p.m, p.k, COALESCE(g.w, p.w) AS w
         |  FROM $prevCb p LEFT JOIN agg_$tag g ON g.m = p.m AND g.code = p.k)"""
        .stripMargin
    // one trained-codebook chain + final codes per (variant, K) cell
    def cellCtes(v: String, ck: Int): String = {
      val seed =
        if (v == "raw")
          s"""cw_${v}_${ck}_0 AS (
             |  SELECT ms.m, CAST(e.vec_id - 10 AS INTEGER) AS k,
             |    list_transform(range(1, $S1), i ->
             |      e.embedding[ms.m*$PQ_SUB+i]) AS w
             |  FROM e, ms WHERE e.vec_id >= 10 AND e.vec_id < ${10 + ck})"""
            .stripMargin
        else
          s"""cw_${v}_${ck}_0 AS (
             |  SELECT ms.m, CAST(r.vec_id - 10 - kk.k2 AS INTEGER) AS k,
             |    list_transform(range(1, $S1), i -> r.enc[ms.m*$PQ_SUB+i]) AS w
             |  FROM encres r, ms, k kk
             |  WHERE r.vec_id >= 10 + kk.k2 AND r.vec_id < 10 + kk.k2 + $ck)"""
            .stripMargin
      val enc = if (v == "raw") "encraw" else "encres"
      Seq(seed,
        trainRound(s"${v}_${ck}_1", enc, s"cw_${v}_${ck}_0", s"cw_${v}_${ck}_1"),
        trainRound(s"${v}_${ck}_2", enc, s"cw_${v}_${ck}_1", s"cw_${v}_${ck}_2"),
        pqD2Cte(s"df_${v}_$ck", enc, s"cw_${v}_${ck}_2"),
        codesCte(s"codes_${v}_$ck", s"df_${v}_$ck")).mkString(",\n")
    }
    // per-cell query distance tables + probed-list ADC ranking
    def qtabCte(v: String, ck: Int): String =
      if (v == "raw")
        s"""qtab_${v}_$ck AS (
           |  SELECT vec_id AS qid, m, k, CAST(round(d, 9) AS DECIMAL(18,9)) AS dd
           |  FROM df_${v}_$ck WHERE vec_id < 10)""".stripMargin
      else
        s"""qtab_${v}_$ck AS (
           |  SELECT qd.qid, qd.probe_cid, w.m, w.k,
           |    CAST(round(
           |      (list_sum(list_transform(range(1, $S1), i ->
           |         qd.enc[w.m*$PQ_SUB+i] * qd.enc[w.m*$PQ_SUB+i]))
           |       + list_sum(list_transform(range(1, $S1), i -> w.w[i] * w.w[i]))
           |       - list_sum(list_transform(range(1, $S1), i ->
           |         qd.enc[w.m*$PQ_SUB+i] * w.w[i])) * 2), 9)
           |      AS DECIMAL(18,9)) AS dd
           |  FROM qd, cw_${v}_${ck}_2 w)""".stripMargin
    def apCte(v: String, ck: Int): String = {
      val resJoin = if (v == "raw") ""
        else " AND q.probe_cid = cl.cid"
      s"""ap_${v}_$ck AS (
         |  SELECT qid AS aqid, nid AS anid FROM (
         |    SELECT t.qid, t.nid,
         |      ROW_NUMBER() OVER (PARTITION BY t.qid
         |                         ORDER BY t.approx, t.nid) AS rk
         |    FROM (
         |      SELECT cl.qid, cl.nid, SUM(q.dd) AS approx
         |      FROM candlist cl
         |        JOIN codes_${v}_$ck c ON c.vec_id = cl.nid
         |        JOIN qtab_${v}_$ck q ON q.qid = cl.qid
         |          AND q.m = c.m AND q.k = c.code$resJoin
         |      GROUP BY cl.qid, cl.nid) t) u WHERE rk <= 3)""".stripMargin
    }
    val cells = for (v <- Seq("raw", "residual"); ck <- Seq(4, 16))
      yield Seq(cellCtes(v, ck), qtabCte(v, ck), apCte(v, ck)).mkString(",\n")
    s"""WITH $plantedCorpusDuck,
       |k AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k2
       |      FROM embeddings),
       |ms AS (SELECT unnest(range(0, $PQ_M)) AS m),
       |c0 AS (SELECT CAST(vec_id - 10 AS INTEGER) AS cid, embedding AS cv
       |       FROM e, k WHERE vec_id >= 10 AND vec_id < 10 + k2),
       |${assignCte("a1", "c0")},
       |${reestCte("a1", "s1", "c1")},
       |${assignCte("a2", "c1")},
       |${reestCte("a2", "s2", "c2")},
       |${assignCte("a3", "c2")},
       |probes AS (
       |  SELECT vec_id AS qid, cid AS probe_cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${coarseD2("e.embedding", "c.cv")}, c.cid) AS rn
       |    FROM e, c2 c WHERE e.vec_id < 10) t WHERE rn <= 2),
       |encraw AS (SELECT vec_id, embedding AS enc FROM a3),
       |encres AS (
       |  SELECT a.vec_id, a.cid,
       |    list_transform(range(1, $D1), i -> a.embedding[i] - c.cv[i]) AS enc
       |  FROM a3 a JOIN c2 c ON c.cid = a.cid),
       |qd AS (
       |  SELECT p.qid, p.probe_cid,
       |    list_transform(range(1, $D1), i -> qe.embedding[i] - c.cv[i]) AS enc
       |  FROM probes p
       |    JOIN e qe ON qe.vec_id = p.qid
       |    JOIN c2 c ON c.cid = p.probe_cid),
       |candlist AS (
       |  SELECT p.qid, a.vec_id AS nid, a.cid
       |  FROM a3 a JOIN probes p
       |    ON a.cid = p.probe_cid AND p.qid <> a.vec_id),
       |${cells.mkString(",\n")},
       |approx AS (
       |  SELECT 'raw' AS avariant, 4 AS a_code_k, * FROM ap_raw_4
       |  UNION ALL SELECT 'raw', 16, * FROM ap_raw_16
       |  UNION ALL SELECT 'residual', 4, * FROM ap_residual_4
       |  UNION ALL SELECT 'residual', 16, * FROM ap_residual_16),
       |vs AS (SELECT * FROM (VALUES ('raw'), ('residual')) t(variant)),
       |ks AS (SELECT * FROM (VALUES (4), (16)) t(code_k)),
       |exact AS (
       |  SELECT vs.variant, ks.code_k, t.qid, t.nid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS nid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(q.nrm * q.nrm + c.nrm * c.nrm -
       |          ${dotDuck("q.embedding", "c.embedding")} * 2, 9), c.vec_id)
       |        AS rk
       |    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id) t,
       |    vs, ks
       |  WHERE rk <= 3),
       |per_q AS (
       |  SELECT exact.variant, exact.code_k, qid,
       |    CAST(COUNT(*) AS BIGINT) AS n_exact,
       |    CAST(COUNT(anid) AS BIGINT) AS n_hits
       |  FROM exact LEFT JOIN approx
       |    ON exact.variant = approx.avariant
       |      AND exact.code_k = approx.a_code_k
       |      AND exact.qid = approx.aqid AND exact.nid = approx.anid
       |  GROUP BY exact.variant, exact.code_k, qid)
       |SELECT variant, CAST(code_k AS BIGINT) AS code_k, qid, n_exact, n_hits,
       |  round(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall,
       |  round(CAST(SUM(n_hits) OVER (PARTITION BY variant, code_k) AS DOUBLE) /
       |    (3.0 * COUNT(*) OVER (PARTITION BY variant, code_k)), 6)
       |    AS macro_recall
       |FROM per_q
       |WHERE (SELECT COUNT(*) FROM embeddings) >=
       |  10 + CAST(ceil(sqrt((SELECT COUNT(*) FROM embeddings))) AS BIGINT)
       |  + $IVFPQ_K
       |ORDER BY variant, code_k, qid""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_ann_ivfpq_lloyd" -> ivfpqLloydDuck,

    // NN-Descent unrolled (see nnDescentDuck); final graph ranked by
    // the same round-9 cosine used inside the rounds
    "q_ann_graph" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |${nnDescentDuck(2)}
         |SELECT qid, rk, nid, sim FROM (
         |  SELECT g.src AS qid, g.dst AS nid,
         |    round(${dotDuck("a.embedding", "b.embedding")} /
         |      (a.nrm * b.nrm), 9) AS sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY g.src ORDER BY
         |      round(${dotDuck("a.embedding", "b.embedding")} /
         |        (a.nrm * b.nrm), 9) DESC, g.dst) AS BIGINT) AS rk
         |  FROM e2 g JOIN nodes a ON a.vec_id = g.src
         |            JOIN nodes b ON b.vec_id = g.dst
         |  WHERE g.src < 10) t
         |ORDER BY qid, rk""".stripMargin,

    // the index-side graph unroll + a single-beam walk for OUTSIDE
    // vectors; links = top-k of the visited set
    "q_ann_graph_admission" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm
         |           FROM embeddings WHERE vec_id % 7 <> 3),
         |${nnDescentDuck(2)},
         |${nnBeamDuck(7, Seq(8),
               s"SELECT vec_id AS qid, embedding AS qv, $normDuck AS qnrm, " +
                 s"substr($bucketDuck, 1, $NN_INIT_WIDTH) AS qblk " +
                 "FROM embeddings WHERE vec_id % 7 = 3")}
         |SELECT qid, rk, nid, sim FROM (
         |  SELECT v.qid, v.node AS nid,
         |    round(${dotDuck("q.qv", "n.embedding")} /
         |      (q.qnrm * n.nrm), 9) AS sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS BIGINT) AS rk
         |  FROM v7 v JOIN nodes n ON n.vec_id = v.node
         |            JOIN qs q ON q.qid = v.qid) t
         |WHERE rk <= ${NN_K} ORDER BY qid, rk""".stripMargin,

    // the graph unroll + the beam-search unroll; recall of the
    // cumulative visited set per beam width against the planted truth
    "q_ann_beam" ->
      s"""WITH $plantedCorpusDuck,
         |${nnDescentDuck(2)},
         |${nnBeamDuck(7, Seq(1, 2, 4, 8),
             "SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm, " +
               "blk AS qblk FROM nodes WHERE vec_id < 10")},
         |ranked AS (SELECT beam, qid, nid FROM (
         |  SELECT v.beam, v.qid, v.node AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM v7 v JOIN nodes n ON n.vec_id = v.node
         |            JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3),
         |truth AS (SELECT q0.vec_id AS qid,
         |    1000000 + q0.vec_id * 10 + c AS nid, beam
         |  FROM q0, (VALUES (1), (2), (3)) t(c), beams),
         |per_q AS (
         |  SELECT truth.beam, truth.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(ranked.nid) AS BIGINT) AS n_hits
         |  FROM truth LEFT JOIN ranked ON ranked.beam = truth.beam
         |    AND ranked.qid = truth.qid AND ranked.nid = truth.nid
         |  GROUP BY truth.beam, truth.qid)
         |SELECT CAST(beam AS BIGINT) AS beam, qid, n_exact, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall,
         |  round(CAST(SUM(n_hits) OVER (PARTITION BY beam) AS DOUBLE) /
         |    (3.0 * COUNT(*) OVER (PARTITION BY beam)), 6) AS macro_recall
         |FROM per_q ORDER BY beam, qid""".stripMargin,

    // the full 2-level unroll: planted prefix + base descent, the √N
    // md5-ranked upper sample, its ring seed + descent (descentSteps
    // at prefix u) + ring-preserving symmetrized search graph, the
    // beam-1 greedy upper walk, then BOTH base arms (global entry /
    // layered entry) through the same walk CTEs at prefixes ga/la
    "q_ann_layered" ->
      s"""WITH $plantedCorpusDuck,
         |${nnDescentDuck(2)},
         |qs AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv,
         |  nrm AS qnrm FROM nodes WHERE vec_id < 10),
         |uall AS (SELECT vec_id, embedding, nrm,
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |      vec_id) AS urk
         |  FROM nodes WHERE vec_id >= 10),
         |un AS MATERIALIZED (SELECT * FROM uall
         |  WHERE urk <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT)
         |                FROM nodes)),
         |u0 AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM un a
         |  CROSS JOIN (VALUES ${(1 to NN_K).map(j => s"($j)").mkString(", ")}) j(j)
         |  JOIN un b ON b.urk = ((a.urk - 1 + j.j) %
         |    (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM nodes)) + 1
         |  WHERE a.vec_id <> b.vec_id),
         |${descentStepsDuck("un", "u", 2)},
         |uw AS (SELECT src, dst FROM u2 UNION SELECT src, dst FROM u0),
         |${symGraphDuck("ug", "uw")},
         |uent AS (SELECT qid, (SELECT vec_id FROM un WHERE urk = 1) AS node
         |         FROM qs),
         |ubeams AS (SELECT 1 AS beam),
         |${walkDuck("u", "un", "ug", "uent", "ubeams", 7)},
         |lent AS (SELECT qid, node FROM (
         |  SELECT v.qid, v.node,
         |    ROW_NUMBER() OVER (PARTITION BY v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM uv7 v JOIN un n ON n.vec_id = v.node
         |             JOIN qs q ON q.qid = v.qid) t WHERE rk = 1),
         |gnode AS (SELECT vec_id AS node FROM nodes WHERE vec_id >= 10
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
         |gent AS (SELECT qid, node FROM qs, gnode),
         |beams AS (SELECT * FROM (VALUES (1), (2), (4), (8)) b(beam)),
         |${symGraphDuck("bg", "e2")},
         |${walkDuck("la", "nodes", "bg", "lent", "beams", 7)},
         |${walkDuck("ga", "nodes", "bg", "gent", "beams", 7)},
         |laranked AS (SELECT beam, qid, nid FROM (
         |  SELECT v.beam, v.qid, v.node AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM lav7 v JOIN nodes n ON n.vec_id = v.node
         |              JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3),
         |garanked AS (SELECT beam, qid, nid FROM (
         |  SELECT v.beam, v.qid, v.node AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM gav7 v JOIN nodes n ON n.vec_id = v.node
         |              JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3),
         |truth AS (SELECT q0.vec_id AS qid,
         |    1000000 + q0.vec_id * 10 + c AS nid, beam
         |  FROM q0, (VALUES (1), (2), (3)) t(c), beams),
         |laq AS (SELECT 'layered' AS entry, truth.beam, truth.qid,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(laranked.nid) AS BIGINT) AS n_hits
         |  FROM truth LEFT JOIN laranked ON laranked.beam = truth.beam
         |    AND laranked.qid = truth.qid AND laranked.nid = truth.nid
         |  GROUP BY truth.beam, truth.qid),
         |gaq AS (SELECT 'global' AS entry, truth.beam, truth.qid,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(garanked.nid) AS BIGINT) AS n_hits
         |  FROM truth LEFT JOIN garanked ON garanked.beam = truth.beam
         |    AND garanked.qid = truth.qid AND garanked.nid = truth.nid
         |  GROUP BY truth.beam, truth.qid),
         |allq AS (SELECT * FROM gaq UNION ALL SELECT * FROM laq)
         |SELECT entry, CAST(beam AS BIGINT) AS beam, qid, n_exact, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall,
         |  round(CAST(SUM(n_hits) OVER (PARTITION BY entry, beam) AS DOUBLE) /
         |    (3.0 * COUNT(*) OVER (PARTITION BY entry, beam)), 6)
         |    AS macro_recall
         |FROM allq ORDER BY entry, beam, qid""".stripMargin,

    // the planted prefix + descent unroll, the tombstone/repair CTEs
    // (alive edges + cosine-capped 2-hop re-routes, re-symmetrized),
    // then BOTH arms as separate walk chains (pa = pre-delete graph,
    // pb = post-delete graph over alive nodes), scored against the
    // SURVIVING truth with the stale-tombstone top-3 count
    "q_ann_delete" ->
      s"""WITH $deleteGraphDuck,
         |${repairDuck("d", "pg", "del", "qg")},
         |$deleteEntriesDuck,
         |beams AS (SELECT * FROM (VALUES (1), (2), (4), (8)) b(beam)),
         |${walkDuck("pa", "nodes", "pg", "pent", "beams", 7)},
         |${walkDuck("pb", "an", "qg", "bent", "beams", 7)},
         |paranked AS (SELECT beam, qid, nid FROM (
         |  SELECT v.beam, v.qid, v.node AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM pav7 v JOIN nodes n ON n.vec_id = v.node
         |              JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3),
         |pbranked AS (SELECT beam, qid, nid FROM (
         |  SELECT v.beam, v.qid, v.node AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM pbv7 v JOIN an n ON n.vec_id = v.node
         |              JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3),
         |struth AS (SELECT q0.vec_id AS qid,
         |    1000000 + q0.vec_id * 10 + c AS nid
         |  FROM q0, (VALUES (1), (2), (3)) t(c)
         |  WHERE (1000000 + q0.vec_id * 10 + c) % 9 <> 4),
         |tb AS (SELECT qid, nid, beam FROM struth, beams),
         |pad AS (SELECT beam, qid, CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM paranked WHERE nid IN (SELECT did FROM del)
         |  GROUP BY beam, qid),
         |pbd AS (SELECT beam, qid, CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM pbranked WHERE nid IN (SELECT did FROM del)
         |  GROUP BY beam, qid),
         |paq AS (SELECT 'pre' AS arm, t.beam, t.qid,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(r.nid) AS BIGINT) AS n_hits
         |  FROM tb t LEFT JOIN paranked r ON r.beam = t.beam
         |    AND r.qid = t.qid AND r.nid = t.nid
         |  GROUP BY t.beam, t.qid),
         |pbq AS (SELECT 'post' AS arm, t.beam, t.qid,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(r.nid) AS BIGINT) AS n_hits
         |  FROM tb t LEFT JOIN pbranked r ON r.beam = t.beam
         |    AND r.qid = t.qid AND r.nid = t.nid
         |  GROUP BY t.beam, t.qid),
         |paj AS (SELECT p.arm, p.beam, p.qid, p.n_exact, p.n_hits,
         |    COALESCE(d.nd, 0) AS n_del_top3
         |  FROM paq p LEFT JOIN pad d ON d.beam = p.beam AND d.qid = p.qid),
         |pbj AS (SELECT p.arm, p.beam, p.qid, p.n_exact, p.n_hits,
         |    COALESCE(d.nd, 0) AS n_del_top3
         |  FROM pbq p LEFT JOIN pbd d ON d.beam = p.beam AND d.qid = p.qid),
         |allq AS (SELECT * FROM paj UNION ALL SELECT * FROM pbj)
         |SELECT arm, CAST(beam AS BIGINT) AS beam, qid, n_exact, n_hits,
         |  n_del_top3,
         |  round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall,
         |  round(CAST(SUM(n_hits) OVER (PARTITION BY arm, beam) AS DOUBLE) /
         |    SUM(n_exact) OVER (PARTITION BY arm, beam), 6) AS macro_recall
         |FROM allq ORDER BY arm, beam, qid""".stripMargin,

    // the drift audit restated: the q_ann_delete prefix (pre graph +
    // tombstones + one-shot repairDuck -> ig), a SECOND full descent
    // over the alive node frame (r0 seed + descentStepsDuck at
    // prefix r -> rebuilt rg), scalar edge algebra, and both arms
    // through walkDuck over the same alive-routed entries
    "q_ann_rebuild_compare" ->
      s"""WITH $deleteGraphDuck,
         |${repairDuck("d", "pg", "del", "ig")},
         |an AS MATERIALIZED (SELECT * FROM nodes
         |  WHERE vec_id NOT IN (SELECT did FROM del)),
         |r0 AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT l.vec_id AS src, r.vec_id AS dst,
         |    ROW_NUMBER() OVER (PARTITION BY l.vec_id ORDER BY
         |      md5(CAST(l.vec_id AS VARCHAR) || '|' || CAST(r.vec_id AS VARCHAR)),
         |      r.vec_id) AS rk
         |  FROM an l JOIN an r ON l.blk = r.blk AND l.vec_id <> r.vec_id) t
         | WHERE rk <= $NN_K),
         |${descentStepsDuck("an", "r", 2)},
         |${symGraphDuck("rg", "r2")},
         |est AS (SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ig) AS n_inc,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM rg) AS n_reb,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |    (SELECT src, dst FROM ig INTERSECT
         |     SELECT src, dst FROM rg) t) AS n_common),
         |qs AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv,
         |  nrm AS qnrm, blk AS qblk FROM nodes WHERE vec_id < 10),
         |${routedEntryDuck("bent", "an")},
         |rcb AS (SELECT * FROM (VALUES (2), (4)) b(beam)),
         |${walkDuck("ia", "an", "ig", "bent", "rcb", 7)},
         |${walkDuck("ra", "an", "rg", "bent", "rcb", 7)},
         |iarank AS (SELECT beam, qid, nid FROM (
         |  SELECT v.beam, v.qid, v.node AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM iav7 v JOIN an n ON n.vec_id = v.node
         |              JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3),
         |rarank AS (SELECT beam, qid, nid FROM (
         |  SELECT v.beam, v.qid, v.node AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY v.beam, v.qid ORDER BY
         |      round(${dotDuck("q.qv", "n.embedding")} /
         |        (q.qnrm * n.nrm), 9) DESC, v.node) AS rk
         |  FROM rav7 v JOIN an n ON n.vec_id = v.node
         |              JOIN qs q ON q.qid = v.qid) t WHERE rk <= 3),
         |struth AS (SELECT q0.vec_id AS qid,
         |    1000000 + q0.vec_id * 10 + c AS nid
         |  FROM q0, (VALUES (1), (2), (3)) t(c)
         |  WHERE (1000000 + q0.vec_id * 10 + c) % 9 <> 4),
         |tb AS (SELECT qid, nid, beam FROM struth, rcb),
         |iag AS (SELECT 'incremental' AS arm, t.beam,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(r.nid) AS BIGINT) AS n_hits
         |  FROM tb t LEFT JOIN iarank r ON r.beam = t.beam
         |    AND r.qid = t.qid AND r.nid = t.nid
         |  GROUP BY t.beam),
         |rag AS (SELECT 'rebuild' AS arm, t.beam,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(r.nid) AS BIGINT) AS n_hits
         |  FROM tb t LEFT JOIN rarank r ON r.beam = t.beam
         |    AND r.qid = t.qid AND r.nid = t.nid
         |  GROUP BY t.beam),
         |u AS (SELECT * FROM iag UNION ALL SELECT * FROM rag)
         |SELECT arm, CAST(beam AS BIGINT) AS beam, n_exact, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS macro_recall,
         |  CASE WHEN arm = 'incremental' THEN n_inc ELSE n_reb END
         |    AS n_edges,
         |  n_common,
         |  round(CAST(n_common AS DOUBLE) / (n_inc + n_reb - n_common), 9)
         |    AS jaccard
         |FROM u CROSS JOIN est ORDER BY arm, beam""".stripMargin,

    // the descent unroll over the raw corpus + label table, ONE full
    // walk chain (pf) and one induced-subgraph chain per predicate
    // (i1..i3: matching nodes, induced edges, matching-routed entry),
    // brute-force constrained truth, shared report algebra
    "q_ann_filtered" -> {
      val predsD = Seq(("lt5", "label < 5"), ("lt2", "label < 2"),
        ("eq0", "label = 0"))
      val perPred = predsD.zipWithIndex.map { case ((_, cond), i0) =>
        val i = i0 + 1
        s"""mn$i AS MATERIALIZED (SELECT n.* FROM nodes n
           |  JOIN lab l ON l.vec_id = n.vec_id WHERE l.$cond),
           |g$i AS MATERIALIZED (SELECT src, dst FROM fg
           |  WHERE src IN (SELECT vec_id FROM mn$i)
           |    AND dst IN (SELECT vec_id FROM mn$i)),
           |${routedEntryDuck(s"ent$i", s"mn$i")},
           |${walkDuck(s"i$i", s"mn$i", s"g$i", s"ent$i", "beams", 7)},
           |iv$i AS (SELECT 'induced' AS strategy,
           |    '${predsD(i0)._1}' AS pred, v.beam, v.qid, v.node,
           |    round(${dotDuck("q.qv", "n.embedding")} /
           |      (q.qnrm * n.nrm), 9) AS sim, TRUE AS m
           |  FROM i${i}v7 v JOIN mn$i n ON n.vec_id = v.node
           |                 JOIN qs q ON q.qid = v.qid)""".stripMargin
      }.mkString(",\n")
      val pfArms = predsD.map { case (nm, cond) =>
        s"""SELECT 'postfilter' AS strategy, '$nm' AS pred, beam, qid,
           |    node, sim, ($cond) AS m FROM pfv""".stripMargin
      }.mkString("\n  UNION ALL ")
      val truthArms = predsD.map { case (nm, cond) =>
        s"""SELECT '$nm' AS pred, qid, nid FROM (
           |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, nid) AS rk FROM bs WHERE $cond) t
           | WHERE rk <= 3""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm
         |           FROM embeddings),
         |lab AS MATERIALIZED (SELECT vec_id, label FROM embeddings),
         |${nnDescentDuck(2)},
         |${symGraphDuck("fg", "e2")},
         |qs AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv,
         |  nrm AS qnrm, blk AS qblk FROM nodes WHERE vec_id < 10),
         |beams AS (SELECT * FROM (VALUES (4), (8)) b(beam)),
         |${routedEntryDuck("pfent", "nodes")},
         |${walkDuck("pf", "nodes", "fg", "pfent", "beams", 7)},
         |pfv AS (SELECT v.beam, v.qid, v.node,
         |    round(${dotDuck("q.qv", "n.embedding")} /
         |      (q.qnrm * n.nrm), 9) AS sim, l.label AS label
         |  FROM pfv7 v JOIN nodes n ON n.vec_id = v.node
         |              JOIN qs q ON q.qid = v.qid
         |              JOIN lab l ON l.vec_id = v.node),
         |$perPred,
         |allv AS ($pfArms
         |  UNION ALL SELECT * FROM iv1
         |  UNION ALL SELECT * FROM iv2
         |  UNION ALL SELECT * FROM iv3),
         |counts AS (SELECT strategy, pred, beam, qid,
         |    CAST(COUNT(*) AS BIGINT) AS n_visited,
         |    CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match_visited
         |  FROM allv GROUP BY strategy, pred, beam, qid),
         |ranked AS (SELECT strategy, pred, beam, qid, node FROM (
         |  SELECT strategy, pred, beam, qid, node,
         |    ROW_NUMBER() OVER (PARTITION BY strategy, pred, beam, qid
         |      ORDER BY sim DESC, node) AS rk
         |  FROM allv WHERE m) t WHERE rk <= 3),
         |bs AS (SELECT q.qid, n.vec_id AS nid, l.label,
         |    round(${dotDuck("q.qv", "n.embedding")} /
         |      (q.qnrm * n.nrm), 9) AS sim
         |  FROM nodes n JOIN lab l ON l.vec_id = n.vec_id, qs q
         |  WHERE n.vec_id <> q.qid),
         |truth0 AS ($truthArms),
         |grid AS (SELECT s.strategy, t.pred, b.beam, t.qid, t.nid
         |  FROM truth0 t,
         |       (VALUES ('postfilter'), ('induced')) s(strategy), beams b),
         |perq AS (SELECT g.strategy, g.pred, g.beam, g.qid,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(r.node) AS BIGINT) AS n_hits
         |  FROM grid g LEFT JOIN ranked r ON r.strategy = g.strategy
         |    AND r.pred = g.pred AND r.beam = g.beam AND r.qid = g.qid
         |    AND r.node = g.nid
         |  GROUP BY g.strategy, g.pred, g.beam, g.qid)
         |SELECT p.strategy, p.pred, CAST(p.beam AS BIGINT) AS beam, p.qid,
         |  CAST(COALESCE(c.n_visited, 0) AS BIGINT) AS n_visited,
         |  CAST(COALESCE(c.n_match_visited, 0) AS BIGINT)
         |    AS n_match_visited,
         |  p.n_exact, p.n_hits,
         |  round(CAST(p.n_hits AS DOUBLE) / p.n_exact, 6) AS recall,
         |  round(CAST(SUM(p.n_hits) OVER
         |      (PARTITION BY p.strategy, p.pred, p.beam) AS DOUBLE) /
         |    SUM(p.n_exact) OVER (PARTITION BY p.strategy, p.pred, p.beam),
         |    6) AS macro_recall
         |FROM perq p LEFT JOIN counts c ON c.strategy = p.strategy
         |  AND c.pred = p.pred AND c.beam = p.beam AND c.qid = p.qid
         |ORDER BY p.strategy, p.pred, p.beam, p.qid""".stripMargin
    },

    "q_ann_graph_recall" -> annGraphRecallOracle(),
    // both rankings from one sims CTE; the LSH side is the same frame
    // prefix-filtered per width (nested candidate sets by construction)
    "q_ann_recall" ->
      s"""WITH $plantedAugDuck,
         |e AS (SELECT vec_id, embedding, $normDuck AS nrm,
         |             $bucketDuck AS bucket
         |           FROM aug),
         |w AS (SELECT * FROM (VALUES (2), (4), (8)) t(width)),
         |sims AS (
         |  SELECT q.vec_id AS qid, q.bucket AS qbucket,
         |    c.vec_id AS nid, c.bucket AS nbucket,
         |    round(${dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 9) AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |exact AS (
         |  SELECT width, qid, nid FROM (
         |    SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, nid) AS rk FROM sims) t, w
         |  WHERE rk <= 3),
         |approx AS (
         |  SELECT width AS awidth, qid AS aqid, nid AS anid FROM (
         |    SELECT width, qid, nid, ROW_NUMBER() OVER (
         |      PARTITION BY width, qid ORDER BY sim DESC, nid) AS rk
         |    FROM sims, w
         |    WHERE substr(qbucket, 1, width) = substr(nbucket, 1, width)) t
         |  WHERE rk <= 3),
         |per_q AS (
         |  SELECT width, qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(anid) AS BIGINT) AS n_hits
         |  FROM exact LEFT JOIN approx
         |    ON exact.width = approx.awidth AND exact.qid = approx.aqid
         |      AND exact.nid = approx.anid
         |  GROUP BY width, qid)
         |SELECT CAST(width AS BIGINT) AS width, qid, n_exact, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall,
         |  round(CAST(SUM(n_hits) OVER (PARTITION BY width) AS DOUBLE) /
         |    (3.0 * COUNT(*) OVER (PARTITION BY width)), 6) AS macro_recall
         |FROM per_q ORDER BY width, qid""".stripMargin,

    // anchors joined on label inequality, same round-9 cosine
    "q_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding, label, $normDuck AS nrm
         |           FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS qid, CAST(q.label AS BIGINT) AS qlabel,
         |    c.vec_id AS nid, CAST(c.label AS BIGINT) AS nlabel,
         |    round(${dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 9) AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.label <> c.label)
         |SELECT qid, qlabel, rk, nid, nlabel, sim FROM (
         |  SELECT qid, qlabel, nid, nlabel, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rk
         |  FROM sims) t
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // odd half classified by even half, same round-9 cosine, vote
    // ties to the smallest label
    "q_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS label,
         |             $normDuck AS nrm FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS qid, q.label AS qlabel,
         |    t.vec_id AS nid, t.label AS nlabel,
         |    round(${dotDuck("q.embedding", "t.embedding")} / (q.nrm * t.nrm), 9) AS sim
         |  FROM e q JOIN e t ON q.vec_id % 2 = 1 AND t.vec_id % 2 = 0),
         |top5 AS (SELECT qid, qlabel, nlabel FROM (
         |  SELECT qid, qlabel, nlabel,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM sims) t WHERE rk <= 5),
         |votes AS (SELECT qid, qlabel, nlabel, COUNT(*) AS cnt
         |          FROM top5 GROUP BY qid, qlabel, nlabel),
         |pred AS (SELECT qid, qlabel, nlabel AS plabel FROM (
         |  SELECT qid, qlabel, nlabel,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cnt DESC, nlabel) AS rk
         |  FROM votes) t WHERE rk = 1)
         |SELECT qlabel AS true_label, plabel AS pred_label,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM pred GROUP BY qlabel, plabel
         |ORDER BY true_label, pred_label""".stripMargin,

    "q_ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(${dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 9) AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |SELECT qid, rk, nid, sim FROM (
         |  SELECT qid, nid, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rk
         |  FROM sims) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm,
         |             $bucketDuck AS bucket
         |           FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS qid, q.bucket, c.vec_id AS nid,
         |    round(${dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 9) AS sim
         |  FROM e q JOIN e c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |SELECT qid, bucket, rk, nid, sim FROM (
         |  SELECT qid, bucket, nid, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rk
         |  FROM sims) t
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // Oracle mirrors the IVF structure with plain SQL (cross join +
    // row_number argmax — the oracle does not need the scale path).
    // nlist restated: K = ceil(sqrt(COUNT(*))) sampled centroids, the
    // same formula the Spark side derives from its 1-row count agg.
    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |${sampledScoredDuck("embeddings")},
         |$ivfProbeTop3Duck""".stripMargin,

    // the greedy rounds unrolled as chained argmin CTEs (the BPE
    // unroll precedent): each round's max-sim frame excludes the
    // chosen set, LIMIT 1 under the (ms, vec_id) total order is the
    // pick, sel accumulates. e and every sel are MATERIALIZED: round i
    // reads sel(i-1) three times, so inlined CTEs re-expand the whole
    // chain per reference, 3^7-fold by sel8 (sf0.01: 829 s → 2.5 s on
    // two DuckDB threads, same rows)
    "q_kcenter_seeds" -> {
      val rounds = (2 to 8).map { i =>
        s"""m$i AS (
           |  SELECT x.vec_id,
           |    MAX(round(${dotDuck("x.embedding", "c.embedding")} /
           |      (x.nrm * c.nrm), 9)) AS ms
           |  FROM e x, e c
           |  WHERE c.vec_id IN (SELECT vec_id FROM sel${i - 1})
           |    AND x.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
           |  GROUP BY x.vec_id),
           |pick$i AS (SELECT vec_id, ms FROM m$i ORDER BY ms ASC, vec_id LIMIT 1),
           |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1}
           |          UNION ALL SELECT $i, vec_id, ms FROM pick$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |sel1(round, vec_id, max_sim) AS MATERIALIZED (
         |  SELECT 1, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)),
         |$rounds,
         |cov AS (
         |  SELECT MIN(ms) AS coverage_minsim FROM (
         |    SELECT x.vec_id,
         |      MAX(round(${dotDuck("x.embedding", "c.embedding")} /
         |        (x.nrm * c.nrm), 9)) AS ms
         |    FROM e x, e c
         |    WHERE c.vec_id IN (SELECT vec_id FROM sel8)
         |    GROUP BY x.vec_id) t)
         |SELECT CAST(round AS BIGINT) AS round, vec_id, max_sim,
         |  coverage_minsim
         |FROM sel8, cov ORDER BY round""".stripMargin
    },

    // the two-level assignment restated as two ROW_NUMBER argmaxes:
    // route every list centroid to its nearest first-stage centroid,
    // route every row to its first-stage group, then argmax only over
    // the group's lists — the same tail as q_ann_ivf
    "q_ann_ivf2" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |$ivf2ScoredDuck,
         |$ivfProbeTop3Duck""".stripMargin,

    // q_ann_ivf2's two-stage restatement, with centroids drawn from
    // the index corpus only (ROW_NUMBER-over-vec_id prefix, nested
    // l1 ⊂ l2), index rows assigned, batch rows routed + probed
    "q_ann_incremental" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |idx AS (SELECT * FROM e WHERE vec_id % 7 <> 3),
         |newb AS (SELECT * FROM e WHERE vec_id % 7 = 3),
         |k AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k2,
         |             CAST(ceil(sqrt(ceil(sqrt(COUNT(*))))) AS BIGINT) AS k1
         |      FROM idx),
         |cseq AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm,
         |           ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
         |         FROM idx WHERE vec_id >= 10),
         |l1 AS (SELECT cid, cv, cnrm FROM cseq, k WHERE rn <= k1),
         |l2 AS (SELECT cid, cv, cnrm FROM cseq, k WHERE rn <= k2),
         |$ivfRouteDuck,
         |gi AS (
         |  SELECT vec_id, embedding, nrm, l1cid FROM (
         |    SELECT idx.vec_id, idx.embedding, idx.nrm, l1.cid AS l1cid,
         |      ROW_NUMBER() OVER (PARTITION BY idx.vec_id ORDER BY
         |        round(${dotDuck("idx.embedding", "l1.cv")} / (idx.nrm * l1.cnrm), 9)
         |          DESC, l1.cid) AS rn
         |    FROM idx CROSS JOIN l1) t WHERE rn = 1),
         |assigned AS (
         |  SELECT vec_id, embedding, nrm, cid AS centroid_id FROM (
         |    SELECT gi.vec_id, gi.embedding, gi.nrm, l2.cid,
         |      ROW_NUMBER() OVER (PARTITION BY gi.vec_id ORDER BY
         |        round(${dotDuck("gi.embedding", "l2.cv")} / (gi.nrm * l2.cnrm), 9)
         |          DESC, l2.cid) AS rn
         |    FROM gi JOIN route r ON r.l1cid = gi.l1cid
         |       JOIN l2 ON l2.cid = r.cid) t WHERE rn = 1),
         |gq AS (
         |  SELECT vec_id, embedding, nrm, l1cid FROM (
         |    SELECT newb.vec_id, newb.embedding, newb.nrm, l1.cid AS l1cid,
         |      ROW_NUMBER() OVER (PARTITION BY newb.vec_id ORDER BY
         |        round(${dotDuck("newb.embedding", "l1.cv")} / (newb.nrm * l1.cnrm), 9)
         |          DESC, l1.cid) AS rn
         |    FROM newb CROSS JOIN l1) t WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm,
         |    cid AS probe_cid, rn FROM (
         |    SELECT gq.vec_id, gq.embedding, gq.nrm, l2.cid,
         |      ROW_NUMBER() OVER (PARTITION BY gq.vec_id ORDER BY
         |        round(${dotDuck("gq.embedding", "l2.cv")} / (gq.nrm * l2.cnrm), 9)
         |          DESC, l2.cid) AS rn
         |    FROM gq JOIN route r ON r.l1cid = gq.l1cid
         |       JOIN l2 ON l2.cid = r.cid) t WHERE rn <= 2),
         |ins AS (SELECT qid, probe_cid AS insert_cid FROM probes WHERE rn = 1),
         |sims AS (
         |  SELECT p.qid, a.centroid_id, a.vec_id AS nid,
         |    round(${dotDuck("p.qv", "a.embedding")} / (p.qnrm * a.nrm), 9) AS sim
         |  FROM assigned a JOIN probes p ON a.centroid_id = p.probe_cid)
         |SELECT t.qid, ins.insert_cid, rk, nid, centroid_id, sim FROM (
         |  SELECT qid, centroid_id, nid, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                            ORDER BY sim DESC, nid) AS BIGINT) AS rk
         |  FROM sims) t JOIN ins ON ins.qid = t.qid
         |WHERE rk <= 3 ORDER BY t.qid, rk""".stripMargin,

    // same planted CTEs as q_ann_recall, same IVF assignment CTEs as
    // q_ann_ivf, probe ranks generalized over the nprobe grid
    "q_ivf_tuning" ->
      s"""WITH $plantedCorpusDuck,
         |cents AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
         |          FROM e WHERE vec_id >= 10 AND vec_id < 10 +
         |            (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)),
         |scored AS (
         |  SELECT e.vec_id, c.cid,
         |    round(${dotDuck("e.embedding", "c.cv")} / (e.nrm * c.cnrm), 9) AS csim
         |  FROM e CROSS JOIN cents c),
         |${assignedDuck("vec_id")},
         |probes AS (
         |  SELECT vec_id AS pqid, cid AS probe_cid, rn AS prank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |                                 ORDER BY csim DESC, cid) AS rn
         |    FROM scored WHERE vec_id < 10) t WHERE rn <= 4),
         |sims AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(${dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 9) AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |np AS (SELECT * FROM (VALUES (1), (2), (4)) t(nprobe)),
         |exact AS (
         |  SELECT nprobe, qid, nid FROM (
         |    SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, nid) AS rk FROM sims) t, np
         |  WHERE rk <= 3),
         |approx AS (
         |  SELECT nprobe AS anprobe, qid AS aqid, nid AS anid FROM (
         |    SELECT np.nprobe, s.qid, s.nid, ROW_NUMBER() OVER (
         |      PARTITION BY np.nprobe, s.qid ORDER BY s.sim DESC, s.nid) AS rk
         |    FROM sims s
         |    JOIN assigned a ON a.vec_id = s.nid
         |    JOIN probes p ON p.pqid = s.qid AND p.probe_cid = a.centroid_id
         |    JOIN np ON p.prank <= np.nprobe) t
         |  WHERE rk <= 3),
         |per_q AS (
         |  SELECT nprobe, qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(anid) AS BIGINT) AS n_hits
         |  FROM exact LEFT JOIN approx
         |    ON exact.nprobe = approx.anprobe AND exact.qid = approx.aqid
         |      AND exact.nid = approx.anid
         |  GROUP BY nprobe, qid)
         |SELECT CAST(nprobe AS BIGINT) AS nprobe, qid, n_exact, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall,
         |  round(CAST(SUM(n_hits) OVER (PARTITION BY nprobe) AS DOUBLE) /
         |    (3.0 * COUNT(*) OVER (PARTITION BY nprobe)), 6) AS macro_recall
         |FROM per_q ORDER BY nprobe, qid""".stripMargin,

    // PQ/ADC: the m/k loops and the d2 formula mirror the Spark side
    // exactly — same sampled codebook rows, same (ss_a + ss_b) - dot*2
    // association, argmin by (d, k), per-cell round(9) → DECIMAL sum.
    "q_ann_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |${pqD2Duck(PQ_K, "e")},
         |$pqCodesDuck,
         |approx AS (
         |  SELECT q.qid, c.vec_id AS nid, SUM(q.dd) AS approx
         |  FROM codes c JOIN qtab q ON q.m = c.m AND q.k = c.code
         |                          AND q.qid <> c.vec_id
         |  GROUP BY q.qid, c.vec_id)
         |SELECT qid, rk, nid, CAST(approx AS DOUBLE) AS approx_d2 FROM (
         |  SELECT qid, nid, approx,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                            ORDER BY approx, nid) AS BIGINT) AS rk
         |  FROM approx) t
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // the q_ann_ivf2 routing/assignment/probe CTEs composed with the
    // q_ann_pq code/distance-table CTEs (at IVFPQ_K codewords), the
    // candidate set restricted to the probed lists
    "q_ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |$ivf2ProbesDuck,
         |${pqD2Duck(IVFPQ_K, "e")},
         |$pqCodesDuck,
         |candlist AS (
         |  SELECT p.qid, a.vec_id AS nid, a.centroid_id
         |  FROM assigned a JOIN probes p
         |    ON a.centroid_id = p.probe_cid AND p.qid <> a.vec_id),
         |approx AS (
         |  SELECT cl.qid, cl.nid, cl.centroid_id, SUM(q.dd) AS approx
         |  FROM candlist cl
         |    JOIN codes c ON c.vec_id = cl.nid
         |    JOIN qtab q ON q.qid = cl.qid AND q.m = c.m AND q.k = c.code
         |  GROUP BY cl.qid, cl.nid, cl.centroid_id)
         |SELECT qid, rk, nid, centroid_id,
         |  CAST(approx AS DOUBLE) AS approx_d2 FROM (
         |  SELECT qid, nid, centroid_id, approx,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                            ORDER BY approx, nid) AS BIGINT) AS rk
         |  FROM approx) t
         |WHERE rk <= 3
         |  AND (SELECT COUNT(*) FROM embeddings) >= ${10 + IVFPQ_K}
         |ORDER BY qid, rk""".stripMargin,

    // the same composed pipeline on the q_ann_recall planted corpus,
    // scored against the exact L2 top-3
    "q_ann_ivfpq_recall" ->
      s"""WITH $ivfpqPlantedPrefixDuck,
         |${pqD2Duck(IVFPQ_K, "e")},
         |ks AS (SELECT * FROM (VALUES (4), (16)) t(code_k)),
         |codes AS (
         |  SELECT code_k, vec_id, m, k AS code FROM (
         |    SELECT ks.code_k, d2.vec_id, d2.m, d2.k,
         |      ROW_NUMBER() OVER (PARTITION BY ks.code_k, d2.vec_id, d2.m
         |                         ORDER BY d2.d, d2.k) AS rn
         |    FROM d2, ks WHERE d2.k < ks.code_k
         |      AND (SELECT COUNT(*) FROM embeddings) >= 10 + ks.code_k)
         |    t WHERE rn = 1),
         |qtab AS (
         |  SELECT vec_id AS qid, m, k, CAST(round(d, 9) AS DECIMAL(18,9)) AS dd
         |  FROM d2 WHERE vec_id < 10),
         |candlist AS (
         |  SELECT p.qid, a.vec_id AS nid
         |  FROM assigned a JOIN probes p
         |    ON a.centroid_id = p.probe_cid AND p.qid <> a.vec_id),
         |approx AS (
         |  SELECT a_code_k, aqid, anid FROM (
         |    SELECT t.code_k AS a_code_k, t.qid AS aqid, t.nid AS anid,
         |      ROW_NUMBER() OVER (PARTITION BY t.code_k, t.qid
         |                         ORDER BY t.approx, t.nid) AS rk
         |    FROM (
         |      SELECT c.code_k, cl.qid, cl.nid, SUM(q.dd) AS approx
         |      FROM candlist cl
         |        JOIN codes c ON c.vec_id = cl.nid
         |        JOIN qtab q ON q.qid = cl.qid AND q.m = c.m AND q.k = c.code
         |      GROUP BY c.code_k, cl.qid, cl.nid) t) u WHERE rk <= 3),
         |$exactL2RecallDuck""".stripMargin,

    // the residual twin: codewords are residuals of the sources
    // BEYOND the centroid range (10+k2 .. 10+k2+16) under their
    // kernel assignment, candidates encode v − c(v), and each query's
    // distance table is built per probed list from q − c_list
    "q_ann_ivfpq_residual" ->
      s"""WITH $ivfpqPlantedPrefixDuck,
         |cwres AS (
         |  SELECT CAST(cs.vec_id - 10 - k.k2 AS INTEGER) AS k,
         |    list_transform(range(1, ${DIM + 1}), i ->
         |      cs.embedding[i] - l2.cv[i]) AS rw
         |  FROM e cs
         |    JOIN assigned a ON a.vec_id = cs.vec_id
         |    JOIN l2 ON l2.cid = a.centroid_id, k
         |  WHERE cs.vec_id >= 10 + k.k2 AND cs.vec_id < 10 + k.k2 + $IVFPQ_K),
         |cande AS (
         |  SELECT a.vec_id, a.centroid_id,
         |    list_transform(range(1, ${DIM + 1}), i ->
         |      e.embedding[i] - l2.cv[i]) AS rv
         |  FROM assigned a
         |    JOIN e ON e.vec_id = a.vec_id
         |    JOIN l2 ON l2.cid = a.centroid_id),
         |ms AS (SELECT unnest(range(0, $PQ_M)) AS m),
         |d2 AS (
         |  SELECT c.vec_id, ms.m, cw.k,
         |    (list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
         |       c.rv[ms.m*$PQ_SUB+i] * c.rv[ms.m*$PQ_SUB+i]))
         |     + list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
         |       cw.rw[ms.m*$PQ_SUB+i] * cw.rw[ms.m*$PQ_SUB+i]))
         |     - list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
         |       c.rv[ms.m*$PQ_SUB+i] * cw.rw[ms.m*$PQ_SUB+i])) * 2) AS d
         |  FROM cande c, ms, cwres cw),
         |ks AS (SELECT * FROM (VALUES (4), (16)) t(code_k)),
         |codes AS (
         |  SELECT code_k, vec_id, m, k AS code FROM (
         |    SELECT ks.code_k, d2.vec_id, d2.m, d2.k,
         |      ROW_NUMBER() OVER (PARTITION BY ks.code_k, d2.vec_id, d2.m
         |                         ORDER BY d2.d, d2.k) AS rn
         |    FROM d2, ks WHERE d2.k < ks.code_k
         |      AND (SELECT COUNT(*) FROM embeddings) >=
         |        10 + (SELECT k2 FROM k) + ks.code_k)
         |    t WHERE rn = 1),
         |qd AS (
         |  SELECT p.qid, p.probe_cid,
         |    list_transform(range(1, ${DIM + 1}), i ->
         |      qe.embedding[i] - l2.cv[i]) AS rq
         |  FROM probes p
         |    JOIN e qe ON qe.vec_id = p.qid
         |    JOIN l2 ON l2.cid = p.probe_cid),
         |qtab AS (
         |  SELECT qd.qid, qd.probe_cid, ms.m, cw.k,
         |    CAST(round(
         |      (list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
         |         qd.rq[ms.m*$PQ_SUB+i] * qd.rq[ms.m*$PQ_SUB+i]))
         |       + list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
         |         cw.rw[ms.m*$PQ_SUB+i] * cw.rw[ms.m*$PQ_SUB+i]))
         |       - list_sum(list_transform(range(1, ${PQ_SUB + 1}), i ->
         |         qd.rq[ms.m*$PQ_SUB+i] * cw.rw[ms.m*$PQ_SUB+i])) * 2), 9)
         |      AS DECIMAL(18,9)) AS dd
         |  FROM qd, ms, cwres cw),
         |candlist AS (
         |  SELECT p.qid, a.vec_id AS nid, a.centroid_id
         |  FROM assigned a JOIN probes p
         |    ON a.centroid_id = p.probe_cid AND p.qid <> a.vec_id),
         |approx AS (
         |  SELECT a_code_k, aqid, anid FROM (
         |    SELECT t.code_k AS a_code_k, t.qid AS aqid, t.nid AS anid,
         |      ROW_NUMBER() OVER (PARTITION BY t.code_k, t.qid
         |                         ORDER BY t.approx, t.nid) AS rk
         |    FROM (
         |      SELECT c.code_k, cl.qid, cl.nid, SUM(q.dd) AS approx
         |      FROM candlist cl
         |        JOIN codes c ON c.vec_id = cl.nid
         |        JOIN qtab q ON q.qid = cl.qid
         |          AND q.probe_cid = cl.centroid_id
         |          AND q.m = c.m AND q.k = c.code
         |      GROUP BY c.code_k, cl.qid, cl.nid) t) u WHERE rk <= 3),
         |$exactL2RecallDuck""".stripMargin,

    // same codebook/d² CTEs as q_ann_pq, argmin row kept WITH its d,
    // grid zero-fill via the range cross join
    "q_pq_distortion" ->
      s"""WITH ${pqD2Duck(PQ_K, "embeddings e")},
         |codes AS (
         |  SELECT vec_id, m, k AS code, d FROM (
         |    SELECT vec_id, m, k, d,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
         |    FROM d2) t WHERE rn = 1),
         |agg AS (
         |  SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(round(d, 9) AS DECIMAL(18,9))) AS sd
         |  FROM codes GROUP BY m, code),
         |grid AS (SELECT ms.m, ks.k AS code
         |         FROM ms, (SELECT unnest(range(0, $PQ_K)) AS k) ks),
         |tot AS (SELECT m, SUM(n) AS t FROM agg GROUP BY m)
         |SELECT CAST(grid.m AS BIGINT) AS m,
         |  CAST(grid.code AS BIGINT) AS code,
         |  CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_assigned,
         |  round(CAST(agg.sd AS DOUBLE) / agg.n, 9) AS mean_d2,
         |  round(CAST(COALESCE(agg.n, 0) AS DOUBLE) / tot.t, 9)
         |    AS usage_share
         |FROM grid LEFT JOIN agg ON agg.m = grid.m AND agg.code = grid.code
         |  LEFT JOIN tot ON tot.m = grid.m
         |ORDER BY m, code""".stripMargin,

    "q_vec_centroid" ->
      s"""WITH el AS (
         |  SELECT label, unnest(range(1, ${DIM + 1})) AS dim, embedding
         |  FROM embeddings),
         |sc AS (
         |  SELECT label, dim,
         |    CAST(ROUND(CAST(embedding[CAST(dim AS INTEGER)] AS DOUBLE)
         |               * 1000000) AS BIGINT) AS sv
         |  FROM el),
         |g AS (SELECT label, dim, SUM(sv) AS s, COUNT(*) AS n
         |      FROM sc GROUP BY label, dim)
         |SELECT label, dim,
         |  round(CAST(s AS DOUBLE) / n / CAST(1000000 AS DOUBLE), 9) AS centroid
         |FROM g ORDER BY label, dim""".stripMargin,

    // Both Lloyd rounds restated: same d² form ((v·v + c·c) − v·c·2,
    // left-to-right list_sum dots), same lowest-k tie-break (ORDER BY
    // d2, k), same fixed-point re-estimation as the VecSum aggregate.
    "q_kmeans" ->
      s"""WITH ee AS (
         |  SELECT vec_id,
         |    list_transform(range(1, ${DIM + 1}),
         |      i -> CAST(embedding[i] AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(vec_id - 10 AS INTEGER) AS k, v AS c FROM ee
         |  WHERE vec_id BETWEEN 10 AND 17),
         |a1 AS (
         |  SELECT vec_id, v, k FROM (
         |    SELECT ee.vec_id, ee.v, c0.k,
         |      ROW_NUMBER() OVER (PARTITION BY ee.vec_id ORDER BY
         |        (list_sum(list_transform(range(1, ${DIM + 1}), i -> v[i] * v[i]))
         |         + list_sum(list_transform(range(1, ${DIM + 1}), i -> c[i] * c[i])))
         |        - list_sum(list_transform(range(1, ${DIM + 1}), i -> v[i] * c[i])) * 2,
         |        k) AS rn
         |    FROM ee, c0) WHERE rn = 1),
         |s1 AS (
         |  SELECT k, dim,
         |    SUM(CAST(ROUND(v[CAST(dim AS INTEGER)] * 1000000) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT k, unnest(range(1, ${DIM + 1})) AS dim, v FROM a1)
         |  GROUP BY k, dim),
         |c1 AS (
         |  SELECT k, list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS c
         |  FROM s1 GROUP BY k),
         |a2 AS (
         |  SELECT vec_id, v, k FROM (
         |    SELECT ee.vec_id, ee.v, c1.k,
         |      ROW_NUMBER() OVER (PARTITION BY ee.vec_id ORDER BY
         |        (list_sum(list_transform(range(1, ${DIM + 1}), i -> v[i] * v[i]))
         |         + list_sum(list_transform(range(1, ${DIM + 1}), i -> c[i] * c[i])))
         |        - list_sum(list_transform(range(1, ${DIM + 1}), i -> v[i] * c[i])) * 2,
         |        k) AS rn
         |    FROM ee, c1) WHERE rn = 1),
         |s2 AS (
         |  SELECT k, dim,
         |    SUM(CAST(ROUND(v[CAST(dim AS INTEGER)] * 1000000) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT k, unnest(range(1, ${DIM + 1})) AS dim, v FROM a2)
         |  GROUP BY k, dim)
         |SELECT CAST(k AS BIGINT) AS cluster, CAST(dim AS BIGINT) AS dim,
         |  round(CAST(s AS DOUBLE) / n / 1000000.0, 9) AS centroid,
         |  n AS n_members
         |FROM s2 ORDER BY cluster, dim""".stripMargin,

    // Same fixed-point per-lang centroid (VecSum restated), same dot /
    // norm fold order, same top-5 tie-break.
    // both half-centroids restated dimension-for-dimension (the
    // q_exemplars fixed-point CTE shape), one cosine at round-9
    "q_embedding_drift" ->
      s"""WITH ee AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(range(1, ${DIM + 1}),
         |      i -> CAST(embedding[i] AS DOUBLE)) AS v
         |  FROM embeddings),
         |sr AS (
         |  SELECT label, dim,
         |    SUM(CAST(ROUND(v[CAST(dim AS INTEGER)] * 1000000) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT label, unnest(range(1, ${DIM + 1})) AS dim, v
         |        FROM ee WHERE vec_id % 2 = 0)
         |  GROUP BY label, dim),
         |cr AS (
         |  SELECT label, CAST(MAX(n) AS BIGINT) AS n_ref,
         |    list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS ref_cv
         |  FROM sr GROUP BY label),
         |sc AS (
         |  SELECT label, dim,
         |    SUM(CAST(ROUND(v[CAST(dim AS INTEGER)] * 1000000) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT label, unnest(range(1, ${DIM + 1})) AS dim, v
         |        FROM ee WHERE vec_id % 2 = 1)
         |  GROUP BY label, dim),
         |cc AS (
         |  SELECT label, CAST(MAX(n) AS BIGINT) AS n_cur,
         |    list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS cur_cv
         |  FROM sc GROUP BY label),
         |jd AS (
         |  SELECT cr.label, n_ref, n_cur,
         |    round(list_sum(list_transform(range(1, ${DIM + 1}),
         |        i -> ref_cv[i] * cur_cv[i])) /
         |      (sqrt(list_sum(list_transform(range(1, ${DIM + 1}),
         |          i -> ref_cv[i] * ref_cv[i]))) *
         |       sqrt(list_sum(list_transform(range(1, ${DIM + 1}),
         |          i -> cur_cv[i] * cur_cv[i])))), 9) AS drift_cos
         |  FROM cr JOIN cc USING (label))
         |SELECT label, n_ref, n_cur, drift_cos, drift_cos < 0.9 AS drifted
         |FROM jd ORDER BY label""".stripMargin,

    // all three power rounds restated: same fixed-point μ and w sums,
    // same s/√(Σs²) normalization in exact HUGEINT, v₀ = 0.125
    "q_pca_power" -> {
      val D1 = DIM + 1
      // one w-round: per-dim fixed-point sum of c[dim]·p over `src`
      def wCte(k: Int, pSrc: String): String =
        s"""w$k AS (
           |  SELECT dim,
           |    SUM(CAST(ROUND(c[CAST(dim AS INTEGER)] * p * 1000000)
           |        AS BIGINT)) AS s
           |  FROM (SELECT c, p, unnest(range(1, $D1)) AS dim FROM $pSrc)
           |  GROUP BY dim)""".stripMargin
      def vCte(k: Int): String =
        s"""v$k AS (
           |  SELECT list(CAST(s AS DOUBLE) / sqrt(CAST(
           |      (SELECT SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
           |       FROM w$k) AS DOUBLE)) ORDER BY dim) AS v
           |  FROM w$k)""".stripMargin
      def pCte(k: Int, vExpr: String): String =
        s"""p$k AS (
           |  SELECT c, list_sum(list_transform(range(1, $D1),
           |    i -> c[i] * $vExpr)) AS p FROM ce${
          if (k == 1) "" else s", v${k - 1}"})""".stripMargin
      s"""WITH ee AS (
         |  SELECT list_transform(range(1, $D1),
         |    i -> CAST(embedding[i] AS DOUBLE)) AS v
         |  FROM embeddings),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ee),
         |s0 AS (
         |  SELECT dim,
         |    SUM(CAST(ROUND(v[CAST(dim AS INTEGER)] * 1000000) AS BIGINT))
         |      AS s
         |  FROM (SELECT v, unnest(range(1, $D1)) AS dim FROM ee)
         |  GROUP BY dim),
         |muv AS (
         |  SELECT list(CAST(s AS DOUBLE) / 1000000.0 / nn.n ORDER BY dim)
         |    AS mu FROM s0, nn),
         |ce AS (
         |  SELECT list_transform(range(1, $D1), i -> v[i] - mu[i]) AS c
         |  FROM ee, muv),
         |${pCte(1, "0.125")},
         |${wCte(1, "p1")},
         |${vCte(1)},
         |${pCte(2, s"v1.v[i]")},
         |${wCte(2, "p2")},
         |${vCte(2)},
         |${pCte(3, s"v2.v[i]")},
         |${wCte(3, "p3")},
         |q3 AS (SELECT SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS q
         |       FROM w3)
         |SELECT CAST(dim AS BIGINT) AS dim,
         |  ROUND(CAST(s AS DOUBLE) / sqrt(CAST(q AS DOUBLE)), 9) AS loading
         |FROM w3, q3 ORDER BY dim""".stripMargin
    },

    "q_exemplars" ->
      s"""WITH ee AS (
         |  SELECT vec_id,
         |    list_transform(range(1, ${DIM + 1}),
         |      i -> CAST(embedding[i] AS DOUBLE)) AS v,
         |    $normDuck AS nrm
         |  FROM embeddings),
         |j AS (
         |  SELECT d.doc_id, d.lang, ee.v, ee.nrm
         |  FROM ee JOIN documents d ON ee.vec_id = d.doc_id),
         |s1 AS (
         |  SELECT lang, dim,
         |    SUM(CAST(ROUND(v[CAST(dim AS INTEGER)] * 1000000) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT lang, unnest(range(1, ${DIM + 1})) AS dim, v FROM j)
         |  GROUP BY lang, dim),
         |c AS (
         |  SELECT lang, list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS cv
         |  FROM s1 GROUP BY lang),
         |cn AS (
         |  SELECT lang, cv,
         |    sqrt(list_sum(list_transform(range(1, ${DIM + 1}),
         |      i -> cv[i] * cv[i]))) AS cnrm
         |  FROM c),
         |sc AS (
         |  SELECT j.lang, j.doc_id,
         |    round(list_sum(list_transform(range(1, ${DIM + 1}),
         |      i -> v[i] * cv[i])) / (nrm * cnrm), 9) AS sim
         |  FROM j JOIN cn USING (lang))
         |SELECT lang, rk, doc_id, sim FROM (
         |  SELECT lang, doc_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |                            ORDER BY sim DESC, doc_id) AS BIGINT) AS rk
         |  FROM sc) t
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    // Same ±1 matrix (inlined), same dot/fold order, same 1/√16 scale.
    "q_project_rp" ->
      s"""WITH pr AS (
         |  SELECT vec_id,
         |    list_transform(range(1, 17), j ->
         |      list_sum(list_transform(range(1, ${DIM + 1}), i ->
         |        ($rpPlanesDuck)[j][i] * CAST(embedding[i] AS DOUBLE))) / 4.0)
         |      AS proj,
         |    $normDuck AS nrm
         |  FROM embeddings)
         |SELECT vec_id, round(proj[1], 9) AS p1,
         |  round(sqrt(list_sum(list_transform(range(1, 17),
         |    j -> proj[j] * proj[j]))) / nrm, 9) AS norm_ratio
         |FROM pr ORDER BY vec_id""".stripMargin,

    // Same per-dim symmetric scales (max |v|/127, dim-ordered list),
    // same round-half-away encode, same left-to-right error fold.
    "q_quantize_int8" ->
      s"""WITH ee AS (
         |  SELECT vec_id,
         |    list_transform(range(1, ${DIM + 1}),
         |      i -> CAST(embedding[i] AS DOUBLE)) AS v
         |  FROM embeddings),
         |mx AS (
         |  SELECT dim, MAX(ABS(v[CAST(dim AS INTEGER)])) AS m
         |  FROM (SELECT vec_id, unnest(range(1, ${DIM + 1})) AS dim, v FROM ee)
         |  GROUP BY dim),
         |sc AS (SELECT list(m / 127 ORDER BY dim) AS scales FROM mx)
         |SELECT vec_id,
         |  round(list_sum(list_transform(range(1, ${DIM + 1}), i ->
         |    (v[i] - ROUND(v[i] / scales[i]) * scales[i]) *
         |    (v[i] - ROUND(v[i] / scales[i]) * scales[i]))) / ${DIM}, 12) AS mse,
         |  CAST(list_sum(list_transform(range(1, ${DIM + 1}), i ->
         |    ABS(ROUND(v[i] / scales[i])))) AS BIGINT) AS code_l1
         |FROM ee, sc ORDER BY vec_id""".stripMargin,

    // Same quantizer algebra as q_quantize_int8 (scale = max|v_d|/lv,
    // ROUND(v/sc)·sc reconstruction), swept over the exact-literal
    // levels and k ∈ {1, 3}, asymmetric cosine vs the float truth —
    // the q_ann_recall oracle shape with (bits, k) for width;
    // zero-norm reconstructions dropped (rnrm > 0) as on the Spark
    // side
    "q_sq8_recall" ->
      s"""WITH $plantedCorpusDuck,
         |mx AS (
         |  SELECT dim, MAX(ABS(embedding[CAST(dim AS INTEGER)])) AS m
         |  FROM (SELECT unnest(range(1, ${DIM + 1})) AS dim, embedding FROM e)
         |  GROUP BY dim),
         |sc0 AS (SELECT list(m ORDER BY dim) AS mxs FROM mx),
         |bs AS (SELECT * FROM (VALUES (2, CAST(1.0 AS DOUBLE)),
         |                             (4, CAST(7.0 AS DOUBLE)),
         |                             (8, CAST(127.0 AS DOUBLE))) t(bits, lv)),
         |ks AS (SELECT * FROM (VALUES (1), (3)) t(k)),
         |rc AS (
         |  SELECT e.vec_id AS anid, bs.bits AS abits,
         |    list_transform(range(1, ${DIM + 1}), i ->
         |      ROUND(e.embedding[i] / (mxs[i] / lv)) * (mxs[i] / lv)) AS rv
         |  FROM e, sc0, bs),
         |rn AS (
         |  SELECT anid, abits, rv,
         |    sqrt(list_sum(list_transform(range(1, ${DIM + 1}),
         |      i -> rv[i] * rv[i]))) AS rnrm
         |  FROM rc),
         |qs AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm
         |       FROM e WHERE vec_id < 10),
         |approx AS (
         |  SELECT abits, ks.k AS ak, aqid, anid FROM (
         |    SELECT rn.abits, qs.qid AS aqid, rn.anid,
         |      ROW_NUMBER() OVER (PARTITION BY rn.abits, qs.qid ORDER BY
         |        round(${dotDuck("qs.qv", "rn.rv")} / (qs.qnrm * rn.rnrm), 9)
         |          DESC, rn.anid) AS rk
         |    FROM rn JOIN qs ON qs.qid <> rn.anid
         |    WHERE rn.rnrm > 0) t, ks WHERE rk <= ks.k),
         |exact AS (
         |  SELECT bs.bits AS n_bits, ks.k, t.qid, t.nid FROM (
         |    SELECT qs.qid, c.vec_id AS nid,
         |      ROW_NUMBER() OVER (PARTITION BY qs.qid ORDER BY
         |        round(${dotDuck("qs.qv", "c.embedding")} / (qs.qnrm * c.nrm), 9)
         |          DESC, c.vec_id) AS rk
         |    FROM qs JOIN e c ON qs.qid <> c.vec_id) t, bs, ks
         |  WHERE rk <= ks.k),
         |per_q AS (
         |  SELECT n_bits, k, qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(anid) AS BIGINT) AS n_hits
         |  FROM exact LEFT JOIN approx
         |    ON exact.n_bits = approx.abits AND exact.k = approx.ak
         |      AND exact.qid = approx.aqid AND exact.nid = approx.anid
         |  GROUP BY n_bits, k, qid)
         |SELECT CAST(n_bits AS BIGINT) AS n_bits, CAST(k AS BIGINT) AS k,
         |  qid, n_exact, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall,
         |  round(CAST(SUM(n_hits) OVER (PARTITION BY n_bits, k) AS DOUBLE) /
         |    SUM(n_exact) OVER (PARTITION BY n_bits, k), 6) AS macro_recall
         |FROM per_q ORDER BY n_bits, k, qid""".stripMargin,

    // Same candidate definition as the Spark side: signature Hamming
    // distance <= 1 (same planes via bucketDuck) + exact-cosine verify,
    // so the oracle match is structural — see the recall-contract
    // comment on the query.
    "q_neardup_embedding" ->
      s"""WITH ${neardupCorpusDuck("corpus")},
         |e AS (SELECT vec_id, embedding, $normDuck AS nrm,
         |        $bucketDuck AS bkt
         |      FROM corpus)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 9) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         | AND len(list_filter(range(1, ${N_PLANES + 1}),
         |       j -> substring(a.bkt, CAST(j AS INTEGER), 1)
         |            <> substring(b.bkt, CAST(j AS INTEGER), 1))) <= 1
         |WHERE round(${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 9) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    // Same corpus, same sampled-centroid assignment as the Spark side
    // (nearest by rounded cosine, lowest cid on ties), dropped iff a
    // smaller-id same-cluster vector matches at >= 0.95.
    "q_semdedup" ->
      s"""WITH ${neardupCorpusDuck("corpus")},
         |e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM corpus),
         |${sampledScoredDuck("corpus")},
         |${assignedDuck("vec_id, embedding, nrm")},
         |dup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |  WHERE round(${dotDuck("a.embedding", "b.embedding")}
         |              / (a.nrm * b.nrm), 9) >= 0.95)
         |SELECT a.vec_id, a.centroid_id,
         |  (d.vec_id IS NOT NULL) AS dropped
         |FROM assigned a LEFT JOIN dup d ON d.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    // same dim-7 plant, same fixed-point moments, HUGEINT headroom,
    // same scale-0 integer reporting
    "q_dim_audit" ->
      s"""WITH cells AS (
         |  SELECT i AS dim,
         |    CAST(CAST(round((CASE WHEN i = 7 THEN CAST(0.5 AS DOUBLE)
         |                          ELSE CAST(embedding[i] AS DOUBLE) END)
         |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS HUGEINT) AS sv
         |  FROM embeddings, unnest(range(1, ${DIM + 1})) AS t(i)),
         |g AS (
         |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(sv) AS s1, SUM(sv * sv) AS s2
         |  FROM cells GROUP BY dim),
         |r AS (
         |  SELECT CAST(dim AS BIGINT) AS dim, n,
         |    CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS mean_e6,
         |    CAST(round(CAST(n * s2 - s1 * s1 AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT) AS var_e12
         |  FROM g)
         |SELECT dim, n, mean_e6, var_e12, var_e12 < 100000000 AS is_dead
         |FROM r ORDER BY dim""".stripMargin,

    // the q_ann_ivf assignment CTEs, within-list rank, occurrence
    // counts, TakeOrdered under (k_occ DESC, vec_id)
    "q_ann_hubness" ->
      s"""WITH e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings),
         |${sampledScoredDuck("embeddings")},
         |${assignedDuck("vec_id, embedding, nrm")},
         |knn AS (
         |  SELECT nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |        round(${dotDuck("a.embedding", "b.embedding")}
         |              / (a.nrm * b.nrm), 9) DESC, b.vec_id) AS rk
         |    FROM assigned a JOIN assigned b
         |      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id) t
         |  WHERE rk <= 3),
         |occ AS (SELECT nid, CAST(COUNT(*) AS BIGINT) AS k_occ
         |        FROM knn GROUP BY nid),
         |st AS (SELECT CAST(SUM(k_occ) AS BIGINT) AS total_picks FROM occ),
         |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM assigned)
         |SELECT nid AS vec_id, k_occ,
         |  round(CAST(k_occ AS DOUBLE) * n_vecs / total_picks, 9) AS occ_ratio
         |FROM occ, st, nv
         |ORDER BY k_occ DESC, vec_id LIMIT 20""".stripMargin,

    // the composed funnel restated stage by stage: the q_semdedup
    // corpus CTEs with the zero-plant on top, survivor-drawn
    // centroids (ROW_NUMBER prefix), the same within-cluster pair
    // rule, the q_class_balance rank rule over label-inherited
    // survivors, the q_split_hash shard bucket — first-failing-stage
    // CASE at the end
    "q_embedding_pipeline" ->
      s"""WITH ${neardupCorpusDuck("corpus0")},
         |corpus AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 41 = 7
         |         THEN list_transform(range(1,${DIM + 1}), i -> CAST(0 AS DOUBLE))
         |         ELSE embedding END AS embedding
         |  FROM corpus0),
         |e AS (SELECT vec_id, embedding, $normDuck AS nrm FROM corpus),
         |s1 AS (SELECT * FROM e WHERE nrm > 0),
         |k AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k FROM s1),
         |cseq AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm,
         |           ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
         |         FROM s1 WHERE vec_id >= 10),
         |cents AS (SELECT cid, cv, cnrm FROM cseq, k WHERE rn <= k),
         |scored AS (
         |  SELECT s1.vec_id, s1.embedding, s1.nrm, c.cid,
         |    round(${dotDuck("s1.embedding", "c.cv")} / (s1.nrm * c.cnrm), 9) AS csim
         |  FROM s1 CROSS JOIN cents c),
         |${assignedDuck("vec_id, embedding, nrm")},
         |dup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |  WHERE round(${dotDuck("a.embedding", "b.embedding")}
         |              / (a.nrm * b.nrm), 9) >= 0.95),
         |lbl AS (
         |  SELECT a.vec_id, CAST(emb.label AS BIGINT) AS label
         |  FROM assigned a JOIN embeddings emb
         |    ON emb.vec_id = CASE WHEN a.vec_id >= 100000
         |                         THEN a.vec_id - 100000 ELSE a.vec_id END
         |  WHERE a.vec_id NOT IN (SELECT vec_id FROM dup)),
         |tgt AS (SELECT MIN(n) AS target FROM (
         |  SELECT COUNT(*) AS n FROM lbl GROUP BY label)),
         |bal AS (
         |  SELECT vec_id, rk <= target AS balanced FROM (
         |    SELECT vec_id, target,
         |      ROW_NUMBER() OVER (PARTITION BY label
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |    FROM lbl, tgt) t),
         |fin AS (
         |  SELECT e.vec_id, e.nrm, a.centroid_id,
         |    (d.vec_id IS NOT NULL) AS is_dup, b.balanced
         |  FROM e LEFT JOIN assigned a ON a.vec_id = e.vec_id
         |    LEFT JOIN dup d ON d.vec_id = e.vec_id
         |    LEFT JOIN bal b ON b.vec_id = e.vec_id)
         |SELECT vec_id, reason IS NULL AS keep, reason, centroid_id,
         |  CASE WHEN reason IS NULL THEN
         |    CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))
         |      AS INTEGER) AS BIGINT) % 32 END AS shard
         |FROM (
         |  SELECT vec_id, centroid_id,
         |    CASE WHEN nrm = 0 THEN 'degenerate'
         |         WHEN is_dup THEN 'semantic_dup'
         |         WHEN balanced = false THEN 'balance' END AS reason
         |  FROM fin) t
         |ORDER BY vec_id""".stripMargin
  )
}
