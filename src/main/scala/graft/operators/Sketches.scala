package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-aggregate sketches with their ACCURACY CONTRACT as the
  * oracle-checked output (generalization beyond the reference, which
  * only ever counts exactly — progress counters in
  * posts-from-hashtags.js:330-352; at 100 TB the exact forms of these
  * queries are what you run when you can afford a full shuffle, and
  * the sketches are what you run per-partition-pass when you cannot).
  *
  * A sketch result itself is implementation-defined (Spark's HLL++ /
  * GK summaries), so a value-equality oracle against DuckDB is
  * impossible BY DESIGN — but the published error bound is not: each
  * query returns the EXACT statistic (DuckDB-checkable) next to a
  * boolean asserting the sketch landed within its documented bound,
  * and the oracle states that boolean as a constant `true`. A Spark
  * upgrade (or a bug here) that pushed a sketch outside its contract
  * flips the boolean and fails the hash check — the accuracy contract
  * is CI-gated, not hoped for.
  *
  * Scale notes: both sketches are single-pass, mergeable partials —
  * the canonical 100 TB shape (no shuffle of raw values; partials the
  * size of the sketch, not the data). The exact sides shown next to
  * them shuffle per group exactly once.
  */
object Sketches extends graft.QueryPack {

  /** HLL++ relative standard deviation we request; the within-bound
    * check allows 4×rsd ≈ a 4-sigma band — tight enough to catch an
    * implementation break, loose enough to never flake on fixed data
    * (the sketch is deterministic per (data, rsd): same inputs, same
    * registers, no RNG). */
  private val RSD = 0.05

  /** approx_percentile accuracy parameter; guarantees rank error
    * ≤ N / accuracy. */
  private val PCTL_ACC = 100

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Distinct-cardinality sketch (HLL++) vs the exact distinct count,
    // per document source: |approx − exact| / exact ≤ 4·rsd.
    "q_sketch_distinct" -> ((s, d) => {
      Tables(s, d, "documents")
        .groupBy(col("source"))
        .agg(
          countDistinct(col("text")).as("exact_distinct"),
          approx_count_distinct(col("text"), RSD).as("approx"))
        .select(col("source"), col("exact_distinct"),
          (abs(col("approx").cast("double") - col("exact_distinct")) <=
            lit(4 * RSD) * col("exact_distinct")).as("within_bound"))
        .orderBy(col("source"))
    }),

    // Quantile sketch (GK summaries) vs the exact rank window: the
    // returned median's rank interval [count(x < v) + 1, count(x ≤ v)]
    // must intersect the target band 0.5·N ± 2·N/accuracy (double the
    // documented ε = 1/accuracy, so fixed data never flakes while an
    // implementation break still fails).
    "q_sketch_quantile" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val med = docs.groupBy(col("source"))
        .agg(percentile_approx(col("n_chars"), lit(0.5), lit(PCTL_ACC))
          .as("approx_median"),
          count(lit(1)).as("n"))
      val band = lit(2.0) * col("n") / PCTL_ACC
      docs.select(col("source"), col("n_chars"))
        .join(med, Seq("source"))
        .groupBy(col("source"), col("approx_median"), col("n"))
        .agg(
          sum(when(col("n_chars") < col("approx_median"), 1L).otherwise(0L))
            .as("below"),
          sum(when(col("n_chars") <= col("approx_median"), 1L).otherwise(0L))
            .as("at_or_below"))
        .select(col("source"), col("n"),
          ((col("at_or_below") >= col("n") * 0.5 - band) &&
            (col("below") + 1 <= col("n") * 0.5 + band)).as("within_bound"))
        .orderBy(col("source"))
    }),

    // REAGGREGATABLE distinct-count: per-source HLL sketches (Apache
    // DataSketches, lgK=12) UNIONED into a global estimate without
    // ever revisiting raw data — the two-level rollup a 100 TB
    // pipeline runs (leaf jobs sketch their shard; the rollup unions
    // sketch BYTES, so the global distinct costs O(sources × 2^lgK),
    // not a second corpus scan; approx_count_distinct's HLL++ partial
    // cannot be re-unioned after the query finishes, which is exactly
    // what this variant adds). Contract: the unioned estimate lands
    // within 4·rse of the exact global distinct (rse = 1.04/√2^lgK ≈
    // 1.6%; HLL register-max updates and unions are order- and
    // partitioning-independent, and small cardinalities sit in the
    // sketch's exact sparse mode, so the boolean cannot flake).
    "q_sketch_union" -> ((s, d) => {
      val LG_K = 12
      val docs = Tables(s, d, "documents")
      val perSrc = docs.groupBy(col("source"))
        .agg(hll_sketch_agg(col("text"), lit(LG_K)).as("sk"))
      val global = perSrc.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"),
        count(lit(1)).as("n_sources"))
      val exact = docs.agg(countDistinct(col("text")).as("exact_distinct"))
      exact.crossJoin(broadcast(global))
        .select(col("exact_distinct"), col("n_sources"),
          (abs(col("est").cast("double") -
            col("exact_distinct").cast("double")) <=
            lit(4 * 1.04 / math.sqrt((1 << LG_K).toDouble)) *
              col("exact_distinct").cast("double")).as("within_bound"))
    }),

    // REAGGREGATABLE quantiles: per-source KLL sketches (Karnin, Lang
    // & Liberty, FOCS'16; Spark 4's native kll_* over the bundled
    // DataSketches) MERGED into a global quantile without revisiting
    // raw data — the quantile twin of q_sketch_union's HLL rollup
    // (percentile_approx's GK summary dies with the query; KLL sketch
    // bytes persist and re-merge, so a 100 TB fleet's leaf jobs sketch
    // their shards once and every later rollup is O(sources × sketch)
    // driver-side algebra). Contract, q_sketch_quantile's rank-window
    // shape: the merged sketch's median must have an exact rank
    // interval intersecting 0.5·N ± 2·ε·N with ε = 2.296/k^0.9 (the
    // library's published single-sided normalized rank error for
    // parameter k, doubled per the never-flake convention). KLL
    // compaction direction is randomized, so the MEDIAN itself is not
    // layout-deterministic — only the contract booleans and exact
    // counts are emitted (the q_sketch_topk precedent), and the band
    // is ~10× the error observed on this data, so run-to-run sketch
    // variation cannot cross it while a broken merge still fails.
    "q_sketch_kll" -> ((s, d) => {
      val K = 200
      val eps = 2.296 / math.pow(K.toDouble, 0.9)
      val docs = Tables(s, d, "documents")
      val merged = docs.groupBy(col("source"))
        .agg(expr(s"kll_sketch_agg_bigint(n_chars, $K)").as("sk"))
        .agg(expr(s"kll_merge_agg_bigint(sk, $K)").as("m"),
          count(lit(1)).as("n_sources"))
        .select(expr("kll_sketch_get_quantile_bigint(m, 0.5)").as("med"),
          col("n_sources"))
      val band = lit(2.0 * eps) * col("n")
      docs.select(col("n_chars"))
        .crossJoin(broadcast(merged))
        .groupBy(col("med"), col("n_sources"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") < col("med"), 1L).otherwise(0L))
            .as("below"),
          sum(when(col("n_chars") <= col("med"), 1L).otherwise(0L))
            .as("at_or_below"))
        .select(col("n"), col("n_sources"),
          ((col("at_or_below") >= col("n") * 0.5 - band) &&
            (col("below") + 1 <= col("n") * 0.5 + band)).as("within_bound"))
    }),

    // SET-ALGEBRA on sketches: Theta sketches (Dasgupta et al., "Theta
    // Sketch Framework", 2016; Spark 4's native theta_* functions over
    // the bundled DataSketches) support INTERSECTION and DIFFERENCE of
    // distinct-sets — the audience-overlap / retention rollup HLL
    // fundamentally cannot express (HLL unions only). Each segment's
    // leaf job sketches its users once; every pairwise overlap /
    // exclusion across segments is then sketch-byte algebra, never a
    // second corpus scan or a distinct-set join — at 100 TB that is
    // the difference between O(segments²) full shuffles and
    // O(segments²) × 32 KB driver work. The exact sides here come from
    // ONE user-keyed shuffle (per-user segment flags, then summed).
    // Contract: estimates land within 4·rse(k=2^12) of the exact
    // value, rse scaled by the UNION size for intersection/difference
    // (the published error model — relative error of A∩B degrades
    // with |A∪B|/|A∩B|, which is why the bound multiplies the union);
    // below 2^12 distinct keys a theta sketch is in EXACT mode (every
    // hash retained, θ=1), so on this data the booleans cannot flake
    // while a broken estimate still fails the hash.
    "q_sketch_theta" -> ((s, d) => {
      val LG_K = 12
      val e = Tables(s, d, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"))
      val flags = e.groupBy(col("user_id")).agg(
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      val exact = flags.agg(
        sum(col("v")).as("exact_view"),
        sum(col("p")).as("exact_purchase"),
        sum(col("v") * col("p")).as("exact_both"),
        sum(col("v") * (lit(1L) - col("p"))).as("exact_view_only"),
        sum(greatest(col("v"), col("p"))).as("exact_union"))
      val skv = e.filter(col("event_type") === "view")
        .agg(expr(s"theta_sketch_agg(user_id, $LG_K)").as("skv"))
      val skp = e.filter(col("event_type") === "purchase")
        .agg(expr(s"theta_sketch_agg(user_id, $LG_K)").as("skp"))
      val est = skv.crossJoin(broadcast(skp)).select(
        expr("theta_sketch_estimate(theta_intersection(skv, skp))")
          .as("est_both"),
        expr("theta_sketch_estimate(theta_difference(skv, skp))")
          .as("est_view_only"))
      val band = lit(4 * 1.04 / math.sqrt((1 << LG_K).toDouble))
      exact.crossJoin(broadcast(est)).select(
        col("exact_view"), col("exact_purchase"), col("exact_both"),
        col("exact_view_only"),
        (abs(col("est_both") - col("exact_both").cast("double")) <=
          band * col("exact_union").cast("double")).as("inter_ok"),
        (abs(col("est_view_only") - col("exact_view_only").cast("double")) <=
          band * col("exact_union").cast("double")).as("diff_ok"))
    }),

    // Heavy-hitters sketch (Misra–Gries, native TypedImperativeAggregate
    // — graft.functions.MisraGries) vs the exact top counts. The input
    // stream is a deterministic SKEWED derivation of doc_id (the house
    // corpus-construction pattern): two hot items own ~25% of the
    // stream each, 16 mid items ~1.5% each, and every remaining doc
    // contributes a unique cold item — so a k=8 summary over hundreds
    // of distinct items PRUNES constantly (the natural word column has
    // a 31-word near-uniform vocabulary: k < 31 guarantees nothing and
    // k ≥ 31 never prunes, either way an untested sketch).
    //
    // The contract (mergeable-summaries bound, any merge order): for
    // each of the exact top-2 items, the sketch must contain it (true
    // count N/4 > N/(k+1) forces presence), must not overestimate, and
    // must underestimate by at most 2·N/(k+1) (double the documented
    // N/(k+1), the q_sketch_* never-flake convention). The raw counter
    // set is merge-order-dependent and is never emitted — only the
    // guarantee booleans the oracle states as constant true.
    "q_sketch_topk" -> ((s, d) => {
      val K = 8
      val stream = Tables(s, d, "documents")
        .select(skewedItem(col("doc_id")).as("item"))
      val sk = stream.agg(
        graft.functions.MisraGries.mgTopK(col("item"), K).as("sk"),
        count(lit(1)).as("n"))
      val est = sk.select(explode(col("sk")).as("e"), col("n"))
        .select(col("e.item").as("item"), col("e.est").as("est"), col("n"))
      val exact = stream.groupBy(col("item"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("item")).limit(2)
      exact.join(est, Seq("item"), "left_outer")
        .select(col("item"), col("exact_cnt"),
          (col("est").isNotNull && col("est") <= col("exact_cnt") &&
            (col("exact_cnt") - col("est")).cast("double") <=
              lit(2.0) * col("n").cast("double") / (K + 1)).as("within_bound"))
        .orderBy(col("item"))
    }),

    // Count-Min sketch (Cormode & Muthukrishnan, J.Alg 2005): the
    // point-query frequency sketch next to Misra–Gries's top-k. Depth
    // 3 × width 64, hash rows keyed by the house md5-bucket device —
    // which makes this the ONE sketch whose estimates are exactly
    // restatable in the oracle: cell counters are plain SUMs (fully
    // order/merge-independent, unlike MG's prune-order-dependent
    // counters), and both engines compute identical md5 cells. So the
    // oracle checks est VALUES, not just a contract boolean — plus the
    // two published guarantees (est ≥ exact always; overshoot ≤ 2eN/w)
    // as constant-true columns. Scale shape: one item-keyed pre-agg
    // (map-combinable) → a 3×64-cell grid agg — partials are
    // sketch-sized, raw values never shuffle; probes are a 5-row
    // broadcast join against the grid. The same skewed stream as
    // q_sketch_topk, so collisions genuinely bite (500 items on 64
    // cells ≈ 8 colliders/cell).
    "q_sketch_countmin" -> ((s, d) => {
      val R = 3; val W = 64
      val cnt = Tables(s, d, "documents")
        .select(skewedItem(col("doc_id")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("c"))
      def cell = conv(substring(
        md5(concat_ws("#", col("item"), col("r"))), 1, 8), 16, 10)
        .cast("long") % W
      val cells = cnt
        .select(col("item"), col("c"),
          explode(array((0 until R).map(lit(_)): _*)).as("r"))
        .withColumn("cell", cell)
        .groupBy(col("r"), col("cell")).agg(sum(col("c")).as("cell_sum"))
      val n = cnt.agg(sum(col("c")).as("n"))
      val top = cnt.orderBy(col("c").desc, col("item")).limit(5)
        .select(col("item"), col("c").as("exact_cnt"))
      top
        .select(col("item"), col("exact_cnt"),
          explode(array((0 until R).map(lit(_)): _*)).as("r"))
        .withColumn("cell", cell)
        .join(cells, Seq("r", "cell"))
        .groupBy(col("item"), col("exact_cnt"))
        .agg(min(col("cell_sum")).as("est"))
        .crossJoin(broadcast(n))
        .select(col("item"), col("exact_cnt"), col("est"),
          (col("est") >= col("exact_cnt")).as("never_under"),
          ((col("est") - col("exact_cnt")).cast("double") <=
            lit(2.0 * math.E) * col("n").cast("double") / W)
            .as("within_bound"))
        .orderBy(col("item"))
    })
  )

  /** The skewed item stream over an integer `key`: two hot items own
    * ~25% of the keys each, 16 mid items ~1.5% each, and every other
    * key is its own cold item. q_sketch_topk and q_sketch_countmin
    * derive it from doc_id, q_stream_topk from event_id; the oracles
    * restate it as a CASE ([[topkOracleDuck]], q_sketch_countmin's). */
  private[operators] def skewedItem(key: Column): Column =
    when(key % 4 < 2, concat(lit("hot_"), (key % 2).cast("string")))
      .when(key % 4 === 2, concat(lit("mid_"), (key % 16).cast("string")))
      .otherwise(concat(lit("cold_"), key.cast("string")))

  /** The q_sketch_topk oracle over `table`: the hot/mid/cold skewed
    * items of its `id` column and the exact top-2 with the sketch's
    * guarantee as a constant-true column. */
  private[operators] def topkOracleDuck(table: String, id: String): String =
    s"""WITH stream AS (
       |  SELECT CASE
       |    WHEN $id % 4 < 2 THEN 'hot_' || CAST($id % 2 AS VARCHAR)
       |    WHEN $id % 4 = 2 THEN 'mid_' || CAST($id % 16 AS VARCHAR)
       |    ELSE 'cold_' || CAST($id AS VARCHAR) END AS item
       |  FROM $table)
       |SELECT item, exact_cnt, true AS within_bound FROM (
       |  SELECT item, COUNT(*) AS exact_cnt
       |  FROM stream GROUP BY item
       |  ORDER BY exact_cnt DESC, item LIMIT 2)
       |ORDER BY item""".stripMargin

  def oracles: Map[String, String] = Map(
    // the exact statistic is recomputed; the contract boolean is the
    // assertion — a sketch outside its bound breaks the hash match
    "q_sketch_distinct" ->
      """SELECT source,
        |  CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct,
        |  true AS within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_sketch_quantile" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n, true AS within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // exact global distinct + source count; the union-accuracy
    // contract is the constant-true boolean
    "q_sketch_union" ->
      """SELECT
        |  (SELECT CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents)
        |    AS exact_distinct,
        |  (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents)
        |    AS n_sources,
        |  true AS within_bound""".stripMargin,

    // exact corpus size + source count; the merged-sketch rank-window
    // contract is the constant-true boolean
    "q_sketch_kll" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents)
        |    AS n_sources,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    // exact segment cardinalities from the same per-user flag shape;
    // the set-algebra accuracy contract is the constant-true booleans
    "q_sketch_theta" ->
      """WITH flags AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY user_id)
        |SELECT
        |  CAST(SUM(v) AS BIGINT) AS exact_view,
        |  CAST(SUM(p) AS BIGINT) AS exact_purchase,
        |  CAST(SUM(v * p) AS BIGINT) AS exact_both,
        |  CAST(SUM(v * (1 - p)) AS BIGINT) AS exact_view_only,
        |  true AS inter_ok, true AS diff_ok
        |FROM flags""".stripMargin,

    // same skewed stream derivation, same top-2 tie-break; the sketch
    // guarantees are the constant-true boolean
    "q_sketch_topk" ->
      topkOracleDuck("documents", "doc_id"),

    // the full sketch restated: same md5 cells, same grid sums, same
    // row-min — est is VALUE-checked, the guarantees constant-true
    "q_sketch_countmin" ->
      """WITH cnt AS (
        |  SELECT CASE
        |    WHEN doc_id % 4 < 2 THEN 'hot_' || CAST(doc_id % 2 AS VARCHAR)
        |    WHEN doc_id % 4 = 2 THEN 'mid_' || CAST(doc_id % 16 AS VARCHAR)
        |    ELSE 'cold_' || CAST(doc_id AS VARCHAR) END AS item,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |hashed AS (
        |  SELECT item, c, r,
        |    CAST(CAST('0x' || SUBSTRING(
        |      md5(item || '#' || CAST(r AS VARCHAR)), 1, 8) AS BIGINT)
        |      % 64 AS BIGINT) AS cell
        |  FROM cnt, (SELECT unnest(range(0, 3)) AS r)),
        |cells AS (
        |  SELECT r, cell, CAST(SUM(c) AS BIGINT) AS cell_sum
        |  FROM hashed GROUP BY r, cell),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
        |top AS (SELECT item, c AS exact_cnt FROM cnt
        |        ORDER BY c DESC, item LIMIT 5),
        |est AS (
        |  SELECT h.item, t.exact_cnt, MIN(cells.cell_sum) AS est
        |  FROM top t JOIN hashed h ON h.item = t.item
        |  JOIN cells ON cells.r = h.r AND cells.cell = h.cell
        |  GROUP BY h.item, t.exact_cnt)
        |SELECT item, exact_cnt, est,
        |  true AS never_under, true AS within_bound
        |FROM est, nn ORDER BY item""".stripMargin
  )
}
