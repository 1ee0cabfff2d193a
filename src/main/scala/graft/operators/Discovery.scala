package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Schema-discovery and statistical data-audit operators — the profiling
  * pass a lakehouse runs over an unfamiliar 100 TB drop before wiring it
  * into a pipeline: which columns functionally determine which
  * (TANE-style FD audit), which columns are foreign-key candidates
  * (inclusion-dependency discovery, the Bell/Brockhausen SPIDER shape),
  * whether numeric columns' leading digits look organic (Benford's-law
  * audit — the classic fabricated-data screen), and where a metric's
  * daily level has drifted (CUSUM changepoint statistic, Page 1954).
  *
  * The reference's pipeline trusts its schema implicitly (mongoose
  * models, `module/instagram/models.js`); these are the generalization a
  * standalone engine needs when the schema contract is NOT known ahead
  * of time. Shared determinism discipline: every statistic is either an
  * exact integer or a round-at-9 double of exact integer inputs with
  * identical parenthesization in both engines; nothing float-accumulates
  * across rows (DECIMAL partial sums only).
  */
object Discovery extends graft.QueryPack {

  /** The exact-integer CUSUM closed form over an (event_type, <day>,
    * x) daily-count frame: deviations in count×n_days units (no mean
    * division), S_t = C_t − min(0, min_{j≤t} C_j) as two grid windows,
    * drift flag 8·S > total. ONE definition shared by q_cusum and the
    * streaming monitor (StreamingGate.q_stream_cusum), so their
    * proven row-for-row equality is definitional, not coincidental. */
  private[operators] def cusumFromDaily(daily: DataFrame,
      dayCol: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col(dayCol))
    daily
      .withColumn("tx", sum(col("x")).over(wt))
      .withColumn("nd", count(lit(1)).over(wt))
      .withColumn("cdev", sum(col("x") * col("nd") - col("tx")).over(wc))
      .withColumn("s_units",
        col("cdev") - least(lit(0L), min(col("cdev")).over(wc)))
      .select(col("event_type"), col(dayCol), col("x").as("n_events"),
        col("s_units"), (col("s_units") * 8 > col("tx")).as("drift_flag"))
      .orderBy(col("event_type"), col(dayCol))
  }

  /** The staleness report of q_freshness and q_stream_freshness over
    * per-type (event_type, last_us, n_events): minutes behind the
    * frontier (the newest last_us of any type) and the 60-minute SLO
    * flag. */
  private[operators] def freshnessReport(perType: DataFrame): DataFrame = {
    val frontier = perType.agg(max(col("last_us")).as("front_us"))
    perType.crossJoin(broadcast(frontier))
      .select(col("event_type"), col("n_events"),
        expr("(front_us - last_us) div 60000000").as("staleness_min"),
        (expr("(front_us - last_us) div 60000000") > 60L)
          .as("violates_slo"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin of [[cusumFromDaily]] over the events table, with the
    * day as `dayExpr AS dayCol`: q_cusum's calendar date, or
    * q_stream_cusum's epoch day number. */
  private[operators] def cusumDuck(dayExpr: String, dayCol: String): String =
    s"""WITH daily AS (
      |  SELECT event_type, $dayExpr AS $dayCol,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT *,
      |    SUM(x) OVER (PARTITION BY event_type) AS tx,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM daily),
      |c AS (
      |  SELECT *, SUM(x * nd - tx) OVER (PARTITION BY event_type
      |    ORDER BY $dayCol) AS cdev
      |  FROM tot),
      |s AS (
      |  SELECT *, cdev - least(0, MIN(cdev) OVER (PARTITION BY event_type
      |    ORDER BY $dayCol)) AS s_units
      |  FROM c)
      |SELECT event_type, $dayCol, x AS n_events,
      |  CAST(s_units AS BIGINT) AS s_units,
      |  s_units * 8 > tx AS drift_flag
      |FROM s ORDER BY event_type, $dayCol""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Functional-dependency audit (the g3 approximation measure of
    // Kivinen & Mannila, TCS'95, as used by TANE): for each candidate
    // FD A→B, does every A-group carry exactly one B value, and if
    // not, what fraction of rows survives keeping each group's
    // majority class? ONE corpus scan: a stack() projection fans each
    // row into its 4 candidate (determinant, dependent) pairs
    // (constant 4×, codegen'd), then two map-combinable aggregations —
    // (fd, a, b) cell counts, then per-determinant rollups — so the
    // shuffled frames are cell-grid-sized, never the corpus. At 100 TB
    // the candidate list is the lattice level a TANE driver would
    // prune; each extra candidate costs fan-out, not a rescan.
    "q_fd_discovery" -> ((s, d) => {
      val src = Tables(s, d, "orders").select(
        col("o_orderkey").cast("string").as("ok"),
        col("o_custkey").cast("string").as("ck"),
        col("o_orderstatus").as("st"),
        col("o_orderpriority").as("pr"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("dy"))
      val cells = src.select(expr(
        """stack(4,
          |  'o_orderkey->o_custkey', ok, ck,
          |  'o_custkey->o_orderpriority', ck, pr,
          |  'o_orderpriority->o_orderstatus', pr, st,
          |  'o_orderdate_day->o_orderstatus', dy, st) AS (fd, a, b)"""
          .stripMargin))
        .groupBy(col("fd"), col("a"), col("b")).agg(count(lit(1)).as("c"))
      cells.groupBy(col("fd"), col("a"))
        .agg(sum(col("c")).as("rows"), count(lit(1)).as("ndv_b"),
          max(col("c")).as("maxc"))
        .groupBy(col("fd"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("ndv_b") > 1, 1L).otherwise(0L)).as("n_violating"),
          sum(col("rows")).as("n_rows"),
          sum(col("maxc")).as("rows_kept"))
        .select(col("fd"), col("n_groups"), col("n_violating"),
          col("n_rows"), col("rows_kept"),
          round(col("rows_kept").cast("double") /
            col("n_rows").cast("double"), 9).as("g3_ratio"),
          (col("n_violating") === 0L).as("holds"))
        .orderBy(col("fd"))
    }),

    // Inclusion-dependency / foreign-key-candidate discovery: for each
    // candidate pair (A ⊆ B?), the containment coefficient
    // |distinct(A) ∩ distinct(B)| / |distinct(A)|. Each side is
    // DISTINCT-reduced FIRST (map-side combinable, so the join inputs
    // are value-domain-sized, never the corpus), then one left
    // equi-join per candidate counts hits — the unary-IND core of
    // SPIDER (Bauckmann et al. 2006) without the sort-merge machinery,
    // because hash joins at NDV cardinality are exactly what a Spark
    // cluster is good at. Empty inputs degrade to the vacuous-truth
    // convention of q_dq_checks: containment NULL, holds true.
    "q_ind_discovery" -> ((s, d) => {
      def dcol(t: String, c: String): DataFrame =
        Tables(s, d, t).select(col(c).cast("long").as("v"))
          .filter(col("v").isNotNull).distinct()
      val cands: Seq[(String, DataFrame, DataFrame)] = Seq(
        ("customer.c_custkey<=events.user_id",
          dcol("customer", "c_custkey"), dcol("events", "user_id")),
        ("customer.c_nationkey<=nation.n_nationkey",
          dcol("customer", "c_nationkey"), dcol("nation", "n_nationkey")),
        ("events.user_id<=customer.c_custkey",
          dcol("events", "user_id"), dcol("customer", "c_custkey")),
        ("lineitem.l_partkey<=part.p_partkey",
          dcol("lineitem", "l_partkey"), dcol("part", "p_partkey")),
        ("orders.o_custkey<=customer.c_custkey",
          dcol("orders", "o_custkey"), dcol("customer", "c_custkey")),
        ("part.p_partkey<=lineitem.l_partkey",
          dcol("part", "p_partkey"), dcol("lineitem", "l_partkey")))
      cands.map { case (nm, a, b) =>
        a.join(b.withColumn("hit", lit(1L)), Seq("v"), "left_outer")
          .agg(count(lit(1)).as("ndv_a"),
            coalesce(sum(col("hit")), lit(0L)).as("n_contained"))
          .select(lit(nm).as("ind"), col("ndv_a"), col("n_contained"),
            round(col("n_contained").cast("double") /
              nullif(col("ndv_a"), lit(0L)).cast("double"), 9)
              .as("containment"),
            (col("ndv_a") === col("n_contained")).as("holds"))
      }.reduce(_.unionByName(_)).orderBy(col("ind"))
    }),

    // Benford's-law first-digit audit over the money columns — the
    // fabricated-vs-organic screen (Benford 1938; the standard forensic
    // DQ check). Values go through the engine-stable cents path
    // (DECIMAL(12,2)·100 → BIGINT, the q_ewma convention); the first
    // significant digit is the first character of the INTEGER's decimal
    // rendering (never a double's — engine-specific float formatting
    // would poison it). The digit histogram is corpus-collapsed in one
    // map-combinable pass; the full 3×9 (column, digit) grid is a
    // literal cross join so expected-but-absent digits still contribute
    // their (0−n·e)²/(n·e) term; expected shares are round-9 constants
    // and every χ² term is a round-9 double of exact inputs, summed as
    // DECIMAL over the 9-row grid frame. Non-positive values are
    // excluded from the digit law (counted via n_total vs grid sum at
    // the caller's discretion); empty input degrades to empty output.
    "q_benford" -> ((s, d) => {
      def cents(t: String, c: String): DataFrame =
        Tables(s, d, t).select(lit(c).as("col_name"),
          (col(c).cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
      val digits = cents("orders", "o_totalprice")
        .unionByName(cents("lineitem", "l_extendedprice"))
        .unionByName(cents("customer", "c_acctbal"))
        .filter(col("cents") > 0)
        .select(col("col_name"),
          substring(col("cents").cast("string"), 1, 1).cast("long")
            .as("digit"))
        .groupBy(col("col_name"), col("digit")).agg(count(lit(1)).as("n"))
      val grid = s.range(1, 10).select(col("id").as("digit")).crossJoin(
        s.createDataFrame(Seq(Tuple1("o_totalprice"),
          Tuple1("l_extendedprice"), Tuple1("c_acctbal")))
          .toDF("col_name"))
      val w = Window.partitionBy(col("col_name"))
      val nD = col("n").cast("double")
      val totD = col("n_total").cast("double")
      grid.join(digits, Seq("col_name", "digit"), "left_outer")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("n_total", sum(col("n")).over(w))
        .filter(col("n_total") > 0)
        .withColumn("exp_share",
          round(log(10.0, lit(1.0) + lit(1.0) / col("digit")
            .cast("double")), 9))
        .withColumn("obs_share", round(nD / totD, 9))
        .withColumn("chi2_term",
          round((nD - totD * col("exp_share")) * (nD - totD * col("exp_share"))
            / (totD * col("exp_share")), 9))
        .withColumn("chi2_col",
          sum(col("chi2_term").cast(DecimalType(24, 9))).over(w)
            .cast("double"))
        .select(col("col_name"), col("digit"), col("n"), col("n_total"),
          col("obs_share"), col("exp_share"), col("chi2_term"),
          col("chi2_col"))
        .orderBy(col("col_name"), col("digit"))
    }),

    // Data-freshness SLO audit — the first question an on-call asks
    // of a feed: when did each slice last deliver, and is it stale?
    // Staleness is measured against the corpus frontier (the newest
    // event anywhere — a deployment would use the wall clock; the
    // frontier keeps the oracle deterministic), in exact integer
    // minutes. One map-combinable per-type max + a 1-row broadcast
    // frontier; the 60-minute SLO is part of the definition. A type
    // that stops emitting shows growing staleness against everything
    // still flowing — the cross-slice comparison a per-feed monitor
    // can't see.
    "q_freshness" -> ((s, d) => {
      val perType = Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(max(unix_micros(col("ts"))).as("last_us"),
          count(lit(1)).as("n_events"))
      freshnessReport(perType)
    }),

    // Probabilistic record linkage (Fellegi & Sunter, JASA 1969) —
    // the entity-resolution scorer between two feeds of the same
    // population: candidate pairs come from BLOCKING on
    // (nation, segment, balance band) — never the cross product —
    // each pair gets a log-likelihood weight summing per-field
    // match/non-match evidence (literal log2(m/u) weights, exact
    // DECIMAL(10,2) sums), and the decision thresholds split
    // match / possible / non-match. The comparison feed is a
    // deterministic perturbation of the first (keys shifted 1e6;
    // every 3rd name mangled, every 5th balance nudged a band — the
    // snapshot-diff device, restated in the oracle), so ground truth
    // is known and the output is the confusion grid PLUS the pairs
    // blocking lost (a band-nudged record lands in another block —
    // the blocking-recall cost every deployment must audit, reported
    // here instead of silently dropped).
    "q_record_linkage" -> ((s, d) => {
      val left = Tables(s, d, "customer").select(
        col("c_custkey").as("lk"), col("c_name").as("lname"),
        col("c_nationkey").cast("long").as("lnat"),
        col("c_mktsegment").as("lseg"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("lcents"))
        .withColumn("lband", expr("lcents div 200000"))
      val right = left.select(
        (col("lk") + 1000000L).as("rk"),
        when(col("lk") % 3 === 0,
          concat(lit("X"), substring(col("lname"), 2, 100)))
          .otherwise(col("lname")).as("rname"),
        col("lnat").as("rnat"), col("lseg").as("rseg"),
        when(col("lk") % 5 === 0, col("lcents") + 200000L)
          .otherwise(col("lcents")).as("rcents"))
        .withColumn("rband", expr("rcents div 200000"))
      val cand = left.join(right,
        col("lnat") === col("rnat") && col("lseg") === col("rseg") &&
          col("lband") === col("rband"))
      val wName = when(col("lname") === col("rname"),
        lit(BigDecimal("9.89"))).otherwise(lit(BigDecimal("-4.32")))
      val wCents = when(col("lcents") === col("rcents"),
        lit(BigDecimal("4.17"))).otherwise(lit(BigDecimal("-3.25")))
      val scored = cand
        .withColumn("w", (wName + wCents).cast(DecimalType(10, 2)))
        .withColumn("decision",
          when(col("w") > 10.0, "match")
            .when(col("w") > 0.0, "possible").otherwise("nonmatch"))
        .withColumn("is_true", col("rk") - 1000000L === col("lk"))
      val grid = scored.groupBy(col("decision"), col("is_true"))
        .agg(count(lit(1)).as("n"))
      // true pairs blocking never produced (band-nudged records)
      val missed = left.join(
        scored.filter(col("is_true"))
          .select(col("lk").as("mk")).distinct(),
        col("lk") === col("mk"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("missed_by_blocking").as("decision"),
          lit(true).as("is_true"), col("n"))
      grid.unionByName(missed)
        .orderBy(col("decision"), col("is_true"))
    }),

    // Group-mean imputation with full audit — the repair step after
    // the audits find holes: rows with a missing metric get their
    // event-type's mean from the OBSERVED rows, and every fill is
    // flagged (silently imputed data is how training sets rot).
    // Missingness is derived deterministically (event_id % 7 — the
    // testdata ships complete, so the hole pattern is part of the
    // operator definition, restated in the oracle). One map-combinable
    // (type, observed-sum, observed-count) pass builds the ≤|types|
    // imputation table; the fill is a broadcast join + projection;
    // means are round-6 ratios of exact cent sums, and filled values
    // stay exact cents for observed rows.
    "q_impute" -> ((s, d) => {
      val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
      val base = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"), cents.as("cents"))
        .withColumn("missing", col("event_id") % 7 === 0)
      val means = base.filter(!col("missing"))
        .groupBy(col("event_type"))
        .agg(sum(col("cents")).as("sc"), count(lit(1)).as("nc"))
        .select(col("event_type"),
          round(col("sc").cast("double") / (col("nc") * 100).cast("double"),
            6).as("fill"))
      base.join(broadcast(means), Seq("event_type"), "left_outer")
        .select(col("event_id"), col("event_type"),
          col("missing").as("was_missing"),
          when(col("missing"), col("fill"))
            .otherwise(round(col("cents").cast("double") / 100.0, 6))
            .as("value_filled"))
        .orderBy(col("event_id"))
    }),

    // CUSUM changepoint statistic (Page, Biometrika 1954) per event
    // type over the daily event-count series — "has this metric's level
    // drifted upward, and since when" — complementing q_zscore_anomaly
    // (pointwise spikes) and q_psi_drift (distribution shift between
    // halves). The recursive S_t = max(0, S_{t-1} + x_t − μ) is
    // computed via its closed form S_t = C_t − min(0, min_{j≤t} C_j)
    // with C the cumulative deviation sum, so the whole statistic is
    // two windows over the (type, day) GRID (types×days rows, never
    // the corpus — the corpus collapses in one map-combinable count).
    // Arithmetic is exact BIGINT in "count × n_days" units (deviation
    // = x·nd − total), so there is no mean division and no float
    // anywhere; the drift flag 8·S > total (= S > μ·nd/8, an eighth of
    // the total mass above baseline) fires on both SFs' data without
    // being vacuous in either direction.
    "q_cusum" -> ((s, d) => {
      val daily = Tables(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      cusumFromDaily(daily, "day")
    }))

  def oracles: Map[String, String] = Map(
    "q_fd_discovery" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS ok,
        |    CAST(o_custkey AS VARCHAR) AS ck,
        |    o_orderstatus AS st, o_orderpriority AS pr,
        |    strftime(o_orderdate, '%Y-%m-%d') AS dy
        |  FROM orders),
        |cells AS (
        |  SELECT fd, a, b, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT 'o_orderkey->o_custkey' AS fd, ok AS a, ck AS b FROM src
        |    UNION ALL
        |    SELECT 'o_custkey->o_orderpriority', ck, pr FROM src
        |    UNION ALL
        |    SELECT 'o_orderpriority->o_orderstatus', pr, st FROM src
        |    UNION ALL
        |    SELECT 'o_orderdate_day->o_orderstatus', dy, st FROM src)
        |  GROUP BY fd, a, b),
        |per_det AS (
        |  SELECT fd, a, CAST(SUM(c) AS BIGINT) AS rows_,
        |    CAST(COUNT(*) AS BIGINT) AS ndv_b, MAX(c) AS maxc
        |  FROM cells GROUP BY fd, a)
        |SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(SUM(rows_) AS BIGINT) AS n_rows,
        |  CAST(SUM(maxc) AS BIGINT) AS rows_kept,
        |  round(CAST(SUM(maxc) AS DOUBLE) / CAST(SUM(rows_) AS DOUBLE), 9)
        |    AS g3_ratio,
        |  SUM(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) = 0 AS holds
        |FROM per_det GROUP BY fd ORDER BY fd""".stripMargin,

    "q_ind_discovery" -> {
      def block(nm: String, at: String, ac: String, bt: String,
          bc: String): String =
        s"""SELECT '$nm' AS ind, CAST(COUNT(*) AS BIGINT) AS ndv_a,
           |  CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_contained,
           |  round(CAST(COALESCE(SUM(hit), 0) AS DOUBLE) /
           |    CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 9) AS containment,
           |  COUNT(*) = COALESCE(SUM(hit), 0) AS holds
           |FROM (SELECT DISTINCT CAST($ac AS BIGINT) AS v FROM $at
           |      WHERE $ac IS NOT NULL) a
           |LEFT JOIN (SELECT DISTINCT CAST($bc AS BIGINT) AS v,
           |             CAST(1 AS BIGINT) AS hit FROM $bt
           |           WHERE $bc IS NOT NULL) b USING (v)""".stripMargin
      Seq(
        block("customer.c_custkey<=events.user_id",
          "customer", "c_custkey", "events", "user_id"),
        block("customer.c_nationkey<=nation.n_nationkey",
          "customer", "c_nationkey", "nation", "n_nationkey"),
        block("events.user_id<=customer.c_custkey",
          "events", "user_id", "customer", "c_custkey"),
        block("lineitem.l_partkey<=part.p_partkey",
          "lineitem", "l_partkey", "part", "p_partkey"),
        block("orders.o_custkey<=customer.c_custkey",
          "orders", "o_custkey", "customer", "c_custkey"),
        block("part.p_partkey<=lineitem.l_partkey",
          "part", "p_partkey", "lineitem", "l_partkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY ind")
    },

    "q_benford" ->
      """WITH vals AS (
        |  SELECT col_name, CAST(CAST(v AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS cents
        |  FROM (
        |    SELECT 'o_totalprice' AS col_name, o_totalprice AS v FROM orders
        |    UNION ALL
        |    SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |    UNION ALL
        |    SELECT 'c_acctbal', c_acctbal FROM customer)),
        |digits AS (
        |  SELECT col_name,
        |    CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM vals WHERE cents > 0 GROUP BY 1, 2),
        |grid AS (
        |  SELECT c.col_name, CAST(d.digit AS BIGINT) AS digit
        |  FROM (SELECT unnest(range(1, 10)) AS digit) d,
        |       (VALUES ('o_totalprice'), ('l_extendedprice'),
        |               ('c_acctbal')) c(col_name)),
        |filled AS (
        |  SELECT g.col_name, g.digit, COALESCE(dg.n, 0) AS n,
        |    SUM(COALESCE(dg.n, 0)) OVER (PARTITION BY g.col_name)
        |      AS n_total
        |  FROM grid g LEFT JOIN digits dg
        |    ON g.col_name = dg.col_name AND g.digit = dg.digit),
        |terms AS (
        |  SELECT col_name, digit, CAST(n AS BIGINT) AS n,
        |    CAST(n_total AS BIGINT) AS n_total,
        |    round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 9)
        |      AS obs_share,
        |    round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9) AS exp_share
        |  FROM filled WHERE n_total > 0),
        |chi AS (
        |  SELECT *,
        |    round((CAST(n AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share)
        |      * (CAST(n AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share)
        |      / (CAST(n_total AS DOUBLE) * exp_share), 9) AS chi2_term
        |  FROM terms)
        |SELECT col_name, digit, n, n_total, obs_share, exp_share, chi2_term,
        |  CAST(SUM(CAST(chi2_term AS DECIMAL(24,9)))
        |    OVER (PARTITION BY col_name) AS DOUBLE) AS chi2_col
        |FROM chi ORDER BY col_name, digit""".stripMargin,

    "q_freshness" ->
      """WITH per_type AS (
        |  SELECT event_type, MAX(epoch_us(ts)) AS last_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY event_type),
        |frontier AS (SELECT MAX(last_us) AS front_us FROM per_type)
        |SELECT event_type, n_events,
        |  CAST((front_us - last_us) // 60000000 AS BIGINT)
        |    AS staleness_min,
        |  (front_us - last_us) // 60000000 > 60 AS violates_slo
        |FROM per_type, frontier ORDER BY event_type""".stripMargin,

    "q_record_linkage" ->
      """WITH lft AS (
        |  SELECT c_custkey AS lk, c_name AS lname,
        |    CAST(c_nationkey AS BIGINT) AS lnat, c_mktsegment AS lseg,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS lcents,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      // 200000 AS lband
        |  FROM customer),
        |rgt AS (
        |  SELECT lk + 1000000 AS rk,
        |    CASE WHEN lk % 3 = 0 THEN 'X' || substr(lname, 2, 100)
        |         ELSE lname END AS rname,
        |    lnat AS rnat, lseg AS rseg,
        |    CASE WHEN lk % 5 = 0 THEN lcents + 200000
        |         ELSE lcents END AS rcents
        |  FROM lft),
        |rgt2 AS (SELECT *, rcents // 200000 AS rband FROM rgt),
        |cand AS (
        |  SELECT * FROM lft JOIN rgt2
        |    ON lnat = rnat AND lseg = rseg AND lband = rband),
        |scored AS (
        |  SELECT *,
        |    CAST((CASE WHEN lname = rname THEN CAST(9.89 AS DECIMAL(10,2))
        |               ELSE CAST(-4.32 AS DECIMAL(10,2)) END +
        |          CASE WHEN lcents = rcents THEN CAST(4.17 AS DECIMAL(10,2))
        |               ELSE CAST(-3.25 AS DECIMAL(10,2)) END)
        |      AS DECIMAL(10,2)) AS w,
        |    rk - 1000000 = lk AS is_true
        |  FROM cand),
        |grid AS (
        |  SELECT CASE WHEN w > 10.0 THEN 'match'
        |              WHEN w > 0.0 THEN 'possible'
        |              ELSE 'nonmatch' END AS decision,
        |    is_true, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM scored GROUP BY 1, 2),
        |missed AS (
        |  SELECT 'missed_by_blocking' AS decision, true AS is_true,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lft
        |  WHERE lk NOT IN (SELECT lk FROM scored WHERE is_true))
        |SELECT * FROM grid UNION ALL SELECT * FROM missed
        |ORDER BY decision, is_true""".stripMargin,

    "q_impute" ->
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    event_id % 7 = 0 AS missing
        |  FROM events),
        |means AS (
        |  SELECT event_type,
        |    round(CAST(SUM(cents) AS DOUBLE) /
        |      CAST(COUNT(*) * 100 AS DOUBLE), 6) AS fill
        |  FROM base WHERE NOT missing GROUP BY event_type)
        |SELECT event_id, base.event_type, missing AS was_missing,
        |  CASE WHEN missing THEN fill
        |       ELSE round(CAST(cents AS DOUBLE) / 100.0, 6) END
        |    AS value_filled
        |FROM base LEFT JOIN means ON base.event_type = means.event_type
        |ORDER BY event_id""".stripMargin,

    "q_cusum" -> cusumDuck("CAST(ts AS DATE)", "day"))
}
