package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Statistical-inference operators — survival estimation under
  * censoring and resampling-based uncertainty — the two analysis shapes
  * a metrics warehouse needs beyond point statistics: "how long until
  * churn, given that many subjects haven't churned YET" and "how sure
  * are we about this mean". Both are built so the statistic is a pure
  * function of exact integer aggregates: survival products go through
  * round-9 DECIMAL log-sums (the q_ldiversity discipline), bootstrap
  * randomness is the deterministic md5-key uniform the samplers share
  * (q_weighted_sample), so both engines agree bit-for-bit and the
  * result is independent of partitioning.
  */
object Inference extends graft.QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bradley–Terry pairwise-preference strengths (Hunter 2004's MM
    // iteration, two rounds unrolled) — the ESTIMATION member of the
    // preference-data family after q_label_vote (aggregate) and
    // q_label_kappa (agreement): given pairwise outcomes, recover a
    // per-contestant strength s_i — the Elo-class primitive an RLHF
    // pipeline runs over preference pairs before trusting them as
    // reward signal (a contestant whose strength defies its win rate
    // flags label noise). Matches are deterministic fixture pairs:
    // each order's first two lineitems compete (distinct suppliers
    // only), winner = higher extendedprice, exact-DECIMAL compare,
    // ties to the lower suppkey. MM update s_i ← w_i / Σ_j n_ij /
    // (s_i + s_j) from s = 1, each round's denominators summed as
    // scale-12 fixed-point integers (round(1e12·n/(s_i+s_j)) at
    // SCALE 0 — the r10 house rule: these are rationals with
    // data-dependent denominators, and scale-0 rounding of the
    // identical IEEE double is the only cross-engine-safe rounding)
    // under DECIMAL(38,0) headroom, and strengths REPORTED in
    // micro-units for the same reason. Scale shape: one corpus-sized
    // match extraction (an orderkey equi-join), then everything is
    // participant-grid-sized — the (i,j) match grid, two grid joins
    // per MM round, and a participants-sized rank window (named
    // device: 100 rows at any corpus size the supplier dimension
    // allows). Two winless contestants can never have played each
    // other (their match had a winner), so s_i + s_j > 0 on every
    // grid row by construction.
    "q_bt_strength" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey").cast("long").as("supp"),
          col("l_extendedprice").as("px"))
      val a = li.filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("supp").as("sa"), col("px").as("pa"))
      val b = li.filter(col("l_linenumber") === 2)
        .select(col("l_orderkey"), col("supp").as("sb"), col("px").as("pb"))
      val m = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") =!= col("sb"))
        .select(col("sa"), col("sb"),
          when(col("pa") > col("pb") ||
            (col("pa") === col("pb") && col("sa") < col("sb")),
            col("sa")).otherwise(col("sb")).as("winner"))
      val wins = m
        .select(explode(array(col("sa"), col("sb"))).as("supp"),
          col("winner"))
        .groupBy(col("supp"))
        .agg(count(lit(1)).as("n_matches"),
          sum(when(col("winner") === col("supp"), 1L).otherwise(0L))
            .as("wins"))
      val grid = m
        .select(least(col("sa"), col("sb")).as("lo"),
          greatest(col("sa"), col("sb")).as("hi"))
        .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("n"))
      val dir = grid.select(col("lo").as("i"), col("hi").as("j"), col("n"))
        .unionByName(
          grid.select(col("hi").as("i"), col("lo").as("j"), col("n")))
      // one MM round: strengths in micro-units in → micro-units out
      def mmRound(se6: DataFrame): DataFrame = {
        val den = dir
          .join(se6.select(col("supp").as("i"),
            (col("s_e6").cast("double") / lit(1000000.0d)).as("si")),
            Seq("i"))
          .join(se6.select(col("supp").as("j"),
            (col("s_e6").cast("double") / lit(1000000.0d)).as("sj")),
            Seq("j"))
          .select(col("i"),
            round(lit(1.0e12d) * col("n") / (col("si") + col("sj")))
              .cast(DecimalType(38, 0)).as("t"))
          .groupBy(col("i"))
          .agg(sum(col("t")).cast(DecimalType(38, 0)).as("den"))
        wins.join(den, wins("supp") === den("i"), "left_outer")
          .select(wins("supp"),
            when(col("wins") === 0L || col("den").isNull, lit(0L))
              .otherwise(round(lit(1000000.0d) * col("wins") /
                (col("den").cast("double") / lit(1.0e12d))).cast("long"))
              .as("s_e6"))
      }
      val s0 = wins.select(col("supp"), lit(1000000L).as("s_e6"))
      val s1 = mmRound(s0)
      val s2 = mmRound(s1)
      val w = Window.orderBy(col("s2_e6").desc, col("supp"))
      wins
        .join(s1.select(col("supp"), col("s_e6").as("s1_e6")), Seq("supp"))
        .join(s2.select(col("supp"), col("s_e6").as("s2_e6")), Seq("supp"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .select(col("supp"), col("n_matches"), col("wins"),
          col("s1_e6"), col("s2_e6"), col("rk"))
        .orderBy(col("rk"))
    }),

    // Delete-one-group jackknife (Quenouille/Tukey; the grouped form
    // survey statistics runs) — the DETERMINISTIC resampling CI next
    // to the md5-bootstrap: leave each SOURCE out once, recompute the
    // corpus mean doc length, and read the spread of the g leave-out
    // estimates as the standard error: SE² = (g−1)/g · Σ(θ̂ᵢ − θ̄)².
    // No RNG anywhere — the resamples are the g group deletions, so
    // the estimate is exactly reproducible on any engine or layout.
    // Exactness device: every θ̂ᵢ = (S−Sᵢ)/(N−nᵢ) is fixed-point
    // rounded to 1e-6 BIGINT BEFORE the variance algebra, which then
    // runs as g·Σt² − (Σt)² in exact integers (the common-denominator
    // discipline); doubles appear only in the final sqrt/round. Shape:
    // one per-source agg, one 1-row broadcast total, one g-row final
    // agg — the group count is the only cardinality anywhere.
    "q_jackknife" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val per = docs.groupBy(col("source"))
        .agg(sum(col("x")).as("si"), count(lit(1)).as("ni"))
      val tot = per.agg(sum(col("si")).as("s"), sum(col("ni")).as("n"),
        count(lit(1)).as("g"))
      // t ≈ mean·1e6 ~ 5e8, so Σt² crosses Long's 9.2e18 at ~40
      // groups and g·Σt² well before — DECIMAL(38,0) headroom (the
      // q_pagerank device), mirrored by HUGEINT-wide decimals in the
      // oracle.
      val t = per.crossJoin(broadcast(tot))
        .select(col("s"), col("n"), col("g"),
          expr("cast(round((s - si) * cast(1000000 as double) / (n - ni)) as bigint)")
            .cast(DecimalType(38, 0)).as("t"))
      t.groupBy(col("s"), col("n"), col("g"))
        .agg(sum(col("t")).cast(DecimalType(38, 0)).as("st"),
          sum(col("t") * col("t")).cast(DecimalType(38, 0)).as("st2"))
        .select(col("g").as("n_groups"),
          round(col("s").cast("double") / col("n"), 9).as("theta_hat"),
          round(sqrt(((col("g") - 1) * (col("g") * col("st2") -
            col("st") * col("st"))).cast("double") /
            (col("g") * col("g")).cast("double") / 1e12), 9).as("se_jack"))
        .select(col("n_groups"), col("theta_hat"), col("se_jack"),
          round(col("theta_hat") - lit(1.96d) * col("se_jack"), 9).as("ci_lo"),
          round(col("theta_hat") + lit(1.96d) * col("se_jack"), 9).as("ci_hi"))
    }),

    // Label aggregation — the annotation-QA step of a labeling
    // pipeline (RLHF preference labels, quality ratings): each event
    // is read as one annotator's label on an item (item = event_id
    // mod 500, annotator = user_id, label = event_type). Majority
    // vote per item with a TOTAL-ORDER tiebreak (votes desc, label
    // asc — both engines agree), plus the vote margin a curation
    // pipeline thresholds on before trusting a label. One grid agg +
    // one per-item window; nothing beyond the (item × label) grid
    // ever aggregates.
    "q_label_vote" -> ((s, d) => {
      val ann = Tables(s, d, "events")
        .select((col("event_id") % 500).as("item"),
          col("event_type").as("label"))
      labelVote(ann.groupBy(col("item"), col("label"))
        .agg(count(lit(1)).as("votes")))
    }),

    // Inter-annotator agreement: Fleiss' kappa generalized to variable
    // raters per item (the pairwise-agreement form): per-item
    //   P_i = Σ_c n_ic(n_ic−1) / (n_i(n_i−1))   over items with n_i ≥ 2,
    // P̄ = mean P_i, chance agreement P_e = Σ_c p_c² from the pooled
    // label distribution, κ = (P̄ − P_e)/(1 − P_e). Every ingredient
    // is an exact integer sum off the same (item × label) grid the
    // vote uses — the ratios are the only doubles, rounded at 9. A
    // labeling deployment gates annotator quality on exactly this
    // number before the labels feed training.
    "q_label_kappa" -> ((s, d) => {
      val ann = Tables(s, d, "events")
        .select((col("event_id") % 500).as("item"),
          col("event_type").as("label"))
      val grid = ann.groupBy(col("item"), col("label"))
        .agg(count(lit(1)).as("n_ic"))
      val perItem = grid.groupBy(col("item"))
        .agg(sum(col("n_ic")).as("n_i"),
          sum(col("n_ic") * (col("n_ic") - 1)).as("agree_i"))
        .filter(col("n_i") >= 2)
      // P̄ through round-12 DECIMAL partial sums (the q_js_divergence
      // discipline): a float AVG accumulates in partition order and
      // drifts a ULP across layouts; the DECIMAL sum is exact
      val pBar = perItem.agg(
        count(lit(1)).as("n_items"),
        sum(col("n_i")).as("n_annotations"),
        (sum(round(col("agree_i").cast("double") /
            (col("n_i") * (col("n_i") - 1)).cast("double"), 12)
          .cast(DecimalType(24, 12))).cast("double") /
          count(lit(1)).cast("double")).as("p_bar_raw"))
      val pooled = ann.groupBy(col("label")).agg(count(lit(1)).as("n_c"))
      val pe = pooled.agg(
        sum(col("n_c") * col("n_c")).cast("double").as("ss"),
        sum(col("n_c")).cast("double").as("tot"))
        .select((col("ss") / (col("tot") * col("tot"))).as("p_e_raw"))
      pBar.crossJoin(broadcast(pe))
        .select(col("n_items"), col("n_annotations"),
          round(col("p_bar_raw"), 9).as("p_bar"),
          round(col("p_e_raw"), 9).as("p_e"),
          round((col("p_bar_raw") - col("p_e_raw")) /
            (lit(1.0d) - col("p_e_raw")), 9).as("kappa"))
    }),

    // Kaplan–Meier survival estimator (Kaplan & Meier, JASA 1958) over
    // SESSION durations with right-censoring at the observation edge:
    // sessions still open within one gap-width of the corpus' last
    // event can't have been observed to end, so they enter the risk
    // set but never the death count — dropping them instead (the naive
    // "completed sessions only" average) biases duration DOWN, which
    // is exactly the mistake KM exists to fix. Sessions come from the
    // shared 30-min-gap windows (q_sessionize semantics, verbatim);
    // the corpus then collapses to the distinct-duration GRID (≤ ~60
    // rows here; bounded by the duration domain at any scale), and the
    // whole estimator is windows over that grid: risk sets by
    // cumulative (deaths+censored) subtraction, the survival product
    // as exp of a cumulative DECIMAL sum of round-9 ln((n−d)/n) terms
    // — order-stable where a float running product is not. A
    // duration level that kills its whole risk set sends S to exactly
    // 0 from there on (the ln(0) pole is gated, not thrown).
    "q_kaplan_meier" -> ((s, d) => {
      val GAP_US = 30L * 60 * 1000000
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val newSession = when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1)
          .over(w) > GAP_US, 1L)
        .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
      val sessions = Tables(s, d, "events")
        .withColumn("new_s", newSession)
        .withColumn("sid",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
      val maxTs = Tables(s, d, "events")
        .agg(max(unix_micros(col("ts"))).as("max_us"))
      val grid = sessions.crossJoin(maxTs)
        .select(
          expr("(end_us - start_us) div 60000000").as("dur_min"),
          when(col("end_us") < col("max_us") - GAP_US, 1L).otherwise(0L)
            .as("ev"))
        .groupBy(col("dur_min"))
        .agg(sum(col("ev")).as("d"),
          sum(lit(1L) - col("ev")).as("c"))
      val wall = Window.orderBy(col("dur_min"))
      val wprev = wall.rowsBetween(Window.unboundedPreceding, -1)
      val wcum = wall.rowsBetween(Window.unboundedPreceding, 0)
      grid
        .withColumn("n_risk",
          sum(col("d") + col("c")).over(
            wall.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing))
            - coalesce(sum(col("d") + col("c")).over(wprev), lit(0L)))
        .withColumn("term",
          when(col("n_risk") === col("d"), lit(null))
            .otherwise(round(log((col("n_risk") - col("d")).cast("double") /
              col("n_risk").cast("double")), 9).cast(DecimalType(24, 9))))
        .withColumn("dead",
          max(when(col("n_risk") === col("d"), 1L).otherwise(0L)).over(wcum))
        .withColumn("survival",
          when(col("dead") === 1L, lit(0.0))
            .otherwise(round(exp(
              sum(col("term")).over(wcum).cast("double")), 6)))
        .select(col("dur_min"), col("n_risk"), col("d").as("n_events"),
          col("c").as("n_censored"), col("survival"))
        .orderBy(col("dur_min"))
    }),

    // A/B sample-size calculator — the planning step before
    // q_welch_ttest/q_permutation_test run: given the purchase
    // metric's OBSERVED variance, how many users per arm does a test
    // need to detect a 1%/2%/5% lift at alpha=0.05, power=0.8? The
    // two-sided normal-approximation formula
    // n = 2(z_a/2 + z_b)^2 sigma^2 / delta^2 with the z constants as
    // round-6 literals (1.959964, 0.841621 — restated in the oracle).
    // Moments come from ONE exact-cent pass (DECIMAL(38,0) squared
    // sums); the MDE sweep is a 3-row literal explode; ceil lands the
    // integer answer.
    "q_power_analysis" -> ((s, d) => {
      val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
      val m = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(cents.as("c"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("sxx"))
      val nD = col("n").cast("double")
      val mean = col("sx").cast("double") / nD
      val variance = (nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) /
        (nD * (nD - 1))
      val zsum = lit(1.959964) + lit(0.841621)
      m.select(col("n"), round(mean, 6).as("metric_mean"),
          round(variance, 6).as("metric_var"),
          explode(typedlit(Seq(0.01, 0.02, 0.05))).as("mde"))
        .withColumn("n_per_arm",
          ceil(lit(2.0) * zsum * zsum * col("metric_var") /
            (round(col("metric_mean") * col("mde"), 6) *
              round(col("metric_mean") * col("mde"), 6))).cast("long"))
        .select(col("mde"), col("n"), col("metric_mean"),
          col("metric_var"), col("n_per_arm"))
        .orderBy(col("mde"))
    }),

    // CUPED variance reduction (Deng et al., WSDM 2013) — the
    // industry-standard experiment-sensitivity trick: adjust each
    // user's experiment-period metric y by their PRE-period covariate
    // x (y' = y − θ(x−x̄), θ = cov/var_x), shrinking metric variance
    // by exactly ρ² — which is what this query computes and reports
    // from the per-user (pre, post) spend grid. One corpus pass
    // collapses purchases to the user grid (halves by the broadcast
    // time midpoint), one moment aggregation with DECIMAL(38,0)
    // squared-cent headroom, and θ/ρ²/reduction are single double
    // expressions over the exact sums, identically parenthesized in
    // the oracle.
    "q_cuped" -> ((s, d) => {
      val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
      val ev = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          cents.as("cents"))
      val rng = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val grid = ev.crossJoin(broadcast(rng))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") * 2 <= col("lo") + col("hi"),
          col("cents")).otherwise(0L)).as("x"),
          sum(when(col("us") * 2 > col("lo") + col("hi"),
            col("cents")).otherwise(0L)).as("y"))
      val m = grid.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("syy"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val sxx = col("sxx").cast("double")
      val sxy = col("sxy").cast("double")
      val syy = col("syy").cast("double")
      val covN = n * sxy - sx * sy
      val vxN = n * sxx - sx * sx
      val vyN = n * syy - sy * sy
      m.select(col("n").as("n_users"),
        round(covN / vxN, 9).as("theta"),
        round(covN * covN / (vxN * vyN), 6).as("rho2"),
        round(lit(100.0) * (covN * covN / (vxN * vyN)), 4)
          .as("var_reduction_pct"))
    }),

    // Sample-ratio-mismatch check (the SRM guardrail of Fabijan et
    // al. 2019 — the FIRST thing an experimentation platform tests,
    // because a biased assignment invalidates every downstream
    // metric): chi-square goodness-of-fit of the realized arm counts
    // against the designed 50/50 split, per unit of randomization
    // (users) AND per exposure (events) — the two can disagree, and
    // that disagreement is itself a bug signature (activity-correlated
    // assignment). Arms are the q_welch_ttest user_id % 2 coin; chi2
    // = (a−b)²/(a+b) for two equal-expectation cells — ONE exact
    // integer ratio, round-9; the flag is the 0.05 critical value
    // 3.841459 as a literal, so no CDF crosses the engines.
    "q_srm" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("user_id"), (col("user_id") % 2).as("arm"))
      val units = ev.select(col("user_id"), col("arm")).distinct()
        .groupBy(lit("users").as("grain"))
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("b"))
      val exposures = ev
        .groupBy(lit("events").as("grain"))
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("b"))
      units.unionAll(exposures)
        .withColumn("chi2",
          round(((col("a") - col("b")) * (col("a") - col("b")))
            .cast("double") /
            nullif(col("a") + col("b"), lit(0L)).cast("double"), 9))
        .select(col("grain"), col("a"), col("b"), col("chi2"),
          (col("chi2") > 3.841459d).as("srm_detected"))
        .orderBy(col("grain"))
    }),

    // Difference-in-differences (Card–Krueger 1994's 2×2 design) —
    // the quasi-experimental estimator when treatment switches ON at
    // a known time for a known cohort: the treated arm's pre→post
    // change minus the control arm's nets out both the level gap and
    // the common trend. Cohort = the user_id % 2 coin; the switch =
    // the exact time midpoint (the q_cuped device); a planted
    // +3000-cent effect is added to post-period treated purchases so
    // the estimator has a known target (the q_ipw_ate fixture
    // discipline). All four cell means come from ONE conditional
    // aggregation of exact cents; DiD is a single identically-
    // parenthesized round-9 expression over the four exact ratios.
    "q_did" -> ((s, d) => {
      val cents = (col("value").cast(DecimalType(12, 2)) * 100)
        .cast("long")
      val ev = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("t"),
          unix_micros(col("ts")).as("us"), cents.as("c"))
      val rng = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val cells = ev.crossJoin(broadcast(rng))
        .withColumn("post", (col("us") * 2 > col("lo") + col("hi"))
          .cast("long"))
        .withColumn("y", col("c") +
          when(col("t") === 1L && col("post") === 1L, 3000L)
            .otherwise(0L))
        .groupBy(lit(1).as("one"))
        .agg(
          sum(when(col("t") === 1L && col("post") === 1L, col("y"))
            .otherwise(0L)).as("s_t1"),
          sum(when(col("t") === 1L && col("post") === 1L, 1L)
            .otherwise(0L)).as("n_t1"),
          sum(when(col("t") === 1L && col("post") === 0L, col("y"))
            .otherwise(0L)).as("s_t0"),
          sum(when(col("t") === 1L && col("post") === 0L, 1L)
            .otherwise(0L)).as("n_t0"),
          sum(when(col("t") === 0L && col("post") === 1L, col("y"))
            .otherwise(0L)).as("s_c1"),
          sum(when(col("t") === 0L && col("post") === 1L, 1L)
            .otherwise(0L)).as("n_c1"),
          sum(when(col("t") === 0L && col("post") === 0L, col("y"))
            .otherwise(0L)).as("s_c0"),
          sum(when(col("t") === 0L && col("post") === 0L, 1L)
            .otherwise(0L)).as("n_c0"))
      cells
        .filter(col("n_t1") > 0L && col("n_t0") > 0L &&
          col("n_c1") > 0L && col("n_c0") > 0L)
        .select(col("n_t1"), col("n_t0"), col("n_c1"), col("n_c0"),
          round(col("s_t1").cast("double") / col("n_t1") -
            col("s_t0").cast("double") / col("n_t0"), 9)
            .as("treated_delta"),
          round(col("s_c1").cast("double") / col("n_c1") -
            col("s_c0").cast("double") / col("n_c0"), 9)
            .as("control_delta"),
          round((col("s_t1").cast("double") / col("n_t1") -
            col("s_t0").cast("double") / col("n_t0")) -
            (col("s_c1").cast("double") / col("n_c1") -
              col("s_c0").cast("double") / col("n_c0")), 9).as("did"))
    }),

    // Inverse-propensity-weighted treatment effect (Horvitz–Thompson
    // 1952 via the stratified Hájek form) — the observational-data
    // counterpart of q_cuped's experiment tooling: when treatment
    // assignment is CONFOUNDED (here planted: the md5 coin's
    // threshold rises with hour-of-day, and hour also shifts the
    // outcome by +1000·hour cents), the naive treated-vs-control gap
    // is biased; weighting each stratum by its exact empirical
    // propensity recovers the planted +5000-cent effect. With exact
    // per-stratum propensities the Hájek estimator reduces exactly to
    // the stratified estimator Σ nₓ(ȳ₁ₓ−ȳ₀ₓ)/N — computed on the
    // 24-row hour grid from one corpus pass; per-stratum terms are
    // round-12 doubles of exact BIGINTs summed under DECIMAL(30,12)
    // (the q_calibration ECE discipline), headline ATE broadcast back
    // onto every row. A one-arm stratum yields a NULL term that the
    // DECIMAL sum skips in both engines.
    "q_ipw_ate" -> ((s, d) => {
      val bucket = conv(substring(md5(col("event_id").cast("string")),
        1, 4), 16, 10).cast("long")
      val cents = (col("value").cast(DecimalType(12, 2)) * 100)
        .cast("long")
      val base = Tables(s, d, "events")
        .select(expr("(unix_micros(ts) div 3600000000) % 24").as("hour"),
          bucket.as("b"), cents.as("c"))
        .withColumn("t",
          when(col("b") < (lit(16L) + col("hour")) * 1024L, 1L)
            .otherwise(0L))
        .withColumn("y",
          col("c") + col("t") * 5000L + col("hour") * 1000L)
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      base.groupBy(col("hour"))
        .agg(count(lit(1)).as("n"), sum(col("t")).as("n_t"),
          sum(when(col("t") === 1L, col("y")).otherwise(0L)).as("s_t"),
          sum(when(col("t") === 0L, col("y")).otherwise(0L)).as("s_c"))
        .withColumn("n_total", sum(col("n")).over(wAll))
        .withColumn("ate_term", round(col("n").cast("double") *
          (col("s_t").cast("double") / nullif(col("n_t"), lit(0L)) -
            col("s_c").cast("double") /
              nullif(col("n") - col("n_t"), lit(0L))) /
          col("n_total"), 12))
        .withColumn("ate",
          sum(col("ate_term").cast(DecimalType(30, 12))).over(wAll)
            .cast("double"))
        .select(col("hour"), col("n"), col("n_t"),
          round(col("n_t").cast("double") / col("n"), 9).as("p_hat"),
          round(col("s_t").cast("double") /
            nullif(col("n_t"), lit(0L)), 9).as("mean_t"),
          round(col("s_c").cast("double") /
            nullif(col("n") - col("n_t"), lit(0L)), 9).as("mean_c"),
          col("ate_term"), col("ate"))
        .orderBy(col("hour"))
    }),

    // Welch's unequal-variance t-test (Welch, Biometrika 1947) — the
    // parametric complement to q_permutation_test on the same two
    // cohorts: both moments come from ONE map-combinable aggregation
    // (count / exact cent sum / exact squared-cent sum per group — the
    // q_regression moment discipline), and mean, variance, t statistic
    // and Welch–Satterthwaite dof are single double expressions over
    // those exact integers, identically parenthesized in the oracle.
    // The large-sample z≈1.96 significance gate stands in for the t
    // CDF (dof ≈ 2000 here; the distinction is < 1e-3) — emitting the
    // statistic, not an uncomputable p-value, keeps the contract
    // engine-exact.
    "q_welch_ttest" -> ((s, d) => {
      val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
      val g = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).cast("long").as("grp"),
          cents.as("cents"))
        .groupBy(col("grp"))
        // squared-cent sums get DECIMAL(38,0) headroom (a LongType
        // Σcents² wraps around 1e7 rows at 1e6 cents — the same class
        // of silent/loud divergence as the rank statistics)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
          sum((col("cents") * col("cents")).cast(DecimalType(38, 0)))
            .as("sxx"))
      val a = g.filter(col("grp") === 0).select(col("n").as("n1"),
        col("sx").as("sx1"), col("sxx").as("sxx1"))
      val b = g.filter(col("grp") === 1).select(col("n").as("n2"),
        col("sx").as("sx2"), col("sxx").as("sxx2"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val m1 = col("sx1").cast("double") / n1
      val m2 = col("sx2").cast("double") / n2
      val v1 = (n1 * col("sxx1").cast("double") -
        col("sx1").cast("double") * col("sx1").cast("double")) /
        (n1 * (n1 - 1))
      val v2 = (n2 * col("sxx2").cast("double") -
        col("sx2").cast("double") * col("sx2").cast("double")) /
        (n2 * (n2 - 1))
      val se2 = v1 / n1 + v2 / n2
      val t = (m1 - m2) / sqrt(se2)
      val dof = se2 * se2 /
        ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
      a.crossJoin(b).select(
        col("n1"), col("n2"),
        round(m1, 9).as("mean1"), round(m2, 9).as("mean2"),
        round(t, 9).as("t_stat"), round(dof, 6).as("welch_dof"),
        (abs(round(t, 9)) > 1.96).as("significant_z95"))
    }),

    // Monte-Carlo permutation test (Fisher's randomization test;
    // Dwass, AMS 1957, for the sampled variant) for a two-sample mean
    // difference — "is the purchase-value gap between the two user
    // cohorts explainable by chance": under H0 labels are
    // exchangeable, so the observed |mean_A − mean_B| is compared
    // against P=64 random relabelings. Randomness is the deterministic
    // md5 uniform over (event_id, permutation) — the bootstrap's
    // discipline — so the p-value is reproducible and
    // partitioning-independent; the +1/(P+1) correction keeps it
    // valid (never exactly 0). Same single-pass layout as
    // q_bootstrap_ci: constant ×64 explode, one map-combinable
    // aggregation to the 64-row permutation grid, every mean a round-9
    // double of exact BIGINT cent sums, the tail all grid windows.
    "q_permutation_test" -> ((s, d) => {
      val P = 64
      val M = math.pow(16, 13)
      val purchases = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents"))
      val obs = purchases.agg(
        round(sum(when(col("user_id") % 2 === 0, col("cents")))
          .cast("double") /
          sum(when(col("user_id") % 2 === 0, 1L)).cast("double") -
          sum(when(col("user_id") % 2 === 1, col("cents")))
            .cast("double") /
            sum(when(col("user_id") % 2 === 1, 1L)).cast("double"), 9)
          .as("obs_diff"))
      val u = (conv(substring(md5(concat(col("event_id").cast("string"),
        lit("#"), col("p").cast("string"))), 1, 13), 16, 10)
        .cast("double") + 1d) / lit(M + 1d)
      val perms = purchases
        .select(col("event_id"), col("cents"),
          explode(sequence(lit(0), lit(P - 1))).as("p"))
        .withColumn("ga", (u < 0.5).cast("long"))
        .groupBy(col("p"))
        .agg(sum(when(col("ga") === 1L, col("cents"))).as("sa"),
          sum(col("ga")).as("na"),
          sum(when(col("ga") === 0L, col("cents"))).as("sb"),
          sum(lit(1L) - col("ga")).as("nb"))
        .withColumn("perm_diff",
          round(col("sa").cast("double") /
            nullif(col("na"), lit(0L)).cast("double") -
            col("sb").cast("double") /
            nullif(col("nb"), lit(0L)).cast("double"), 9))
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      perms.crossJoin(obs)
        .withColumn("exceeds", abs(col("perm_diff")) >= abs(col("obs_diff")))
        .withColumn("p_value",
          round((sum(when(col("exceeds"), 1L).otherwise(0L)).over(wAll)
            + 1L).cast("double") / lit((P + 1).toDouble), 9))
        .select(col("p").cast("long").as("perm"), col("na"),
          col("perm_diff"), col("exceeds"), col("obs_diff"),
          col("p_value"))
        .orderBy(col("perm"))
    }),

    // Poisson bootstrap confidence interval for the mean purchase
    // value — the single-pass bootstrap used at warehouse scale
    // (Chamandy et al., "Estimating Uncertainty for Massive Data
    // Streams", Google 2012): instead of drawing N rows with
    // replacement per resample (a corpus-sized shuffle per replicate),
    // each row contributes to each of the R=32 replicates with an
    // independent Poisson(1) weight, here the inverse CDF of the
    // deterministic md5 uniform over (event_id, replicate) — capped at
    // 6 (P ≈ 6e-5, restated in the oracle). One constant ×32 explode,
    // one map-combinable aggregation to the 32-row replicate grid;
    // replicate means are round-9 doubles of exact BIGINT cent sums,
    // and the interval is the 2nd/31st order statistic (the 93.75%
    // central percentile-bootstrap interval) — windows over 32 rows.
    "q_bootstrap_ci" -> ((s, d) => {
      val R = 32
      val M = math.pow(16, 13) // 2^52 — exactly representable
      val purchases = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents"))
      val u = (conv(substring(md5(concat(col("event_id").cast("string"),
        lit(":"), col("r").cast("string"))), 1, 13), 16, 10)
        .cast("double") + 1d) / lit(M + 1d)
      // Poisson(1) inverse CDF: P(X<=k) = e^-1 * sum_{j<=k} 1/j!
      val wPois = when(u < 0.367879441, 0L).when(u < 0.735758882, 1L)
        .when(u < 0.919698603, 2L).when(u < 0.980966178, 3L)
        .when(u < 0.996340153, 4L).when(u < 0.999405815, 5L).otherwise(6L)
      val reps = purchases
        .select(col("event_id"), col("cents"),
          explode(sequence(lit(0), lit(R - 1))).as("r"))
        .withColumn("w", wPois)
        .groupBy(col("r"))
        .agg(sum(col("w")).as("w_total"),
          sum(col("w") * col("cents")).as("wc_total"))
        .withColumn("est_r",
          round(col("wc_total").cast("double") /
            nullif(col("w_total"), lit(0L)).cast("double"), 9))
      val full = purchases.agg(
        round(sum(col("cents")).cast("double") /
          nullif(count(lit(1)), lit(0L)).cast("double"), 9).as("est_full"))
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val wRank = Window.orderBy(col("est_r"), col("r"))
      reps.crossJoin(full)
        .withColumn("rk", row_number().over(wRank))
        .withColumn("ci_lo", max(when(col("rk") === 2, col("est_r")))
          .over(wAll))
        .withColumn("ci_hi", max(when(col("rk") === R - 1, col("est_r")))
          .over(wAll))
        .select(col("r").cast("long").as("resample"), col("w_total"),
          col("est_r"), col("est_full"), col("ci_lo"), col("ci_hi"))
        .orderBy(col("resample"))
    }),

    // ROC-AUC (Hanley & McNeil 1982; exactly the Mann–Whitney U rank
    // form) of the planted classifier — the model-eval gate every
    // labeling/filter pipeline reads before trusting a scorer. Scale
    // shape is the q_kaplan_meier grid discipline: the corpus
    // collapses to the distinct-SCORE grid (≤1e6 rows by
    // construction, independent of corpus size), U comes from one
    // cumulative window over that grid — never a corpus-sized global
    // rank. 2U = Σ_s pos_s·(2·cumneg_<s + neg_s) handles ties as
    // midranks with INTEGER arithmetic; the only division is the
    // final AUC ratio of exact BIGINTs (round-9).
    "q_auc" -> ((s, d) => {
      val grid = plantedScores(s, d).groupBy(col("score"))
        .agg(sum(col("y")).as("pos"),
          sum(lit(1L) - col("y")).as("neg"))
      val wCum = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      grid
        .withColumn("cumneg", coalesce(sum(col("neg")).over(wCum), lit(0L)))
        .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
          sum(col("pos") * (lit(2L) * col("cumneg") + col("neg"))).as("u2"))
        .select(col("n_pos"), col("n_neg"), col("u2"),
          round(col("u2").cast("double") /
            (lit(2.0d) * nullif(col("n_pos") * col("n_neg"), lit(0L))
              .cast("double")), 9).as("auc"))
    }),

    // Precision/recall/F1 threshold sweep (the operating-point grid a
    // curation pipeline picks its cut from, same decision shape as
    // q_dedup_threshold_curve). Ten fixed thresholds on the integer
    // score axis; TP/FP come from the score grid via a 10-row
    // broadcast theta-join, so the sweep costs one corpus agg no
    // matter how many operating points. F1 stays a SINGLE division of
    // exact integers: 2TP/(2TP+FP+FN).
    "q_pr_curve" -> ((s, d) => {
      val grid = plantedScores(s, d).groupBy(col("score"))
        .agg(sum(col("y")).as("pos"), count(lit(1)).as("n"))
      val totals = grid.agg(sum(col("pos")).as("np"))
      val th = s.range(10).select((col("id") * 100000L).as("th"))
      // 10 × |grid| cross join with conditional sums, NOT a th-outer
      // theta-join: an outer join can't build its preserved side, and
      // the grid is bounded by the 1e6-wide score domain — the cross
      // join is a constant factor at any corpus size and keeps every
      // operating point present even when its TP count is zero.
      broadcast(th).crossJoin(grid)
        .groupBy(col("th"))
        .agg(sum(when(col("score") >= col("th"), col("pos"))
          .otherwise(0L)).as("tp"),
          sum(when(col("score") >= col("th"), col("n") - col("pos"))
            .otherwise(0L)).as("fp"))
        .crossJoin(broadcast(totals))
        .select(col("th"), col("tp"), col("fp"),
          (col("np") - col("tp")).as("fn"),
          round(col("tp").cast("double") /
            nullif(col("tp") + col("fp"), lit(0L)).cast("double"), 9)
            .as("precision"),
          round(col("tp").cast("double") /
            nullif(col("np"), lit(0L)).cast("double"), 9).as("recall"),
          round((lit(2L) * col("tp")).cast("double") /
            nullif(lit(2L) * col("tp") + col("fp") + col("np") - col("tp"),
              lit(0L)).cast("double"), 9).as("f1"))
        .orderBy(col("th"))
    }),

    // Reliability diagram + ECE (Naeini et al. 2015's binned form) —
    // is the scorer's confidence honest? Ten fixed-width bins on the
    // integer score axis; per bin, confidence−accuracy reduces to ONE
    // exact division, |sum_score − n_pos·1e6| / (n·1e6), because both
    // terms share the n·1e6 denominator — no float subtraction of two
    // separately-rounded ratios (the cross-engine drift channel). The
    // ECE contribution reuses the same integer numerator over the
    // corpus denominator; the headline ECE is the exact DECIMAL sum
    // of the per-bin terms, broadcast back onto every row
    // (q_ann_recall's macro_recall shape).
    "q_calibration" -> ((s, d) => {
      val binned = plantedScores(s, d)
        .withColumn("bin", floor(col("score") / lit(100000.0d)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("score")).as("sum_score"))
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      binned
        .withColumn("n_total", sum(col("n")).over(wAll))
        .withColumn("gap_num",
          abs(col("sum_score") - col("n_pos") * lit(1000000L)))
        .select(col("bin"), col("n"), col("n_pos"), col("sum_score"),
          round(col("sum_score").cast("double") /
            (col("n") * lit(1000000L)).cast("double"), 9).as("confidence"),
          round(col("n_pos").cast("double") /
            col("n").cast("double"), 9).as("accuracy"),
          round(col("gap_num").cast("double") /
            (col("n") * lit(1000000L)).cast("double"), 9).as("gap"),
          round(col("gap_num").cast("double") /
            (col("n_total") * lit(1000000L)).cast("double"), 9)
            .cast(DecimalType(15, 9)).as("ece_dec"))
        .withColumn("ece", sum(col("ece_dec")).over(
          Window.orderBy(lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
          .cast("double"))
        // emit doubles, not DECIMALs: the driver's hash is dtype- (and
        // decimal-scale-) sensitive; the DECIMAL lives only inside the
        // exact window sum
        .withColumn("ece_term", col("ece_dec").cast("double"))
        .drop("ece_dec")
        .orderBy(col("bin"))
    }),

    // Two-sample Kolmogorov–Smirnov statistic between the positive
    // and negative score distributions — the nonparametric "are these
    // two cohorts drawn alike" drift test next to q_psi_drift's
    // binned form. D = max|F⁺−F⁻| evaluated on the score grid with a
    // COMMON-DENOMINATOR integer numerator: D_num =
    // max|cumpos·n_neg − cumneg·n_pos| (≤ n_pos·n_neg ~ 6e10 at
    // sf0.1 — BIGINT; a 100 TB corpus rescales to DECIMAL(38,0)
    // before this overflows ~3e9 rows/class). The argmax threshold
    // (lowest score on ties) rides along for free.
    "q_ks_test" -> ((s, d) => {
      val grid = plantedScores(s, d).groupBy(col("score"))
        .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      val wCum = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      grid
        .withColumn("cumpos", sum(col("pos")).over(wCum))
        .withColumn("cumneg", sum(col("neg")).over(wCum))
        .withColumn("n_pos", sum(col("pos")).over(wAll))
        .withColumn("n_neg", sum(col("neg")).over(wAll))
        .withColumn("d_num",
          abs(col("cumpos") * col("n_neg") - col("cumneg") * col("n_pos")))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("d_num").desc, col("score"))))
        .filter(col("rk") === 1)
        .select(col("n_pos"), col("n_neg"), col("d_num"),
          col("score").as("ks_score"),
          round(col("d_num").cast("double") /
            nullif(col("n_pos") * col("n_neg"), lit(0L)).cast("double"), 9)
            .as("ks_d"))
    }),

    // Split conformal prediction audit (Vovk et al. 2005; the
    // Papadopoulos split form) — the distribution-free coverage
    // guarantee a labeling pipeline wraps around ANY scorer before
    // trusting its decisions: calibrate a nonconformity quantile q̂ on
    // a held-out split, then measure empirical coverage and average
    // prediction-set size on the rest. Calibration uses an md5 bucket
    // INDEPENDENT of the score's hash bits (chars 17-20 vs 1-13 of
    // the same digest); nonconformity of the true label is integer
    // (1e6−score for y=1, score for y=0); q̂ is the
    // ⌈0.9·(n_cal+1)⌉-th order statistic picked off the
    // count-of-nonconformity grid with the 10·cum ≥ 9·(n_cal+1)
    // integer threshold — the q_auc grid discipline, never a
    // corpus-sized sort. Eval is one broadcast of the 1-row q̂ onto
    // the eval split; both headline ratios are round-9 doubles of
    // exact integer counts. Exchangeability gives coverage ≥ 0.9 in
    // expectation — the spec pins the planted fixture's realization.
    "q_conformal" -> ((s, d) => {
      val sc = plantedScores(s, d).withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 17, 4), 16, 10)
          .cast("long"))
      val cal = sc.filter(col("bucket") < 32768L)
        .withColumn("a", when(col("y") === 1L, lit(1000000L) - col("score"))
          .otherwise(col("score")))
      val wCum = Window.orderBy(col("a"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val g = cal.groupBy(col("a")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wCum))
      val nCal = g.agg(sum(col("cnt")).as("n_cal"))
      val qhat = g.crossJoin(nCal).groupBy(lit(1).as("one"))
        .agg(max(col("n_cal")).as("n_cal"),
          min(when(col("cum") * 10L >= (col("n_cal") + 1L) * 9L, col("a")))
            .as("q_raw"))
        // k > n_cal (tiny calibration split) ⇒ q̂ = ∞: the set is
        // everything, coverage 1 — the honest conformal degenerate
        .select(col("n_cal"),
          coalesce(col("q_raw"), lit(1000000L)).as("q_hat"))
      sc.filter(col("bucket") >= 32768L)
        .crossJoin(broadcast(qhat))
        .groupBy(col("n_cal"), col("q_hat"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when((col("y") === 1L &&
              lit(1000000L) - col("score") <= col("q_hat")) ||
            (col("y") === 0L && col("score") <= col("q_hat")), 1L)
            .otherwise(0L)).as("n_covered"),
          sum(when(lit(1000000L) - col("score") <= col("q_hat"), 1L)
            .otherwise(0L) +
            when(col("score") <= col("q_hat"), 1L).otherwise(0L))
            .as("set_cells"))
        .select(col("n_cal"), col("n_eval"), col("q_hat"),
          lit(0.9d).as("target"),
          round(col("n_covered").cast("double") / col("n_eval"), 9)
            .as("coverage"),
          round(col("set_cells").cast("double") / col("n_eval"), 9)
            .as("avg_set_size"))
    }))

  /** Planted binary classifier over the embeddings corpus — the eval
    * family's shared fixture. The synthetic embeddings carry no label
    * signal (within-label cosine == cross-label cosine, measured r8),
    * so a metric over any REAL scorer is degenerate by construction
    * (AUC ≈ 0.5 — the q_ann_recall lesson, VERDICT r7 item 8). The
    * score is therefore PLANTED: y = (label % 2 = 0), u = the shared
    * md5-key uniform (q_weighted_sample's), score = y·350000 +
    * (u mod 1e6)·65 div 100 — an exact BIGINT in [0, 1e6) whose
    * positive class sits 0.35 above a 0.65-wide uniform, giving every
    * metric a known non-degenerate target (AUC ≈ 0.86, KS ≈ 0.54)
    * while staying a pure function of integers both engines agree on
    * bit-for-bit. Floor-of-double-division is exact here: operands
    * < 2^53 and bin edges are exact multiples, so the quotient can
    * never round across an integer boundary.
    */
  private def plantedScores(s: SparkSession, d: String): DataFrame = {
    val u6 = conv(substring(md5(col("vec_id").cast("string")), 1, 13),
      16, 10).cast("long") % 1000000L
    val y = when(col("label") % 2 === 0, 1L).otherwise(0L)
    Tables(s, d, "embeddings").select(
      col("vec_id"), y.as("y"),
      (y * 350000L +
        floor((u6 * 65L).cast("double") / lit(100.0d)).cast("long"))
        .as("score"))
  }

  /** Per-item majority vote over an (item, label, votes) grid: the
    * winner by (votes desc, label asc), the item's annotation count and
    * the vote margin. Shared by q_label_vote and q_stream_label_vote,
    * whose oracle is q_label_vote's. */
  private[operators] def labelVote(grid: DataFrame): DataFrame =
    grid
      .withColumn("n_ann", sum(col("votes")).over(Window.partitionBy(col("item"))))
      .withColumn("rk", row_number().over(Window.partitionBy(col("item"))
        .orderBy(col("votes").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("item"), col("label").as("winner"), col("votes"),
        col("n_ann"),
        round(col("votes").cast("double") /
          col("n_ann").cast("double"), 6).as("margin"))
      .orderBy(col("item"))

  /** The oracle-side restatement of [[plantedScores]] as a CTE body. */
  private val plantedScoresDuck: String =
    """scored AS (
      |  SELECT vec_id,
      |    CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y,
      |    CASE WHEN label % 2 = 0 THEN 350000 ELSE 0 END +
      |      ((CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 13))
      |          AS BIGINT) % 1000000) * 65) // 100 AS score
      |  FROM embeddings)""".stripMargin

  def oracles: Map[String, String] = Map(

    // the two MM rounds unrolled, scale-12 fixed-point denominators
    // under HUGEINT-capable sums, micro-unit strengths — every
    // division in the identical association as the Spark plan
    "q_bt_strength" ->
      """WITH l1 AS (
        |  SELECT l_orderkey, l_suppkey AS sa, l_extendedprice AS pa
        |  FROM lineitem WHERE l_linenumber = 1),
        |l2 AS (
        |  SELECT l_orderkey, l_suppkey AS sb, l_extendedprice AS pb
        |  FROM lineitem WHERE l_linenumber = 2),
        |m AS (
        |  SELECT sa, sb,
        |    CASE WHEN pa > pb OR (pa = pb AND sa < sb) THEN sa
        |         ELSE sb END AS winner
        |  FROM l1 JOIN l2 USING (l_orderkey) WHERE sa <> sb),
        |wins AS (
        |  SELECT supp, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |    CAST(SUM(CASE WHEN winner = supp THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wins
        |  FROM (SELECT unnest([sa, sb]) AS supp, winner FROM m) t
        |  GROUP BY supp),
        |grid AS (
        |  SELECT least(sa, sb) AS lo, greatest(sa, sb) AS hi,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM m GROUP BY 1, 2),
        |dir AS (
        |  SELECT lo AS i, hi AS j, n FROM grid
        |  UNION ALL SELECT hi, lo, n FROM grid),
        |den1 AS (
        |  SELECT i, SUM(CAST(ROUND(1000000000000.0 * n / (1.0 + 1.0))
        |    AS BIGINT)) AS den
        |  FROM dir GROUP BY i),
        |s1 AS (
        |  SELECT supp, CASE WHEN wins = 0 OR den IS NULL THEN 0
        |    ELSE CAST(ROUND(1000000.0 * wins /
        |      (CAST(den AS DOUBLE) / 1000000000000.0)) AS BIGINT) END
        |    AS s_e6
        |  FROM wins LEFT JOIN den1 ON den1.i = wins.supp),
        |den2 AS (
        |  SELECT dir.i, SUM(CAST(ROUND(1000000000000.0 * dir.n /
        |    (si.s_e6 / 1000000.0 + sj.s_e6 / 1000000.0)) AS BIGINT))
        |    AS den
        |  FROM dir JOIN s1 si ON si.supp = dir.i
        |           JOIN s1 sj ON sj.supp = dir.j
        |  GROUP BY dir.i),
        |s2 AS (
        |  SELECT supp, CASE WHEN wins = 0 OR den IS NULL THEN 0
        |    ELSE CAST(ROUND(1000000.0 * wins /
        |      (CAST(den AS DOUBLE) / 1000000000000.0)) AS BIGINT) END
        |    AS s_e6
        |  FROM wins LEFT JOIN den2 ON den2.i = wins.supp)
        |SELECT CAST(wins.supp AS BIGINT) AS supp, n_matches, wins,
        |  s1.s_e6 AS s1_e6, s2.s_e6 AS s2_e6,
        |  CAST(ROW_NUMBER() OVER (ORDER BY s2.s_e6 DESC, wins.supp)
        |    AS BIGINT) AS rk
        |FROM wins JOIN s1 ON s1.supp = wins.supp
        |          JOIN s2 ON s2.supp = wins.supp
        |ORDER BY rk""".stripMargin,

    "q_auc" ->
      s"""WITH $plantedScoresDuck,
         |grid AS (
         |  SELECT score, SUM(y) AS pos, SUM(1 - y) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT pos, neg,
         |    COALESCE(SUM(neg) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
         |  FROM grid)
         |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  CAST(SUM(neg) AS BIGINT) AS n_neg,
         |  CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS u2,
         |  round(CAST(SUM(pos * (2 * cumneg + neg)) AS DOUBLE) /
         |    (2.0 * CAST(NULLIF(SUM(pos) * SUM(neg), 0) AS DOUBLE)), 9) AS auc
         |FROM cum""".stripMargin,

    "q_pr_curve" ->
      s"""WITH $plantedScoresDuck,
         |grid AS (
         |  SELECT score, SUM(y) AS pos, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM scored GROUP BY score),
         |totals AS (SELECT SUM(pos) AS np FROM grid),
         |th AS (SELECT (x * 100000)::BIGINT AS th FROM range(10) t(x)),
         |conf AS (
         |  SELECT th,
         |    SUM(CASE WHEN score >= th THEN pos ELSE 0 END) AS tp,
         |    SUM(CASE WHEN score >= th THEN n - pos ELSE 0 END) AS fp
         |  FROM th CROSS JOIN grid GROUP BY th)
         |SELECT th, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(np - tp AS BIGINT) AS fn,
         |  round(CAST(tp AS DOUBLE) /
         |    CAST(NULLIF(tp + fp, 0) AS DOUBLE), 9) AS precision,
         |  round(CAST(tp AS DOUBLE) / CAST(NULLIF(np, 0) AS DOUBLE), 9)
         |    AS recall,
         |  round(CAST(2 * tp AS DOUBLE) /
         |    CAST(NULLIF(2 * tp + fp + np - tp, 0) AS DOUBLE), 9) AS f1
         |FROM conf, totals ORDER BY th""".stripMargin,

    "q_calibration" ->
      s"""WITH $plantedScoresDuck,
         |binned AS (
         |  SELECT score // 100000 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(y) AS n_pos, SUM(score) AS sum_score
         |  FROM scored GROUP BY 1),
         |terms AS (
         |  SELECT bin, n, CAST(n_pos AS BIGINT) AS n_pos,
         |    CAST(sum_score AS BIGINT) AS sum_score,
         |    round(CAST(sum_score AS DOUBLE) /
         |      CAST(n * 1000000 AS DOUBLE), 9) AS confidence,
         |    round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 9) AS accuracy,
         |    round(CAST(abs(sum_score - n_pos * 1000000) AS DOUBLE) /
         |      CAST(n * 1000000 AS DOUBLE), 9) AS gap,
         |    CAST(round(CAST(abs(sum_score - n_pos * 1000000) AS DOUBLE) /
         |      CAST(SUM(n) OVER () * 1000000 AS DOUBLE), 9)
         |      AS DECIMAL(15,9)) AS ece_dec
         |  FROM binned)
         |SELECT bin, n, n_pos, sum_score, confidence, accuracy, gap,
         |  CAST(SUM(ece_dec) OVER () AS DOUBLE) AS ece,
         |  CAST(ece_dec AS DOUBLE) AS ece_term
         |FROM terms ORDER BY bin""".stripMargin,

    "q_ks_test" ->
      s"""WITH $plantedScoresDuck,
         |grid AS (
         |  SELECT score, SUM(y) AS pos, SUM(1 - y) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT score,
         |    SUM(pos) OVER (ORDER BY score) AS cumpos,
         |    SUM(neg) OVER (ORDER BY score) AS cumneg,
         |    SUM(pos) OVER () AS n_pos, SUM(neg) OVER () AS n_neg
         |  FROM grid),
         |ranked AS (
         |  SELECT *, abs(cumpos * n_neg - cumneg * n_pos) AS d_num,
         |    ROW_NUMBER() OVER (ORDER BY abs(cumpos * n_neg - cumneg * n_pos)
         |      DESC, score) AS rk
         |  FROM cum)
         |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
         |  CAST(d_num AS BIGINT) AS d_num, score AS ks_score,
         |  round(CAST(d_num AS DOUBLE) /
         |    CAST(NULLIF(n_pos * n_neg, 0) AS DOUBLE), 9) AS ks_d
         |FROM ranked WHERE rk = 1""".stripMargin,

    "q_label_vote" ->
      """WITH ann AS (
        |  SELECT event_id % 500 AS item, event_type AS label FROM events),
        |counts AS (
        |  SELECT item, label, CAST(COUNT(*) AS BIGINT) AS votes
        |  FROM ann GROUP BY item, label),
        |ranked AS (
        |  SELECT item, label, votes,
        |    CAST(SUM(votes) OVER (PARTITION BY item) AS BIGINT) AS n_ann,
        |    ROW_NUMBER() OVER (PARTITION BY item
        |      ORDER BY votes DESC, label) AS rk
        |  FROM counts)
        |SELECT item, label AS winner, votes, n_ann,
        |  round(CAST(votes AS DOUBLE) / CAST(n_ann AS DOUBLE), 6) AS margin
        |FROM ranked WHERE rk = 1 ORDER BY item""".stripMargin,

    // same grid, same pairwise-agreement form with pooled chance
    "q_label_kappa" ->
      """WITH ann AS (
        |  SELECT event_id % 500 AS item, event_type AS label FROM events),
        |grid AS (
        |  SELECT item, label, CAST(COUNT(*) AS BIGINT) AS n_ic
        |  FROM ann GROUP BY item, label),
        |per_item AS (
        |  SELECT item, SUM(n_ic) AS n_i,
        |    SUM(n_ic * (n_ic - 1)) AS agree_i
        |  FROM grid GROUP BY item HAVING SUM(n_ic) >= 2),
        |pbar AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(n_i) AS BIGINT) AS n_annotations,
        |    CAST(SUM(CAST(round(CAST(agree_i AS DOUBLE) /
        |        CAST(n_i * (n_i - 1) AS DOUBLE), 12) AS DECIMAL(24,12)))
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p_bar_raw
        |  FROM per_item),
        |pooled AS (SELECT label, COUNT(*) AS n_c FROM ann GROUP BY label),
        |pe AS (
        |  SELECT CAST(SUM(n_c * n_c) AS DOUBLE) /
        |    (CAST(SUM(n_c) AS DOUBLE) * CAST(SUM(n_c) AS DOUBLE)) AS p_e_raw
        |  FROM pooled)
        |SELECT n_items, n_annotations,
        |  round(p_bar_raw, 9) AS p_bar, round(p_e_raw, 9) AS p_e,
        |  round((p_bar_raw - p_e_raw) / (1.0 - p_e_raw), 9) AS kappa
        |FROM pbar, pe""".stripMargin,
    "q_kaplan_meier" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
        |           > 30 * 60 * 1000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, sid, min(epoch_us(ts)) AS start_us,
        |    max(epoch_us(ts)) AS end_us
        |  FROM (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS sid FROM flagged)
        |  GROUP BY user_id, sid),
        |mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
        |grid AS (
        |  SELECT (end_us - start_us) // 60000000 AS dur_min,
        |    CAST(SUM(CASE WHEN end_us < max_us - 30 * 60 * 1000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN end_us < max_us - 30 * 60 * 1000000
        |      THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM sess, mx GROUP BY 1),
        |risk AS (
        |  SELECT dur_min, d, c,
        |    SUM(d + c) OVER () -
        |      COALESCE(SUM(d + c) OVER (ORDER BY dur_min
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM grid),
        |terms AS (
        |  SELECT *,
        |    CASE WHEN n_risk = d THEN NULL
        |         ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE) /
        |           CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(24,9)) END AS term,
        |    MAX(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
        |      OVER (ORDER BY dur_min) AS dead
        |  FROM risk)
        |SELECT CAST(dur_min AS BIGINT) AS dur_min,
        |  CAST(n_risk AS BIGINT) AS n_risk,
        |  d AS n_events, c AS n_censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE round(exp(CAST(SUM(term) OVER (ORDER BY dur_min)
        |         AS DOUBLE)), 6) END AS survival
        |FROM terms ORDER BY dur_min""".stripMargin,

    "q_power_analysis" ->
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) *
        |             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS DOUBLE) AS sxx
        |  FROM events WHERE event_type = 'purchase'),
        |base AS (
        |  SELECT n, round(sx / nd, 6) AS metric_mean,
        |    round((nd * sxx - sx * sx) / (nd * (nd - 1)), 6) AS metric_var
        |  FROM m),
        |mdes AS (SELECT unnest([CAST(0.01 AS DOUBLE),
        |  CAST(0.02 AS DOUBLE), CAST(0.05 AS DOUBLE)]) AS mde)
        |SELECT mde, n, metric_mean, metric_var,
        |  CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
        |    * metric_var /
        |    (round(metric_mean * mde, 6) * round(metric_mean * mde, 6)))
        |    AS BIGINT) AS n_per_arm
        |FROM base, mdes ORDER BY mde""".stripMargin,

    "q_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |rng AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
        |grid AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN cents ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN us * 2 > lo + hi THEN cents ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM ev, rng GROUP BY user_id),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy
        |  FROM grid)
        |SELECT n_users,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS theta,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS rho2,
        |  round(100.0 * ((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy))), 4)
        |    AS var_reduction_pct
        |FROM m""".stripMargin,

    "q_welch_ttest" ->
      """WITH g AS (
        |  SELECT user_id % 2 AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS sx,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) *
        |        CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sxx
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |ab AS (
        |  SELECT
        |    a.n AS n1, b.n AS n2,
        |    CAST(a.n AS DOUBLE) AS n1d, CAST(b.n AS DOUBLE) AS n2d,
        |    CAST(a.sx AS DOUBLE) AS sx1, CAST(a.sxx AS DOUBLE) AS sxx1,
        |    CAST(b.sx AS DOUBLE) AS sx2, CAST(b.sxx AS DOUBLE) AS sxx2
        |  FROM (SELECT * FROM g WHERE grp = 0) a,
        |       (SELECT * FROM g WHERE grp = 1) b),
        |calc AS (
        |  SELECT n1, n2, sx1 / n1d AS m1, sx2 / n2d AS m2,
        |    (n1d * sxx1 - sx1 * sx1) / (n1d * (n1d - 1)) AS v1,
        |    (n2d * sxx2 - sx2 * sx2) / (n2d * (n2d - 1)) AS v2,
        |    n1d, n2d
        |  FROM ab),
        |fin AS (
        |  SELECT n1, n2, m1, m2,
        |    (m1 - m2) / sqrt(v1 / n1d + v2 / n2d) AS t,
        |    (v1 / n1d + v2 / n2d) * (v1 / n1d + v2 / n2d) /
        |      ((v1 / n1d) * (v1 / n1d) / (n1d - 1) +
        |       (v2 / n2d) * (v2 / n2d) / (n2d - 1)) AS dof
        |  FROM calc)
        |SELECT n1, n2, round(m1, 9) AS mean1, round(m2, 9) AS mean2,
        |  round(t, 9) AS t_stat, round(dof, 6) AS welch_dof,
        |  abs(round(t, 9)) > 1.96 AS significant_z95
        |FROM fin""".stripMargin,

    "q_permutation_test" ->
      """WITH p AS (
        |  SELECT event_id, user_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |obs AS (
        |  SELECT round(
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN cents END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 END) AS DOUBLE) -
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN cents END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 END) AS DOUBLE), 9)
        |    AS obs_diff
        |  FROM p),
        |expl AS (
        |  SELECT event_id, cents, unnest(range(0, 64)) AS pm FROM p),
        |lab AS (
        |  SELECT pm, cents,
        |    CASE WHEN (CAST(CAST(('0x' || substr(md5(
        |      CAST(event_id AS VARCHAR) || '#' || CAST(pm AS VARCHAR)),
        |      1, 13)) AS BIGINT) AS DOUBLE) + 1) / (pow(16, 13) + 1) < 0.5
        |      THEN 1 ELSE 0 END AS ga
        |  FROM expl),
        |perms AS (
        |  SELECT CAST(pm AS BIGINT) AS perm,
        |    CAST(SUM(ga) AS BIGINT) AS na,
        |    round(
        |      CAST(SUM(CASE WHEN ga = 1 THEN cents END) AS DOUBLE) /
        |      CAST(nullif(SUM(ga), 0) AS DOUBLE) -
        |      CAST(SUM(CASE WHEN ga = 0 THEN cents END) AS DOUBLE) /
        |      CAST(nullif(SUM(1 - ga), 0) AS DOUBLE), 9) AS perm_diff
        |  FROM lab GROUP BY pm),
        |flagged AS (
        |  SELECT perm, na, perm_diff,
        |    abs(perm_diff) >= abs(obs_diff) AS exceeds, obs_diff
        |  FROM perms, obs)
        |SELECT perm, na, perm_diff, exceeds, obs_diff,
        |  round((SUM(CASE WHEN exceeds THEN 1 ELSE 0 END) OVER () + 1.0)
        |    / 65.0, 9) AS p_value
        |FROM flagged ORDER BY perm""".stripMargin,

    "q_bootstrap_ci" ->
      """WITH p AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |expl AS (
        |  SELECT event_id, cents, unnest(range(0, 32)) AS r FROM p),
        |weighted AS (
        |  SELECT r, cents,
        |    CASE WHEN u < 0.367879441 THEN 0 WHEN u < 0.735758882 THEN 1
        |         WHEN u < 0.919698603 THEN 2 WHEN u < 0.980966178 THEN 3
        |         WHEN u < 0.996340153 THEN 4 WHEN u < 0.999405815 THEN 5
        |         ELSE 6 END AS w
        |  FROM (SELECT r, cents,
        |      (CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) ||
        |         ':' || CAST(r AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE)
        |       + 1) / (pow(16, 13) + 1) AS u
        |    FROM expl)),
        |reps AS (
        |  SELECT CAST(r AS BIGINT) AS resample,
        |    CAST(SUM(w) AS BIGINT) AS w_total,
        |    round(CAST(SUM(w * cents) AS DOUBLE) /
        |      CAST(NULLIF(SUM(w), 0) AS DOUBLE), 9) AS est_r
        |  FROM weighted GROUP BY r),
        |full_est AS (
        |  SELECT round(CAST(SUM(cents) AS DOUBLE) /
        |    CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 9) AS est_full FROM p),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY est_r, resample) AS rk
        |  FROM reps)
        |SELECT resample, w_total, est_r, est_full,
        |  MAX(CASE WHEN rk = 2 THEN est_r END) OVER () AS ci_lo,
        |  MAX(CASE WHEN rk = 31 THEN est_r END) OVER () AS ci_hi
        |FROM ranked, full_est ORDER BY resample""".stripMargin,

    // same split bits, grid order statistic and set-membership counts
    "q_conformal" ->
      s"""WITH $plantedScoresDuck,
         |sc AS (
         |  SELECT *, CAST(('0x' ||
         |      substr(md5(CAST(vec_id AS VARCHAR)), 17, 4)) AS BIGINT)
         |    AS bucket
         |  FROM scored),
         |cal AS (
         |  SELECT CASE WHEN y = 1 THEN 1000000 - score ELSE score END AS a
         |  FROM sc WHERE bucket < 32768),
         |g AS (
         |  SELECT a, cnt,
         |    CAST(SUM(cnt) OVER (ORDER BY a
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM (SELECT a, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM cal GROUP BY a)),
         |ncal AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_cal FROM g),
         |qhat AS (
         |  SELECT n_cal,
         |    COALESCE(MIN(CASE WHEN 10 * cum >= 9 * (n_cal + 1) THEN a END),
         |      1000000) AS q_hat
         |  FROM g CROSS JOIN ncal GROUP BY n_cal)
         |SELECT n_cal, CAST(COUNT(*) AS BIGINT) AS n_eval, q_hat,
         |  CAST(0.9 AS DOUBLE) AS target,
         |  round(CAST(SUM(CASE WHEN (y = 1 AND 1000000 - score <= q_hat)
         |      OR (y = 0 AND score <= q_hat) THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 9) AS coverage,
         |  round(CAST(SUM(
         |      (CASE WHEN 1000000 - score <= q_hat THEN 1 ELSE 0 END) +
         |      (CASE WHEN score <= q_hat THEN 1 ELSE 0 END)) AS DOUBLE)
         |    / COUNT(*), 9) AS avg_set_size
         |FROM sc CROSS JOIN qhat
         |WHERE bucket >= 32768 GROUP BY n_cal, q_hat""".stripMargin,

    // same per-source sums, same fixed-point t, HUGEINT where Spark
    // holds DECIMAL(38,0) (the established headroom pairing)
    "q_jackknife" ->
      """WITH per AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS si,
        |    CAST(COUNT(*) AS BIGINT) AS ni
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(si) AS BIGINT) AS s,
        |  CAST(SUM(ni) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS g FROM per),
        |t AS (
        |  SELECT s, n, g,
        |    CAST(CAST(round((s - si) * CAST(1000000 AS DOUBLE) / (n - ni))
        |      AS BIGINT) AS HUGEINT) AS t
        |  FROM per, tot),
        |a AS (
        |  SELECT s, n, g, SUM(t) AS st, SUM(t * t) AS st2
        |  FROM t GROUP BY s, n, g),
        |r AS (
        |  SELECT CAST(g AS BIGINT) AS n_groups,
        |    round(CAST(s AS DOUBLE) / n, 9) AS theta_hat,
        |    round(sqrt(CAST((g - 1) * (g * st2 - st * st) AS DOUBLE) /
        |      CAST(g * g AS DOUBLE) / 1e12), 9) AS se_jack
        |  FROM a)
        |SELECT n_groups, theta_hat, se_jack,
        |  round(theta_hat - 1.96 * se_jack, 9) AS ci_lo,
        |  round(theta_hat + 1.96 * se_jack, 9) AS ci_hi
        |FROM r""".stripMargin,

    // same coin, same two-cell exact chi-square
    "q_srm" ->
      """WITH ev AS (
        |  SELECT user_id, user_id % 2 AS arm FROM events),
        |units AS (
        |  SELECT 'users' AS grain,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b
        |  FROM (SELECT DISTINCT user_id, arm FROM ev) GROUP BY 1),
        |exposures AS (
        |  SELECT 'events' AS grain,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b
        |  FROM ev GROUP BY 1)
        |SELECT grain, a, b,
        |  round(CAST((a - b) * (a - b) AS DOUBLE) / NULLIF(a + b, 0), 9)
        |    AS chi2,
        |  round(CAST((a - b) * (a - b) AS DOUBLE) / NULLIF(a + b, 0), 9)
        |    > 3.841459 AS srm_detected
        |FROM (SELECT * FROM units UNION ALL SELECT * FROM exposures)
        |ORDER BY grain""".stripMargin,

    // same midpoint split, same planted post-treated lift
    "q_did" ->
      """WITH ev AS (
        |  SELECT user_id % 2 AS t, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |rng AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
        |yb AS (
        |  SELECT t, post, c + CASE WHEN t = 1 AND post = 1
        |    THEN 3000 ELSE 0 END AS y FROM (
        |    SELECT t, c, CASE WHEN us * 2 > lo + hi THEN 1 ELSE 0 END
        |      AS post
        |    FROM ev CROSS JOIN rng)),
        |cells AS (
        |  SELECT 1 AS one,
        |    CAST(SUM(CASE WHEN t = 1 AND post = 1 THEN y ELSE 0 END)
        |      AS BIGINT) AS s_t1,
        |    CAST(SUM(CASE WHEN t = 1 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t1,
        |    CAST(SUM(CASE WHEN t = 1 AND post = 0 THEN y ELSE 0 END)
        |      AS BIGINT) AS s_t0,
        |    CAST(SUM(CASE WHEN t = 1 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t0,
        |    CAST(SUM(CASE WHEN t = 0 AND post = 1 THEN y ELSE 0 END)
        |      AS BIGINT) AS s_c1,
        |    CAST(SUM(CASE WHEN t = 0 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c1,
        |    CAST(SUM(CASE WHEN t = 0 AND post = 0 THEN y ELSE 0 END)
        |      AS BIGINT) AS s_c0,
        |    CAST(SUM(CASE WHEN t = 0 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c0
        |  FROM yb GROUP BY 1)
        |SELECT n_t1, n_t0, n_c1, n_c0,
        |  round(CAST(s_t1 AS DOUBLE) / n_t1 -
        |    CAST(s_t0 AS DOUBLE) / n_t0, 9) AS treated_delta,
        |  round(CAST(s_c1 AS DOUBLE) / n_c1 -
        |    CAST(s_c0 AS DOUBLE) / n_c0, 9) AS control_delta,
        |  round((CAST(s_t1 AS DOUBLE) / n_t1 -
        |    CAST(s_t0 AS DOUBLE) / n_t0) -
        |    (CAST(s_c1 AS DOUBLE) / n_c1 -
        |      CAST(s_c0 AS DOUBLE) / n_c0), 9) AS did
        |FROM cells
        |WHERE n_t1 > 0 AND n_t0 > 0 AND n_c1 > 0 AND n_c0 > 0"""
        .stripMargin,

    // same planted confounder, same stratified-Hájek algebra
    "q_ipw_ate" ->
      """WITH base AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) AS b,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |yb AS (
        |  SELECT hour, t, c + t * 5000 + hour * 1000 AS y FROM (
        |    SELECT hour, c,
        |      CASE WHEN b < (16 + hour) * 1024 THEN 1 ELSE 0 END AS t
        |    FROM base)),
        |strata AS (
        |  SELECT hour, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(t) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s_t,
        |    CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s_c
        |  FROM yb GROUP BY hour),
        |tm AS (
        |  SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS n_total,
        |    round(CAST(n AS DOUBLE) *
        |      (CAST(s_t AS DOUBLE) / NULLIF(n_t, 0) -
        |        CAST(s_c AS DOUBLE) / NULLIF(n - n_t, 0)) /
        |      CAST(SUM(n) OVER () AS BIGINT), 12) AS ate_term
        |  FROM strata)
        |SELECT hour, n, n_t,
        |  round(CAST(n_t AS DOUBLE) / n, 9) AS p_hat,
        |  round(CAST(s_t AS DOUBLE) / NULLIF(n_t, 0), 9) AS mean_t,
        |  round(CAST(s_c AS DOUBLE) / NULLIF(n - n_t, 0), 9) AS mean_c,
        |  ate_term,
        |  CAST(SUM(CAST(ate_term AS DECIMAL(30,12))) OVER () AS DOUBLE)
        |    AS ate
        |FROM tm ORDER BY hour""".stripMargin)
}
