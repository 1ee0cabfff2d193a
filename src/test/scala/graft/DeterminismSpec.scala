package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The 100-TB property that matters most: results must not depend on
  * partitioning. Money math is exact DECIMAL and similarity math is
  * fixed-order DOUBLE precisely so that a 3-partition laptop run and a
  * 3000-partition cluster run hash identically. Asserted here by
  * executing the same queries under different shuffle partitioning. */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def runWith(parts: String, name: String): Set[Seq[Any]] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try {
      SparkEntry.queries(name)(spark, TestSpark.sf).collect().map(_.toSeq).toSet
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      TestSpark.housekeeping() // queries may persist() shared frames
    }
  }

  // q_dedup_pipeline / q_quality_gate / q_bm25 exercise multi-stage
  // shuffles (hash groups, inverted-index self-join, corpus-stat
  // broadcasts) whose results must also be partitioning-invariant.
  // q_kmeans adds the iterative case (fixed-point VecSum re-estimation
  // collected between rounds — a double-sum there would make the
  // second assignment partitioning-DEPENDENT); q_dsir_sample adds the
  // decimal log-sum scoring path.
  // q_semdedup adds the corpus-count-derived K (the count, and hence
  // the centroid set, must not depend on layout); q_stem_topk the
  // vocab-first stem aggregation (per-word counts re-summed by stem);
  // q_dedup_ngram_jaccard the window-count df cap.
  // r6-continued additions: q_js_divergence (round-at-12 DECIMAL
  // partial sums — a double sum would drift across layouts),
  // q_weighted_sample / q_stratified_sample (the A-ES key is a pure
  // function of doc_id, so the SELECTED SET must be layout-free, not
  // just the scores), q_cc_stars (iterative star contraction — the
  // alternation fixpoint and final labels must not depend on how
  // edges are partitioned), q_interval_union_len (windowed islands
  // under equal-ts ties).
  Seq("q1_agg", "q_inner_enrich", "q_stats_exact", "q_salted_agg",
    "q_dedup_pipeline", "q_quality_gate", "q_bm25", "q_kmeans",
    "q_dsir_sample", "q_semdedup", "q_stem_topk",
    "q_dedup_ngram_jaccard", "q_js_divergence", "q_weighted_sample",
    "q_stratified_sample", "q_cc_stars",
    "q_interval_union_len",
    // r6 fourth leg: q_regression (five exact moment sums feeding
    // double formulas — a float Σxy would make slope layout-dependent),
    // q_decay_score (exact DECIMAL term sum with integer 2^k weights)
    // q_kcore adds the shrink-only iterative case (peel fixpoint must
    // not depend on edge layout)
    // q_chi_square: the χ² total is a DECIMAL sum of round-9 terms;
    // q_incremental_agg: merged partials must equal the rescan under
    // any layout of either partial
    // q_bfs_distance: frontier iteration with a top-k hub seed — both
    // the seed set and every settled distance must be layout-free
    // q_rake_keywords: phrase scores are DECIMAL sums of rounded word
    // rationals — the top-15 set must not depend on layout
    "q_regression", "q_decay_score", "q_kcore",
    "q_chi_square", "q_incremental_agg", "q_bfs_distance",
    "q_rake_keywords",
    // r6 fifth leg: q_sssp (frontier relax-min fixpoint must not
    // depend on edge layout), q_random_walks (the hash-picked steps
    // are a pure function of (node, step) — any layout dependence
    // means the neighbor ordering leaked), q_ewma (exact integer tap
    // sums), q_psi_drift (round-9 DECIMAL PSI), q_zscore_anomaly
    // (exact BIGINT window moments), q_setsim_prefix (the df-ranked
    // prefix must be a pure function of global counts, not of which
    // partition counted them), q_simhash_hamming (first-agreeing-block
    // emission is per-pair arithmetic, no layout term)
    "q_sssp", "q_random_walks", "q_ewma", "q_psi_drift",
    "q_zscore_anomaly", "q_setsim_prefix",
    "q_simhash_hamming",
    // r7: q_fd_discovery / q_benford (grid aggregations of exact
    // counts + round-9/DECIMAL derived stats), q_cusum (closed-form
    // integer windows), q_kaplan_meier (cumulative DECIMAL ln sums —
    // a float running product would drift across layouts),
    // q_bootstrap_ci / q_permutation_test (md5 replicate weights are
    // pure row functions; the ORDER STATISTICS over them must be
    // layout-free), q_hits (fixed-point integer normalize — the
    // pagerank rationale), q_item_cf (cosine ranks over exact counts),
    // q_gini / q_spearman (total-order ranks: any layout dependence
    // means the rank tie-break leaked), q_dp_counts (cell-keyed noise
    // must reproduce exactly), q_heaps_law (checkpoint grid OLS over
    // DECIMAL moment sums), q_ann_recall (nested prefix candidate
    // sets + window ranks)
    "q_fd_discovery", "q_benford", "q_cusum", "q_kaplan_meier",
    "q_bootstrap_ci", "q_permutation_test", "q_hits", "q_item_cf",
    "q_gini", "q_spearman", "q_dp_counts", "q_heaps_law",
    "q_ann_recall",
    // r7 third leg: q_record_linkage (DECIMAL weight sums + blocked
    // joins), q_cuped (DECIMAL(38,0) covariate moments), q_acf
    // (DECIMAL deviation-product sums), q_seasonal_decompose (round-9
    // component emissions + DECIMAL deviation sums),
    // q_seq_patterns / q_markov_eval (window-derived grids with
    // total-order cuts), q_assortativity (exact edge moments),
    // q_erasure_maintenance (group-decrement ≡ rescan under any
    // layout), q_geo_fence / q_freshness (pure integer audits)
    "q_record_linkage", "q_cuped", "q_acf", "q_seasonal_decompose",
    "q_seq_patterns", "q_markov_eval", "q_assortativity",
    "q_erasure_maintenance", "q_geo_fence", "q_freshness",
    // r8: q_dom_extract (per-row DOM parse is a pure row function —
    // any layout term means parser state leaked between rows),
    // q_alert_rows (pure CASE chain), q_source_overlap (the
    // inclusion-exclusion split must agree with itself across layouts
    // — high/low membership comes from global dfs), q_cf_holdout
    // (planted-anchor precision over exact counts), q_dedup_clusters
    // (hybrid propagation/stars must still land on component minima
    // under any layout); q_weighted_sample's new rank emission is
    // already in the first-leg list
    "q_dom_extract", "q_alert_rows",
    "q_source_overlap", "q_cf_holdout", "q_dedup_clusters",
    // r8 second leg: q_token_budget (Σalloc = B needs the remainder
    // rank to be a pure function of global sums), q_hard_negatives
    // (label-inequality probe + round-9 cosine ranks),
    // q_audio_features (per-row byte parse — layout-free by
    // construction, pinned anyway as the binary-modality exemplar)
    "q_token_budget", "q_hard_negatives", "q_audio_features",
    "q_dom_table", "q_lsh_tuning",
    // label aggregation: the vote tiebreak is a total order; kappa's
    // P-bar is a DECIMAL sum of round-12 per-item ratios
    "q_label_vote", "q_label_kappa", "q_shard_plan",
    "q_curation_report", "q_dedup_threshold_curve", "q_ivf_tuning",
    // r9: the eval quartet — AUC's 2U, KS's D_num and the PR sweep are
    // integer sums over the score grid (layout-free by algebra); the
    // calibration ECE is a DECIMAL sum of round-9 per-bin terms, the
    // q_psi_drift precedent. Any partitioning term here means a
    // cumulative window leaked partition order.
    "q_auc", "q_pr_curve", "q_ks_test", "q_calibration",
    // the curation flagship composes three shared kernels plus the
    // md5 mixture/shard tail — every stage is individually
    // layout-free, and the composition joins only on doc_id
    "q_curation_pipeline",
    // r9 second leg: q_percentile_prune (total-order rank + integer
    // cutoff — the kept boundary must not move with layout);
    // q_kcenter_seeds (iterative 1-row argmin picks: any layout term
    // in a round compounds into a different center set)
    "q_percentile_prune", "q_kcenter_seeds",
    // leakage audit: pair kernel + pure split function + total-order
    // partner rank — every term layout-free
    "q_split_leakage",
    // q_embedding_drift: fixed-point per-dim BIGINT sums (order-free)
    // + one round-9 cosine; q_tokenizer_fertility: the learned merges
    // come from corpus-global aggregations and the report is exact
    // integer sums — neither may move with layout
    "q_embedding_drift", "q_tokenizer_fertility",
    // retrieval eval: the BM25 score is the q_bm25 DECIMAL-sum
    // technique; every metric is a broadcast-threshold count over a
    // total-order key — a layout term means a tie broke differently
    "q_retrieval_eval",
    // incremental dedup: verdict precedence is pure, partners come
    // from min/struct-max total orders over round-9 jaccards
    "q_dedup_incremental",
    // zone-map audit: pure integer grids until two final round-9
    // ratios of exact counts
    "q_zonemap_prune",
    // NDCG: DECIMAL sums of round-9 literal-discount terms over a
    // TakeOrdered frame + a histogram-determined ideal — layout-free
    "q_ndcg",
    // containment: two exact-integer divisions over the same capped
    // candidate frame as q_dedup_ngram_jaccard (already pinned) — a
    // layout term means the df-cap window counted partition-locally;
    // knn: round-9 cosine ranks + a (cnt, -label) struct-max vote,
    // both total orders; LPA: three unrolled rounds of count-argmax
    // with the same struct-max total order — any layout dependence
    // means a vote tie broke by arrival order instead of label
    "q_containment_dedup", "q_knn_classify", "q_label_propagation",
    // Good–Turing: every column is an exact BIGINT count over the
    // (source, word) frequency grid or a round-9 ratio of two such
    // counts — a layout term means a count was partition-local
    "q_good_turing",
    // skew audit: exact count-of-counts grids + integer threshold
    // quantile picks — a layout term means a grid cumsum leaked
    "q_skew_audit",
    // conformal: md5 split + integer nonconformity grid + one
    // order-statistic threshold — the quartet's layout-free algebra
    "q_conformal",
    // bursts: zero-filled grid counts + exact BIGINT moments + one
    // sqrt — a layout term means a grid cell double-counted
    "q_burst_detect",
    // temporal split: integer-µs cuts off exact min/max bounds +
    // per-user conditional counts — all total-order-free sums
    "q_temporal_split",
    // IPW: md5 plant + exact stratum moments + round-12 terms summed
    // under DECIMAL — the ECE window discipline
    "q_ipw_ate",
    // negative sampling: the one transcendental is rounded to an
    // integer weight before the cumsum; probes are pure md5 integer
    // functions — layout can only reorder the interval table build,
    // which the (f desc, w) total order forbids
    "q_negative_sampling",
    // UCB: exact arm counts + one round-9 transcendental expression +
    // a (ucb, source) total-order rank
    "q_bandit_ucb",
    // Hill: TakeOrdered count multisets are layout-free; round-12 ln
    // terms summed under DECIMAL — tie rows contribute exactly 0
    "q_tail_index",
    // W1: zero-filled grid CDFs + exact BIGINT gap terms + one final
    // round-9 division — the q_ks_test numerator algebra per source
    "q_wasserstein",
    // cross-corr: exact moment sums over grid equi-joins + a coalesced
    // rank key; MAD: grid threshold medians + an all-integer flag
    "q_cross_corr", "q_mad_anomaly",
    // cardinality audit: exact grid sums and one integer div; DP topk:
    // hash-Gumbel keys DECIMAL'd before the TakeOrdered
    "q_join_card", "q_dp_topk",
    // ring: pure md5 successor picks with a lexicographic struct-min
    // tie-break — assignment is a per-key pure function
    "q_hash_ring",
    // SRM/DiD: exact conditional counts and identically-parenthesized
    // round-9 cell-mean expressions — no order term anywhere
    "q_srm", "q_did",
    // equi-depth: grid-threshold boundary picks + exact bucket sums
    "q_equi_depth_hist",
    // Simpson: exact integer squares, two final divisions
    "q_simpson_diversity",
    // SAX: the burst z (layout-free) through literal breakpoints +
    // an array_sort-pinned word assembly — no collect order leaks
    "q_sax_words",
    // entropy gate: exact char counts, round-12 c·ln c DECIMAL sums
    "q_entropy_gate",
    // r10 incremental ANN admission: index-only sampled centroids are
    // a sorted driver collect (layout-free), assignment/probing is
    // the pinned two-level kernel, neighbor ranks are round-9 cosine
    // + nid total orders — a layout term means a probe tie broke by
    // arrival order
    "q_ann_incremental",
    // r10 second leg: q_phash_hamming (pure integer bit arithmetic
    // over the grouped fingerprint table — a layout term means a
    // block candidate was emitted twice); q_pq_distortion (map-side
    // argmin assignment + round-9→DECIMAL distortion sums + grid
    // windows, the ECE discipline)
    "q_phash_hamming", "q_pq_distortion",
    // r11: 64-bit DCT pHash — exact fixed-point integer DCT + grouped
    // fingerprint frame + pure bit arithmetic; a layout term means a
    // pigeonhole candidate was emitted twice
    "q_phash64_hamming",
    // r11: composed IVF-PQ — reference-object model/codebook, round-9
    // cosines with lowest-cid ties, DECIMAL ADC sums, total-order
    // ranks; the recall curve adds only exact L2 round-9 + counts
    "q_ann_ivfpq", "q_ann_ivfpq_recall", "q_ann_ivfpq_residual",
    // r12: scalar-quantization recall sweep — per-dim max scales are
    // exact aggregates, reconstruction is per-element, ranks are
    // total-ordered (round-9 sim DESC, nid); the Lloyd-trained IVF-PQ
    // sweep adds fixed-point re-estimation (order-independent VecSum)
    // and exact-d² assignment with lowest-cid ties at every stage
    "q_sq8_recall", "q_ann_ivfpq_lloyd",
    // r11: cross-modal attribution — exact integer hash pairs + exact
    // gram counts + positive-only scale-0 rounding; cluster formation
    // adds only the layout-free min-label kernel
    "q_crossmodal_dedup", "q_image_dedup_clusters", "q_media_pipeline",
    // r11: Bradley–Terry — exact match/grid counts, scale-12
    // fixed-point MM denominators under DECIMAL(38,0), micro-unit
    // strengths, total-order rank
    "q_bt_strength",
    // r12: NN-Descent — md5-seeded init, md5-capped reverse edges and
    // round-9 top-k updates are all total orders, so the CONVERGED
    // GRAPH (and the beam walk over it) must be layout-free; seq_pack
    // adds the order-dependent prefix-sum spans (a layout term would
    // scramble every sequence boundary downstream of it)
    "q_ann_graph", "q_ann_beam", "q_ann_graph_admission", "q_ann_layered",
    "q_seq_pack",
    // r13: Viterbi unigram trainer — exact integer counts from
    // min-plus folds over round-9 cost constants (no per-step
    // rounding), exact-count prune grid, smoothed single-round ratios
    "q_unigram_lm", "q_unigram_encode",
    // both tokenizer trainers are plain functions of the corpus, so
    // every run here retrains under its own layout: the BPE argmax
    // rounds are corpus-global total orders (count desc, pair), and
    // the bake-off is exact integer sums of both encoders
    "q_bpe_merges", "q_tokenizer_compare",
    // novelty audit: md5 split + distinct gram sets + exact counts —
    // a layout term means a distinct leaked partition-local rows
    "q_ngram_coverage",
    // motifs: grid windows over the layout-free symbol frame + exact
    // counts
    "q_sax_motifs",
    // jackknife: exact integer sums, fixed-point t BEFORE the
    // variance algebra, doubles only at the final sqrt
    "q_jackknife",
    // class balance: the keep set is a pure (md5, id) total-order
    // prefix per label — a layout term means the rank window leaked
    "q_class_balance",
    // schema drift: pure per-row regex cells + exact grid counts +
    // a (n, type) struct-max total order
    "q_schema_drift",
    // lang-id eval: pure per-row classifier + exact confusion counts
    // + single-division metrics
    "q_langid_eval",
    // embedding flagship: every stage is individually layout-free
    // (round-9 cosines, md5 ranks, total-order ties) and the
    // composition joins only on vec_id
    "q_embedding_pipeline",
    // hubness: round-9 cosine ranks + exact occurrence counts +
    // a TakeOrdered total order
    "q_ann_hubness",
    // dim audit: fixed-point moments before the variance algebra —
    // the q_jackknife discipline per coordinate
    "q_dim_audit",
    // incremental BM25: exact-long stat merges + the pinned kernel
    "q_bm25_incremental",
    // image gate: per-row decode verdicts are pure row functions
    "q_image_gate",
    // winnow overlap: codegen fingerprints + exact counts + a scale-0
    // containment integer
    "q_winnow_overlap",
    // hamming curve: nested exact counts off the pinned pair kernel
    "q_hamming_curve")
    .foreach { name =>
    test(s"$name is identical under 3 vs 17 shuffle partitions") {
      assert(runWith("3", name) == runWith("17", name))
    }
  }
}
