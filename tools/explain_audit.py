"""Generate PLANS_AUDIT.md: the actual physical plan plus extracted scale
properties (join strategies, exchanges, pushed filters, read schemas) for
a representative query set.

Run: python tools/explain_audit.py [sf_dir]   (writes PLANS_AUDIT.md)

autoBroadcastJoinThreshold is disabled while planning so the audit shows
the plan the query would get when statistics do NOT bail it out — what
remains broadcast is exactly what the code hinted.
"""

from __future__ import annotations

import re
import sys
import textwrap

sys.path.insert(0, ".")

AUDIT = [
    # name -> why this one is representative
    ("q1_pricing_summary", "scan -> pushed filter -> partial/final agg"),
    ("q5_revenue_by_nation", "star join: broadcast dims around one fact"),
    ("q8_market_share", "8-way join, single fact-fact shuffle"),
    ("q21_blocked_suppliers", "EXISTS/NOT EXISTS decorrelated to semi/anti"),
    ("q2_min_cost_supplier", "correlated MIN as window, no re-scan"),
    ("q18_large_volume_customers", "IN (HAVING subquery) as broadcast semi-join"),
    ("hourly_gap_fill_locf", "generated time grid + LOCF window"),
    ("interval_join_error_windows", "range join bucketized to equi join"),
    ("near_dup_jaccard_pairs", "inverted-index pair expansion, no self-join blowup"),
    ("minhash_lsh_pairs_md5", "LSH banding: bucket-local candidate join"),
    ("sign_lsh_ann_topk_vec0", "ANN bucket filter then local top-k"),
    ("embedding_near_dup_pairs", "banded sign-LSH equi-join, no all-pairs crossJoin"),
    ("packed_sequence_bins", "sharded packing window (no global sort)"),
    ("salted_event_rollup", "two-stage salted aggregation for hot keys"),
    ("asof_event_hourly_rate", "as-of join as union-merge, one shuffle"),
    ("dq_lineitem_battery", "12 DQ rules compiled to ONE aggregation pass"),
    ("tfidf_top_terms", "tf x idf: reuse one explode, broadcast n_docs, ranked top-k"),
    ("funnel_view_click_purchase", "ordered funnel: keyed MIN stages, no per-user sort"),
    ("iqr_outliers_by_priority", "quartile fences broadcast back onto the fact"),
    ("kmeans_assign_seeded", "map-side argmin over constant-folded centroids; k-row exchange"),
    ("semantic_near_dup_pairs", "SemDeDup: zero-shuffle cell assignment, cell-local pairwise"),
    ("bigram_pmi_top20", "support-filter before vocabulary joins; totals broadcast"),
    ("ngram_novelty_by_source", "gram-keyed first-occurrence join, partial/final min"),
    ("quality_classifier_scores", "hashed-weight scorer: one narrow codegen projection"),
    ("incremental_dedup_new_docs", "Bloom-routed anti-join: sketch broadcast, FP sliver verified"),
    ("boilerplate_removal_stats", "line dedup: vocabulary-sized set broadcast onto corpus"),
    ("dup_span_fraction_by_source", "windowed substring dedup: hash windows, broadcast dup set"),
    ("temperature_mixture_rates", "two-pass resample: lang-rate table broadcast, map-side keep"),
    ("quality_budget_selection", "shard-local budget window, no global sort"),
    # round-3 wave 3
    ("nation_trade_pagerank", "iterative PageRank: per-round rank join + groupBy(dst) agg"),
    ("cms_heavy_hitters", "Count-Min: constant-state (i, bucket) agg; broadcast probe join"),
    ("er_blocking_part_pairs", "ER blocking: self equi-join on block key, per-block quadratic only"),
    ("scd2_customer_dim", "SCD2 merge: one business-key shuffle, union of unchanged/closed/new"),
    ("hll_user_overlap_pairs", "HLL set algebra: register table reused, broadcast pair expansion"),
    ("ddsketch_doc_length_quantiles", "DDSketch: one (group,bin) agg; window only over the tiny bin table"),
    ("bigram_lm_perplexity", "Bigram LM: vocab-sized count tables; scoring = two equi-joins, no blowup"),
    ("pit_orders_segment_revenue", "PIT lookup: broadcast dim equi-join + interval filter, no range blowup"),
    ("contrastive_negative_pairs", "Negative sampling: explode k ids, ONE vec_id hash join, no cross join"),
    ("snapshot_diff_report", "Snapshot diff: one full-outer key shuffle, map-side column compare"),
    ("ppjoin_near_dup_pairs", "PPJoin: df-ordered prefix index joins, verify only surviving pairs"),
    ("join_skew_report", "Skew audit: partial/final key counts, TakeOrdered top-10, 6-row output"),
    ("containment_dup_pairs", "Containment: same posting-list expansion as Jaccard, directed scoring"),
    ("embedding_covariance_matrix", "Covariance: Arrow gram partials, KB-sized shuffle, broadcast combine"),
    ("jl_projection_distortion", "JL projection: constant-folded sign matrix, map-side project, one pair join"),
    ("value_outliers_mad", "MAD outliers: two percentile passes, broadcast medians, no division"),
    ("trade_triangle_counts", "Triangles: ordered two-join motif enumeration on checkpointed edge list"),
    ("classifier_calibration_bins", "Calibration: fixed-width prob bins (no ntile/global sort), one rollup"),
    ("hll_daily_cumulative_users", "Cumulative HLL: daily 64B registers max-merged over time, raw data untouched"),
    ("orders_column_profile", "Profiler: ONE scan, every metric, long-form via array-of-structs explode"),
    ("part_pair_lift", "Basket lift: within-order self-join bounded by basket size, TakeOrdered 20"),
    ("event_transition_matrix", "Markov transitions: user-partitioned lead(), |types|^2-bounded counts"),
    ("value_psi_weekly", "PSI: two pruned bin counts, |types|x10 grid join, window-normalized fold"),
    ("decayed_user_activity", "Decay score: map-side exp weight, one sum per user, TakeOrdered 20"),
    ("token_kl_divergence", "KL drift: one token-count shuffle folds both slices, vocab-sized state"),
    ("customer_rfm_segments", "RFM: per-customer agg, 9-quantile broadcast, map-side scoring, 64-cell cube"),
    ("incremental_daily_rollup_merge", "MV merge: two batch partials union-merged, never a raw-history rescan"),
    ("token_heavy_changers", "Heavy changers: one count shuffle, broadcast totals, trunc6-then-TakeOrdered"),
    ("value_winsorized_stats", "Winsorize: one percentile pass broadcast back, map-side clamp, one rollup"),
    ("golden_customer_records", "Survivorship: melt to (entity, attr) long form, keyed top-1 window"),
    ("class_balance_weights", "Balance weights: one count agg + broadcast totals, |classes|-row output"),
    ("join_size_cms_estimate", "Join-size AMS/CMS: two KB-sized sketches, inner product prices the join"),
    ("ewma_hourly_forecast", "EWMA: fixed lag battery per type partition, order-free, no recursion"),
    ("hourly_seasonality_profile", "Seasonality: 24-slot profile broadcast back, one variance pass"),
    ("ab_test_two_proportion", "A/B z-test: md5 bucketing, one per-user agg, scalar fold"),
    ("funnel_conversion_latency", "Conversion latency: keyed MINs + one join, exact percentiles"),
    ("user_value_lorenz_deciles", "Lorenz: percentile boundaries broadcast, map-side bucket, no ntile"),
    ("rolling_7day_active_users", "WAU: daily HLL registers max-merged over the trailing week, exact foil"),
    ("type_cross_correlation", "Cross-corr: hours-sized series tables, 7 lag joins, built-in corr"),
    ("bm25_topk_docs", "BM25: term-filter before tf count, scalar idf/avgdl broadcast, TakeOrdered"),
    ("grouped_fold_assignment", "GroupKFold: md5 of the GROUP, zero shuffles before the fold rollup"),
    ("benford_first_digit_audit", "Benford: map-side digit, 9-row rollup, constant expected freqs"),
    ("mean_shift_changepoints", "Changepoints: three framed windows over hours-sized series, keyed top-3"),
    ("lineitem_quantity_price_skyline", "Skyline: lossless local Pareto per partition, exact anti-join verify"),
    ("customer_hierarchy_depths", "Pointer jumping: log2(n) self-joins flatten the tree, checkpointed rounds"),
    ("hourly_linear_interpolation", "Interpolation: densified grid, two ignore-null windows, exact fixed point"),
    ("quantity_weighted_median_price", "Weighted median: bounded bin cumsum locates the median bin, exact one-bin resolve"),
    ("kaplan_meier_survival", "KM survival: one per-user agg, life table bounded by time span, exact ratios"),
    ("cohort_attrition_waterfall", "Attrition: per-entity flags from keyed aggs, conjunctive sums, stack unpivot"),
    ("filter_agreement_kappa", "Kappa: map-side dual raters, per-lang 2x2 cells, integer-exact chance correction"),
    ("bootstrap_ci_mean", "Poisson bootstrap: map-side 64x weight fan-out into a 64-group partial/final agg"),
    ("training_shard_manifest", "Manifest: md5 shard hash, 64-row commutative-checksum aggregate"),
    ("fd_violation_report", "FD discovery: one keyed countDistinct agg per candidate, 5-row union"),
    ("zipf_law_fit", "Zipf: vocab-bounded rank window, 500-point closed-form OLS per lang"),
    ("column_mutual_information", "MI: one contingency agg, window margins on 25 cells, integer ratios"),
    ("sorted_neighborhood_pairs", "SN-ER: partitioned sort-key window, rank-offset self-join, codegen Jaccard"),
    ("iptw_covariate_balance", "IPTW: broadcast-join flags, map-side score/weights, ONE moment aggregate"),
    ("did_revenue_estimator", "DiD: broadcast dim join, 4-cell aggregate, scalar panel algebra"),
    ("cuped_adjusted_metric", "CUPED: one user-key shuffle folds both periods, single moment aggregate"),
    ("top_visit_paths", "Paths: user-hour window, conditional-MAX path build, TakeOrdered 10"),
    ("levenshtein_match_pairs", "Fuzzy ER: block-key self equi-join, codegen Wagner-Fischer DP filter"),
    ("conformal_prediction_intervals", "Conformal: md5 folds, one-pass fit, per-type order-statistic qhat"),
    ("label_propagation_communities", "Label prop: integer-weight argmax rounds, checkpointed, node-keyed windows"),
    ("neyman_allocation_plan", "Neyman: one moment agg per stratum, window totals, closed-form allocation"),
    ("eb_shrunk_nation_rates", "EB shrinkage: one count agg, scalar moment pass, map-side pseudo-counts"),
    ("chi_square_cell_residuals", "Cell residuals: same contingency agg as omnibus chi2, window margins"),
    ("item_item_cosine_recs", "Item-item CF: customer-key self-join bounded by basket width, degree broadcast"),
    ("revenue_mix_decomposition", "PVM bridge: one (brand, period) agg, conditional-MAX pivot, map-side effects"),
    ("quantile_treatment_effects", "QTE: per-user agg, explicit order statistics per arm, 3-quantile probe"),
    ("k_anonymity_audit", "k-anon/l-div: QI groupBy sizes + keyed distinct join, scalar audit row"),
    ("dp_noisy_counts", "DP release: one count agg, map-side deterministic Laplace inverse-CDF"),
    ("ucb_arm_selection", "UCB1: per-arm sufficient stats, window total, scalar exploration bonus"),
    ("temporal_split_audit", "Temporal split: map-side fence label, per-split agg + overlap semi-join"),
    ("logrank_test_cohorts", "Log-rank: KM life table, hypergeometric O-E terms, erf p-value"),
    ("spatial_grid_neighbor_pairs", "Spatial join: 3x3 cell equi-join, exact int64 distance refine"),
    ("subtree_value_rollup", "Closure doubling: 5 checkpointed self-joins, ancestor-key rollup"),
    # waves 31-34
    ("dbscan_grid_clusters", "DBSCAN: grid candidates, degree cores, 16 stats-reset checkpointed S-V rounds"),
    ("order_price_multiple_ols", "Multiple OLS: decimal(38,0) exact moments, scalar Cramer solve"),
    ("logreg_gd_trajectory", "Logistic GD: per-pass partial/final gradient agg, driver-held 3-vector"),
    ("gbdt_histogram_best_split", "Histogram splits: map-side bins, cumsum over bin table only"),
    ("chi2_token_selection", "Chi2 tokens: distinct postings, vocab-sized count joins, per-class top-5"),
    ("quantile_normalize_doclen", "Quantile norm: integer rank map, broadcast bin-table order statistics"),
    ("loo_target_encoding", "LOO encoding: broadcast category aggregate, map-side exclusion algebra"),
    ("trade_kcore_peeling", "K-core: per-round survivor semi-joins, iter_checkpoint lineage+stats reset"),
    ("phrase_search_positions", "Phrase search: term-filtered postings, (doc, pos+1) adjacency equi-join"),
    ("ipf_mixture_raking", "IPF raking: margin-bounded cell state, alternating broadcast scaling rounds"),
    ("rec_eval_precision_ndcg", "Rec eval: basket-bounded co-occurrence, |brands|x3 broadcast recs, keyed scoring"),
    ("clean_purchase_sequences", "Row pattern: ONE user-partitioned IGNORE NULLS lookback window"),
    # waves 39-55
    ("trade_hits_scores", "HITS: checkpointed edge list, 2 node-keyed join+agg rounds per iter, window-max normalizer"),
    ("isotonic_calibration_bins", "Isotonic PAV: one map-side decile agg, minimax fit on the bounded bin table"),
    ("zorder_layout_audit", "Z-order: integer Morton key, three layout sorts (the audited cost), 2-col zone maps"),
    ("hybrid_search_rrf", "RRF: one term-filtered posting scan feeds both scorers, ranks on the candidate set"),
    ("dunning_g2_collocations", "G2: ONE counted bigram table (checkpointed) feeds cells + both marginals"),
    ("fellegi_sunter_weights", "FS linkage: metadata-sized u-prob aggs, blocked pair join, bounded pattern output"),
    ("trade_link_prediction", "Link prediction: wedge enumeration (degree-bounded), edge anti-join, TakeOrdered"),
    ("page_hinkley_drift", "Page-Hinkley: one (type, hour) rollup, cumulative windows in int64 fixed-point"),
    ("psm_matched_att", "PSM: fixed-point propensity, per-(bucket, arm) rank windows, one pair equi-join"),
    ("delong_auc_ci", "DeLong: distinct-score bin moments (doubled-integer placements), scalar CI"),
    ("shard_rebalance_audit", "HRW audit: map-side argmax array expression, one distinct + bounded aggs"),
    ("kendall_tau_quantity_price", "Kendall tau-b: rows fold to a value-bounded cell grid; |grid|^2 pair join"),
    ("fixed_effect_meta", "Meta-analysis: HUGEINT/decimal study moments, fixed-point pooled sums"),
    ("mann_kendall_trend", "Mann-Kendall: time-span-bounded pair join per type, integer S and variance"),
    ("theil_inequality_decomposition", "Theil T: per-row ln terms in 1e-9 fixed-point, nation-bounded between term"),
    ("token_spectral_centrality", "Spectral: PPMI edges once, 4 checkpoint-free mat-vec rounds, window-max normalizer"),
    ("dedup_capture_recapture", "Capture-recapture: ONE shingle scan feeds both detectors, pair-key overlap join"),
    ("km_greenwood_ci", "Greenwood: KM life table + one more duration-ordered cumulative sum"),
    ("mantel_haenszel_or", "MH/CMH: per-stratum integer 2x2 cells, fixed-point cross-stratum sums"),
    ("ratio_metric_jackknife", "Jackknife: one user rollup, bucket-bounded leave-one-out fold in fixed-point"),
    ("rm3_query_expansion", "RM3: one posting table feeds base scorer, RM1 model, and rescorer"),
    ("newsvendor_stock_levels", "Newsvendor: (brand, day) rollup, per-brand order-statistic pick"),
    ("lp_community_modularity", "Modularity: LP label joins over the edge list, fixed-point community terms"),
    # waves 62-65 (round 4)
    ("ljung_box_autocorr", "Ljung-Box: hours-bounded 6x lag join, integer autocovariance moments"),
    ("winnowing_fingerprint_pairs", "Winnowing: doc-partitioned window-min, df-capped posting join"),
    ("dirichlet_query_likelihood", "Dirichlet QL: posting-bounded candidates, broadcast collection stats"),
    ("kneser_ney_bigram_lm", "Kneser-Ney: vocab-sized model tables, three hash joins to score"),
    ("personalized_pagerank", "PPR: checkpointed edges, restart mass at one seed, node-sized rank state"),
    ("t_closeness_audit", "t-closeness: group-bin grid, integer cross-multiplied EMD walk"),
    ("mmr_diversified_topk", "MMR: constant-20 candidate set, greedy rounds never touch the corpus"),
    ("cusum_control_chart", "CUSUM: prefix-extremum identity, integer walk, two windows"),
    ("pca_top_component", "PCA: gram partials once, dim^2 matrix-squaring rounds (single-task state)"),
    ("event_markov_stationary", "Markov stationary: one lead() pass, |types|^2 squaring rounds"),
    ("two_segment_trend_break", "Chow scan: O(1)-per-candidate prefix sums, closed-form x-moments"),
    ("bradley_terry_trade_strength", "Bradley-Terry: Q7 edge build, |nations|^2 MM rounds in fixed-point"),
    ("fs_em_linkage_params", "FS-EM: blocked pattern counts, EM on <= 8 rows, decimal M-step sums"),
    ("followed_by_support", "Followed-by: per-(user,type) MIN/MAX rollup, bounded pair expansion"),
    # wave 66 (round 4)
    ("fisher_exact_supplier_balance", "Fisher exact: one dim-broadcast fact agg, supplier-bounded lnfact ladder"),
    ("ols_influence_diagnostics", "OLS influence: cents-exact fact rollup, day-grid hat/Cook algebra, TakeOrdered"),
    ("newey_west_trend_se", "Newey-West: one fact agg, 7-lag battery in one day-grid window pass"),
    ("tail_dependence_daily", "Tail dependence: day-grid ranks, integer rank-tail membership"),
    ("weibull_survival_fit", "Weibull fit: one per-user agg, life-table OLS in 1e-9 fixed point"),
    ("nation_closeness_centrality", "APSP: one Q7 edge build, 3 min-plus squarings on |nations|^2 rows"),
    # wave 67 (round 4)
    ("distance_correlation_daily", "dCor: V-statistic identity, closed-form marginals, calendar^2 cross term"),
    ("generalized_esd_outliers", "ESD: five day-grid scans, exact integer moments, argmax tie-broken"),
    ("huber_robust_location", "Huber IRLS: 3 partial/final fact aggs against 5-row broadcast centers"),
    ("bleu_near_dup_pairs", "BLEU-2: trigram-gated candidates (df-capped), pair-keyed clip joins"),
    ("absorbing_markov_visits", "Absorbing chain: one lead() pass, |types|^2 Neumann doublings"),
    # wave 68 (round 4)
    ("columnar_encoding_audit", "Encoding audit: one unpivot pass, per-(col,file) run windows, integer byte math"),
    ("ses_theta_forecast", "Theta: SES closed form as ONE weighted agg per type, integer drift moments"),
    ("adaboost_stumps_trajectory", "AdaBoost: one fact agg to cells, 36-candidate scans on <=280 rows/round"),
    ("burrows_delta_sources", "Burrows Delta: one tokenize pass, (sources x 30) z-grid, pair joins on it"),
    # wave 69 (round 4)
    ("permutation_test_price_status", "Randomization test: 64x replicate projection, one groupBy(b) partial/final"),
    ("ecod_outlier_scores", "ECOD: day-grid tail ranks, integer fixed-point scores, TakeOrdered"),
    ("markov_removal_attribution", "Removal effect: one journey pass, 5 chains x 4 squarings on <=49-row matrices"),
    ("hoeffding_split_confidence", "Hoeffding bound: one fact agg to cells, 36-candidate integer argmin"),
    # wave 70 (round 4)
    ("fisher_price_index_yearly", "Price indices: year-pruned fact agg, part-keyed self-join, scalar fold"),
    ("cox_score_one_step", "Cox score: one per-user agg, suffix cumsums on the duration grid"),
    ("seasonal_decompose_hourly", "Decomposition: hour-grid MA windows, integer detrend numerators"),
    ("atkinson_index_priority", "Atkinson: ONE partial/final fact aggregate, four sums per group"),
    # wave 71 (round 4)
    ("ransac_trend_fit", "RANSAC: 32-line broadcast scored in one day-grid pass, integer inlier test"),
    ("lof_daily_outliers", "LOF: calendar^2 pair stage hash-fanned, integer reachability sums"),
    ("haar_wavelet_energy", "Haar: six halving groupBys from the hour grid, integer coefficients"),
    ("gpd_tail_fit_pwm", "GPD PWM: day-grid rank windows, exact order-stat threshold, scalar fold"),
    # wave 72 (round 4)
    ("near_dup_threshold_sweep", "Sweep: ONE posting expansion, 5x integer re-thresholding of the pair table"),
    ("minhash_estimate_error_audit", "MinHash audit: LSH-candidate-bounded joins, integer agreement counts"),
    ("srm_assignment_check", "SRM: one distinct-users aggregate, two counters, erf p"),
    ("slo_burn_rate_windows", "SLO burn: one horizon-filtered scan, 3 window counters, integer ratios"),
    # wave 73 (round 4)
    ("pinball_loss_forecast_eval", "Pinball: hour-grid lag join, 3x quantile expansion, all-integer loss"),
    ("lexical_diversity_by_source", "Lexical: one tokenize pass, (source, token) agg, 4 spectrum sums"),
    ("effect_size_price_status", "Effect size: ONE pruned-fact moment aggregate, closed forms"),
    ("feature_information_gain", "IG: one fact agg to the (feature, value, label) grid, fixed-point entropy"),
    # wave 74 (round 4)
    ("blocking_recall_audit", "Blocking audit: df-capped truth expansion, 3 key tables, integer recall"),
    ("reciprocal_best_match_pairs", "RBM: posting-bounded candidates, rank-1 windows per direction"),
    ("spiegelhalter_calibration_test", "Spiegelhalter: one corpus projection, three fixed-point sums"),
    # round 5: real image decode + perceptual dedup
    ("image_decode_stats", "Real BMP decode in Arrow-batched mapInPandas; per-image integer sums"),
    ("image_ahash_dedup_pairs", "Perceptual dedup: decode+hash ONCE (checkpointed), canonical-star pairs (linear per group) off one hash shuffle"),
    ("approx_distinct_parts", "Sketch vs exact tolerance band: one grouped agg carries HLL++, exact distinct, and KLL in a single pass"),
    # round 6 wave 75: product quantization
    ("pq_adc_topk_vec0", "PQ ADC: map-side encode vs constant-folded codebook; LUT-lookup scan, zero joins, TakeOrdered top-k"),
    ("ivf_pq_ann_topk_vec0", "IVF-PQ: one scan -> inline cell prune (partition pruning at scale) -> ADC LUT -> TakeOrdered; zero exchanges before top-k"),
    ("sql_api_lateral_topk", "LATERAL LIMIT decorrelated: map-side WindowGroupLimit prunes to top-2/key BEFORE the shuffle, then ranked window + broadcast join"),
    ("ivf_pq_residual_topk_vec0", "Residual IVF-PQ: one scan -> inline cell assign -> residual encode vs constant codebook -> per-cell LUT ADC -> TakeOrdered"),
    ("hamming_rerank_topk_vec0", "Two-stage binary retrieval: Arrow GEMM sketch scan -> Hamming TakeOrdered shortlist -> exact-cosine rerank of 100"),
    # round 7 wave 82: substring-dedup removal
    ("substring_dedup_removal_stats", "Lee et al. removal: one window explode -> df-style dup+owner agg -> per-doc interval-union windows (partitioned by doc_id) -> partial/final source rollup"),
    # round 7 wave 83: BPE encode
    ("bpe_encode_token_stats", "BPE apply: 12 chained literal substring replaces in one whole-stage-codegen projection (zero Python, zero joins) -> partial/final source rollup"),
]

# Every Window.orderBy WITHOUT partitionBy funnels its whole input through
# ONE task — legal only over a BOUNDED table (bin grid, decile table, day
# grid, dim, k-row report). This allowlist declares the bound for every
# such site, keyed by (module-relative path, enclosing function); the
# audit scans the package source and FAILS (exit 1) on any unlisted site,
# so a new data-sized global window cannot land silently. Previously this
# invariant lived only in docstrings (round-3 verdict item 8).
UNPARTITIONED_WINDOWS: dict[tuple[str, str], str] = {
    ("plans/textops.py", "hybrid_search_rrf"): "term-filtered BM25/tfidf candidate set (posting-bounded, <= docs holding query terms; ranks feed RRF)",
    ("plans/textops.py", "bm25_score"): "inner helper of rm3_query_expansion: BM25 candidate set (posting-bounded) ranked for the feedback-depth cut",
    ("plans/stats.py", "bootstrap_ci_mean"): "64-row bootstrap-replicate table (fixed resample count)",
    ("plans/stats.py", "distributed_auc_rank_sum"): "distinct-score table (score-grid-bounded; rank-sum cumsum replaces the global row sort)",
    ("plans/stats.py", "bh_fdr_nation_price"): "25-row nation p-value table (dim-bounded; BH step-up needs the global p order)",
    ("plans/stats.py", "delong_auc_ci"): "distinct-score table (score-grid-bounded placement moments)",
    ("plans/stats.py", "hill_tail_index"): "top-k order-statistic table (TakeOrdered k rows, never the full column)",
    ("plans/stats.py", "exact_gini_coefficient"): "distinct-cents value table (value-grid-bounded; global ranks collapse onto it)",
    ("plans/relational.py", "customer_surrogate_keys"): "deterministic surrogate demo capped by the _SK_MAX_ROWS guard (raises past cap; the md5 hash key is the scale path)",
    ("plans/relational.py", "daily_open_orders_curve"): "day grid (sweep-line cumsum over ~2.4k days)",
    ("plans/layout.py", "zone_map_skipping_audit"): "orders laid out for the file-layout AUDIT itself (the sort cost is the measured artifact, layouts compared)",
    ("plans/layout.py", "assign"): "inner helper of zorder_layout_audit: the three audited layout sorts (Morton/col sorts ARE the priced subject)",
    ("plans/layout.py", "compaction_bin_packing"): "manifest table (file-count-bounded, not row-bounded)",
    ("plans/trainprep.py", "quantile_normalize_doclen"): "distinct doc-length value table (value-grid-bounded cumsum)",
    ("plans/contentfilter.py", "isotonic_calibration_bins"): "10-row decile bin table (PAV runs on bins, not rows)",
    ("plans/contentfilter.py", "classifier_gains_table"): "decile bin table (10 rows, descending cumsum)",
    ("plans/events.py", "sprt_daily_decision"): "day grid (cumulative LLR over ~90 days)",
    ("plans/sketches.py", "hll_daily_cumulative_users"): "daily HLL register table (days x 64B registers)",
    ("plans/corpusqc.py", "heaps_law_fit"): "doc-count bin table (log-spaced vocabulary-growth grid)",
    ("clinical/ml.py", "curve_points"): "distinct-score ROC/PR table of the scored cohort (score-grid-bounded cumsum)",
    ("clinical/star.py", "build_dim_subject"): "subject dim (SDTM demo dim, _SK_MAX_ROWS-guarded)",
    ("clinical/star.py", "build_dim_measurement"): "measurement code dim (domain-vocabulary-bounded)",
    # wave 66 (round 4)
    ("plans/stats.py", "fisher_exact_supplier_balance"): "ln-factorial ladder over the supplier-count integer grid (n_suppliers+1 rows)",
    ("plans/stats.py", "ols_influence_diagnostics"): "day grid (calendar-bounded row_number index for the trend regressor)",
    ("plans/stats.py", "newey_west_trend_se"): "day grid (row_number index + the 7-lag score battery, calendar-bounded)",
    ("plans/stats.py", "tail_dependence_daily"): "day grid (two calendar-bounded ranking passes)",
    ("plans/survival.py", "weibull_survival_fit"): "single-cohort KM life table (horizon-bounded distinct durations)",
    # wave 67 (round 4)
    ("plans/stats.py", "distance_correlation_daily"): "day grid (two calendar-bounded sorted-prefix passes for the marginal row sums)",
    ("plans/stats.py", "ecod_outlier_scores"): "day grid (two calendar-bounded tail-rank passes)",
    ("plans/stats.py", "hoeffding_split_confidence"): "36-row candidate error table (literal-grid-bounded argmin ranking)",
    ("plans/survival.py", "cox_score_one_step"): "duration grid (horizon-bounded suffix cumsums for the risk sets)",
    ("plans/stats.py", "ransac_trend_fit"): "day grid (calendar-bounded index/candidate windows)",
    ("plans/stats.py", "lof_daily_outliers"): "day grid (two calendar-bounded rank passes feed the pair stage)",
    ("plans/stats.py", "gpd_tail_fit_pwm"): "day grid (threshold order statistic + exceedance ranks, calendar-bounded)",
}

# Every F.broadcast(x) hint forces a broadcast BUILD of x on every executor
# — legal only when x is bounded independent of data volume (a fixed dim
# like nation/region, a one-row aggregate, a grid/vocabulary/candidate-
# capped table). Data-sized hints OOM at 100 TB even though they pass at
# bench SF — exactly how the broadcast(sizes) hint in the dedup family
# slipped through round 4 while the window audit caught its class of bug
# (r4 verdict items 2-3). This allowlist declares the bound for every
# hint site, keyed by (module-relative path, enclosing function); sites
# whose argument is a groupBy-free .agg() one-row literal are classified
# automatically. The audit FAILS (exit 1) on any other undeclared site.
BROADCAST_BOUNDS: dict[tuple[str, str], str] = {
    ("plans/collocations.py", "token_spectral_centrality"): "PPMI-support-filtered unigram vocabulary (vocab-bounded count table)",
    ("plans/contentfilter.py", "naive_bayes_confusion"): "per-language priors/denominators (|langs| rows)",
    ("plans/contentfilter.py", "chi2_token_selection"): "per-class doc totals (|classes| rows)",
    ("plans/corpusqc.py", "source_topk_token_overlap"): "per-source top-k list sizes (|sources| rows)",
    ("plans/events.py", "hourly_gap_fill_locf"): "generated hour grid (calendar-bounded)",
    ("plans/events.py", "type_cross_correlation"): "hourly series per type (calendar-bounded x/y tables)",
    ("plans/events.py", "session_gap_sensitivity"): "threshold grid (fixed candidate gaps)",
    ("plans/events.py", "ljung_box_autocorr"): "per-type moment totals (|types| rows)",
    ("plans/events.py", "hourly_seasonality_profile"): "24-slot hour-of-day profile per type",
    ("plans/events.py", "dft24_hourly_spectrum"): "24-row DFT twiddle table",
    ("plans/events.py", "cusum_control_chart"): "per-type moment totals (|types| rows)",
    ("plans/events.py", "pinball_loss_forecast_eval"): "3-row quantile-level grid",
    ("plans/graphops.py", "_trade_edges"): "nation dim (25 rows; node set of every trade-graph query)",
    ("plans/graphops.py", "trade_link_prediction"): "node degrees + edge key set (<=25 nodes / <=625 edges)",
    ("plans/graphops.py", "trade_degree_assortativity"): "node degrees (<=25 rows)",
    ("plans/graphops.py", "lp_community_modularity"): "node label table (<=25 rows)",
    ("plans/layout.py", "audit"): "file-manifest sizes (file-count-bounded)",
    ("plans/relational.py", "region_overview_rollup"): "nation (25) + region (5) dims",
    ("plans/relational.py", "q5_revenue_by_nation"): "nation (25) + filtered region (<=5) dims",
    ("plans/relational.py", "q7_volume_shipping"): "nation dim both sides (25 rows each)",
    ("plans/relational.py", "q10_returned_items"): "nation dim (25 rows)",
    ("plans/relational.py", "item_item_cosine_recs"): "per-brand degrees (|brands|=25 rows)",
    ("plans/relational.py", "quantity_weighted_median_price"): "one median bin per group (|groups| rows)",
    ("plans/relational.py", "rec_eval_precision_ndcg"): "per-brand degrees + |brands|x3 rec list",
    ("plans/relational.py", "iqr_outliers_by_priority"): "per-priority quartile fences (|priorities| rows)",
    ("plans/sketches.py", "hll_daily_cumulative_users"): "daily HLL register table (days x 64B) + day counts",
    ("plans/sketches.py", "join_size_cms_estimate"): "KB-sized CMS/AMS sketch rows",
    ("plans/sketches.py", "hll_user_overlap_pairs"): "type-pair grid (|types|^2 rows)",
    ("plans/sketches.py", "rolling_7day_active_users"): "daily HLL registers (days x 64B) + calendar day grid (the data-sized du side is NOT hinted)",
    ("plans/sketches.py", "cms_heavy_hitters"): "CMS sketch (d x w counters, KB)",
    ("plans/stats.py", "hhi_market_concentration"): "nation (25) + region (5) dims + one-row total",
    ("plans/stats.py", "fisher_exact_supplier_balance"): "nation/region dims + 2x2 cell row + supplier-count lnfact ladder",
    ("plans/stats.py", "value_outliers_mad"): "per-type median + MAD rows (|types| rows)",
    ("plans/stats.py", "kendall_tau_quantity_price"): "per-side tie-count scalars (value-grid-bounded)",
    ("plans/stats.py", "value_psi_weekly"): "per-(type,bin) counts on the |types|x10 grid",
    ("plans/stats.py", "value_winsorized_stats"): "per-type percentile fences (|types| rows)",
    ("plans/stats.py", "column_mutual_information"): "marginal entropies over the 5x5 contingency grid",
    ("plans/stats.py", "conformal_prediction_intervals"): "per-type fit coefficients + order-statistic qhat (|types| rows)",
    ("plans/stats.py", "eb_shrunk_nation_rates"): "pooled moment row (scalar)",
    ("plans/stats.py", "power_sample_size_plan"): "MDE grid (fixed candidate effect sizes)",
    ("plans/stats.py", "_frac_ranks2_from_counts"): "per-group rank offsets (value-grid-bounded)",
    ("plans/stats.py", "bh_fdr_nation_price"): "nation dim (25 rows)",
    ("plans/stats.py", "hill_tail_index"): "order-statistic threshold row (scalar)",
    ("plans/stats.py", "wasserstein_value_drift"): "per-slice count scalars",
    ("plans/stats.py", "ols_influence_diagnostics"): "regression fit row (scalar coefficients)",
    ("plans/stats.py", "newey_west_trend_se"): "fit row + lag-weighted variance scalar",
    ("plans/stats.py", "distance_correlation_daily"): "calendar-bounded marginal row sums + scalar normalizers",
    ("plans/stats.py", "hoeffding_split_confidence"): "argmin row over the 36-candidate grid",
    ("plans/stats.py", "ransac_trend_fit"): "32 candidate lines + day-grid sample points + best-fit row",
    ("plans/stats.py", "quantile_treatment_effects"): "per-arm order-statistic quantiles (3 x 2 rows)",
    ("plans/stats.py", "spearman_quantity_price"): "distinct-value rank map (value-grid-bounded)",
    ("plans/stats.py", "fixed_effect_meta"): "pooled-effect scalar row",
    ("plans/stats.py", "runs_test_hourly"): "per-type median row (|types| rows)",
    ("plans/stats.py", "tail_dependence_daily"): "two marginal quantile scalars",
    ("plans/stats.py", "gpd_tail_fit_pwm"): "threshold order-statistic row (scalar)",
    ("plans/stats.py", "huber_robust_location"): "per-priority IRLS state (5 rows, re-broadcast per iteration)",
    ("plans/stats.py", "adaboost_stumps_trajectory"): "picked-stump row per boosting round (1 row)",
    ("plans/stats.py", "lof_daily_outliers"): "day-grid rank table (calendar-bounded pair side)",
    ("plans/streamops.py", "stream_cms_user_counts"): "CMS sketch (d x w counters, KB)",
    ("plans/textops.py", "rm3_query_expansion"): "query-term list + feedback-depth doc set (k rows)",
    ("plans/textops.py", "incremental_dedup_new_docs"): "Bloom filter bitmap rows (m bits / 64 per row, KB)",
    ("plans/textops.py", "near_dup_threshold_sweep"): "threshold grid (5 rows)",
    ("plans/textops.py", "bm25_score"): "collection stats scalar + query-term idf (|q| rows)",
    ("plans/textops.py", "mmr_diversified_topk"): "constant-20 candidate set + its shingle sizes + query idf",
    ("plans/textops.py", "burrows_delta_sources"): "30-word function-word vocabulary",
    ("plans/textops.py", "fellegi_sunter_weights"): "per-field u-probability weights (metadata-sized)",
    ("plans/textops.py", "bm25_topk_docs"): "query-term idf table (|q| rows)",
    ("plans/textops.py", "hybrid_search_rrf"): "query-term idf table (|q| rows)",
    ("plans/textops.py", "dirichlet_query_likelihood"): "query-term collection frequencies (|q| rows)",
    ("plans/tpch_deep.py", "q8_market_share"): "nation x2 + filtered region dims",
    ("plans/tpch_deep.py", "q9_profit_by_nation_year"): "nation dim (25 rows)",
    ("plans/tpch_deep.py", "q20_heavy_shippers"): "3-nation filtered dim",
    ("plans/tpch_deep.py", "q2_min_cost_supplier"): "nation (25) + filtered region (<=5) dims",
    ("plans/tpch_deep.py", "q11_important_parts"): "single-nation filtered dim (1 row)",
    ("plans/trainprep.py", "quantile_normalize_doclen"): "target-distribution bin table (value-grid-bounded)",
    ("plans/trainprep.py", "temperature_mixture_rates"): "per-language keep rates (|langs| rows)",
    ("plans/trainprep.py", "loo_target_encoding"): "per-category aggregate (|categories| rows)",
    ("plans/trainprep.py", "dsir_importance_topk"): "per-language token log-ratio table (vocab-bounded)",
    ("plans/trainprep.py", "ipf_mixture_raking"): "row/column margin tables (margin-bounded, re-broadcast per round)",
    ("plans/validation.py", "t_closeness_audit"): "nation dim (25 rows) + one-row global distribution total",
    ("plans/validation.py", "slo_burn_rate_windows"): "window-spec grid (3 rows)",
    ("plans/vectorops.py", "cosine_topk_vec0"): "single query vector (1 row)",
    ("plans/vectorops.py", "embedding_near_dup_pairs_exhaustive"): "DELIBERATELY UNREGISTERED scale-killer twin (documented at vectorops.py:204); broadcast side is the full vector table by design of the exhaustive verifier",
    ("plans/vectorops.py", "sign_lsh_ann_topk_vec0"): "single query vector (1 row)",
    ("operators/linalg.py", "covariance_long"): "per-dimension column sums (dim-bounded) + one-row n",
    ("operators/similarity.py", "knn_join"): "query side, COUNT-guarded (raises above max_query_rows before broadcasting)",
    ("operators/skew.py", "skyline_2d"): "per-partition Pareto frontier union (frontier-bounded candidate set)",
    ("clinical/analytics.py", "ae_rates_by_arm"): "subject dim (trial-enrollment-bounded)",
    ("clinical/analytics.py", "lab_abnormality_rates"): "subject dim (trial-enrollment-bounded)",
    ("clinical/analytics.py", "vital_trend_summaries"): "subject + measurement-code dims (enrollment/vocabulary-bounded)",
    ("clinical/star.py", "build_fact_adverse_events"): "subject dim (_SK_MAX_ROWS-guarded)",
    ("clinical/star.py", "build_fact_labs"): "subject dim + LAB measurement-code dim (vocabulary-bounded)",
    ("clinical/star.py", "build_fact_vitals"): "subject dim + VITAL measurement-code dim (vocabulary-bounded)",
    ("clinical/star.py", "build_fact_exposure"): "subject dim (_SK_MAX_ROWS-guarded)",
}

# Per-query commentary rendered into PLANS_AUDIT.md (survives regeneration).
# Round-3 regression notes: every bench query >1.3x slower than the prior
# round gets its plan delta explained here.
NOTES = {
    "embedding_near_dup_pairs": (
        "r3 regression note (1.9 s -> ~5 s at sf0.1, deliberate): the "
        "registered plan moved from the O(n^2) all-pairs broadcast "
        "crossJoin to banded sign-LSH candidate generation (equi-join on "
        "(band, bucket), vectors re-attached last). At the demo threshold "
        "tau=0.45 the banding prunes little (arccos(0.45) is barely "
        "tighter than orthogonal) so the per-pair work dominates at this "
        "SF — DuckDB pays the same algorithm 83 s — but the crossJoin it "
        "replaced could never run at corpus scale; at real near-dup "
        "thresholds (tau>=0.8) the same plan prunes >99.9% of pairs. "
        "Plan-shape fix requested by rounds 1 and 2. Late-r3 reshape: the "
        "12 two-bit band buckets now pack into ONE 24-bit long signature, "
        "and multi-band-collision dedup happens in the join FILTER "
        "(keep the pair only in its first colliding band, ~6 integer ops "
        "on the packed signatures) instead of a repartition + "
        "dropDuplicates shuffle over every collision — the audit below "
        "shows the result: 3 broadcast hash joins, zero sort-merge "
        "joins, zero aggregates, and the only full-width exchange left "
        "is the round-robin that parallelizes pair expansion."
    ),
    "knn_join_top5": (
        "r3 regression note (0.74 s -> ~1.05 s, deliberate): knn_join now "
        "counts its query side (one extra tiny job) before broadcasting, "
        "to refuse unbroadcastable query sets instead of silently "
        "cartesian-ing at scale. The +0.3 s is that guard's fixed job "
        "overhead at bench scale."
    ),
}


def props(plan: str) -> dict[str, int]:
    return {
        "BroadcastHashJoin": plan.count("BroadcastHashJoin"),
        "SortMergeJoin": plan.count("SortMergeJoin"),
        "ShuffledHashJoin": plan.count("ShuffledHashJoin"),
        "BroadcastNestedLoopJoin": plan.count("BroadcastNestedLoopJoin"),
        "Exchange": plan.count("Exchange"),
        "HashAggregate": plan.count("HashAggregate"),
        "Window": plan.count("Window"),
        "WholeStageCodegen-span": plan.count("WholeStageCodegen"),
    }


def scan_unpartitioned_windows() -> list[tuple[str, str, int]]:
    """(module-relative path, enclosing def, line) for every
    ``Window.orderBy`` site in the package source (an unpartitioned
    window spec — ``Window.partitionBy(...).orderBy(...)`` does not
    match because the attribute chain starts from partitionBy)."""
    import os

    pkg = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "clinical_data_platform_spark")
    pkg = os.path.normpath(pkg)
    sites = []
    for root, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            src = open(path).readlines()
            for i, ln in enumerate(src, 1):
                if "Window.orderBy" not in ln:
                    continue
                func = "<module>"
                for j in range(i - 1, 0, -1):
                    m = re.match(r"\s*def\s+(\w+)", src[j - 1])
                    if m:
                        func = m.group(1)
                        break
                sites.append((rel, func, i))
    return sites


def unpartitioned_window_report() -> tuple[list[str], list[str]]:
    """(markdown lines, violations). A violation is a Window.orderBy
    site whose (file, function) is not declared in
    UNPARTITIONED_WINDOWS — i.e. a global single-task sort nobody
    bounded in writing."""
    sites = scan_unpartitioned_windows()
    lines = [
        "## Unpartitioned-window audit",
        "",
        "Every `Window.orderBy` WITHOUT `partitionBy` funnels its input",
        "through one task. Each site below is allowlisted with the bounded",
        "table it consumes; `tools/explain_audit.py` exits 1 if a site is",
        "not declared here (so a data-sized global window cannot land",
        "silently).",
        "",
        "| site | enclosing def | declared bound |",
        "|---|---|---|",
    ]
    violations = []
    for rel, func, line in sites:
        bound = UNPARTITIONED_WINDOWS.get((rel, func))
        if bound is None:
            violations.append(f"{rel}:{line} in {func}()")
            bound = "**UNDECLARED — audit failure**"
        lines.append(f"| {rel}:{line} | {func} | {bound} |")
    stale = [
        f"{rel}:{func}"
        for (rel, func) in UNPARTITIONED_WINDOWS
        if not any(r == rel and f == func for r, f, _ in sites)
    ]
    if stale:
        violations.extend(f"stale allowlist entry: {s}" for s in stale)
    lines.append("")
    return lines, violations


def scan_broadcast_sites() -> list[tuple[str, str, int, str | None]]:
    """(module-relative path, enclosing def, line, auto_class) for every
    ``F.broadcast(...)`` call in the package source. auto_class is
    'one-row aggregate' when the argument (inline, or via a same-function
    assignment to its root name) is a groupBy-free ``.agg(...)`` — a
    scalar literal table that is safe to broadcast at any scale."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "clinical_data_platform_spark")
    pkg = os.path.normpath(pkg)
    sites = []
    for root, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            src = open(path).read()
            tree = ast.parse(src)
            funcs = [
                n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]

            def enclosing(node):
                best = None
                for f in funcs:
                    if f.lineno <= node.lineno <= f.end_lineno:
                        if best is None or f.lineno > best.lineno:
                            best = f
                return best

            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                ):
                    continue
                f = enclosing(node)
                fname = f.name if f else "<module>"
                arg = node.args[0] if node.args else None
                seg = ast.get_source_segment(src, arg) or ""
                auto = None
                if ".agg(" in seg and "groupBy" not in seg:
                    auto = "one-row aggregate"
                else:
                    a = arg
                    while isinstance(a, (ast.Call, ast.Attribute)):
                        if isinstance(a, ast.Call) and isinstance(a.func, ast.Attribute):
                            a = a.func.value
                        elif isinstance(a, ast.Attribute):
                            a = a.value
                        else:
                            break
                    if isinstance(a, ast.Name) and f is not None:
                        for sub in ast.walk(f):
                            if isinstance(sub, ast.Assign) and any(
                                isinstance(t, ast.Name) and t.id == a.id
                                for t in sub.targets
                            ):
                                vseg = ast.get_source_segment(src, sub.value) or ""
                                if ".agg(" in vseg and "groupBy" not in vseg:
                                    auto = "one-row aggregate"
                sites.append((rel, fname, node.lineno, auto))
    return sites


def broadcast_hint_report() -> tuple[list[str], list[str]]:
    """(markdown lines, violations). A violation is an F.broadcast site
    that is neither an auto-classified one-row aggregate nor declared
    with a bound in BROADCAST_BOUNDS — i.e. a forced broadcast build
    nobody bounded in writing (the r4 broadcast(sizes) bug class)."""
    sites = scan_broadcast_sites()
    auto = [s for s in sites if s[3]]
    declared = [s for s in sites if not s[3]]
    lines = [
        "## Broadcast-hint audit",
        "",
        "Every `F.broadcast(x)` forces a broadcast build of `x` on every",
        "executor — legal only when `x` is bounded independent of data",
        f"volume. {len(auto)} of {len(sites)} sites auto-classify as",
        "groupBy-free one-row aggregates; every other site below is",
        "allowlisted with its declared bound. `tools/explain_audit.py`",
        "exits 1 on any undeclared site, so a data-sized broadcast hint",
        "(the round-4 `broadcast(sizes)` bug class) cannot land silently.",
        "",
        "| site | enclosing def | declared bound |",
        "|---|---|---|",
    ]
    violations = []
    seen_keys = set()
    for rel, func, line, _ in declared:
        bound = BROADCAST_BOUNDS.get((rel, func))
        seen_keys.add((rel, func))
        if bound is None:
            violations.append(f"{rel}:{line} in {func}()")
            bound = "**UNDECLARED — audit failure**"
        lines.append(f"| {rel}:{line} | {func} | {bound} |")
    stale = [
        f"{rel}:{func}"
        for (rel, func) in BROADCAST_BOUNDS
        if (rel, func) not in seen_keys
    ]
    if stale:
        violations.extend(f"stale broadcast allowlist entry: {s}" for s in stale)
    lines.append("")
    return lines, violations


def pushed_filters(fmt: str) -> list[str]:
    out = []
    for m in re.finditer(r"Location:.*?/(\w+)\.parquet.*?PushedFilters: \[([^\]]*)\]", fmt, re.S):
        table, filters = m.group(1), m.group(2).strip()
        if filters:
            out.append(f"{table}: [{textwrap.shorten(filters, 140)}]")
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as E
    from clinical_data_platform_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    jvm = spark._jvm
    simple = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    formatted = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    qs = E.queries()
    lines = [
        "# Physical-plan audit (auto-generated by tools/explain_audit.py)",
        "",
        f"Plans below were compiled at `{sf_dir}` with "
        "`autoBroadcastJoinThreshold=-1`, so every remaining broadcast is an",
        "explicit hint in the code, and fact-fact joins show the shuffle",
        "strategy they would use at scale (statistics cannot hide it).",
        "",
    ]
    for name, why in AUDIT:
        df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        s, f = qe.explainString(simple), qe.explainString(formatted)
        p = props(s)
        lines += [f"## {name}", "", f"*{why}*", ""]
        if name in NOTES:
            lines += [NOTES[name], ""]
        lines.append(
            "Operators: "
            + ", ".join(f"{k}={v}" for k, v in p.items() if v) + "."
        )
        pf = pushed_filters(f)
        if pf:
            lines.append("")
            lines.append("Pushed filters: " + "; ".join(pf))
        # Truncate per-line: constant-folded literals (e.g. a k x dim
        # centroid matrix) otherwise dump kilobytes into one plan row.
        plan = "\n".join(
            ln if len(ln) <= 300 else ln[:300] + " …<literal truncated>"
            for ln in s.strip()[:6000].splitlines()
        )
        lines += ["", "```", plan, "```", ""]
    wlines, violations = unpartitioned_window_report()
    lines += wlines
    blines, bviolations = broadcast_hint_report()
    lines += blines
    with open("PLANS_AUDIT.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote PLANS_AUDIT.md ({len(AUDIT)} queries)")
    if violations:
        print("UNPARTITIONED-WINDOW AUDIT FAILED:")
        for v in violations:
            print("  " + v)
    if bviolations:
        print("BROADCAST-HINT AUDIT FAILED:")
        for v in bviolations:
            print("  " + v)
    if violations or bviolations:
        sys.exit(1)


if __name__ == "__main__":
    main()
