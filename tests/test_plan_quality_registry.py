"""Registry-wide plan-quality gate: EXPLAIN every lazily-planned query
and reject the two accidental-plan smells that destroy 100 TB runs --
cartesian products and broadcast nested-loop joins -- except where a
query is DOCUMENTED as exactly that (the brute-force ANN baseline).

Queries that execute work at call time (streaming replays, eager LSH
checkpoints, driver-side fits) are excluded here; their plan shapes are
pinned in test_plans_shape.py / their own operator tests instead.
"""

from __future__ import annotations

import pytest

from registry_slice import slice_queries

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import registry

# documented exceptions:
# - ann_cosine_topk / embedding_dup_pairs: the exact brute-force ANN
#   baseline IS a cross join by design (broadcast query set).
# - source_mixture / q11 / q22: scalar-aggregate comparisons -- the BNLJ
#   build side is a 1-ROW aggregate (global mean / threshold), so the
#   "nested loop" degenerates to a map-side constant join: O(n), scale-safe.
ALLOWED_NESTED_LOOP = {
    # r12: KNN-Shapley's distance scan against the CONSTANT 50-point
    # md5-sampled eval broadcast -- O(50 n) by construction, the ann
    # family shape (the eval set does not grow with the corpus)
    "knn_shapley_valuation",
    # 1-row valuation-year / factor-row / severity broadcasts over the
    # bounded run-off triangle (ext199 reserving)
    "chain_ladder_factors",
    # 1-row month-span/moments broadcasts over the dense month spine
    "bass_diffusion_fit",
    # ext266: 1-row budget/water-level broadcasts over the 20-row
    # per-source spine (waterfilling closed form)
    "token_budget_waterfill",
    # exact all-pairs variogram estimator (LOF/ripley brute-force
    # family) -- retained as the documented exact baseline; the
    # REGISTERED scale path is semivariogram_grid (queries_ext212),
    # which covers both the isotropic and directional outputs
    "semivariogram_embedding",
    "semivariogram_anisotropy",
    # 1-row (xbar, mrbar) limit broadcast (ext204 X-mR chart)
    "xmr_individuals_chart",
    # 1-row shard-total broadcast (ext207 HRW balance)
    "rendezvous_shard_balance",
    # 1-row best-rate broadcast (ext210 OEE)
    "oee_daily",
    # 1-row bigram-type-total broadcast over the <=25-row bigram table
    # (ext224 Kneser-Ney)
    "kneser_ney_bigrams",
    # 1-row warm-mean / best-loss / share-total broadcasts over the
    # 5-row expert frame (ext227 Hedge)
    "hedge_expert_weights",
    # constant 6-row degree-cutoff grid broadcast over the bounded
    # nation edge list (ext211)
    "payment_rich_club",
    # 1-row max-day broadcasts bounding the 365-day TA fit windows
    "rsi_wilder_daily",
    "macd_crossover_daily",
    # rank-op range join + 1-row total + 10-row decile summary (ext204)
    "qini_uplift_deciles",
    "chain_ladder_ultimates",
    "bornhuetter_ferguson_reserves",
    # ext214: 1-row sample-size broadcast + 9-row decile-estimate
    # broadcast against the fact scan (map-side conditional counts)
    "quantile_sketch_deciles",
    # ext217: 1-row ybar/tau2 broadcasts over the 25-nation effect
    # frame (two-pass DL moments)
    "meta_analysis_dl",
    # ext219: 1-row pair-stats broadcast onto the post-LIMIT top-10
    "split_transaction_reconstruction",
    # ext221: 5-row class-frame prefix join + 1-row day-count broadcast
    # (EMSR-b cumulative moments)
    "emsr_b_protection",
    # ext221: 5x5 item-popularity pair broadcast (Loevinger H)
    "mokken_loevinger_h",
    # 1-row pair-count marginal broadcasts (ext117 agreement metrics)
    "adjusted_rand_index",
    "fowlkes_mallows",
    # constant 21x21 factorial-grid broadcast + 1-row load broadcast
    "erlang_b_blocking",
    # 1-row window/arrival-total broadcasts (boundary sweep)
    "littles_law_window",
    # 1-row nonzero-day-total broadcast (bounded last-65 fit window)
    "croston_intermittent",
    # 1-row train-corpus (n, v) totals broadcast
    "stupid_backoff_heldout",
    # calendar-bounded daily pair join (|days|^2 constant in SF)
    "hoeffding_d_daily",
    "sample_entropy_daily",
    "qn_scale_daily",
    "matrix_profile_motifs",
    "tail_dependence_daily",
    "distance_correlation_daily",
    # 1-row max-day broadcast (e6 decay-weight grid)
    "ewm_corr_daily",
    # 1-row (cut, base_days) split broadcast
    "activity_shift_ratio",
    # bounded 20-anchor broadcast cross join (ann_cosine baseline family)
    "hard_negative_mining",
    # ext215: 5-anchor broadcast cross join (ann_cosine baseline
    # family) scoring graded NDCG over the corpus
    "ndcg_graded_at_k",
    # ext215: 1-row policy (q*, mean) broadcast onto the day spine
    "newsvendor_critical_fractile",
    # ext215: calendar-bounded |days|^2 pair join (qn/hodges_lehmann
    # precedent) + 1-row order-stat-k broadcasts
    "sn_scale_daily",
    "mean_reciprocal_rank",
    "precision_at_k_labels",
    # bounded 20/50-anchor joins (ext146 representation diagnostics)
    "uniformity_alignment",
    "twonn_intrinsic_dim",
    # 1-row grand-mean / S / pooled-variance broadcasts (shrinkage)
    "james_stein_means",
    # 1-row per-arm trimmed-stat broadcast (2-row cross)
    "yuen_trimmed_t",
    # 1-row corpus-total / 3-row temperature-grid broadcasts
    "mixture_temperature_weights",
    "boilerplate_strip_stats",
    # constant 5-row lambda-grid + 1-row best-LL broadcasts
    "box_cox_scan",
    # 1-row per-arm totals + 3-row quantile-grid broadcasts (ext128)
    "qte_events_variant",
    # 1-row digit-total / order-total broadcasts (ext134 forensic trio)
    "benford_summation_test",
    # constant 20-cell contingency pair join (ext133)
    "somers_d_priority_price",
    # 1-row marginal-total broadcasts (ext133)
    "uncertainty_coefficient",
    # 1-row pooled-rate broadcast (Holm spine)
    "holm_bonferroni_screen",
    # 1-row frequency-grid / totals broadcasts (bounded spine DFT)
    "spectral_entropy_daily",
    # 1-row (7-point profile array) broadcasts into the DP mapInPandas
    "dtw_weekday_profiles",
    # 1-row global-centroid-norm broadcast
    "label_coherence_score",
    # month-block pair joins (|months|^2 constant) + 1-row broadcasts
    "friedman_test",
    "quade_test",
    # operators/rank B-row range join + 1-row day-count broadcast
    "shapiro_francia_daily",
    # calendar-bounded daily pair join + 1-row median broadcasts
    "siegel_repeated_medians",
    # operators/rank B-row range join + 1-row totals/means broadcasts
    # (ext116 rank-based two-sample tests)
    "anderson_darling_2s",
    "brunner_munzel",
    "cucconi_location_scale",
    # r11: constant 64-bucket register spine cross the ~30-day frame
    # (PCSA readout -- 64 x days rows, bucket-count bounded)
    "pcsa_distinct_sketch",
    # r11: 1-row x 1-row moment-gap cross (the h1/h2 aggregate frames)
    "mmd_poly_drift",
    # r11: 1-row vocab-totals broadcast onto the 31-word table (DSIR)
    "dsir_importance_weights",
    # r12: 1-row blocking-totals broadcast onto the <=20-row block table
    "soundex_blocking",
    # r11: 1-row train-threshold broadcast onto the day spine
    "christoffersen_var_backtest",
    # r11: 1-row alpha broadcast onto the distinct-degree spine
    "graph_degree_powerlaw",
    "ann_cosine_topk",
    "embedding_dup_pairs",
    "source_mixture",
    "q11_important_stock",
    "length_drift_ks",
    "bm25_hybrid_search",
    "lm_quality_score",
    "bigram_lm_score",
    "association_rules",
    # broadcast range join against a CONSTANT 10-row percentile edge
    # table -- the intended scale path for binning (no global sort)
    "percentile_bucket_join",
    # 1-row totals broadcast (n_uni/n_big scalars)
    "pmi_collocations",
    # 1-row (slope, intercept) params broadcast onto the holdout
    "forecast_backtest_mape",
    # constant 100-probe broadcast cross join (ann_cosine baseline family)
    "knn_loo_accuracy",
    # 1-row scalar broadcasts (theta / n_parts / n_users / p95)
    "cuped_adjustment",
    "negative_sampling",
    "ltv_curve",
    "expected_shortfall",
    # 1-row median broadcast
    "runs_test_randomness",
    # operators/rank.with_global_rank: broadcast range join against the
    # CONSTANT B-row approx-percentile edge table (+ 1-row total-count
    # broadcast) -- the distributed exact-ntile scale path
    "gini_coefficient",
    "lorenz_curve",
    "quantile_binning",
    "lift_gains_table",
    "pareto_80_20",
    "zipf_powerlaw_fit",
    "rfm_segmentation",
    "roc_auc_score",
    "quartile_mobility_matrix",
    "pareto_frontier",
    "mann_whitney_u",
    "spearman_corr",
    "cramer_von_mises",
    "decision_stump_split",
    "median_ci_orderstat",
    "trimmed_mean",
    "rle_compressibility",
    # constant 10-row threshold-grid broadcast cross join
    "threshold_sweep_confusion",
    # 1-row corpus-totals broadcast onto the per-token table
    "jsd_source_divergence",
    # constant 16-model table + 1-row totals broadcast
    "ransac_trend_fit",
    # 1-row pooled-rate and BH-cutoff broadcasts
    "bh_fdr_screen",
    # constant 30-row calendar-spine broadcast
    "fano_burstiness",
    # 1-row high-water-mark broadcast
    "source_freshness_audit",
    # 1-row global (n, k) proportion broadcast
    "round_amount_bias",
    # 1-row totals broadcasts (ext25)
    "woe_information_value",
    "psi_price_drift",
    "bootstrap_ci_revenue",
    "permutation_entropy",
    # calendar-bounded daily-summary pair join (|days|^2 constant in
    # SF) + 1-row tie-count broadcasts
    "kendall_tau_daily",
    # bounded <=10-row bin-summary minimax joins (PAV closed form)
    "isotonic_calibration",
    # 1-row method-of-moments parameter broadcast
    "eb_shrunk_rates",
    # operators/rank broadcast range join (B-row edge table)
    "nearest_spend_match",
    # 1-row global-mean broadcast
    "item_bias_model",
    # 1-row fit/quantile + max-id broadcasts; constant 4-row look grid
    "conformal_interval",
    "sequential_ab_looks",
    # 1-row eval-total broadcast
    "ece_reliability",
    # 1-row totals / fraction-mu broadcasts
    "cramer_von_mises",
    "learning_curve",
    # 1-row totals / observed-statistic / list-size broadcasts
    "stratified_ate",
    "permutation_sign_test",
    "capture_recapture",
    # 1-row totals / reference order-statistic broadcasts
    "decision_stump_split",
    "hill_tail_index",
    # 1-row rank-bound broadcast
    "median_ci_orderstat",
    # operators/rank broadcast range join + 1-row grand-total broadcast
    "abc_xyz_classes",
    # 1-row (total, count) scalar broadcast
    "theil_index",
    # 1-row true-max scalar broadcast
    "german_tank_estimate",
    # 1-row horizon / group-total broadcasts
    "logrank_test",
    # 1-row margin-product / class-total broadcasts
    "cohens_kappa",
    "youden_j_threshold",
    # 1-row (n, cut) rank-bound broadcast
    "trimmed_mean",
    # 1-row common-part-count / tie-total broadcasts
    "kendalls_w",
    # 1-row source-count broadcast
    "lexical_dispersion",
    # 1-row fit/per-origin-count broadcasts (4 origins)
    "rolling_origin_backtest",
    # 1-row grand-total broadcast
    "share_cascade",
    # 1-row pooled-count / digit-total broadcasts
    "simpsons_paradox_check",
    "last_digit_uniformity",
    # 1-row positive/total broadcasts + constant 3-row budget grid
    "average_precision",
    "review_capacity_capture",
    # 1-row majority-class broadcast
    "mcnemar_test",
    # calendar-bounded daily-summary pair join (|days|^2 constant in
    # SF) + 1-row rank broadcast
    "hodges_lehmann",
    # calendar-bounded daily pair join (|days|^2 constant in SF)
    "mann_kendall_trend",
    # operators/rank B-row range join + 1-row totals broadcast
    "wasserstein_price_gap",
    # 1-row day-count broadcast
    "pettitt_changepoint",
    # 1-row totals / peak broadcasts
    "page_hinkley_drift",
    # 1-row transition-total broadcast
    "markov_entropy_rate",
    # 1-row side-fit broadcast (left x right intercept gap)
    "regression_discontinuity",
    # 1-row observation-total broadcast (risk sets)
    "nelson_aalen_hazard",
    # operators/rank B-row range join + 1-row center-table broadcasts
    # (Lloyd rounds)
    "kmeans_1d_lloyd",
    # 1-row totals broadcast + constant 15-cell contingency pair join
    "goodman_kruskal_gamma",
    # constant 32-probe broadcast pair join (distortion audit sample)
    "jl_projection_distortion",
    # 1-row group-stat broadcasts (3 OLS fits)
    "oaxaca_blinder_gap",
    # 1-row moment + underwater broadcasts
    "sharpe_sortino_daily",
    # constant 21-row factorial grid + 1-row rate broadcast (k < c join)
    "erlang_c_staffing",
    # operators/rank B-row range join (global event order)
    "allan_variance",
    # 1-row totals broadcast (risk sets + horizon)
    "mean_residual_life",
    # 1-row grand-total broadcast (double demeaning)
    "twoway_fe_within",
    # 1-row global-distribution broadcast (EMD cuts)
    "t_closeness_audit",
    # 1-row totals broadcast (prefix scan) / constant 50-row depth grid
    "variance_changepoint_scan",
    "rank_biased_overlap",
    # constant 20-row source-grid broadcast densify join
    "token_trend_slopes",
    # constant 5-row percentile-grid broadcast rank join
    "quantile_treatment_effects",
    # 1-row totals / c0 / day-count broadcasts
    "pacf_daily_revenue",
    # 1-row exact-moment OLS fit broadcast onto the daily series (ext75)
    "durbin_watson",
    "cooks_distance_topk",
    "breusch_pagan",
    # operators/rank broadcast range join + 1-row totals/median broadcasts
    # (ext76 spine-rank tests)
    "kruskal_wallis",
    "moods_median_test",
    "cliffs_delta",
    # 1-row column-totals broadcast (ext77 Cochran's Q)
    "cochrans_q",
    # 1-row cutoff-date / estimation-window / event-date broadcasts +
    # constant 3-row percentile grid (ext78 forecast eval)
    "forecast_eval_suite",
    "pinball_loss_dow",
    "event_study_car",
    # rank-plan range joins + 1-row totals / fof broadcasts (ext79)
    "energy_distance",
    "crps_ensemble",
    "good_turing_counts",
    "ks_two_sample_acctbal",
    # 1-row vocab-size / central-moment broadcasts (ext81)
    "naive_bayes_langid",
    "mahalanobis_outliers_2d",
    # per-round 1-row moment broadcasts / 1-row group-stat + margins
    # cross joins (ext82)
    "gesd_outliers",
    "hotelling_t2",
    "weighted_kappa_ordinal",
    # 1-row totals / group-term broadcasts (ext83 variance + JT tests)
    "brown_forsythe",
    "jonckheere_terpstra",
    # 1-row totals broadcast + constant 5-row group-pair join (ext84)
    "weibull_median_rank_fit",
    "tukey_hsd_contrasts",
    # 1-row totals / user-count broadcasts (ext85)
    "ansari_bradley",
    "sequence_support_pairs",
    "sequence_support_triples",
    # 5-row group-pair join + 1-row tie-totals broadcast (ext86)
    "dunn_posthoc_pairs",
    # 1-row year-total / rank-cut / arm-stat broadcasts (ext87)
    "tornqvist_price_index",
    "palma_ratio",
    "srm_delta_ratio",
    # 1-row common-OR broadcast (ext88)
    "breslow_day_test",
    # 1-row median/MAD/grand-total broadcasts (ext89)
    "biweight_midvariance",
    "theil_decomposition",
    # 1-row baseline-limit / bias-limit broadcasts (ext90)
    "western_electric_alarms",
    "bland_altman_limits",
    # 1-row arm-stat / crossing / rank-cut broadcasts (ext91)
    "tost_equivalence",
    "sprt_replay",
    "concentration_curve_crk",
    # 1-row totals / cutoff broadcasts (ext92 model-eval trio)
    "auc_delong_ci",
    "brier_decomposition",
    "hosmer_lemeshow",
    # constant 8-row offset grid + 1-row moment broadcasts (ext93 spatial)
    "morans_i",
    "gearys_c",
    "getis_ord_hotspots",
    # constant 15-row lag grid + 1-row fit broadcasts (ext94 econometrics)
    "ccf_lead_lag",
    "engle_granger_adf",
    # 1-row corpus-total broadcasts (ext95 corpus linguistics)
    "keyness_loglik",
    "entropy_rate_ladder",
    "tscore_collocations",
    # 1-row threshold / severity-moment broadcasts (ext96 actuarial)
    "gpd_pot_fit",
    "compound_poisson_aggregate",
    # constant 5-year grid / 1-row inspection-date + moment broadcasts
    # (ext97 renewal-Markov)
    "absorbing_chain_lifetime",
    "inspection_paradox",
    "error_interarrival_stats",
    # 1-row totals + constant grids (100 PPS points / 5-day readout)
    # (ext98 sampling + competing risks)
    "neyman_allocation",
    "competing_risks_cif",
    "monetary_unit_sampling",
    # constant 6-row lag grid / 9-row cut grid / 1-row edge broadcasts
    # (ext99 HAC + survival split + Lorenz asymmetry)
    "newey_west_slope_se",
    "survival_split_stump",
    "lorenz_asymmetry",
    # 1-row donor/effect/total broadcasts (ext100 causal robustness)
    "synthetic_control_nn",
    "randomization_inference_did",
    # 1-row regime-RSS broadcasts (ext101)
    "chow_test",
    # 1-row fit/meat/replica-total broadcasts (ext102)
    "cluster_robust_se",
    "jackknife_nation_se",
    # 1-row reference-group / national-total broadcasts (ext103)
    "disparate_impact_audit",
    "shift_share_decomposition",
    # 1-row median/totals + constant 9-edge broadcasts (ext104)
    "equalized_odds_gap",
    "optimal_threshold_cost",
    "importance_weight_ess",
    # 1-row median/percentile-total broadcasts (ext105)
    "error_recovery_time",
    "concurrency_time_percentiles",
    # 1-row member/bit-count broadcasts (ext106)
    "bloom_fpr_calibration",
    # 1-row edge-total / median / high-CV broadcasts (ext107)
    "copurchase_modularity",
    "law_of_one_price",
    # constant 24-month grid broadcast (ext108 zero-inflation)
    "zero_inflation_score_test",
    # 1-row threshold / constant 6-pair grid broadcasts (ext109)
    "extremal_index_runs",
    "bowker_symmetry_test",
    # constant 4-quarter / 11-coef grid broadcasts (ext110)
    "cronbach_alpha_quarters",
    "orthogonal_poly_contrasts",
    # 1-row pooled-rate broadcast (ext111 p-chart)
    "p_chart_violations",
    # 1-row totals / constant 3-scale grid broadcasts (ext112)
    "calendar_variance_decomposition",
    "dispersion_scale_sweep",
    # 1-row trace/survival broadcasts (ext113)
    "shorrocks_mobility_index",
    # 1-row series-total / lag-spine / scalar-statistic broadcasts over
    # the daily spine (ext135 whiteness/stationarity diagnostics)
    "ljung_box_q",
    "kpss_stationarity",
    # 1-row marginal-total / disagreement-sum broadcasts (ext138)
    "krippendorff_alpha_returnflag",
    # 1-row distinct-days broadcast against the 5-row type table (ext139)
    "garwood_poisson_ci",
    # 1-row max-day / array / scalar-CV / span broadcasts (ext140)
    "holt_linear_forecast",
    "kingman_gg1_wait",
    "eoq_reorder_policy",
    # ext187 1-row scalar broadcasts: max-day fit windows (kalman,
    # viterbi), event-total service scale (lindley), series mean /
    # max-ordinate totals (fisher g)
    "kalman_local_level",
    "viterbi_regime_decode",
    "lindley_queue_waits",
    "fisher_g_bandlimited",
    # ext188 spatial tier: 1-row moment broadcasts over the bounded
    # cell grid (lisa, join counts); exact all-pairs point-pattern
    # estimators over <=2k points / capped 1k events (ripley, knox --
    # the ann_cosine_topk documented-baseline precedent)
    "local_morans_lisa",
    "join_count_stats",
    "ripley_k_grid",
    "knox_spacetime",
    # ext189 1-row scalar broadcasts (exact-vs-sketch totals, exposure
    # totals, gap-count totals on the rank spine)
    "ams_f2_sketch",
    "exposure_parity_ranking",
    "ttt_exponentiality",
    # ext192: 1-row series-length / 41-row weight-table / candidate
    # broadcasts (welch segments, BK taps, g-chart totals, LAD pairs)
    "welch_coherence_weekly",
    "bk_bandpass_cycle",
    "g_chart_rare_events",
    "lad_median_regression",
    # ext193: bounded-point all-pairs kNN baseline (retained as the
    # documented exact baseline; the REGISTERED scale path is
    # lof_grid_knn in queries_ext212 -- identical scores, grid-local
    # kNN) / 1-row moment broadcasts (gap burstiness)
    "lof_embedding_plane",
    "burstiness_memory_gaps",
    # ext196: 6-row spec x 1-row max-month broadcast
    "staggered_did_att",
    # 1-row moment-frame / percentile broadcasts (ext141)
    "cornish_fisher_var",
    "lilliefors_normality",
    # constant 5x5 design-grid broadcast / 1-row vocab-total broadcast
    "lsh_s_curve_tuning",
    "ngram_coverage_curve",
    # 1-row total / 9-row digit-grid / 1-row MAD broadcasts (ext143)
    "kuiper_time_of_day",
    "benford_mad_conformity",
    # 1-row max-day / fit-array broadcasts onto the 9-row alpha grid
    "ses_alpha_scan",
    # 1-row area-total / plateau / 3-row grid broadcasts (ext145 KM tier)
    "rmst_survival",
    "cure_fraction_km",
    "conditional_survival_curve",
    # 1-row winsorization-cut broadcasts onto the daily frame (ext149)
    "winsorized_corr",
    # constant 25x25 nation pair joins (ext150 social choice)
    "borda_copeland_nations",
    "kendall_distance_rankings",
    # 1-row budget / boundary-item broadcasts (ext151 knapsack)
    "knapsack_budget_selection",
    # rank-op range join (L-moment spine) / 1-row total + best-row
    # broadcasts (ext152)
    "l_moments_acctbal",
    "kadane_best_streak",
    # capped 400-vector exact pair join (documented exact variant)
    "embedding_energy_2sample",
    # 1-row moment/total broadcasts (ext153 PIT)
    "pit_histogram_calibration",
    # 1-row series-total / VaR-line / 50-row grid broadcasts (ext154)
    "almost_stochastic_order",
    "mcleod_li_arch",
    "kupiec_var_backtest",
    # rank-op range joins (x3 RRF legs) / 1-row weight broadcasts (ext155)
    "rrf_quality_fusion",
    "topsis_nation_ranking",
    # constant 29-row age-grid broadcast against the follow-up frame
    "mean_cumulative_function",
    # calendar-bounded left-of-median x right-of-median pair join +
    # 1-row median/fence broadcasts (ext157 medcouple)
    "medcouple_skew_daily",
    # 1-row moment / mu / truncation-lag broadcasts (ext158)
    "sax_symbolic_words",
    "ledoit_wolf_shrinkage",
    "autocorr_ess_daily",
    # 1-row total / scale-pivot broadcasts (ext159 fractal trio)
    "dfa_fluctuation",
    "higuchi_fractal_dim",
    # 1-row total / long-run-variance broadcasts (ext160 DM test)
    "diebold_mariano",
    # bounded anchor x corpus neighbor joins (200/50 anchors) + 1-row
    # corpus-total / 64-row dim-sum broadcasts (ext161)
    "hubness_skewness",
    "lid_mle_anchors",
    "cka_feature_halves",
    # 1-row flag-total / digit-grid broadcasts (ext162 fraud screens)
    "new_beneficiary_burst",
    "benford_second_digit",
    # 1-row half-count broadcast against the daily spine (ext163)
    "cox_stuart_trend",
    # 1-row total / 3-row tau / 1-row peak broadcasts (ext165 spectral)
    "lomb_scargle_power",
    "spectral_flatness",
    "teager_kaiser_energy",
    # 10-row ranked-list / 1-row truth broadcasts (ext166 IR + HT)
    "err_at_k",
    "rbp_at_k",
    "horvitz_thompson_total",
    # 1-row total / raw-diff broadcasts (ext167 causal trio)
    "gformula_standardization",
    # 1-row (a,b) coefficient broadcast for the residual pass (ext169)
    "white_het_test",
    # 1-row total / sigma / coefficient broadcasts (ext170)
    "laney_pchart",
    "crow_amsaa_growth",
    "phillips_perron",
    # 1-row entropy / TTR / fold-state broadcasts (ext171)
    "huffman_code_length",
    "mattr_sliding_ttr",
    # 1-row corpus-total / harmonic / cut broadcasts (ext173)
    "craigs_zeta_markers",
    "fightin_words_logodds",
    "by_fdr_dependent",
    # 1-row total / cut / jackknife broadcasts (ext174)
    "bootstrap_bca_ci",
    # 1-row max-day / array-state broadcasts (ext175 smoothing folds)
    "holt_winters_weekly",
    "damped_trend_forecast",
    "theta_method_forecast",
    # 1-row mixing-total / grid / worst-cell broadcasts (ext176)
    "brand_assortativity_copurchase",
    "benford_first_two_digits",
    # 1-row total / argmax broadcasts (ext177 stability tests)
    "cusumsq_variance_stability",
    # 1-row moment / cut / worst-row broadcasts (ext178)
    "thompson_tau_outlier",
    "chauvenet_criterion",
    "chained_index_drift",
    # 1-row median / MAD broadcasts (ext179 robust suite)
    "robust_location_suite",
    "cpk_percentile_nonnormal",
    "biweight_midcorrelation",
    # 1-row moment broadcasts (ext180)
    "grubbs_test",
    "hoover_index",
    # 1-row summary x argmax-pair broadcasts (ext181 cluster validity)
    "calinski_harabasz",
    "davies_bouldin",
    # 1-row margin/top-k broadcasts (ext182 market structure)
    "balassa_rca",
    "concentration_ratio",
    # 1-row OLS-parameter / rho / quasi-moment broadcasts (ext183)
    "cochrane_orcutt",
    # 1-row k/theta/count/base-month broadcasts (ext184)
    "theta_sketch_intersection",
    "fisher_ideal_index",
    "tracking_signal",
}

# Queries allowed to contain an ORDERED UNPARTITIONED window node
# (`Window.orderBy` with no partitionBy -- a single-partition sort).
# Every entry must justify why its window input is bounded: windows over
# raw fact tables are exactly the 100 TB scale-killer this gate exists
# to block (use operators/rank.with_global_rank instead). Keyed
# name -> justification (input table the window runs over).
ALLOWED_GLOBAL_WINDOW = {
    # r11: three schedule orders over the 25-row nation-job aggregate
    "smiths_rule_wspt": "25-row nation job frame (post-agg)",
    # r11: rn/lead over the ~30-day daily revenue spine
    "christoffersen_var_backtest": "daily revenue series (lag spine)",
    # r11: CCDF prefix over the distinct-degree spine (domain-bounded)
    "graph_degree_powerlaw": "distinct out-degree spine",
    # operators/rank two-level ranking: B-row bucket-count offset table
    # (+ 10-row decile summary for the ntile queries)
    "gini_coefficient": "B-row bucket offsets",
    # ext214: rank window over the post-LIMIT K=1024 sketch sample
    "quantile_sketch_deciles": "post-LIMIT 1024-row KMV sample",
    # ext221: fare rank over the 5-row booking-class frame
    "emsr_b_protection": "5-row class frame",
    "lorenz_curve": "B-row bucket offsets + 10-row decile summary",
    "quantile_binning": "B-row bucket offsets",
    "lift_gains_table": "B-row bucket offsets + 10-row decile summary",
    "qini_uplift_deciles": "B-row bucket offsets + 10-row decile summary",
    "xmr_individuals_chart": "daily revenue series (lag spine)",
    # ext215: lag-7/lag-1 over the daily revenue series
    "mase_smape_backtest": "daily revenue series (lag spine)",
    # ext215: demand rank over the ship-day spine
    "newsvendor_critical_fractile": "ship-day demand rank spine",
    # ext215: day-spine row ids + rank over the n per-day himeds
    "sn_scale_daily": "daily spine ranks (n rows, 2 passes)",
    "bollinger_bands_daily": "daily revenue series (20-row frame)",
    # ext227: lag/prefix spine over the daily revenue series (the
    # e-process is EAGER; Hedge's five forecasters read lag windows)
    "hedge_expert_weights": "daily revenue series (lag spine)",
    "rsi_wilder_daily": "365-day delta series -> 1-row array fold",
    "macd_crossover_daily": "365-day series -> 1-row array fold",
    "pareto_80_20": "B-row bucket offsets",
    "zipf_powerlaw_fit": "B-row bucket offsets",
    "rfm_segmentation": "B-row bucket offsets (x3 quintile ranks)",
    "roc_auc_score": "B-row bucket offsets",
    # calendar-bounded daily/weekly aggregate series (|distinct days|)
    "autocorr_daily_revenue": "daily revenue series",
    # ext187: lag over the <=365-day filtered fit window (structural)
    "viterbi_regime_decode": "365-day fit-window sign series",
    # ext187: row_number over the daily spine (calendar days)
    "fisher_g_bandlimited": "daily revenue series",
    # ext189: row_number over the 25-nation revenue frame (structural)
    "exposure_parity_ranking": "25-row nation ranking",
    # ext189: rank-operator bucket_bits offsets (gap DIV 2^32)
    "ttt_exponentiality": "B-row bucket offsets (bucket_bits=32)",
    # ext192: daily/monthly spines + rank-operator offsets
    "welch_coherence_weekly": "daily revenue series",
    "bk_bandpass_cycle": "daily revenue series",
    "lad_median_regression": "monthly revenue series",
    "g_chart_rare_events": "B-row bucket offsets",
    # ext196: dense_rank over the distinct-month spine
    "staggered_did_att": "monthly panel index",
    "cusum_drift_detection": "daily revenue series",
    "rolling_correlation": "daily series",
    "runs_test_randomness": "daily revenue series",
    "seasonal_decompose": "daily revenue series",
    "max_drawdown": "daily revenue series",
    "changepoint_max_cusum": "daily revenue series",
    "ransac_trend_fit": "daily revenue series + 16-row model scores",
    "bh_fdr_screen": "25-row nation summary",
    "by_fdr_dependent": "25-row nation summary",
    "new_vs_returning": "daily series",
    "stickiness_dau_wau": "daily series",
    "ltv_curve": "weekly cohort series",
    "kaplan_meier_survival": "distinct event-time (day) spine",
    "nelson_aalen_hazard": "distinct event-time (day) spine",
    # distinct-value spines (bounded by the value DOMAIN, not row count)
    "mann_whitney_u": "B-row bucket offsets (with_global_rank spine)",
    "spearman_corr": "B-row bucket offsets (x2 rank-spine legs)",
    "length_drift_ks": "distinct length spine",
    # small-dimension summaries
    "largest_remainder_allocation": "25-row nation seat table",
    "mixture_schedule": "per-(source,step) schedule table",
    "rle_compressibility": "B-row bucket offsets (rank equi-join lag)",
    "bm25_hybrid_search": "20-row post-limit output (rank runs after LIMIT 20)",
    "pareto_frontier": "B-row bucket offsets (with_global_rank prefix max)",
    # bounded post-limit window: TakeOrderedAndProject emits 20 rows,
    # the rank window runs on those 20 only
    "association_rules": "20-row post-limit output (rank runs after LIMIT 20)",
    "weighted_sample_topk": "20-row top-k output",
    "bootstrap_ci_revenue": "daily spine index + 200-row replicate means",
    "permutation_entropy": "daily revenue series",
    "nearest_spend_match": "B-row bucket offsets (x3 rank/prefix legs)",
    "sign_test_weekly": "daily revenue series",
    "conformal_interval": "daily calibration series (order statistic)",
    "cramer_von_mises": "B-row bucket offsets (with_global_rank spine)",
    "permutation_sign_test": "daily revenue series",
    "decision_stump_split": "bucket_bits offsets (cents DIV 2^16: <=1024-row bucket table)",
    "hill_tail_index": "101-row post-limit order statistics",
    "median_ci_orderstat": "B-row bucket offsets (with_global_rank spine)",
    "ndcg_at_k": "10-row post-limit popularity ranking",
    "err_at_k": "10-row post-limit popularity ranking",
    "rbp_at_k": "10-row post-limit popularity ranking",
    "chatterjee_xi": "daily revenue series",
    "abc_xyz_classes": "B-row bucket offsets",
    "haar_wavelet_energy": "256-day bounded series index",
    "logrank_test": "distinct day-gap spine (calendar-bounded)",
    "wilcoxon_signed_rank": "daily series + distinct |diff| spine",
    "quartile_mobility_matrix": "B-row bucket offsets (x2 year legs)",
    "wasserstein_price_gap": "B-row bucket offsets (with_global_rank spine)",
    "pettitt_changepoint": "daily revenue series (x2: value spine + day prefix)",
    "page_hinkley_drift": "daily revenue series",
    "kmeans_1d_lloyd": "B-row bucket offsets (seed order statistics)",
    "pacf_daily_revenue": "daily revenue series (day index)",
    "hurst_exponent_rs": "daily revenue series (day index)",
    "sharpe_sortino_daily": "daily revenue series",
    "allan_variance": "B-row bucket offsets (with_global_rank order)",
    "variance_changepoint_scan": "daily revenue series",
    "rank_biased_overlap": "50-row post-limit rankings (x2 year legs)",
    "mean_residual_life": "distinct event-time (day) spine",
    "youden_j_threshold": "distinct score-value spine",
    "trimmed_mean": "B-row bucket offsets (with_global_rank spine)",
    "turning_point_test": "daily revenue series",
    "goertzel_weekly_power": "daily revenue series",
    "hodges_lehmann": "distinct Walsh-sum spine (bounded pairs)",
    "longest_increase_streak": "daily revenue series",
    "average_precision": "distinct score-value spine",
    "review_capacity_capture": "distinct score-value spine",
    "bernoulli_cusum_monitor": "daily rate series",
    "durbin_watson": "daily revenue series (day index + lag)",
    "cooks_distance_topk": "daily revenue series (day index)",
    "breusch_pagan": "daily revenue series (day index)",
    "kruskal_wallis": "B-row bucket offsets (with_global_rank spine)",
    "moods_median_test": "B-row bucket offsets (with_global_rank spine)",
    "cliffs_delta": "B-row bucket offsets (with_global_rank spine)",
    "forecast_eval_suite": "daily revenue series (lag windows)",
    "event_study_car": "11-row event window CAR",
    "energy_distance": "B-row bucket offsets (with_global_rank spine)",
    "ks_two_sample_acctbal": "B-row bucket offsets (with_global_rank spine)",
    "savgol_spike_days": "daily revenue series (15-tap SG kernel)",
    "weighted_kappa_ordinal": "B-row bucket offsets (with_global_rank quintile)",
    "jonckheere_terpstra": "B-row bucket offsets (with_global_rank spine)",
    "weibull_median_rank_fit": "B-row bucket offsets (with_global_rank spine)",
    "ansari_bradley": "B-row bucket offsets (with_global_rank spine)",
    "dunn_posthoc_pairs": "B-row bucket offsets (with_global_rank spine)",
    "von_neumann_ratio": "daily revenue series (lag window)",
    "palma_ratio": "B-row bucket offsets (with_global_rank prefix)",
    "record_counts_test": "daily revenue series (running max)",
    "biweight_midvariance": "B-row bucket offsets (x2 spine medians)",
    "western_electric_alarms": "daily revenue series (framed run rules)",
    "sprt_replay": "daily summary series (LLR prefix walk)",
    "concentration_curve_crk": "B-row bucket offsets (with_global_rank prefix)",
    "auc_delong_ci": "B-row bucket offsets (with_global_rank spine)",
    "ccf_lead_lag": "daily series (day index)",
    "engle_granger_adf": "daily series (day index + resid lag)",
    "granger_causality_1lag": "daily series (day index)",
    "gpd_pot_fit": "B-row bucket offsets (with_global_rank spine)",
    "error_interarrival_stats": "B-row bucket offsets (with_global_rank order)",
    "competing_risks_cif": "event-day spine (with_global_rank prefix x3)",
    "monetary_unit_sampling": "B-row bucket offsets (with_global_rank prefix)",
    "newey_west_slope_se": "daily series (day index)",
    "survival_split_stump": "B-row bucket offsets (grouped rank plan)",
    "lorenz_asymmetry": "B-row bucket offsets (with_global_rank prefix)",
    "chow_test": "daily series (day index)",
    "ar1_half_life": "daily series (day index)",
    "equalized_odds_gap": "B-row bucket offsets (with_global_rank spine)",
    "optimal_threshold_cost": "B-row bucket offsets (with_global_rank spine)",
    "importance_weight_ess": "B-row bucket offsets (with_global_rank deciles)",
    "error_recovery_time": "B-row bucket offsets (with_global_rank spine)",
    "concurrency_time_percentiles": "boundary-day spine (calendar-bounded)",
    "law_of_one_price": "B-row bucket offsets (with_global_rank CV spine)",
    "mde_accrual_curve": "weekly summary series (calendar-bounded)",
    "extremal_index_runs": "exceedance-day series (calendar-bounded)",
    "bowker_symmetry_test": "B-row bucket offsets (grouped rank plan)",
    "shorrocks_mobility_index": "B-row bucket offsets (grouped rank plan)",
    "anderson_darling_2s": "B-row bucket offsets (with_global_rank spine)",
    "brunner_munzel": "B-row bucket offsets (with_global_rank spine)",
    "cucconi_location_scale": "B-row bucket offsets (with_global_rank spine)",
    "littles_law_window": "boundary-day spine (calendar-bounded sweep)",
    "croston_intermittent": "65-row post-limit fit window",
    "ljung_box_q": "daily revenue series (lag spine + 7-row Q prefix)",
    "variance_ratio_test": "daily revenue series (overlapping-sum frames)",
    "kpss_stationarity": "daily revenue series (partial sums + lag spine)",
    "ulcer_index_daily": "daily revenue series (running peak)",
    "theil_u2_forecast": "daily revenue series (lag windows)",
    "sample_entropy_daily": "daily revenue series (template lead windows)",
    "cornish_fisher_var": "daily revenue value spine (percentile prefix)",
    "lilliefors_normality": "daily revenue value spine (CDF prefix)",
    "ngram_coverage_curve": "B-row bucket offsets (vocab rank spine)",
    "kuiper_time_of_day": "minutes-of-day spine (hard 1440 clock domain)",
    "rmst_survival": "distinct event-time (day) spine",
    "cure_fraction_km": "distinct event-time (day) spine",
    "conditional_survival_curve": "distinct event-time (day) spine",
    "qn_scale_daily": "pairwise |diff| spine (bounded pairs)",
    "winsorized_corr": "daily value spines (x2 winsorization cuts)",
    "borda_copeland_nations": "25-row nation summary (x3 metric ranks)",
    "kendall_distance_rankings": "25-row nation summary (x3 metric ranks)",
    "knapsack_budget_selection": "B-row bucket offsets (ratio rank spine)",
    "l_moments_acctbal": "B-row bucket offsets (acctbal rank spine)",
    "gev_lmoments_fit": "weekly block-maxima value spine (calendar-bounded)",
    "kadane_best_streak": "daily revenue series (prefix + running min)",
    "matrix_profile_motifs": "daily revenue series (7 lead windows)",
    "pit_histogram_calibration": "daily revenue series (moment pass)",
    "mcleod_li_arch": "daily revenue series (lag spine + Q prefix)",
    "rrf_quality_fusion": "B-row bucket offsets (x3 signal rank legs)",
    "mean_cumulative_function": "constant 29-row age grid (MCF prefix)",
    "medcouple_skew_daily": "daily series + pair-kernel value spine",
    "kz_filter_smoothness": "daily revenue series (x3 iterated MA frames)",
    "sax_symbolic_words": "daily revenue series (symbol leads)",
    "autocorr_ess_daily": "daily revenue series (lag spine)",
    "dfa_fluctuation": "daily revenue series (profile prefix sum)",
    "higuchi_fractal_dim": "daily revenue series (lag-pair spine)",
    "bartels_rank_vn": "daily revenue series (rank + lead)",
    "diebold_mariano": "daily revenue series (lag-1/lag-7 errors)",
    "pesaran_timmermann": "daily revenue series (sign lags)",
    "mincer_zarnowitz": "daily revenue series (lag-7 forecast)",
    "cox_stuart_trend": "daily revenue series (half-pairing spine)",
    "siegel_tukey": "daily revenue series (merged rank spine)",
    "mood_scale_test": "daily revenue series (merged rank spine)",
    "wald_wolfowitz_runs2": "daily revenue series (merged rank spine)",
    "lomb_scargle_power": "daily revenue series (projection spine)",
    "spectral_flatness": "daily revenue series (projection spine)",
    "teager_kaiser_energy": "daily revenue series (lag/lead)",
    "johnson_su_quantile_fit": "daily revenue value spine (order stats)",
    "omega_ratio_daily": "daily revenue series (lag)",
    "kelly_fraction_daily": "daily revenue series (lag)",
    "laney_pchart": "30-day daily error-share series (moving range)",
    "phillips_perron": "daily revenue series (DF regression + lag spine)",
    "bootstrap_bca_ci": "200-row replicate spine + daily index spine",
    "mover_stayer_split": "distinct-month spine (calendar-bounded)",
    "cusumsq_variance_stability": "daily revenue series (squared prefix)",
    "runs_up_down_test": "daily revenue series (sign lag)",
    "chained_index_drift": "distinct-month spine (calendar-bounded)",
    "robust_location_suite": "daily revenue value spine (order stats)",
    "cpk_percentile_nonnormal": "daily revenue value spine (order stats)",
    "taguchi_cpm": "daily revenue value spine (order stats)",
    "henderson_trend": "monthly revenue spine (13-term lag/lead)",
    "bass_diffusion_fit": "dense adoption month spine (cumulative sum)",
    "wrights_experience_curve": "monthly volume spine (cumulative sum)",
    "cochrane_orcutt": "daily revenue spine (index + residual lag)",
    "tracking_signal": "daily revenue spine (7-lag error prefix sums)",
    "pickands_tail_index": "256-row post-limit order statistics",
    "biweight_midcorrelation": "daily value/|dev| spines (order stats)",
    "shapiro_francia_daily": "B-row bucket offsets (with_global_rank spine)",
    "holm_bonferroni_screen": "25-row nation z spine (step-down walk)",
}

# eager at call time (streaming jobs, localCheckpoint pipelines,
# driver-side fits): planning them here would run them
EAGER = {
    "streaming_windowed_counts", "streaming_join_replay",
    "streaming_dedup_replay", "streaming_stateful_replay",
    "streaming_session_replay", "streaming_incremental_agg",
    "streaming_outer_join_replay",
    "minhash_lsh_pairs", "minhash_shingle_pairs", "dedup_clusters",
    "pagerank_sim_graph", "ann_ivf_topk", "incremental_watermark",
    # ext261/264: driver-side coarse+PQ codebook fit at plan-
    # construction time (the ann_ivf_topk shape); only cross join is
    # the 8-row centroid broadcast for probe selection
    "ann_ivfpq_topk",
    "ann_ivfpq_refine",
    "pq_reconstruction_error",
    # ext265: streaming MDCT replay (foreachBatch over written feed)
    "streaming_mdct_replay",
    # ext213: driver-side quantizer fit + eager state checkpoint (the
    # persisted-index stand-in); the only cross joins are 1-row
    # total/drift broadcasts over the 8-row cell spine
    "incremental_ivf_update",
    # ext223: eager signature-table checkpoint (the persisted LSH index
    # stand-in); the only cross joins are 1-row total/drift broadcasts
    # over the 64-row bucket spine
    "incremental_lsh_update",
    "triangle_counts", "label_propagation", "min_plus_shortest_paths",
    "streaming_cms_replay",
    "streaming_sprt_replay",
    # live streaming replay (min-K monoid bottom-K quantile sketch)
    "streaming_bottomk_quantile_replay",
    # live streaming replay (DGIM bucket-list carried state)
    "streaming_dgim_replay",
    # live streaming replay (per-user last-event boundary stitching)
    "streaming_transition_replay",
    # live streaming replay (deferred-application Elo vector state)
    "streaming_elo_replay",
    # live streaming replay (running-CRC carried state, ext226)
    "streaming_crc_replay",
    # eager localCheckpoint of the sign-bucket table (feeds both sides
    # of the self-join; lineage would otherwise compute twice)
    "semantic_dedup_prune",
    # ext215: grid_exact_knn (k=1) eager checkpoint feeding Clark-Evans
    "clark_evans_nn_index",
    # ext218: bounded driver folds (64-cell assignment matrix;
    # per-round peeled edge checkpoints)
    "optimal_assignment_volume",
    "ktruss_membership",
    # ext221: bounded driver folds (25-slot Elo vector; <=625-cell
    # reachability matrix)
    "elo_ratings_nations",
    "bowtie_decomposition",
    # ext212 grid twins: eager localCheckpoint of the cell-keyed point
    # spine (multi-referenced: probes/build/escalation tiers) and of
    # the exact-kNN union / md5-rank sample; the only non-equi joins
    # inside are the documented bounded fallbacks (|esc2| x n linear
    # scan; 128-point sample self-join, constant in SF)
    "lof_grid_knn",
    "semivariogram_grid",
    # ext223: eager localCheckpoint of the per-cell moment table
    # (multi-referenced: probe + broadcast build sides)
    "semivariogram_moments",
    # ext225: eager daily-spine checkpoint feeding both sides of the
    # calendar-bounded pair self-join (+ 1-row radius broadcast)
    "rqa_recurrence_daily",
    "horizontal_visibility_graph",
    # ext226: eager 40-job TakeOrdered checkpoint feeding two window
    # passes; calendar-bounded driver fold over the daily bit string
    "johnson_two_machine",
    "lz76_complexity",
    # ext227: eager wealth-path checkpoint (referenced by both the
    # aggregate and the crossing scan)
    "betting_eprocess_daily",
    # ext228: bounded driver folds (64-point tour greedy; 50-item FFD
    # bin-level list)
    "nn_tour_embedding",
    "bin_packing_ffd",
    # ext229: eager top2-nation checkpoint + driver nation lookup; the
    # 128/136-row ring broadcasts feed bounded nested-loop argmins
    "markowitz_two_asset",
    "consistent_hash_ring",
    # ext230: calendar-bounded driver fold (the real arithmetic coder
    # with its decode roundtrip asserted in-fold)
    "arith_coder_daily",
    # CC-operator pipelines (eager pair checkpoint) + per-round
    # checkpointed peel loop
    "dbscan_grid_clusters",
    "entity_resolution_golden",
    "kcore_membership",
    # runs the persisted minhash/LSH candidate pipeline
    "lsh_recall_eval",
    # persist + localCheckpoint self-join contracts (ext24)
    "containment_dup_pairs",
    "hits_scores",
    # live streaming replay (foreachBatch histogram fold)
    "streaming_psi_monitor",
    # live streaming replay (foreachBatch sketch fold)
    "streaming_hll_replay",
    # live streaming replay (foreachBatch histogram fold -> median)
    "streaming_median_monitor",
    # persisted edge table feeding degree + two walk steps
    "ppr_seeded",
    # runs the persisted minhash/LSH candidate pipeline
    "clustering_coefficient",
    "rich_club_coefficient",
    # runs the adaptive CC operator (eager pair checkpoint)
    "cluster_size_histogram",
    # runs the eager pagerank loop over the token graph
    "textrank_keywords",
    # live streaming replays (foreachBatch daily-sum / reservoir folds)
    "streaming_page_hinkley_replay",
    "streaming_topk_sample_replay",
    # eager 1-row scalar checkpoints (median/MAD/iterate) + spine
    # checkpoint -- the r6 fix for nested-broadcast recompute
    "huber_location_2step",
    # live streaming replay (foreachBatch minhash band fold)
    "streaming_minhash_replay",
    # live streaming replay (foreachBatch bloom bitset fold)
    "streaming_bloom_replay",
    # live streaming replay (carried-recursion EWMA fold)
    "streaming_ewma_replay",
    # live streaming replay (carried 2-state Holt fold)
    "streaming_holt_replay",
    # live streaming replay (max-plus monoid CUSUM fold)
    "streaming_cusum_replay",
    # live streaming replay (max-plus monoid drawdown fold, ext182)
    "streaming_drawdown_replay",
    # live streaming replay (max-plus Lindley fold with cross-batch
    # row stitching, ext190)
    "streaming_lindley_replay",
    # live streaming replay (carried (x, P, K) Riccati triple, ext194)
    "streaming_kalman_replay",
    # eager LSH edge-table checkpoint feeding iterative joins (ext119)
    "katz_centrality",
    "harmonic_centrality_3hop",
    # eager greedy MMR loop (per-step checkpointed selections)
    "mmr_rerank",
    # eager per-squaring checkpointed max-min closure (ext172 Schulze)
    "schulze_method_nations",
    # eager per-squaring checkpointed min-plus closure (ext176 WW DP)
    "wagner_whitin_lotsize",
    # eager spine + per-round coefficient checkpoints (ext137 GLMs)
    "logistic_newton_1d",
    "poisson_glm_loglink",
    # eager spine + per-round Fisher-scoring checkpoints (ext205 probit)
    "probit_newton_1d",
    # eager cells/med/dcells/scored checkpoints (shared rank spines)
    "fligner_killeen",
    # eager spine + per-round EM state checkpoints / 2x2 table checkpoint
    "gmm_em_2comp",
    "fisher_exact_2x2",
    # eager game-table + per-round strength checkpoints (ext150 BT)
    "bradley_terry_nations",
    # eager obs frame + per-round beta checkpoints (ext156 Cox PH)
    "cox_ph_newton",
    # eager 2.4k-row window-frame checkpoint fanning the BNLJ pair scan
    # across tasks (r7: 13.0 -> ~4 s at sf0.1)
    "matrix_profile_motifs",
    # eager per-round vocab/top-pair checkpoints (ext191 BPE trainer)
    "bpe_merge_training",
    # eager monthly-spine checkpoint feeding the LAD candidate join
    "lad_median_regression",
    # eager 25-row per-round power-iteration checkpoints (ext195)
    "spectral_bipartition_nations",
    # eager state-build checkpoints (band table + CC) feeding the
    # incremental merge (ext198)
    "incremental_minhash_dedup",
    # live streaming replay (per-day MG fold with carried counter dict)
    "streaming_misra_gries_replay",
    # live streaming replay (per-day LZ78 fold with carried dictionary
    # + in-flight partial phrase)
    "streaming_lz78_replay",
    # eager edge-list checkpoint feeding degree joins both sides
    # (ext211)
    "payment_rich_club",
    # bounded 5x6 transition-count collect + driver absorption folds
    # (ext206 Markov attribution)
    "markov_removal_attribution",
    # ext224: bounded 5x5 transition-count collect + driver
    # power-iteration fold (aligned with the recursive-CTE oracle)
    "markov_stationary_distribution",
    # bounded-adjacency collect + driver-side exact graph algorithms
    # (ext200, r8 fold pattern)
    "betweenness_brandes_nations",
    "graph_eccentricity_nations",
    "payment_backbone_mst",
    # r11 bounded driver folds (classification-ledger class): SimRank
    # on the 25-node backbone, PPMI power iteration over the 31-type
    # vocab, the calendar-bounded segmentation scans, the 8-band
    # Sinkhorn scaling fold, and the ER-methodology queries whose
    # truth/candidate counts are eager by construction
    "simrank_backbone",
    "ppmi_spectral_embedding",
    "binary_segmentation_changepoints",
    "sinkhorn_ot_plan",
    "blocking_quality",
    "fellegi_sunter_weights",
    # r11 streaming replays (32nd/33rd)
    "streaming_pcsa_replay",
    "streaming_mmd_replay",
    # r11 bounded geometry fold (50 centroid points)
    "convex_hull_centroids",
    # r11 bounded matching fold (25x25 trade-weight collect)
    "gale_shapley_stable",
    # r11 bounded actuarial fold (8-band severity + 3 scalars collect)
    "panjer_aggregate_pmf",
    # r11 live replay #34 (order-sensitive LRU recency-list state)
    "streaming_lru_replay",
    # r11 bounded geometry fold (hull-vertex state, 3-snapshot replay)
    "incremental_hull_update",
    # r11 bounded decomposition fold (31x31 count matrix collect)
    "nmf_topics",
    # r11 bounded calipers fold (hull-vertex collect + in-fold law assert)
    "hull_diameter_calipers",
    # r11 bounded percolation fold (25-node backbone union-find per level)
    "targeted_attack_robustness",
    # r12 ext251: Newton-fold spine + doc frame localCheckpointed at
    # call time (ext137 GLM class); the decontamination hit frame is
    # checkpointed before its islands window for the same reason
    "quality_classifier_calibration",
    "decontamination_span_filter",
    # r12 ext252: bounded driver folds (30x5 reward collect) / live
    # streaming replay #35
    "ucb1_bandit_replay",
    "streaming_ucb1_replay",
    # r12 ext253: bounded driver fold (20-row pairwise matrix collect +
    # 120-permutation enumeration)
    "kemeny_ranking",
    # r12 ext254: bounded driver folds (28-cell lag-covariance collect
    # + power iteration; <=8-row EM pattern collect)
    "ssa_trend_cycle",
    "fellegi_sunter_em",
    # r12 ext255: anchor-cell frame localCheckpointed at call time
    "location_quotient_cells",
    "krugman_specialization",
    # r12 ext256: signature frame localCheckpointed at call time
    # (referenced on both sides of the blocking self-join)
    "soundex_er_pairs",
    # r12 ext257: calendar-bounded driver folds (daily-return collect +
    # 12-cell GARCH grid recursion; direction-series checkpoint + count)
    "garch_11_fit",
    "transfer_entropy_daily",
    # r12 ext258: calendar-bounded sign fold / 25x25 weight collect +
    # power-iteration fold
    "hmm_forward_filter",
    "eigenvector_centrality",
    # r12 ext259: eager LSH candidate pipeline + per-threshold
    # bounded aggregates / live replay #36
    "dedup_threshold_sensitivity",
    "streaming_forward_replay",
    # r12 ext260: bounded collects (4-count row + 9 log-factorial
    # sums; per-customer rate frame checkpoint)
    "bayes_factor_conversion",
    "empirical_bayes_rates",
    # r13 optimization driver-folds (r13 ADVICE: these became eager at
    # construction -- bounded collects re-entered as literals -- so
    # planning them here would run those jobs): 4-center Lloyd rounds /
    # per-round GESD argmax / 50-row eval sample collect / rank-pass
    # scalar pins / class-count model collect
    "kmeans_1d_lloyd",
    "gesd_outliers",
    "knn_shapley_valuation",
    "competing_risks_cif",
    "naive_bayes_langid",
    # r14 audit of the same contract (construction-time eager jobs --
    # localCheckpoint(eager=True) pins, scalar count()/first() folds --
    # that the gate would otherwise EXECUTE on every run): found by
    # grepping every registered fn body for eager actions
    "copurchase_modularity",
    # r14: calendar-bounded pairwise-selection driver folds (daily
    # cents collect + exact two-pointer binary-search selection)
    "hodges_lehmann",
    "qn_scale_daily",
    "siegel_repeated_medians",
    "rle_compressibility",
    "staggered_did_att",
    "meta_analysis_dl",
    "incremental_cc_update",
    "token_budget_waterfill",
    "interval_overlap_pairs",
    "survival_split_stump",
    "jaccard_pairs",
    "tfidf_top_terms",
    "mixture_schedule",
}

_LAZY = slice_queries(q for q in registry() if q.name not in EAGER)


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a physical-plan node argument string."""
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _unpartitioned_windows(plan: str) -> list[str]:
    """Ordered Window nodes with an empty partition spec: the node
    prints `Window [funcs], [part], [order]` when partitioned but
    `Window [funcs], [order]` when the whole input moves to ONE task
    (the order group is recognizable by its ASC/DESC markers)."""
    hits = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*()")
        if not stripped.startswith("Window "):
            continue
        groups = _bracket_groups(stripped[len("Window ") :])
        if len(groups) == 2 and ("ASC" in groups[1] or "DESC" in groups[1]):
            hits.append(groups[1][:80])
    return hits


@pytest.mark.parametrize("q", _LAZY, ids=[q.name for q in _LAZY])
def test_no_accidental_cartesian_or_bnlj(q, spark, sf_dir):
    plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{q.name} plans a cartesian product"
    if q.name not in ALLOWED_NESTED_LOOP:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{q.name} plans a broadcast nested-loop join"
        )
    if q.name not in ALLOWED_GLOBAL_WINDOW:
        wins = _unpartitioned_windows(plan)
        assert not wins, (
            f"{q.name} plans an unpartitioned (single-task) window over "
            f"{wins}; rewrite on operators/rank.with_global_rank or add a "
            f"bounded-input justification to ALLOWED_GLOBAL_WINDOW"
        )
