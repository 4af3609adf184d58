"""Driver bench harness (task brief: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "throughput": {...}}.

The headline workload is the engine's acceptance metric (BASELINE.json:2
"pages featurized/sec"): a deterministic synthetic pages table scaled to
the sf tier -> frozen-extractor featurization (mapInPandas) -> as-of
join onto a probe grid + lag/lead + sessionize, reported as
pages_per_sec alongside a representative slice of the driver registry
(as-of, windows, sessionize, backfill, joins, aggs, dedup, knn).

Usage:
    python bench.py                # bench tier (JSON line on stdout)
    python bench.py --pipeline-only --cores 8   # scaling-evidence probe
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


# Registry slice benched alongside the pipeline: the operators that
# dominate a 100 TB run (shuffle-heavy joins/aggs/windows + the text
# and vector packs), not the trivially-cheap scalar families.
HEADLINE = [
    "asof_join",
    "win_lag_lead",
    "win_rolling",
    "sessionize",
    "backfill",
    "topk_per_group",
    "agg_basic",
    "agg_rollup",
    "join_inner",
    "join_broadcast",
    "join_range",
    "tpch_q3",
    "tpch_q5",
    "dedup_exact",
    "minhash_near_dup",
    "dedup_embedding",
    "knn_cosine",
    "ann_lsh",
    "ngram_jaccard",
    "lang_id",
    "doc_fingerprint",
    "featurize_documents",
    # added r2: retrieval-eval window stats + vectorized simhash
    "eval_rank_stats",
    "simhash",
    # added r3: the alternative as-of physical strategies (same query as
    # asof_join — their relative cost IS the strategy-selection signal)
    "asof_union_window",
    "asof_range_scan",
    # added r3 (session 2): feature-eng pack #2 + forward as-of
    "tpch_q6",
    "target_encode_loo",
    "quality_repetition",
    "contamination",
    "feature_hashing",
    "asof_forward",
    # added r3 (session 3): keep-best canonicalization + stratified
    # quota sampling
    "dedup_keep_best",
    "stratified_sample",
    "tfidf_topk",
    "quality_unigram_lm",
    "pii_redact",
    "clean_funnel",
    "tpch_q1",
    "seq_pack",
    "vocab_topv",
    "shard_assign",
    "asof_nearest",
    # added r3 (session 4): feature-eng pack #3 — SCD2 intervals,
    # chunk-level paragraph dedup, multi-table point-in-time join,
    # snapshot-diff features, TPC-H Q4/Q14 shapes
    "scd2_intervals",
    "dedup_paragraph",
    "pit_features",
    "snapshot_diff",
    "tpch_q4",
    "tpch_q14",
    # added r3 (session 4): feature-eng pack #4
    "url_normalize",
    "temporal_split",
    "zorder",
    "quantize_embed",
    "tpch_q16",
    # added r3 (session 4): feature-eng pack #5
    "grouped_corr",
    "event_transitions",
    "approx_percentile",
    # added r3 (session 5): feature-eng pack #6
    "retention_cohorts",
    "session_funnel",
    "histogram",
    "pmi_bigrams",
    "cdc_upsert",
    "doc_chunk",
    "quantile_norm",
    # added r3 (session 5): feature-eng pack #7
    "bm25_topk",
    "join_full",
    "oov_rate",
    "lang_balance_sample",
    "winsorize",
    "token_entropy",
    "dedup_crosscorpus",
    # added r3 (session 5): feature-eng packs #8-#9
    "fuzzy_join",
    "unpivot",
    "bpe_pair_counts",
    "skew_report",
    "ewma",
    "weighted_sample",
    "agg_string_ordered",
    "extract_entities",
    "gap_detection",
    # added r3 (session 6): packs #10-#11 — remaining TPC-H shapes,
    # fixed-point PageRank, robust stats, attribution, boilerplate
    "tpch_q7",
    "tpch_q15",
    "tpch_q21",
    "pagerank",
    "rolling_median",
    "mad_outliers",
    "attribution",
    "boilerplate_para",
    "tpch_q2",
    "tpch_q11",
    "domain_cap",
    # added r3 (continuation): packs #14-#16 — ingest sources, span
    # dedup / heavy hitters / prefilter / IVM, supervised curation
    "scan_warclite",
    "variant_json",
    "span_dedup",
    "heavy_hitters",
    "bloom_prefilter",
    "ivm_merge",
    "chi2_terms",
    "embedding_outliers",
    "token_budget_mix",
    "label_prop",
    # added r3 (continuation): pack #17 — curriculum + vocab coverage
    "curriculum_order",
    "vocab_coverage",
    # added r3 (continuation): pack #18 — corpus-ops monitoring
    "dataset_card",
    "ks_drift",
    "benford_audit",
    # added r3 (continuation): pack #19 — seeding, weights, buckets
    "kmeanspp_seeds",
    "domain_weights",
    "length_buckets",
    "roc_auc",
    "psi_drift",
    "ess_weights",
    "equal_freq_bins",
    "mutual_info",
    "pps_sample",
    "embedding_pca1",
    "group_kfold",
    "sql_recursive",
    "lateral_topk",
    "simhash_pairs",
    "grouped_ols",
    "gini_skew",
    "pr_auc",
    # added r3 (continuation): pack #23 sparse retrieval + sketches
    "sparse_topk",
    "srp_signature",
    "hll_distinct",
    "spearman_corr",
    "cusum_changepoint",
    "best_threshold",
    # added r3 (continuation): pack #24 sketches + statistics
    "count_min",
    "tvd_drift",
    "weighted_median",
    "interval_union",
    "welch_t",
    "cooccur_lift",
    # added r3 (continuation): pack #25 rank/robust stats + paired tests
    "kendall_tau",
    "two_prop_z",
    "ndcg_at_k",
    "hodges_lehmann",
    "mcnemar_test",
    "chao1_richness",
    # added r3 (continuation): pack #26 corpus-comparison statistics
    "bayes_shrunk_quality",
    "source_vocab_jaccard",
    "source_centroid_sim",
    "token_burstiness",
    "token_novelty",
    "topk_overlap",
    # added r3 (continuation): pack #27 repetition-quality filters
    "top_bigram_frac",
    "bigram_concentration",
    "heaps_two_point",
    "longest_token_run",
    "intra_doc_sim",
    "yule_k",
    # added r3 (continuation): pack #28 behavioral-regularity features
    "peak_rate",
    "hourly_uniformity",
    "rfm_scores",
    "zipf_two_point",
    "order_gap_cv",
    "repeat_rate",
    # added r3 (continuation): pack #29 survival/basket/concentration
    "km_hazard",
    "basket_pairs",
    "prefix_template",
    "supplier_hhi",
    "weekend_lift",
    "discount_depth",
    # added r3 (continuation): pack #30 temporal/association statistics
    "autocorr_lag1",
    "cramers_v",
    "activity_drawdown",
    "max_concurrency",
    "theil_sen",
    "dow_seasonal",
    # added r3 (continuation): pack #31 robust/nonparametric statistics
    "mann_kendall",
    "l_moments",
    "runs_test",
    "hill_tail",
    "dow_anova",
    "fano_factor",
    # added r3 (continuation): pack #32 drift/EVT/NLP statistics
    "jsd_drift",
    "block_maxima",
    "log_odds_terms",
    "pareto_front",
    "sax_words",
    "transition_entropy",
    # added r3 (continuation): pack #33 resample/window mechanics
    "time_weighted_avg",
    "ohlc_bars",
    "win_percentile_dist",
    "interp_linear",
    "streak_lengths",
    "session_paths",
    # added r3 (continuation): pack #34 cross-series/funnel/forecast
    "type_corr_matrix",
    "semi_additive",
    "time_to_convert",
    "abandonment",
    "seasonal_naive_mae",
    "gap_percentiles",
    # added r3 continuation: packs #35-#38 (ranking/concentration,
    # multiple-testing/circular/lexical, forecast-eval/LRD/cluster,
    # divergence/CI/scoring/lifecycle)
    "rbo_overlap",
    "weighted_jaccard",
    "burstiness_gb",
    "lorenz_curve",
    "first_k_profile",
    "dwell_share",
    "bh_fdr",
    "rayleigh_daily",
    "markov_surprise",
    "readability",
    "hapax_ratio",
    "gini_mean_diff",
    "pinball_loss",
    "hurst_vt",
    "running_records",
    "turning_points",
    "char_bigram_entropy",
    "silhouette_lite",
    "user_mix_kl",
    "median_ci",
    "woe_iv",
    "half_activity_day",
    "negbin_fit",
    "recency_score",
    # added r3 continuation: packs #39-#43 (ranking bounds/2x2/shape,
    # blocked+two-sample nonparametrics, reliability/survival fits,
    # optimal transport/wavelet/normality, time-series diagnostics)
    "wilson_lcb",
    "odds_ratio",
    "value_mode",
    "bowley_moors",
    "term_position_profile",
    "longest_event_run",
    "kruskal_wallis",
    "trimmed_stats",
    "theil_index",
    "decile_lift",
    "brier_decomp",
    "perm_entropy",
    "cronbach_alpha",
    "icc_design_effect",
    "qq_exponential",
    "weibull_fit",
    "good_turing",
    "cuped_adjust",
    "wasserstein_1d",
    "haar_energy",
    "logrank_test",
    "friedman_test",
    "jarque_bera",
    "ratio_delta_ci",
    "mann_whitney",
    "cliffs_delta",
    "levene_bf",
    "pacf_daily",
    "ljung_box",
    "chatterjee_xi",
    # added r3 continuation: pack #44 (ordered/omnibus comparison,
    # KDE, Q-Q mapping)
    "mood_median",
    "epanechnikov_kde",
    "qq_deciles",
    "jonckheere_trend",
    "page_trend",
    "ad_ksample",
    # added r3 continuation: packs #45-#46 (two-sample completion,
    # link-graph structure)
    "cochran_q",
    "dunn_posthoc",
    "ansari_bradley",
    "ks_two_sample",
    "cvm_two_sample",
    "cohens_d",
    "clustering_coeff",
    "link_pred_scores",
    "degree_assortativity",
    "reciprocity",
    "hits_scores",
    "bipartite_proj",
    # added r3 continuation: pack #47 (operational analytics)
    "nelson_aalen",
    "percentile_interp",
    "mix_rate_decomp",
    "binseg_sse",
    "poisson_bootstrap",
    "dau_mau",
    # added r3 continuation: pack #48 (corpus LM + embedding stats)
    "bigram_lm_ppl",
    "trigram_coverage",
    "rare_token_share",
    "doc_source_kl",
    "embedding_dim_stats",
    "label_margin",
    # added r3 continuation: pack #49 (evaluation & sensitivity)
    "sketch_error_eval",
    "session_gap_sweep",
    "attribution_multi",
    "tukey_kramer",
    "trim_sweep",
    "funnel_significance",
    # added r3 continuation: pack #50 (sources/sinks + concentration)
    "scan_jsonl",
    "partitioned_roundtrip",
    "daily_gini",
    "value_share_topk",
    # added r3 continuation: pack #51 (experimentation suite)
    "diff_in_diff",
    "srm_check",
    "mde_power",
    "covariate_balance",
    "effect_trend",
    "retention_by_arm",
    # added r3 continuation: pack #52 (BI tables)
    "share_of_parent",
    "session_size_hist",
    "cohort_ltv",
    # added r3 continuation: pack #53 (cross-series + episodes)
    "ccf_daily",
    "partial_corr_daily",
    "dow_strength",
    "burst_intervals",
    "wow_retention",
    "sign_test",
    # added r3 continuation: pack #54 (classifier-eval completion)
    "mcc_score",
    "ece_score",
    "cost_threshold",
    "fairness_gaps",
    "prec_at_k",
    "gains_auc",
    # added r3 continuation: pack #55 (growth accounting)
    "growth_accounting",
    "power_user_curve",
    "diverse_topk",
    "band_anomaly_days",
    "rank_stability",
    "conversion_lag_hist",
    # added r3 continuation: pack #56 (distribution-fit diagnostics)
    "zipf_r2",
    "lognormal_fit",
    # added r4: pack #57 (point-in-time pipeline diagnostics)
    "asof_staleness",
    "leakage_audit",
    "crawl_coverage",
    "snapshot_churn",
    # added r4: pack #58 (distinct sketches + periodicity)
    "kmv_distinct",
    "kmv_union_merge",
    "fold_period_strength",
    "seasonal_anomaly_days",
    # added r4: pack #59 (Spark 4 SQL surface)
    "sql_udf_scalar",
    "sql_udf_table",
    "sql_pipe_funnel",
    "sql_session_var",
    "sql_exec_immediate",
    "sql_groupby_all",
    # added r4: pack #60 (model-input transforms)
    "feature_cross",
    "rank_int",
    "isotonic_calibration",
    # added r4: pack #61 (graph peel + embedding truncation)
    "kcore_peel",
    "matryoshka_eval",
    # added r4: pack #62 (contrastive-pair mining) + #63 (curation ops)
    "hard_negatives",
    "semdedup",
    "rrf_fusion",
    "conformal_qhat",
    "kcenter_coreset",
    # added r4: pack #64 (PQ compression) + #65 (privacy + ORC)
    "pq_encode",
    "adc_topk",
    "mixture_temperature",
    "k_anonymity",
    "dp_counts",
    "stratified_kfold",
    "scan_orc",
    # added r4: pack #66 (crawl-ops & planner statistics)
    "recrawl_priority",
    "salt_plan",
    "join_cardinality_est",
    "freshness_sla",
    # added r4: pack #67 (survey-sampling estimators)
    "ht_estimator",
    "raking_ipf",
    "neyman_allocation",
    # added r4: pack #68 (Spark 4 SQL surface + containment)
    "agg_listagg",
    "collated_dedup",
    "try_arithmetic",
    "shingle_containment",
    # added r4: pack #69 (robust estimation + sketch algebra)
    "huber_mean",
    "kmv_intersect",
    "perm_test_mean",
    # r4 continuation packs #70-#75
    "redirect_chains",
    "modularity_q",
    "code_detect",
    "mantel_haenszel",
    "cochran_armitage",
    "jackknife_ratio",
    "count_encode",
    "one_hot_topk",
    "macro_f1",
    "rake_keywords",
    "msprt_evalue",
    "holm_bonferroni",
    "dsir_weights",
    "pass_at_k",
    "err_ranking",
    "scan_split_plan",
    "online_offline_skew",
    "dedup_prefix",
    "asof_bitemporal",
    "watermark_lag_audit",
    "late_arrival_impact",
    "decision_stump",
    "naive_bayes",
    "competing_risks_cif",
    # added r4: packs #78-#80 (calibration audits, off-policy eval,
    # partition agreement + EVT)
    "spiegelhalter_z",
    "hosmer_lemeshow",
    "qini_uplift",
    "ips_offpolicy",
    "dr_offpolicy",
    "policy_sweep",
    "adjusted_rand",
    "cluster_vmeasure",
    "gpd_fit",
    # added r4: packs #81-#85 (privacy II, regression diagnostics,
    # frequency-moment sketches, rater agreement, overlap join)
    "l_diversity",
    "entropy_l_diversity",
    "t_closeness",
    "durbin_watson",
    "breusch_pagan",
    "fe_within",
    "freq_moments",
    "ams_f2",
    "countsketch_freq",
    "fleiss_kappa",
    "krippendorff_alpha",
    "gwet_ac1",
    "interval_overlap",
    "auc_ci",
    "observe_metrics",
    # added r4: packs #86-#87 (causal designs, bucketed layout,
    # dedup-detector eval, sequential drift)
    "rd_estimate",
    "iv_wald",
    "event_study",
    "bucketed_join",
    "neardup_eval",
    "page_hinkley",
    # added r4: pack #88 (FDR family II + record linkage)
    "benjamini_yekutieli",
    "storey_pi0",
    "fs_weights",
    # added r4: pack #89 (concordance / robust test / overdispersion)
    "kendall_w",
    "yuen_test",
    "beta_binomial_mom",
    # added r4: pack #90 (distributional effects)
    "qte_deciles",
    "exp_hazard_ratio",
    "hellinger_hist",
    # added r4: pack #91 (survival curve layer + inequality)
    "km_greenwood",
    "km_rmst",
    "atkinson_index",
    # added r4: pack #92 (embedding-space geometry)
    "mean_pairwise_cosine",
    "embedding_isotropy",
    "jl_distortion",
    # added r4: pack #93 (MinHash estimator calibration)
    "minhash_accuracy",
    "bbit_minhash",
    "containment_est",
    # added r4: pack #94 (Spark 4 DataFrame API surfaces)
    "grouped_arrow",
    "df_transpose",
    "set_ops_all",
    # added r4: pack #95 (forecast evaluation)
    "prequential_error",
    "mincer_zarnowitz",
    "diebold_mariano",
    # added r4: pack #96 (Shapley / migration / queueing)
    "shapley_features",
    "decile_migration",
    "littles_law",
    # added r4: pack #97 (one-step Cox / SNM / KS)
    "cox_one_step",
    "sorted_neighborhood",
    "ks_classifier",
    # added r4: pack #98 (population estimation)
    "german_tank",
    "capture_recapture",
    "linear_counting",
    # added r4: pack #99 (experimentation III)
    "tost_equivalence",
    "obrien_fleming",
    "winners_curse",
    # added r4: pack #100 (state-carrying as-of features)
    "asof_decay_feature",
    "asof_count_window",
    "asof_kth_recent",
    # added r4: pack #101 (extreme-value theory II)
    "extremal_index",
    "gpd_return_level",
    "tail_dependence",
    # added r4: pack #102 (stylometry + classical outliers)
    "burrows_delta",
    "mahalanobis_outliers",
    "grubbs_test",
    # added r4 (session 3): packs #103-#135 — the shuffle/join-heavy
    # representatives (one per family; the tiny daily-series closed
    # forms are not bench-worthy)
    "fh_logrank",
    "nn_matching_att",
    "bradley_terry",
    "lof_scores",
    "fk_orphans",
    "kneser_ney_bigram",
    "self_bleu_lite",
    "eigenvector_centrality",
    "mc_stationary",
    "bayes_ab_prob",
    "price_elasticity",
    "mmd_shift",
    "svd_rank1",
    "weighted_kappa",
    "block_bootstrap_se",
    "ngram_coverage_curve",
    "mrmr_lite",
    "histogram_est_error",
    # added r5: storage-bucketed zero-Exchange as-of re-read (its cost
    # vs asof_join IS the write-once/join-many layout signal)
    "asof_bucketed",
]


def pipeline_rows_and_urls(sf: float) -> int:
    """n_urls scaled so the pages table tracks the sf tier (~6.5
    snapshots/url -> ~2.6k rows at sf0.001, ~260k rows at sf0.1)."""
    return max(200, int(400_000 * sf))


def materialize_pages(spark, sf: float, path: str, n_urls: int = 0) -> None:
    """Untimed setup: write the deterministic pages table to parquet.
    The timed pipeline then starts from a table scan, matching the
    production shape (pages live in Iceberg; generation is not part of
    'pages featurized/sec')."""
    import shutil

    from crawlfe.synth import SynthConfig, synth_pages

    shutil.rmtree(path, ignore_errors=True)
    cfg = SynthConfig(n_urls=n_urls or pipeline_rows_and_urls(sf))
    # fixed file count, independent of this session's parallelism, so
    # every probe (any core count) reads the identical input layout
    synth_pages(spark, cfg, n_partitions=128).write.parquet(path)


def run_pipeline(spark, pages_path: str) -> tuple[int, int, float]:
    """Flagship end-to-end: pages scan -> featurize -> as-of + windows.

    Returns (pages_featurized, matched_probes, wall_sec). The probe grid derives from a
    column-pruned pages scan (url, warc_ts only — Catalyst never decodes
    html for it), so featurization runs exactly once. Output is consumed
    with a count-style reduction so the measured time is the compute,
    not a local-disk parquet write.
    """
    from pyspark.sql import functions as F

    from crawlfe.features import featurize
    from crawlfe.pipeline import feature_pipeline

    t0 = time.time()
    pages = spark.read.parquet(pages_path)
    # featurize ONCE and pin the features table, mirroring production
    # where it is committed to storage before the join stage
    # (jobs/featurize.py): the windows and the as-of consume it
    # without recomputing the extractor.
    feats = featurize(pages, use_html=True).persist()
    n = feats.count()
    # probe grid: one probe per (url, snapshot) shifted +1h — same
    # cardinality as the feature table, exercises the merge-scan fully
    probe = pages.select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("join_ts"),
    )
    # the pipeline's default as-of (range_scan), as jobs/featurize.py runs it
    out = feature_pipeline(feats, probe, session_gap_s=86400)
    n_matched = out.where(F.col("matched")).count()
    dt = time.time() - t0
    feats.unpersist()
    # n (feats.count()) is the pages-featurized numerator for the
    # headline metric; the matched-probe count is reported separately
    # (round 1 overwrote n and measured probe-match cardinality)
    return n, n_matched, dt


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--pipeline-only", action="store_true",
                    help="run only the flagship pipeline (scaling probe)")
    ap.add_argument("--skip-pipeline", action="store_true")
    ap.add_argument("--n-urls", type=int, default=0,
                    help="override pipeline synth size (scaling evidence)")
    args = ap.parse_args()

    sf_dir = args.sf_dir.rstrip("/")
    try:
        sf = float(os.path.basename(sf_dir).replace("sf", ""))
    except ValueError:
        sf = 0.1

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from crawlfe.conf import get_spark
    from crawlfe.queries import REGISTRY

    # The bench fixture is tiny (tens of MB) next to a production pages
    # table whose parquet files split into thousands of 128 MB tasks.
    # Lower split size emulates that split DENSITY so the featurize
    # stage is never task-starved at 32 cores; production keeps the
    # 128 MB default (crawlfe/conf.py).
    spark = get_spark(app=f"bench-sf{sf}", cores=args.cores, extra={
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(256 * 1024),
    })
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}
    throughput: dict[str, float] = {}

    if not args.skip_pipeline:
        suffix = f"_u{args.n_urls}" if args.n_urls else ""
        pages_path = f"/tmp/bench_pages_sf{sf}{suffix}"
        if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
            materialize_pages(spark, sf, pages_path, n_urls=args.n_urls)
        # warm up the JVM + Python workers on a tiny slice, discarded
        warm_path = "/tmp/bench_pages_warm"
        if not os.path.exists(os.path.join(warm_path, "_SUCCESS")):
            materialize_pages(spark, 0.001, warm_path)
        run_pipeline(spark, warm_path)
        # best-of-2 timed runs: the shared VM's run-to-run noise is
        # ±15-30% (BENCH/runs.jsonl); the min is the honest capability
        # number and both raw times are reported
        n_pages, n_matched, dt = run_pipeline(spark, pages_path)
        if not args.pipeline_only:
            # scaling probes (--pipeline-only) already best-of-N outside
            _, _, dt2 = run_pipeline(spark, pages_path)
            throughput["pipeline_runs_sec"] = [round(dt, 3), round(dt2, 3)]
            dt = min(dt, dt2)
        queries["pipeline_featurize_asof"] = round(dt, 3)
        throughput["pages_featurized_per_sec"] = round(n_pages / dt, 1)
        throughput["pages"] = n_pages
        throughput["matched_probes"] = n_matched

    raw_times: dict[str, list[float]] = {}
    if not args.pipeline_only:
        # untimed warmup: the first registry query otherwise absorbs
        # one-off JVM/codegen/Arrow-worker startup (~5-8 s observed),
        # which best-of-2 cannot cancel when both its runs are first
        REGISTRY["agg_basic"][0](spark, sf_dir).count()
        for name in HEADLINE:
            fn, _sql = REGISTRY[name]
            # best-of-2 per query (VERDICT r2 perf recommendation): a
            # single shared-VM spike made r2's knn_cosine look 10x
            # slower than unchanged code. Both raw times are reported.
            times = []
            for _ in range(2):
                t0 = time.time()
                # count() drives the full plan; results are
                # hash-verified separately by the driver's correctness
                # tier
                fn(spark, sf_dir).count()
                times.append(round(time.time() - t0, 3))
            raw_times[name] = times
            queries[name] = min(times)

    total = round(sum(queries.values()), 3)
    print(json.dumps({
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "query_runs": raw_times,
        "sf": sf,
        "cores": args.cores,
        "throughput": throughput,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
