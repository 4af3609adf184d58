"""Driver-contract query registry package.

``REGISTRY`` maps each driver query key to ``(spark_query, oracle_sql)``,
where ``oracle_sql`` is the DuckDB twin or ``None`` for rows-only ops.
Its keys are exactly the operators SURVEY.md §2.B names, the as-of
engine-spine variants §2.B predates (``asof_bucketed``,
``asof_decay_feature``, ``asof_count_window``, ``asof_kth_recent``), the
keys ``jobs/`` uses, and ``featurize_documents``;
tests/test_registry_surface.py pins that set.

The keyless modules that tests/test_registry_surface.py pins by name
have no registry entry and no oracle twin; they are waiting for
deletion, and only their own pack tests may import them.  Every public
name and the test hooks re-export from here, so
``from crawlfe.queries import q_x, _t, ...`` works.
"""
from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .core import *  # noqa: F401,F403
from .relational import *  # noqa: F401,F403
from .scalars import *  # noqa: F401,F403
from .text import *  # noqa: F401,F403
from .rows_only import *  # noqa: F401,F403
from .pit_scd import *  # noqa: F401,F403
from .retrieval import *  # noqa: F401,F403
from .sampling import *  # noqa: F401,F403
from .tpch_extra import *  # noqa: F401,F403
from .graph_sources import *  # noqa: F401,F403
from .selection import *  # noqa: F401,F403
from .eval_drift import *  # noqa: F401,F403
from .stats_rank import *  # noqa: F401,F403
from .stats_behave import *  # noqa: F401,F403
from .stats_dist import *  # noqa: F401,F403
from .stats_tail import *  # noqa: F401,F403
from .stats_links import *  # noqa: F401,F403
from .experiments import *  # noqa: F401,F403
from .classifier_eval import *  # noqa: F401,F403
from .pit_diag import *  # noqa: F401,F403
from .sketch_period import *  # noqa: F401,F403
from .sql_surface import *  # noqa: F401,F403
from .feateng import *  # noqa: F401,F403
from .graph_embed import *  # noqa: F401,F403
from .mining import *  # noqa: F401,F403
from .pq import *  # noqa: F401,F403
from .privacy import *  # noqa: F401,F403
from .crawlops import *  # noqa: F401,F403
from .surveystat import *  # noqa: F401,F403
from .sql4 import *  # noqa: F401,F403
from .robust import *  # noqa: F401,F403
from .crawlgraph import *  # noqa: F401,F403
from .stats_strat import *  # noqa: F401,F403
from .encoders import *  # noqa: F401,F403
from .llm_eval import *  # noqa: F401,F403
from .storeops import *  # noqa: F401,F403
from .bitemporal import *  # noqa: F401,F403
from .model_audit import *  # noqa: F401,F403
from .agreement import *  # noqa: F401,F403
from .privacy2 import *  # noqa: F401,F403
from .regdiag import *  # noqa: F401,F403
from .freqmoments import *  # noqa: F401,F403
from .raters import *  # noqa: F401,F403
from .overlap_eval import *  # noqa: F401,F403
from .causal2 import *  # noqa: F401,F403
from .bucketops import *  # noqa: F401,F403
from .qte import *  # noqa: F401,F403
from .survival2 import *  # noqa: F401,F403
from .embedgeom import *  # noqa: F401,F403
from .minhash_eval import *  # noqa: F401,F403
from .spark4api import *  # noqa: F401,F403
from .forecast_eval import *  # noqa: F401,F403
from .popest import *  # noqa: F401,F403
from .seqtest2 import *  # noqa: F401,F403
from .asof_feats import *  # noqa: F401,F403
from .evt2 import *  # noqa: F401,F403
from .stylo import *  # noqa: F401,F403
from .forecast_eval2 import *  # noqa: F401,F403
from .methodcmp import *  # noqa: F401,F403
from .matching import *  # noqa: F401,F403
from .neighbors import *  # noqa: F401,F403
from .dataqc import *  # noqa: F401,F403
from .queueing import *  # noqa: F401,F403
from .lmeval2 import *  # noqa: F401,F403
from .seqtest3 import *  # noqa: F401,F403
from .graph_cent import *  # noqa: F401,F403
from .decompose import *  # noqa: F401,F403
from .momentq import *  # noqa: F401,F403
from .curation2 import *  # noqa: F401,F403
from .pricing import *  # noqa: F401,F403
from .robreg import *  # noqa: F401,F403
from .meta import *  # noqa: F401,F403
from .corpusqc import *  # noqa: F401,F403
from .breaks import *  # noqa: F401,F403
from .factorize import *  # noqa: F401,F403
from .ordinal import *  # noqa: F401,F403
from .nominal import *  # noqa: F401,F403
from .layout import *  # noqa: F401,F403
from .diversity import *  # noqa: F401,F403
from .graph_embed import _KCORE_K, _KCORE_ROUNDS, _MAT_DIMS  # noqa: F401
from .mining import _HN_K, _HN_PROBES  # noqa: F401
from .pq import _ADC_PROBES, _ADC_TOPK, _MIX_ALPHA, _PQ_K, _PQ_M, _PQ_SUB  # noqa: F401
from .privacy import _DP_EPS, _KANON_BUCKET, _KANON_K, _KFOLD  # noqa: F401
from .crawlops import _SALT_CAP, _SALT_TARGET, _SLA_HOURS  # noqa: F401
from .surveystat import _HT_RATE, _IPF_ROUNDS, _NEYMAN_BUDGET  # noqa: F401
from .robust import _HUBER_C, _HUBER_ROUNDS, _PERM_B  # noqa: F401
from .crawlgraph import _REDIR_HOPS  # noqa: F401
from .encoders import _CE_ALPHA, _OH_TOPK  # noqa: F401
from .llm_eval import _DSIR_BUCKETS, _PASSK_K  # noqa: F401
from .storeops import _PREFIX_BLOCK_CHARS, _SKEW_CUTOFF_DAY, _SPLIT_BUDGET_CENTS  # noqa: F401
from .bitemporal import _DELAY_MAX_S, _JOIN_US, _KT1_US, _WM_SECONDS  # noqa: F401
from .model_audit import _MA_BIN_CENTS, _MA_MAX_BIN, _MA_TRAIN_DAY_MAX, _QINI_TILES  # noqa: F401
from .agreement import _GPD_DECILE  # noqa: F401
from .privacy2 import _LDIV_L, _TCLOSE_M, _TCLOSE_W  # noqa: F401
from .regdiag import _BP_CRIT95, _HOUR_US  # noqa: F401
from .freqmoments import _AMS_G, _AMS_R, _CS_D, _CS_TOPK, _CS_W  # noqa: F401
from .raters import _CATS, _FLIP_MOD, _LANGS, _RATERS  # noqa: F401
from .overlap_eval import _OVL_TOPK, _Z95  # noqa: F401
from .causal2 import _ES_POLICY_DAY, _ES_TREAT_MOD, _ES_WEEKS, _RD_BW, _RD_CUT  # noqa: F401
from .qte import _HH_BIN  # noqa: F401
from .survival2 import _KM_TAU  # noqa: F401
from .embedgeom import _ISO_DIRS, _JL_K  # noqa: F401
from .minhash_eval import _MH_K  # noqa: F401
from .spark4api import _SO_BUCKET  # noqa: F401
from .forecast_eval import _MZ_LAG  # noqa: F401
from .popest import _CR_W1, _CR_W2, _GT_MOD, _LC_M  # noqa: F401
from .seqtest2 import _OBF_FINAL, _OBF_INTERIM, _TOST_DELTA  # noqa: F401
from .asof_feats import _KTH, _TAU_H  # noqa: F401
from .evt2 import _EI_GAP_US, _RL_M  # noqa: F401
from .stylo import _BD_TOPK, _GRUBBS_CRIT, _MAH_TOPK  # noqa: F401
from .forecast_eval2 import _SN_LAG  # noqa: F401
from .methodcmp import _BA_Z, _SPLIT_DAY  # noqa: F401
from .matching import _GAMMAS, _PLACEBO_SPLIT, _TREAT_MOD  # noqa: F401
from .neighbors import _NB_K, _NB_PANEL  # noqa: F401
from .dataqc import _FDS, _FKS, _KEYS  # noqa: F401
from .queueing import _CAP_FACTOR, _EC_MU_DIV, _EC_SERVERS, _SLO_TARGET  # noqa: F401
from .lmeval2 import _KN_D, _KN_TOPN  # noqa: F401
from .seqtest3 import _AVCI_ALPHA, _CUSUM_H, _CUSUM_K, _POCOCK_CRIT, _POCOCK_LOOKS  # noqa: F401
from .graph_cent import _CENT_TOPK, _EV_ROUNDS, _KATZ_ALPHA, _KATZ_TERMS, _RC_KS  # noqa: F401
from .decompose import _ABC_A, _ABC_B, _STL_W  # noqa: F401
from .momentq import _BC_LAMBDAS, _CF_P, _CF_Z, _CHEB_KS  # noqa: F401
from .curation2 import _CCDF_GRID  # noqa: F401
from .pricing import _NV_CO, _NV_CU, _POOL_TOP, _POOL_Z  # noqa: F401
from .robreg import _HUBER_K, _INFL_TOPK, _IRLS_ROUNDS, _LAD_EPS  # noqa: F401
from .corpusqc import _COV_KS  # noqa: F401
from .breaks import _BRK_T0  # noqa: F401
from .factorize import _SVD_ROUNDS, _SVD_TOPK  # noqa: F401
from .ordinal import _ORD_K  # noqa: F401
from .layout import _BK_N, _CHUNK, _CR_COLS, _PRUNE_HI_D, _PRUNE_LO_D  # noqa: F401
from ._shared import _patched_tables, _t  # noqa: F401
from .sketch_period import _FOLD_PMAX, _KMV_DOM, _KMV_K  # noqa: F401
from .text import _BPE_RE, _LANG_MARKERS, _dedup_embedding_block_pairs  # noqa: F401
from .retrieval import _BM25_B, _BM25_K1, _BM25_TERMS, _EWMA_ALPHA  # noqa: F401
from .sampling import _HOUR_US  # noqa: F401
from .graph_sources import _HH_K, _SPAN_K  # noqa: F401
from .selection import _CHI2_TOPK, _COV_V, _CURR_B, _KMPP_K, _KMPP_L, _KMPP_ROUNDS, _MIX_BUDGET, _OUTLIER_K, _sq_dists_to  # noqa: F401
from .eval_drift import _BFS_DEPTH, _SIMHASH_BITS, _SIMHASH_HAM  # noqa: F401
from .stats_rank import _BC_K, _BQ_CAP, _BQ_K, _BURST_MIN, _CMS_D, _CMS_PROBES, _CMS_W, _HL_K, _KT_K, _NDCG_CUM, _NDCG_DISC, _NDCG_K, _TOPK_V  # noqa: F401
from .stats_behave import _HILL_K, _RFM_Q, _ZIPF_K  # noqa: F401
from .stats_dist import _FIRSTK, _LOGODDS_ALPHA, _LOGODDS_TOPK, _PATH_LEN, _RBO_K, _RBO_P, _SAX_BP, _SAX_DAYS  # noqa: F401
from .stats_tail import _BH_LONG, _TPP_K  # noqa: F401


# --------------------------------------------------------------------------
# Registry
#
# Order matters: the driver records correctness rows for the first 50
# queries() entries only.  Keys keep their previous relative order (the
# round-5 driver window first).
# --------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "sql_udf_scalar": (q_sql_udf_scalar, SQL_SQL_UDF_SCALAR),
    "sql_udf_table": (q_sql_udf_table, SQL_SQL_UDF_TABLE),
    "sql_pipe_funnel": (q_sql_pipe_funnel, SQL_SQL_PIPE_FUNNEL),
    "kmv_distinct": (q_kmv_distinct, SQL_KMV_DISTINCT),
    "kmv_union_merge": (q_kmv_union_merge, SQL_KMV_UNION_MERGE),
    "asof_staleness": (q_asof_staleness, SQL_ASOF_STALENESS),
    "leakage_audit": (q_leakage_audit, SQL_LEAKAGE_AUDIT),
    "feature_cross": (q_feature_cross, SQL_FEATURE_CROSS),
    "rank_int": (q_rank_int, SQL_RANK_INT),
    "kcore_peel": (q_kcore_peel, SQL_KCORE_PEEL),
    "kmeanspp_seeds": (q_kmeanspp_seeds, SQL_KMEANSPP_SEEDS),
    "embedding_outliers": (q_embedding_outliers, SQL_EMBEDDING_OUTLIERS),
    "token_budget_mix": (q_token_budget_mix, SQL_TOKEN_BUDGET_MIX),
    "dataset_card": (q_dataset_card, SQL_DATASET_CARD),
    "ks_drift": (q_ks_drift, SQL_KS_DRIFT),
    "asof_count_window": (q_asof_count_window, SQL_ASOF_COUNT_WINDOW),
    "asof_decay_feature": (q_asof_decay_feature, SQL_ASOF_DECAY_FEATURE),
    "asof_kth_recent": (q_asof_kth_recent, SQL_ASOF_KTH_RECENT),
    "join_range_bucketed": (q_join_range_bucketed, SQL_JOIN_RANGE_BUCKETED),
    "temporal_split": (q_temporal_split, SQL_TEMPORAL_SPLIT),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "sample_split": (q_sample_split, SQL_SAMPLE_SPLIT),
    "lang_balance_sample": (q_lang_balance_sample, SQL_LANG_BALANCE_SAMPLE),
    "sql_correlated": (q_sql_correlated, SQL_SQL_CORRELATED),
    "sql_groupby_all": (q_sql_groupby_all, SQL_SQL_GROUPBY_ALL),
    "sql_session_var": (q_sql_session_var, SQL_SQL_SESSION_VAR),
    "sql_exec_immediate": (q_sql_exec_immediate, SQL_SQL_EXEC_IMMEDIATE),
    "quantize_embed": (q_quantize_embed, SQL_QUANTIZE_EMBED),
    "quantile_norm": (q_quantile_norm, SQL_QUANTILE_NORM),
    "agg_vector": (q_agg_vector, SQL_AGG_VECTOR),
    "sql_recursive": (q_sql_recursive, SQL_SQL_RECURSIVE),
    "lateral_topk": (q_lateral_topk, SQL_LATERAL_TOPK),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "grouped_ols": (q_grouped_ols, SQL_GROUPED_OLS),
    "gini_skew": (q_gini_skew, SQL_GINI_SKEW),
    "pr_auc": (q_pr_auc, SQL_PR_AUC),
    "psi_drift": (q_psi_drift, SQL_PSI_DRIFT),
    "mutual_info": (q_mutual_info, SQL_MUTUAL_INFO),
    "scan_warclite": (q_scan_warclite, SQL_SCAN_WARCLITE),
    "variant_json": (q_variant_json, SQL_VARIANT_JSON),
    "scan_xml": (q_scan_xml, SQL_SCAN_XML),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "heavy_hitters": (q_heavy_hitters, SQL_HEAVY_HITTERS),
    "bloom_prefilter": (q_bloom_prefilter, SQL_BLOOM_PREFILTER),
    "ivm_merge": (q_ivm_merge, SQL_IVM_MERGE),
    "chi2_terms": (q_chi2_terms, SQL_CHI2_TERMS),
    "cohens_kappa": (q_cohens_kappa, SQL_COHENS_KAPPA),
    "label_prop": (q_label_prop, SQL_LABEL_PROP),
    "curriculum_order": (q_curriculum_order, SQL_CURRICULUM_ORDER),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "benford_audit": (q_benford_audit, SQL_BENFORD_AUDIT),
    "domain_weights": (q_domain_weights, SQL_DOMAIN_WEIGHTS),
    "length_buckets": (q_length_buckets, SQL_LENGTH_BUCKETS),
    "pmi_bigrams": (q_pmi_bigrams, SQL_PMI_BIGRAMS),
    "cdc_upsert": (q_cdc_upsert, SQL_CDC_UPSERT),
    "doc_chunk": (q_doc_chunk, SQL_DOC_CHUNK),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "join_full": (q_join_full, SQL_JOIN_FULL),
    "oov_rate": (q_oov_rate, SQL_OOV_RATE),
    "winsorize": (q_winsorize, SQL_WINSORIZE),
    "token_entropy": (q_token_entropy, SQL_TOKEN_ENTROPY),
    "dedup_crosscorpus": (q_dedup_crosscorpus, SQL_DEDUP_CROSSCORPUS),
    "fuzzy_join": (q_fuzzy_join, SQL_FUZZY_JOIN),
    "unpivot": (q_unpivot, SQL_UNPIVOT),
    "bpe_pair_counts": (q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "skew_report": (q_skew_report, SQL_SKEW_REPORT),
    "ewma": (q_ewma, None),
    "asof_tolerance": (q_asof_tolerance, SQL_ASOF_TOL),
    "asof_union_window": (q_asof_union_window, SQL_ASOF),
    "tpch_q18": (q_tpch_q18, SQL_TPCH_Q18),
    "contamination": (q_contamination, SQL_CONTAMINATION),
    "asof_forward": (q_asof_forward, SQL_ASOF_FORWARD),
    "asof_nearest": (q_asof_nearest, SQL_ASOF_NEAREST),
    "retention_cohorts": (q_retention_cohorts, SQL_RETENTION_COHORTS),
    "session_funnel": (q_session_funnel, SQL_SESSION_FUNNEL),
    "histogram": (q_histogram, SQL_HISTOGRAM),
    "tpch_q6": (q_tpch_q6, SQL_TPCH_Q6),
    "target_encode_loo": (q_target_encode_loo, SQL_TARGET_ENCODE_LOO),
    "zscore_norm": (q_zscore_norm, SQL_ZSCORE_NORM),
    "quality_repetition": (q_quality_repetition, SQL_QUALITY_REPETITION),
    "feature_hashing": (q_feature_hashing, SQL_FEATURE_HASHING),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "quality_unigram_lm": (q_quality_unigram_lm, SQL_QUALITY_UNIGRAM_LM),
    "clean_funnel": (q_clean_funnel, SQL_CLEAN_FUNNEL),
    "clean_docs": (q_clean_docs, SQL_CLEAN_DOCS),
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "seq_pack": (q_seq_pack, SQL_SEQ_PACK),
    "vocab_topv": (q_vocab_topv, SQL_VOCAB_TOPV),
    "scd2_intervals": (q_scd2_intervals, SQL_SCD2_INTERVALS),
    "dedup_paragraph": (q_dedup_paragraph, SQL_DEDUP_PARAGRAPH),
    "pit_features": (q_pit_features, SQL_PIT_FEATURES),
    "snapshot_diff": (q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "tpch_q4": (q_tpch_q4, SQL_TPCH_Q4),
    "tpch_q14": (q_tpch_q14, SQL_TPCH_Q14),
    "tpch_q16": (q_tpch_q16, SQL_TPCH_Q16),
    "grouped_corr": (q_grouped_corr, SQL_GROUPED_CORR),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "approx_percentile": (q_approx_percentile, None),
    "win_ntile": (q_win_ntile, SQL_WIN_NTILE),
    "win_first_last": (q_win_first_last, SQL_WIN_FIRST_LAST),
    "win_range_frame": (q_win_range_frame, SQL_WIN_RANGE_FRAME),
    "map_in_arrow": (q_map_in_arrow, SQL_MAP_IN_ARROW),
    "asof_range_scan": (q_asof_range_scan, SQL_ASOF),
    "agg_string_ordered": (q_agg_string_ordered, SQL_AGG_STRING_ORDERED),
    "extract_entities": (q_extract_entities, SQL_EXTRACT_ENTITIES),
    "gap_detection": (q_gap_detection, SQL_GAP_DETECTION),
    "dedup_windowed": (q_dedup_windowed, SQL_DEDUP_WINDOWED),
    "agg_approx_distinct": (q_agg_approx_distinct, None),
    "cumulative_reach": (q_cumulative_reach, SQL_CUMULATIVE_REACH),
    "rolling_active_users": (q_rolling_active_users, SQL_ROLLING_ACTIVE_USERS),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "url_normalize": (q_url_normalize, SQL_URL_NORMALIZE),
    "shard_assign": (q_shard_assign, SQL_SHARD_ASSIGN),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "zorder": (q_zorder, SQL_ZORDER),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "skew_salted": (q_skew_salted, SQL_ASOF_SALT),
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
    "ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "eval_rank_stats": (q_eval_rank_stats, SQL_EVAL_RANK_STATS),
    "scan_csv": (q_scan_csv, SQL_SCAN_CSV),
    "scalar_pandas_udf": (q_scalar_pandas_udf, SQL_SCALAR_PANDAS_UDF),
    "join_anti": (q_join_anti, SQL_JOIN_ANTI),
    "join_range": (q_join_range, SQL_JOIN_RANGE),
    "join_theta": (q_join_theta, SQL_JOIN_THETA),
    "tpch_q5": (q_tpch_q5, SQL_TPCH_Q5),
    "tpch_q10": (q_tpch_q10, SQL_TPCH_Q10),
    "asof_join": (q_asof_join, SQL_ASOF),
    "win_lag_lead": (q_win_lag_lead, SQL_WIN_LAG_LEAD),
    "win_rank": (q_win_rank, SQL_WIN_RANK),
    "win_rolling": (q_win_rolling, SQL_WIN_ROLLING),
    "win_cumsum": (q_win_cumsum, SQL_WIN_CUMSUM),
    "win_tumbling": (q_win_tumbling, SQL_WIN_TUMBLING),
    "win_sliding": (q_win_sliding, SQL_WIN_SLIDING),
    "win_session": (q_win_session, SQL_WIN_SESSION),
    "backfill": (q_backfill, SQL_BACKFILL),
    "topk_per_group": (q_topk_per_group, SQL_TOPK),
    "project_filter": (q_project_filter, SQL_PROJECT_FILTER),
    "null_handling": (q_null_handling, SQL_NULL_HANDLING),
    "sort_limit": (q_sort_limit, SQL_SORT_LIMIT),
    "agg_basic": (q_agg_basic, SQL_AGG_BASIC),
    "agg_distinct": (q_agg_distinct, SQL_AGG_DISTINCT),
    "agg_rollup": (q_agg_rollup, SQL_AGG_ROLLUP),
    "agg_cube": (q_agg_cube, SQL_AGG_CUBE),
    "agg_grouped_udf": (q_agg_grouped_udf, SQL_AGG_GROUPED_UDF),
    "agg_grouping_sets": (q_agg_grouping_sets, SQL_AGG_GROUPING_SETS),
    "agg_pivot": (q_agg_pivot, SQL_AGG_PIVOT),
    "agg_percentile": (q_agg_percentile, SQL_AGG_PERCENTILE),
    "explode_tokens": (q_explode_tokens, SQL_EXPLODE_TOKENS),
    "scalar_levenshtein": (q_scalar_levenshtein, SQL_SCALAR_LEVENSHTEIN),
    "udtf_shingles": (q_udtf_shingles, SQL_UDTF_SHINGLES),
    "join_inner": (q_join_inner, SQL_JOIN_INNER),
    "join_broadcast": (q_join_broadcast, SQL_JOIN_BROADCAST),
    "join_left": (q_join_left, SQL_JOIN_LEFT),
    "tpch_q3": (q_tpch_q3, SQL_TPCH_Q3),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "knn_cosine": (q_knn_cosine, SQL_KNN_COSINE),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "set_union": (q_set_union, SQL_SET_UNION),
    "set_except": (q_set_except, SQL_SET_EXCEPT),
    "scalar_string": (q_scalar_string, SQL_SCALAR_STRING),
    "scalar_hash": (q_scalar_hash, SQL_SCALAR_HASH),
    "scalar_datetime": (q_scalar_datetime, SQL_SCALAR_DATETIME),
    "scalar_math": (q_scalar_math, SQL_SCALAR_MATH),
    "scalar_array": (q_scalar_array, SQL_SCALAR_ARRAY),
    "scalar_json": (q_scalar_json, SQL_SCALAR_JSON),
    "scalar_map": (q_scalar_map, SQL_SCALAR_MAP),
    "synth_pages": (q_synth_pages, None),
    "scan_pages": (q_scan_pages, None),
    "sink_roundtrip": (q_sink_roundtrip, None),
    "featurize_documents": (q_featurize_documents, None),
    "minhash_near_dup": (q_minhash_near_dup, None),
    "simhash": (q_simhash, None),
    "doc_fingerprint": (q_doc_fingerprint, None),
    "dedup_clusters": (q_dedup_clusters, None),
    "media_features": (q_media_features, None),
    "media_resize": (q_media_resize, None),
    "media_frames": (q_media_frames, None),
    "crawl_coverage": (q_crawl_coverage, SQL_CRAWL_COVERAGE),
    "snapshot_churn": (q_snapshot_churn, SQL_SNAPSHOT_CHURN),
    "fold_period_strength": (
        q_fold_period_strength,
        SQL_FOLD_PERIOD_STRENGTH,
    ),
    "seasonal_anomaly_days": (
        q_seasonal_anomaly_days,
        SQL_SEASONAL_ANOMALY_DAYS,
    ),
    "isotonic_calibration": (q_isotonic_calibration, None),
    "matryoshka_eval": (q_matryoshka_eval, SQL_MATRYOSHKA_EVAL),
    "asof_bucketed": (q_asof_bucketed, SQL_ASOF_BUCKETED),
}
