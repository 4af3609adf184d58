"""The driver registry is exactly the SURVEY.md §2.B surface plus the
engine spine.

Every identifier-like backticked name in SURVEY.md §2.B is either a
registry key or one of the Spark / Python names in ``NOT_KEYS``.  A new
key needs a §2.B row (or a deliberate entry in ``EXTRA_KEYS``); a §2.B
key cannot drop out of the registry unnoticed.

``KEYLESS_MODULES`` pins the ``crawlfe/queries`` modules that hold no
registry function. The set only shrinks: deleting one means removing it
here, and a new keyless module fails the test.
"""

from __future__ import annotations

import re
from pathlib import Path

from crawlfe.queries import REGISTRY

SURVEY = Path(__file__).resolve().parent.parent / "SURVEY.md"
QUERIES = Path(__file__).resolve().parent.parent / "crawlfe" / "queries"

# Backticked §2.B names that are Spark functions, Python APIs, table or
# helper names, not driver query keys.
NOT_KEYS = frozenset({
    "aggregate", "approx_count_distinct", "array_contains",
    "array_distinct", "array_intersect", "array_union", "as_of", "binary",
    "coalesce", "concat", "cube", "cume_dist", "date_trunc", "dense_rank",
    "documents", "element_at", "embeddings", "ewm", "explode", "filter",
    "first_value", "from_json", "get_json_object", "hash", "intersect",
    "last_value", "lead", "length", "levenshtein", "log1p", "lower",
    "make_timestamp", "map", "map_keys", "md5", "merge_kernel",
    "merge_schema", "nth_value", "ntile", "pandas_udf", "parse_json",
    "parse_url", "percent_rank", "percentile_approx", "pmod", "posexplode",
    "rank", "regexp_extract", "regexp_extract_all", "regexp_replace",
    "row_number", "sequence", "size", "slice", "split", "sqrt",
    "stream_clean", "stream_state", "stream_state_metadata", "substring",
    "timestampdiff", "transform", "try_variant_get", "unix_timestamp",
    "where", "xml", "xxhash64", "zip_with",
})

# Keys outside §2.B: the as-of engine-spine variants §2.B predates, the
# keys jobs/corpus_monitor.py runs, and the real-string parity key of
# tests/test_feature_parity.py.
EXTRA_KEYS = frozenset({
    "asof_bucketed", "asof_decay_feature", "asof_count_window",
    "asof_kth_recent",
    "benford_audit", "dataset_card", "ks_drift", "mutual_info", "psi_drift",
    "featurize_documents",
})


# Query modules with no registry function (``__init__`` and ``_shared``
# aside). Nothing outside their own pack tests reaches them.
KEYLESS_MODULES = frozenset({
    "agreement", "bitemporal", "breaks", "causal2", "classifier_eval",
    "corpusqc", "coxsnm", "crawlgraph", "crawlops", "curation2",
    "dataqc", "decompose", "diversity", "embedgeom", "encoders", "evt2",
    "experiments", "factorize", "fdr2", "forecast_eval",
    "forecast_eval2", "freqmoments", "graph_cent", "layout", "llm_eval",
    "lmeval2", "matching", "meta", "methodcmp", "minhash_eval",
    "mining", "model_audit", "momentq", "neighbors", "nominal",
    "ordinal", "overlap_eval", "popest", "pq", "pricing", "privacy",
    "privacy2", "qte", "queueing", "raters", "regdiag", "robreg",
    "robust", "seqtest2", "seqtest3", "spark4api", "sql4",
    "stats_anova", "stats_behave", "stats_dist", "stats_links",
    "stats_rank", "stats_strat", "stats_tail", "storeops", "stylo",
    "surveystat", "survival2", "tpch_extra",
})


def _survey_keys() -> set[str]:
    lines = SURVEY.read_text().splitlines()
    start = next(i for i, ln in enumerate(lines) if ln.startswith("### 2.B"))
    end = next(
        i for i in range(start + 1, len(lines))
        if lines[i].startswith(("## ", "### "))
    )
    names = re.findall(r"`([^`]+)`", "\n".join(lines[start:end]))
    return {n for n in names if re.fullmatch(r"[a-z][a-z0-9_]*", n)} - NOT_KEYS


def test_every_survey_key_resolves():
    keys = _survey_keys()
    assert len(keys) == 183
    assert sorted(keys - set(REGISTRY)) == []


def test_registry_is_the_keep_list():
    keep = _survey_keys() | EXTRA_KEYS
    assert sorted(set(REGISTRY) - keep) == []
    assert sorted(keep - set(REGISTRY)) == []


def test_keyless_modules_only_shrink():
    keyed = {fn.__module__ for fn, _ in REGISTRY.values()}
    keyless = {
        p.stem for p in QUERIES.glob("*.py")
        if p.stem not in ("__init__", "_shared")
        and f"crawlfe.queries.{p.stem}" not in keyed
    }
    assert sorted(keyless - KEYLESS_MODULES) == []
    assert sorted(KEYLESS_MODULES - keyless) == []
