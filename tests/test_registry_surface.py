"""The driver registry is exactly the SURVEY.md §2.B surface plus the
engine spine.

Every identifier-like backticked name in SURVEY.md §2.B is either a
registry key or one of the Spark / Python names in ``NOT_KEYS``.  A new
key needs a §2.B row (or a deliberate entry in ``EXTRA_KEYS``); a §2.B
key cannot drop out of the registry unnoticed.

``KEYLESS_MODULES`` pins the ``crawlfe/queries`` modules that hold no
registry function. The set only shrinks: deleting one means removing it
here, and a new keyless module fails the test.

Every ``q_*`` function in a keyed module must be reachable by name
references from a ``REGISTRY`` value, a name that non-test code imports
from the package, a test hook, or a call the module body makes at
import. Every other function and class defined in ``crawlfe/queries``
must be reachable from those roots or from a keyless module's ``q_*``.
Module constants are exempt (tests pin some of them).
"""

from __future__ import annotations

import ast
import dis
import importlib
import pkgutil
import re
import types
from pathlib import Path

from test_dangling_globals import _code_roots, _nested

import crawlfe.queries
from crawlfe.queries import REGISTRY

ROOT = Path(__file__).resolve().parent.parent
SURVEY = ROOT / "SURVEY.md"
QUERIES = ROOT / "crawlfe" / "queries"

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
    "corpusqc", "crawlgraph", "crawlops", "curation2",
    "dataqc", "decompose", "diversity", "encoders", "evt2",
    "experiments", "factorize",
    "forecast_eval2", "graph_cent", "layout", "llm_eval",
    "meta", "methodcmp",
    "mining", "model_audit", "neighbors", "nominal",
    "overlap_eval", "popest", "pq", "pricing", "privacy",
    "privacy2", "qte", "queueing", "raters",
    "seqtest2", "seqtest3", "spark4api", "sql4",
    "stats_behave", "stats_dist", "stats_links", "stats_rank",
    "stats_tail", "storeops", "stylo",
    "survival2", "tpch_extra",
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


# Non-test code whose imports from crawlfe.queries are roots.
CALLERS = ("crawlfe/*.py", "jobs/*.py", "scripts/*.py", "bench.py",
           "__spark_entry__.py")

# Test hooks the package exports that no registry function calls.
TEST_HOOKS = (crawlfe.queries._patched_tables,)


def _imported_from_queries():
    """Objects non-test code imports from ``crawlfe.queries*``,
    function-local imports included."""
    for pattern in CALLERS:
        for path in sorted(ROOT.glob(pattern)):
            package = ".".join(path.relative_to(ROOT).parts[:-1])
            for node in ast.walk(ast.parse(path.read_text())):
                if not isinstance(node, ast.ImportFrom):
                    continue
                name = node.module or ""
                if node.level:
                    base = package.rsplit(".", node.level - 1)[0]
                    name = f"{base}.{name}" if name else base
                if not name.startswith("crawlfe.queries"):
                    continue
                mod = importlib.import_module(name)
                for alias in node.names:
                    yield getattr(mod, alias.name)


def _import_time_calls(mod):
    """Functions the module body calls while the module is imported."""
    ns = vars(mod)
    for node in ast.parse(Path(mod.__file__).read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            continue
        for sub in ast.walk(node):
            if (isinstance(sub, ast.Call) and isinstance(sub.func, ast.Name)
                    and sub.func.id in ns):
                yield ns[sub.func.id]


def _unwrap(obj):
    """The Python function behind a ``udf``/``pandas_udf`` wrapper."""
    while not isinstance(obj, type):
        inner = getattr(obj, "__wrapped__", None) or getattr(obj, "func", None)
        if not isinstance(inner, types.FunctionType) or inner is obj:
            break
        obj = inner
    return obj


def _queries_modules():
    yield crawlfe.queries
    for info in pkgutil.iter_modules(crawlfe.queries.__path__):
        yield importlib.import_module(f"crawlfe.queries.{info.name}")


def _defined(mod):
    for obj in vars(mod).values():
        obj = _unwrap(obj)
        if (isinstance(obj, (types.FunctionType, type))
                and obj.__module__ == mod.__name__):
            yield obj


def _reached(roots):
    seen: dict[int, object] = {}
    todo = list(roots)
    while todo:
        obj = todo.pop()
        if id(obj) in seen:
            continue
        if isinstance(obj, (dict, list, tuple, set, frozenset)):
            seen[id(obj)] = obj
            todo.extend(obj.values() if isinstance(obj, dict) else obj)
            continue
        obj = _unwrap(obj)
        ours = (isinstance(obj, (types.FunctionType, type))
                and (obj.__module__ or "").startswith("crawlfe.queries"))
        if not ours or id(obj) in seen:
            continue
        seen[id(obj)] = obj
        if isinstance(obj, type):
            todo.extend(vars(obj).values())
            continue
        ns = obj.__globals__
        todo.extend(obj.__defaults__ or ())
        for root in _code_roots(obj):
            for code in _nested(root):
                for ins in dis.get_instructions(code):
                    if ins.opname == "LOAD_GLOBAL" and ins.argval in ns:
                        todo.append(ns[ins.argval])
    return seen


def _short(obj):
    return f"{obj.__module__.rsplit('.', 1)[-1]}.{obj.__name__}"


def test_every_queries_function_is_reached():
    mods = list(_queries_modules())
    roots = [fn for fn, _ in REGISTRY.values()]
    roots += [*_imported_from_queries(), *TEST_HOOKS]
    for mod in mods:
        roots += _import_time_calls(mod)
    reached = _reached(roots)
    keyless = {f"crawlfe.queries.{m}" for m in KEYLESS_MODULES}
    unreached_q = sorted(
        _short(obj) for mod in mods if mod.__name__ not in keyless
        for obj in _defined(mod)
        if obj.__name__.startswith("q_") and id(obj) not in reached
    )
    assert unreached_q == []
    keyless_q = [
        obj for mod in mods if mod.__name__ in keyless
        for obj in _defined(mod) if obj.__name__.startswith("q_")
    ]
    reached = _reached(roots + keyless_q)
    unreached = sorted(
        f"{obj.__module__}.{obj.__qualname__}"
        for mod in mods for obj in _defined(mod) if id(obj) not in reached
    )
    assert unreached == []
