"""Per-layer numbers for the traced run.

The featurize ladder and the temporal rungs are separate timed Spark
actions on the workload's own inputs, each adding one layer to the one
before: a layer's time is the difference between its rung and the rung
below. On ``flagship`` the top rung is one more untraced pass, timed
like the other rungs, so the layer times add up to it; on
``incremental_commit`` the io layers come from the traced passes' spans.
How close the sum is to the median untraced pass wall time is the
reconciliation the run prints.

The kernels run in this process without Spark, on a fixed html sample
in plain and attribute-dense variants.
"""

from __future__ import annotations

import inspect
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from crawlfe import extract as extract_mod
from crawlfe.asof import asof_join
from crawlfe.extract import extract_text
from crawlfe.features import featurize
from crawlfe.pipeline import feature_pipeline
from crawlfe.synth import SynthConfig, gen_pages_pdf
from crawlfe.textfeat import featurize_batch, sha256_hex
from crawlfe.windows import sessionize, with_lag_lead

from .engine import Tracer, merge_groups
from .fixtures import Fixture
from .workloads import DEFAULT_STRATEGY, PassContext, run_pass

SESSION_GAP_S = inspect.signature(feature_pipeline).parameters[
    "session_gap_s"].default
KERNEL_URLS = 150  # about a thousand documents per kernel sample
# each rung's time is the median of this many runs: the first also
# compiles its plan, which the measured passes have long done
RUNG_REPS = 3


# mapInPandas bodies of the featurize ladder: each does one more piece of
# features._featurize_iter's per-batch work and returns one row per batch,
# so almost nothing travels back from Python
def _transport(batches):
    for pdf in batches:
        yield pd.DataFrame({"n": [len(pdf)]})


def _extract(batches):
    for pdf in batches:
        texts = [extract_text(h) for h in pdf["html"]]
        yield pd.DataFrame({"n": [len(texts)]})


def _textfeat(batches):
    for pdf in batches:
        texts = [extract_text(h) for h in pdf["html"]]
        featurize_batch(texts)
        [sha256_hex(t) for t in texts]
        yield pd.DataFrame({"n": [len(texts)]})


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, group: str, action) -> float:
    spark.sparkContext.setJobGroup(group, group)
    times = []
    for _ in range(RUNG_REPS):
        t0 = time.perf_counter()
        action()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _featurize_rungs(spark, pages) -> dict[str, float]:
    html = pages.select("url", "warc_ts", "html")
    rungs = {
        "scan": lambda: _noop(html),
        "transport": lambda: _noop(html.mapInPandas(_transport, "n long")),
        "extract": lambda: _noop(html.mapInPandas(_extract, "n long")),
        "textfeat": lambda: _noop(html.mapInPandas(_textfeat, "n long")),
        "featurize": lambda: _noop(featurize(pages, use_html=True)),
    }
    return {k: _timed(spark, f"rung.{k}", f) for k, f in rungs.items()}


def _windowed(build):
    """The window half of feature_pipeline, called the same way."""
    return sessionize(
        with_lag_lead(build, "url", "warc_ts"), "url", "warc_ts", SESSION_GAP_S,
    ).select("url", "warc_ts", "text_sha256", "feat",
             "lag_gap_s", "lead_gap_s", "session_id")


def _temporal_rungs(spark, fx: Fixture, build, probes) -> dict[str, float]:
    def kernel():
        out = asof_join(probes, _windowed(build), key="url", ts_probe="join_ts",
                        ts_build="warc_ts", build_cols=[],
                        strategy=DEFAULT_STRATEGY)
        out.agg(F.count(F.lit(1)), F.count("warc_ts")).first()

    return {
        "windows": _timed(spark, "rung.windows", lambda: _noop(_windowed(build))),
        "asof_kernel": _timed(spark, "rung.asof_kernel", kernel),
        "pipeline": _timed(spark, "rung.pipeline", lambda: run_pass(
            spark, fx, PassContext(Tracer(False), ""))),
    }


def ladder(spark, fx: Fixture, tracer: Tracer, n_traced: int) -> dict[str, float]:
    """Layer times (seconds per pass) for the workload's traced pass."""
    m = dict.fromkeys((
        "features.scan_s", "features.transport_s", "extract.stage_s",
        "textfeat.stage_s", "features.encode_s", "windows.s",
        "asof.kernel_s", "asof.rejoin_s", "pipeline.s", "io.stage_s",
        "io.lineage_s", "io.commit_s", "io.read_s",
    ), 0.0)
    read = spark.read.parquet
    # incremental_commit featurizes each input snapshot in its own job,
    # so its rungs run per snapshot too
    tables = (["pages"] if fx.workload == "flagship"
              else [f"snap-{k}" for k in range(fx.spec["n_snapshots"])])
    f = dict.fromkeys(("scan", "transport", "extract", "textfeat",
                       "featurize"), 0.0)
    for name in tables:
        for k, v in _featurize_rungs(spark, read(fx.path(name))).items():
            f[k] += v
    m["features.scan_s"] = f["scan"]
    m["features.transport_s"] = f["transport"] - f["scan"]
    m["extract.stage_s"] = f["extract"] - f["transport"]
    m["textfeat.stage_s"] = f["textfeat"] - f["extract"]
    m["features.encode_s"] = f["featurize"] - f["textfeat"]
    below = f["featurize"]
    if fx.workload == "incremental_commit":
        per = 1.0 / n_traced
        stage = tracer.total("io.stage") * per
        commit = tracer.total("io.commit") * per
        batches = tracer.total("pipeline.commit_batch") * per
        m["io.stage_s"] = stage - below
        m["io.commit_s"] = commit
        m["io.lineage_s"] = batches - stage - commit
        m["io.read_s"] = tracer.total("io.read") * per
        m["pipeline.s"] = tracer.total("pipeline.run_incremental") * per - below
        return m
    t = _temporal_rungs(spark, fx, featurize(read(fx.path("pages"))),
                        read(fx.path("probes")))
    m["windows.s"] = t["windows"] - below
    m["asof.kernel_s"] = t["asof_kernel"] - t["windows"]
    m["asof.rejoin_s"] = t["pipeline"] - t["asof_kernel"]
    m["pipeline.s"] = t["pipeline"] - below
    return m


LADDER_KEYS = (
    "features.scan_s", "features.transport_s", "extract.stage_s",
    "textfeat.stage_s", "features.encode_s", "windows.s", "asof.kernel_s",
    "asof.rejoin_s", "io.stage_s", "io.lineage_s", "io.commit_s", "io.read_s",
)


def _us_per_doc(fn, n_docs: int, min_s: float = 0.25) -> float:
    times: list[float] = []
    while len(times) < 3 or sum(times) < min_s:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_docs * 1e6


def _fallback_frac(html: list[bytes]) -> float:
    """Share of documents the fast scanner hands to the reference parser,
    or -1.0 when the extractor no longer exposes its fast path."""
    scan = getattr(extract_mod, "_fast_scan", None)
    fallback = getattr(extract_mod, "_Fallback", None)
    if scan is None or fallback is None:
        return -1.0
    n = 0
    for h in html:
        try:
            scan(bytes(h).decode("utf-8", errors="replace"))
        except fallback:
            n += 1
    return n / len(html)


def kernels(seed: int) -> dict[str, float]:
    out = {}
    for pre, attr in (("", 0.0), ("attr_", 0.85)):
        cfg = SynthConfig(seed=seed, n_urls=KERNEL_URLS, attr_frac=attr)
        html = list(gen_pages_pdf(cfg, 0, KERNEL_URLS)["html"])
        n = len(html)
        out[f"extract.{pre}us_per_doc"] = _us_per_doc(
            lambda: [extract_text(h) for h in html], n)
        out[f"extract.{pre}fallback_frac"] = _fallback_frac(html)
        texts = [extract_text(h) for h in html]
        out[f"textfeat.{pre}us_per_doc"] = _us_per_doc(
            lambda: featurize_batch(texts), n)
        out[f"textfeat.{pre}sha256_us_per_doc"] = _us_per_doc(
            lambda: [sha256_hex(t) for t in texts], n)
    return out


def engine_metrics(groups: dict, walls: list[float], cores: int) -> dict:
    """Per-pass SparkListenerTaskEnd sums over the untraced passes, plus
    the Python traffic of one run of the full featurize rung."""
    acc, n = merge_groups(groups, "pass.untraced.")
    n = max(n, 1)
    feat, _ = merge_groups(groups, "rung.featurize")
    return {
        "spark.executor_run_s": acc["run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": acc["cpu_ns"] / 1e9 / n,
        "spark.gc_s": acc["gc_ms"] / 1e3 / n,
        "spark.shuffle_write_bytes": acc["shuffle_write"] / n,
        "spark.shuffle_read_bytes": acc["shuffle_read"] / n,
        "spark.spill_bytes": acc["spill"] / n,
        "spark.tasks": acc["tasks"] / n,
        "spark.tasks_failed": acc["tasks_failed"] / n,
        "spark.core_busy_frac": acc["run_ms"] / 1e3 / (sum(walls) * cores),
        "spark.python_bytes_sent": acc["py_sent"] / n,
        "spark.python_bytes_received": acc["py_recv"] / n,
        "features.python_bytes_sent": feat["py_sent"] / RUNG_REPS,
        "features.python_bytes_received": feat["py_recv"] / RUNG_REPS,
    }
