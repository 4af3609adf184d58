"""The workloads: one timed pass each, the check of its output,
and the oracle parity on the fixture's url sample.

A pass calls only the engine's public entry points (``featurize``,
``feature_pipeline``, ``run_incremental``, ``IcebergLite``) on the
fixture's parquet inputs and ends in one Spark action. Its check runs
after the timer stops and compares what the action returned with the
values ``perfbench.fixtures`` derived from ``crawlfe.oracle``.
"""

from __future__ import annotations

import inspect
import os
import shutil
import sys
from contextlib import ExitStack, contextmanager
from unittest import mock

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import crawlfe.pipeline
from crawlfe.features import featurize
from crawlfe.io import IcebergLite
from crawlfe.oracle import assert_feature_parity, oracle_features
from crawlfe.pipeline import feature_pipeline, run_incremental

from .engine import Tracer, wrapped
from .fixtures import CORE_COLS, Fixture, core_checksum, oracle_pipeline, read_pdf, xxh

# the as-of strategy feature_pipeline runs when the caller names none,
# which is what jobs/featurize.py runs too
DEFAULT_STRATEGY = inspect.signature(feature_pipeline).parameters[
    "strategy"].default


class PassContext:
    """Per-run state a pass needs: its tracer, a scratch directory for
    tables it writes, and the per-snapshot commit latencies it records."""

    def __init__(self, tracer: Tracer, scratch: str):
        self.tracer = tracer
        self.scratch = scratch
        self.commit_s: list[float] = []
        self.n = 0
        self.last_table: IcebergLite | None = None


def run_pass(spark, fx: Fixture, ctx: PassContext) -> dict:
    """One timed unit of work; returns what its final action produced."""
    ctx.n += 1
    sp = ctx.tracer.span
    if fx.workload == "incremental_commit":
        return _incremental_pass(spark, fx, ctx)
    with sp("features.featurize"):
        feats = featurize(spark.read.parquet(fx.path("pages")), use_html=True)
    with sp("pipeline.feature_pipeline"):
        out = feature_pipeline(feats, spark.read.parquet(fx.path("probes")))
    with sp("spark.action"):
        r = out.agg(
            F.count(F.lit(1)), F.count_if("matched"), core_checksum(out),
            xxh(*CORE_COLS, "feat"),
        ).first()
    return {"rows": r[0], "matched": r[1], "checksum": str(r[2]),
            "full_checksum": str(r[3])}


def _incremental_pass(spark, fx: Fixture, ctx: PassContext) -> dict:
    table_dir = os.path.join(ctx.scratch, f"table-{ctx.n}")
    shutil.rmtree(table_dir, ignore_errors=True)
    table = IcebergLite(table_dir)
    n = fx.spec["n_snapshots"]
    batches = [(f"snap-{k}", spark.read.parquet(fx.path(f"snap-{k}")))
               for k in range(n)]
    tr = ctx.tracer
    with ExitStack() as stack:
        stack.enter_context(wrapped(crawlfe.pipeline, "commit_batch", tr,
                                    "pipeline.commit_batch", ctx.commit_s))
        stack.enter_context(wrapped(IcebergLite, "stage", tr, "io.stage"))
        stack.enter_context(wrapped(IcebergLite, "commit", tr, "io.commit"))
        with tr.span("pipeline.run_incremental"):
            done = run_incremental(spark, batches, table)
        with tr.span("io.read"):
            rows = table.read(spark).count()
    ctx.last_table = table
    return {"rows": rows, "committed": len(done)}


def check(spark, fx: Fixture, got: dict, first: dict | None,
          ctx: PassContext) -> list[str]:
    """Problems with one pass's output (empty when it is correct)."""
    exp = fx.expected
    bad = []
    if got["rows"] != exp["rows"]:
        bad.append(f"rows {got['rows']} != {exp['rows']}")
    if fx.workload == "flagship":
        if got["matched"] != exp["matched"]:
            bad.append(f"matched {got['matched']} != {exp['matched']}")
        if got["checksum"] != exp["checksum"]:
            bad.append("output checksum differs from the oracle's")
        if first is not None and got["full_checksum"] != first["full_checksum"]:
            bad.append("feature checksum differs between passes")
        return bad
    table = ctx.last_table
    manifests = table.manifests()
    if got["committed"] != exp["snapshots"] or len(manifests) != exp["snapshots"]:
        bad.append(f"{len(manifests)} manifests for {exp['snapshots']} snapshots")
    df = table.read(spark)
    h = df.agg(xxh("url", "warc_ts", "text_sha256")).first()[0]
    if str(h) != exp["checksum"]:
        bad.append("table checksum differs from the reference extractor's")
    lineage = [r for m in manifests for r in m["lineage"]]
    lin_hash = 0
    for r in lineage:
        lin_hash ^= int(r["feature_hash"])
    if str(lin_hash) != exp["checksum"]:
        bad.append("lineage feature_hash differs from the reference extractor's")
    if sum(int(r["n_rows"]) for r in lineage) != exp["rows"]:
        bad.append("lineage n_rows do not add up to the table rows")
    return bad


def table_stats(table: IcebergLite, rows: int) -> dict:
    files = table.data_files()
    size = sum(os.path.getsize(f) for f in files)
    return {"io.bytes_written": size, "io.files_committed": len(files),
            "io.bytes_per_page": size / rows if rows else 0.0}


def parity(spark, fx: Fixture, ctx: PassContext) -> None:
    """crawlfe.oracle parity on the fixture's url sample; raises
    AssertionError on any mismatch."""
    urls = fx.expected["sample_urls"]
    sel = F.col("url").isin(urls)
    if fx.workload == "incremental_commit":
        got = ctx.last_table.read(spark).where(sel).select(
            "url", "warc_ts", "text_sha256", "feat").toPandas()
        ref = oracle_features(read_pdf(fx.path("pages"),
                                       ["url", "warc_ts", "html"], urls))
        assert_feature_parity(_us(got), ref)
        return
    # the matched rows carry text_sha256 and feat, so this also checks
    # the featurize output of every snapshot some probe matched
    feats = featurize(spark.read.parquet(fx.path("pages")).where(sel))
    probes = spark.read.parquet(fx.path("probes")).where(sel)
    got = feature_pipeline(feats, probes).toPandas()
    ref_feats = oracle_features(read_pdf(fx.path("pages"),
                                         ["url", "warc_ts", "html"], urls))
    ref = oracle_pipeline(
        ref_feats[["url", "warc_ts", "text_sha256", "feat"]],
        read_pdf(fx.path("probes"), ["url", "join_ts"], urls),
        extra_cols=["feat"],
    )
    _assert_same_asof(_us(got), ref)


def _us(pdf: pd.DataFrame) -> pd.DataFrame:
    for c in ("warc_ts", "join_ts"):
        if c in pdf:
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf


def _assert_same_asof(got: pd.DataFrame, ref: pd.DataFrame) -> None:
    key = ["url", "join_ts"]
    g = got.sort_values(key, kind="mergesort", ignore_index=True)
    r = ref.sort_values(key, kind="mergesort", ignore_index=True)
    assert len(g) == len(r), f"as-of rows {len(g)} != {len(r)}"
    for c in ("url", "join_ts", "warc_ts", "text_sha256"):
        gc, rc = g[c].where(g[c].notna(), None), r[c].where(r[c].notna(), None)
        assert gc.tolist() == rc.tolist(), f"as-of column {c} differs"
    for c in ("lag_gap_s", "lead_gap_s", "session_id"):
        assert np.allclose(g[c].astype(float), r[c].astype(float),
                           equal_nan=True), f"as-of column {c} differs"
    hit = r["warc_ts"].notna().to_numpy()
    if hit.any():
        gf = np.stack(g["feat"].to_numpy()[hit])
        rf = np.stack(r["feat"].to_numpy()[hit])
        assert np.allclose(gf, rf, rtol=1e-9, atol=1e-12), "as-of feat differs"


@contextmanager
def faulty_output(kind: str):
    """A deliberately wrong result the self-test expects to be caught, on
    every url whose hash is 0 mod 7: "rows" drops those rows from the
    program's output, "text" gives them the sha256 of a wrong page text,
    as a broken extractor would."""

    def corrupt(df):
        hit = F.pmod(F.xxhash64("url"), F.lit(7)) == 0
        if kind == "rows":
            return df.where(~hit)
        wrong = F.when(hit, F.sha2(F.concat(F.lit("x"), F.col("url")), 256))
        return df.withColumn("text_sha256",
                             wrong.otherwise(F.col("text_sha256")))

    def wrapping(fn):
        def inner(*args, **kwargs):
            return corrupt(fn(*args, **kwargs))
        return inner

    this = sys.modules[__name__]
    flagship_fn = "feature_pipeline" if kind == "rows" else "featurize"
    with mock.patch.object(this, flagship_fn,
                           wrapping(getattr(this, flagship_fn))), \
            mock.patch.object(crawlfe.pipeline, "featurize",
                              wrapping(crawlfe.pipeline.featurize)):
        yield
