"""Point-in-time (as-of) join — the engine's core temporal operator.

The reference's benchmark stage compares every entity against every other
entity in an O(N²) pairwise loop (ref: acoss/benchmark/
algorithm_template.py::CoverAlgorithm.all_pairwise + per-algorithm
``similarity`` kernels [R]). The engine re-semanticizes that stage as a
point-in-time join (SURVEY.md §2.A A13/A14): each probe (url, join_ts)
is matched to the LATEST build row of the same url with
warc_ts <= join_ts — a merge-scan, not a cross product.

One kernel, a JVM window carry: tag both sides and union them, build
rows carrying their match as ONE struct(ts_build, *build_cols), and a
``last(ignorenulls)`` window over (key ORDER BY ts, side) hands every
probe the latest build row at or before it. Forward runs the same carry
over descending ts; nearest runs both and keeps the closer match. No
Python, no Arrow exchange of the payload, no payload re-join, and the
build side is read once. Two physical strategies, parity-tested:

  * ``range_scan`` (the default): the mandate-literal shape
    (BASELINE.json:6 "merge-scan over repartitionByRange(url) +
    sortWithinPartitions(warc_ts)"). The window reuses the range
    partitioning and the sort.
  * ``union_window``: the same carry, with the planner free to
    hash-cluster instead of range-partitioning.

Zero temporal leakage (BASELINE.json:6): the backward frame ends at the
current row with probes ordered after build rows at equal ts, so no
build row with ts > join_ts is ever read. Property-tested in
tests/test_leakage.py.

Skew (BASELINE.json:6 "salted range partitioning"): ``salt_k`` > 1
replicates every build row to all K salts and routes each probe row to
one hash-chosen salt, and the exchange and the window partition on
(key, salt): a hot url's probes spread over K tasks while every task
still sees the url's full build history — leakage-safe by
construction. AQE skew-join splitting is enabled globally (conf.py).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STRATEGIES = ("range_scan", "union_window")


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str = "url",
    ts_probe: str = "join_ts",
    ts_build: str = "warc_ts",
    build_cols: Iterable[str] | None = None,
    strategy: str = "range_scan",
    salt_k: int = 1,
    tolerance: pd.Timedelta | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each probe row, attach the latest build row of the
    same ``key`` with ``ts_build`` <= ``ts_probe`` (nulls if none).

    ``direction="forward"`` flips the scan: attach the EARLIEST build
    row with ``ts_build`` >= ``ts_probe``. Backward is the FEATURE path
    (zero temporal leakage, BASELINE.json:6); forward is the LABEL
    path — a training pipeline uses it to attach the outcome at the
    next snapshot (e.g. "did the page change by the next crawl"), where
    looking forward is the point, not a leak. ``direction="nearest"``
    attaches the build row minimizing ``|ts_build - ts_probe|``
    (ties -> the backward/earlier row, as in the pandas oracle) — the
    snapshot-alignment mode for joining two crawl streams sampled on
    different cadences. ``tolerance`` nulls a match farther than it
    from the probe; ``salt_k`` > 1 salts the partitioning (module
    docstring) without changing the result.

    Output = all probe columns + ``ts_build`` (matched, nullable) +
    ``build_cols``. Column names must be disjoint from probe's.
    """
    if build_cols is None:
        build_cols = [
            c for c in build.columns if c not in (key, ts_build)
        ]
    build_cols = list(build_cols)
    clash = set(build_cols + [ts_build]) & set(probe.columns)
    if clash:
        raise ValueError(f"build columns clash with probe columns: {clash}")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction}")
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown asof strategy: {strategy}")
    if salt_k < 1:
        raise ValueError(f"salt_k must be >= 1, got {salt_k}")
    return _asof_window(
        probe, build, key, ts_probe, ts_build, build_cols, tolerance,
        direction, salt_k, range_partition=strategy == "range_scan",
    )


def _micros(c):
    return F.unix_micros(c.cast("timestamp"))


def _asof_window(
    probe, build, key, ts_probe, ts_build, build_cols, tolerance,
    direction, salt_k, range_partition,
):
    """The as-of as JVM window carries: tag and union both sides, build
    rows carrying their match as ONE ``struct(ts_build, *build_cols)``
    and probe rows a null, then ``last(ignorenulls)`` over (key ORDER
    BY ts, side) hands every probe the latest build row at or before
    it. Build sorts before probe at equal ts (allow_exact_matches) and
    the frame ends at the current row, so no later build row is ever
    read (zero temporal leakage). Forward is the same carry over
    descending ts — build still sorts first at equal ts, so exact
    matches count. Carrying the whole struct keeps a matched row's null
    payload columns null instead of filling them from an older row, and
    a duplicated (key, ts) build row still yields one output row per
    probe.

    ``range_partition`` (range_scan) lays the union out as
    ``repartitionByRange(key)`` + ``sortWithinPartitions(key, ts,
    side)`` in the first carry's ts order; that window reuses both, so
    only nearest's second carry adds a Sort and no carry adds an
    Exchange. Without it (union_window) the planner hash-clusters.
    ``salt_k`` > 1 appends the salt to every partitioning key.
    """
    part = [key]
    b = build.select(
        F.col(key),
        F.col(ts_build).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(ts_build, *build_cols).alias("__m"),
    )
    p = probe.select(
        *probe.columns, F.col(ts_probe).alias("__ts"), F.lit(1).alias("__side")
    )
    if salt_k > 1:
        part.append("__salt")
        b = b.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_k - 1)))
        )
        p = p.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(ts_probe)), F.lit(salt_k))
        )
    tagged = b.unionByName(p, allowMissingColumns=True)
    # ts order of each carry; the null placement of the descending one
    # mirrors the ascending default, so a null-ts probe matches alike
    orders = {
        "backward": [F.col("__ts")],
        "forward": [F.col("__ts").desc_nulls_first()],
        "nearest": [F.col("__ts"), F.col("__ts").desc_nulls_first()],
    }[direction]
    if range_partition:
        tagged = tagged.repartitionByRange(*part).sortWithinPartitions(
            *part, orders[0], "__side"
        )
    carries = [
        F.last("__m", ignorenulls=True).over(
            Window.partitionBy(*part)
            .orderBy(o, "__side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias(f"__m{i}")
        for i, o in enumerate(orders)
    ]
    carried = tagged.select(*probe.columns, "__ts", "__side", *carries).where(
        F.col("__side") == 1
    )
    m = F.col("__m0")
    if direction == "nearest":
        # the forward match wins only when strictly closer: ties go to
        # the earlier row, as in the pandas oracle (crawlfe/oracle.py)
        back, fwd, ts = m, F.col("__m1"), _micros(F.col("__ts"))
        closer = back.isNull() | (
            _micros(fwd.getField(ts_build)) - ts
            < ts - _micros(back.getField(ts_build))
        )
        m = F.when(closer, fwd).otherwise(back)
    if tolerance is not None:
        # the oracle's tolerance semantics: a match farther than the
        # window from the probe becomes nulls
        tol_us = int(pd.Timedelta(tolerance).value // 1000)
        m = F.when(
            F.abs(_micros(F.col("__ts")) - _micros(m.getField(ts_build)))
            <= F.lit(tol_us),
            m,
        )
    return carried.select(
        *probe.columns,
        *[m.getField(c).alias(c) for c in [ts_build] + build_cols],
    )
