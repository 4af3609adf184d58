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
build side is read once.

``asof_with_windows`` runs the flagship's lag/lead and session windows
on the same spine: the build-only ``lag``/``lead`` of one Window feed
the carried struct of the next, and the session id and snapshot index
are running sums in the carry's own frame. One exchange and one sort
serve all of it. Two physical layouts, parity-tested:

  * ``union_window`` (the default): the planner hash-clusters the
    tagged union on the key; the windows sort it once.
  * ``range_scan``: the mandate-literal shape (BASELINE.json:6
    "merge-scan over repartitionByRange(url) +
    sortWithinPartitions(warc_ts)"), which the windows reuse. It runs
    its input once more to sample bounds: the range partitioner's
    sampling job recomputes the union's children, so over a lazy
    ``featurize`` the Python featurizer runs twice.

Zero temporal leakage (BASELINE.json:6): the backward frame ends at the
current row with probes ordered after build rows at equal ts, so no
build row with ts > join_ts is ever read. Property-tested in
tests/test_leakage.py.

Skew (BASELINE.json:6 "salted range partitioning"): ``salt_k`` > 1
replicates every build row to all K salts and routes each probe row to
one hash-chosen salt, and the exchange and the window partition on
(key, salt): a hot url's probes spread over K tasks while every task
still sees the url's full build history — leakage-safe by
construction, and the windows over it stay exact. AQE skew-join
splitting is enabled globally (conf.py).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STRATEGIES = ("union_window", "range_scan")

# the columns asof_with_windows adds next to the matched build row
WINDOW_COLS = ("lag_gap_s", "lead_gap_s", "snapshot_idx", "session_id")


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str = "url",
    ts_probe: str = "join_ts",
    ts_build: str = "warc_ts",
    build_cols: Iterable[str] | None = None,
    strategy: str = "union_window",
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
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction}")
    return _asof_window(
        probe, build, key, ts_probe, ts_build, build_cols, strategy,
        salt_k, direction=direction, tolerance=tolerance,
    )


def asof_with_windows(
    probe: DataFrame,
    build: DataFrame,
    key: str = "url",
    ts_probe: str = "join_ts",
    ts_build: str = "warc_ts",
    build_cols: Iterable[str] | None = None,
    gap_seconds: int = 86400,
    strategy: str = "union_window",
    salt_k: int = 1,
) -> DataFrame:
    """Backward as-of join whose matched build row also carries the
    columns ``windows.with_lag_lead`` and ``windows.sessionize`` give
    it: equal to ``asof_join(probe, sessionize(with_lag_lead(build)),
    build_cols=[*build_cols, *WINDOW_COLS])``, computed on one exchange
    and one sort instead of two of each.

    Output = all probe columns + ``ts_build`` + ``build_cols`` +
    ``WINDOW_COLS`` (all null when no build row matches).
    """
    return _asof_window(
        probe, build, key, ts_probe, ts_build, build_cols, strategy,
        salt_k, gap_seconds=gap_seconds,
    )


def _micros(c):
    return F.unix_micros(c.cast("timestamp"))


def _asof_window(
    probe, build, key, ts_probe, ts_build, build_cols, strategy, salt_k,
    direction="backward", tolerance=None, gap_seconds=None,
):
    """The as-of as JVM window carries: tag and union both sides, then
    ``last(ignorenulls)`` of a struct that only build rows fill,
    ``struct(ts_build, *build_cols)``, over (key ORDER BY ts, side) hands
    every probe the latest build row at or before it. Build sorts before
    probe at equal ts (allow_exact_matches) and the frame ends at the
    current row, so no later build row is ever read (zero temporal
    leakage). Forward is the same carry over descending ts — build
    still sorts first at equal ts, so exact matches count. Carrying the
    whole struct keeps a matched row's null payload columns null
    instead of filling them from an older row, and a duplicated
    (key, ts) build row still yields one output row per probe.

    ``gap_seconds`` (backward only) adds the windows. A first Window
    takes each row's previous and next BUILD ts as ``lag``/``lead``
    IGNORE NULLS of a ts that probe rows leave null; the carried struct
    packs the gaps to them. In the carry's running frame, the count of
    build rows is the matched row's snapshot index + 1 and the sum of
    new-session flags its session id + 1: no build row sits between a
    probe and its match, and probe rows add nothing.

    ``range_scan`` lays the union out as ``repartitionByRange(key)`` +
    ``sortWithinPartitions(key, ts, side)`` in the first carry's ts
    order; the windows reuse both, so only nearest's second carry adds
    a Sort and nothing adds an Exchange. ``union_window`` leaves the
    hash exchange and the sort to the planner. ``salt_k`` > 1 appends
    the salt to every partitioning key.
    """
    if build_cols is None:
        build_cols = [
            c for c in build.columns if c not in (key, ts_build)
        ]
    build_cols = list(build_cols)
    added = WINDOW_COLS if gap_seconds is not None else ()
    clash = set(build_cols + [ts_build, *added]) & set(probe.columns)
    if clash:
        raise ValueError(f"build columns clash with probe columns: {clash}")
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown asof strategy: {strategy}")
    if salt_k < 1:
        raise ValueError(f"salt_k must be >= 1, got {salt_k}")
    part = [key]
    b = build.select(
        F.col(key),
        F.col(ts_build).alias("__ts"),
        F.lit(0).alias("__side"),
        *build_cols,
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
    if strategy == "range_scan":
        tagged = tagged.repartitionByRange(*part).sortWithinPartitions(
            *part, orders[0], "__side"
        )
    specs = [Window.partitionBy(*part).orderBy(o, "__side") for o in orders]
    running = [
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for w in specs
    ]
    is_build = F.col("__side") == 0
    payload = [F.col("__ts").alias(ts_build), *build_cols]
    counts = []
    if gap_seconds is not None:
        bts = "CASE WHEN __side = 0 THEN __ts END"
        tagged = tagged.select(
            "*",
            F.expr(f"lag({bts}) IGNORE NULLS").over(specs[0]).alias("__prev"),
            F.expr(f"lead({bts}) IGNORE NULLS").over(specs[0]).alias("__next"),
        )
        ts_us = _micros(F.col("__ts"))
        lag_us = ts_us - _micros(F.col("__prev"))
        payload += [
            (lag_us / F.lit(1_000_000)).alias("lag_gap_s"),
            ((_micros(F.col("__next")) - ts_us) / F.lit(1_000_000))
            .alias("lead_gap_s"),
        ]
        new_session = is_build & (
            lag_us.isNull() | (lag_us > gap_seconds * 1_000_000)
        )
        counts = [
            F.sum(c.cast("int")).over(running[0]).alias(name)
            for c, name in ((is_build, "__builds"), (new_session, "__sessions"))
        ]
    carries = [
        F.last(F.when(is_build, F.struct(*payload)), ignorenulls=True)
        .over(w).alias(f"__m{i}")
        for i, w in enumerate(running)
    ]
    carried = tagged.select(
        *probe.columns, "__ts", "__side", *carries, *counts
    ).where(F.col("__side") == 1)
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
    out = [m.getField(c).alias(c) for c in [ts_build] + build_cols]
    if gap_seconds is not None:
        matched = m.isNotNull()
        out += [
            m.getField("lag_gap_s").alias("lag_gap_s"),
            m.getField("lead_gap_s").alias("lead_gap_s"),
            F.when(matched, F.col("__builds") - 1).cast("int")
            .alias("snapshot_idx"),
            F.when(matched, F.col("__sessions") - 1).alias("session_id"),
        ]
    return carried.select(*probe.columns, *out)
