"""Point-in-time (as-of) join — the engine's core temporal operator.

The reference's benchmark stage compares every entity against every other
entity in an O(N²) pairwise loop (ref: acoss/benchmark/
algorithm_template.py::CoverAlgorithm.all_pairwise + per-algorithm
``similarity`` kernels [R]). The engine re-semanticizes that stage as a
point-in-time join (SURVEY.md §2.A A13/A14): each probe (url, join_ts)
is matched to the LATEST build row of the same url with
warc_ts <= join_ts — a merge-scan, not a cross product.

Four physical strategies, identical backward semantics (all tested for
parity):

  * ``range_scan`` (the flagship default of ``feature_pipeline``): the
    mandate-literal shape (BASELINE.json:6 "merge-scan over
    repartitionByRange(url) + sortWithinPartitions(warc_ts)"). Tag both
    sides and union them, build rows carrying their match as ONE
    struct(ts_build, *build_cols), then ``repartitionByRange(key)`` +
    ``sortWithinPartitions(key, ts, side)`` and a ``last(ignorenulls)``
    window carry over (key ORDER BY ts, side). The window reuses the
    range partitioning and the sort, so the merge-scan runs in the JVM:
    no Python, no Arrow exchange of the payload, no payload re-join,
    and the build side is read once.
  * ``union_window``: the same struct carry, with the planner free to
    hash-cluster instead of range-partitioning.
  * ``merge_scan`` (``asof_join``'s own default; it and the slim
    variant are the only strategies with forward/nearest and salting):
    hash-bucket both sides on the key, cogroup, and run a vectorized
    two-pointer scan (pd.merge_asof) per bucket. Buckets (not raw urls)
    are the cogroup key so groups stay large and few — at 10^12 rows,
    per-url groups would mean billions of tiny Arrow exchanges. Within
    a bucket the kernel sorts by ts and merges with by=key. Every
    payload column crosses the Arrow boundary.
  * ``merge_scan_slim``: the same kernel run on (key, ts) ONLY; matched
    build payloads are re-attached by a JVM-side equi join on (key,
    matched ts), so under salting only the slim build side is
    replicated K times. Requires build unique per (key, ts), and reads
    the build side twice (a lazy build side is computed twice).

Zero temporal leakage (BASELINE.json:6): merge_asof(direction="backward",
allow_exact_matches=True) can never read a build row with ts > join_ts;
the window frame ends at the current row with probes ordered after
build rows at equal ts. Property-tested in tests/test_leakage.py.

Skew (BASELINE.json:6 "salted range partitioning"): ``salt_k`` > 1 on
the merge-scan strategies replicates every build row to all K salt
buckets and routes each probe row to one hash-chosen bucket, so a hot
url's probes spread over K tasks while every task still sees the url's
full build history — leakage-safe by construction. The window
strategies reject ``salt_k`` > 1. AQE skew-join splitting is enabled
globally (conf.py).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

DEFAULT_BUCKETS = 256
# strategies that run the pandas merge_asof kernel: only they take
# direction="forward"/"nearest" and salt_k > 1
MERGE_SCAN_STRATEGIES = ("merge_scan", "merge_scan_slim")
STRATEGIES = MERGE_SCAN_STRATEGIES + ("range_scan", "union_window")


def _out_schema(
    probe: DataFrame, build: DataFrame, ts_build: str, build_cols: list[str]
) -> StructType:
    fields = list(probe.schema.fields)
    bmap = {f.name: f for f in build.schema.fields}
    fields.append(StructField(ts_build, bmap[ts_build].dataType, True))
    for c in build_cols:
        f = bmap[c]
        fields.append(StructField(c, f.dataType, True))
    return StructType(fields)


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str = "url",
    ts_probe: str = "join_ts",
    ts_build: str = "warc_ts",
    build_cols: Iterable[str] | None = None,
    strategy: str = "merge_scan",
    num_buckets: int = DEFAULT_BUCKETS,
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
    (ties -> the backward/earlier row, pd.merge_asof semantics) — the
    snapshot-alignment mode for joining two crawl streams sampled on
    different cadences. Only the merge-scan strategies support
    forward/nearest (the kernel is pd.merge_asof, which takes the
    direction natively).

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
    if direction != "backward" and strategy not in MERGE_SCAN_STRATEGIES:
        raise ValueError(
            f"strategy {strategy!r} supports only direction='backward'; "
            "use merge_scan or merge_scan_slim for forward"
        )
    if salt_k > 1 and strategy not in MERGE_SCAN_STRATEGIES:
        # a window strategy has no buckets to salt; ignoring salt_k
        # would silently run the unsalted plan
        raise ValueError(
            f"strategy {strategy!r} does not support salt_k > 1; "
            "use merge_scan or merge_scan_slim for salting"
        )
    if strategy == "merge_scan":
        return _asof_merge_scan(
            probe, build, key, ts_probe, ts_build, build_cols,
            num_buckets, salt_k, tolerance, direction,
        )
    if strategy == "merge_scan_slim":
        return _asof_merge_scan_slim(
            probe, build, key, ts_probe, ts_build, build_cols,
            num_buckets, salt_k, tolerance, direction,
        )
    return _asof_window(
        probe, build, key, ts_probe, ts_build, build_cols, tolerance,
        range_partition=strategy == "range_scan",
    )


def _asof_merge_scan(
    probe, build, key, ts_probe, ts_build, build_cols,
    num_buckets, salt_k, tolerance, direction="backward",
):
    schema = _out_schema(probe, build, ts_build, build_cols)
    probe_cols = list(probe.columns)
    b_needed = [key, ts_build] + build_cols

    # Alias every build column to a fresh name BEFORE the cogroup: when
    # probe and build derive from the same source relation (self-as-of),
    # Catalyst deduplicates attribute ids across the two cogroup children
    # and then prunes "duplicate" columns off the build side, handing the
    # kernel a frame without the join key. Fresh aliases = fresh exprIds
    # = no cross-side dedup. The kernel strips the prefix back off.
    pfx = "__r_"
    bsel = build.select(*[F.col(c).alias(pfx + c) for c in b_needed])
    rkey = pfx + key

    if salt_k > 1:
        # probe rows go to ONE hash-chosen salt bucket; build rows are
        # replicated to ALL of them -> every task sees the full history.
        p = probe.withColumn(
            "__b",
            F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)) * salt_k
            + F.pmod(F.xxhash64(F.col(ts_probe)), F.lit(salt_k)),
        )
        b = (
            bsel
            .withColumn("__s", F.explode(F.sequence(F.lit(0), F.lit(salt_k - 1))))
            .withColumn(
                "__b",
                F.pmod(F.xxhash64(F.col(rkey)), F.lit(num_buckets)) * salt_k
                + F.col("__s"),
            )
            .drop("__s")
        )
    else:
        p = probe.withColumn(
            "__b", F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets))
        )
        b = bsel.withColumn(
            "__b", F.pmod(F.xxhash64(F.col(rkey)), F.lit(num_buckets))
        )

    def kernel(pl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
        if len(pl) == 0:
            return pd.DataFrame(columns=[f.name for f in schema.fields])
        pl = pl.drop(columns="__b").sort_values(
            ts_probe, kind="mergesort", ignore_index=True
        )
        pr = pr.rename(
            columns=lambda c: c[len(pfx):] if c.startswith(pfx) else c
        )
        if len(pr) == 0 or key not in pr.columns:
            # bucket has probes but no build history: all-null attach
            # (Spark may hand an empty column-less frame here)
            merged = pl
            try:
                merged[ts_build] = pd.Series(
                    [None] * len(pl), dtype=pl[ts_probe].dtype
                )
            except (TypeError, ValueError):
                merged[ts_build] = None
            for c in build_cols:
                merged[c] = None
            return merged[probe_cols + [ts_build] + build_cols]
        pr = pr.drop(columns="__b", errors="ignore").sort_values(
            ts_build, kind="mergesort", ignore_index=True
        )
        merged = pd.merge_asof(
            pl,
            pr,
            left_on=ts_probe,
            right_on=ts_build,
            by=key,
            direction=direction,
            allow_exact_matches=True,
            tolerance=tolerance,
        )
        merged = merged[probe_cols + [ts_build] + build_cols]
        # unmatched probes: merge_asof fills NaN; object-typed columns
        # (arrays, strings) must carry real None for Arrow
        for c in [ts_build] + build_cols:
            col = merged[c]
            if col.dtype == object:
                mask = col.isna()
                if mask.any():
                    merged[c] = col.where(~mask, None)
        return merged

    return (
        p.groupBy("__b")
        .cogroup(b.groupBy("__b"))
        .applyInPandas(kernel, schema=schema)
    )


def _asof_merge_scan_slim(
    probe, build, key, ts_probe, ts_build, build_cols,
    num_buckets, salt_k, tolerance, direction="backward",
):
    """Merge-scan on (key, ts) only + JVM payload re-join.

    The cogroup kernel decides WHICH build snapshot each probe matches
    (slim columns through Arrow); the fat build payload is attached by
    an equi join on (key, matched_ts) that stays in Tungsten row format
    end-to-end. Build must be unique per (key, ts_build) — duplicate
    snapshots would fan out the join (merge_asof would instead pick the
    last), so we assume the snapshot invariant of the pages table.
    """
    slim_build = build.select(key, ts_build)
    matched = _asof_merge_scan(
        probe, slim_build, key, ts_probe, ts_build, [],
        num_buckets, salt_k, tolerance, direction,
    )
    # DataFrame aliases (not column renames) keep the build side's
    # attribute ids, so an upstream hash partitioning on `key` (e.g.
    # the window stage that computed lag/session features) satisfies
    # the join's clustering and only the SLIM matched side is
    # re-shuffled — the fat payload never moves twice.
    m, p = matched.alias("__m"), build.alias("__p")
    joined = m.join(
        p,
        (F.col(f"__m.{key}") == F.col(f"__p.{key}"))
        & (F.col(f"__m.{ts_build}") == F.col(f"__p.{ts_build}")),
        "left",
    )
    return joined.select(
        *[F.col(f"__m.{c}") for c in probe.columns],
        F.col(f"__m.{ts_build}").alias(ts_build),
        *[F.col(f"__p.{c}") for c in build_cols],
    )


def _asof_window(
    probe, build, key, ts_probe, ts_build, build_cols, tolerance,
    range_partition,
):
    """Backward as-of as one JVM window carry: tag and union both sides,
    build rows carrying their match as ONE ``struct(ts_build,
    *build_cols)`` and probe rows a null, then ``last(ignorenulls)``
    over (key ORDER BY ts, side) hands every probe the latest build row
    at or before it. Build sorts before probe at equal ts
    (allow_exact_matches) and the frame ends at the current row, so no
    later build row is ever read (zero temporal leakage). Carrying the
    whole struct keeps a matched row's null payload columns null instead
    of filling them from an older row, and a duplicated (key, ts) build
    row still yields one output row per probe.

    ``range_partition`` (range_scan) lays the union out as
    ``repartitionByRange(key)`` + ``sortWithinPartitions(key, ts,
    side)``; the window reuses both, so the plan adds no other Exchange
    or Sort. Without it (union_window) the planner hash-clusters.
    """
    from pyspark.sql import Window

    b = build.select(
        F.col(key),
        F.col(ts_build).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(ts_build, *build_cols).alias("__m"),
    )
    p = probe.select(
        *probe.columns, F.col(ts_probe).alias("__ts"), F.lit(1).alias("__side")
    )
    tagged = b.unionByName(p, allowMissingColumns=True)
    if range_partition:
        tagged = tagged.repartitionByRange(key).sortWithinPartitions(
            key, "__ts", "__side"
        )
    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        *probe.columns,
        "__ts",
        "__side",
        F.last("__m", ignorenulls=True).over(w).alias("__m"),
    ).where(F.col("__side") == 1)
    names = [ts_build] + build_cols
    matched = [F.col("__m").getField(c) for c in names]
    if tolerance is not None:
        # merge_asof tolerance semantics: the carried match is the
        # latest prior row; if it is older than the window, the probe
        # gets nulls. A conditional projection — still zero Python.
        tol_us = int(pd.Timedelta(tolerance).value // 1000)
        ok = (
            F.unix_micros(F.col("__ts").cast("timestamp"))
            - F.unix_micros(matched[0].cast("timestamp"))
        ) <= F.lit(tol_us)
        matched = [F.when(ok, c) for c in matched]
    return carried.select(
        *probe.columns,
        *[c.alias(n) for c, n in zip(matched, names)],
    )
