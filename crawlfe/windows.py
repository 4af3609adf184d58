"""Windowed temporal feature operators: lag/lead, rolling, sessionize,
backfill — all declarative Window functions (zero Python in the hot
path; every operator here runs inside whole-stage codegen).

Reference analogs (SURVEY.md §2.A): lag/lead gap features are the
crawl-cadence analog of beat/tempo tracking (ref: acoss/features.py::
AudioFeatures.madmom_features [R]); rolling frames mirror the
subsequence rolling-profile semantics of ref: acoss/benchmark/
simple_silva.py::Simple [R]; rank/top-k mirrors the rank fusion of ref:
acoss/benchmark/latefusion_chen.py [R]. Sessionize and backfill have no
reference counterpart — mandated directly by BASELINE.json:14.

Scale note: every function partitions by the entity key, so one shuffle
on (key) serves all of them; callers chain them on the SAME partitioning
and Catalyst reuses the exchange (verified in tests via explain()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _w(key: str, ts: str) -> Window:
    return Window.partitionBy(key).orderBy(ts)


def _us(col):
    """Epoch microseconds of a TIMESTAMP or TIMESTAMP_NTZ column (the
    session timezone is pinned to UTC in conf.py, so the cast is exact)."""
    return F.unix_micros(col.cast("timestamp"))


def with_lag_lead(
    df: DataFrame, key: str = "url", ts: str = "warc_ts"
) -> DataFrame:
    """Inter-snapshot gap features (seconds to prev/next snapshot)."""
    w = _w(key, ts)
    prev_ts = F.lag(ts).over(w)
    next_ts = F.lead(ts).over(w)
    return (
        df.withColumn(
            "lag_gap_s",
            (_us(F.col(ts)) - _us(prev_ts)) / F.lit(1_000_000),
        )
        .withColumn(
            "lead_gap_s",
            (_us(next_ts) - _us(F.col(ts))) / F.lit(1_000_000),
        )
        .withColumn("snapshot_idx", F.row_number().over(w) - F.lit(1))
    )


def with_rolling(
    df: DataFrame, col: str, key: str = "url", ts: str = "warc_ts", k: int = 3
) -> DataFrame:
    """Rolling mean/min/max of `col` over the current + (k-1) preceding
    snapshots of the same entity."""
    w = _w(key, ts).rowsBetween(-(k - 1), 0)
    return (
        df.withColumn(f"roll_mean_{col}", F.avg(col).over(w))
        .withColumn(f"roll_min_{col}", F.min(col).over(w))
        .withColumn(f"roll_max_{col}", F.max(col).over(w))
    )


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rank",
) -> DataFrame:
    """Exact GLOBAL 1-based row_number WITHOUT the single-partition
    window (`Window.orderBy(...)` with no partitionBy moves the whole
    table to one task — the classic scale-killer). Instead:
    range-repartition on the sort key, row_number within each
    partition, then add each partition's broadcast prefix offset
    (the offsets table is O(shuffle partitions) rows, and its own
    tiny window runs over those few rows only).

    REQUIREMENT: ``order_cols`` must define a TOTAL order (include a
    unique tie-break column). Ties that straddle a range boundary
    would otherwise get an arbitrary relative order. Both branches
    (local ranks and partition sizes) hang off the same range
    exchange, which Spark computes once and reuses (ReusedExchange),
    so the partition ids agree by construction.
    """
    d = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("__pid").orderBy(*order_cols)
    d = d.withColumn("__lrk", F.row_number().over(wloc))
    sizes = d.groupBy("__pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = sizes.select(
        "__pid",
        F.coalesce(F.sum("__n").over(woff), F.lit(0))
        .cast("bigint")
        .alias("__off"),
    )
    return (
        d.join(F.broadcast(offs), "__pid")
        .withColumn(
            out_col, (F.col("__lrk") + F.col("__off")).cast("bigint")
        )
        .drop("__pid", "__lrk", "__off")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list,
    val_col: str,
    out_col: str = "run_sum",
) -> DataFrame:
    """Exact GLOBAL running sum of ``val_col`` WITHOUT the
    single-partition window — the cumulative-sum twin of
    ``global_row_number`` (same two-phase shape): range-repartition
    on the sort key, cumsum within each partition, then add each
    partition's broadcast prefix offset (sum of all earlier
    partitions' totals; the offsets table is O(shuffle partitions)
    rows and its own tiny window runs over those few rows only).

    REQUIREMENT: ``order_cols`` must define a TOTAL order (include a
    unique tie-break column) — ties straddling a range boundary
    would otherwise get an arbitrary relative order. ``val_col``
    must be integral (BIGINT sums stay exact; doubles would make
    the result association-order-dependent)."""
    d = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn(
        "__lsum", F.sum(val_col).over(wloc).cast("bigint")
    )
    sizes = d.groupBy("__pid").agg(
        F.sum(val_col).cast("bigint").alias("__n")
    )
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = sizes.select(
        "__pid",
        F.coalesce(F.sum("__n").over(woff), F.lit(0))
        .cast("bigint")
        .alias("__off"),
    )
    return (
        d.join(F.broadcast(offs), "__pid")
        .withColumn(
            out_col, (F.col("__lsum") + F.col("__off")).cast("bigint")
        )
        .drop("__pid", "__lsum", "__off")
    )


def latest_snapshot(
    df: DataFrame, key: str = "url", ts: str = "warc_ts"
) -> DataFrame:
    """Latest row per entity (rank-based dedup)."""
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def sessionize(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    gap_seconds: int = 86400,
) -> DataFrame:
    """Gap-based sessionization (BASELINE.json:14): a new session starts
    when the gap to the previous snapshot exceeds ``gap_seconds``.
    session_id is 0-based per entity (lag + conditional cumsum)."""
    w = _w(key, ts)
    gap_us = _us(F.col(ts)) - _us(F.lag(ts).over(w))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    df = df.withColumn("__new", new_sess)
    wc = _w(key, ts).rowsBetween(Window.unboundedPreceding, 0)
    return (
        df.withColumn("session_id", F.sum("__new").over(wc) - F.lit(1))
        .drop("__new")
    )


def session_bounds(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    gap_seconds: int = 86400,
) -> DataFrame:
    """sessions table (FIXTURES.md §A): one row per (entity, session)."""
    s = sessionize(df, key, ts, gap_seconds)
    return s.groupBy(key, "session_id").agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_snapshots"),
    )


def backfill_grid(
    df: DataFrame,
    value_cols: list[str],
    key: str = "url",
    ts: str = "warc_ts",
    step: str = "1 day",
) -> DataFrame:
    """Backfill (BASELINE.json:14): materialize a regular ``step`` grid
    from each entity's first to last snapshot (sequence + explode), then
    forward-fill value columns with last(ignorenulls) — observed rows
    keep their values; grid slots carry the most recent observation.

    Output: key, grid_ts, <value_cols...>, backfilled boolean.
    """
    bounds = df.groupBy(key).agg(
        F.min(ts).alias("__t0"), F.max(ts).alias("__t1")
    )
    grid = bounds.select(
        key,
        F.explode(
            F.sequence(
                F.col("__t0"), F.col("__t1"), F.expr(f"interval {step}")
            )
        ).alias("grid_ts"),
    ).withColumn("__obs", F.lit(0))
    obs = df.select(
        F.col(key),
        F.col(ts).alias("grid_ts"),
        F.lit(1).alias("__obs"),
        *[F.col(c) for c in value_cols],
    )
    # grid slots that collide with an observation are dropped (the
    # observation wins); union + forward-fill ordered by (ts, __obs)
    unioned = grid.join(
        obs.select(key, "grid_ts").withColumn("__hit", F.lit(1)),
        on=[key, "grid_ts"],
        how="left",
    ).where(F.col("__hit").isNull()).drop("__hit")
    for c in value_cols:
        unioned = unioned.withColumn(
            c, F.lit(None).cast(df.schema[c].dataType)
        )
    all_rows = obs.unionByName(unioned)
    w = (
        Window.partitionBy(key)
        .orderBy("grid_ts", F.col("__obs").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = all_rows.select(
        key,
        "grid_ts",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
        (F.col("__obs") == 0).alias("backfilled"),
    )
    return filled
