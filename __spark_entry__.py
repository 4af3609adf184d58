"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: full crawlfe temporal feature pipeline over the
               sf0.001 events table (featurize-analog + as-of join +
               lag/lead + sessionize), SURVEY.md §7 M1.
queries()    — one entry per implemented operator from SURVEY.md §2.B
               (registry in the crawlfe/queries package).
oracle_sql() — DuckDB oracle twins; rows-only ops omit theirs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from crawlfe.queries import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The engine spine over the events stand-in table: purchases are the
    snapshot history (build side), clicks are the probe grid; attach the
    latest prior purchase with its lag/lead gaps, snapshot index and
    session id, all on one as-of spine — the asof_features shape of
    FIXTURES.md §A.
    """
    from pyspark.sql import functions as F

    from crawlfe.asof import asof_with_windows

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    build = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    probe = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("join_ts"), "event_id"
    )
    return asof_with_windows(
        probe,
        build,
        key="user_id",
        ts_probe="join_ts",
        ts_build="ts",
        build_cols=["purchase_value"],
        gap_seconds=1800,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Every computed column is aliased identically to its oracle twin.
    """
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins (same column names/values as the
    Spark queries). Rows-only ops (non-SQL-expressible) are omitted."""
    return {
        name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None
    }
