"""SparkSession construction + the engine's physical tuning surface.

Everything here is the tuning surface SURVEY.md §4.3 records for BENCH
sweeps: shuffle partitions, Arrow batch size, AQE (incl. skew-join
splitting — half of the BASELINE.json:6 skew mandate), broadcast
threshold. Defaults are measured on a 4 vCPU / 15 GB host (local[4])
and scale by ``defaultParallelism`` so the same code is right on a
1000-executor cluster (partitions ≈ 3×cores, never task-starved at 4N executors —
the north-rule scaling-efficiency criterion).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# rows per Arrow batch into featurize's mapInArrow and the pandas UDFs;
# fixture html averages ~580 B, so a batch carries ~2.4 MB of html
ARROW_BATCH = 4096


def engine_confs(parallelism: int) -> dict[str, str]:
    shuffle_parts = max(32, 3 * parallelism)
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.parquet.compression.codec": "zstd",
        # join co-partitioning may match on a SUBSET of join keys: a
        # self-join of a table bucketed on one of its join keys then
        # reads the storage partitioning instead of adding an Exchange
        # (tests/test_bucketing.py::test_bucketed_self_join_has_no_exchange)
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        # cluster mode: pin worker-side BLAS too (local mode inherits
        # the driver env set in get_spark)
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.executorEnv.MKL_NUM_THREADS": "1",
    }


def get_spark(
    app: str = "crawlfe", cores: int | None = None, extra: dict | None = None
) -> SparkSession:
    """local[cores] session with engine defaults (tests/bench entry)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count()
    # One BLAS/OMP thread per Python worker: Spark owns the core
    # allocation (one worker per task slot); numpy spawning a
    # threadpool per worker oversubscribes cores*threads and collapses
    # scaling (measured 6x slowdown on the cogroup kernel at 32 cores).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", os.environ.get("CRAWLFE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in engine_confs(cores).items():
        b = b.config(k, v)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
