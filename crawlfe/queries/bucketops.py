"""Storage-bucketed as-of join (``asof_bucketed``): both sides are
written as tables bucketed by the join key, and the re-read join
cogroups them on the stored bucket with no Exchange below the kernel
(``_asof_bucketed_df`` says why; tests/test_plans.py pins the plan).
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t, _us

_ASOF_BKT_N = 8  # storage buckets (both sides must match)


def _asof_bucketed_df(spark, sf_dir):
    """Storage-bucketed as-of join: write probe (clicks) and build
    (purchases) tables ``bucketBy(8, bkt)`` where ``bkt =
    pmod(xxhash64(user_id), 8)`` — then cogroup the two
    catalog tables ON the stored bucket column.  The bucketed scans
    report HashPartitioning(bkt, 8), which satisfies the cogroup's
    required clustered distribution on BOTH children, so the plan has
    NO Exchange anywhere below the kernel (pinned by
    tests/test_plans.py::test_asof_bucketed_no_exchange).  This is the
    100 TB re-read pattern: a features/snapshot table is written once,
    bucketed by its join key, and every later point-in-time join
    against it costs zero shuffle — the layout IS the shuffle, paid
    once at write time.  The kernel is a per-user backward
    ``pd.merge_asof`` (asof_join's semantics), applied within each
    stored bucket."""
    import os

    import pandas as pd

    from ._shared import _scratch_dir

    ev = _t(spark, sf_dir, "events")
    bkt = F.pmod(F.xxhash64("user_id"), F.lit(_ASOF_BKT_N)).cast("int")
    probe = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), "event_id",
        bkt.alias("bkt"),
    )
    build = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
        F.col("value").alias("purchase_value"), bkt.alias("bkt"),
    )
    root = _scratch_dir("asof_bucketed")
    for name, df in (
        ("crawlfe_asofb_probe", probe), ("crawlfe_asofb_build", build)
    ):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(root, name))
            .bucketBy(_ASOF_BKT_N, "bkt")
            .sortBy("bkt")
            .saveAsTable(name)
        )
    p = spark.table("crawlfe_asofb_probe")
    b = spark.table("crawlfe_asofb_build")

    out_schema = (
        "user_id bigint, click_ts timestamp_ntz, event_id bigint, "
        "b_ts timestamp_ntz, purchase_value double"
    )

    def kernel(pl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
        if len(pl) == 0:
            return pd.DataFrame(
                columns=[
                    "user_id", "click_ts", "event_id", "b_ts",
                    "purchase_value",
                ]
            )
        pl = pl.drop(columns="bkt").sort_values(
            "click_ts", kind="mergesort", ignore_index=True
        )
        if len(pr) == 0 or "b_user" not in pr.columns:
            pl["b_ts"] = pd.Series([None] * len(pl), dtype=pl["click_ts"].dtype)
            pl["purchase_value"] = None
            return pl
        pr = pr.drop(columns="bkt").sort_values(
            "b_ts", kind="mergesort", ignore_index=True
        )
        merged = pd.merge_asof(
            pl, pr, left_on="click_ts", right_on="b_ts",
            left_by="user_id", right_by="b_user", direction="backward",
            allow_exact_matches=True,
        )
        return merged[
            ["user_id", "click_ts", "event_id", "b_ts", "purchase_value"]
        ]

    return (
        p.groupBy("bkt")
        .cogroup(b.groupBy("bkt"))
        .applyInPandas(kernel, schema=out_schema)
    )


def q_asof_bucketed(spark, sf_dir):
    """As-of join over the storage-bucketed layout (zero-Exchange
    re-read path); result identical to ``asof_join``'s merge-scan —
    the oracle is the same DuckDB ASOF LEFT JOIN."""
    j = _asof_bucketed_df(spark, sf_dir)
    return j.select(
        "user_id",
        "event_id",
        _us("click_ts").alias("click_ts_us"),
        _us("b_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


SQL_ASOF_BUCKETED = """
WITH probe AS (
  SELECT user_id, ts AS click_ts, event_id FROM events
  WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts, value AS purchase_value FROM events
  WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.event_id,
       epoch_us(p.click_ts) AS click_ts_us,
       epoch_us(b.ts) AS purchase_ts_us,
       round(b.purchase_value, 4) AS purchase_value
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.click_ts >= b.ts
"""
