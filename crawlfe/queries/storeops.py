"""Feature-eng pack #75 (r4): table-layout planning + feature-store
monitoring + truncation dedup.

* ``scan_split_plan`` — FilePartition/read-split planning emulation:
  the small-files problem at 10^12 rows is solved by packing files
  into splits by CUMULATIVE size under a target budget — exactly what
  Spark's `spark.sql.files.maxPartitionBytes` bin-packing and an
  Iceberg compaction planner do.  Files here are the (day, hour)
  event groups (bytes proxied by the exact cents sum); the split id
  is the exclusive-prefix-sum DIV budget — one ordered window per
  day partition, no driver loop.  Output audits the plan: files,
  splits, max split size vs budget.
* ``online_offline_skew`` — the feature-store training/serving skew
  monitor: OFFLINE = each user's as-of feature at the day-15 training
  cutoff (latest event ≤ cutoff, the PIT rule), ONLINE = the latest
  event overall.  Reports exact integer drift counts (n_changed,
  mean |Δcents|) plus a Laplace-smoothed 5-bin PSI between the two
  distributions — the one-row dashboard a serving stack alarms on.
  Two window-rank passes over the fat table, O(bins) arithmetic after.
* ``dedup_prefix`` — truncation-duplicate detection (the Common-Crawl
  re-crawl artifact where one capture is a cut-off prefix of
  another): block on the first-40-char group, verify the full prefix
  equality ONLY within blocks (never all-pairs), require
  short.n_chars < long.n_chars.  Docs under 40 chars are outside the
  contract (documented: the block key is the 40-char prefix).  The
  verify touches text but the join key is the tiny block hash — the
  LSH-family shape every dedup op in this registry uses.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_SPLIT_BUDGET_CENTS = 50_000  # split-size budget (bytes proxy)
_SKEW_CUTOFF_DAY = 15
_SKEW_BIN_CENTS = 2500
_SKEW_MAX_BIN = 4
_PREFIX_BLOCK_CHARS = 40


def q_scan_split_plan(spark, sf_dir):
    """Pack (day, hour) files into read splits by exclusive prefix
    sum DIV budget within each day, then audit the plan per day:
    n_files, n_splits, max_split_bytes, total_bytes.  The only wide
    operation is the per-day ordered window over O(24) file rows."""
    e = _t(spark, sf_dir, "events")
    files = e.groupBy(
        F.dayofmonth("ts").alias("day"), F.hour("ts").alias("hr")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("bytes")
    )
    w = (
        Window.partitionBy("day")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    ).withColumn(
        "split_id",
        F.expr(f"cum_before DIV {_SPLIT_BUDGET_CENTS}"),
    )
    per_split = planned.groupBy("day", "split_id").agg(
        F.count(F.lit(1)).alias("files_in_split"),
        F.sum("bytes").alias("split_bytes"),
    )
    return per_split.groupBy("day").agg(
        F.sum("files_in_split").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).cast("bigint").alias("n_splits"),
        F.max("split_bytes").cast("bigint").alias("max_split_bytes"),
        F.sum("split_bytes").cast("bigint").alias("total_bytes"),
    )


def q_online_offline_skew(spark, sf_dir):
    """Training/serving skew: offline = as-of value at the day-15
    cutoff (PIT rule: latest event with day ≤ 15 per user), online =
    latest event overall.  One row: users scored both ways, how many
    changed, exact mean |Δ| in cents, and the smoothed 5-bin PSI
    online-vs-offline."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.dayofmonth("ts").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    rk = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    online = (
        e.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("cents").alias("on_cents"))
    )
    offline = (
        e.where(F.col("day") <= _SKEW_CUTOFF_DAY)
        .withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("cents").alias("off_cents"))
    )
    both = online.join(offline, "user_id").withColumn(
        "on_bin",
        F.least(
            F.lit(_SKEW_MAX_BIN),
            F.expr(f"on_cents DIV {_SKEW_BIN_CENTS}"),
        ),
    ).withColumn(
        "off_bin",
        F.least(
            F.lit(_SKEW_MAX_BIN),
            F.expr(f"off_cents DIV {_SKEW_BIN_CENTS}"),
        ),
    )
    bins = None
    for side in ("on", "off"):
        s = both.groupBy(F.col(f"{side}_bin").alias("bin")).agg(
            F.count(F.lit(1)).alias(f"{side}_n")
        )
        bins = s if bins is None else bins.join(s, "bin", "full")
    k = _SKEW_MAX_BIN + 1
    n_row = both.agg(F.count(F.lit(1)).alias("n_users"))
    psi_terms = bins.na.fill({"on_n": 0, "off_n": 0}).crossJoin(
        F.broadcast(n_row)
    ).select(
        (
            (
                (F.col("on_n") + 1) / (F.col("n_users") + k)
                - (F.col("off_n") + 1) / (F.col("n_users") + k)
            )
            * F.log(
                ((F.col("on_n") + 1) / (F.col("n_users") + k))
                / ((F.col("off_n") + 1) / (F.col("n_users") + k))
            )
        ).alias("term")
    )
    psi = psi_terms.agg(F.round(F.sum("term"), 6).alias("psi"))
    stats = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(
            (F.col("on_cents") != F.col("off_cents")).cast("int")
        ).cast("bigint").alias("n_changed"),
        F.round(
            F.sum(F.abs(F.col("on_cents") - F.col("off_cents")))
            / (100.0 * F.count(F.lit(1))),
            4,
        ).alias("mean_abs_diff"),
    )
    return stats.crossJoin(F.broadcast(psi))


def q_dedup_prefix(spark, sf_dir):
    """Truncation-duplicate pairs: short.text is an exact prefix of
    long.text with strictly fewer chars.  Candidate pairs come ONLY
    from equal first-40-char blocks (a tiny equi-join key — the
    blocked-dedup shape); the prefix verify runs inside the block.
    Output: short_id, long_id, short_chars, long_chars."""
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= _PREFIX_BLOCK_CHARS)
        .select(
            "doc_id",
            "text",
            "n_chars",
            F.md5(F.substring("text", 1, _PREFIX_BLOCK_CHARS)).alias(
                "blk"
            ),
        )
    )
    a = d.select(
        F.col("doc_id").alias("short_id"),
        F.col("text").alias("short_text"),
        F.col("n_chars").alias("short_chars"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("long_id"),
        F.col("text").alias("long_text"),
        F.col("n_chars").alias("long_chars"),
        F.col("blk").alias("blk2"),
    )
    return (
        a.join(
            b,
            (F.col("blk") == F.col("blk2"))
            & (F.col("short_chars") < F.col("long_chars")),
        )
        .where(
            F.expr(
                "substring(long_text, 1, CAST(short_chars AS INT))"
                " = short_text"
            )
        )
        .select("short_id", "long_id", "short_chars", "long_chars")
    )
