"""Feature-eng packs #50-#53: JSONL/partitioned sources, experimentation suite, rollups, cross-series structure.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import SESSION_GAP_S, _scratch_dir, _t, _us  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #50: JSONL source, partitioned-sink pruned
# roundtrip, daily activity Gini, top-k revenue share
# --------------------------------------------------------------------------

def q_scan_jsonl(spark, sf_dir):
    """JSONL (newline-delimited JSON) SOURCE: materialize a small
    deterministic manifest as .jsonl in a fresh tempdir, read it
    back with an EXPLICIT schema (schema inference is a scan tax at
    100 TB — never pay it twice), and join against the events
    aggregate — the third text-source face next to `scan_csv` and
    `scan_xml`. The manifest is per-call tempdir-scoped (no shared
    /tmp path, the scan_csv lesson)."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    tmpdir = _scratch_dir("scan_jsonl")
    rows = [
        {"event_type": "view", "tier": "low", "weight": 1},
        {"event_type": "click", "tier": "mid", "weight": 2},
        {"event_type": "signup", "tier": "mid", "weight": 3},
        {"event_type": "purchase", "tier": "high", "weight": 5},
        {"event_type": "error", "tier": "low", "weight": 0},
    ]
    path = _os.path.join(tmpdir, "manifest.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(_json.dumps(r, sort_keys=True) + "\n")
    man = spark.read.schema(
        "event_type string, tier string, weight bigint"
    ).json(path)
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        agg.join(F.broadcast(man), "event_type")
        .select(
            "event_type",
            "tier",
            "weight",
            "n",
            F.expr("CAST(weight * n AS BIGINT)").alias("weighted_n"),
        )
    )


def q_partitioned_roundtrip(spark, sf_dir):
    """PARTITIONED SINK + PRUNED SCAN roundtrip: write the events
    aggregate partitioned by event_type to a fresh tempdir, read it
    back with a partition filter, and verify the pruned slice — the
    write-side layout contract of a 100 TB table (partition columns
    become directories; the read back scans ONE directory, which
    tests/test_plans-style pruning assertions rely on).

    The written payload is the tiny per-(type, day) aggregate, not
    raw rows; the roundtrip proves sink/scan fidelity, the oracle
    recomputes the same slice relationally."""
    import tempfile as _tempfile

    e = _t(spark, sf_dir, "events")
    agg = e.groupBy(
        "event_type",
        F.dayofmonth("ts").cast("int").alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
    )
    out = _scratch_dir("partitioned_roundtrip")
    agg.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = (
        spark.read.parquet(out)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_type",
            "day",
            "n",
            "cents",
            F.expr("CAST(cents AS DOUBLE) / (100.0 * n)").alias(
                "mean_value"
            ),
        )
    )
    return back


def q_daily_gini(spark, sf_dir):
    """DAILY ACTIVITY GINI per event type — how concentrated is a
    type's traffic across the days of the month (0 = perfectly even,
    ->1 = one burst day)? The temporal-concentration twin of
    `lorenz_curve` (which bins users by value). Exact integer
    machinery: counts ranked by (count, day), Gini =
    (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) — all bigint sums on
    the tiny dense daily grid, one float division."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
    )
    types = e.select("event_type").distinct()
    raw = (
        e.select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("c", "day")
    ranked = grid.select(
        "event_type",
        "c",
        F.row_number().over(wr).cast("bigint").alias("i"),
    )
    per = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr("i * c")).cast("bigint").alias("si"),
    )
    return per.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        F.round(
            F.expr(
                "(2.0 * si - (n_days + 1.0) * s)"
                " / (CAST(n_days AS DOUBLE) * s)"
            ),
            6,
        ).alias("gini"),
    )


def q_value_share_topk(spark, sf_dir):
    """TOP-K REVENUE SHARE: the fraction of total purchase revenue
    contributed by the top 10 / 100 / 1000 single purchases — the
    whale-dependence metric every revenue review opens with
    (`lorenz_curve` gives user deciles; this is the head of the
    transaction distribution). Exact: cumulative cent sums over the
    (cents desc, event_id) rank window, three conditional folds."""
    e = _t(spark, sf_dir, "events")
    wr = Window.orderBy(F.col("cents").desc(), F.col("event_id").asc())
    ranked = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .select(
            "cents",
            F.row_number().over(wr).cast("bigint").alias("rk"),
        )
    )
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "k int")
    per = (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum(F.expr("CASE WHEN rk <= k THEN cents ELSE 0 END"))
            .cast("bigint")
            .alias("topk_cents"),
        )
    )
    return per.select(
        "k",
        "n_purchases",
        F.expr("CAST(total_cents AS DOUBLE) / 100.0").alias(
            "total_value"
        ),
        F.expr("CAST(topk_cents AS DOUBLE) / 100.0").alias(
            "topk_value"
        ),
        F.round(
            F.expr("CAST(topk_cents AS DOUBLE) / total_cents"), 6
        ).alias("topk_share"),
    )


# --------------------------------------------------------------------------
# Feature-eng pack #51: experimentation suite — diff-in-diff, sample
# ratio mismatch, minimum detectable effect, covariate balance,
# effect trend, retention by arm
# --------------------------------------------------------------------------

def q_diff_in_diff(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES estimator on the deterministic
    even/odd user arms: the change in purchase rate from week 1 to
    week 4 in the "treatment" arm minus the same change in the
    "control" arm — the workhorse quasi-experimental estimator
    (`two_prop_z` compares one slice; this nets out the common
    trend). SE from the four independent binomial cells. Exact
    bigint cell counts; one 4-cell float fold."""
    e = _t(spark, sf_dir, "events")
    base = e.where(
        F.expr("dayofmonth(ts) <= 7 OR dayofmonth(ts) BETWEEN 22 AND 28")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.expr(
            "CASE WHEN dayofmonth(ts) <= 7 THEN 1 ELSE 4 END"
        ).alias("wk"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("buy"),
    )
    cells = base.groupBy("arm", "wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("buy").cast("bigint").alias("b"),
    )
    wide = (
        cells.groupBy()
        .pivot("arm", [0, 1])
        .agg(
            F.sum(
                F.when(F.col("wk") == 1, F.col("n"))
            ).alias("n1"),
            F.sum(
                F.when(F.col("wk") == 1, F.col("b"))
            ).alias("b1"),
            F.sum(
                F.when(F.col("wk") == 4, F.col("n"))
            ).alias("n4"),
            F.sum(
                F.when(F.col("wk") == 4, F.col("b"))
            ).alias("b4"),
        )
    )
    c = wide.select(
        F.expr("CAST(`0_b1` AS DOUBLE) / `0_n1`").alias("c_w1"),
        F.expr("CAST(`0_b4` AS DOUBLE) / `0_n4`").alias("c_w4"),
        F.expr("CAST(`1_b1` AS DOUBLE) / `1_n1`").alias("t_w1"),
        F.expr("CAST(`1_b4` AS DOUBLE) / `1_n4`").alias("t_w4"),
        F.expr(
            "CAST(`0_b1` AS DOUBLE) / `0_n1`"
            " * (1.0 - CAST(`0_b1` AS DOUBLE) / `0_n1`) / `0_n1`"
            " + CAST(`0_b4` AS DOUBLE) / `0_n4`"
            " * (1.0 - CAST(`0_b4` AS DOUBLE) / `0_n4`) / `0_n4`"
            " + CAST(`1_b1` AS DOUBLE) / `1_n1`"
            " * (1.0 - CAST(`1_b1` AS DOUBLE) / `1_n1`) / `1_n1`"
            " + CAST(`1_b4` AS DOUBLE) / `1_n4`"
            " * (1.0 - CAST(`1_b4` AS DOUBLE) / `1_n4`) / `1_n4`"
        ).alias("var_did"),
    )
    return c.select(
        F.round("c_w1", 6).alias("control_w1"),
        F.round("c_w4", 6).alias("control_w4"),
        F.round("t_w1", 6).alias("treat_w1"),
        F.round("t_w4", 6).alias("treat_w4"),
        F.round(
            F.expr("(t_w4 - t_w1) - (c_w4 - c_w1)"), 6
        ).alias("did_estimate"),
        F.round(F.expr("sqrt(var_did)"), 6).alias("se_did"),
        F.round(
            F.expr(
                "((t_w4 - t_w1) - (c_w4 - c_w1)) / sqrt(var_did)"
            ),
            6,
        ).alias("z"),
    )


def q_srm_check(spark, sf_dir):
    """SAMPLE RATIO MISMATCH check per day: is the even/odd user-arm
    split of daily USERS consistent with the designed 50/50? The #1
    silent A/B-test killer; z = (n1 - n0)/sqrt(n1 + n0) per day plus
    the month-level fold — any |z| blowup means assignment is
    broken, not the metric. Exact distinct-user counts; floats only
    in the O(days) fold."""
    e = _t(spark, sf_dir, "events")
    du = (
        e.select(
            F.dayofmonth("ts").cast("int").alias("day"),
            "user_id",
        )
        .distinct()
        .select(
            "day", (F.col("user_id") % 2).cast("bigint").alias("arm")
        )
    )
    per = du.groupBy("day").agg(
        F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n0"),
        F.sum("arm").cast("bigint").alias("n1"),
    )
    return per.select(
        "day",
        "n0",
        "n1",
        F.round(
            F.expr(
                "(CAST(n1 AS DOUBLE) - n0) / sqrt(CAST(n1 + n0"
                " AS DOUBLE))"
            ),
            6,
        ).alias("z_srm"),
    )


def q_mde_power(spark, sf_dir):
    """MINIMUM DETECTABLE EFFECT at 80% power / 95% two-sided
    confidence for the CURRENT per-arm sample sizes, per event-type
    conversion metric: MDE = (1.96 + 0.8416) * sqrt(2*p*(1-p)/n_arm)
    — the "is this experiment even worth running" table every
    platform precomputes. Exact user/converter counts; the MDE
    expression is one deterministic float per row."""
    e = _t(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    n_arm = users.agg(
        F.sum(
            F.expr("CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_treat")
    )
    conv = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_conv"))
    )
    n_users = users.agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    return (
        conv.crossJoin(F.broadcast(n_users))
        .crossJoin(F.broadcast(n_arm))
        .select(
            "event_type",
            F.col("nu").alias("n_users"),
            "n_conv",
            F.round(
                F.expr("CAST(n_conv AS DOUBLE) / nu"), 6
            ).alias("base_rate"),
            F.round(
                F.expr(
                    "(1.96 + 0.8416)"
                    " * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / nu)"
                    "   * (1.0 - CAST(n_conv AS DOUBLE) / nu)"
                    "   / n_treat)"
                ),
                6,
            ).alias("mde_abs"),
            F.round(
                F.expr(
                    "(1.96 + 0.8416)"
                    " * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / nu)"
                    "   * (1.0 - CAST(n_conv AS DOUBLE) / nu)"
                    "   / n_treat)"
                    " / (CAST(n_conv AS DOUBLE) / nu)"
                ),
                6,
            ).alias("mde_rel"),
        )
    )


def q_covariate_balance(spark, sf_dir):
    """COVARIATE BALANCE between the even/odd user arms: the
    standardized mean difference (SMD) of three per-user pre-period
    covariates (week-1 event count, week-1 spend, week-1 active
    days) — |SMD| < 0.1 is the standard "arms are comparable" gate
    before any effect readout. Exact per-user integer covariates,
    exact arm moment sums; the SMD fold is O(covariates)."""
    e = _t(spark, sf_dir, "events")
    pre = e.where(F.expr("dayofmonth(ts) <= 7"))
    pu = pre.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
        F.countDistinct(F.dayofmonth("ts"))
        .cast("bigint")
        .alias("days"),
    )
    long = pu.selectExpr(
        "CAST(user_id % 2 AS INT) AS arm",
        "stack(3, 'w1_events', cnt, 'w1_cents', cents,"
        " 'w1_active_days', days) AS (covariate, x)",
    )
    per = long.groupBy("covariate", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.expr("x * x")).cast("bigint").alias("q"),
    )
    a0 = per.where(F.col("arm") == 0).select(
        "covariate",
        F.col("n").alias("n0"),
        F.col("s").alias("s0"),
        F.col("q").alias("q0"),
    )
    a1 = per.where(F.col("arm") == 1).select(
        "covariate",
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("q").alias("q1"),
    )
    return a0.join(a1, "covariate").select(
        "covariate",
        "n0",
        "n1",
        F.round(
            F.expr("CAST(s0 AS DOUBLE) / n0"), 6
        ).alias("mean_control"),
        F.round(
            F.expr("CAST(s1 AS DOUBLE) / n1"), 6
        ).alias("mean_treat"),
        F.round(
            F.expr(
                "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
                " / sqrt((((CAST(q0 AS DOUBLE)"
                "           - pow(CAST(s0 AS DOUBLE), 2) / n0)"
                "          / (n0 - 1.0))"
                "         + ((CAST(q1 AS DOUBLE)"
                "             - pow(CAST(s1 AS DOUBLE), 2) / n1)"
                "            / (n1 - 1.0))) / 2.0)"
            ),
            6,
        ).alias("smd"),
    )


def q_effect_trend(spark, sf_dir):
    """EFFECT TREND (novelty/decay check): the weekly treatment-
    minus-control purchase-rate gap across the four full weeks, plus
    its exact least-squares slope over week index — a treatment
    whose effect trends toward zero is novelty, not product. Exact
    cell counts per (arm, week); the 4-point OLS slope uses the
    closed integer-sum formula."""
    e = _t(spark, sf_dir, "events")
    base = e.where(F.expr("dayofmonth(ts) <= 28")).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.expr("CAST((dayofmonth(ts) - 1) div 7 + 1 AS INT)").alias(
            "wk"
        ),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("buy"),
    )
    cells = base.groupBy("wk", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("buy").cast("bigint").alias("b"),
    )
    per = cells.groupBy("wk").agg(
        F.max(
            F.when(F.col("arm") == 0, F.expr("CAST(b AS DOUBLE) / n"))
        ).alias("rate_c"),
        F.max(
            F.when(F.col("arm") == 1, F.expr("CAST(b AS DOUBLE) / n"))
        ).alias("rate_t"),
    ).withColumn("gap", F.expr("rate_t - rate_c"))
    slope = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("wk").cast("bigint").alias("sx"),
        F.sum(F.expr("wk * wk")).cast("bigint").alias("sxx"),
        F.sum("gap").alias("sy"),
        F.sum(F.expr("wk * gap")).alias("sxy"),
    ).select(
        F.expr(
            "(k * sxy - sx * sy)"
            " / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        ).alias("slope")
    )
    return per.crossJoin(F.broadcast(slope)).select(
        F.col("wk").alias("week"),
        F.round("rate_c", 6).alias("rate_control"),
        F.round("rate_t", 6).alias("rate_treat"),
        F.round("gap", 6).alias("effect_gap"),
        F.round("slope", 6).alias("effect_slope"),
    )


def q_retention_by_arm(spark, sf_dir):
    """D7+ RETENTION BY ARM: of users active in week 1, the share
    who come back 7+ days after their FIRST event, per even/odd arm,
    with the two-proportion z — the guardrail metric read next to
    any experiment's primary effect. Exact first/last-event
    microsecond bounds per user; one per-user agg + one 2-row
    fold."""
    e = _t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(_us("ts")).alias("first_us"),
        F.max(_us("ts")).alias("last_us"),
        F.min(F.dayofmonth("ts")).cast("int").alias("first_day"),
    )
    cohort = pu.where(F.col("first_day") <= 7).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.expr(
            "CASE WHEN last_us - first_us >= CAST(7 AS BIGINT)"
            " * 86400 * 1000000 THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("retained"),
    )
    per = cohort.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("retained").cast("bigint").alias("r"),
    )
    a0 = per.where(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("r").alias("r0")
    )
    a1 = per.where(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("r").alias("r1")
    )
    return a0.crossJoin(a1).select(
        "n0",
        "n1",
        F.round(F.expr("CAST(r0 AS DOUBLE) / n0"), 6).alias(
            "retention_control"
        ),
        F.round(F.expr("CAST(r1 AS DOUBLE) / n1"), 6).alias(
            "retention_treat"
        ),
        F.round(
            F.expr(
                "(CAST(r1 AS DOUBLE) / n1 - CAST(r0 AS DOUBLE) / n0)"
                " / nullif(sqrt((CAST(r0 + r1 AS DOUBLE) / (n0 + n1))"
                "   * (1.0 - CAST(r0 + r1 AS DOUBLE) / (n0 + n1))"
                "   * (1.0 / n0 + 1.0 / n1)), 0.0)"
            ),
            6,
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# Feature-eng pack #52: share-of-parent rollup, session-size
# histogram, cohort LTV
# --------------------------------------------------------------------------

def q_share_of_parent(spark, sf_dir):
    """SHARE-OF-PARENT rollup over the source -> lang hierarchy of
    the documents table: each (source, lang) cell's share of its
    source, and each source's share of the corpus — the
    percent-of-parent columns every drill-down BI table carries
    (`agg_rollup` gives the totals; this gives the ratios). Two
    window sums over the single (source, lang) aggregate; exact
    bigint counts, two float divisions per row."""
    d = _t(spark, sf_dir, "documents")
    cell = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ws = Window.partitionBy("source")
    wall = Window.partitionBy()
    return cell.select(
        "source",
        "lang",
        "n",
        F.sum("n").over(ws).cast("bigint").alias("n_source"),
        F.sum("n").over(wall).cast("bigint").alias("n_total"),
    ).select(
        "source",
        "lang",
        "n",
        "n_source",
        "n_total",
        F.round(
            F.expr("CAST(n AS DOUBLE) / n_source"), 6
        ).alias("share_of_source"),
        F.round(
            F.expr("CAST(n_source AS DOUBLE) / n_total"), 6
        ).alias("source_share_of_total"),
    )


def q_session_size_hist(spark, sf_dir):
    """SESSION SIZE HISTOGRAM at the 30-minute gap: how many
    sessions have 1 / 2 / 3-5 / 6-10 / 11+ events — the shape
    behind `session_gap_sweep`'s mean and the first diagnostic for
    a sessionization bug (a spike at 1 means the gap is too tight).
    Session ids via the standard lag -> start-flag -> running-sum
    recipe (exact integers), then one size histogram."""
    e = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    lagged = e.select(
        "user_id",
        _us("ts").alias("us"),
        "event_id",
    ).select(
        "user_id",
        "us",
        "event_id",
        F.when(
            F.col("us") - F.lag("us", 1).over(wo) > 1800 * 1000000,
            1,
        )
        .otherwise(
            F.when(F.lag("us", 1).over(wo).isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("start"),
    )
    sess = lagged.select(
        "user_id",
        F.sum("start").over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("sid"),
    )
    sizes = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    bucketed = sizes.select(
        F.expr(
            "CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'"
            " WHEN sz <= 5 THEN '3-5' WHEN sz <= 10 THEN '6-10'"
            " ELSE '11+' END"
        ).alias("size_bucket"),
        "sz",
    )
    tot = bucketed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions_total")
    )
    return (
        bucketed.groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("sz").cast("bigint").alias("n_events"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "size_bucket",
            "n_sessions",
            "n_events",
            F.round(
                F.expr(
                    "CAST(n_sessions AS DOUBLE) / n_sessions_total"
                ),
                6,
            ).alias("session_share"),
        )
    )


def q_cohort_ltv(spark, sf_dir):
    """COHORT LTV TABLE: bucket users into quartiles by their
    WEEK-1 purchase spend (exact order-statistic cut points on the
    per-user cent totals), then report each cohort's FULL-MONTH
    spend per user — does early spend predict lifetime value
    (`target_encode_loo` encodes; this is the readable business
    table). Exact integer spend sums; quartile edges via the
    cumulative histogram rank picks; one keyed join back."""
    e = _t(spark, sf_dir, "events")
    buys = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.dayofmonth("ts").cast("int").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    w1 = buys.where(F.col("day") <= 7).groupBy("user_id").agg(
        F.sum("cents").cast("bigint").alias("w1_cents")
    )
    wr = Window.orderBy("w1_cents", "user_id")
    wn = Window.partitionBy()
    ranked = w1.select(
        "user_id",
        "w1_cents",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    ).select(
        "user_id",
        "w1_cents",
        F.expr(
            "CASE WHEN rn * 4 <= n THEN 1 WHEN rn * 2 <= n THEN 2"
            " WHEN rn * 4 <= 3 * n THEN 3 ELSE 4 END"
        )
        .cast("int")
        .alias("quartile"),
    )
    month = buys.groupBy("user_id").agg(
        F.sum("cents").cast("bigint").alias("m_cents")
    )
    return (
        ranked.join(month, "user_id")
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(
                F.expr("sum(CAST(w1_cents AS DOUBLE)) / (100.0 * count(1))"),
                6,
            ).alias("mean_w1_spend"),
            F.round(
                F.expr("sum(CAST(m_cents AS DOUBLE)) / (100.0 * count(1))"),
                6,
            ).alias("mean_month_spend"),
            F.round(
                F.expr(
                    "sum(CAST(m_cents AS DOUBLE))"
                    " / nullif(sum(CAST(w1_cents AS DOUBLE)), 0.0)"
                ),
                6,
            ).alias("month_over_w1"),
        )
    )


# --------------------------------------------------------------------------
# Feature-eng pack #53: cross-series structure (CCF, partial
# correlation), day-of-week strength, burst intervals, WoW
# retention, paired sign test
# --------------------------------------------------------------------------

def q_ccf_daily(spark, sf_dir):
    """CROSS-CORRELATION FUNCTION between daily click and purchase
    counts at lags -3..+3 — does click volume LEAD purchase volume
    (positive-lag peak) or trail it? The two-series extension of
    `pacf_daily`'s within-series view. Same engine-exact spine:
    integer deviations D = n*c - S per series make every lag
    cross-product an exact bigint; the CCF normalizer is the
    geometric mean of the two exact denominators."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
    )
    wd = Window.orderBy("day")
    idx = days.select(
        "day", F.row_number().over(wd).cast("bigint").alias("i")
    )
    raw = (
        e.where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        idx.crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [("click",), ("purchase",)], "event_type string"
                )
            )
        )
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "i",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    dev = grid.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "i",
        F.expr("n * c - s").cast("bigint").alias("d"),
    )
    x = dev.where(F.col("event_type") == "click").select(
        F.col("i").alias("ix"), F.col("d").alias("dx")
    )
    y = dev.where(F.col("event_type") == "purchase").select(
        F.col("i").alias("iy"), F.col("d").alias("dy")
    )
    dens = dev.groupBy("event_type").agg(
        F.sum(F.expr("d * d")).cast("bigint").alias("den")
    )
    dx2 = dens.where(F.col("event_type") == "click").select(
        F.col("den").alias("denx")
    )
    dy2 = dens.where(F.col("event_type") == "purchase").select(
        F.col("den").alias("deny")
    )
    lags = spark.range(-3, 4).select(
        F.col("id").cast("int").alias("lag")
    )
    nums = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.expr("iy = ix + lag"))
        .groupBy("lag")
        .agg(F.sum(F.expr("dx * dy")).cast("bigint").alias("num"))
    )
    return (
        nums.crossJoin(F.broadcast(dx2))
        .crossJoin(F.broadcast(dy2))
        .select(
            "lag",
            F.round(
                F.expr(
                    "CAST(num AS DOUBLE)"
                    " / sqrt(CAST(denx AS DOUBLE)"
                    "        * CAST(deny AS DOUBLE))"
                ),
                6,
            ).alias("ccf"),
        )
    )


def q_partial_corr_daily(spark, sf_dir):
    """PARTIAL CORRELATION of daily click and purchase counts
    CONTROLLING for view volume: r_xy.z = (r_xy - r_xz*r_yz)
    / sqrt((1-r_xz^2)(1-r_yz^2)) — is the click-purchase comovement
    real or just both riding overall traffic? All three pairwise
    correlations come from exact integer deviation products on the
    dense daily grid; one 1-row float fold."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
    )
    raw = (
        e.where(F.col("event_type").isin("click", "purchase", "view"))
        .select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        days.crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [("click",), ("purchase",), ("view",)],
                    "event_type string",
                )
            )
        )
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wide = grid.groupBy("day").agg(
        F.max(
            F.when(F.col("event_type") == "click", F.col("c"))
        ).alias("x"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("c"))
        ).alias("y"),
        F.max(
            F.when(F.col("event_type") == "view", F.col("c"))
        ).alias("z"),
    )
    agg = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
        F.sum(F.expr("z * z")).cast("bigint").alias("szz"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * z")).cast("bigint").alias("sxz"),
        F.sum(F.expr("y * z")).cast("bigint").alias("syz"),
    )
    c = (
        agg.withColumn(
            "rxy",
            F.expr(
                "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " / sqrt((CAST(n AS DOUBLE) * sxx"
                "         - CAST(sx AS DOUBLE) * sx)"
                "        * (CAST(n AS DOUBLE) * syy"
                "           - CAST(sy AS DOUBLE) * sy))"
            ),
        )
        .withColumn(
            "rxz",
            F.expr(
                "(CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)"
                " / sqrt((CAST(n AS DOUBLE) * sxx"
                "         - CAST(sx AS DOUBLE) * sx)"
                "        * (CAST(n AS DOUBLE) * szz"
                "           - CAST(sz AS DOUBLE) * sz))"
            ),
        )
        .withColumn(
            "ryz",
            F.expr(
                "(CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)"
                " / sqrt((CAST(n AS DOUBLE) * syy"
                "         - CAST(sy AS DOUBLE) * sy)"
                "        * (CAST(n AS DOUBLE) * szz"
                "           - CAST(sz AS DOUBLE) * sz))"
            ),
        )
    )
    return c.select(
        F.col("n").alias("n_days"),
        F.round("rxy", 6).alias("r_click_purchase"),
        F.round("rxz", 6).alias("r_click_view"),
        F.round("ryz", 6).alias("r_purchase_view"),
        F.round(
            F.expr(
                "(rxy - rxz * ryz)"
                " / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))"
            ),
            6,
        ).alias("partial_r"),
    )


def q_dow_strength(spark, sf_dir):
    """DAY-OF-WEEK SEASONALITY STRENGTH per event type: the R^2 of
    day-of-week means on the daily count series — what fraction of
    daily variance the weekly cycle explains (`dow_anova` tests the
    VALUES; this quantifies the COUNT cycle as variance explained).
    Exact integer machinery via the scaled deviations: with cell
    counts c_d and day-of-week group means, SS terms reduce to
    exact bigint sums; one float fold per type."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(
            F.dayofmonth("ts").cast("int").alias("day"),
            F.dayofweek("ts").cast("int").alias("dow"),
        )
        .distinct()
    )
    types = e.select("event_type").distinct()
    raw = (
        e.select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "dow",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    bydow = grid.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("c").cast("bigint").alias("sc"),
    )
    per = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr("c * c")).cast("bigint").alias("q"),
    )
    between = bydow.groupBy("event_type").agg(
        F.sum(
            F.expr("pow(CAST(sc AS DOUBLE), 2) / m")
        ).alias("sgrp")
    )
    return per.join(between, "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(
            F.expr(
                "(sgrp - pow(CAST(s AS DOUBLE), 2) / n)"
                " / nullif(CAST(q AS DOUBLE)"
                "          - pow(CAST(s AS DOUBLE), 2) / n, 0.0)"
            ),
            6,
        ).alias("dow_r2"),
    )


def q_burst_intervals(spark, sf_dir):
    """BURST INTERVALS per event type: maximal runs of consecutive
    days whose count exceeds mean + 2*sigma of that type's daily
    series — the Kleinberg-style burst flag a trend monitor emits
    (`block_maxima` finds the single extreme; this finds sustained
    episodes). Threshold moments from exact integer sums; run ids
    via the day - row_number() constant-gap trick (exact integers);
    emits one row per burst with its span and peak."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
    )
    types = e.select("event_type").distinct()
    raw = (
        e.select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    mom = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr("c * c")).cast("bigint").alias("q"),
    )
    flagged = grid.join(F.broadcast(mom), "event_type").where(
        F.expr(
            "c > CAST(s AS DOUBLE) / n"
            " + 2.0 * sqrt((CAST(q AS DOUBLE)"
            "               - pow(CAST(s AS DOUBLE), 2) / n)"
            "              / (n - 1.0))"
        )
    )
    wr = Window.partitionBy("event_type").orderBy("day")
    runs = flagged.select(
        "event_type",
        "day",
        "c",
        (F.col("day") - F.row_number().over(wr))
        .cast("bigint")
        .alias("grp"),
    )
    return runs.groupBy("event_type", "grp").agg(
        F.min("day").alias("burst_start"),
        F.max("day").alias("burst_end"),
        F.count(F.lit(1)).cast("bigint").alias("burst_days"),
        F.max("c").cast("bigint").alias("peak_count"),
    ).drop("grp")


def q_wow_retention(spark, sf_dir):
    """WEEK-OVER-WEEK RETENTION curve: of the users active in week
    w, the share also active in week w+1 (full weeks 1-4) — the
    canonical product-health curve (`retention_cohorts` anchors on
    the FIRST week; this is the rolling pairwise version). One
    distinct (user, week) presence table, one self-join on week+1;
    exact bigint counts."""
    e = _t(spark, sf_dir, "events")
    pres = (
        e.where(F.expr("dayofmonth(ts) <= 28"))
        .select(
            "user_id",
            F.expr(
                "CAST((dayofmonth(ts) - 1) div 7 + 1 AS INT)"
            ).alias("wk"),
        )
        .distinct()
    )
    nxt = pres.select(
        "user_id", (F.col("wk") - 1).alias("wk")
    )
    per = pres.where(F.col("wk") <= 3).groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )
    kept = (
        pres.where(F.col("wk") <= 3)
        .join(nxt, ["user_id", "wk"], "left_semi")
        .groupBy("wk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_retained"))
    )
    return per.join(kept, "wk", "left").select(
        F.col("wk").alias("week"),
        "n_active",
        F.coalesce("n_retained", F.lit(0))
        .cast("bigint")
        .alias("n_retained"),
        F.round(
            F.expr(
                "CAST(coalesce(n_retained, 0) AS DOUBLE) / n_active"
            ),
            6,
        ).alias("wow_retention"),
    )


def q_sign_test(spark, sf_dir):
    """PAIRED SIGN TEST on per-user spend, week 1 vs week 4: did
    individual users spend MORE in week 4 than week 1 (direction
    only, zero distributional assumptions — the nonparametric floor
    under `cuped_adjust`'s variance-reduced estimate)? Ties drop by
    definition; S = #(w4 > w1), z = (2S - n)/sqrt(n) with the exact
    integer counts; the binomial mid-p is left to the offline
    table, the statistic is the distributed part."""
    e = _t(spark, sf_dir, "events")
    pu = (
        e.where(
            F.expr(
                "dayofmonth(ts) <= 7 OR dayofmonth(ts)"
                " BETWEEN 22 AND 28"
            )
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.expr("dayofmonth(ts) <= 7"),
                    F.expr("CAST(round(value * 100) AS BIGINT)"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("w1"),
            F.sum(
                F.when(
                    F.expr("dayofmonth(ts) >= 22"),
                    F.expr("CAST(round(value * 100) AS BIGINT)"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("w4"),
        )
    )
    agg = pu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.expr("CASE WHEN w4 > w1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.expr("CASE WHEN w4 < w1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_down"),
        F.sum(F.expr("CASE WHEN w4 = w1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_tied"),
    )
    return agg.select(
        "n_users",
        "n_up",
        "n_down",
        "n_tied",
        F.round(
            F.expr(
                "(2.0 * n_up - (n_up + n_down))"
                " / nullif(sqrt(CAST(n_up + n_down AS DOUBLE)), 0.0)"
            ),
            6,
        ).alias("z"),
    )
