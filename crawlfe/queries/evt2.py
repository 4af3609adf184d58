"""Feature-eng pack #101 (r4): extreme-value theory II — completing
the registry's EVT family (hill_tail / block_maxima / gpd_fit) with
the three quantities a capacity planner actually quotes.

* ``extremal_index`` — runs-declustering estimator of the extremal
  index theta (Smith & Weissman 1994): exceedances of the exact p90
  cents threshold in event-time order; a new cluster starts when the
  gap to the previous exceedance exceeds 60 min; theta = clusters /
  exceedances (1 = independent extremes, <1 = clustered bursts).
  Threshold from the exact cents histogram; gaps in exact BIGINT µs.
* ``gpd_return_level`` — the m = 1000-observation return level from
  the same peaks-over-threshold moment fit as ``gpd_fit``:
  x_m = u + (sigma/xi) ((m zeta_u)^xi - 1), zeta_u = k/n — the
  "what value do we see once per thousand events" number.
* ``tail_dependence`` — empirical upper/lower tail-dependence of the
  per-(user, day) (spend, activity) pair at the exact p90/p10 order
  statistics: lambda_U = P(X > qx | Y > qy) (and the lower analogue)
  — do spend spikes and activity spikes co-occur?  All counts and
  order statistics exact BIGINTs.

Scale shape: histograms / order statistics come from single hash
aggs + bounded windows; the exceedance scan is an ordered window over
the O(exceedances) relation.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t, _us

_EI_GAP_US = 3_600_000_000  # 60 min declustering gap
_RL_M = 1000  # return period in observations
_GPD_DECILE = 9  # p90 threshold (same convention as gpd_fit)


def _threshold(spark, sf_dir):
    """Exact p90 cents threshold + n, from the cumulative histogram
    (min cents with cum >= ceil(0.9 n)) — the gpd_fit convention."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
    )
    hist = e.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "cents",
        F.sum("ct").over(w).cast("bigint").alias("cum"),
        F.sum("ct").over(wall).cast("bigint").alias("n"),
    )
    return cum.where(
        F.expr(f"cum >= ({_GPD_DECILE} * n + 9) div 10")
    ).agg(
        F.min("cents").cast("bigint").alias("u_cents"),
        F.max("n").cast("bigint").alias("n"),
    )


def q_extremal_index(spark, sf_dir):
    """RUNS-DECLUSTERING extremal index: exceedances of the exact p90
    threshold in (ts, event_id) order; cluster starts where the gap
    to the previous exceedance > 60 min; theta = clusters/exceed."""
    e = _t(spark, sf_dir, "events").select(
        _us("ts").alias("us"),
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    u = _threshold(spark, sf_dir)
    exc = e.crossJoin(F.broadcast(u)).where(
        F.col("cents") > F.col("u_cents")
    )
    w = Window.orderBy("us", "event_id")
    marked = exc.withColumn(
        "gap", F.col("us") - F.lag("us").over(w)
    ).withColumn(
        "new_c",
        F.when(
            F.col("gap").isNull() | (F.col("gap") > _EI_GAP_US), 1
        )
        .otherwise(0)
        .cast("bigint"),
    )
    agg = marked.groupBy("u_cents", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exc"),
        F.sum("new_c").cast("bigint").alias("n_clusters"),
    )
    return agg.select(
        "u_cents",
        "n",
        "n_exc",
        "n_clusters",
        F.round(
            F.col("n_clusters") / F.col("n_exc").cast("double"), 6
        ).alias("theta"),
    )


def q_gpd_return_level(spark, sf_dir):
    """GPD RETURN LEVEL at m = 1000 observations from the moment fit:
    x_m = u + (sigma/xi) ((m k/n)^xi - 1); exact excess moments."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
    )
    u = _threshold(spark, sf_dir)
    exc = (
        e.crossJoin(F.broadcast(u))
        .where(F.col("cents") > F.col("u_cents"))
        .select(
            "u_cents",
            "n",
            (F.col("cents") - F.col("u_cents")).alias("y"),
        )
    )
    mom = exc.groupBy("u_cents", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    m = F.col("s1") / F.col("k").cast("double")
    v = (F.col("s2") - F.col("s1") * m) / (F.col("k") - 1).cast("double")
    ratio = m * m / v
    xi = (1 - ratio) / 2
    sigma = m * (1 + ratio) / 2
    zeta = F.col("k").cast("double") / F.col("n")
    rl = F.col("u_cents") + sigma / xi * (
        F.pow(F.lit(float(_RL_M)) * zeta, xi) - 1
    )
    return mom.select(
        "u_cents",
        "k",
        F.round(xi, 6).alias("xi"),
        F.round(sigma, 4).alias("sigma_cents"),
        F.round(zeta, 6).alias("zeta_u"),
        F.round(rl, 4).alias("rl_1000_cents"),
    )


def q_tail_dependence(spark, sf_dir):
    """EMPIRICAL TAIL DEPENDENCE of per-(user, day) (spend X,
    activity Y): lambda_U = P(X > qx | Y > qy) at the exact p90 order
    statistics; lambda_L analogously at p10 (X <= , Y <=)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("int").alias("d"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    ud = e.groupBy("user_id", "d").agg(
        F.sum("cents").cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )

    def q_at(col, dec):
        # exact order statistic: value at rank ceil(dec/10 * n)
        w = Window.orderBy(col, "user_id", "d")
        n = Window.partitionBy()
        return (
            ud.select(
                F.col(col).alias("v"),
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(n).alias("nn"),
            )
            .where(
                F.col("rn") == -F.floor(-(F.lit(dec) * F.col("nn")) / 10)
            )
            .agg(F.min("v").cast("bigint").alias(f"q_{col}_{dec}"))
        )
    qx9 = q_at("x", 9)
    qy9 = q_at("y", 9)
    qx1 = q_at("x", 1)
    qy1 = q_at("y", 1)
    j = (
        ud.crossJoin(F.broadcast(qx9))
        .crossJoin(F.broadcast(qy9))
        .crossJoin(F.broadcast(qx1))
        .crossJoin(F.broadcast(qy1))
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("q_x_9").alias("qx90"),
        F.max("q_y_9").alias("qy90"),
        F.sum(
            ((F.col("x") > F.col("q_x_9")) & (F.col("y") > F.col("q_y_9")))
            .cast("bigint")
        )
        .cast("bigint")
        .alias("n_joint_u"),
        F.sum((F.col("y") > F.col("q_y_9")).cast("bigint"))
        .cast("bigint")
        .alias("n_y_u"),
        F.sum(
            (
                (F.col("x") <= F.col("q_x_1"))
                & (F.col("y") <= F.col("q_y_1"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_joint_l"),
        F.sum((F.col("y") <= F.col("q_y_1")).cast("bigint"))
        .cast("bigint")
        .alias("n_y_l"),
    )
    return agg.select(
        "n",
        "qx90",
        "qy90",
        "n_joint_u",
        "n_y_u",
        F.round(
            F.col("n_joint_u") / F.col("n_y_u").cast("double"), 6
        ).alias("lambda_upper"),
        F.round(
            F.col("n_joint_l")
            / F.nullif(F.col("n_y_l").cast("double"), F.lit(0.0)),
            6,
        ).alias("lambda_lower"),
    )
