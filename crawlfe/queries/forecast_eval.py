"""Feature-eng pack #95 (r4): forecast evaluation — the three checks
that turn "we forecast daily volume" into a measured claim, all on
the exact daily-cents series (t = day of month, x_t = total cents).

* ``prequential_error`` — prequential (one-step-ahead) evaluation
  (Dawid 1984): predict day t with the running mean of days < t,
  score |x_t - pred| online — the leak-free streaming twin of a
  train/test split.  Running sums are exact BIGINTs via an ordered
  cumulative window; one double prediction per row.
* ``mincer_zarnowitz`` — Mincer & Zarnowitz (1969) calibration
  regression: actual on the weekly seasonal-naive forecast
  x_{t-7}; unbiased + efficient iff (intercept, slope) = (0, 1).
  OLS moments are exact BIGINTs; reports a, b, R2 and the t statistic
  of b = 1.
* ``diebold_mariano`` — Diebold & Mariano (1995): is the seasonal
  forecast BETTER than the lag-1 naive?  Squared-dollar losses and
  their differentials d_t are exact BIGINTs; DM = dbar /
  sqrt((g0 + 2 g1)/n) with lag-0/1 autocovariances of d_t (HLN small-
  sample correction factor reported alongside).

Scale shape: everything reduces to the O(days) daily relation in one
partial-aggregable hash agg; the windows/lag joins run on ~30 rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_MZ_LAG = 7  # weekly seasonal naive
_DM_H = 1  # one-step losses -> lag-1 autocovariance correction


def _daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return e.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("x")
    )


def q_prequential_error(spark, sf_dir):
    """PREQUENTIAL one-step-ahead error of the running-mean
    predictor: pred_t = cum_{t-1}/(t-1) (exact ints, one double
    division), err = |x_t - pred|; emitted per day with the running
    mean absolute error."""
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    r = d.select(
        "day",
        "x",
        F.sum("x").over(w).cast("bigint").alias("cum_prev"),
        F.count("x").over(w).cast("bigint").alias("n_prev"),
    ).where(F.col("n_prev") > 0)
    pred = F.col("cum_prev").cast("double") / F.col("n_prev")
    r = r.select(
        "day",
        "x",
        F.round(pred, 4).alias("pred"),
        F.round(F.abs(F.col("x") - pred), 4).alias("abs_err"),
    )
    wmae = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return r.select(
        "day",
        "x",
        "pred",
        "abs_err",
        F.round(F.avg("abs_err").over(wmae), 4).alias("running_mae"),
    )


def q_mincer_zarnowitz(spark, sf_dir):
    """MINCER-ZARNOWITZ regression of actual on the weekly seasonal-
    naive forecast f = x_{t-7}: exact BIGINT moments; b, a, R2 and
    t(b=1) = (b-1)/se_b with se_b^2 = (SSE/(n-2)) / Sxx_c."""
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    p = d.select(
        "day", "x", F.lag("x", _MZ_LAG).over(w).alias("f")
    ).where(F.col("f").isNotNull())
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("f").cast("bigint").alias("sf"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("sff"),
        F.sum(F.col("f") * F.col("x")).cast("bigint").alias("sfx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    cfx = (F.col("n") * F.col("sfx") - F.col("sf") * F.col("sx")).cast(
        "double"
    )
    cff = (F.col("n") * F.col("sff") - F.col("sf") * F.col("sf")).cast(
        "double"
    )
    cxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    b = cfx / cff
    a = (F.col("sx") - b * F.col("sf")) / F.col("n").cast("double")
    r2 = cfx * cfx / (cff * cxx)
    # SSE = cxx/n * (1 - r2); se_b^2 = (SSE/(n-2)) / (cff/n)
    sse = cxx / F.col("n") * (1 - r2)
    se_b = F.sqrt(sse / (F.col("n") - 2) / (cff / F.col("n")))
    return m.select(
        "n",
        F.round(a, 4).alias("intercept"),
        F.round(b, 6).alias("slope"),
        F.round(r2, 6).alias("r2"),
        F.round((b - 1) / se_b, 6).alias("t_slope_eq_1"),
    )


def q_diebold_mariano(spark, sf_dir):
    """DIEBOLD-MARIANO test, lag-1 naive vs weekly seasonal naive:
    dollar-scaled squared losses l = (round((x-f)/100))^2, exact
    BIGINT differentials d = l1 - l2; DM = dbar/sqrt((g0+2 g1)/n)
    with g_k the lag-k autocovariances; the HLN correction factor
    sqrt((n+1-2h+h(h-1)/n)/n) is reported alongside."""
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    p = d.select(
        "day",
        "x",
        F.lag("x", 1).over(w).alias("f1"),
        F.lag("x", _MZ_LAG).over(w).alias("f2"),
    ).where(F.col("f1").isNotNull() & F.col("f2").isNotNull())
    e1 = F.round((F.col("x") - F.col("f1")) / 100).cast("bigint")
    e2 = F.round((F.col("x") - F.col("f2")) / 100).cast("bigint")
    dd = p.select("day", (e1 * e1 - e2 * e2).cast("bigint").alias("d"))
    m = dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s"),
    )
    j = dd.crossJoin(F.broadcast(m))
    dev = F.col("d").cast("double") - F.col("s") / F.col("n").cast(
        "double"
    )
    g0 = j.groupBy("n", "s").agg(
        F.sum(dev * dev).alias("g0_sum")
    )
    lagd = dd.select(
        "day",
        "d",
        F.lag("d").over(Window.orderBy("day")).alias("d_prev"),
    ).where(F.col("d_prev").isNotNull())
    g1 = (
        lagd.crossJoin(F.broadcast(m))
        .groupBy("n", "s")
        .agg(
            F.sum(
                (F.col("d") - F.col("s") / F.col("n").cast("double"))
                * (
                    F.col("d_prev")
                    - F.col("s") / F.col("n").cast("double")
                )
            ).alias("g1_sum")
        )
        .select("g1_sum")
    )
    out = g0.crossJoin(F.broadcast(g1))
    dbar = F.col("s") / F.col("n").cast("double")
    # if the lag-adjusted variance goes negative (strong negative
    # lag-1 autocovariance), fall back to the lag-0 variance — the
    # standard DM practice; also keeps DuckDB's sqrt domain happy
    v = (
        F.greatest(
            F.col("g0_sum") + 2 * F.col("g1_sum"), F.col("g0_sum")
        )
        / F.col("n")
        / F.col("n")
    )
    h = F.lit(float(_DM_H))
    hln = F.sqrt(
        (F.col("n") + 1 - 2 * h + h * (h - 1) / F.col("n"))
        / F.col("n")
    )
    return out.select(
        "n",
        "s",
        F.round(dbar, 4).alias("dbar"),
        F.round(F.col("g0_sum") / F.col("n"), 4).alias("gamma0"),
        F.round(F.col("g1_sum") / F.col("n"), 4).alias("gamma1"),
        F.round(dbar / F.sqrt(v), 6).alias("dm_stat"),
        F.round(hln, 6).alias("hln_factor"),
    )
