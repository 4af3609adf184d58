"""Feature-eng pack #82 (r4): regression diagnostics — the checks a
pipeline runs AFTER fitting a trend line to its metrics, plus the
panel-data estimator that removes per-entity level confounds.

All three run on the hourly / per-user rollup of ``events`` with the
registry's exact-arithmetic discipline: the fat table reduces to exact
BIGINT moments in ONE partial-aggregable hash agg; closed-form algebra
on the slim relation does the rest.

* ``durbin_watson`` — Durbin & Watson (1950) first-order residual
  autocorrelation test on the hourly-revenue OLS trend: residuals of
  y_cents ~ t are rounded to exact integer cents, so the lag-diff sum
  of squares and the denominator are exact BIGINTs in both engines;
  DW in [0,4], 2 = no autocorrelation.
* ``breusch_pagan`` — Breusch & Pagan (1979) / Koenker's studentized
  LM heteroskedasticity test: auxiliary regression of the squared
  (k-dollar-rounded) residuals on t; BP = n * R2_aux with every moment
  an exact BIGINT and the final ratio one double; compared to the
  chi2(1) 95% critical value 3.841459.
* ``fe_within`` — one-way fixed-effects WITHIN estimator (panel
  econometrics, e.g. Wooldridge 2010 ch.10): slope of value on
  hour-of-day after demeaning within each user, contrasted with the
  pooled-OLS and between-user estimators.  Per-user moments
  (n, Sx, Sy, Sxy, Sxx) are exact BIGINTs; each user's contribution
  (n*Sxy - Sx*Sy)/n is an exact rational evaluated once in double.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t, _us

_BP_CRIT95 = 3.841459  # chi2(1) upper 5% critical value
_HOUR_US = 3_600_000_000  # microseconds per hour


def _hourly(spark, sf_dir):
    """Hourly revenue series: t = hour index from the first hour,
    y = exact total cents in that hour.  One hash agg over events."""
    e = _t(spark, sf_dir, "events").select(
        (_us("ts") / _HOUR_US).cast("bigint").alias("hr"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    h = e.groupBy("hr").agg(F.sum("cents").cast("bigint").alias("y"))
    h = h.withColumn(
        "t",
        (F.col("hr") - F.min("hr").over(Window.partitionBy())).cast("bigint"),
    )
    return h.select("t", "y")


def _ols_resid(h):
    """Attach OLS(y ~ t) residuals to the hourly frame: moments are
    exact BIGINT sums; slope/intercept doubles; e = y - a - b t."""
    m = h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
    )
    j = h.crossJoin(F.broadcast(m))
    b = (
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
            "double"
        )
    )
    a = (F.col("sy") - b * F.col("st")) / F.col("n").cast("double")
    return j.withColumn("e", F.col("y") - a - b * F.col("t"))


def q_durbin_watson(spark, sf_dir):
    """DURBIN-WATSON test on the hourly-revenue trend residuals:
    e_c = round(e) exact integer cents; DW = sum (e_c[i]-e_c[i-1])^2
    / sum e_c^2 over hours in order — both sums exact BIGINTs.  The
    hourly relation is O(hours), so the single-partition lag window is
    a driver-scale no-op even at 100 TB of raw events."""
    r = _ols_resid(_hourly(spark, sf_dir)).select(
        "t", "n", F.round("e").cast("bigint").alias("ec")
    )
    r = r.withColumn("ec_lag", F.lag("ec").over(Window.orderBy("t")))
    out = r.groupBy("n").agg(
        F.sum(
            F.when(
                F.col("ec_lag").isNotNull(),
                (F.col("ec") - F.col("ec_lag")) * (F.col("ec") - F.col("ec_lag")),
            )
        )
        .cast("bigint")
        .alias("num"),
        F.sum(F.col("ec") * F.col("ec")).cast("bigint").alias("den"),
    )
    dw = F.col("num") / F.col("den").cast("double")
    return out.select(
        F.col("n").alias("n_hours"),
        "num",
        "den",
        F.round(dw, 6).alias("dw"),
        F.round(1 - dw / 2, 6).alias("rho1"),
    )


def q_breusch_pagan(spark, sf_dir):
    """BREUSCH-PAGAN (Koenker studentized) heteroskedasticity LM test:
    u = (round(e/1000))^2 — squared residuals in exact k-dollar units
    — regressed on t; BP = n * R2.  All five auxiliary moments are
    exact BIGINTs; the three centered differences stay < 2^53 so their
    double squares are correctly rounded identically in both engines."""
    r = _ols_resid(_hourly(spark, sf_dir)).select(
        "t",
        "n",
        (
            F.round(F.col("e") / 1000).cast("bigint")
            * F.round(F.col("e") / 1000).cast("bigint")
        ).alias("u"),
    )
    m = r.groupBy("n").agg(
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("u").cast("bigint").alias("su"),
        F.sum(F.col("t") * F.col("u")).cast("bigint").alias("stu"),
        F.sum(F.col("u") * F.col("u")).cast("bigint").alias("suu"),
    )
    ctu = (F.col("n") * F.col("stu") - F.col("st") * F.col("su")).cast(
        "double"
    )
    ctt = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
        "double"
    )
    cuu = (F.col("n") * F.col("suu") - F.col("su") * F.col("su")).cast(
        "double"
    )
    r2 = ctu * ctu / F.nullif(ctt * cuu, F.lit(0.0))
    bp = F.col("n") * r2
    return m.select(
        F.col("n").alias("n_hours"),
        "su",
        "stu",
        F.round(r2, 6).alias("r2_aux"),
        F.round(bp, 6).alias("bp_lm"),
        (bp > _BP_CRIT95).cast("int").alias("heteroskedastic"),
    )


def q_fe_within(spark, sf_dir):
    """ONE-WAY FIXED-EFFECTS within estimator: slope of value_cents on
    hour-of-day with user_id fixed effects, vs pooled OLS and the
    between-user estimator.  Per-user moments are exact BIGINTs from
    one hash agg; each user's centered contribution is the exact
    rational (n Sxy - Sx Sy)/n evaluated once in double, then summed
    over the O(users) relation."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.hour(F.col("ts").cast("timestamp")).cast("bigint").alias("x"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("y"),
    )
    per = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nu"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    wnum = (
        F.col("nu") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / F.col("nu")
    wden = (
        F.col("nu") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double") / F.col("nu")
    xbar = F.col("sx").cast("double") / F.col("nu")
    ybar = F.col("sy").cast("double") / F.col("nu")
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("nu").cast("bigint").alias("n"),
        F.sum(wnum).alias("w_num"),
        F.sum(wden).alias("w_den"),
        # pooled moments: exact bigint sums of per-user bigints
        F.sum("sx").cast("bigint").alias("psx"),
        F.sum("sy").cast("bigint").alias("psy"),
        F.sum("sxy").cast("bigint").alias("psxy"),
        F.sum("sxx").cast("bigint").alias("psxx"),
        # between: OLS over (xbar_u, ybar_u)
        F.sum(xbar).alias("bsx"),
        F.sum(ybar).alias("bsy"),
        F.sum(xbar * ybar).alias("bsxy"),
        F.sum(xbar * xbar).alias("bsxx"),
    )
    pooled = (
        F.col("n") * F.col("psxy") - F.col("psx") * F.col("psy")
    ).cast("double") / (
        F.col("n") * F.col("psxx") - F.col("psx") * F.col("psx")
    ).cast("double")
    between = (
        F.col("n_users") * F.col("bsxy") - F.col("bsx") * F.col("bsy")
    ) / (F.col("n_users") * F.col("bsxx") - F.col("bsx") * F.col("bsx"))
    return agg.select(
        "n",
        "n_users",
        F.round(F.col("w_num") / F.col("w_den"), 6).alias("within_slope"),
        F.round(pooled, 6).alias("pooled_slope"),
        F.round(between, 6).alias("between_slope"),
    )
