"""Feature-eng pack #103 (r4): forecast evaluation II — the scale-free
accuracy panel that makes forecasts comparable across series, on the
exact daily-cents series (t = day of month, x_t = total cents).

* ``mase_smape`` — the M-competition panel (Hyndman & Koehler 2006):
  for each candidate forecaster (lag-1 naive, weekly seasonal naive)
  report MAE, MASE (MAE scaled by the in-sample lag-1 naive MAE — the
  denominator every method shares) and sMAPE.  Errors are exact
  BIGINT cent differences; the only doubles are the final ratios.
* ``theil_u2`` — Theil's U2 for the weekly seasonal naive: relative
  RMS of forecast percentage errors vs the no-change forecast;
  U2 < 1 iff the seasonal forecast beats naive drift.
* ``forecast_encompassing`` — the Chong & Hendry (1986) / Harvey-
  Leybourne-Newbold encompassing regression x_t - f1_t = a +
  lambda (f7_t - f1_t) + e: lambda's t statistic answers "does the
  seasonal forecast contain information the naive one misses?".
  OLS moments are exact BIGINTs.

Scale shape: everything reduces to the O(days) daily relation in one
partial-aggregable hash agg; the lag windows run on ~30 rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_SN_LAG = 7  # weekly seasonal naive


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


def _lagged(spark, sf_dir):
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    return d.select(
        "day",
        "x",
        F.lag("x", 1).over(w).alias("f1"),
        F.lag("x", _SN_LAG).over(w).alias("f7"),
    )


def q_mase_smape(spark, sf_dir):
    """MASE + sMAPE panel: one row per forecaster over the common
    evaluation days (both lags defined); MASE scales by the lag-1
    naive MAE over those same days so the two rows share a
    denominator."""
    p = _lagged(spark, sf_dir).where(
        F.col("f1").isNotNull() & F.col("f7").isNotNull()
    )
    rows = []
    for name, fcol in (("naive1", "f1"), ("snaive7", "f7")):
        f = F.col(fcol)
        rows.append(
            p.agg(
                F.lit(name).alias("method"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.avg(F.abs(F.col("x") - f)).alias("_mae"),
                F.avg(F.abs(F.col("x") - F.col("f1"))).alias("_den"),
                F.avg(
                    F.lit(200.0)
                    * F.abs(F.col("x") - f)
                    / (F.abs(F.col("x")) + F.abs(f))
                ).alias("_smape"),
            )
        )
    out = rows[0].unionByName(rows[1])
    return out.select(
        "method",
        "n",
        F.round("_mae", 4).alias("mae"),
        F.round(F.col("_mae") / F.col("_den"), 6).alias("mase"),
        F.round("_smape", 6).alias("smape"),
    ).orderBy("method")


def q_theil_u2(spark, sf_dir):
    """THEIL'S U2 of the weekly seasonal naive vs the no-change
    forecast: sqrt(sum(((f7 - x)/f1)^2) / sum(((x - f1)/f1)^2));
    beats_naive = U2 < 1."""
    p = _lagged(spark, sf_dir).where(
        F.col("f1").isNotNull() & F.col("f7").isNotNull()
    )
    fpe = (F.col("f7") - F.col("x")).cast("double") / F.col("f1")
    ape = (F.col("x") - F.col("f1")).cast("double") / F.col("f1")
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(fpe * fpe).alias("_sf"),
        F.sum(ape * ape).alias("_sa"),
    )
    u2 = F.sqrt(F.col("_sf") / F.col("_sa"))
    return m.select(
        "n",
        F.round(u2, 6).alias("u2"),
        (u2 < 1).alias("beats_naive"),
    )


def q_forecast_encompassing(spark, sf_dir):
    """FORECAST ENCOMPASSING regression e1 = a + lambda (f7 - f1):
    lambda > 0 with |t| large means the seasonal forecast carries
    information the naive forecast misses (combine them); exact
    BIGINT OLS moments, doubles only in the final ratios."""
    p = _lagged(spark, sf_dir).where(
        F.col("f1").isNotNull() & F.col("f7").isNotNull()
    )
    y = (F.col("x") - F.col("f1")).cast("bigint")
    z = (F.col("f7") - F.col("f1")).cast("bigint")
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(z).cast("bigint").alias("sz"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(z * z).cast("bigint").alias("szz"),
        F.sum(z * y).cast("bigint").alias("szy"),
        F.sum(y * y).cast("bigint").alias("syy"),
    )
    czy = (F.col("n") * F.col("szy") - F.col("sz") * F.col("sy")).cast(
        "double"
    )
    czz = (F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")).cast(
        "double"
    )
    cyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    lam = czy / czz
    a = (F.col("sy") - lam * F.col("sz")) / F.col("n").cast("double")
    sse = (cyy - czy * czy / czz) / F.col("n")
    se = F.sqrt(sse / (F.col("n") - 2) / (czz / F.col("n")))
    return m.select(
        "n",
        F.round(a, 4).alias("intercept"),
        F.round(lam, 6).alias("lambda"),
        F.round(lam / se, 6).alias("t_lambda"),
    )
