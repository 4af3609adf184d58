"""Feature-eng pack #111 (r4): queueing / SLO operations analytics —
the capacity-planning trio next to littles_law / freshness_sla /
max_concurrency.

* ``erlang_c`` — M/M/c wait probability per hour-of-day: offered
  load a = lambda_h / mu with the service rate mu tied to the
  global mean hourly arrival rate (mu = mean/2), c = 8 servers.
  Erlang C is evaluated as the explicit degree-7 polynomial
  sum a^k/k! (identical literal expression in both engines);
  rho >= 1 hours report p_wait = 1.
* ``slo_burn_rate`` — Google-SRE multiwindow error-budget burn on a
  99% non-error SLO: per hour, the 1h burn and the trailing-6h
  burn; fast-burn alerts fire at (1h > 14.4 AND 6h > 6), slow-burn
  at (6h > 6 AND 24h > 3).  Reports alert counts and the worst
  burns.
* ``capacity_headroom`` — provisioned-vs-peak audit: provisioned
  capacity = 1.2x the global mean hourly volume; compares against
  the exact interpolated p95 and the max of hourly volumes and
  reports the headroom ratio.

Scale shape: everything folds the event stream to the O(hours)
hourly relation in one partial-aggregable agg; windows and
percentile interpolation run on ~720 rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_EC_SERVERS = 8
_EC_MU_DIV = 2.0  # mu = global mean hourly arrivals / 2
_SLO_TARGET = 0.99
_FAST_1H, _FAST_6H = 14.4, 6.0
_SLOW_6H, _SLOW_24H = 6.0, 3.0
_CAP_FACTOR = 1.2


def _fact_str(k):
    f = 1
    for i in range(2, k + 1):
        f *= i
    return f


def _hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias(
            "h"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("event_type") == "error").cast("bigint")
        ).alias("errs"),
    )


def q_erlang_c(spark, sf_dir):
    """ERLANG-C wait probability per hour-of-day at c=8 servers,
    mu = global mean hourly arrivals / 2 (data-derived, so offered
    load is scale-free)."""
    h = _hourly(spark, sf_dir).select(
        F.hour("h").cast("bigint").alias("hod"), "n"
    )
    byhod = h.groupBy("hod").agg(F.avg("n").alias("lam"))
    mu = h.agg(
        (F.avg("n") / _EC_MU_DIV).alias("mu")
    )
    j = byhod.crossJoin(F.broadcast(mu)).select(
        "hod", "lam", (F.col("lam") / F.col("mu")).alias("a")
    )
    c = _EC_SERVERS
    a = F.col("a")
    # sum_{k=0}^{c-1} a^k / k! as one literal polynomial
    s = F.lit(1.0)
    for k in range(1, c):
        s = s + F.pow(a, F.lit(float(k))) / F.lit(
            float(_fact_str(k))
        )
    top = (
        F.pow(a, F.lit(float(c)))
        / F.lit(float(_fact_str(c)))
        * (c / (c - a))
    )
    pw = F.when(a >= c, F.lit(1.0)).otherwise(top / (s + top))
    return j.select(
        "hod",
        F.round("lam", 4).alias("lam"),
        F.round("a", 6).alias("offered_a"),
        F.round(pw, 6).alias("p_wait"),
    ).orderBy("hod")


def q_slo_burn_rate(spark, sf_dir):
    """MULTIWINDOW SLO BURN on the 99% non-error target: hourly burn
    plus trailing 6h/24h burns; fast (1h>14.4 & 6h>6) and slow
    (6h>6 & 24h>3) alert counts with the worst observed burns."""
    h = _hourly(spark, sf_dir)
    budget = 1 - _SLO_TARGET
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    w24 = Window.orderBy("h").rowsBetween(-23, 0)
    b = h.select(
        "h",
        (F.col("errs") / F.col("n") / budget).alias("b1"),
        (
            F.sum("errs").over(w6)
            / F.sum("n").over(w6)
            / budget
        ).alias("b6"),
        (
            F.sum("errs").over(w24)
            / F.sum("n").over(w24)
            / budget
        ).alias("b24"),
    )
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(
            (
                (F.col("b1") > _FAST_1H) & (F.col("b6") > _FAST_6H)
            ).cast("bigint")
        ).alias("n_fast_alerts"),
        F.sum(
            (
                (F.col("b6") > _SLOW_6H) & (F.col("b24") > _SLOW_24H)
            ).cast("bigint")
        ).alias("n_slow_alerts"),
        F.round(F.max("b1"), 4).alias("max_burn_1h"),
        F.round(F.max("b6"), 4).alias("max_burn_6h"),
        F.round(F.avg("b1"), 4).alias("mean_burn"),
    )


def q_capacity_headroom(spark, sf_dir):
    """CAPACITY HEADROOM: provisioned = 1.2x mean hourly volume vs
    the exact interpolated p95 and max hourly volume."""
    h = _hourly(spark, sf_dir).select("h", "n")
    wr = Window.orderBy("n", "h")
    ranked = h.select(
        "n",
        (F.row_number().over(wr) - 1).cast("double").alias("r"),
    )
    m = h.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.avg("n").alias("mean_n"),
        F.max("n").cast("bigint").alias("max_n"),
    )
    # exact linear interpolation at rank 0.95 (n-1)
    pos = (F.col("cnt") - 1).cast("double") * 0.95
    lo = F.floor(pos).cast("double")
    frac = pos - lo
    p95 = (
        ranked.crossJoin(F.broadcast(m))
        .where(
            (F.col("r") == F.floor(pos))
            | (F.col("r") == F.ceil(pos))
        )
        .groupBy("cnt", "mean_n", "max_n")
        .agg(
            F.sum(
                F.when(
                    F.col("r") == F.floor(pos),
                    F.when(
                        F.ceil(pos) == F.floor(pos),
                        F.col("n").cast("double"),
                    ).otherwise(F.col("n") * (1 - frac)),
                ).otherwise(F.col("n") * frac)
            ).alias("p95")
        )
    )
    prov = F.col("mean_n") * _CAP_FACTOR
    return p95.select(
        F.col("cnt").alias("n_hours"),
        F.round(prov, 4).alias("provisioned"),
        F.round("p95", 4).alias("p95_hourly"),
        "max_n",
        F.round(prov / F.col("p95") - 1, 6).alias("headroom_p95"),
        F.round(prov / F.col("max_n") - 1, 6).alias("headroom_max"),
    )
