"""Feature-eng pack #124 (r4): pricing & inventory analytics on the
TPC-H fact tables — the demand-side trio next to discount_depth /
supplier_hhi / weekend_lift.

* ``price_elasticity`` — per-brand log-log demand regression:
  elasticity = OLS slope of ln(quantity) on ln(unit price =
  extendedprice/quantity) across that brand's line items, with R^2;
  the classic own-price elasticity panel.
* ``newsvendor_stock`` — the newsvendor quantity for daily demand
  (units/day of lineitem quantity): critical ratio cu/(cu+co) at
  (cu, co) = (3, 1), q* = the exact interpolated critical-ratile of
  daily demand, and the realized empirical cost of stocking q* vs
  stocking the mean (the cost of ignoring the asymmetry).
* ``demand_pooling`` — risk-pooling audit across the 5 brands with
  the largest volume: sd of pooled daily demand vs the sum of
  per-brand sds; ratio < 1 quantifies the safety-stock saving at
  z = 1.645.

Scale shape: lineitem folds to per-brand/day relations in one hash
agg each; OLS and quantiles are O(brands)/O(days) reductions.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_NV_CU, _NV_CO = 3.0, 1.0  # underage/overage unit costs
_POOL_TOP = 5
_POOL_Z = 1.645


def q_price_elasticity(spark, sf_dir):
    """PER-BRAND LOG-LOG price elasticity of demand with R^2."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    lx = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    ly = F.log("l_quantity")
    m = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(lx).alias("mx"),
        F.avg(ly).alias("my"),
        F.avg(lx * lx).alias("mxx"),
        F.avg(lx * ly).alias("mxy"),
        F.avg(ly * ly).alias("myy"),
    )
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    sxx = F.col("mxx") - F.col("mx") * F.col("mx")
    syy = F.col("myy") - F.col("my") * F.col("my")
    return m.select(
        "p_brand",
        "n",
        F.round(sxy / sxx, 6).alias("elasticity"),
        F.round(sxy * sxy / (sxx * syy), 6).alias("r2"),
    ).orderBy("p_brand")


def _daily_demand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.to_date("l_shipdate").alias("d")
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint"))
        .cast("bigint")
        .alias("q")
    )


def q_newsvendor_stock(spark, sf_dir):
    """NEWSVENDOR stock level at critical ratio cu/(cu+co) = 0.75:
    exact interpolated quantile of daily demand, plus the realized
    cost of q* vs stocking the mean."""
    d = _daily_demand(spark, sf_dir)
    cr = _NV_CU / (_NV_CU + _NV_CO)
    wr = Window.orderBy("q", "d")
    ranked = d.select(
        F.col("q").cast("double").alias("v"),
        (F.row_number().over(wr) - 1).cast("double").alias("r"),
        (F.count(F.lit(1)).over(Window.partitionBy()) - 1)
        .cast("double")
        .alias("m"),
    )
    pos = F.col("m") * cr
    qstar = ranked.where(
        (F.col("r") == F.floor(pos)) | (F.col("r") == F.ceil(pos))
    ).agg(
        F.sum(
            F.when(
                F.col("r") == F.floor(pos),
                F.when(
                    F.ceil(pos) == F.floor(pos), F.col("v")
                ).otherwise(F.col("v") * (1 - (pos - F.floor(pos)))),
            ).otherwise(F.col("v") * (pos - F.floor(pos)))
        ).alias("qstar")
    )
    mean = d.agg(
        F.avg(F.col("q").cast("double")).alias("qmean"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    j = d.crossJoin(F.broadcast(qstar)).crossJoin(F.broadcast(mean))

    def cost(stock):
        over = F.greatest(stock - F.col("q"), F.lit(0.0))
        under = F.greatest(F.col("q") - stock, F.lit(0.0))
        return F.avg(_NV_CO * over + _NV_CU * under)

    out = j.agg(
        F.max("n").alias("n"),
        F.round(F.max("qstar"), 4).alias("q_star"),
        F.round(F.max("qmean"), 4).alias("q_mean"),
        F.round(cost(F.col("qstar")), 4).alias("cost_at_qstar"),
        F.round(cost(F.col("qmean")), 4).alias("cost_at_mean"),
    )
    return out.select(
        "n",
        F.lit(round(cr, 6)).alias("critical_ratio"),
        "q_star",
        "q_mean",
        "cost_at_qstar",
        "cost_at_mean",
    )


def q_demand_pooling(spark, sf_dir):
    """RISK POOLING across the top-5 volume brands: pooled daily sd
    vs summed per-brand sds; safety-stock saving at z=1.645."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"]
    ).select(
        "p_brand",
        F.to_date("l_shipdate").alias("d"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    top = (
        j.groupBy("p_brand")
        .agg(F.sum("q").cast("bigint").alias("tq"))
        .orderBy(F.desc("tq"), F.asc("p_brand"))
        .limit(_POOL_TOP)
        .select("p_brand")
    )
    jj = j.join(F.broadcast(top), "p_brand")
    byday = jj.groupBy("p_brand", "d").agg(
        F.sum("q").cast("bigint").alias("dq")
    )
    per = byday.groupBy("p_brand").agg(
        F.stddev_samp(F.col("dq").cast("double")).alias("sd")
    )
    sum_sd = per.agg(F.sum("sd").alias("sum_sd"))
    pooled = (
        byday.groupBy("d")
        .agg(F.sum("dq").cast("bigint").alias("pq"))
        .agg(
            F.stddev_samp(F.col("pq").cast("double")).alias(
                "pooled_sd"
            )
        )
    )
    return sum_sd.crossJoin(pooled).select(
        F.round("sum_sd", 4).alias("sum_sd"),
        F.round("pooled_sd", 4).alias("pooled_sd"),
        F.round(F.col("pooled_sd") / F.col("sum_sd"), 6).alias(
            "pooling_ratio"
        ),
        F.round(
            _POOL_Z * (F.col("sum_sd") - F.col("pooled_sd")), 4
        ).alias("safety_stock_saving"),
    )
