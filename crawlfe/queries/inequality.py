"""Feature-eng pack #122 (r4): inequality decomposition — splitting
WHY two populations differ, next to the level metrics
(daily_gini, lorenz_curve, theil_index, atkinson_index,
mix_rate_decomp).

* ``oaxaca_blinder`` — the two-fold Oaxaca-Blinder decomposition of
  the even/odd-arm gap in per-user total cents, with per-user event
  count as the single covariate: gap = endowments (Xbar_a - Xbar_b)
  b_b + coefficients (Xbar_a (b_a - b_b) + (a_a - a_b)); exact
  BIGINT OLS moments per arm.
* ``theil_decomp`` — Theil-T decomposed over document sources by
  char mass: T = sum_g s_g T_g (within) + sum_g s_g ln(s_g/n_g/N)
  (between) — is length inequality a between-source or
  within-source story?
* ``lorenz_dominance`` — the even-arm vs odd-arm Lorenz curves of
  user spend compared at the decile grid: per-decile cumulative
  shares and the dominance verdict (one curve everywhere >= the
  other, or curves cross).

Scale shape: per-arm/group moment reductions (one hash agg each);
the decile grid is an ordered window over per-user totals.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_LD_DECILES = 10


def _user_panel(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("y"),
            F.count(F.lit(1)).cast("bigint").alias("x"),
        )
        .select(
            "user_id",
            "y",
            "x",
            (F.col("user_id") % 2 == 0).alias("a"),
        )
    )


def q_oaxaca_blinder(spark, sf_dir):
    """TWO-FOLD OAXACA-BLINDER of the arm gap in user spend with
    event count as the covariate (reference coefficients: arm B)."""
    u = _user_panel(spark, sf_dir)
    m = u.groupBy("a").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nn = F.col("n").cast("double")
    mx = F.col("sx") / nn
    my = F.col("sy") / nn
    b = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    g = m.select(
        "a",
        mx.alias("mx"),
        my.alias("my"),
        b.alias("b"),
        (my - b * mx).alias("icpt"),
    )
    wide = (
        g.where(F.col("a"))
        .select(
            F.col("mx").alias("mx_a"),
            F.col("my").alias("my_a"),
            F.col("b").alias("b_a"),
            F.col("icpt").alias("i_a"),
        )
        .crossJoin(
            g.where(~F.col("a")).select(
                F.col("mx").alias("mx_b"),
                F.col("my").alias("my_b"),
                F.col("b").alias("b_b"),
                F.col("icpt").alias("i_b"),
            )
        )
    )
    gap = F.col("my_a") - F.col("my_b")
    endow = (F.col("mx_a") - F.col("mx_b")) * F.col("b_b")
    coeff = F.col("mx_a") * (F.col("b_a") - F.col("b_b")) + (
        F.col("i_a") - F.col("i_b")
    )
    return wide.select(
        F.round(gap, 4).alias("gap"),
        F.round(endow, 4).alias("endowments"),
        F.round(coeff, 4).alias("coefficients"),
        F.round(endow + coeff, 4).alias("check_sum"),
    )


def q_theil_decomp(spark, sf_dir):
    """THEIL-T within/between decomposition of doc char mass over
    sources."""
    d = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("v")
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("sv"),
    )
    gsum = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("v").alias("svg"),
    )
    # within-group Theil: sum (v/svg) ln(v/(svg/ng))
    tw = (
        d.join(F.broadcast(gsum), "source")
        .groupBy("source")
        .agg(
            (
                F.sum(
                    F.col("v")
                    * F.log(
                        F.col("v")
                        / (F.col("svg") / F.col("ng"))
                    )
                )
                / F.max("svg")
            ).alias("t_g")
        )
    )
    tg = (
        gsum.join(tw, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "ng",
            "n",
            "t_g",
            (F.col("svg") / F.col("sv")).alias("s_g"),
        )
    )
    out = tg.agg(
        F.sum(F.col("s_g") * F.col("t_g")).alias("within"),
        F.sum(
            F.col("s_g")
            * F.log(
                F.col("s_g")
                / (F.col("ng") / F.col("n").cast("double"))
            )
        ).alias("between"),
    )
    return out.select(
        F.round("within", 6).alias("theil_within"),
        F.round("between", 6).alias("theil_between"),
        F.round(
            F.col("within") + F.col("between"), 6
        ).alias("theil_total"),
    )


def q_lorenz_dominance(spark, sf_dir):
    """LORENZ CURVES of user spend per arm at the decile grid, with
    the dominance verdict."""
    u = _user_panel(spark, sf_dir)
    w = Window.partitionBy("a").orderBy("y", "user_id")
    r = u.select(
        "a",
        "y",
        F.row_number().over(w).cast("double").alias("r"),
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("cum"),
        F.count(F.lit(1))
        .over(Window.partitionBy("a"))
        .cast("double")
        .alias("n"),
        F.sum("y")
        .over(Window.partitionBy("a"))
        .cast("double")
        .alias("tot"),
    )
    grid = spark.range(1, _LD_DECILES + 1).select(
        F.col("id").cast("bigint").alias("decile")
    )
    # share at decile d = cumulative share at rank ceil(d n / 10):
    # always a real row, so every (arm, decile) cell is populated
    # even when an arm has fewer than 10 users
    dec = r.crossJoin(F.broadcast(grid)).where(
        F.col("r")
        == F.ceil(
            F.col("decile") * F.col("n") / _LD_DECILES
        ).cast("double")
    )
    pivot = (
        dec.groupBy("decile")
        .agg(
            F.round(
                F.max(F.when(F.col("a"), F.col("cum") / F.col("tot"))),
                6,
            ).alias("share_even"),
            F.round(
                F.max(
                    F.when(~F.col("a"), F.col("cum") / F.col("tot"))
                ),
                6,
            ).alias("share_odd"),
        )
    )
    wall = Window.partitionBy()
    return pivot.select(
        "decile",
        "share_even",
        "share_odd",
        F.when(
            F.min(
                (F.col("share_even") >= F.col("share_odd")).cast(
                    "int"
                )
            ).over(wall)
            == 1,
            F.lit("even_dominates"),
        )
        .when(
            F.min(
                (F.col("share_odd") >= F.col("share_even")).cast(
                    "int"
                )
            ).over(wall)
            == 1,
            F.lit("odd_dominates"),
        )
        .otherwise(F.lit("curves_cross"))
        .alias("verdict"),
    ).orderBy("decile")
