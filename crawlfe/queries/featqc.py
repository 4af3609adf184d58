"""Feature-eng pack #128 (r4): feature-panel quality control — the
pre-training checks on a 5-feature per-user panel (n_events,
total_cents, n_purchases, active_days, max_day_gap), next to
fs_weights / chi2_terms / mutual_info / covariate_balance.

* ``mrmr_lite`` — greedy minimum-redundancy-maximum-relevance
  selection of 3 of the 5 features against the heavy-buyer label:
  relevance = |Pearson r with label|, redundancy = mean |r| with
  already-picked; the greedy argmax runs IN-ENGINE over the long-
  format correlation matrix (rank windows), so both engines pick
  identically.
* ``vif3_audit`` — exact variance inflation factors for the
  (n_events, total_cents, n_purchases) triple via the closed form
  R2_1.23 = (r12^2 + r13^2 - 2 r12 r13 r23)/(1 - r23^2).
* ``feature_stability`` — split-half reliability: each feature
  recomputed on days 1-15 vs 16+, Pearson r across users per
  feature — features that don't correlate with themselves can't
  carry signal.

Scale shape: one hash agg to the per-user panel; correlations are
single moment reductions; the greedy/VIF logic runs on the tiny
k x k matrix.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t
from .contingency import _FE_HEAVY

_FEATS = ("n_events", "total_cents", "n_purchases", "active_days",
          "max_day_gap")
_MRMR_K = 3


def _panel(spark, sf_dir, day_filter=None):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        (F.col("event_type") == "purchase").alias("buy"),
    )
    if day_filter is not None:
        e = e.where(day_filter)
    w = Window.partitionBy("user_id").orderBy("day")
    gaps = (
        e.select("user_id", "day")
        .distinct()
        .select(
            "user_id",
            (
                F.col("day") - F.lag("day").over(w)
            ).alias("gap"),
        )
        .groupBy("user_id")
        .agg(
            F.coalesce(F.max("gap"), F.lit(0))
            .cast("bigint")
            .alias("max_day_gap")
        )
    )
    base = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("buy").cast("bigint"))
        .cast("bigint")
        .alias("n_purchases"),
        F.countDistinct("day").cast("bigint").alias("active_days"),
    )
    return base.join(gaps, "user_id")


def _corr_long(spark, sf_dir):
    """Long-format |Pearson r|: feature-feature and feature-label."""
    p = _panel(spark, sf_dir)
    lab = (F.col("n_purchases") >= _FE_HEAVY).cast("double")
    cols = {f: F.col(f).cast("double") for f in _FEATS}
    cols["label"] = lab
    aggs = []
    names = list(cols)
    for i, a in enumerate(names):
        aggs.append(F.avg(cols[a]).alias(f"m_{a}"))
        for b in names[i:]:
            aggs.append(
                F.avg(cols[a] * cols[b]).alias(f"x_{a}_{b}")
            )
    m = p.agg(*aggs)
    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            cov = F.col(f"x_{a}_{b}") - F.col(f"m_{a}") * F.col(
                f"m_{b}"
            )
            va = F.col(f"x_{a}_{a}") - F.col(f"m_{a}") * F.col(
                f"m_{a}"
            )
            vb = F.col(f"x_{b}_{b}") - F.col(f"m_{b}") * F.col(
                f"m_{b}"
            )
            rows.append(
                m.select(
                    F.lit(a).alias("fa"),
                    F.lit(b).alias("fb"),
                    F.abs(cov / F.sqrt(va * vb)).alias("r"),
                )
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.localCheckpoint(eager=True)


def q_mrmr_lite(spark, sf_dir):
    """GREEDY mRMR top-3 features vs the heavy-buyer label — the
    argmax chain runs in-engine on the correlation matrix."""
    corr = _corr_long(spark, sf_dir)
    rel = corr.where(F.col("fb") == "label").select(
        F.col("fa").alias("f"), F.col("r").alias("rel")
    )
    # symmetric feature-feature |r|
    ff = corr.where(F.col("fb") != "label")
    ff = ff.select("fa", "fb", "r").unionByName(
        ff.select(
            F.col("fb").alias("fa"), F.col("fa").alias("fb"), "r"
        )
    ).localCheckpoint(eager=True)
    picks = []
    sel = None
    for step in range(1, _MRMR_K + 1):
        if sel is None:
            score = rel.select(
                "f", F.col("rel").alias("score")
            )
        else:
            red = (
                ff.join(
                    sel.select(F.col("f").alias("fb")), "fb"
                )
                .groupBy(F.col("fa").alias("f"))
                .agg(F.avg("r").alias("red"))
            )
            score = (
                rel.join(sel.withColumnRenamed("f", "_s"),
                         rel["f"] == F.col("_s"), "left_anti")
                .join(red, "f")
                .select(
                    "f",
                    (F.col("rel") - F.col("red")).alias("score"),
                )
            )
        wtop = Window.orderBy(F.desc("score"), F.asc("f"))
        top = (
            score.withColumn("rk", F.row_number().over(wtop))
            .where(F.col("rk") == 1)
            .select("f", F.round("score", 6).alias("score"))
            .localCheckpoint(eager=True)
        )
        picks.append(
            top.select(
                F.lit(step).cast("bigint").alias("step"), "f", "score"
            )
        )
        sel = (
            top.select("f")
            if sel is None
            else sel.unionByName(top.select("f"))
        ).localCheckpoint(eager=True)
    out = picks[0]
    for p_ in picks[1:]:
        out = out.unionByName(p_)
    return out.orderBy("step")


def q_vif3_audit(spark, sf_dir):
    """EXACT VIFs for (n_events, total_cents, n_purchases) via the
    two-covariate closed form."""
    corr = _corr_long(spark, sf_dir)
    trio = ("n_events", "total_cents", "n_purchases")

    def r_of(a, b):
        x, y = (a, b) if a < b else (b, a)
        # corr rows follow the _FEATS list order, so match either
        return (
            corr.where(
                ((F.col("fa") == x) & (F.col("fb") == y))
                | ((F.col("fa") == y) & (F.col("fb") == x))
            ).select(F.col("r").alias(f"r_{x}_{y}"))
        )

    r12 = r_of(trio[0], trio[1])
    r13 = r_of(trio[0], trio[2])
    r23 = r_of(trio[1], trio[2])
    j = r12.crossJoin(r13).crossJoin(r23)
    rows = []
    combos = [
        (trio[0], trio[1], trio[2]),
        (trio[1], trio[0], trio[2]),
        (trio[2], trio[0], trio[1]),
    ]
    for tgt, c1, c2 in combos:
        ra = F.col(f"r_{min(tgt, c1)}_{max(tgt, c1)}")
        rb = F.col(f"r_{min(tgt, c2)}_{max(tgt, c2)}")
        rc = F.col(f"r_{min(c1, c2)}_{max(c1, c2)}")
        r2 = (ra * ra + rb * rb - 2 * ra * rb * rc) / (1 - rc * rc)
        rows.append(
            j.select(
                F.lit(tgt).alias("feature"),
                F.round(r2, 6).alias("r2_on_others"),
                F.round(1 / (1 - r2), 4).alias("vif"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("feature")


def q_feature_stability(spark, sf_dir):
    """SPLIT-HALF RELIABILITY: per feature, Pearson r between the
    days-1-15 and days-16+ recomputations across users."""
    pa = _panel(
        spark,
        sf_dir,
        F.dayofmonth(F.col("ts").cast("timestamp")) <= 15,
    )
    pb = _panel(
        spark,
        sf_dir,
        F.dayofmonth(F.col("ts").cast("timestamp")) > 15,
    )
    j = pa.alias("a").join(pb.alias("b"), "user_id")
    rows = []
    for f in _FEATS:
        x = F.col(f"a.{f}").cast("double")
        y = F.col(f"b.{f}").cast("double")
        m = j.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg(x).alias("mx"),
            F.avg(y).alias("my"),
            F.avg(x * x).alias("mxx"),
            F.avg(y * y).alias("myy"),
            F.avg(x * y).alias("mxy"),
        )
        r = (F.col("mxy") - F.col("mx") * F.col("my")) / F.sqrt(
            (F.col("mxx") - F.col("mx") * F.col("mx"))
            * (F.col("myy") - F.col("my") * F.col("my"))
        )
        rows.append(
            m.select(
                F.lit(f).alias("feature"),
                "n",
                F.round(r, 6).alias("split_half_r"),
            )
        )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out.orderBy("feature")
