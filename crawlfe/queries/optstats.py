"""Feature-eng pack #127 (r4): optimizer-statistics audits — the
cardinality-estimation error analyses a query engine runs on itself,
next to join_cardinality_est / scan_split_plan / salt_plan.

* ``selectivity_audit`` — the independence assumption on trial:
  for predicate pairs (event_type = 'purchase', value > global
  mean, day <= 15), the estimated conjunctive selectivity
  p1 * p2 vs the actual, with the correlation ratio err =
  actual / est — the number that decides when an optimizer needs
  multi-column stats.
* ``histogram_est_error`` — a 10-bucket equi-depth histogram of
  event cents, then range-predicate selectivity estimated by
  uniform-within-bucket interpolation vs exact, for three ranges —
  the textbook estimator and its real error.
* ``ndv_sample_est`` — distinct-user estimation from the
  deterministic 10% sample (user_id % 10 = 0 over events):
  scale-up, Goodman/GEE (d + (sqrt(1/q) - 1) f1) and Chao2-style
  (d + f1^2/(2 f2)) vs the true NDV.

Scale shape: histograms/samples are one pass + tiny grids;
predicates are counted in ONE aggregate over the fact table (no
per-predicate rescans).
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_HIST_B = 10
_NDV_MOD = 10  # deterministic 10% "sample": user_id % 10 = 0
# range predicates for the histogram audit, as (lo_q, hi_q) quantile
# positions of the cents distribution
_HIST_RANGES = ((0.05, 0.25), (0.40, 0.60), (0.70, 0.99))


def q_selectivity_audit(spark, sf_dir):
    """INDEPENDENCE-ASSUMPTION audit for three predicate pairs:
    estimated p1*p2 vs actual conjunctive selectivity."""
    e = _t(spark, sf_dir, "events")
    mean_v = e.agg(F.avg("value").alias("mv"))
    j = e.crossJoin(F.broadcast(mean_v))
    p1 = F.col("event_type") == "purchase"
    p2 = F.col("value") > F.col("mv")
    p3 = F.dayofmonth(F.col("ts").cast("timestamp")) <= 15
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(p1.cast("double")).alias("s1"),
        F.avg(p2.cast("double")).alias("s2"),
        F.avg(p3.cast("double")).alias("s3"),
        F.avg((p1 & p2).cast("double")).alias("s12"),
        F.avg((p1 & p3).cast("double")).alias("s13"),
        F.avg((p2 & p3).cast("double")).alias("s23"),
    )
    rows = []
    for tag, a, b, ab in (
        ("type&value", "s1", "s2", "s12"),
        ("type&day", "s1", "s3", "s13"),
        ("value&day", "s2", "s3", "s23"),
    ):
        rows.append(
            m.select(
                F.lit(tag).alias("pair"),
                "n",
                F.round(F.col(a) * F.col(b), 6).alias("est_indep"),
                F.round(F.col(ab), 6).alias("actual"),
                F.round(
                    F.col(ab) / (F.col(a) * F.col(b)), 6
                ).alias("corr_ratio"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("pair")


def q_histogram_est_error(spark, sf_dir):
    """EQUI-DEPTH-HISTOGRAM selectivity estimates for three cents
    ranges vs exact, with the estimation error."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c")
    )
    wr = Window.orderBy("c")
    ranked = e.select(
        "c",
        F.row_number().over(wr).cast("double").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("double")
        .alias("n"),
    )
    # bucket b = ceil(r * B / n); boundaries = max c per bucket
    bounds = (
        ranked.groupBy(
            F.ceil(F.col("r") * _HIST_B / F.col("n"))
            .cast("bigint")
            .alias("b")
        )
        .agg(
            F.max("c").cast("double").alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
        .localCheckpoint(eager=True)
    )
    lo_b = bounds.select(
        "b",
        "hi",
        "cnt",
        F.lag("hi")
        .over(Window.orderBy("b"))
        .alias("lo"),
    )
    mn = e.agg(
        F.min("c").cast("double").alias("cmin"),
        F.count(F.lit(1)).cast("bigint").alias("ntot"),
    )
    hist = lo_b.crossJoin(F.broadcast(mn)).select(
        "b",
        F.coalesce(F.col("lo"), F.col("cmin") - 1).alias("lo"),
        "hi",
        "cnt",
        "ntot",
    ).localCheckpoint(eager=True)

    # query ranges from exact quantile positions of the SAME data
    q = e.select(
        "c",
        ((F.row_number().over(wr) - 1).cast("double")).alias("r0"),
    ).crossJoin(
        F.broadcast(
            e.agg(
                (F.count(F.lit(1)) - 1)
                .cast("double")
                .alias("m")
            )
        )
    )
    rows = []
    for i, (a, bq) in enumerate(_HIST_RANGES):
        cuts = q.where(
            (F.col("r0") == F.floor(F.col("m") * a))
            | (F.col("r0") == F.floor(F.col("m") * bq))
        ).agg(
            F.min("c").cast("double").alias("qa"),
            F.max("c").cast("double").alias("qb"),
        )
        j = hist.crossJoin(F.broadcast(cuts))
        ov = F.greatest(
            F.lit(0.0),
            F.least(F.col("hi"), F.col("qb"))
            - F.greatest(F.col("lo"), F.col("qa")),
        )
        est = j.agg(
            F.sum(
                F.col("cnt")
                * ov
                / (F.col("hi") - F.col("lo"))
                / F.col("ntot")
            ).alias("est"),
            F.max("ntot").alias("ntot"),
        )
        actual = (
            e.crossJoin(F.broadcast(cuts))
            .agg(
                F.avg(
                    (
                        (F.col("c") > F.col("qa"))
                        & (F.col("c") <= F.col("qb"))
                    ).cast("double")
                ).alias("actual")
            )
        )
        rows.append(
            est.crossJoin(actual)
            .crossJoin(F.broadcast(cuts))
            .select(
                F.lit(f"r{i + 1}").alias("range_id"),
                F.col("qa").alias("lo_cents"),
                F.col("qb").alias("hi_cents"),
                F.round("est", 6).alias("est_sel"),
                F.round("actual", 6).alias("actual_sel"),
                F.round(
                    F.col("est") - F.col("actual"), 6
                ).alias("abs_err"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("range_id")


def q_ndv_sample_est(spark, sf_dir):
    """SAMPLE-BASED NDV estimators (10% deterministic user sample):
    scale-up, Goodman/GEE, Chao2 — vs the true distinct count."""
    e = _t(spark, sf_dir, "events")
    truth = e.agg(
        F.countDistinct("user_id").cast("bigint").alias("true_ndv")
    )
    samp = e.where(F.col("user_id") % _NDV_MOD == 0)
    per = samp.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    s = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum((F.col("cnt") == 1).cast("bigint")).alias("f1"),
        F.sum((F.col("cnt") == 2).cast("bigint")).alias("f2"),
    )
    qrate = 1.0 / _NDV_MOD
    gee = F.col("d") + (
        F.lit(float(_NDV_MOD) ** 0.5) - 1
    ) * F.col("f1")
    chao = F.col("d") + F.col("f1") * F.col("f1") / (
        2 * F.greatest(F.col("f2"), F.lit(1)).cast("double")
    )
    return s.crossJoin(truth).select(
        "true_ndv",
        "d",
        "f1",
        "f2",
        F.round(F.col("d") / qrate, 2).alias("est_scaleup"),
        F.round(gee, 2).alias("est_gee"),
        F.round(chao, 2).alias("est_chao2"),
    )
