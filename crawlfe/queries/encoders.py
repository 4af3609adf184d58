"""Feature-eng pack #72 (r4): categorical encoders + multi-class eval.

The model-input encoders a tabular training pipeline applies to
high-cardinality categoricals, plus the multi-class quality readout.
All integer-count cores with closed-form tails:

* ``count_encode`` — count / smoothed-frequency encoding of two
  categorical columns at once (event_type and day-of-week), emitted
  long-form (feature, level): raw count, Laplace-smoothed frequency
  (cnt+α)/(N+α·K), and log1p-count — the three standard variants
  (public recipe; cf. scikit-learn CountEncoder / CatBoost docs).
  One hash agg per column over the fat table, union of O(K) rows.
* ``one_hot_topk`` — top-3-plus-other one-hot expansion: the top
  levels are chosen by a deterministic (count desc, name asc) rank,
  every other level folds into ``evt_other``, and the expansion is
  emitted LONG-form (user_id, feature, value) — the shape a feature
  store ingests, and the sparse-safe alternative to a wide
  N-column one-hot at 10^12 rows.  The top-k relation is O(K) and
  broadcast into the fat-side map.
* ``macro_f1`` — macro/per-class precision-recall-F1 of a histogram
  classifier: train on days 1-15 (per value-bin argmax class with a
  deterministic tie rule, global-argmax fallback for empty bins),
  score days 16+.  The confusion counts are one hash agg; per-class
  rows plus a __MACRO__ summary row.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_CE_ALPHA = 5  # Laplace smoothing pseudo-count
_OH_TOPK = 3
_F1_BIN_CENTS = 2000  # $20 value bins
_F1_MAX_BIN = 9
_F1_TRAIN_DAY_MAX = 15


def q_count_encode(spark, sf_dir):
    """Count / smoothed-frequency / log1p-count encoding of
    event_type and day-of-week, long-form.  freq_smooth uses
    (cnt+α)/(N+α·K) with α=5 and K = the column's observed level
    count, so the tiny encoder table is self-contained."""
    e = _t(spark, sf_dir, "events")

    def enc(col, feat):
        g = e.groupBy(col.alias("level")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        tot = g.agg(
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
        return g.crossJoin(F.broadcast(tot)).select(
            F.lit(feat).alias("feature"),
            F.col("level").cast("string").alias("level"),
            "cnt",
            F.round(
                (F.col("cnt") + F.lit(_CE_ALPHA))
                / (F.col("n") + F.lit(_CE_ALPHA) * F.col("k")).cast(
                    "double"
                ),
                6,
            ).alias("freq_smooth"),
            F.round(F.log1p("cnt"), 6).alias("log1p_cnt"),
        )

    return enc(F.col("event_type"), "event_type").unionAll(
        enc(F.dayofweek("ts"), "dow")
    )


def q_one_hot_topk(spark, sf_dir):
    """Top-3-plus-other one-hot expansion of event_type per user,
    long-form (user_id, feature, value).  The top-k levels come from
    a deterministic (count desc, name asc) rank over the O(K) level
    table, broadcast back into the fat-side CASE map; the expansion
    itself is one (user_id, feature) hash agg — no wide pivot, no
    per-row Python."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = (
        counts.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(
                    F.col("cnt").desc(), F.col("event_type").asc()
                )
            ),
        )
        .where(F.col("rk") <= _OH_TOPK)
        .select(F.col("event_type").alias("top_evt"))
    )
    mapped = e.join(
        F.broadcast(top), e["event_type"] == top["top_evt"], "left"
    ).select(
        "user_id",
        F.when(
            F.col("top_evt").isNotNull(),
            F.concat(F.lit("evt_"), F.col("event_type")),
        )
        .otherwise(F.lit("evt_other"))
        .alias("feature"),
    )
    return (
        mapped.groupBy("user_id", "feature")
        .agg(F.count(F.lit(1)).cast("bigint").alias("value"))
    )


def q_macro_f1(spark, sf_dir):
    """Macro / per-class P-R-F1 of a histogram classifier: per $20
    value bin, argmax train-class (days 1-15, tie rule count desc
    then class asc; global train argmax backs empty bins), scored on
    days 16+.  tp/fp/fn come from one (true,pred) hash agg; per-class
    rows + a __MACRO__ row carrying the macro-F1."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.dayofmonth("ts").alias("day"),
        F.least(
            F.lit(_F1_MAX_BIN),
            F.expr(
                f"CAST(round(value * 100) AS BIGINT) DIV {_F1_BIN_CENTS}"
            ),
        ).alias("bin"),
    )
    train = e.where(F.col("day") <= _F1_TRAIN_DAY_MAX)
    test = e.where(F.col("day") > _F1_TRAIN_DAY_MAX)
    rk = Window.partitionBy("bin").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    bin_pred = (
        train.groupBy("bin", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select("bin", F.col("event_type").alias("pred"))
    )
    global_pred = (
        train.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(
                    F.col("cnt").desc(), F.col("event_type").asc()
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select(F.col("event_type").alias("gpred"))
    )
    scored = (
        test.join(F.broadcast(bin_pred), "bin", "left")
        .crossJoin(F.broadcast(global_pred))
        .select(
            F.col("event_type").alias("true_cls"),
            F.coalesce("pred", "gpred").alias("pred_cls"),
        )
    )
    conf = scored.groupBy("true_cls", "pred_cls").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    classes = conf.select(
        F.col("true_cls").alias("cls")
    ).unionAll(conf.select("pred_cls")).distinct()
    tp = conf.where(F.col("true_cls") == F.col("pred_cls")).select(
        F.col("true_cls").alias("cls"), F.col("n").alias("tp")
    )
    fp = (
        conf.where(F.col("true_cls") != F.col("pred_cls"))
        .groupBy(F.col("pred_cls").alias("cls"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.where(F.col("true_cls") != F.col("pred_cls"))
        .groupBy(F.col("true_cls").alias("cls"))
        .agg(F.sum("n").alias("fn"))
    )
    per = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("bigint").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("bigint").alias("fn"),
        )
        .withColumn(
            "precision",
            F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
                F.col("tp") / (F.col("tp") + F.col("fp"))
            ),
        )
        .withColumn(
            "recall",
            F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
                F.col("tp") / (F.col("tp") + F.col("fn"))
            ),
        )
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") == 0, F.lit(0.0)
            ).otherwise(
                2
                * F.col("precision")
                * F.col("recall")
                / (F.col("precision") + F.col("recall"))
            ),
        )
    )
    rows = per.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )
    macro = per.agg(
        F.lit("__MACRO__").alias("cls"),
        F.sum("tp").cast("bigint").alias("tp"),
        F.sum("fp").cast("bigint").alias("fp"),
        F.sum("fn").cast("bigint").alias("fn"),
        F.round(F.avg("precision"), 6).alias("precision"),
        F.round(F.avg("recall"), 6).alias("recall"),
        F.round(F.avg("f1"), 6).alias("f1"),
    )
    return rows.unionAll(macro)
