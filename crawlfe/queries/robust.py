"""Feature-eng pack #69 (r4): robust estimation + sketch set algebra +
deterministic randomization inference.

* ``huber_mean`` — Huber M-estimator of location (Huber 1964) via two
  fixed IRLS rounds: outlier-downweighted mean of event values per
  type, the robust aggregate a metrics pipeline prefers over the raw
  mean under heavy tails.  Each round is one agg + one broadcast —
  bounded rounds, no sort.
* ``kmv_intersect`` — KMV sketch INTERSECTION estimate (Beyer et al.
  2007): from the k-min sketches of the click and purchase user sets,
  estimate |A∩B| as (|S∩S_A∩S_B|/k)·est(|A∪B|) where S is the k-min
  sketch of the union.  Completes the sketch set algebra next to
  `kmv_distinct` / `kmv_union_merge`; reported beside the exact
  intersection and its relative error.
* ``perm_test_mean`` — hash-randomization two-sample test: B=32
  deterministic md5 relabelings of purchase-vs-click values; p-value
  = (1 + #extreme) / (B+1).  The permutation-inference shape with the
  repo's derandomized-draw discipline, so the oracle is exact.  One
  explode(0..B-1) + a two-level agg — map-side combinable, B is a
  constant fan-out, never a shuffle multiplier.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t
from .sketch_period import _H60_SQL, _KMV_DOM, _KMV_K, _h60

_HUBER_C = 1.345
_HUBER_ROUNDS = 2
_PERM_B = 32


def q_huber_mean(spark, sf_dir):
    """Per-event-type Huber location: start from the plain mean,
    then 2 IRLS rounds with weights w = min(1, c·sigma/|x - m|)
    (c = 1.345, sigma = population std).  Intermediates are rounded
    to 6 before re-use so both engines iterate on identical values.
    Output: n, raw mean, huber mean, and how many rows the final
    round downweighted."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("value"), 6).alias("m"),
        F.round(F.stddev_pop("value"), 6).alias("sig"),
    )
    k = F.round(F.lit(_HUBER_C) * F.col("sig"), 6)
    cur = base.select("event_type", "n", "m", k.alias("k"), F.col("m").alias("m0"))
    for _ in range(_HUBER_ROUNDS):
        j = ev.join(F.broadcast(cur), "event_type")
        dist = F.abs(F.col("value") - F.col("m"))
        w = F.when(dist <= F.col("k"), F.lit(1.0)).otherwise(
            F.col("k") / dist
        )
        cur = (
            j.groupBy("event_type", "n", "k", "m0")
            .agg(
                F.round(F.sum(w * F.col("value")) / F.sum(w), 6).alias("m"),
                F.sum((dist > F.col("k")).cast("int"))
                .cast("bigint")
                .alias("n_down"),
            )
            .select("event_type", "n", "m", "k", "m0", "n_down")
        )
    return cur.select(
        "event_type",
        "n",
        F.round("m0", 4).alias("mean"),
        F.round("m", 4).alias("huber_mean"),
        "n_down",
    )


def q_kmv_intersect(spark, sf_dir):
    """KMV intersection estimate for the click-user and purchase-user
    sets: per-set k-min sketches (WindowGroupLimit pushes the top-K
    map-side), union sketch = k smallest of the merged hashes,
    K_int = |union-sketch ∩ both sketches|, est(|A∩B|) =
    (K_int / k) · (k-1)·2^60 / h_(k).  Everything after the distinct
    is O(k) rows."""
    ev = _t(spark, sf_dir, "events")

    def sketch(event_type):
        dist = (
            ev.where(F.col("event_type") == event_type)
            .select("user_id")
            .distinct()
            .select(_h60(F.col("user_id")).alias("h"))
        )
        w = Window.orderBy("h")
        return dist.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= _KMV_K
        ).select("h")

    sa = sketch("click")
    sb = sketch("purchase")
    merged = sa.unionAll(sb).distinct()
    wu = Window.orderBy("h")
    su = merged.withColumn("rn", F.row_number().over(wu)).where(
        F.col("rn") <= _KMV_K
    )
    kth = su.agg(
        F.max("h").alias("kth_h"),
        F.count(F.lit(1)).cast("bigint").alias("k_eff"),
    )
    k_int = (
        su.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k_int"))
    )
    exact = (
        ev.where(F.col("event_type") == "click")
        .select("user_id")
        .intersect(
            ev.where(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    union_est = F.when(
        F.col("k_eff") < _KMV_K, F.col("k_eff").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(_KMV_DOM) / F.col("kth_h")
    )
    est = F.round(
        F.col("k_int").cast("double") / F.col("k_eff") * union_est, 4
    )
    return (
        k_int.crossJoin(F.broadcast(kth))
        .crossJoin(F.broadcast(exact))
        .select(
            "k_int",
            "k_eff",
            "kth_h",
            "n_exact",
            est.alias("kmv_est"),
            F.round(
                (est - F.col("n_exact")) / F.col("n_exact").cast("double"),
                4,
            ).alias("rel_err"),
        )
    )


def q_perm_test_mean(spark, sf_dir):
    """Hash-randomization test for the purchase-vs-click value-mean
    difference: B=32 deterministic relabelings (md5(event_id, b)
    parity), p = (1 + #{|diff_b| >= |observed|}) / (B+1).  Diffs are
    rounded to 6 before the extreme-count compare so the decision is
    engine-portable."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    ).select("event_id", "event_type", "value")
    obs = ev.groupBy().agg(
        F.round(
            F.avg(F.when(F.col("event_type") == "purchase", F.col("value")))
            - F.avg(F.when(F.col("event_type") == "click", F.col("value"))),
            6,
        ).alias("obs_diff"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("n_a"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("bigint")
        .alias("n_b"),
    )
    b = F.explode(
        F.sequence(F.lit(0), F.lit(_PERM_B - 1))
    ).alias("b")
    lab = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_", F.col("event_id").cast("string"), F.col("b")
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    perms = ev.select("event_id", "value", b).select(
        "b", "value", lab.alias("g")
    )
    diffs = perms.groupBy("b").agg(
        F.round(
            F.avg(F.when(F.col("g") == 1, F.col("value")))
            - F.avg(F.when(F.col("g") == 0, F.col("value"))),
            6,
        ).alias("diff_b")
    )
    extreme = diffs.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            (F.abs(F.col("diff_b")) >= F.abs(F.col("obs_diff"))).cast("int")
        )
        .cast("bigint")
        .alias("n_extreme")
    )
    return obs.crossJoin(F.broadcast(extreme)).select(
        "n_a",
        "n_b",
        "obs_diff",
        F.lit(_PERM_B).cast("bigint").alias("n_perms"),
        "n_extreme",
        F.round(
            (1 + F.col("n_extreme")) / F.lit(float(_PERM_B + 1)), 4
        ).alias("p_value"),
    )
