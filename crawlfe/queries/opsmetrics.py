"""Feature-eng pack #96 (r4): exact game-theoretic attribution, rank
migration, and the queueing identity every ops dashboard gets wrong.

* ``shapley_features`` — EXACT Shapley values (Shapley 1953) for
  three binary event features (weekend / high-value / afternoon)
  against the purchase rate: the value of a coalition S is the
  conversion rate among events where every feature in S fires; with
  3 players all 8 subset means come from one 8-cell hash agg, the
  classic |S|!(n-|S|-1)!/n! weights are the literal rationals
  1/3, 1/6, 1/6, 1/3, and efficiency (sum phi = v(N) - v(empty))
  holds by telescoping — asserted in pytest.
* ``decile_migration`` — week-1 -> week-4 user value-decile
  transition matrix: per-period exact spend ranks (ceil(10 r / n),
  user_id tie-break), long-form (d1, d4, n) cells with the stay
  flag — the rank-churn readout behind "are whales still whales".
* ``littles_law`` — Little's law audit: L = lambda * W holds EXACTLY
  for the time-integral concurrency (total session-us / horizon);
  the HOURLY-SAMPLED concurrency every dashboard actually plots is a
  biased estimate of it — both reported, plus the sampling error.
  All integrals are exact BIGINT microseconds; boundary counts come
  from exploding each session's covered hour boundaries (guarded
  sequence), never a time cross join.

Scale shape: one hash agg to 8 cells / O(users) / O(sessions) rows;
the boundary fan-out is ~1 row per session-hour.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import SESSION_GAP_S, _t, _us

_SH_CENTS = 15_000  # high-value threshold
_HOUR_US = 3_600_000_000
_DM_W1 = (1, 7)  # week-1 day range
_DM_W4 = (22, 28)  # week-4 day range


def q_shapley_features(spark, sf_dir):
    """EXACT 3-PLAYER SHAPLEY: v(S) = purchase rate where all
    features in S fire; phi_i telescopes over the 8 exact subset
    rates with weights (1/3, 1/6, 1/6, 1/3)."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofweek(F.col("ts").cast("timestamp")).isin(1, 7)
        .cast("int")
        .alias("fa"),
        (F.expr("CAST(round(value * 100) AS BIGINT)") >= _SH_CENTS)
        .cast("int")
        .alias("fb"),
        (F.hour(F.col("ts").cast("timestamp")) >= 12)
        .cast("int")
        .alias("fc"),
        (F.col("event_type") == "purchase").cast("bigint").alias("y"),
    )
    cells = e.groupBy("fa", "fb", "fc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )

    def v(*flags):
        # mean(y) over rows where the named features fire
        cond = F.lit(True)
        for name in flags:
            cond = cond & (F.col(name) == 1)
        return (
            F.sum(F.when(cond, F.col("s"))).cast("double")
            / F.sum(F.when(cond, F.col("n"))).cast("double")
        )

    agg = cells.agg(
        v().alias("v0"),
        v("fa").alias("va"),
        v("fb").alias("vb"),
        v("fc").alias("vc"),
        v("fa", "fb").alias("vab"),
        v("fa", "fc").alias("vac"),
        v("fb", "fc").alias("vbc"),
        v("fa", "fb", "fc").alias("vabc"),
    )

    # phi_i = 1/3 (v_i - v0) + 1/6 (v_ij - v_j) + 1/6 (v_ik - v_k)
    #       + 1/3 (v_ijk - v_jk)
    phi_a = (
        (F.col("va") - F.col("v0")) / 3
        + (F.col("vab") - F.col("vb")) / 6
        + (F.col("vac") - F.col("vc")) / 6
        + (F.col("vabc") - F.col("vbc")) / 3
    )
    phi_b = (
        (F.col("vb") - F.col("v0")) / 3
        + (F.col("vab") - F.col("va")) / 6
        + (F.col("vbc") - F.col("vc")) / 6
        + (F.col("vabc") - F.col("vac")) / 3
    )
    phi_c = (
        (F.col("vc") - F.col("v0")) / 3
        + (F.col("vac") - F.col("va")) / 6
        + (F.col("vbc") - F.col("vb")) / 6
        + (F.col("vabc") - F.col("vab")) / 3
    )
    rows = []
    for name, p in (
        ("weekend", phi_a),
        ("high_value", phi_b),
        ("afternoon", phi_c),
    ):
        rows.append(
            agg.select(
                F.lit(name).alias("feature"),
                F.round(F.col("v0"), 6).alias("v_empty"),
                F.round(F.col("vabc"), 6).alias("v_full"),
                F.round(p, 6).alias("phi"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def q_decile_migration(spark, sf_dir):
    """WEEK-1 -> WEEK-4 value-decile migration: per-user exact spend
    per period, decile = ceil(10 r / n) by (cents, user_id) rank;
    long-form transition cells with the stay flag."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("int").alias("d"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )

    def period(lo, hi, alias):
        per = (
            e.where(F.col("d").between(lo, hi))
            .groupBy("user_id")
            .agg(F.sum("c").cast("bigint").alias("spend"))
        )
        w = Window.orderBy("spend", "user_id")
        n = Window.partitionBy()
        return per.select(
            "user_id",
            (
                -F.floor(
                    -(F.lit(10) * F.row_number().over(w))
                    / F.count(F.lit(1)).over(n)
                )
            )
            .cast("bigint")
            .alias(alias),
        )

    p1 = period(*_DM_W1, "d1")
    p4 = period(*_DM_W4, "d4")
    j = p1.join(p4, "user_id")
    return j.groupBy("d1", "d4").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select(
        "d1", "d4", "n", (F.col("d1") == F.col("d4")).cast("int").alias(
            "stayed"
        )
    )


def q_littles_law(spark, sf_dir):
    """LITTLE'S LAW AUDIT: exact time-average concurrency
    L = total session-us / horizon (== lambda * W identically) vs the
    hourly-snapshot estimate dashboards plot; both exact integer
    ratios, plus the sampling error."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", _us("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gap = F.col("us") - F.lag("us").over(w)
    s = e.withColumn(
        "new_s",
        F.when(
            gap.isNull() | (gap > SESSION_GAP_S * 1_000_000), 1
        ).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id")
            .orderBy("us")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.min("us").alias("s"), F.max("us").alias("t")
    )
    hz = e.agg(
        F.min("us").cast("bigint").alias("lo"),
        F.max("us").cast("bigint").alias("hi"),
    )
    tot = sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("t") - F.col("s")).cast("bigint").alias("dur_us"),
    )
    # hourly boundaries covered by each session
    bounds = sess.select(
        "s",
        "t",
        (-F.floor(-F.col("s") / _HOUR_US)).cast("bigint").alias("k0"),
        (F.col("t") / _HOUR_US).cast("bigint").alias("k1"),
    ).where(F.col("k1") >= F.col("k0"))
    hits = bounds.select(
        F.explode(F.sequence(F.col("k0"), F.col("k1"))).alias("k")
    ).groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    j = (
        tot.crossJoin(F.broadcast(hz))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_sessions",
            "dur_us",
            (F.col("hi") - F.col("lo")).alias("horizon_us"),
            "n_hits",
            (
                (-F.floor(-F.col("lo") / _HOUR_US))
                .cast("bigint")
                .alias("kmin")
            ),
            (F.col("hi") / _HOUR_US).cast("bigint").alias("kmax"),
        )
    )
    l_exact = F.col("dur_us").cast("double") / F.col("horizon_us")
    n_bound = F.col("kmax") - F.col("kmin") + 1
    l_samp = F.col("n_hits").cast("double") / n_bound
    lam_hr = F.col("n_sessions").cast("double") / (
        F.col("horizon_us") / float(_HOUR_US)
    )
    w_s = F.col("dur_us").cast("double") / F.col("n_sessions") / 1e6
    return j.select(
        "n_sessions",
        "dur_us",
        "horizon_us",
        F.round(l_exact, 6).alias("l_exact"),
        F.round(lam_hr, 6).alias("lambda_per_hr"),
        F.round(w_s, 4).alias("w_mean_s"),
        F.round(l_samp, 6).alias("l_sampled"),
        F.round(l_samp - l_exact, 6).alias("sampling_err"),
    )
