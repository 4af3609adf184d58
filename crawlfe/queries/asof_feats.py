"""Feature-eng pack #100 (r4): the STATE-CARRYING as-of feature
family — the capstone on the engine's point-in-time core.  A latest-
value as-of join answers "what was the last purchase"; real feature
stores need aggregates OVER the whole prior history at the join
point.  The scale trick in all three: the aggregate is factored into
a PER-KEY PREFIX STATE attached to each build row (one ordered
window), so ONE as-of hop — the same merge-scan kernel as
``asof_join`` (crawlfe/asof.py) — serves the full-history feature
with zero temporal leakage and no rejoin of raw history.

* ``asof_decay_feature`` — exponentially time-decayed spend at each
  click: sum_i exp(-(t - t_i)/tau) * dollars_i factorizes as
  exp(-t/tau) * cumsum(exp(t_i/tau) * dollars_i); the prefix terms
  are e6 fixed-point BIGINTs (exact cumulative), tau = 72 h.
* ``asof_count_window`` — the sliding 7-day purchase count at each
  click via TWO as-of lookups of the running count: c(t) - c(t-7d)
  — the chained-hop pattern (second hop reuses the first's key
  partitioning).
* ``asof_kth_recent`` — time since the 3rd-most-recent purchase:
  the as-of running count c gives the k-th purchase's per-user rank
  c - k + 1, attached by a slim (user, rank) equi join — recency
  depth, not just recency.

Build rows collapse to one state row per (user, ts) (last event_id
wins) so the as-of tie at equal timestamps is deterministic in both
engines.  The oracle uses DuckDB's native ASOF JOIN against the same
prefix-state relation.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..asof import asof_join
from ._shared import _t, _us

_TAU_H = 72.0  # decay half... time constant, hours
_KTH = 3  # recency depth
_HOUR_US = 3_600_000_000


def _probe(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("join_ts"), "event_id")
    )


def _purch_state(spark, sf_dir):
    """Per-purchase prefix state: exact cumulative count and e6
    fixed-point decay numerator, collapsed to one row per
    (user_id, ts)."""
    e = _t(spark, sf_dir, "events")
    lo = e.agg(F.min(_us("ts")).cast("bigint").alias("lo"))
    p = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            _us("ts").alias("us"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .crossJoin(F.broadcast(lo))
    )
    th = (F.col("us") - F.col("lo")) / float(_HOUR_US)
    term = F.round(
        F.lit(1e6) * F.exp(th / _TAU_H) * F.col("cents") / 100.0
    ).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    st = p.select(
        "user_id",
        "ts",
        "us",
        F.sum(term).over(w).cast("bigint").alias("decay_e6"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cnt"),
    )
    return st.groupBy("user_id", "ts", "us").agg(
        F.max("decay_e6").alias("decay_e6"),
        F.max("cnt").cast("bigint").alias("cnt"),
    )


_SQL_STATE = f"""
lo AS (SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo FROM events),
p AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), terms AS (
  SELECT user_id, ts, us, event_id,
         CAST(round(1e6 * exp(((us - lo) / {float(_HOUR_US)})
                              / {_TAU_H}) * cents / 100.0)
              AS BIGINT) AS term
  FROM p CROSS JOIN lo
), cum AS (
  SELECT user_id, ts, us,
         CAST(sum(term) OVER (PARTITION BY user_id
                              ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS decay_e6,
         CAST(count(*) OVER (PARTITION BY user_id
                             ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cnt
  FROM terms
), state AS (
  SELECT user_id, ts, us,
         CAST(max(decay_e6) AS BIGINT) AS decay_e6,
         CAST(max(cnt) AS BIGINT) AS cnt
  FROM cum GROUP BY user_id, ts, us
)
"""


def q_asof_decay_feature(spark, sf_dir):
    """DECAYED-SPEND as-of feature: one merge-scan hop attaches the
    prefix decay numerator; feature = exp(-t/tau) * decay_e6 / 1e6
    in dollars (0 when no prior purchase)."""
    probe = _probe(spark, sf_dir)
    st = _purch_state(spark, sf_dir)
    lo = _t(spark, sf_dir, "events").agg(
        F.min(_us("ts")).cast("bigint").alias("lo")
    )
    j = asof_join(
        probe,
        st,
        key="user_id",
        ts_probe="join_ts",
        ts_build="ts",
        build_cols=["decay_e6"],
    ).crossJoin(F.broadcast(lo))
    th = (_us("join_ts") - F.col("lo")) / float(_HOUR_US)
    feat = (
        F.exp(-th / _TAU_H)
        * F.coalesce(F.col("decay_e6"), F.lit(0)).cast("double")
        / 1e6
    )
    return j.select(
        "user_id",
        "event_id",
        _us("join_ts").alias("click_ts_us"),
        F.round(feat, 4).alias("decayed_spend"),
    )


SQL_ASOF_DECAY_FEATURE = f"""
WITH {_SQL_STATE},
probe AS (
  SELECT user_id, ts AS join_ts, event_id FROM events
  WHERE event_type = 'click'
)
SELECT p.user_id, p.event_id,
       epoch_us(p.join_ts) AS click_ts_us,
       round(exp(-((epoch_us(p.join_ts) - lo.lo)
                   / {float(_HOUR_US)}) / {_TAU_H})
             * coalesce(s.decay_e6, 0) / 1e6, 4) AS decayed_spend
FROM probe p
ASOF LEFT JOIN state s
  ON p.user_id = s.user_id AND p.join_ts >= s.ts
CROSS JOIN lo
"""


def q_asof_count_window(spark, sf_dir):
    """SLIDING 7-DAY purchase count at each click: two chained as-of
    lookups of the running count (at t and at t - 7d); the second hop
    reuses the first's user_id partitioning."""
    probe = _probe(spark, sf_dir)
    st = _purch_state(spark, sf_dir)
    hop1 = asof_join(
        probe,
        st,
        key="user_id",
        ts_probe="join_ts",
        ts_build="ts",
        build_cols=["cnt"],
    ).withColumnRenamed("cnt", "cnt_now")
    probe2 = hop1.withColumn(
        "join_ts7", F.expr("join_ts - INTERVAL 7 DAYS")
    )
    hop2 = asof_join(
        probe2.select(
            "user_id", "event_id", "join_ts",
            F.col("join_ts7").alias("join_ts2"), "cnt_now",
        ).withColumnRenamed("join_ts", "orig_ts")
        .withColumnRenamed("join_ts2", "join_ts"),
        st,
        key="user_id",
        ts_probe="join_ts",
        ts_build="ts",
        build_cols=["cnt"],
    ).withColumnRenamed("cnt", "cnt_before")
    return hop2.select(
        "user_id",
        "event_id",
        _us("orig_ts").alias("click_ts_us"),
        (
            F.coalesce(F.col("cnt_now"), F.lit(0))
            - F.coalesce(F.col("cnt_before"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_purch_7d"),
    )


SQL_ASOF_COUNT_WINDOW = f"""
WITH {_SQL_STATE},
probe AS (
  SELECT user_id, ts AS join_ts, event_id FROM events
  WHERE event_type = 'click'
), h1 AS (
  SELECT p.user_id, p.event_id, p.join_ts,
         coalesce(s.cnt, 0) AS cnt_now
  FROM probe p
  ASOF LEFT JOIN state s
    ON p.user_id = s.user_id AND p.join_ts >= s.ts
), h2 AS (
  SELECT h1.*, coalesce(s2.cnt, 0) AS cnt_before
  FROM h1
  ASOF LEFT JOIN state s2
    ON h1.user_id = s2.user_id
   AND h1.join_ts - INTERVAL 7 DAY >= s2.ts
)
SELECT user_id, event_id, epoch_us(join_ts) AS click_ts_us,
       CAST(cnt_now - cnt_before AS BIGINT) AS n_purch_7d
FROM h2
"""


def q_asof_kth_recent(spark, sf_dir):
    """TIME SINCE THE 3RD-MOST-RECENT purchase: the as-of running
    count c maps the target to per-user purchase rank c - 2, attached
    by a slim (user, rank) equi join; gap in exact µs (null when
    fewer than 3 prior purchases)."""
    probe = _probe(spark, sf_dir)
    st = _purch_state(spark, sf_dir)
    hop = asof_join(
        probe,
        st,
        key="user_id",
        ts_probe="join_ts",
        ts_build="ts",
        build_cols=["cnt"],
    )
    # per-purchase rank table (slim): rank == prefix count at that row
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranks = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .select("user_id", "rk", _us("ts").alias("kth_us"))
    )
    want = hop.withColumn(
        "rk", (F.col("cnt") - (_KTH - 1)).cast("bigint")
    )
    j = want.join(ranks, ["user_id", "rk"], "left")
    return j.select(
        "user_id",
        "event_id",
        _us("join_ts").alias("click_ts_us"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias(
            "n_prior"
        ),
        (_us("join_ts") - F.col("kth_us")).cast("bigint").alias(
            "gap3_us"
        ),
    )


SQL_ASOF_KTH_RECENT = f"""
WITH {_SQL_STATE},
probe AS (
  SELECT user_id, ts AS join_ts, event_id FROM events
  WHERE event_type = 'click'
), hop AS (
  SELECT p.user_id, p.event_id, p.join_ts, s.cnt
  FROM probe p
  ASOF LEFT JOIN state s
    ON p.user_id = s.user_id AND p.join_ts >= s.ts
), ranks AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT)
           AS rk,
         epoch_us(ts) AS kth_us
  FROM events WHERE event_type = 'purchase'
)
SELECT h.user_id, h.event_id, epoch_us(h.join_ts) AS click_ts_us,
       CAST(coalesce(h.cnt, 0) AS BIGINT) AS n_prior,
       CAST(epoch_us(h.join_ts) - r.kth_us AS BIGINT) AS gap3_us
FROM hop h
LEFT JOIN ranks r
  ON h.user_id = r.user_id AND h.cnt - {_KTH - 1} = r.rk
"""
