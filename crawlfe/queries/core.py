"""Temporal core: as-of join, lag/lead windows, sessionize, backfill, window-frame ops over events.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import windows as W
from ..asof import asof_join
from ._shared import SESSION_GAP_S, _t, _us


# --------------------------------------------------------------------------
# Temporal core (events): as-of join, windows, sessionize, backfill
# --------------------------------------------------------------------------

def q_asof_join(spark, sf_dir):
    """clicks as-of joined to the latest prior purchase per user
    (merge-scan kernel — the engine's flagship operator)."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id")
    )
    build = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    j = asof_join(
        probe, build, key="user_id", ts_probe="click_ts", ts_build="ts",
        build_cols=["purchase_value"],
    )
    return j.select(
        "user_id",
        F.col("event_id"),
        _us("click_ts").alias("click_ts_us"),
        _us("ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


SQL_ASOF = """
WITH probe AS (
  SELECT user_id, ts AS click_ts, event_id FROM events WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts, value AS purchase_value FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.event_id,
       epoch_us(p.click_ts) AS click_ts_us,
       epoch_us(b.ts) AS purchase_ts_us,
       round(b.purchase_value, 4) AS purchase_value
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.click_ts >= b.ts
"""


def q_win_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        _us("ts").alias("ts_us"),
        (_us("ts") - _us(F.lag("ts").over(w))).alias("lag_gap_us"),
        (_us(F.lead("ts").over(w)) - _us("ts")).alias("lead_gap_us"),
    )


SQL_WIN_LAG_LEAD = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS lag_gap_us,
       lead(epoch_us(ts)) OVER w - epoch_us(ts) AS lead_gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_win_rank(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wv).alias("rk"),
        F.dense_rank().over(wv).alias("drk"),
    )


SQL_WIN_RANK = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn,
       rank()       OVER (PARTITION BY user_id ORDER BY value DESC) AS rk,
       dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS drk
FROM events
"""


def q_win_rolling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("roll_avg"),
        F.round(F.min("value").over(w), 4).alias("roll_min"),
        F.round(F.max("value").over(w), 4).alias("roll_max"),
    )


SQL_WIN_ROLLING = """
SELECT user_id, event_id,
       round(avg(value) OVER w, 4) AS roll_avg,
       round(min(value) OVER w, 4) AS roll_min,
       round(max(value) OVER w, 4) AS roll_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_win_cumsum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("cum_value"),
        F.count(F.lit(1)).over(w).alias("cum_n"),
    )


SQL_WIN_CUMSUM = """
SELECT user_id, event_id,
       round(sum(value) OVER w, 4) AS cum_value,
       count(*) OVER w AS cum_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    s = W.sessionize(ev, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S)
    return s.select(
        "user_id", "event_id", _us("ts").alias("ts_us"), "session_id"
    )


SQL_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_S} * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - 1 AS BIGINT)
         AS session_id
FROM flagged
"""


def q_backfill(spark, sf_dir):
    """Daily grid per user between first/last event, forward-filled
    day-avg value (grid-expansion + last(ignorenulls)).

    Engine-portable 4-dp day average (two sf0.1 hash flips taught this):
    (1) sum DECIMAL(18,6), not DOUBLE — double summation is association-
    order-dependent; (2) scale by 10^4 BEFORE dividing so a rounding tie
    is an exactly-representable z.5 double, which Spark (BigDecimal
    HALF_UP) and DuckDB (half away from zero) round identically —
    rounding the unscaled quotient instead leaves the tie at the 5th
    decimal of an inexact double, where Spark's shortest-string
    BigDecimal conversion and DuckDB's binary rounding disagree."""
    ev = _t(spark, sf_dir, "events")
    dsum = F.sum(F.col("value").cast("decimal(18,6)"))
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day_ts")
    ).agg(
        (
            F.round((dsum * 10000).cast("double") / F.count(F.lit(1)))
            / 10000
        ).alias("day_value")
    )
    filled = W.backfill_grid(
        daily, ["day_value"], key="user_id", ts="day_ts", step="1 day"
    )
    return filled.select(
        "user_id",
        _us("grid_ts").alias("grid_ts_us"),
        # no re-round: day_value is already the engine-portable 4-dp
        # double and ffill only copies it
        "day_value",
        "backfilled",
    )


SQL_BACKFILL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) * 10000 AS DOUBLE)
               / count(*)) / 10000 AS day_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(day_ts) AS t0, max(day_ts) AS t1 FROM daily GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS grid_ts
  FROM bounds
), slots AS (
  SELECT g.user_id, g.grid_ts, NULL::DOUBLE AS day_value, 0 AS obs
  FROM grid g LEFT JOIN daily d
    ON d.user_id = g.user_id AND d.day_ts = g.grid_ts
  WHERE d.user_id IS NULL
  UNION ALL
  SELECT user_id, day_ts AS grid_ts, day_value, 1 AS obs FROM daily
)
SELECT user_id, epoch_us(grid_ts) AS grid_ts_us,
       last_value(day_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY grid_ts, obs DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value,
       obs = 0 AS backfilled
FROM slots
"""


def q_win_tumbling(spark, sf_dir):
    """Tumbling 1h event-time windows (streaming-capable operator run
    in batch — crawlfe.streaming)."""
    from ..streaming import tumbling_counts

    ev = _t(spark, sf_dir, "events")
    out = tumbling_counts(ev, "ts", "1 hour", ["event_type"], "value")
    return out.select(
        _us("win_start").alias("win_start_us"), "event_type", "n", "sum_value"
    )


SQL_WIN_TUMBLING = """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_win_sliding(spark, sf_dir):
    """Sliding 2h/1h event-time windows — each event lands in two
    overlapping windows."""
    from ..streaming import sliding_counts

    ev = _t(spark, sf_dir, "events")
    out = sliding_counts(ev, "ts", "2 hours", "1 hour", ["event_type"], "value")
    return out.select(
        _us("win_start").alias("win_start_us"), "event_type", "n", "sum_value"
    )


SQL_WIN_SLIDING = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '1 hour', ts)
           - k * INTERVAL '1 hour' AS win_start,
         event_type, value
  FROM events, unnest([0, 1]) AS t(k)
)
SELECT epoch_us(win_start) AS win_start_us, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM expanded GROUP BY 1, 2
"""


def q_win_session(spark, sf_dir):
    """Spark-native session_window (gap-close: end = last event + gap)
    per user — the streaming-capable twin of `sessionize`."""
    from ..streaming import session_window_agg

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    out = session_window_agg(ev, "ts", f"{SESSION_GAP_S} seconds", ["user_id"])
    return out.select(
        "user_id",
        _us("session_start").alias("start_us"),
        _us("session_end").alias("end_us"),
        "n",
    )


SQL_WIN_SESSION = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts)
                   > {SESSION_GAP_S} * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts) + INTERVAL '{SESSION_GAP_S} seconds') AS end_us,
       count(*) AS n
FROM sess GROUP BY user_id, session_id
"""


def q_topk_per_group(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("user_id", "event_id", F.round("value", 4).alias("value"), "rn")
    )


SQL_TOPK = """
SELECT user_id, event_id, round(value, 4) AS value, rn
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 2
"""
