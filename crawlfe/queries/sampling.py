"""Feature-eng pack #9 and its neighbours: weighted sampling, ordered string agg, entity extraction, gap detection, windowed dedup, range-bucketed join, correlated SQL, rolling reach.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import _t, _us  # noqa: F401
from .rows_only import _PII_EMAIL_RE  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #9: weighted sampling, ordered string aggregation,
# regex entity extraction, crawl-cadence gap detection
# --------------------------------------------------------------------------

def q_weighted_sample(spark, sf_dir):
    """Per-row weighted sampling (probability proportional to a quality
    score — the importance-sampling step of corpus mixing): keep rate
    = n_chars / max_chars per doc, realized deterministically as
    hex4(md5(doc_id)) < threshold where threshold = (65536 * n_chars)
    div max_chars formatted as fixed-width hex (string compare ==
    numeric compare; reproducible across engines/layouts/cluster
    sizes, unlike rand()-based acceptance). The 1-row max broadcasts;
    the keep decision is a narrow filter."""
    d = _t(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("max_chars"))
    b = F.substring(
        F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 4
    )
    thr = F.lower(
        F.lpad(F.hex(F.expr("(65536 * n_chars) div max_chars")), 4, "0")
    )
    return (
        d.crossJoin(F.broadcast(mx))
        .where((F.col("n_chars") == F.col("max_chars")) | (b < thr))
        .select("doc_id", "n_chars", b.alias("bucket"), thr.alias("thr_hex"))
    )


SQL_WEIGHTED_SAMPLE = """
WITH mx AS (SELECT max(n_chars) AS max_chars FROM documents)
SELECT doc_id, n_chars,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket,
       lower(lpad(to_hex((65536 * n_chars) // max_chars), 4, '0'))
         AS thr_hex
FROM documents CROSS JOIN mx
WHERE n_chars = max_chars
   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < lower(lpad(to_hex((65536 * n_chars) // max_chars), 4, '0'))
"""


def q_agg_string_ordered(spark, sf_dir):
    """Deterministic ordered string aggregation (manifest/report
    building: the langs seen per source, alphabetical, pipe-joined).
    Spark has no ORDER BY inside an aggregate, so the engine-portable
    recipe is collect_set -> array_sort -> array_join — element order
    is pinned by the sort, never by arrival order, so the result is
    identical under any partitioning/cluster size (a bare
    collect_list would not be). One small agg shuffle."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.array_join(
            F.array_sort(F.collect_set("lang")), "|"
        ).alias("langs"),
        F.countDistinct("lang").alias("n_langs"),
    )


SQL_AGG_STRING_ORDERED = """
SELECT source,
       string_agg(DISTINCT lang, '|' ORDER BY lang) AS langs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents GROUP BY source
"""


def q_extract_entities(spark, sf_dir):
    """Regex entity extraction to long form (the IR step of PII audit /
    link-graph building): pull every email out of the text into one
    row per (doc_id, position, entity). As with pii_redact the
    synthetic corpus carries no natural emails, so they are INJECTED
    deterministically (doc_id%4==0 gets two) as part of the query in
    both engines; the extraction itself — JVM `regexp_extract_all` +
    posexplode, zero shuffle, no UDF — is what's oracle-checked, on
    both hit and miss rows."""
    d = _t(spark, sf_dir, "documents")
    dirty = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit("from u"),
            F.col("doc_id").cast("string"),
            F.lit("@a.example.org "),
            F.col("text"),
            F.lit(" cc admin"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("@b.example.net"),
        ),
    ).otherwise(F.col("text"))
    hits = F.regexp_extract_all(dirty, F.lit(_PII_EMAIL_RE), F.lit(0))
    d2 = d.select("doc_id", hits.alias("emails"))
    return d2.select(
        "doc_id", F.posexplode("emails").alias("pos", "email")
    )


SQL_EXTRACT_ENTITIES = """
WITH dirty AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN 'from u' || CAST(doc_id AS VARCHAR)
                   || '@a.example.org ' || text || ' cc admin'
                   || CAST(doc_id % 7 AS VARCHAR) || '@b.example.net'
              ELSE text END AS t
  FROM documents
), hits AS (
  SELECT doc_id,
         regexp_extract_all(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS emails
  FROM dirty
)
SELECT doc_id,
       CAST(generate_subscripts(emails, 1) - 1 AS INTEGER) AS pos,
       unnest(emails) AS email
FROM hits
"""


def q_gap_detection(spark, sf_dir):
    """Crawl-cadence gap detection (the inverse of backfill: REPORT the
    holes instead of filling them — the data-quality monitor for any
    snapshot pipeline): per-key lag() gaps above 4x the key's median
    cadence. The median is exact per-key (tiny agg joined back —
    broadcast at this cardinality, shuffle-on-key at web scale); gap
    seconds are exact integer µs division, so both engines emit
    identical rows. One window shuffle + one agg on the same key."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e = ev.select(
        "user_id", "event_id", _us("ts").alias("ts_us")
    ).withColumn("prev_us", F.lag("ts_us").over(w))
    gaps = e.where(F.col("prev_us").isNotNull()).select(
        "user_id",
        "event_id",
        # integer div, not double-divide-then-cast: a double quotient
        # can round up across an integer boundary and truncate wrong
        F.expr("(ts_us - prev_us) div 1000000").alias("gap_s"),
    )
    med = gaps.groupBy("user_id").agg(
        F.expr("percentile(gap_s, 0.5)").alias("med_gap_s")
    )
    return (
        gaps.join(med, "user_id")
        .where(F.col("gap_s") > 4 * F.col("med_gap_s"))
        .select("user_id", "event_id", "gap_s", F.round("med_gap_s", 1).alias("med_gap_s"))
    )


SQL_GAP_DETECTION = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS prev_us
  FROM events
), gaps AS (
  SELECT user_id, event_id,
         CAST((ts_us - prev_us) // 1000000 AS BIGINT) AS gap_s
  FROM e WHERE prev_us IS NOT NULL
), med AS (
  SELECT user_id, quantile_cont(gap_s, 0.5) AS med_gap_s
  FROM gaps GROUP BY user_id
)
SELECT g.user_id, event_id, gap_s, round(med_gap_s, 1) AS med_gap_s
FROM gaps g JOIN med ON g.user_id = med.user_id
WHERE gap_s > 4 * med_gap_s
"""


def q_dedup_windowed(spark, sf_dir):
    """Time-windowed deduplication (the batch twin of
    ``dropDuplicatesWithinWatermark``: suppress repeats of the same
    (user, event_type) within 24 hours, keep re-appearances after the
    horizon — the re-crawl/replay suppression shape). A row is a
    duplicate iff an EARLIER same-key row sits within the trailing
    day — expressed as a max-over-trailing-range window (exact
    epoch-µs range frame, the row itself excluded via the
    1-µs-preceding bound), one shuffle, no self-join. Returns the
    kept rows."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", "event_type", _us("ts").alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us")
        .rangeBetween(-86_400_000_000, -1)
    )
    prior = F.max("ts_us").over(w)
    return (
        e.withColumn("prior_us", prior)
        .where(F.col("prior_us").isNull())
        .select("user_id", "event_id", "event_type", "ts_us")
    )


SQL_DEDUP_WINDOWED = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
  FROM events
), m AS (
  SELECT *, max(ts_us) OVER (
           PARTITION BY user_id, event_type ORDER BY ts_us
           RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING
         ) AS prior_us
  FROM e
)
SELECT user_id, event_id, event_type, ts_us FROM m WHERE prior_us IS NULL
"""


def q_agg_approx_distinct(spark, sf_dir):
    """HyperLogLog++ approximate distinct (the sketch that replaces
    exact countDistinct when the key cardinality itself is web-scale):
    per event_type, approx vs exact user counts side by side. The HLL
    estimate is engine-specific by construction (Spark HLL++ vs
    DuckDB's), so this key is rows-only; the pytest asserts the
    documented relative-error bound against the exact count. Sketches
    merge associatively — the map-side partials are tiny fixed-size
    registers, the whole point at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


_INCIDENT_PAD_US = 1_800_000_000  # 30 min either side
_HOUR_US = 3_600_000_000


def q_join_range_bucketed(spark, sf_dir):
    """KEYLESS interval join at scale: purchases probed against
    incident windows (error-heavy hours padded ±30 min) with no equi
    key. Without a key Spark must nested-loop such a join; the scale
    recipe is BUCKETING: each interval explodes into the hour buckets
    it covers (≤2 extra rows per interval — interval fan-out, never
    probe fan-out), probes bucket by ts div hour, and the join becomes
    an EQUI join on bucket with the exact range predicate as a
    residual filter. The bucket equi-join shuffles instead of
    broadclooping; output is provably duplicate-free because each
    (probe, interval) pair meets in exactly the probe's own bucket."""
    ev = _t(spark, sf_dir, "events")
    errs = ev.where(F.col("event_type") == "error").select(
        F.expr(
            f"unix_micros(CAST(ts AS TIMESTAMP)) div {_HOUR_US}"
        ).alias("hour")
    )
    incidents = (
        errs.groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_errs"))
        .where(F.col("n_errs") >= 5)
        .select(
            F.col("hour").alias("incident_id"),
            (F.col("hour") * _HOUR_US - _INCIDENT_PAD_US).alias("lo_us"),
            ((F.col("hour") + 1) * _HOUR_US + _INCIDENT_PAD_US).alias(
                "hi_us"
            ),
        )
    )
    # interval-side fan-out: one row per covered hour bucket
    ib = incidents.select(
        "incident_id",
        "lo_us",
        "hi_us",
        F.explode(
            F.sequence(
                F.expr(f"lo_us div {_HOUR_US}"),
                F.expr(f"(hi_us - 1) div {_HOUR_US}"),
            )
        ).alias("bucket"),
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        _us("ts").alias("ts_us"),
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_HOUR_US}").alias(
            "bucket"
        ),
    )
    j = probes.join(ib, "bucket").where(
        (F.col("ts_us") >= F.col("lo_us")) & (F.col("ts_us") < F.col("hi_us"))
    )
    return j.select("event_id", "incident_id", "ts_us")


SQL_JOIN_RANGE_BUCKETED = f"""
WITH errs AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hour
  FROM events WHERE event_type = 'error'
), incidents AS (
  SELECT hour AS incident_id,
         hour * {_HOUR_US} - {_INCIDENT_PAD_US} AS lo_us,
         (hour + 1) * {_HOUR_US} + {_INCIDENT_PAD_US} AS hi_us
  FROM errs GROUP BY hour HAVING count(*) >= 5
)
SELECT p.event_id, i.incident_id, epoch_us(p.ts) AS ts_us
FROM events p JOIN incidents i
  ON epoch_us(p.ts) >= i.lo_us AND epoch_us(p.ts) < i.hi_us
WHERE p.event_type = 'purchase'
"""


def q_sql_correlated(spark, sf_dir):
    """SQL-surface demo with a correlated scalar subquery: orders above
    their own customer's average order value. Catalyst decorrelates the
    subquery into an aggregate + join (no per-row re-execution — the
    plan is the same two-shuffle shape a hand-written window/join
    gives), which is exactly why declaring it in SQL is scale-safe.
    Every other registry key drives the DataFrame API; this one pins
    the `spark.sql` entry point over registered temp views."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    # price > 2*avg compared in exact integer cents (price*n > 2*sum):
    # a double avg at the filter boundary could ulp-flip between
    # engines; integer cross-multiplication cannot
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey,
               round(o.o_totalprice, 2) AS price
        FROM orders_v o
        WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) * (
                SELECT count(*) FROM orders_v i
                WHERE i.o_custkey = o.o_custkey
              ) > 2 * (
                SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
                FROM orders_v i WHERE i.o_custkey = o.o_custkey
              )
        """
    )


SQL_SQL_CORRELATED = """
SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
FROM orders o
WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) * (
        SELECT count(*) FROM orders i
        WHERE i.o_custkey = o.o_custkey
      ) > 2 * (
        SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
        FROM orders i WHERE i.o_custkey = o.o_custkey
      )
"""


def q_cumulative_reach(spark, sf_dir):
    """Cumulative distinct-user reach per day (the audience growth
    curve). A running COUNT(DISTINCT) is not directly distributable;
    the scale recipe is the FIRST-SEEN transform: distinct count up to
    day d == count of users whose first active day <= d. One tiny agg
    per user (map-side combined), one day-level agg, then a cumsum
    window over the day series — day cardinality is thousands at any
    corpus size, so the window input is trivially small."""
    ev = _t(spark, sf_dir, "events")
    first_day = (
        ev.select(
            "user_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
            .alias("day"),
        )
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    per_day = first_day.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("first_day").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


SQL_CUMULATIVE_REACH = """
WITH fd AS (
  SELECT user_id, min(epoch_us(ts) // 86400000000) AS first_day
  FROM events GROUP BY user_id
), pd AS (
  SELECT first_day, count(*) AS new_users FROM fd GROUP BY first_day
)
SELECT first_day AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY first_day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cumulative_users
FROM pd
"""


def q_rolling_active_users(spark, sf_dir):
    """Rolling 7-day distinct active users per day (the WAU curve).
    Sliding COUNT(DISTINCT) cannot ride a window frame; the scale
    recipe is the DAY-EXPLODE: each distinct (user, active-day) pair
    fans out to the 7 report days it contributes to (bounded 7x
    fan-out of the COMPACTED per-day-distinct table, never of raw
    events), then an exact distinct count per report day. Report days
    are clamped to the observed range so both engines emit the same
    day axis."""
    ev = _t(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
            .alias("day"),
        )
        .distinct()
    )
    mx = ud.agg(F.max("day").alias("max_day"))
    fan = ud.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.least(F.col("day") + 6, F.col("max_day")),
            )
        ).alias("report_day"),
    )
    return fan.groupBy("report_day").agg(
        F.countDistinct("user_id").alias("wau")
    )


SQL_ROLLING_ACTIVE_USERS = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), mx AS (
  SELECT max(day) AS max_day FROM ud
), fan AS (
  SELECT user_id, CAST(t.rd AS BIGINT) AS report_day
  FROM ud CROSS JOIN mx,
       UNNEST(range(day, least(day + 6, max_day) + 1)) AS t(rd)
)
SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
FROM fan GROUP BY report_day
"""
