"""Feature-eng packs #9-#10: weighted/PPS sampling, ordered string agg, EWMA, TPC-H shapes (Q7/Q8/...).

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..asof import asof_join  # noqa: F401
from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401
from .pit_scd import _PARA_CHUNK  # noqa: F401
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


# --------------------------------------------------------------------------
# Feature-eng pack #10: remaining TPC-H shapes on this column subset
# (Q7/Q8/Q15/Q17/Q21), fixed-point PageRank, robust rolling/grouped
# statistics (rolling median, MAD outliers), last-touch attribution,
# domain-conditional boilerplate detection
# --------------------------------------------------------------------------

def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between a nation pair): lineitem
    joined through orders->customer for the customer nation and through
    supplier for the supplier nation, restricted to the (1,2)/(2,1)
    pair, revenue by (supp_nation, cust_nation, ship year). Nation is
    broadcast twice under different aliases; the nationkey pair filter
    pushes into the supplier/customer scans so the fact join only
    carries the two nations' rows."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_name").alias("cust_nation"),
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(
            ((F.col("s_nationkey") == 1) & (F.col("c_nationkey") == 2))
            | ((F.col("s_nationkey") == 2) & (F.col("c_nationkey") == 1))
        )
        .where(F.year("l_shipdate").isin(1996, 1997))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): per-supplier revenue over
    1996-Q1 in EXACT integer cents (per-row round then bigint sum, so
    the argmax can never ulp-flip between engines), suppliers equal to
    the 1-row broadcast max. The classic view + scalar subquery becomes
    agg -> crossJoin(broadcast(max)) -> filter."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    cents = F.expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
    )
    rev = (
        li.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select(F.col("l_suppkey"), cents.alias("cents"))
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("total_cents"))
        # rev feeds BOTH the max and the output join; without
        # materializing, Spark re-derives the subtree and scans the
        # fact table twice. |suppliers| rows — trivially cacheable.
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_cents").alias("max_cents"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_cents") == F.col("max_cents"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_cents") / 100.0, 2).alias("total_revenue"),
        )
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): ECONOMY-part
    lineitems whose quantity is below 20% of that part's average
    quantity. The correlated avg subquery becomes per-part window sums
    (one hash shuffle on l_partkey, no self-join), and the comparison
    is exact integers: qty < 0.2*avg(qty) <=> 5*qty*cnt < sum_qty
    (quantities are integral in this corpus)."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey",
        "l_extendedprice",
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
    )
    w = Window.partitionBy("l_partkey")
    j = j.withColumn("sum_qty", F.sum("qty").over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(w)
    )
    small = j.where(
        F.col("qty") * F.col("cnt") * F.lit(5) < F.col("sum_qty")
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly")
    )


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this column subset: late = shipped more than 60 days after the
    order date (the fixture has no commit/receipt dates). For finished
    ('F') multi-supplier orders where EXACTLY ONE supplier shipped
    late, count waiting orders per that supplier. The classic
    exists/not-exists pair becomes one per-(order,supplier) agg plus
    per-order window counts — two shuffles, no correlated rescans."""
    li = _t(spark, sf_dir, "lineitem")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late_any"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.withColumn(
        "n_supp", F.count(F.lit(1)).over(w)
    ).withColumn("n_late", F.sum("late_any").over(w))
    waiting = flagged.where(
        (F.col("late_any") == 1)
        & (F.col("n_supp") > 1)
        & (F.col("n_late") == 1)
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


def q_pagerank(spark, sf_dir):
    """PageRank (3 power iterations, damping 0.85) over a deterministic
    2-out-regular multigraph on the documents (link-based quality
    signal for corpus curation): edges doc -> (7*doc+3) mod N and
    doc -> (13*doc+5) mod N. All arithmetic is FIXED-POINT BIGINT at
    scale 1e12 with floor division, so ranks are exact integers — the
    iteration is bit-reproducible in any engine regardless of float
    summation order. Each iteration is one shuffle (edge join + sum by
    dst); the node/base sides rehash on doc_id, dangling inputs get
    the teleport base via left join. At 100 TB the per-iteration state
    is one (node, rank) table — the standard Pregel-as-joins layout."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    n_row = d.agg(F.count(F.lit(1)).alias("cnt"))
    nodes = d.crossJoin(F.broadcast(n_row))
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        F.expr("(doc_id * 7 + 3) % cnt").alias("dst"),
    ).unionAll(
        nodes.select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 13 + 5) % cnt").alias("dst"),
        )
    )
    base = nodes.select(
        "doc_id",
        F.expr("CAST(15000000000000 DIV (100 * cnt) AS BIGINT)").alias(
            "base"
        ),
    )
    ranks = nodes.select(
        "doc_id",
        F.expr("CAST(1000000000000 DIV cnt AS BIGINT)").alias("r"),
    )
    for _ in range(3):
        contrib = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .select("dst", F.expr("r DIV 2").alias("half"))
            .groupBy("dst")
            .agg(F.sum("half").alias("s"))
        )
        ranks = base.join(
            contrib, base.doc_id == contrib.dst, "left"
        ).select(
            base.doc_id,
            (
                F.col("base")
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
            ).alias("r"),
        )
    return ranks.select("doc_id", F.col("r").alias("rank_e12"))


def q_rolling_median(spark, sf_dir):
    """Rolling EXACT median of the last 5 events per user (robust
    rolling statistic — the outlier-resistant twin of win_rolling's
    mean). Spark's percentile aggregate runs as a window function over
    the row frame, all JVM; at most 5 doubles per frame, and both
    engines interpolate the even-count midpoint with the same single
    IEEE op, so the 4dp round is stable."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id", _us("ts").alias("ts_us"), "event_id", "value"
    ).selectExpr(
        "user_id",
        "ts_us",
        "event_id",
        "round(percentile(value, 0.5) OVER ("
        "  PARTITION BY user_id ORDER BY ts_us, event_id"
        "  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_med",
    )


def q_mad_outliers(spark, sf_dir):
    """Grouped robust outlier report via median absolute deviation
    (feature-QA primitive: |x - median| > 3*MAD per language). Two
    exact-percentile shuffles on the group key; the tiny per-lang
    median/MAD tables broadcast back. n_chars is integral, so medians
    land on exact .0/.5 doubles and the 3*MAD compare cannot
    ulp-flip."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("x")
    )
    med = d.groupBy("lang").agg(F.expr("percentile(x, 0.5)").alias("med"))
    dm = d.join(F.broadcast(med), "lang").withColumn(
        "ad", F.abs(F.col("x") - F.col("med"))
    )
    mad = dm.groupBy("lang").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    flagged = dm.join(F.broadcast(mad), "lang")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("ad") > 3.0 * F.col("mad")).cast("bigint")
        ).alias("n_outliers"),
        F.round(F.min("med"), 1).alias("med_chars"),
        F.round(F.min("mad"), 1).alias("mad_chars"),
    )


def q_attribution(spark, sf_dir):
    """Last-touch attribution (the training-label analog of ad
    attribution): each purchase is attributed to the channel of the
    latest prior click by the same user within a 7-day window, else to
    channel -1 (direct). The engine's merge-scan as-of kernel with
    tolerance does the touch lookup; channel is a JVM json_extract of
    the click's props. Clicks are pre-deduped to one row per
    (user, ts) (max channel) so tie order can never differ between
    engines."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purch_ts"), "event_id", "value"
    )
    build = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            "ts",
            (
                F.get_json_object("props", "$.k").cast("int") % 5
            ).alias("channel"),
        )
        .groupBy("user_id", "ts")
        .agg(F.max("channel").alias("channel"))
    )
    j = asof_join(
        probe, build, key="user_id", ts_probe="purch_ts", ts_build="ts",
        build_cols=["channel"],
        tolerance=pd.Timedelta(days=7),
    )
    return (
        j.select(
            F.coalesce(F.col("channel"), F.lit(-1)).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("revenue"),
        )
    )


def q_boilerplate_para(spark, sf_dir):
    """Domain-conditional boilerplate detection (the RefinedWeb-style
    site-template filter, distinct from corpus-wide dedup_paragraph):
    a 10-word chunk is boilerplate when it appears in >= 30% of its
    source's docs (and at least 2). Chunk -> count DISTINCT docs per
    (source, hash) -> integer-exact threshold against the broadcast
    per-source doc count -> per-doc boilerplate ratio. One explode,
    two hash aggs, one join keyed on the chunk hash — no pairwise
    anything at 100 TB."""
    ch = _PARA_CHUNK
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.trim(F.col("text")), "\\s+").alias("w")
    )
    n_chunks = F.expr(f"CAST((size(w) + {ch - 1}) DIV {ch} AS INT)")
    chunks = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("w"), i * ch + 1, ch), " "
                ),
            )
        ).alias("chunk"),
    ).select("doc_id", "source", F.md5(F.col("chunk")).alias("h"))
    per_chunk = chunks.groupBy("source", "h").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    per_source = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    boiler = per_chunk.join(F.broadcast(per_source), "source").select(
        "source",
        "h",
        (
            (F.col("nd") >= 2) & (F.col("nd") * 10 >= F.col("n_docs") * 3)
        ).cast("int").alias("is_boiler"),
    )
    return (
        chunks.join(boiler, ["source", "h"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("is_boiler").alias("n_boiler"),
            F.round(
                F.sum("is_boiler") / F.count(F.lit(1)), 4
            ).alias("boiler_ratio"),
        )
    )
