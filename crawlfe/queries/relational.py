"""Relational core: projection/filter/nulls/sort, aggregations, joins, set operations.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from .. import windows as W
from ._shared import _t, _us


# --------------------------------------------------------------------------
# Projection / filter / nulls / sort
# --------------------------------------------------------------------------

def q_project_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("net_price"),
        )
    )


SQL_PROJECT_FILTER = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
"""


def q_null_handling(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_filled"),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).isNull().alias("was_open"),
    )


SQL_NULL_HANDLING = """
SELECT o_orderkey,
       nullif(o_orderstatus, 'O') AS status_or_null,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
       nullif(o_orderstatus, 'O') IS NULL AS was_open
FROM orders
"""


def q_sort_limit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 4).alias("l_extendedprice"),
        )
    )


SQL_SORT_LIMIT = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
"""


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------

def q_agg_basic(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (hash agg, map-side partials)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_AGG_BASIC = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_AGG_DISTINCT = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def q_agg_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("sum_total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<ALL>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<ALL>")).alias("priority"),
            "sum_total",
            "n",
        )
    )


SQL_AGG_ROLLUP = """
SELECT coalesce(o_orderstatus, '<ALL>') AS status,
       coalesce(o_orderpriority, '<ALL>') AS priority,
       round(sum(o_totalprice), 4) AS sum_total,
       count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_agg_cube(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return (
        c.cube("c_nationkey", "c_mktsegment")
        .agg(
            F.round(F.sum("c_acctbal"), 4).alias("sum_bal"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("c_nationkey").cast("long"), F.lit(-1)).alias(
                "nationkey"
            ),
            F.coalesce("c_mktsegment", F.lit("<ALL>")).alias("segment"),
            "sum_bal",
            "n",
        )
    )


SQL_AGG_CUBE = """
SELECT coalesce(CAST(c_nationkey AS BIGINT), -1) AS nationkey,
       coalesce(c_mktsegment, '<ALL>') AS segment,
       round(sum(c_acctbal), 4) AS sum_bal,
       count(*) AS n
FROM customer GROUP BY CUBE (c_nationkey, c_mktsegment)
"""


def q_agg_grouped_udf(spark, sf_dir):
    """Median event value per user — vectorized GROUPED_AGG pandas UDF
    (the engine's A17 median-of-profile analog)."""
    @F.pandas_udf("double")
    def median_udf(v: pd.Series) -> float:
        return float(v.median())

    @F.pandas_udf("long")
    def count_udf(v: pd.Series) -> int:
        return int(len(v))

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(median_udf("value"), 4).alias("median_value"),
        count_udf("value").alias("n_events"),
    )


SQL_AGG_GROUPED_UDF = """
SELECT user_id, round(median(value), 4) AS median_value,
       count(*) AS n_events
FROM events GROUP BY user_id
"""


def q_agg_grouping_sets(spark, sf_dir):
    """GROUPING SETS through the SQL surface (spark.sql) — the engine
    accepts SQL text as well as the DataFrame API."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT coalesce(o_orderstatus, '<ALL>') AS status,
               coalesce(o_orderpriority, '<ALL>') AS priority,
               round(sum(o_totalprice), 4) AS sum_total,
               count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


SQL_AGG_GROUPING_SETS = """
SELECT coalesce(o_orderstatus, '<ALL>') AS status,
       coalesce(o_orderpriority, '<ALL>') AS priority,
       round(sum(o_totalprice), 4) AS sum_total,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_agg_pivot(spark, sf_dir):
    """Pivot: order counts per priority pivoted on status columns."""
    o = _t(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in statuses],
        )
    )


SQL_AGG_PIVOT = """
SELECT o_orderpriority,
       coalesce(count(*) FILTER (o_orderstatus = 'F'), 0) AS n_F,
       coalesce(count(*) FILTER (o_orderstatus = 'O'), 0) AS n_O,
       coalesce(count(*) FILTER (o_orderstatus = 'P'), 0) AS n_P
FROM orders GROUP BY o_orderpriority
"""


def q_agg_percentile(spark, sf_dir):
    """Exact percentiles (continuous interpolation) per event_type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


SQL_AGG_PERCENTILE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""


def q_explode_tokens(spark, sf_dir):
    """Lateral explode with position: top token counts over documents
    (posexplode ≅ DuckDB unnest; the shingle/token fan-out primitive)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.split(F.trim(F.col("text")), "\\s+")
    ex = d.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    )
    return ex.groupBy("token").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min(F.col("pos")).alias("first_pos"),
    )


SQL_EXPLODE_TOKENS = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id < 50
), ex0 AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS idx FROM toks
), ex AS (
  SELECT doc_id, CAST(idx - 1 AS INT) AS pos, t[idx] AS token FROM ex0
)
SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs,
       min(pos) AS first_pos
FROM ex GROUP BY token
"""


def q_scalar_levenshtein(spark, sf_dir):
    """Edit-distance similarity of consecutive customer names (fuzzy
    entity-matching primitive)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(b, F.col("a.c_custkey") + 1 == F.col("b.c_custkey"))
    return pairs.select(
        F.col("a.c_custkey").alias("key_a"),
        F.col("b.c_custkey").alias("key_b"),
        F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("edit_dist"),
    )


SQL_SCALAR_LEVENSHTEIN = """
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey
WHERE a.c_custkey <= 200 AND b.c_custkey <= 200
"""


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

def q_join_inner(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_total"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "n_orders",
            "sum_total",
        )
    )


SQL_JOIN_INNER = """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS sum_total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def q_join_broadcast(spark, sf_dir):
    """Fact ⋈ broadcast(dim): the 100 TB pattern for small dims."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


SQL_JOIN_BROADCAST = """
SELECT p_brand, count(*) AS n_items,
       round(sum(l_extendedprice), 4) AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_join_left(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias(
                "sum_total"
            ),
        )
    )


SQL_JOIN_LEFT = """
SELECT c_custkey, count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 4) AS sum_total
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_join_anti(spark, sf_dir):
    """Resume-set shape (BASELINE.json:6): incoming minus committed.

    Probe set is orders-with-URGENT-priority so the anti join is
    non-vacuous at sf0.01 (every customer has *some* order, but 203
    have no urgent one — a 0-row anti join can't catch a wrong join).
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


RANGE_GAP_S = 86400  # 1-day gap: events are ~2/user/day at sf0.01, so a
# 30-min gap yields singleton sessions and a vacuous 0-row range join;
# daily sessions give real intervals (145 matches at sf0.01).


def q_join_range(spark, sf_dir):
    """Non-equi interval join: events probed against session intervals
    (session membership: range predicate on ts)."""
    ev = _t(spark, sf_dir, "events")
    s = W.session_bounds(
        ev.where(F.col("event_type") == "purchase").select("user_id", "ts"),
        key="user_id", ts="ts", gap_seconds=RANGE_GAP_S,
    )
    probes = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    j = probes.alias("p").join(
        s.alias("s"),
        (F.col("p.user_id") == F.col("s.user_id"))
        & (F.col("p.ts") >= F.col("s.session_start"))
        & (F.col("p.ts") <= F.col("s.session_end")),
        "inner",
    )
    return j.select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_id").alias("event_id"),
        F.col("s.session_id").alias("session_id"),
    )


SQL_JOIN_RANGE = f"""
WITH purch AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts)
                   > CAST({RANGE_GAP_S} AS BIGINT) * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM purch
), sess AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - 1 AS BIGINT)
           AS session_id
  FROM flagged
), bounds AS (
  SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
  FROM sess GROUP BY user_id, session_id
)
SELECT p.user_id, p.event_id, b.session_id
FROM events p JOIN bounds b
  ON p.user_id = b.user_id
 AND p.ts >= b.session_start AND p.ts <= b.session_end
WHERE p.event_type = 'error'
"""


def q_join_theta(spark, sf_dir):
    """Pure theta (inequality-only) join -> BroadcastNestedLoopJoin:
    each supplier paired with the customers whose account balance sits
    within (0, 500] below the supplier's. No equi key, so Spark has no
    hash/merge strategy — the ONLY scale-sane physical plan is NLJ with
    the 10-row supplier side broadcast, which is exactly what the plan
    chooses (closes the SURVEY §2.B theta-join row; at 10^12 rows a
    theta join is admissible only when one side broadcasts)."""
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round("s_acctbal", 4).alias("s_bal")
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 4).alias("c_bal")
    )
    j = c.join(
        F.broadcast(s),
        (F.col("s_bal") > F.col("c_bal"))
        & (F.col("s_bal") - F.col("c_bal") <= 500),
    )
    return j.select("s_suppkey", "c_custkey", "s_bal", "c_bal")


SQL_JOIN_THETA = """
SELECT s_suppkey, c_custkey,
       round(s_acctbal, 4) AS s_bal,
       round(c_acctbal, 4) AS c_bal
FROM customer JOIN supplier
  ON round(s_acctbal, 4) > round(c_acctbal, 4)
 AND round(s_acctbal, 4) - round(c_acctbal, 4) <= 500
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + filter + agg + top-10 (shipping
    priority). Exercises join reordering + partial aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    j = (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .where(F.col("o_orderdate") < cutoff)
        .join(li, o.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > cutoff)
    )
    return (
        j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            _us("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
            "revenue",
        )
    )


SQL_TPCH_Q3 = """
SELECT o_orderkey,
       epoch_us(o_orderdate) AS o_orderdate_us,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: 6-way star join (local supplier volume) —
    broadcastable dims (region/nation) + fact-fact joins."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # testdata orders span 1995..2001; the classic 1994 window is empty
    # (vacuous pass) — use 1996 so the join produces real rows at sf0.01
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


SQL_TPCH_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape: returned-item reporting — 4-way join, filter on
    returnflag + quarter, revenue agg, top-20 customers."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    # 1996-Q4 instead of the classic 1993-Q4: testdata orders start 1995
    lo = F.lit("1996-10-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(li, o.o_orderkey == li.l_orderkey)
        .where(F.col("l_returnflag") == "R")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

def q_set_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.union(s).distinct()


SQL_SET_UNION = """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
UNION
SELECT CAST(s_nationkey AS BIGINT) FROM supplier
"""


def q_set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.exceptAll(s).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_SET_EXCEPT = """
SELECT nationkey, count(*) AS n FROM (
  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
  EXCEPT ALL
  SELECT CAST(s_nationkey AS BIGINT) FROM supplier
) GROUP BY nationkey
"""
