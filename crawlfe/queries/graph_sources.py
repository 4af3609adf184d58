"""Feature-eng packs #13-#15: the shared doc graph, WARC/XML/Variant ingest sources, span-level dedup, heavy hitters.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

import pandas as pd  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import _scratch_dir, _t  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #13: the deterministic doc graph
# --------------------------------------------------------------------------

def _doc_edges(spark, sf_dir):
    """The deterministic 2-out-regular doc multigraph the graph queries
    share (``q_sql_recursive`` spells the same edges in SQL):
    doc -> (7*doc+3) mod N and doc -> (13*doc+5) mod N."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    n_row = d.agg(F.count(F.lit(1)).alias("cnt"))
    nodes = d.crossJoin(F.broadcast(n_row))
    return nodes.select(
        F.col("doc_id").alias("src"),
        F.expr("(doc_id * 7 + 3) % cnt").alias("dst"),
    ).unionAll(
        nodes.select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 13 + 5) % cnt").alias("dst"),
        )
    )


SQL_DOC_EDGES = """
  SELECT doc_id AS src, (doc_id * 7 + 3) % cnt AS dst
  FROM documents CROSS JOIN (SELECT count(*) AS cnt FROM documents)
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 5) % cnt
  FROM documents CROSS JOIN (SELECT count(*) AS cnt FROM documents)
"""


# --------------------------------------------------------------------------
# Feature-eng pack #14: ingest-boundary sources — Spark 4 Python
# DataSource (warclite container), VariantType JSON, native XML scan
# --------------------------------------------------------------------------

def q_scan_warclite(spark, sf_dir):
    """WARC-style container ingest via the engine's registered Spark 4
    Python DataSource (crawlfe/warclite.py): the documents table is
    exported to 8 warclite container files (hash-split by doc_id, the
    per-file layout a crawl actually has), read back through
    ``spark.read.format("warclite")`` — one InputPartition per file —
    and aggregated per lang. The oracle recomputes the same aggregate
    straight from the documents view, so correctness covers the full
    container write → custom-source scan → agg round trip. Fixture
    lives in a per-call tempdir (ADVICE r2: never a fixed /tmp path)."""
    import os
    import shutil

    from .. import warclite

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .toPandas()  # fixture export is driver-side by design (like
        # scan_csv's manifest); the SCAN under test is distributed
    )
    tmpdir = _scratch_dir("scan_warclite")
    try:
        by_file: dict[int, list] = {}
        for r in docs.itertuples():
            by_file.setdefault(int(r.doc_id) % 8, []).append(
                {
                    "url": f"https://{r.source}.example/doc/{r.doc_id}",
                    "warc_ts_us": 10**15 + int(r.doc_id) * 10**6,
                    "lang": r.lang,
                    "payload": r.text.encode("utf-8"),
                }
            )
        for i, recs in sorted(by_file.items()):
            warclite.write_warclite(
                os.path.join(tmpdir, f"part-{i:04d}.wlr"), recs
            )
        warclite.register(spark)
        back = spark.read.format("warclite").load(tmpdir)
        agg = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.octet_length("payload")).alias("n_bytes"),
            F.min("warc_ts_us").alias("min_ts_us"),
            F.max("warc_ts_us").alias("max_ts_us"),
        )
        out = agg.collect()  # materialize through the scan pre-cleanup
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return spark.createDataFrame(
        out,
        schema="lang string, n_records bigint, n_bytes bigint, "
        "min_ts_us bigint, max_ts_us bigint",
    )


SQL_SCAN_WARCLITE = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
       min(1000000000000000 + doc_id * 1000000) AS min_ts_us,
       max(1000000000000000 + doc_id * 1000000) AS max_ts_us
FROM documents GROUP BY lang
"""


def q_variant_json(spark, sf_dir):
    """Semi-structured props via Spark 4 VariantType (the open-table
    JSON column type): parse_json once, variant_get the field — the
    binary-variant path Spark shreds at scan time on real Iceberg/Delta
    tables, instead of per-expression JSON string re-parsing. Grouped
    stats per event_type; k is extracted as int so sums are exact."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k.cast("bigint")).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.round(F.sum(k.cast("bigint")) / F.count(F.lit(1)), 4).alias(
            "avg_k"
        ),
    )


SQL_VARIANT_JSON = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
         AS max_k,
       round(sum(CAST(json_extract_string(props, '$.k') AS INT)) * 1.0
             / count(*), 4) AS avg_k
FROM events GROUP BY event_type
"""


def q_scan_xml(spark, sf_dir):
    """Native XML ingest (Spark 4 built-in xml source): the nation dim
    exported as an XML document, re-read with rowTag + explicit schema,
    aggregated per region. The oracle recomputes from the nation view —
    the round trip write → xml scan → agg is what's checked. Same
    per-call tempdir discipline as scan_csv/scan_warclite."""
    import os
    import shutil
    from xml.sax.saxutils import escape

    n = _t(spark, sf_dir, "nation")
    rows = sorted(
        (int(r.n_nationkey), str(r.n_name), int(r.n_regionkey))
        for r in n.collect()  # 25-row dim export, driver-side
    )
    tmpdir = _scratch_dir("scan_xml")
    path = os.path.join(tmpdir, "nation.xml")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("<nations>\n")
        for nk, name, rk in rows:
            fh.write(
                f"  <nation><n_nationkey>{nk}</n_nationkey>"
                f"<n_name>{escape(name)}</n_name>"
                f"<n_regionkey>{rk}</n_regionkey></nation>\n"
            )
        fh.write("</nations>\n")
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(path)
    )
    agg = back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.max("n_name").alias("last_nation"),
    )
    try:
        out = agg.collect()
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return spark.createDataFrame(
        out,
        schema="n_regionkey int, n_nations bigint, key_sum bigint, "
        "last_nation string",
    )


SQL_SCAN_XML = """
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
       max(n_name) AS last_nation
FROM nation GROUP BY n_regionkey
"""


# --------------------------------------------------------------------------
# Feature-eng pack #15: span-level dedup (Lee et al. 2022), exact
# two-pass heavy hitters (distributed Misra-Gries), bloom-style
# semi-join prefilter, incremental aggregate maintenance (IVM merge)
# --------------------------------------------------------------------------

_SPAN_K = 8  # token-window width for span-level dedup


def q_span_dedup(spark, sf_dir):
    """Span-level (token-window) exact dedup, the substring-dedup shape
    of Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better": every ``_SPAN_K``-token rolling window is hashed
    (md5 over the space-joined window), windows whose hash occurs >= 2
    times CORPUS-WIDE are duplicated spans, and each doc reports its
    duplicated-span coverage. Scale shape: windows are generated
    JVM-side (``transform`` over ``sequence`` — no Python), the only
    shuffles are the window-hash count (map-side combinable) and the
    hash-keyed join back; the fat text column never crosses an
    exchange. At 100 TB you'd bucket the hash space; the plan is
    identical per bucket."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    w = (
        d.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= _SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_SPAN_K - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("t"), i, _SPAN_K))
                    ),
                )
            ).alias("h"),
        )
    )
    cnt = w.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        w.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
        .where(F.col("n_dup_windows") >= 1)
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        F.round(
            F.col("n_dup_windows").cast("double") / F.col("n_windows"), 4
        ).alias("dup_frac"),
    )


SQL_SPAN_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), w AS (
  SELECT doc_id,
         md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS h
  FROM toks,
       unnest(generate_series(1, len(t) - {_SPAN_K - 1})) AS g(i)
  WHERE len(t) >= {_SPAN_K}
), c AS (
  SELECT h, count(*) AS n_occ FROM w GROUP BY h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       round(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS dup_frac
FROM w JOIN c USING (h)
GROUP BY doc_id
HAVING sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) >= 1
"""


_HH_K = 200  # heavy-hitter threshold divisor: report freq*K > N


def q_heavy_hitters(spark, sf_dir):
    """EXACT corpus heavy hitters (tokens with freq > N/_HH_K) via the
    standard two-pass distributed Misra-Gries: pass 1 runs an MG sketch
    with _HH_K counters per partition inside ``mapInPandas`` (Arrow
    batches, one dict of <= K counters per partition — by the pigeonhole
    argument any global heavy hitter survives in >= 1 partition
    sketch), the <= K x partitions candidates are collected and
    broadcast, pass 2 exactly recounts ONLY the candidates and applies
    the integer threshold. Scale shape: the full token stream is never
    shuffled — pass 1 is shuffle-free, pass 2's groupBy carries only
    candidate tokens. The threshold compare is integer (freq * K > N),
    so the result is exact and engine-portable."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok")
    )

    def mg_sketch(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < _HH_K:
                    counters[tok] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        if counters:
            yield pd.DataFrame({"tok": list(counters.keys())})

    # <= _HH_K x n_partitions candidate rows by construction: small
    # enough to BROADCAST (a left-semi broadcast join, not a literal
    # IN list — at 1000 executors the candidate set is ~200k rows,
    # which belongs in a broadcast relation, not in the plan tree)
    candidates = toks.mapInPandas(mg_sketch, "tok string").distinct()
    n_total = toks.count()
    exact = (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") * _HH_K > F.lit(n_total))
    )
    return exact.select("tok", F.col("freq").cast("long").alias("freq"))


SQL_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), tot AS (SELECT count(*) AS n FROM toks)
SELECT tok, CAST(count(*) AS BIGINT) AS freq
FROM toks GROUP BY tok
HAVING count(*) * {_HH_K} > (SELECT n FROM tot)
"""


def q_bloom_prefilter(spark, sf_dir):
    """Semi-join reduction via a broadcast membership bitmap (the
    bloom-filter runtime-prefilter pattern Spark applies internally for
    DPP/runtime filters, made explicit): the small side's join keys are
    hashed into 8192 buckets, the distinct bucket set is broadcast as
    ONE array literal, and the big side is prefiltered with
    ``array_contains`` BEFORE the real join — at 100 TB the prefilter
    drops most fact rows at the scan/exchange boundary for the cost of
    a ~64 KB broadcast, false positives are resolved by the actual
    equi join, so the filter is semantically transparent (the oracle is
    the PLAIN join). Output: per-nation order stats for BUILDING-segment
    customers."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders")
    buckets = (
        cust.select(
            F.pmod(F.xxhash64("c_custkey"), F.lit(8192)).alias("b")
        )
        .distinct()
        .agg(F.collect_set("b").alias("bs"))
    )
    pre = orders.crossJoin(F.broadcast(buckets)).where(
        F.array_contains(
            F.col("bs"), F.pmod(F.xxhash64("o_custkey"), F.lit(8192))
        )
    ).drop("bs")
    joined = pre.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        pre.o_custkey == F.col("c_custkey"),
    )
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.countDistinct("c_custkey").alias("n_custs"),
    )


SQL_BLOOM_PREFILTER = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_custs
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY c_nationkey
"""


def q_ivm_merge(spark, sf_dir):
    """Incremental view maintenance by algebraic partial-aggregate
    merge: events are split at a day boundary into a BASE slice (the
    already-materialized aggregate) and a DELTA slice (new arrivals);
    each slice is reduced to mergeable partials (count, sum, min, max
    — avg derived at read time from sum/count), and the maintained
    view is the MERGE of the two partial tables, never a recompute
    over base rows. Scale shape: the nightly update touches only the
    delta + the O(groups) partial table — at 100 TB that's the
    difference between scanning the corpus and scanning a day. The
    oracle recomputes from scratch over the union, which is exactly
    what the merge must equal.

    Partial sums are DECIMAL(18,6) (exact, association-order-free —
    the backfill lesson: double partials merged in a different order
    than the oracle's single pass ulp-flip round-to-4 ties); the avg
    uses the scaled-integer 4-dp recipe and min/max/sum are emitted
    un-re-rounded (identical exact inputs -> identical doubles)."""
    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-21"

    def partials(df):
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sm"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = partials(ev.where(F.col("ts") < cutoff))
    delta = partials(ev.where(F.col("ts") >= cutoff))
    dsum = F.sum("sm")
    return (
        base.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n_events"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
            dsum.cast("double").alias("sum_value"),
            (
                F.round((dsum * 10000).cast("double") / F.sum("cnt"))
                / 10000
            ).alias("avg_value"),
        )
    )


SQL_IVM_MERGE = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) * 10000 AS DOUBLE)
             / count(*)) / 10000 AS avg_value
FROM events
GROUP BY user_id, event_type
"""
