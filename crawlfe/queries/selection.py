"""Feature-eng packs #16-#19: chi2 term selection, embedding outliers, curriculum, vocab coverage, k-means++ seeds.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t
from .graph_sources import SQL_DOC_EDGES, _doc_edges


# --------------------------------------------------------------------------
# Feature-eng pack #16: supervised term selection, embedding outliers,
# token-budget corpus mixing, annotator agreement, label propagation
# --------------------------------------------------------------------------

_CHI2_TOPK = 5  # discriminative terms reported per source


def q_chi2_terms(spark, sf_dir):
    """Chi-squared supervised term selection: per source (the label),
    the top-``_CHI2_TOPK`` tokens most over-represented in that
    source's documents, scored by the 2x2-contingency chi-squared
    statistic over DOC-LEVEL presence (the classic feature-selection
    screen before training a classifier on web text). Scale shape:
    one distinct-token explode, two map-side-combinable hash aggs
    ((source, tok) and tok), a broadcast of the tiny per-source and
    corpus totals, and a per-source top-k window — the fat text never
    crosses an exchange, and every chi2 input is an INTEGER count so
    the statistic is engine-portable (one double division at the end,
    rounded)."""
    d = _t(spark, sf_dir, "documents")
    pres = d.select(
        "source",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), "\\s+"))
        ).alias("tok"),
    )
    a = pres.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    tot_t = pres.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tot_t")
    )
    n_s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    n_row = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    j = (
        a.join(tot_t, "tok")
        .join(F.broadcast(n_s), "source")
        .join(F.broadcast(n_row))
        .where(F.col("a") * F.col("n_all") > F.col("tot_t") * F.col("n_s"))
    )
    b = F.col("tot_t") - F.col("a")
    c = F.col("n_s") - F.col("a")
    dd = F.col("n_all") - F.col("n_s") - b
    num = F.col("n_all") * F.pow(F.col("a") * dd - b * c, F.lit(2))
    den = (
        F.col("tot_t")
        * (F.col("n_all") - F.col("tot_t"))
        * F.col("n_s")
        * (F.col("n_all") - F.col("n_s"))
    )
    scored = j.select(
        "source",
        "tok",
        "a",
        F.round(num / den.cast("double"), 4).alias("chi2"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("chi2").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CHI2_TOPK)
        .select("source", "rk", "tok", "a", "chi2")
    )


SQL_CHI2_TERMS = f"""
WITH pres AS (
  SELECT source, unnest(list_distinct(
           regexp_split_to_array(trim(text), '\\s+'))) AS tok
  FROM documents
), a AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS a
  FROM pres GROUP BY source, tok
), tt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tot_t FROM pres GROUP BY tok
), ns AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s
  FROM documents GROUP BY source
), nr AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM documents),
scored AS (
  SELECT a.source, a.tok, a.a,
         round(n_all * pow(a.a * (n_all - n_s - (tot_t - a.a))
                           - (tot_t - a.a) * (n_s - a.a), 2)
               / CAST(tot_t * (n_all - tot_t) * n_s * (n_all - n_s)
                      AS DOUBLE), 4) AS chi2
  FROM a JOIN tt USING (tok) JOIN ns USING (source) CROSS JOIN nr
  WHERE a.a * n_all > tot_t * n_s
), ranked AS (
  SELECT source, tok, a, chi2,
         row_number() OVER (PARTITION BY source
                            ORDER BY chi2 DESC, tok ASC) AS rk
  FROM scored
)
SELECT source, CAST(rk AS INTEGER) AS rk, tok, a, chi2
FROM ranked WHERE rk <= {_CHI2_TOPK}
"""


_OUTLIER_K = 10  # lowest-cosine vectors reported per label


def q_embedding_outliers(spark, sf_dir):
    """Per-label embedding outliers: cosine of each vector to its
    label centroid, reporting the ``_OUTLIER_K`` LOWEST-cosine vectors
    per label — the "docs that don't belong to their cluster" screen
    a training-data curation pass runs before trusting labels. Scale
    shape: long-form (label, dim) layout via ``posexplode`` keeps
    everything JVM-side; the centroid agg and the dot-product agg
    both combine map-side, the centroid table is O(labels x dims) and
    broadcast into the join, and the final per-label top-k is one
    window. Ordering uses the ROUNDED cosine (then vec_id) so the
    selected set is identical across engines despite fp summation
    order."""
    e = _t(spark, sf_dir, "embeddings")
    lf = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("idx", "val"),
    )
    cen = lf.groupBy("label", "idx").agg(F.avg("val").alias("cen"))
    per = (
        lf.join(F.broadcast(cen), ["label", "idx"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("cen")).alias("dot"),
            F.sum(F.col("val") * F.col("val")).alias("v2"),
            F.sum(F.col("cen") * F.col("cen")).alias("c2"),
        )
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("dot") / (F.sqrt("v2") * F.sqrt("c2")), 4
            ).alias("cos_cen"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_cen").asc(), F.col("vec_id").asc()
    )
    return (
        per.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _OUTLIER_K)
        .select("label", "rk", "vec_id", "cos_cen")
    )


SQL_EMBEDDING_OUTLIERS = f"""
WITH lf AS (
  SELECT vec_id, label, i.idx - 1 AS idx,
         CAST(embedding[i.idx] AS DOUBLE) AS val
  FROM embeddings, range(1, 65) i(idx)
), cen AS (
  SELECT label, idx, avg(val) AS cen FROM lf GROUP BY label, idx
), per AS (
  SELECT vec_id, lf.label,
         round(sum(val * cen)
               / (sqrt(sum(val * val)) * sqrt(sum(cen * cen))),
               4) AS cos_cen
  FROM lf JOIN cen ON lf.label = cen.label AND lf.idx = cen.idx
  GROUP BY vec_id, lf.label
), ranked AS (
  SELECT label, vec_id, cos_cen,
         row_number() OVER (PARTITION BY label
                            ORDER BY cos_cen ASC, vec_id ASC) AS rk
  FROM per
)
SELECT CAST(label AS INTEGER) AS label, CAST(rk AS INTEGER) AS rk,
       vec_id, cos_cen
FROM ranked WHERE rk <= {_OUTLIER_K}
"""


_MIX_BUDGET = 1500  # whitespace tokens admitted per source


def q_token_budget_mix(spark, sf_dir):
    """Token-budget corpus mixing: admit documents per source in
    deterministic doc_id order until each source's running token
    total reaches ``_MIX_BUDGET`` — the dataset-mixture step that
    turns per-domain weights into an actual training corpus (domains
    contribute TOKENS, not doc counts). One narrow projection + one
    cumulative-sum window per source; integer arithmetic only, and
    the fat text column is dropped before the window shuffle."""
    d = _t(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select(
            "doc_id", "source", n_toks.cast("bigint").alias("n_toks")
        )
        .withColumn("cum_toks", F.sum("n_toks").over(w))
        .where(F.col("cum_toks") <= _MIX_BUDGET)
        .select("doc_id", "source", "n_toks", "cum_toks")
    )


SQL_TOKEN_BUDGET_MIX = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+'))
              AS BIGINT) AS n_toks
  FROM documents
), c AS (
  SELECT doc_id, source, n_toks,
         sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_toks
  FROM t
)
SELECT doc_id, source, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
FROM c WHERE cum_toks <= {_MIX_BUDGET}
"""


def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between two deterministic weak labelers (length
    rule: n_chars >= 300; keyword rule: text contains 'spark') — the
    inter-annotator-agreement statistic a labeling pipeline reports
    before trusting weak supervision. One full-scan agg producing four
    integer cell counts; kappa is two double divisions over those
    integers, so the scalar is engine-portable."""
    d = _t(spark, sf_dir, "documents")
    la = (F.col("n_chars") >= 300).cast("bigint")
    lb = F.col("text").contains("spark").cast("bigint")
    cells = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(la * lb).alias("n11"),
        F.sum(la * (1 - lb)).alias("n10"),
        F.sum((1 - la) * lb).alias("n01"),
        F.sum((1 - la) * (1 - lb)).alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pa = (F.col("n11") + F.col("n10")).cast("double") / F.col("n")
    pb = (F.col("n11") + F.col("n01")).cast("double") / F.col("n")
    pe = pa * pb + (1 - pa) * (1 - pb)
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


SQL_COHENS_KAPPA = """
WITH cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN n_chars >= 300
                        AND contains(text, 'spark')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN n_chars >= 300
                        AND NOT contains(text, 'spark')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN n_chars < 300
                        AND contains(text, 'spark')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(sum(CASE WHEN n_chars < 300
                        AND NOT contains(text, 'spark')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM documents
)
SELECT n, n11, n10, n01, n00,
       round((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
       round(((n11 + n10) / CAST(n AS DOUBLE))
             * ((n11 + n01) / CAST(n AS DOUBLE))
             + ((n01 + n00) / CAST(n AS DOUBLE))
             * ((n10 + n00) / CAST(n AS DOUBLE)), 6) AS pe,
       round((((n11 + n00) / CAST(n AS DOUBLE))
              - (((n11 + n10) / CAST(n AS DOUBLE))
                 * ((n11 + n01) / CAST(n AS DOUBLE))
                 + ((n01 + n00) / CAST(n AS DOUBLE))
                 * ((n10 + n00) / CAST(n AS DOUBLE))))
             / (1 - (((n11 + n10) / CAST(n AS DOUBLE))
                     * ((n11 + n01) / CAST(n AS DOUBLE))
                     + ((n01 + n00) / CAST(n AS DOUBLE))
                     * ((n10 + n00) / CAST(n AS DOUBLE)))), 6) AS kappa
FROM cells
"""


def _label_prop_round(unlabeled_nodes, edges, labeled):
    """One majority-vote label-propagation round: each unlabeled node
    takes the most frequent label over its in-neighbors that are
    already labeled (ties -> lexicographically smallest label).
    Integer vote counts + a deterministic window, so the assignment
    is identical across engines and partitionings."""
    votes = (
        edges.join(
            labeled.select(
                F.col("doc_id").alias("src"), F.col("label").alias("nl")
            ),
            "src",
        )
        .join(unlabeled_nodes, edges.dst == unlabeled_nodes.doc_id)
        .groupBy("doc_id", "nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("votes").desc(), F.col("nl").asc()
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("nl").alias("label"))
    )


def q_label_prop(spark, sf_dir):
    """Two-round majority-vote label propagation over the shared doc
    link graph: docs with ``doc_id % 10 == 0`` are seeds carrying
    their ``source`` as the label; each round, every still-unlabeled
    node adopts the modal label of its already-labeled in-neighbors
    (tie -> smallest label). The semi-supervised labeling shape for
    web corpora where only a slice has trusted labels. Scale shape:
    each round is one edge-to-label equi join plus a vote hash agg
    plus an argmax window — never a cartesian; the frontier shrinks
    monotonically, and at 100 TB you would iterate with
    ``localCheckpoint`` per round exactly like dedup_clusters."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    edges = _doc_edges(spark, sf_dir)
    seeds = d.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.col("source").alias("label"), F.lit(0).alias("rnd")
    )
    nodes = d.select("doc_id")
    un1 = nodes.join(seeds.select("doc_id"), "doc_id", "left_anti")
    # the r1 relation feeds THREE downstream consumers (lab01 union,
    # un2 anti-join, final union) — cut its lineage once so the
    # 2-join+window subtree isn't recomputed per consumer (the
    # dedup_clusters / kcore_peel per-round localCheckpoint pattern;
    # the checkpointed rows are O(nodes) slim (doc_id, label, rnd))
    r1 = (
        _label_prop_round(un1, edges, seeds)
        .withColumn("rnd", F.lit(1))
        .localCheckpoint(eager=False)
    )
    lab01 = seeds.select("doc_id", "label").unionAll(
        r1.select("doc_id", "label")
    )
    un2 = nodes.join(lab01.select("doc_id"), "doc_id", "left_anti")
    r2 = _label_prop_round(un2, edges, lab01).withColumn(
        "rnd", F.lit(2)
    )
    return seeds.unionAll(r1).unionAll(r2).select(
        "doc_id", "label", "rnd"
    )


SQL_LABEL_PROP = f"""
WITH edges AS ({SQL_DOC_EDGES}),
seeds AS (
  SELECT doc_id, source AS label, 0 AS rnd
  FROM documents WHERE doc_id % 10 = 0
),
v1 AS (
  SELECT e.dst AS doc_id, s.label AS nl, count(*) AS votes
  FROM edges e
  JOIN seeds s ON e.src = s.doc_id
  WHERE e.dst NOT IN (SELECT doc_id FROM seeds)
  GROUP BY e.dst, s.label
),
r1 AS (
  SELECT doc_id, nl AS label, 1 AS rnd
  FROM (SELECT doc_id, nl,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY votes DESC, nl ASC) AS rk
        FROM v1)
  WHERE rk = 1
),
lab01 AS (
  SELECT doc_id, label FROM seeds
  UNION ALL SELECT doc_id, label FROM r1
),
v2 AS (
  SELECT e.dst AS doc_id, l.label AS nl, count(*) AS votes
  FROM edges e
  JOIN lab01 l ON e.src = l.doc_id
  WHERE e.dst NOT IN (SELECT doc_id FROM lab01)
  GROUP BY e.dst, l.label
),
r2 AS (
  SELECT doc_id, nl AS label, 2 AS rnd
  FROM (SELECT doc_id, nl,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY votes DESC, nl ASC) AS rk
        FROM v2)
  WHERE rk = 1
)
SELECT doc_id, label, CAST(rnd AS INTEGER) AS rnd FROM seeds
UNION ALL SELECT doc_id, label, CAST(rnd AS INTEGER) FROM r1
UNION ALL SELECT doc_id, label, CAST(rnd AS INTEGER) FROM r2
"""


# --------------------------------------------------------------------------
# Feature-eng pack #17: curriculum ordering, vocabulary coverage curve
# --------------------------------------------------------------------------

_CURR_B = 4  # curriculum difficulty buckets


def q_curriculum_order(spark, sf_dir):
    """Curriculum ordering: bucket documents into ``_CURR_B``
    difficulty quartiles (proxy: n_chars) and emit the round-robin
    interleave key ``within_rank * B + bucket`` that a trainer sorts
    by to see all difficulties early and uniformly. Scale shape: the
    quartile cutoffs are ONE exact-percentile agg broadcast back (no
    global ntile window, which would single-partition the corpus);
    bucketing is a pure projection; the within-bucket numbering
    partitions by bucket — at 100 TB you'd salt that into
    (bucket, shard) two-level numbering, same plan shape. The
    interleave key is emitted as a SORT KEY for repartitionByRange,
    not materialized as a global row number."""
    d = _t(spark, sf_dir, "documents")
    cuts = d.agg(
        F.expr("percentile(n_chars, 0.25)").alias("c1"),
        F.expr("percentile(n_chars, 0.5)").alias("c2"),
        F.expr("percentile(n_chars, 0.75)").alias("c3"),
    )
    b = (
        F.when(F.col("n_chars") <= F.col("c1"), 1)
        .when(F.col("n_chars") <= F.col("c2"), 2)
        .when(F.col("n_chars") <= F.col("c3"), 3)
        .otherwise(4)
    )
    bucketed = d.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "n_chars", b.alias("bucket")
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    return bucketed.withColumn(
        "within_rank", F.row_number().over(w)
    ).select(
        "doc_id",
        "bucket",
        "within_rank",
        (
            F.col("within_rank").cast("bigint") * _CURR_B
            + F.col("bucket")
            - 1
        ).alias("interleave_key"),
    )


SQL_CURRICULUM_ORDER = f"""
WITH cuts AS (
  SELECT quantile_cont(n_chars, 0.25) AS c1,
         quantile_cont(n_chars, 0.5) AS c2,
         quantile_cont(n_chars, 0.75) AS c3
  FROM documents
), bucketed AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars <= c1 THEN 1
              WHEN n_chars <= c2 THEN 2
              WHEN n_chars <= c3 THEN 3
              ELSE 4 END AS bucket
  FROM documents CROSS JOIN cuts
)
SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
       CAST(row_number() OVER (PARTITION BY bucket
                               ORDER BY n_chars ASC, doc_id ASC)
            AS INTEGER) AS within_rank,
       CAST(row_number() OVER (PARTITION BY bucket
                               ORDER BY n_chars ASC, doc_id ASC)
            * {_CURR_B} + bucket - 1 AS BIGINT) AS interleave_key
FROM bucketed
"""


_COV_V = 500  # vocabulary sizes traced by the coverage curve


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: for the top-``_COV_V`` tokens (count
    desc, token asc), the CUMULATIVE share of all corpus tokens a
    vocabulary truncated at that id would cover — the curve that
    picks V for a tokenizer. Scale shape: the token agg combines
    map-side; the top-V cut is TakeOrderedAndProject (per-partition
    heap, V rows to the driver-side merge); the cumsum window then
    runs over exactly V rows, and the corpus token total enters as a
    broadcast 1-row agg. Integer counts; one rounded double division
    per output row."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(_COV_V)
    w = (
        Window.orderBy(F.col("n").desc(), F.col("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("vocab_id", F.row_number().over(wr))
        .withColumn("cum_n", F.sum("n").over(w))
        .select(
            "vocab_id",
            "token",
            "n",
            F.round(
                F.col("cum_n").cast("double") / F.col("total"), 6
            ).alias("cum_share"),
        )
    )


SQL_VOCAB_COVERAGE = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY token
), tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks),
top AS (
  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {_COV_V}
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, token)
            AS INTEGER) AS vocab_id,
       token, n,
       round(CAST(sum(n) OVER (ORDER BY n DESC, token
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS DOUBLE)
             / total, 6) AS cum_share
FROM top CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Feature-eng pack #18: dataset card, KS drift, Benford audit
# --------------------------------------------------------------------------


def q_dataset_card(spark, sf_dir):
    """Per-source dataset card — the summary table a corpus release
    ships (docs, token volume, language spread, exact-dup rate, length
    median). One token-count projection feeding a grouped agg, plus a
    sha-level dup count that joins back as a tiny per-source table;
    the text column is reduced to (sha, n_toks) before any exchange."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        "n_chars",
        F.sha2(F.col("text"), 256).alias("sha"),
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
        .cast("bigint")
        .alias("n_toks"),
    )
    dup = (
        base.groupBy("source", "sha")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .groupBy("source")
        .agg(
            F.sum(
                F.when(F.col("n_occ") > 1, F.col("n_occ")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dup_docs")
        )
    )
    card = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias(
            "p50_chars"
        ),
    )
    return (
        card.join(F.broadcast(dup), "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("n_docs"), 4
            ).alias("avg_doc_tokens"),
            "n_langs",
            F.coalesce("n_dup_docs", F.lit(0)).alias("n_dup_docs"),
            F.round(
                F.coalesce("n_dup_docs", F.lit(0)).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            "p50_chars",
        )
    )


SQL_DATASET_CARD = """
WITH base AS (
  SELECT source, lang, n_chars,
         sha256(text) AS sha,
         CAST(len(regexp_split_to_array(trim(text), '\\s+'))
              AS BIGINT) AS n_toks
  FROM documents
), dup AS (
  SELECT source,
         CAST(sum(CASE WHEN n_occ > 1 THEN n_occ ELSE 0 END)
              AS BIGINT) AS n_dup_docs
  FROM (SELECT source, sha, count(*) AS n_occ
        FROM base GROUP BY source, sha)
  GROUP BY source
), card AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         round(quantile_cont(n_chars, 0.5), 4) AS p50_chars
  FROM base GROUP BY source
)
SELECT c.source, n_docs, total_tokens,
       round(total_tokens / CAST(n_docs AS DOUBLE), 4)
         AS avg_doc_tokens,
       n_langs,
       coalesce(n_dup_docs, 0) AS n_dup_docs,
       round(coalesce(n_dup_docs, 0) / CAST(n_docs AS DOUBLE), 6)
         AS dup_rate,
       p50_chars
FROM card c LEFT JOIN dup d ON c.source = d.source
"""


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic per event_type
    between the first and second half of the month (day <= 15 vs
    day > 15) — the distribution-shift monitor a feature pipeline
    runs between snapshots. The KS sup-distance is computed with an
    INTEGER numerator: per distinct value, cumulative group counts
    cum1/cum2 via one ordered window, then
    ``max |cum1*n2 - cum2*n1| / (n1*n2)`` — one double division per
    event_type at the very end, so the statistic is engine-exact.
    Scale shape: a (event_type, value) pre-agg combines map-side; the
    window runs over distinct values per type, not raw events."""
    ev = _t(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        "value",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("g1"),
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("g2"),
    )
    per_val = tagged.groupBy("event_type", "value").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        F.sum("g2").cast("bigint").alias("c2"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_val.select(
        "event_type",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    totals = per_val.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    return (
        cum.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            ).alias("num"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            F.round(
                F.col("num").cast("double") / (F.col("n1") * F.col("n2")),
                6,
            ).alias("ks_stat"),
        )
    )


SQL_KS_DRIFT = """
WITH per_val AS (
  SELECT event_type, value,
         CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END)
              AS BIGINT) AS c2
  FROM events GROUP BY event_type, value
), cum AS (
  SELECT event_type,
         sum(c1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum1,
         sum(c2) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum2
  FROM per_val
), totals AS (
  SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2
  FROM per_val GROUP BY event_type
)
SELECT c.event_type, max(n1) AS n1, max(n2) AS n2,
       round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
             / (max(n1) * max(n2)), 6) AS ks_stat
FROM cum c JOIN totals t ON c.event_type = t.event_type
GROUP BY c.event_type
"""


def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit of event values per event_type — the
    anomaly screen for synthetic/fabricated numeric columns. The
    first significant digit comes from INTEGER cents (value has <= 2
    decimals) via string head — no log10 on data doubles, so the
    digit assignment is engine-exact; Benford's expected share
    log10(1 + 1/d) is evaluated on nine integer constants only. One
    narrow projection + one hash agg + a broadcast per-type total."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    counts = (
        ev.select("event_type", cents.alias("cents"))
        # Benford is defined on positive magnitudes; zero-cent rows
        # would yield digit 0 (ANSI divide-by-zero in exp_share)
        .where(F.col("cents") > 0)
        .select(
            "event_type",
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit"),
        )
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("n").alias("tot")
    )
    return counts.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias(
            "obs_share"
        ),
        F.round(
            F.log10(1.0 + 1.0 / F.col("digit").cast("double")), 6
        ).alias("exp_share"),
    )


SQL_BENFORD_AUDIT = """
WITH cents AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), counts AS (
  SELECT event_type,
         CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM cents WHERE c > 0 GROUP BY 1, 2
), totals AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
  FROM counts GROUP BY event_type
)
SELECT c.event_type, digit, n,
       round(n / CAST(tot AS DOUBLE), 6) AS obs_share,
       round(log10(1.0 + 1.0 / digit), 6) AS exp_share
FROM counts c JOIN totals t ON c.event_type = t.event_type
"""


# --------------------------------------------------------------------------
# Feature-eng pack #19: k-means++ seeding, domain mixture weights,
# sequence-length buckets
# --------------------------------------------------------------------------

# k-means|| seeding (Bahmani+12 "Scalable k-means++", public) made
# deterministic: instead of k-1 sequential farthest-point rounds, each
# round OVERSAMPLES the _KMPP_L farthest vectors (by rounded min-sq-L2
# to all centers chosen so far, ties -> smallest vec_id) in ONE scan,
# so k=16 seeds cost 3 scans instead of 15 (VERDICT r3 next-round #5).
_KMPP_K = 16            # total seeds = 1 + _KMPP_ROUNDS * _KMPP_L
_KMPP_ROUNDS = 3        # O(log k) full scans
_KMPP_L = 5             # oversampling factor per round


def _sq_dists_to(dims, cdims):
    """Per (vec, center) squared L2 over long-form dims, then the
    min over centers — two map-side-combinable hash aggs."""
    c = cdims.select(
        F.col("vec_id").alias("c_id"), "idx", F.col("val").alias("cval")
    )
    return (
        dims.join(F.broadcast(c), "idx")
        .groupBy("vec_id", "c_id")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval"))
                * (F.col("val") - F.col("cval"))
            ).alias("d2")
        )
        .groupBy("vec_id")
        .agg(F.min("d2").alias("min_d2"))
    )


def q_kmeanspp_seeds(spark, sf_dir):
    """Deterministic k-means|| seeding (Bahmani+12) over the embedding
    table (the IVF/ANN centroid bootstrap): seed 1 is vec_id 0; each
    of the _KMPP_ROUNDS rounds then oversamples the _KMPP_L vectors
    FARTHEST from every center chosen so far (max min squared L2,
    ties -> smallest vec_id, on the ROUNDED distance so the pick is
    engine-stable) in a single scan — the deterministic analog of
    k-means||'s d^2-proportional oversampling, replacing the k-1
    sequential farthest-point rounds of classic k-means++ (k=16 in 3
    scans instead of 15; VERDICT r3 next-round #5). Each round is one
    long-form distance job whose centers enter as a broadcast
    O(k x dims) table; the driver holds ONLY the chosen vec_ids (O(k)
    ints — the legitimate driver state of an iterative algorithm).
    seed_rank orders by (round, selection distance desc, vec_id)."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("idx", "val"),
    )
    chosen = [(0, 0.0)]  # (vec_id, selection distance)
    for _ in range(_KMPP_ROUNDS):
        ids = [c for c, _ in chosen]
        md = _sq_dists_to(dims, dims.where(F.col("vec_id").isin(ids)))
        picks = (
            md.where(~F.col("vec_id").isin(ids))
            .select("vec_id", F.round("min_d2", 4).alias("d4"))
            .orderBy(F.col("d4").desc(), F.col("vec_id").asc())
            .limit(_KMPP_L)
            .collect()
        )
        chosen.extend(
            sorted(
                ((int(r["vec_id"]), float(r["d4"])) for r in picks),
                key=lambda t: (-t[1], t[0]),
            )
        )
    out = spark.createDataFrame(
        [
            (rank, vid, dist)
            for rank, (vid, dist) in enumerate(chosen, start=1)
        ],
        "seed_rank int, vec_id bigint, sel_dist double",
    )
    return out


SQL_KMEANSPP_SEEDS = """
WITH dims AS (
  SELECT vec_id, i.idx - 1 AS idx,
         CAST(embedding[i.idx] AS DOUBLE) AS val
  FROM embeddings, range(1, 65) i(idx)
),
c0 AS (SELECT CAST(0 AS BIGINT) AS vec_id, 0.0 AS d4, 0 AS rnd),
r1 AS (
  SELECT vec_id, round(min(d2_raw), 4) AS d4
  FROM (
    SELECT v.vec_id, c.vec_id AS c_id,
           sum((v.val - c.val) * (v.val - c.val)) AS d2_raw
    FROM dims v JOIN dims c ON v.idx = c.idx
    WHERE c.vec_id IN (SELECT vec_id FROM c0)
      AND v.vec_id NOT IN (SELECT vec_id FROM c0)
    GROUP BY v.vec_id, c.vec_id
  ) GROUP BY vec_id
),
p1 AS (SELECT vec_id, d4, 1 AS rnd FROM r1
       ORDER BY d4 DESC, vec_id LIMIT 5),
c1 AS (SELECT * FROM c0 UNION ALL SELECT * FROM p1),
r2 AS (
  SELECT vec_id, round(min(d2_raw), 4) AS d4
  FROM (
    SELECT v.vec_id, c.vec_id AS c_id,
           sum((v.val - c.val) * (v.val - c.val)) AS d2_raw
    FROM dims v JOIN dims c ON v.idx = c.idx
    WHERE c.vec_id IN (SELECT vec_id FROM c1)
      AND v.vec_id NOT IN (SELECT vec_id FROM c1)
    GROUP BY v.vec_id, c.vec_id
  ) GROUP BY vec_id
),
p2 AS (SELECT vec_id, d4, 2 AS rnd FROM r2
       ORDER BY d4 DESC, vec_id LIMIT 5),
c2 AS (SELECT * FROM c1 UNION ALL SELECT * FROM p2),
r3 AS (
  SELECT vec_id, round(min(d2_raw), 4) AS d4
  FROM (
    SELECT v.vec_id, c.vec_id AS c_id,
           sum((v.val - c.val) * (v.val - c.val)) AS d2_raw
    FROM dims v JOIN dims c ON v.idx = c.idx
    WHERE c.vec_id IN (SELECT vec_id FROM c2)
      AND v.vec_id NOT IN (SELECT vec_id FROM c2)
    GROUP BY v.vec_id, c.vec_id
  ) GROUP BY vec_id
),
p3 AS (SELECT vec_id, d4, 3 AS rnd FROM r3
       ORDER BY d4 DESC, vec_id LIMIT 5),
allc AS (SELECT * FROM c2 UNION ALL SELECT * FROM p3)
SELECT CAST(row_number() OVER (ORDER BY rnd, d4 DESC, vec_id) AS INTEGER)
         AS seed_rank,
       vec_id, d4 AS sel_dist
FROM allc
"""


def q_domain_weights(spark, sf_dir):
    """Inverse-propensity domain mixture weights: to rebalance a
    skewed corpus toward a uniform per-source target, each source
    gets weight N/(S*n_s) (target share over observed share), clipped
    to [0.2, 5] — the reweighting table a training sampler joins
    against. Two tiny aggs (per-source counts + two broadcast
    scalars); integer counts, rounded double divisions."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = per.agg(
        F.sum("n_docs").alias("n_all"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    raw = F.col("n_all").cast("double") / (
        F.col("n_sources") * F.col("n_docs")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(raw, 6).alias("raw_weight"),
        F.round(F.least(F.greatest(raw, F.lit(0.2)), F.lit(5.0)), 6).alias(
            "weight"
        ),
    )


SQL_DOMAIN_WEIGHTS = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM per
)
SELECT source, n_docs,
       round(n_all / CAST(n_sources * n_docs AS DOUBLE), 6)
         AS raw_weight,
       round(least(greatest(n_all / CAST(n_sources * n_docs AS DOUBLE),
                            0.2), 5.0), 6) AS weight
FROM per CROSS JOIN tot
"""


def q_length_buckets(spark, sf_dir):
    """Sequence-length bucketing for batch packing: docs binned into
    token-length quartiles (exact-percentile cutoffs, broadcast), and
    per bucket the padding waste a fixed-shape batch would pay —
    ``1 - sum_tokens/(n_docs*max_tokens)``. The report that justifies
    length-bucketed batching over naive padding. Narrow projection +
    one broadcast + one hash agg; integers except the two rounded
    divisions."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
        .cast("bigint")
        .alias("n_toks"),
    )
    cuts = base.agg(
        F.expr("percentile(n_toks, 0.25)").alias("c1"),
        F.expr("percentile(n_toks, 0.5)").alias("c2"),
        F.expr("percentile(n_toks, 0.75)").alias("c3"),
    )
    b = (
        F.when(F.col("n_toks") <= F.col("c1"), 1)
        .when(F.col("n_toks") <= F.col("c2"), 2)
        .when(F.col("n_toks") <= F.col("c3"), 3)
        .otherwise(4)
    )
    return (
        base.crossJoin(F.broadcast(cuts))
        .select("doc_id", "n_toks", b.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_toks").alias("min_toks"),
            F.max("n_toks").alias("max_toks"),
            F.sum("n_toks").alias("sum_toks"),
        )
        .select(
            "bucket",
            "n_docs",
            "min_toks",
            "max_toks",
            F.round(
                F.col("sum_toks").cast("double") / F.col("n_docs"), 4
            ).alias("avg_toks"),
            F.round(
                1
                - F.col("sum_toks").cast("double")
                / (F.col("n_docs") * F.col("max_toks")),
                6,
            ).alias("padding_waste"),
        )
    )


SQL_LENGTH_BUCKETS = """
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+'))
              AS BIGINT) AS n_toks
  FROM documents
), cuts AS (
  SELECT quantile_cont(n_toks, 0.25) AS c1,
         quantile_cont(n_toks, 0.5) AS c2,
         quantile_cont(n_toks, 0.75) AS c3
  FROM base
), bucketed AS (
  SELECT doc_id, n_toks,
         CASE WHEN n_toks <= c1 THEN 1
              WHEN n_toks <= c2 THEN 2
              WHEN n_toks <= c3 THEN 3
              ELSE 4 END AS bucket
  FROM base CROSS JOIN cuts
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(n_toks) AS min_toks,
       max(n_toks) AS max_toks,
       round(sum(n_toks) / CAST(count(*) AS DOUBLE), 4) AS avg_toks,
       round(1 - sum(n_toks)
             / CAST(count(*) * max(n_toks) AS DOUBLE), 6)
         AS padding_waste
FROM bucketed GROUP BY bucket
"""
