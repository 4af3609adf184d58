"""Feature-eng packs #20-#22: PSI drift, mutual info, recursive/lateral SQL, simhash pairs, grouped OLS, Gini, PR AUC.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import _t  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #20: drift diagnostics — PSI drift
# --------------------------------------------------------------------------


def q_psi_drift(spark, sf_dir):
    """Population Stability Index per event_type between the first and
    second half of the month over the fixed-width value bins of
    ``q_histogram`` — the binned companion to the KS monitor
    (``q_ks_drift``): PSI localizes WHERE the distribution moved.

    Per-bin term ``(p_act - p_exp) * ln(p_act/p_exp)`` is computed
    from integer counts (the ln argument is an exact integer ratio);
    bins empty on either side yield NULL terms (excluded from the
    total, the standard finite-PSI convention). The per-type total is
    a window sum over <= 20 bin rows. One hash agg over the raw
    events + a broadcast totals join — scale-right."""
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            F.least(
                F.floor(F.col("value") / F.lit(25.0)).cast("bigint"),
                F.lit(19),
            ).alias("bucket"),
            F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("e"),
            F.when(F.dayofmonth("ts") > 15, 1).otherwise(0).alias("a"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("e").cast("bigint").alias("n_exp"),
            F.sum("a").cast("bigint").alias("n_act"),
        )
    )
    tot = b.groupBy("event_type").agg(
        F.sum("n_exp").alias("tot_exp"), F.sum("n_act").alias("tot_act")
    )
    term = F.when(
        (F.col("n_exp") > 0) & (F.col("n_act") > 0),
        (
            F.col("n_act") / F.col("tot_act").cast("double")
            - F.col("n_exp") / F.col("tot_exp").cast("double")
        )
        * F.log(
            (F.col("n_act") * F.col("tot_exp")).cast("double")
            / (F.col("n_exp") * F.col("tot_act")).cast("double")
        ),
    )
    wt = Window.partitionBy("event_type")
    return (
        b.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "bucket", "n_exp", "n_act", term.alias("t")
        )
        .select(
            "event_type",
            "bucket",
            "n_exp",
            "n_act",
            F.round("t", 6).alias("psi_term"),
            F.round(F.sum("t").over(wt), 6).alias("psi_total"),
        )
    )


SQL_PSI_DRIFT = """
WITH b AS (
  SELECT event_type,
         least(CAST(floor(value / 25.0) AS BIGINT), 19) AS bucket,
         CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exp,
         CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_act
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, CAST(sum(n_exp) AS BIGINT) AS tot_exp,
         CAST(sum(n_act) AS BIGINT) AS tot_act
  FROM b GROUP BY 1
), terms AS (
  SELECT b.event_type, bucket, n_exp, n_act,
         CASE WHEN n_exp > 0 AND n_act > 0 THEN
           (n_act / CAST(tot_act AS DOUBLE)
            - n_exp / CAST(tot_exp AS DOUBLE))
           * ln(CAST(n_act * tot_exp AS DOUBLE)
                / CAST(n_exp * tot_act AS DOUBLE))
         ELSE NULL END AS t
  FROM b JOIN t ON b.event_type = t.event_type
)
SELECT event_type, bucket, n_exp, n_act,
       round(t, 6) AS psi_term,
       round(sum(t) OVER (PARTITION BY event_type), 6) AS psi_total
FROM terms
"""


# --------------------------------------------------------------------------
# Feature-eng pack #21: corpus association — mutual information
# --------------------------------------------------------------------------


def q_mutual_info(spark, sf_dir):
    """Mutual information between ``lang`` and ``source`` over the
    documents table — the categorical-association audit that catches
    a corpus whose language mix is secretly a proxy for one source
    (a leakage/confound screen before per-lang models are trained).

    Per-cell PMI ``ln(n_ls * N / (n_l * n_s))`` takes ln of an exact
    integer ratio; the MI total is a window sum over the tiny
    lang x source cell table. One hash agg over raw docs + two
    broadcast marginal joins — scale-right."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ml = cells.groupBy("lang").agg(F.sum("n").alias("n_l"))
    ms = cells.groupBy("source").agg(F.sum("n").alias("n_s"))
    tot = cells.agg(F.sum("n").alias("n_all"))
    pmi = F.log(
        (F.col("n") * F.col("n_all")).cast("double")
        / (F.col("n_l") * F.col("n_s")).cast("double")
    )
    wt = Window.partitionBy()
    return (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n",
            F.round(pmi, 6).alias("pmi"),
            (F.col("n") / F.col("n_all").cast("double") * pmi).alias(
                "_t"
            ),
        )
        .select(
            "lang",
            "source",
            "n",
            "pmi",
            F.round("_t", 6).alias("mi_term"),
            F.round(F.sum("_t").over(wt), 6).alias("mi_total"),
        )
    )


SQL_MUTUAL_INFO = """
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
), ml AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS n_l FROM cells GROUP BY 1
), ms AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_s FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all FROM cells
), terms AS (
  SELECT c.lang, c.source, c.n,
         ln(CAST(c.n * n_all AS DOUBLE)
            / CAST(n_l * n_s AS DOUBLE)) AS pmi,
         c.n / CAST(n_all AS DOUBLE)
           * ln(CAST(c.n * n_all AS DOUBLE)
                / CAST(n_l * n_s AS DOUBLE)) AS t
  FROM cells c JOIN ml USING (lang) JOIN ms USING (source)
       CROSS JOIN tot
)
SELECT lang, source, n, round(pmi, 6) AS pmi,
       round(t, 6) AS mi_term,
       round(sum(t) OVER (), 6) AS mi_total
FROM terms
"""


# --------------------------------------------------------------------------
# Feature-eng pack #22: SQL-surface recursion/lateral + JVM simhash
# pairs, exact-moment grouped OLS, Gini concentration, PR-AUC
# --------------------------------------------------------------------------


_BFS_DEPTH = 4  # bounded-depth reachability rounds


def q_sql_recursive(spark, sf_dir):
    """Bounded-depth BFS reachability over the shared deterministic doc
    graph, declared as a Spark 4 ``WITH RECURSIVE`` CTE (the SQL
    recursion surface; DuckDB runs the identical statement). Seeds are
    ``doc_id % 97 = 0``; output is each reachable node's minimum hop
    count within 4 rounds.

    Scale note: the recursive CTE is the declarative twin of the
    engine's iterated-join loops (``q_label_prop``/``q_dedup_clusters``
    do the same frontier expansion with an explicit per-round
    localCheckpoint, which is the shape to prefer when rounds need
    skew salting or per-round dedup); here each recursion step is one
    equi join of the frontier against the 2-out-regular edge list, so
    rows grow 2x per round and depth is hard-bounded — never an
    unbounded transitive closure over a fat web graph."""
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents_rec_v")
    return spark.sql(
        """
        WITH RECURSIVE walk(node, depth) AS (
          SELECT doc_id, 0 FROM documents_rec_v WHERE doc_id % 97 = 0
          UNION ALL
          SELECT e.dst, w.depth + 1
          FROM walk w JOIN (
            SELECT doc_id AS src, (doc_id * 7 + 3) % cnt AS dst
            FROM documents_rec_v
            CROSS JOIN (SELECT count(*) AS cnt FROM documents_rec_v)
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % cnt
            FROM documents_rec_v
            CROSS JOIN (SELECT count(*) AS cnt FROM documents_rec_v)
          ) e ON e.src = w.node
          WHERE w.depth < 4
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(min(depth) AS INT) AS hops
        FROM walk GROUP BY node
        """
    )


SQL_SQL_RECURSIVE = """
WITH RECURSIVE walk(node, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
  UNION ALL
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN (
    SELECT doc_id AS src, (doc_id * 7 + 3) % cnt AS dst
    FROM documents CROSS JOIN (SELECT count(*) AS cnt FROM documents)
    UNION ALL
    SELECT doc_id, (doc_id * 13 + 5) % cnt
    FROM documents CROSS JOIN (SELECT count(*) AS cnt FROM documents)
  ) e ON e.src = w.node
  WHERE w.depth < 4
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(depth) AS INTEGER) AS hops
FROM walk GROUP BY node
"""


def q_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery join (Spark 3.4+/4 SQL surface;
    DuckDB runs the identical statement): for every source, the
    LATERAL derived table re-evaluates an ORDER BY ... LIMIT 3 against
    that source's documents — the per-group top-k declared relationally
    instead of via a rank window.

    Catalyst decorrelates the lateral into a join + per-group limit
    (same physical family as ``q_topk_per_group``'s window), which is
    why the declarative form is scale-safe: there is no per-outer-row
    re-execution at runtime."""
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents_lat_v")
    return spark.sql(
        """
        SELECT s.source, t.doc_id, t.n_chars
        FROM (SELECT DISTINCT source FROM documents_lat_v) s,
        LATERAL (
          SELECT d.doc_id, d.n_chars FROM documents_lat_v d
          WHERE d.source = s.source
          ORDER BY d.n_chars DESC, d.doc_id LIMIT 3
        ) t
        """
    )


SQL_LATERAL_TOPK = """
SELECT s.source, t.doc_id, t.n_chars
FROM (SELECT DISTINCT source FROM documents) s,
LATERAL (
  SELECT d.doc_id, d.n_chars FROM documents d
  WHERE d.source = s.source
  ORDER BY d.n_chars DESC, d.doc_id LIMIT 3
) t
"""


_SIMHASH_BITS = 64  # fingerprint width (two engine-portable 32-bit halves)
_SIMHASH_HAM = 3  # near-dup hamming radius


def q_simhash_pairs(spark, sf_dir):
    """JVM-side simhash near-duplicate PAIR detection — the
    oracle-backed upgrade of the Python-kernel ``q_simhash``
    fingerprint (which stays as the mapInPandas surface demo): 64-bit
    frequency-weighted bit-voting simhash (Manku et al. 2007's web
    width) computed entirely with whole-stage-codegen built-ins (md5
    token hash -> per-(doc, bit) vote agg -> fingerprint reassembly by
    shifted sums), then 4 bands of 16 bits bucket the candidate
    self-join and ``bit_count(a ^ b)`` keeps pairs within hamming
    distance 3 (pigeonhole: <=3 flipped bits across 4 bands leaves at
    least one band exact, so banding loses no true pair).

    The fingerprint is carried as TWO 32-bit halves (fp_hi, fp_lo):
    a single 64-bit value built from hex would overflow signed BIGINT
    under ANSI mode, and two conv(substr(md5)) halves are bit-exact in
    both engines.

    Scale shape: tokens are compacted to (doc, token_hash, weight)
    BEFORE the 64x bit fan-out, both votes and fingerprints are
    map-side-combinable hash aggs, and the pair join is banded LSH —
    shuffle keys are (band, band_value) buckets, never all-pairs.
    16-bit bands (65,536 buckets per band) keep expected candidates
    ~linear in corpus size where the r4 8-bit-band variant went
    quadratic past ~10^4 docs (measured e=1.39 at the r5 10x tier —
    256 buckets saturate, so bucket occupancy and hence candidates
    grew with n^2; this is the LSH knob you widen with the corpus,
    exactly as you widen MinHash band count). Ties (vote sum 0)
    resolve to bit 0 in both engines."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    )
    hashed = (
        toks.select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h_hi"),
            F.conv(F.substring(F.md5(F.col("token")), 9, 8), 16, 10)
            .cast("bigint")
            .alias("h_lo"),
        )
        .groupBy("doc_id", "h_hi", "h_lo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    votes = (
        hashed.select(
            "doc_id",
            "h_hi",
            "h_lo",
            "w",
            F.explode(
                F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))
            ).alias("b"),
        )
        .select(
            "doc_id",
            "b",
            (
                F.col("w")
                * (
                    2
                    * F.expr(
                        "CASE WHEN b < 32 THEN shiftright(h_lo, b) & 1 "
                        "ELSE shiftright(h_hi, b - 32) & 1 END"
                    )
                    - 1
                )
            ).alias("vote"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("v"))
    )
    fp = votes.groupBy("doc_id").agg(
        F.sum(
            F.when(
                (F.col("v") > 0) & (F.col("b") < 32),
                F.expr("shiftleft(1L, b)"),
            ).otherwise(F.lit(0))
        ).alias("fp_lo"),
        F.sum(
            F.when(
                (F.col("v") > 0) & (F.col("b") >= 32),
                F.expr("shiftleft(1L, b - 32)"),
            ).otherwise(F.lit(0))
        ).alias("fp_hi"),
    )
    banded = fp.select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        "band",
        F.expr(
            "CASE WHEN band < 2 THEN shiftright(fp_lo, 16 * band) & 65535 "
            "ELSE shiftright(fp_hi, 16 * (band - 2)) & 65535 END"
        ).alias("band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (
                F.bit_count(
                    F.col("a.fp_lo").bitwiseXOR(F.col("b.fp_lo"))
                )
                + F.bit_count(
                    F.col("a.fp_hi").bitwiseXOR(F.col("b.fp_hi"))
                )
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= _SIMHASH_HAM)
        .distinct()
    )
    return pairs


SQL_SIMHASH_PAIRS = """
WITH hashed AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(token), 1, 8) AS UBIGINT)
              AS BIGINT) AS h_hi,
         CAST(CAST('0x' || substr(md5(token), 9, 8) AS UBIGINT)
              AS BIGINT) AS h_lo,
         CAST(count(*) AS BIGINT) AS w
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  )
  GROUP BY 1, 2, 3
), votes AS (
  SELECT doc_id, b.b,
         CAST(sum(w * (2 * (CASE WHEN b.b < 32 THEN (h_lo >> b.b)
                                 ELSE (h_hi >> (b.b - 32)) END & 1)
                        - 1)) AS BIGINT) AS v
  FROM hashed, range(0, 64) b(b)
  GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 AND b < 32
                       THEN (1::BIGINT << b) ELSE 0 END)
              AS BIGINT) AS fp_lo,
         CAST(sum(CASE WHEN v > 0 AND b >= 32
                       THEN (1::BIGINT << (b - 32)) ELSE 0 END)
              AS BIGINT) AS fp_hi
  FROM votes GROUP BY 1
), banded AS (
  SELECT doc_id, fp_lo, fp_hi, band.band,
         CASE WHEN band.band < 2
              THEN (fp_lo >> (16 * band.band)) & 65535
              ELSE (fp_hi >> (16 * (band.band - 2))) & 65535
         END AS band_val
  FROM fp, range(0, 4) band(band)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp_lo, b.fp_lo))
            + bit_count(xor(a.fp_hi, b.fp_hi)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp_lo, b.fp_lo))
      + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3
"""


def q_grouped_ols(spark, sf_dir):
    """Per-group closed-form OLS regression (value on day-of-month per
    event_type) from EXACT integer moments — the distributed
    normal-equations recipe: one map-side-combinable hash agg collapses
    the raw stream to six sums per group (n, Sx, Sy, Sxx, Sxy, Syy
    with y pre-scaled to integer ten-thousandths), and slope /
    intercept / R^2 are computed by cross-multiplied DECIMAL(38,0)
    arithmetic with exactly one double division each at the very end —
    so the fit is bit-identical regardless of partitioning, cluster
    size, or engine (a naive avg-based formula would accumulate
    association-order-dependent float error)."""
    ev = _t(spark, sf_dir, "events")
    m = (
        ev.select(
            "event_type",
            F.dayofmonth("ts").cast("bigint").alias("x"),
            F.round(F.col("value") * 10000)
            .cast("bigint")
            .alias("y"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * dec("sxy") - dec("sx") * dec("sy")).alias("num")
    den = (dec("n") * dec("sxx") - dec("sx") * dec("sx")).alias("den")
    syy_c = (dec("n") * dec("syy") - dec("sy") * dec("sy")).alias("syy_c")
    t = m.select("event_type", "n", "sx", "sy", num, den, syy_c)
    return t.select(
        "event_type",
        "n",
        F.round(
            F.col("num").cast("double")
            / (F.col("den").cast("double") * 10000.0),
            6,
        ).alias("slope"),
        F.round(
            (
                F.col("sy").cast("decimal(38,0)") * F.col("den")
                - F.col("num") * F.col("sx").cast("decimal(38,0)")
            ).cast("double")
            / (
                F.col("n").cast("double")
                * F.col("den").cast("double")
                * 10000.0
            ),
            6,
        ).alias("intercept"),
        F.round(
            (F.col("num") * F.col("num")).cast("double")
            / (F.col("den") * F.col("syy_c")).cast("double"),
            6,
        ).alias("r2"),
    )


SQL_GROUPED_OLS = """
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM (
    SELECT event_type, CAST(day(ts) AS BIGINT) AS x,
           CAST(round(value * 10000) AS BIGINT) AS y
    FROM events
  )
  GROUP BY 1
), t AS (
  SELECT event_type, n, sx, sy,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS syy_c
  FROM m
)
SELECT event_type, n,
       round(CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 10000.0),
             6) AS slope,
       round(CAST(CAST(sy AS HUGEINT) * den - num * sx AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(den AS DOUBLE) * 10000.0),
             6) AS intercept,
       round(CAST(num * num AS DOUBLE) / CAST(den * syy_c AS DOUBLE),
             6) AS r2
FROM t
"""


def q_gini_skew(spark, sf_dir):
    """Gini concentration coefficient of the per-user event-count
    distribution, per event_type — the single-number skew diagnostic
    that quantifies what ``q_skew_report`` itemizes (Gini near 0 =
    uniform keys, near 1 = one hot key owns the traffic; it feeds the
    decision to salt).

    Scale shape: raw events collapse to a compacted (type, user, n)
    count table first (map-side combine), the rank window runs over
    compacted counts only, and the Gini numerator ``2*sum(i*n_i) -
    (N+1)*sum(n)`` stays INTEGER until one final double division —
    engine- and partitioning-exact."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("c", "user_id")
    ranked = counts.withColumn(
        "i", F.row_number().over(w).cast("bigint")
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("c").alias("total_events"),
            F.sum(F.col("i") * F.col("c")).alias("t"),
        )
        .select(
            "event_type",
            "n_users",
            "total_events",
            F.round(
                (
                    2 * F.col("t")
                    - (F.col("n_users") + 1) * F.col("total_events")
                ).cast("double")
                / (F.col("n_users") * F.col("total_events")).cast(
                    "double"
                ),
                6,
            ).alias("gini"),
        )
    )


SQL_GINI_SKEW = """
WITH counts AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, c,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY c, user_id) AS BIGINT) AS i
  FROM counts
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(c) AS BIGINT) AS total_events,
       round(CAST(2 * sum(i * c) - (count(*) + 1) * sum(c) AS DOUBLE)
             / CAST(count(*) * sum(c) AS DOUBLE), 6) AS gini
FROM ranked GROUP BY 1
"""


def q_pr_auc(spark, sf_dir):
    """Per-day average precision (PR-AUC) of ``value`` separating
    purchase (positive) from click (negative) events — the rank
    statistic for imbalanced labels, where ROC AUC flatters weak
    rankers.

    The distributed recipe: the stream collapses to a per-(day,
    value) pos/neg histogram, the ordered window runs over DISTINCT
    values (descending — ties form ONE group evaluated at the group's
    closing rank, a fixed deterministic tie convention), and each
    group's precision term is fixed-pointed to an integer billionth
    (`floor(pos*cum_pos*1e9/cum_n + 0.5)` — exact integer inputs, one
    correctly-rounded IEEE divide) so the cross-group sum is
    association-order-independent; one double division per day at the
    end."""
    ev = _t(spark, sf_dir, "events")
    pv = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.dayofmonth("ts").cast("int").alias("day"),
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("p"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("ng"),
        )
        .groupBy("day", "v")
        .agg(
            F.sum("p").cast("bigint").alias("pos_at"),
            F.sum("ng").cast("bigint").alias("neg_at"),
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("v").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pv.select(
        "day",
        "pos_at",
        (F.sum("pos_at").over(w)).alias("cum_pos"),
        (F.sum(F.col("pos_at") + F.col("neg_at")).over(w)).alias("cum_n"),
    )
    terms = cum.select(
        "day",
        "pos_at",
        F.floor(
            (F.col("pos_at") * F.col("cum_pos")).cast("double")
            * 1000000000.0
            / F.col("cum_n").cast("double")
            + 0.5
        )
        .cast("bigint")
        .alias("term"),
    )
    tot = pv.groupBy("day").agg(
        F.sum("pos_at").alias("n_pos"), F.sum("neg_at").alias("n_neg")
    )
    return (
        terms.groupBy("day")
        .agg(F.sum("term").alias("t"))
        .join(F.broadcast(tot), "day")
        .select(
            "day",
            "n_pos",
            "n_neg",
            F.round(
                F.col("t").cast("double")
                / (1000000000.0 * F.col("n_pos").cast("double")),
                6,
            ).alias("avg_precision"),
        )
    )


SQL_PR_AUC = """
WITH pv AS (
  SELECT CAST(day(ts) AS INTEGER) AS day, value AS v,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos_at,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS neg_at
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY 1, 2
), cum AS (
  SELECT day, pos_at,
         CAST(sum(pos_at) OVER (PARTITION BY day ORDER BY v DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_pos,
         CAST(sum(pos_at + neg_at)
              OVER (PARTITION BY day ORDER BY v DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS cum_n
  FROM pv
), terms AS (
  SELECT day,
         CAST(floor(CAST(pos_at * cum_pos AS DOUBLE) * 1000000000.0
                    / CAST(cum_n AS DOUBLE) + 0.5) AS BIGINT) AS term
  FROM cum
), tot AS (
  SELECT day, CAST(sum(pos_at) AS BIGINT) AS n_pos,
         CAST(sum(neg_at) AS BIGINT) AS n_neg
  FROM pv GROUP BY day
)
SELECT t.day, tot.n_pos, tot.n_neg,
       round(CAST(sum(term) AS DOUBLE)
             / (1000000000.0 * CAST(tot.n_pos AS DOUBLE)), 6)
         AS avg_precision
FROM terms t JOIN tot ON t.day = tot.day
GROUP BY t.day, tot.n_pos, tot.n_neg
"""
