"""Physical-plan regression tests (SURVEY.md §4): the optimizations the
100 TB design depends on must be visible in the executed plan —
column pruning of the html binary, parquet filter pushdown, broadcast
join selection, one exchange and no Python in every as-of shape,
and whole-stage codegen on the JVM paths."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from crawlfe.asof import asof_join
from crawlfe.features import featurize
from crawlfe.pipeline import feature_pipeline
from crawlfe.synth import SynthConfig, synth_pages


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "pages")
    synth_pages(spark, SynthConfig(n_urls=150), n_partitions=4).write.parquet(d)
    return d


def test_join_stage_never_reads_html(spark, pages_path, tmp_path):
    """Production shape: featurize writes the features table (the ONLY
    stage that touches the html binary), the join stage consumes the
    table. The join-stage plan must contain zero html scans, and its
    pages scan must be pruned to (url, warc_ts)."""
    pages = spark.read.parquet(pages_path)
    feats_path = str(tmp_path / "features")
    featurize(pages, use_html=True).write.parquet(feats_path)

    feats = spark.read.parquet(feats_path)
    probe = pages.select(
        "url", (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("join_ts")
    )
    out = feature_pipeline(feats, probe, session_gap_s=86400)
    plan = plan_of(out)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    assert not [s for s in schemas if "html" in s], schemas
    # the probe-side pages scan carries only the two slim columns
    assert any(
        set(c.split(":")[0] for c in s.split(",")) == {"url", "warc_ts"}
        for s in schemas
    ), schemas


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_discount") > 0.05).select("l_orderkey", "l_discount")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_discount), GreaterThan(l_discount,0.05)" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) == {"l_orderkey", "l_discount"}


def test_broadcast_join_selected_for_small_dim(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    q = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).groupBy(
        "p_brand"
    ).count()
    assert "BroadcastHashJoin" in plan_of(q)


@pytest.mark.parametrize(
    "kw,keys",
    [
        (dict(direction="forward"), ["url"]),
        (dict(direction="nearest"), ["url"]),
        (dict(salt_k=4), ["url", "__salt"]),
    ],
    ids=["forward", "nearest", "salted"],
)
def test_asof_shapes_stay_in_the_jvm(spark, pages_path, kw, keys):
    """Forward, nearest and salted as-of run on the same JVM window
    carry as the backward default: no Python operator anywhere, and
    under ``range_scan`` the only exchange is one range partitioning on
    the key (plus the salt when salted), which the carries reuse."""
    pages = spark.read.parquet(pages_path)
    probe = pages.select(
        "url", (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("join_ts")
    )
    build = pages.select("url", "warc_ts", F.col("lang").alias("b_lang"))
    plan = plan_of(asof_join(probe, build, build_cols=["b_lang"],
                             strategy="range_scan", **kw))
    for op in ("FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
               "ArrowEvalPython"):
        assert op not in plan, plan
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert len(exchanges) == 1, plan
    kind, cols = exchanges[0]
    assert kind == "rangepartitioning", plan
    assert re.findall(r"(\w+)#\d+", cols) == keys, plan


def test_default_pipeline_is_one_hash_exchange(spark, pages_path):
    """feature_pipeline's default runs lag/lead, sessions and the as-of
    on one spine: featurize is the only Python in the plan and runs
    once, the fat payload crosses exactly one exchange after it, a hash
    partitioning on url, and one Sort under it serves both Windows (the
    build-only lag/lead, then the carry and the running sums)."""
    pages = spark.read.parquet(pages_path)
    probe = pages.select(
        "url", (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("join_ts")
    )
    plan = plan_of(feature_pipeline(featurize(pages, use_html=True), probe))
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    exchanges = [
        (kind, cols.split("#")[0])
        for kind, cols in re.findall(r"Exchange (\w+)\(([^,)]*)", plan)
    ]
    assert exchanges == [("hashpartitioning", "url")], plan
    assert plan.index("Exchange") < plan.index("MapInArrow"), plan
    above = plan.split("Exchange hashpartitioning", 1)[0]
    assert above.count("Window [") == 2, above
    assert above.count("Sort [") == 1, above
    windows = above.split("Window [")
    assert "lag(" in windows[2] and "lead(" in windows[2], above
    assert "last(" in windows[1] and "sum(" in windows[1], above


@pytest.mark.parametrize("include_text", [False, True])
def test_featurize_returns_text_only_on_request(spark, pages_path,
                                                include_text):
    """The featurize MapInArrow's output attributes carry ``text`` only
    when the caller asks for it: otherwise no text crosses the Python
    boundary for the JVM to drop."""
    pages = spark.read.parquet(pages_path)
    plan = plan_of(featurize(pages, include_text=include_text))
    node = next(ln for ln in plan.splitlines() if "MapInArrow" in ln)
    out = re.findall(r"(\w+)#\d+", node.rsplit("[", 1)[1])
    assert ("text" in out) == include_text, node
    assert "text_sha256" in out and "feat" in out, node


def test_wholestage_codegen_on_jvm_paths(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = (
        ev.where(F.col("value") > 10)
        .groupBy("event_type")
        .agg(F.sum("value").alias("s"))
    )
    q.collect()  # AQE reveals codegen spans only in the final plan
    # "*(n)" prefixes mark WholeStageCodegen spans in simpleString
    assert re.search(r"\*\(\d+\) HashAggregate", plan_of(q))


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """BASELINE.json:6 second half of the skew story: AQE skew-join
    splitting. A join keyed almost entirely to one hot key must show
    skew-split sort-merge partitions in the final adaptive plan
    (thresholds lowered to trigger at test scale)."""
    import pandas as pd

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        # 200k rows, 95% on one key; right side small but not broadcast
        left = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": ["hot"] * 190_000
                    + [f"c{i}" for i in range(10_000)],
                    "payload": ["x" * 64] * 200_000,
                }
            )
        )
        right = spark.createDataFrame(
            pd.DataFrame(
                {"k": ["hot"] + [f"c{i}" for i in range(10_000)],
                 "v": range(10_001)}
            )
        )
        j = left.join(right, "k")
        # collect() drives THIS DataFrame's QueryExecution so its
        # adaptive plan finalizes (count() would plan separately)
        assert len(j.collect()) == 200_000
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_eval_rank_stats_plan_shape(spark, sf_dir):
    """eval_rank_stats must broadcast the probe side and reuse ONE hash
    exchange on q_id for both the ranking window and the per-query
    aggregate (at 10^12 rows the probe set stays broadcast and the only
    fat shuffle is the q_id repartition)."""
    from crawlfe.queries import q_eval_rank_stats

    df = q_eval_rank_stats(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    # exactly one fat hashpartitioning exchange on q_id; the final
    # global aggregate adds only a SinglePartition exchange
    fat = re.findall(r"Exchange hashpartitioning\(q_id[^)]*\)", plan)
    assert len(fat) == 1, plan


def test_tpch_q6_full_predicate_pushdown(spark, sf_dir):
    """Every Q6 predicate (shipdate range, discount band, quantity cap)
    must reach the parquet scan as a pushed filter — the row-group
    pruning the 100 TB scan depends on."""
    from crawlfe.queries import q_tpch_q6

    # the AQE executedPlan string stops at the first unmaterialized
    # stage; the formatted explain always prints the scan node
    df = q_tpch_q6(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1), pushed.group(1)


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """The tiny eval-shingle side must come in as a broadcast hash
    join (no shuffled sort-merge of the fat corpus side against it,
    and never a cartesian product)."""
    from crawlfe.queries import q_contamination

    plan = plan_of(q_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_feature_hashing_partial_agg(spark, sf_dir):
    """The hashing-trick count must map-side combine: a HashAggregate
    BELOW the exchange (partial) and one above (final) — one shuffle
    of pre-reduced (doc, bucket) partials, not raw tokens."""
    from crawlfe.queries import q_feature_hashing

    plan = plan_of(q_feature_hashing(spark, sf_dir))
    pre_exchange = plan.split("Exchange", 1)[1]
    assert "HashAggregate" in pre_exchange, plan


def test_target_encode_single_shuffle(spark, sf_dir):
    """The LOO encoder is one hash exchange + sort + window — no
    second shuffle, no join."""
    from crawlfe.queries import q_target_encode_loo

    plan = plan_of(q_target_encode_loo(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan  # hash + AQE read at most
    assert "Join" not in plan


def test_tfidf_topk_partial_rank_limit(spark, sf_dir):
    """The top-5 window must carry Spark's WindowGroupLimit partial
    pass (rank-limit pushdown BEFORE the doc_id shuffle — at 100 TB
    this is the difference between shuffling 5 rows/doc and shuffling
    the whole scored token table), and the one-row corpus total must
    arrive by broadcast, never a shuffle."""
    from crawlfe.queries import q_tfidf_topk

    plan = plan_of(q_tfidf_topk(spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2, plan  # Partial + Final
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total
    assert "CartesianProduct" not in plan


def test_pii_redact_is_narrow(spark, sf_dir):
    """Redaction is a pure projection: no exchange, no join, and the
    scan must prune to (doc_id, text)."""
    from crawlfe.queries import q_pii_redact

    plan = plan_of(q_pii_redact(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_tpch_q1_partial_agg_and_pushdown(spark, sf_dir):
    """Q1 must do map-side partial aggregation (two HashAggregates
    around ONE exchange carrying only the collapsed groups — at 100 TB
    the shuffle is kilobytes) and push the shipdate filter to the
    parquet scan."""
    from crawlfe.queries import q_tpch_q1

    plan = plan_of(q_tpch_q1(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_runtime_bloom_filter_on_selective_fact_join(spark, sf_dir):
    """When a dim is too big to broadcast (forced here by disabling
    broadcast), Catalyst must inject a runtime bloom filter from the
    selective dim side into the fact scan (`might_contain` on
    l_orderkey fed by a bloom_filter_agg subquery) — at 100 TB this
    prunes fact rows BEFORE the shuffle, which is the difference
    between shuffling the whole fact table and shuffling the ~5% that
    can join. The engine leaves the (default-on) injection thresholds
    alone; this pins that our plans stay eligible for it."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_tpch_q4_semi_join_prunes_fact(spark, sf_dir):
    """Q4's EXISTS compiles to a LEFT-SEMI hash join whose lineitem
    scan reads ONLY (l_orderkey, l_discount) with the discount filter
    pushed — the semi side never materializes payload columns, which
    at 100 TB is the difference between shuffling a 2-column key set
    and the whole fact table."""
    from crawlfe.queries import q_tpch_q4

    df = q_tpch_q4(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(
        set(c.split(":")[0] for c in s.split(","))
        == {"l_orderkey", "l_discount"}
        for s in schemas
    ), schemas


def test_tpch_q14_broadcast_and_pushdown(spark, sf_dir):
    """Q14: the part dim broadcasts (no fact shuffle for the join) and
    both shipdate range bounds reach the lineitem scan."""
    from crawlfe.queries import q_tpch_q14

    df = q_tpch_q14(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "GreaterThanOrEqual(l_shipdate" in pushed, pushed
    assert "LessThan(l_shipdate" in pushed, pushed


def test_scd2_single_exchange(spark, sf_dir):
    """SCD2 interval derivation is ONE hash exchange on the entity key
    (the lead window); no second shuffle may appear."""
    from crawlfe.queries import q_scd2_intervals

    plan = plan_of(q_scd2_intervals(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_snapshot_diff_reuses_window_partitioning(spark, sf_dir):
    """The per-entity re-aggregation after the lag window must reuse
    the window stage's hashpartitioning(user_id) — exactly one
    exchange in the whole plan, or the 100 TB job shuffles the
    snapshot history twice."""
    from crawlfe.queries import q_snapshot_diff

    plan = plan_of(q_snapshot_diff(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dedup_paragraph_no_cartesian_two_exchanges(spark, sf_dir):
    """Chunk dedup = explode -> window on the chunk hash -> re-agg by
    doc: exactly two hash exchanges (h, then doc_id), never an
    all-pairs join."""
    from crawlfe.queries import q_dedup_paragraph

    plan = plan_of(q_dedup_paragraph(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_pit_features_one_scan_per_feature_table(spark, sf_dir):
    """The chained point-in-time join reads each feature table once
    and never degenerates to a cartesian candidate join."""
    from crawlfe.queries import q_pit_features

    plan = plan_of(q_pit_features(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_normalize_and_zorder_no_shuffle(spark, sf_dir):
    """URL canonicalization and the z-order index are pure narrow
    projections — zero exchanges at any scale."""
    from crawlfe.queries import q_url_normalize, q_zorder

    for q in (q_url_normalize, q_zorder):
        plan = plan_of(q(spark, sf_dir))
        assert "Exchange" not in plan, plan
        # "*(1)" is the whole-stage-codegen stage marker in the
        # executedPlan string (the literal node name only appears in
        # formatted explain output)
        assert "*(1) Project" in plan, plan


def test_quantize_embed_no_shuffle(spark, sf_dir):
    """Int8 quantization is per-row higher-order array work — zero
    exchanges; the scan must prune to the three read columns."""
    from crawlfe.queries import q_quantize_embed

    plan = plan_of(q_quantize_embed(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_temporal_split_single_exchange(spark, sf_dir):
    """The per-entity holdout split costs exactly one window shuffle."""
    from crawlfe.queries import q_temporal_split

    plan = plan_of(q_temporal_split(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tpch_q16_broadcasts_both_dims(spark, sf_dir):
    """Q16: part and the supplier exclusion list both broadcast (the
    fact side shuffles only for the distinct agg); the anti join is a
    broadcast hash join, never a cartesian."""
    from crawlfe.queries import q_tpch_q16

    plan = plan_of(q_tpch_q16(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_hive_partition_pruning(spark, sf_dir, tmp_path):
    """Directory-partitioned layout (the Iceberg-emulation on-disk
    shape) must prune at the PartitionFilters level: a predicate on the
    partition column reads ONLY the matching directory's files — at
    100 TB the difference between listing one partition and scanning
    the table. The pruned scan's data filters stay empty (the partition
    column never reaches row-level filtering)."""
    path = str(tmp_path / "ev_part")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.partitionBy("event_type").parquet(path)

    q = spark.read.parquet(path).where(
        F.col("event_type") == "click"
    ).select("event_id", "value")
    plan = plan_of(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    # count parity with the unpartitioned source
    want = ev.where(F.col("event_type") == "click").count()
    assert q.count() == want


def test_zorder_layout_clusters_2d_predicates(spark, sf_dir, tmp_path):
    """The z-order index must MEASURABLY cluster a 2-d box predicate:
    writing 16 files range-partitioned on zval, the files containing
    matches for (zx-range AND zy-range) must be a strict subset of what
    a hash-random layout touches — this locality is what row-group
    min/max skipping converts into pruned IO at 100 TB."""
    from crawlfe.queries import q_zorder

    z = q_zorder(spark, sf_dir)  # event_id, zx, zy, zval
    zpath, rpath = str(tmp_path / "zsort"), str(tmp_path / "rand")
    z.repartitionByRange(16, "zval").sortWithinPartitions(
        "zval"
    ).write.parquet(zpath)
    z.repartition(16).write.parquet(rpath)

    pred = (
        (F.col("zx") >= 0) & (F.col("zx") < 32)
        & (F.col("zy") >= 0) & (F.col("zy") < 256)
    )
    def files_touched(path):
        return (
            spark.read.parquet(path)
            .where(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    n_match = spark.read.parquet(zpath).where(pred).count()
    assert n_match > 50  # predicate must be non-vacuous
    zf, rf = files_touched(zpath), files_touched(rpath)
    # the box is ~zval < 32*256*2 of a 150x10000 key space: the random
    # layout smears it over (almost) every file, z-order concentrates it
    assert zf < rf, (zf, rf)
    assert zf <= rf // 2, (zf, rf)


def test_session_funnel_single_exchange(spark, sf_dir):
    """The three funnel windows over (user_id, session_id) and the
    final per-session agg must ALL reuse the sessionize stage's
    hashpartitioning(user_id) — user_id alone satisfies the clustering
    of every downstream (user_id, session_id) operator, so the whole
    funnel is ONE exchange. A second exchange would re-shuffle the
    full event stream at 100 TB."""
    from crawlfe.queries import q_session_funnel

    plan = plan_of(q_session_funnel(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_doc_chunk_is_narrow(spark, sf_dir):
    """Chunk fan-out is per-row sequence+explode: zero exchanges, and
    the parquet scan reads only the columns the chunker needs."""
    from crawlfe.queries import q_doc_chunk

    plan = plan_of(q_doc_chunk(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "lang" not in plan.split("ReadSchema", 1)[-1], plan


def test_cdc_upsert_single_exchange_and_pushdown(spark, sf_dir):
    """Last-op-wins upsert apply: one hash exchange on the key (the
    row_number window); the changelog-type filter reaches the scan as
    a pushed In predicate so deleted/op-irrelevant rows never shuffle."""
    from crawlfe.queries import q_cdc_upsert

    plan = plan_of(q_cdc_upsert(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "PushedFilters: [" in plan and "In(event_type" in plan, plan


def test_histogram_partial_agg(spark, sf_dir):
    """Fixed-width histogram: map-side partial HashAggregate before the
    single exchange — the shuffle carries at most groups x 20 rows per
    task regardless of input size."""
    from crawlfe.queries import q_histogram

    plan = plan_of(q_histogram(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" in plan.split("Exchange", 1)[1], plan


def test_pmi_bigrams_no_positional_self_join(spark, sf_dir):
    """PMI collocations must build bigrams with the narrow
    zip_with(slice, slice) explode, never a token-position self-join
    (which would shuffle token-level rows twice at 100 TB): no
    sort-merge join anywhere, no cartesian product, and the two scalar
    totals enter as broadcast 1-row joins."""
    from crawlfe.queries import q_pmi_bigrams

    plan = plan_of(q_pmi_bigrams(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan


def test_retention_cohorts_two_exchanges(spark, sf_dir):
    """Cohort triangle: the per-user min window (one exchange on
    user_id) then the distinct-user agg (one exchange on the cohort
    cell). Anything more re-shuffles the event stream."""
    from crawlfe.queries import q_retention_cohorts

    plan = plan_of(q_retention_cohorts(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_bm25_probe_filter_before_tf_shuffle(spark, sf_dir):
    """BM25: the probe-term IN filter must run between the token
    explode and the (doc, term) tf aggregate, so only matching
    postings reach the shuffle — at 100 TB the tf exchange carries
    |probe terms| postings lists, not the whole token stream. The
    1-row corpus stats enter via broadcast, never a shuffle."""
    from crawlfe.queries import q_bm25_topk

    plan = plan_of(q_bm25_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row corpus stats
    # the probe-term IN filter exists in the plan (post-explode)
    assert " IN (" in plan or " INSET " in plan, plan


def test_join_full_preaggregates_fact_side(spark, sf_dir):
    """Full outer join: the orders fact side must collapse to one row
    per custkey BEFORE the join (partial+final HashAggregate upstream
    of the SortMergeJoin FullOuter) — outer-joining unaggregated fact
    rows would carry the whole table through the join at scale."""
    from crawlfe.queries import q_join_full

    plan = plan_of(q_join_full(spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert "HashAggregate" in plan.split("SortMergeJoin", 1)[-1], plan


def test_oov_rate_vocab_broadcast(spark, sf_dir):
    """OOV rate: the 16-row vocab joins back against the token stream
    as a BROADCAST left join — shuffling the token stream on token to
    meet a 16-row table would be the classic small-dim mistake."""
    from crawlfe.queries import q_oov_rate

    plan = plan_of(q_oov_rate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_lang_balance_sample_narrow_keep_filter(spark, sf_dir):
    """Mixture rebalancing: the per-lang thresholds are a broadcast
    dim; the keep decision itself must be a narrow filter on the fat
    stream (no exchange of the documents table; the only exchanges
    belong to the tiny per-lang count agg)."""
    from crawlfe.queries import q_lang_balance_sample

    plan = plan_of(q_lang_balance_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_winsorize_broadcast_cutoffs(spark, sf_dir):
    """Winsorize: per-type cutoffs broadcast back; the event stream is
    clamped in a pure projection — one agg exchange total, and the
    percentile agg reads only the two columns it needs."""
    from crawlfe.queries import q_winsorize

    plan = plan_of(q_winsorize(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_dedup_crosscorpus_anti_join_on_hash(spark, sf_dir):
    """Cross-corpus dedup: a LeftAnti join on the content hash — text
    bytes never shuffle (the join keys are sha2 digests), and no
    nested-loop/cartesian shape may appear at any scale."""
    from crawlfe.queries import q_dedup_crosscorpus

    plan = plan_of(q_dedup_crosscorpus(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fuzzy_join_blocked_no_cartesian(spark, sf_dir):
    """Blocked fuzzy linkage: candidate pairs come from an equi join
    on the block key — never a cartesian/nested-loop over probes x
    dictionary (the all-pairs edit-distance mistake)."""
    from crawlfe.queries import q_fuzzy_join

    plan = plan_of(q_fuzzy_join(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bpe_pairs_run_on_compacted_vocab(spark, sf_dir):
    """BPE pair counting must scan the compacted vocabulary, not the
    raw token stream: exactly two agg exchanges (word counts, then
    pair counts) and the explode sits between them."""
    from crawlfe.queries import q_bpe_pair_counts

    plan = plan_of(q_bpe_pair_counts(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_skew_report_distributed_topk(spark, sf_dir):
    """The heavy-hitter top-20 must plan TakeOrderedAndProject
    (per-partition top-k + tiny merge), never a single-partition
    window over every per-key count."""
    from crawlfe.queries import q_skew_report

    plan = plan_of(q_skew_report(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_ewma_single_exchange_grouped_kernel(spark, sf_dir):
    """Grouped EWMA: one hash exchange on the key into the Arrow
    grouped-map kernel; the scan reads only the four columns the
    kernel needs (never props/event payload)."""
    from crawlfe.queries import q_ewma

    plan = plan_of(q_ewma(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "props" not in plan.split("ReadSchema", 1)[-1], plan


def test_sql_correlated_subquery_decorrelates(spark, sf_dir):
    """Catalyst must decorrelate the scalar subqueries into aggregate
    + join (one pass over orders per subquery, shared by AQE), never a
    per-outer-row re-execution: no nested-loop/cartesian shape, and
    the per-customer aggregates appear as ordinary HashAggregates."""
    from crawlfe.queries import q_sql_correlated

    plan = plan_of(q_sql_correlated(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_join_range_bucketed_is_equi_not_nested_loop(spark, sf_dir):
    """The keyless interval join must execute as an EQUI join on the
    hour bucket (hash/sort-merge/broadcast-HASH all fine) with the
    range predicate as a residual — never the BroadcastNestedLoopJoin
    that a bare range condition would plan, which at 100 TB scans
    every probe against every interval."""
    from crawlfe.queries import q_join_range_bucketed

    plan = plan_of(q_join_range_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_rolling_active_users_fans_out_compacted_days(spark, sf_dir):
    """WAU day-explode: the 7x fan-out must apply to the per-(user,
    day) DISTINCT table, never raw events — the distinct aggregate
    sits upstream of the Generate (explode), and the report-day max
    enters as a broadcast 1-row table."""
    import re as _re

    from crawlfe.queries import q_rolling_active_users

    plan = plan_of(q_rolling_active_users(spark, sf_dir))
    assert "Generate explode" in plan, plan
    gen_pos = plan.index("Generate explode")
    # a HashAggregate (the distinct) must appear BELOW the explode in
    # the tree (later in the printed plan = upstream child)
    assert "HashAggregate" in plan[gen_pos:], plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row max_day


def test_cumulative_reach_window_over_compacted_days(spark, sf_dir):
    """The cumsum window runs over per-day rows (thousands at any
    scale), fed by two map-side-combined aggs; the raw event stream
    crosses at most the per-user agg exchange."""
    from crawlfe.queries import q_cumulative_reach

    plan = plan_of(q_cumulative_reach(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_chi2_terms_text_never_shuffles(spark, sf_dir):
    """chi2 term selection: the fat text column is consumed by the
    presence explode before any exchange; the per-source and corpus
    totals enter as broadcasts (they are O(sources) and 1 row), so
    the only hash exchanges carry (source, tok) / tok count rows."""
    from crawlfe.queries import q_chi2_terms

    plan = plan_of(q_chi2_terms(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    for ex in __import__("re").findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan
    ):
        assert "text" not in ex, plan


def test_embedding_outliers_centroids_broadcast(spark, sf_dir):
    """Embedding outliers: the O(labels x dims) centroid table joins
    back by BROADCAST — shuffling the full long-form vector stream to
    meet a few-hundred-row centroid table would be the small-dim
    mistake at 100 TB."""
    from crawlfe.queries import q_embedding_outliers

    plan = plan_of(q_embedding_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_token_budget_mix_narrow_window(spark, sf_dir):
    """Token-budget mixing: exactly one exchange (the per-source
    window), and it carries the narrow (doc_id, source, n_toks)
    projection — the text column must be dropped before the shuffle."""
    from crawlfe.queries import q_token_budget_mix

    plan = plan_of(q_token_budget_mix(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for ex in __import__("re").findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan
    ):
        assert "text" not in ex, plan


def test_label_prop_no_cartesian(spark, sf_dir):
    """Label propagation: every round is keyed equi joins + hash aggs;
    no cartesian/nested-loop may appear except the broadcast of the
    1-row node count that defines the deterministic graph."""
    from crawlfe.queries import q_label_prop

    plan = plan_of(q_label_prop(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_curriculum_order_no_global_window(spark, sf_dir):
    """Curriculum ordering must not global-sort the corpus: the
    quartile cutoffs enter as a broadcast 1-row agg and the only
    window partitions by bucket — no empty-key (single-partition)
    window over the documents table."""
    from crawlfe.queries import q_curriculum_order

    plan = plan_of(q_curriculum_order(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row cutoffs
    assert "Exchange SinglePartition" not in plan or "partial" in plan, plan
    assert "hashpartitioning(bucket" in plan, plan


def test_vocab_coverage_topv_heap_cut(spark, sf_dir):
    """The top-V cut must be TakeOrderedAndProject (per-partition heap
    + V-row driver merge), never a full global sort of the token
    counts; the cumsum window then runs over exactly V rows."""
    from crawlfe.queries import q_vocab_coverage

    plan = plan_of(q_vocab_coverage(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_ks_drift_window_over_distinct_values(spark, sf_dir):
    """KS drift: the cumulative window runs over the (event_type,
    value) pre-agg — a HashAggregate must sit upstream (later in the
    printed plan) of the Window, so raw events never hit the sort."""
    from crawlfe.queries import q_ks_drift

    plan = plan_of(q_ks_drift(spark, sf_dir))
    assert "Window" in plan, plan
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], plan


def test_benford_audit_broadcast_totals(spark, sf_dir):
    """Benford audit: per-type totals are a tiny broadcast dim; the
    digit histogram is one hash agg over a narrow projection."""
    from crawlfe.queries import q_benford_audit

    plan = plan_of(q_benford_audit(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_kmeanspp_round_broadcasts_centers(spark, sf_dir):
    """Each k-means++ round joins the long-form vector stream against
    the chosen-center dims by BROADCAST (the center table is
    O(k x dims)); shuffling the full vector stream on idx to meet a
    <=256-row center table would be the small-dim mistake."""
    from crawlfe.queries import _sq_dists_to, _t
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("idx", "val"),
    )
    md = _sq_dists_to(dims, dims.where(F.col("vec_id").isin([0])))
    plan = plan_of(md)
    assert "BroadcastHashJoin" in plan, plan


def test_length_buckets_single_agg_exchange(spark, sf_dir):
    """Length buckets: the quartile cutoffs enter broadcast; besides
    the tiny cutoff agg, the only exchange is the 4-group final agg —
    and no exchange ever carries the text column."""
    from crawlfe.queries import q_length_buckets

    plan = plan_of(q_length_buckets(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row cutoffs
    for ex in __import__("re").findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan
    ):
        assert "text" not in ex, plan


def test_hits_scores_keyed_joins_only(spark, sf_dir):
    """HITS power iteration: every half-step is an edge-list equi
    join + sum-by-key — the Pregel-as-joins layout. No cartesian
    product may appear; the only nested-loop broadcast allowed is
    the 1-row node-count / max-normalizer relations."""
    from crawlfe.queries import q_hits_scores

    plan = plan_of(q_hits_scores(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_link_pred_wedge_join_keyed(spark, sf_dir):
    """Link prediction candidates come from the keyed 2-hop wedge
    join (adjacency self-join on the shared middle node), never an
    all-pairs product; the existing-edge removal is an anti join."""
    from crawlfe.queries import q_link_pred_scores

    plan = plan_of(q_link_pred_scores(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_clustering_coeff_triangle_joins_keyed(spark, sf_dir):
    """Triangle enumeration is two keyed equi joins over the
    undirected edge list (ordered triples a<b<c) — no cartesian,
    and no single-partition exchange over the edge fan-out."""
    from crawlfe.queries import q_clustering_coeff

    plan = plan_of(q_clustering_coeff(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_poisson_bootstrap_single_pass(spark, sf_dir):
    """All 20 bootstrap replicates stream through ONE pass: the
    replicate fan-out is a broadcast of the 20-row reps relation
    (BroadcastNestedLoopJoin is the expected physical op for the
    free cross join), and the only wide exchange is the per-replicate
    hash aggregate — no cartesian product, no sort of raw rows."""
    from crawlfe.queries import q_poisson_bootstrap

    plan = plan_of(q_poisson_bootstrap(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_redirect_chains_all_hops_broadcast(spark, sf_dir):
    """Bounded redirect resolution is 4 chained BROADCAST hash joins
    of the slim (src,dst) map — never a sort-merge or cartesian per
    hop. At 10^12 pages the redirect relation stays the small side by
    construction (two longs per redirect), so the chain resolves with
    zero wide shuffles of the page set."""
    from crawlfe.queries import _REDIR_HOPS, q_redirect_chains

    plan = plan_of(q_redirect_chains(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= _REDIR_HOPS, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_prefix_equi_join_on_block(spark, sf_dir):
    """Truncation dedup must compile to an EQUI join keyed on the
    40-char block hash, with the length inequality and the prefix
    verify as residual predicates INSIDE the join — candidate pairs
    only ever form within a block. A nested-loop/cartesian here would
    be the all-pairs disaster the blocking exists to avoid."""
    from crawlfe.queries import q_dedup_prefix

    plan = plan_of(q_dedup_prefix(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join \[blk", plan), plan


def test_dsir_weights_broadcasts_bucket_dists(spark, sf_dir):
    """DSIR scoring joins the fat token stream against the O(64)-row
    bucket log-ratio relation — that side must BROADCAST; the only
    wide exchange over tokens is the per-doc aggregate. The token
    stream itself must never sort-merge against the tiny dist."""
    from crawlfe.queries import q_dsir_weights

    plan = plan_of(q_dsir_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_one_hot_topk_broadcasts_level_set(spark, sf_dir):
    """Top-k-plus-other folding joins events against the O(K) top-level
    relation: broadcast, never a shuffle of the fat side for the map
    step; the single wide exchange is the (user, feature) aggregate."""
    from crawlfe.queries import q_one_hot_topk

    plan = plan_of(q_one_hot_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_bucketed_no_exchange(spark, sf_dir):
    """The storage-bucketed as-of join (r5 engine-spine surface): both
    catalog tables are written bucketBy(8, bkt), so the cogroup's
    required clustered distribution is satisfied by the SCANS — the
    re-read join plan must contain ZERO Exchange and both scans must
    report Bucketed: true. This is the write-once/join-many layout
    contract a 100 TB features table relies on."""
    from crawlfe.queries.bucketops import _asof_bucketed_df

    df = _asof_bucketed_df(spark, sf_dir)
    df.count()  # materialize so AQE finalizes the plan
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan
