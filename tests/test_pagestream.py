"""Streaming Python data source (synthpages) + state-store readers.

Covers the Spark-4 surfaces added in r4:
  * DataSourceStreamReader (partition-planned, executor-side read)
  * spark.read.format("statestore") / format("state-metadata")

The parity contract mirrors the batch source's: the UNION of all
microbatches must be byte-identical to the batch generator's table
(same pure functions), and a restarted query resumes from the
committed offset with no duplicates (exactly-once at batch
granularity).
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlfe.pagestream import register
from crawlfe.synth import SynthConfig, gen_pages_pdf

N_URLS = 40
MAX_K = 5


@pytest.fixture()
def dirs(tmp_path):
    yield {
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    shutil.rmtree(tmp_path, ignore_errors=True)


def _start(spark, dirs, max_k=MAX_K):
    register(spark)
    stream = (
        spark.readStream.format("synthpages")
        .option("n_urls", N_URLS)
        .option("horizon", max_k)
        .option("n_parts", 3)
        .load()
    )
    return (
        stream.writeStream.format("parquet")
        .option("path", dirs["out"])
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .start()
    )


def test_stream_union_matches_batch_generator(spark, dirs):
    q = _start(spark, dirs)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = (
        spark.read.parquet(dirs["out"])
        .toPandas()
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    # batch twin: urls with <= MAX_K snapshots fully emitted; longer
    # histories truncated at MAX_K (the stream's configured horizon)
    full = gen_pages_pdf(SynthConfig(n_urls=N_URLS), 0, N_URLS)
    full["snapshot_k"] = full.groupby("url").cumcount()
    want = (
        full[full["snapshot_k"] < MAX_K]
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    assert len(got) == len(want)
    assert got["url"].tolist() == want["url"].tolist()
    assert (
        got["warc_ts"].astype("datetime64[us]").tolist()
        == want["warc_ts"].tolist()
    )
    assert [bytes(b) for b in got["html"]] == [
        bytes(b) for b in want["html"]
    ]  # byte-identical payloads
    assert got["text"].tolist() == want["text"].tolist()
    assert got["lang"].tolist() == want["lang"].tolist()
    assert got["snapshot_k"].tolist() == want["snapshot_k"].tolist()
    assert sorted(got["snapshot_k"].unique()) == list(range(MAX_K))


def test_stream_restart_and_grown_horizon_exactly_once(spark, dirs):
    """The growing-crawl replay contract: run to horizon 2, restart at
    the same checkpoint with horizon MAX_K (new fetch waves arrived
    between runs) — the restarted query emits EXACTLY the new waves
    (k=2..MAX_K-1), never re-emitting committed ones; an unchanged
    restart is a clean no-op."""
    q = _start(spark, dirs, max_k=2)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    first = spark.read.parquet(dirs["out"]).toPandas()
    assert sorted(first["snapshot_k"].unique()) == [0, 1]
    n1 = len(first)

    # no-op restart at the same horizon: nothing new
    q2 = _start(spark, dirs, max_k=2)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)
    assert spark.read.parquet(dirs["out"]).count() == n1

    # grown horizon: resumes from the committed offset
    q3 = _start(spark, dirs, max_k=MAX_K)
    q3.processAllAvailable()
    q3.stop()
    q3.awaitTermination(60)
    got = spark.read.parquet(dirs["out"])
    full = gen_pages_pdf(SynthConfig(n_urls=N_URLS), 0, N_URLS)
    full["k"] = full.groupby("url").cumcount()
    assert got.count() == int((full["k"] < MAX_K).sum())
    dup = (
        got.groupBy("url", "warc_ts")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_statestore_reader_exposes_agg_state(spark, dirs):
    """statestore/state-metadata read the checkpoint of a stateful
    query: per-lang running counts over the page stream."""
    from crawlfe.streaming import stream_state, stream_state_metadata

    register(spark)
    stream = (
        spark.readStream.format("synthpages")
        .option("n_urls", N_URLS)
        .option("horizon", 3)
        .load()
    )
    q = (
        stream.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("lang_counts_state")
        .outputMode("complete")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    md = stream_state_metadata(spark, dirs["ckpt"]).toPandas()
    assert "stateStoreSave" in set(md["operatorName"])
    assert int(md["numPartitions"].iloc[0]) > 0

    st = stream_state(spark, dirs["ckpt"]).toPandas()
    got = {
        r["key"]["lang"]: int(r["value"]["count"])
        for _, r in st.iterrows()
    }
    full = gen_pages_pdf(SynthConfig(n_urls=N_URLS), 0, N_URLS)
    full["k"] = full.groupby("url").cumcount()
    want = full[full["k"] < 3].groupby("lang").size().to_dict()
    assert got == want


def test_stream_featurize_over_pagestream_matches_batch(spark, dirs):
    """North-star loop end-to-end: crawl waves arrive on the streaming
    source -> the SAME frozen featurize stage (mapInArrow over html)
    runs incrementally -> parquet sink. Feature rows must be
    byte/bit-identical to batch featurize over the batch twin table
    (row-local featurizers: batch composition can never matter)."""
    from crawlfe.features import featurize
    from crawlfe.synth import PAGES_SCHEMA, synth_pages

    register(spark)
    stream = (
        spark.readStream.format("synthpages")
        .option("n_urls", N_URLS)
        .option("horizon", 3)
        .option("n_parts", 3)
        .load()
        .drop("snapshot_k")
    )
    q = (
        featurize(stream, use_html=True)
        .writeStream.format("parquet")
        .option("path", dirs["out"])
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = (
        spark.read.parquet(dirs["out"])
        .toPandas()
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    batch = synth_pages(spark, SynthConfig(n_urls=N_URLS), n_partitions=4)
    want = featurize(batch, use_html=True).toPandas()
    want["k"] = want.sort_values("warc_ts").groupby("url").cumcount()
    want = (
        want[want["k"] < 3]
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    assert len(got) == len(want)
    assert got["url"].tolist() == want["url"].tolist()
    assert got["text_sha256"].tolist() == want["text_sha256"].tolist()
    for a, b in zip(got["feat"], want["feat"]):
        assert list(a) == list(b)  # bit-identical, not just allclose


def test_stream_asof_serve_matches_batch_asof(spark, tmp_path):
    """Online point-in-time serving parity: probes streamed in (file
    source, two separate batches) and as-of served against the static
    features table must equal the one-shot batch as-of join of the
    same probes — same matches, zero temporal leakage, regardless of
    how probes were micro-batched."""
    from crawlfe.asof import asof_join
    from crawlfe.features import featurize
    from crawlfe.streaming import stream_asof_serve
    from crawlfe.synth import synth_pages

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = synth_pages(spark, SynthConfig(n_urls=N_URLS), n_partitions=4)
    feats = featurize(pages, use_html=True).select(
        "url", "warc_ts", "text_sha256", "feat"
    )
    feats.write.parquet(str(tmp_path / "feats"))
    feats = spark.read.parquet(str(tmp_path / "feats"))

    probes = pages.select(
        "url", F.expr("warc_ts + INTERVAL 1 HOUR").alias("join_ts")
    )
    h1, h2 = probes.randomSplit([0.5, 0.5], seed=7)
    h1.write.parquet(in_dir + "/b1")

    def serve():
        q = stream_asof_serve(
            spark.readStream.schema(probes.schema).parquet(in_dir + "/*"),
            feats,
            out_dir,
            ckpt,
            build_cols=["text_sha256", "feat"],
        )
        q.awaitTermination(120)

    serve()
    h2.write.parquet(in_dir + "/b2")
    serve()  # availableNow restart picks up only the new probe file

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values(["url", "join_ts"], ignore_index=True)
    )
    want = (
        asof_join(
            probes, feats,
            build_cols=["text_sha256", "feat"],
        )
        .toPandas()
        .sort_values(["url", "join_ts"], ignore_index=True)
    )
    assert len(got) == len(want) == probes.count()
    assert got["url"].tolist() == want["url"].tolist()
    assert got["warc_ts"].tolist() == want["warc_ts"].tolist()
    assert got["text_sha256"].tolist() == want["text_sha256"].tolist()
    # zero temporal leakage on the served rows
    m = got["warc_ts"].notna()
    assert (got.loc[m, "warc_ts"] <= got.loc[m, "join_ts"]).all()


def test_batch_read_same_format(spark):
    """The same registered format serves spark.read AND readStream
    (data-source symmetry): a batch read at horizon=MAX_K equals the
    batch generator truncated at MAX_K."""
    register(spark)
    got = (
        spark.read.format("synthpages")
        .option("n_urls", N_URLS)
        .option("horizon", MAX_K)
        .option("n_parts", 3)
        .load()
        .toPandas()
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    full = gen_pages_pdf(SynthConfig(n_urls=N_URLS), 0, N_URLS)
    full["snapshot_k"] = full.groupby("url").cumcount()
    want = (
        full[full["snapshot_k"] < MAX_K]
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    assert len(got) == len(want)
    assert got["url"].tolist() == want["url"].tolist()
    assert [bytes(b) for b in got["html"]] == [
        bytes(b) for b in want["html"]
    ]
    assert got["text"].tolist() == want["text"].tolist()


def test_stream_kmv_matches_batch_sketch(spark, tmp_path):
    """The streaming KMV sketch (per-batch K-smallest -> monoid merge
    across state files) equals the batch sketch of the SAME url set
    EXACTLY — min-wise merge stability, now on the streaming path.
    Replaying a batch (idempotence) cannot change the estimate."""
    import hashlib

    from crawlfe.pagestream import register
    from crawlfe.streaming import kmv_state_estimate, stream_kmv_sink

    register(spark)
    stream = (
        spark.readStream.format("synthpages")
        .option("n_urls", N_URLS)
        .option("horizon", MAX_K)
        .option("n_parts", 3)
        .load()
    )
    state = str(tmp_path / "kmv_state")
    ckpt = str(tmp_path / "kmv_ckpt")
    k = 16
    q = stream_kmv_sink(stream, state, ckpt, key_col="url", k=k)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = kmv_state_estimate(spark, state, k=k)

    full = gen_pages_pdf(SynthConfig(n_urls=N_URLS), 0, N_URLS)
    hashes = sorted(
        int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        for u in set(full["url"])
    )
    if len(hashes) < k:
        want = float(len(hashes))
    else:
        want = (k - 1) * 2.0**60 / hashes[k - 1]
    assert got == want
