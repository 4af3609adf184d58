"""Extractor/featurizer parity vs the single-node oracle (SURVEY.md
§5.2.1): byte-identical text per url, allclose feature vectors at every
url×warc_ts — the BASELINE.json:2 acceptance gate — plus invariance to
partitioning and Arrow batch size (featurizers must be row-local)."""

import numpy as np
import pytest

from crawlfe.features import featurize
from crawlfe.oracle import assert_feature_parity, oracle_features
from crawlfe.synth import SynthConfig, gen_pages_pdf, synth_pages
from crawlfe.textfeat import FEAT_DIM, featurize_one

CFG = SynthConfig(n_urls=150)


@pytest.fixture(scope="module")
def oracle_pdf():
    return gen_pages_pdf(CFG, 0, CFG.n_urls)


def test_synth_bit_identical(spark, oracle_pdf):
    spdf = (
        synth_pages(spark, CFG, n_partitions=7)
        .toPandas()
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    o = oracle_pdf.sort_values(["url", "warc_ts"], ignore_index=True)
    assert len(spdf) == len(o)
    assert (spdf["url"] == o["url"]).all()
    assert (spdf["warc_ts"].to_numpy() == o["warc_ts"].to_numpy()).all()
    assert all(bytes(a) == bytes(b) for a, b in zip(spdf["html"], o["html"]))
    assert (spdf["text"] == o["text"]).all()
    assert (spdf["lang"] == o["lang"]).all()


def test_feature_parity_allclose(spark, oracle_pdf):
    pages = synth_pages(spark, CFG)
    spdf = featurize(pages, use_html=True, include_text=True).toPandas()
    assert_feature_parity(spdf, oracle_features(oracle_pdf))


def test_parity_invariant_to_partitioning(spark, oracle_pdf):
    """Row-local featurizers: results identical under 1 vs 13 partitions
    (SURVEY.md §7 hard-part #3 — no batch-composition dependence)."""
    a = (
        featurize(synth_pages(spark, CFG, n_partitions=1))
        .toPandas()
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    b = (
        featurize(synth_pages(spark, CFG, n_partitions=13))
        .toPandas()
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )
    assert (a["text_sha256"] == b["text_sha256"]).all()
    assert np.array_equal(
        np.stack(a["feat"].to_numpy()), np.stack(b["feat"].to_numpy())
    )


def test_feature_dim_and_profile_properties():
    v = featurize_one("hello world, this is a test of the featurizer")
    assert v.shape == (FEAT_DIM,)
    profile = v[:64]
    assert profile.sum() == pytest.approx(1.0)
    assert (profile >= 0).all()
    assert featurize_one("").shape == (FEAT_DIM,)
    assert np.array_equal(featurize_one("xy"), featurize_one("xy"))


def test_determinism_two_runs(spark):
    """SURVEY.md §5.2.6: same seed, two independent distributed runs →
    identical feature bytes."""
    r1 = (
        featurize(synth_pages(spark, CFG, n_partitions=5))
        .toPandas().sort_values(["url", "warc_ts"], ignore_index=True)
    )
    r2 = (
        featurize(synth_pages(spark, CFG, n_partitions=9))
        .toPandas().sort_values(["url", "warc_ts"], ignore_index=True)
    )
    assert (r1["text_sha256"] == r2["text_sha256"]).all()
    assert np.array_equal(
        np.stack(r1["feat"].to_numpy()), np.stack(r2["feat"].to_numpy())
    )


def test_documents_featurizer_matches_oracle(spark, sf_dir):
    """Real-string-data parity on the driver documents table."""
    from crawlfe.queries import q_featurize_documents
    from crawlfe.textfeat import featurize_batch

    spdf = (
        q_featurize_documents(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    want = featurize_batch(list(docs["text"]))
    got = np.stack(spdf["feat"].to_numpy())
    assert np.allclose(got, want, rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("use_html", [True, False], ids=["html", "text"])
def test_null_source_cell_featurizes_as_empty_text(spark, use_html):
    """A null html (or, with use_html=False, a null text) cell gives the
    empty-text feature vector and sha256(""); the other rows of the same
    Arrow batch keep their own values."""
    import datetime as dt

    from crawlfe.textfeat import sha256_hex

    ts = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [("u/0", ts, None, None), ("u/1", ts, b"<p>hi there</p>", "hi there"),
         ("u/2", ts, None, None)],
        "url string, warc_ts timestamp_ntz, html binary, text string",
    )
    got = (
        featurize(pages, use_html=use_html, include_text=True)
        .toPandas().sort_values("url", ignore_index=True)
    )
    assert list(got["text"]) == ["", "hi there", ""]
    assert list(got["text_sha256"]) == [
        sha256_hex(""), sha256_hex("hi there"), sha256_hex("")
    ]
    want = np.stack([featurize_one(t) for t in got["text"]])
    assert np.allclose(np.stack(got["feat"].to_numpy()), want,
                       rtol=1e-9, atol=1e-12)
