"""Skew-parity test (SURVEY.md §5.2.4; BASELINE.json:6 salted range
partitioning): on a hot-domain table (one domain owning ~50% of rows),
the salted as-of plan must produce byte-identical results to the
unsalted plan — salting is a physical rewrite, never a semantic one."""

import pytest

from crawlfe.asof import asof_join
from crawlfe.features import featurize
from crawlfe.synth import SynthConfig, gen_pages_pdf, query_grid_pdf, synth_pages

CFG_HOT = SynthConfig(n_urls=100, hot_frac=0.5)


@pytest.fixture(scope="module")
def skew_fixtures(spark):
    pdf = gen_pages_pdf(CFG_HOT, 0, CFG_HOT.n_urls)
    hot_share = pdf["url"].str.contains("hot.example.com").mean()
    assert hot_share > 0.3, f"fixture not skewed enough: {hot_share}"
    feats = featurize(synth_pages(spark, CFG_HOT), use_html=True).select(
        "url", "warc_ts", "text_sha256"
    )
    grid = spark.createDataFrame(query_grid_pdf(CFG_HOT, pdf))
    return grid, feats


def _run(grid, feats, salt_k):
    return (
        asof_join(
            grid, feats, key="url", ts_probe="join_ts",
            ts_build="warc_ts", build_cols=["text_sha256"],
            salt_k=salt_k,
        )
        .toPandas()
        .sort_values(["url", "join_ts"], ignore_index=True)
    )


@pytest.mark.parametrize("salt_k", [4, 8])
def test_salted_equals_unsalted(spark, skew_fixtures, salt_k):
    grid, feats = skew_fixtures
    a = _run(grid, feats, 1)
    b = _run(grid, feats, salt_k)
    assert len(a) == len(b)
    assert (a["url"] == b["url"]).all()
    assert (a["warc_ts"].isna() == b["warc_ts"].isna()).all()
    m = ~a["warc_ts"].isna()
    assert (
        a.loc[m, "warc_ts"].astype("datetime64[us]").to_numpy()
        == b.loc[m, "warc_ts"].astype("datetime64[us]").to_numpy()
    ).all()
    assert (
        a.loc[m, "text_sha256"].to_numpy()
        == b.loc[m, "text_sha256"].to_numpy()
    ).all()


def test_salt_spreads_probe_rows(spark, skew_fixtures):
    """Physical effect: with salt K, a hot url's probes land in K
    distinct salts (build replicated to each)."""
    from pyspark.sql import functions as F

    grid, _ = skew_fixtures
    hot = grid.where(F.col("url").contains("hot.example.com"))
    K = 4
    buckets = (
        hot.select(
            F.pmod(F.xxhash64("join_ts"), F.lit(K)).alias("salt")
        )
        .distinct()
        .count()
    )
    assert buckets > 1
