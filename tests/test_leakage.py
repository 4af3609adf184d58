"""Zero-temporal-leakage property tests (BASELINE.json:6; SURVEY.md
§5.2.3): mutating every row with warc_ts > t0 must leave (a) feature
rows at ts <= t0 bit-unchanged and (b) as-of results for probes at
ts <= t0 bit-unchanged — no feature may read the future."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlfe.asof import asof_join
from crawlfe.features import featurize
from crawlfe.synth import SynthConfig, gen_pages_pdf

CFG = SynthConfig(n_urls=80)
T0 = pd.Timestamp("2024-02-01")


@pytest.fixture(scope="module")
def frames(spark):
    pdf = gen_pages_pdf(CFG, 0, CFG.n_urls)
    mut = pdf.copy()
    future = mut["warc_ts"] > T0
    assert future.any() and (~future).any(), "fixture needs both halves"
    # scramble the future: different html/text entirely
    mut.loc[future, "html"] = mut.loc[future, "html"].map(
        lambda b: b"<html><body><p>SCRAMBLED " + b[::-1][:50] + b"</p></body></html>"
    )
    mut.loc[future, "text"] = "SCRAMBLED"
    orig = spark.createDataFrame(pdf)
    mutated = spark.createDataFrame(mut)
    return orig, mutated, future


def _feat_pdf(df):
    return (
        featurize(df, use_html=True)
        .toPandas()
        .sort_values(["url", "warc_ts"], ignore_index=True)
    )


def test_past_features_unchanged(spark, frames):
    orig, mutated, _ = frames
    a = _feat_pdf(orig)
    b = _feat_pdf(mutated)
    past_a = a[a["warc_ts"] <= T0].reset_index(drop=True)
    past_b = b[b["warc_ts"] <= T0].reset_index(drop=True)
    assert len(past_a) == len(past_b) and len(past_a) > 0
    assert (past_a["text_sha256"] == past_b["text_sha256"]).all()
    assert np.array_equal(
        np.stack(past_a["feat"].to_numpy()),
        np.stack(past_b["feat"].to_numpy()),
    )


@pytest.mark.parametrize(
    "strategy,salt_k",
    [("range_scan", 1), ("union_window", 1), ("range_scan", 4),
     ("union_window", 4)],
    ids=["range_scan", "union_window", "range_scan-salted",
         "union_window-salted"],
)
def test_asof_results_unchanged_for_past_probes(
    spark, frames, strategy, salt_k
):
    orig, mutated, _ = frames
    grid = (
        orig.select("url")
        .distinct()
        .select("url", F.lit(T0).cast("timestamp_ntz").alias("join_ts"))
    )

    def run(src):
        feats = featurize(src, use_html=True).select(
            "url", "warc_ts", "text_sha256"
        )
        return (
            asof_join(
                grid, feats, key="url", ts_probe="join_ts",
                ts_build="warc_ts", build_cols=["text_sha256"],
                strategy=strategy, salt_k=salt_k,
            )
            .toPandas()
            .sort_values("url", ignore_index=True)
        )

    a, b = run(orig), run(mutated)
    assert (a["warc_ts"].isna() == b["warc_ts"].isna()).all()
    m = ~a["warc_ts"].isna()
    assert (
        a.loc[m, "text_sha256"].to_numpy()
        == b.loc[m, "text_sha256"].to_numpy()
    ).all()
    # and every matched snapshot is <= the probe ts (the invariant itself)
    assert (
        a.loc[m, "warc_ts"].astype("datetime64[us]") <= T0.to_datetime64()
    ).all()
