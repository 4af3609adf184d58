"""Zero-temporal-leakage property tests (BASELINE.json:6; SURVEY.md
§5.2.3): mutating every row with warc_ts > t0 must leave (a) feature
rows at ts <= t0 bit-unchanged and (b) as-of results for probes at
ts <= t0 bit-unchanged; and (c) inserting or moving build rows later
than every probe of their url must leave ``feature_pipeline``'s output
unchanged — no feature may read the future."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlfe.asof import STRATEGIES, asof_join
from crawlfe.features import featurize
from crawlfe.pipeline import feature_pipeline
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


PIPE_GAP_S = 3600
PIPE_BASE = pd.Timestamp("2024-03-01")
PIPE_SETTINGS = [(s, k) for s in STRATEGIES for k in (1, 4)]


def _pipeline_tables():
    """Probes and three build tables that differ only in rows later
    than every probe of their url. ``base`` gives odd urls two such rows
    (1 and 3 days after the url's last probe); ``inserted`` adds one 2 h
    after the last probe of every url and a 10-day one to odd urls;
    ``moved`` shifts u1's 1-day row to 5 days. Comparing both ways also
    covers dropping the inserted rows."""
    rng = np.random.default_rng(11)
    build, probes, inserted, moved_from = [], [], [], None
    for i in range(12):
        url = f"u{i}"
        gaps = rng.choice([600, PIPE_GAP_S, PIPE_GAP_S + 1, 86400], size=5)
        ts = PIPE_BASE + pd.to_timedelta(np.cumsum(gaps), unit="s")
        probes.append((url, ts[0] - pd.Timedelta(seconds=1)))
        probes += [(url, t + pd.Timedelta(minutes=30)) for t in ts]
        last = probes[-1][1]
        build += [(url, t) for t in ts]
        inserted.append((url, last + pd.Timedelta(hours=2)))
        if i % 2:
            build += [(url, last + pd.Timedelta(days=d)) for d in (1, 3)]
            inserted.append((url, last + pd.Timedelta(days=10)))
            if moved_from is None:
                moved_from = (url, last + pd.Timedelta(days=1))
    moved_to = (moved_from[0], moved_from[1] + pd.Timedelta(days=4))
    tables = {
        "base": build,
        "inserted": build + inserted,
        "moved": [moved_to if r == moved_from else r for r in build],
    }

    def frame(rows, ts_col, payload):
        pdf = pd.DataFrame(rows, columns=["url", ts_col])
        pdf[ts_col] = pdf[ts_col].astype("datetime64[us]")
        if payload:
            pdf["text_sha256"] = pdf["url"] + "@" + pdf[ts_col].astype(str)
            pdf["feat"] = [[t.timestamp(), float(len(u))]
                           for u, t in zip(pdf["url"], pdf[ts_col])]
        return pdf

    return (
        frame(probes, "join_ts", False),
        {name: frame(rows, "warc_ts", True) for name, rows in tables.items()},
    )


@pytest.fixture(
    scope="module", params=PIPE_SETTINGS,
    ids=[f"{s}-{k}" for s, k in PIPE_SETTINGS],
)
def pipeline_outputs(request, spark):
    """feature_pipeline's materialized output for each build table,
    under one (strategy, salt_k) setting."""
    strategy, salt_k = request.param
    probes_pdf, builds = _pipeline_tables()
    probes = spark.createDataFrame(probes_pdf)
    return {
        name: feature_pipeline(
            spark.createDataFrame(pdf), probes, session_gap_s=PIPE_GAP_S,
            strategy=strategy, salt_k=salt_k,
        ).localCheckpoint()
        for name, pdf in builds.items()
    }


def _differing_rows(a, b, cols) -> int:
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def test_pipeline_ignores_future_build_rows(pipeline_outputs):
    base = pipeline_outputs["base"]
    assert base.where("matched").count() > 0
    cols = [c for c in base.columns if c != "lead_gap_s"]
    for name in ("inserted", "moved"):
        assert _differing_rows(base, pipeline_outputs[name], cols) == 0, name


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="ROADMAP direction 1: lead_gap_s is the gap from the matched "
    "row to the url's next build row, which is later than join_ts "
    "whenever the gap is not null",
)
def test_pipeline_lead_gap_ignores_future_build_rows(pipeline_outputs):
    cols = ["url", "join_ts", "lead_gap_s"]
    for name in ("inserted", "moved"):
        assert _differing_rows(
            pipeline_outputs["base"], pipeline_outputs[name], cols
        ) == 0, name
