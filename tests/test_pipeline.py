"""The flagship's temporal half as one unit: ``feature_pipeline`` (lag/lead,
sessions and the as-of on one spine) against the pandas oracles and
against the composition it replaced, ``asof_join(sessionize(
with_lag_lead(f)))``; the featurize UDF runs once per pass; a hot url
stays linear; and ``entry()`` equals its old composition."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlfe.asof import STRATEGIES, asof_join
from crawlfe.features import featurize
from crawlfe.oracle import oracle_asof, oracle_lag_lead, oracle_sessionize
from crawlfe.pipeline import feature_pipeline
from crawlfe.synth import SynthConfig, synth_pages
from crawlfe.windows import sessionize, with_lag_lead

GAP = 3600  # session gap of these tests, in seconds
BASE = pd.Timestamp("2024-01-01")
WIN = ["lag_gap_s", "lead_gap_s", "session_id"]


def _tables() -> tuple[pd.DataFrame, pd.DataFrame]:
    """Build rows (url, warc_ts, text_sha256, feat) and probes (url,
    join_ts). Gaps include exactly ``GAP`` (same session under the ``>``
    rule) and ``GAP + 1`` (a new one); ``dup`` repeats (url, warc_ts)
    rows with equal payloads, since which duplicate a probe gets is
    unspecified; ``ghost`` has probes only; every url with snapshots has
    a probe before its first one, one at each snapshot ts and one in
    each gap."""
    rng = np.random.default_rng(7)
    build, probes = [], set()
    for i in range(40):
        url = f"u{i}"
        gaps = rng.choice([600, GAP, GAP + 1, 3 * GAP, 86400],
                          size=int(rng.integers(1, 15)))
        gaps[0] = int(rng.integers(0, 86400))
        ts = BASE + pd.to_timedelta(np.cumsum(gaps), unit="s")
        for k, t in enumerate(ts):
            build.append((url, t, f"{i}-{k}", [float(i), float(k), rng.random()]))
            probes.add((url, t))
            probes.add((url, t + pd.Timedelta(seconds=int(rng.integers(1, 3 * GAP)))))
        probes.add((url, ts[0] - pd.Timedelta(seconds=1)))
    t = BASE + pd.Timedelta(days=3)
    for k, dt in enumerate([0, GAP, 0, GAP, 2 * GAP + 1, 0]):
        t += pd.Timedelta(seconds=dt)
        build.append(("dup", t, f"dup-{t.value}", [float(t.value), 0.0, 1.0]))
        probes.update({("dup", t), ("dup", t + pd.Timedelta(minutes=1))})
    probes.update({("ghost", BASE), ("ghost", BASE + pd.Timedelta(days=9))})
    b = pd.DataFrame(build, columns=["url", "warc_ts", "text_sha256", "feat"])
    p = pd.DataFrame(sorted(probes), columns=["url", "join_ts"])
    for pdf, c in ((b, "warc_ts"), (p, "join_ts")):
        pdf[c] = pdf[c].astype("datetime64[us]")
    return b, p


@pytest.fixture(scope="module")
def tables(spark):
    b, p = _tables()
    return b, p, spark.createDataFrame(b).cache(), spark.createDataFrame(p).cache()


def _old_pipeline(features, probes, strategy, salt_k):
    """The composition feature_pipeline replaced: a window stage, then
    the as-of over its output."""
    enriched = sessionize(
        with_lag_lead(features, "url", "warc_ts"), "url", "warc_ts", GAP
    )
    return asof_join(
        probes, enriched, build_cols=["text_sha256", "feat", *WIN],
        strategy=strategy, salt_k=salt_k,
    ).withColumn("matched", F.col("warc_ts").isNotNull())


def _assert_matches_oracle(got: pd.DataFrame, want: pd.DataFrame) -> None:
    key = ["url", "join_ts"]
    got = got.sort_values(key, kind="mergesort", ignore_index=True)
    want = want.sort_values(key, kind="mergesort", ignore_index=True)
    assert len(got) == len(want)
    assert (got["url"] == want["url"]).all()
    for c in ("join_ts", "warc_ts"):
        np.testing.assert_array_equal(
            got[c].astype("datetime64[us]").to_numpy(),
            want[c].astype("datetime64[us]").to_numpy(), err_msg=c)
    assert (got["matched"] == want["warc_ts"].notna()).all()
    for c in WIN:
        np.testing.assert_array_equal(
            got[c].to_numpy(float), want[c].to_numpy(float), err_msg=c)
    m = want["warc_ts"].notna().to_numpy()
    assert got["text_sha256"][~m].isna().all()
    assert got["feat"][~m].isna().all()
    assert (got["text_sha256"][m] == want["text_sha256"][m]).all()
    assert [list(v) for v in got["feat"][m]] == list(want["feat"][m])


@pytest.mark.parametrize(
    "strategy,salt_k", [(s, k) for s in STRATEGIES for k in (1, 4)]
)
def test_pipeline_matches_oracle_and_old_composition(
    spark, tables, strategy, salt_k
):
    b_pdf, p_pdf, build, probes = tables
    got = feature_pipeline(build, probes, session_gap_s=GAP,
                           strategy=strategy, salt_k=salt_k)
    want = oracle_asof(
        p_pdf, oracle_sessionize(oracle_lag_lead(b_pdf), gap_seconds=GAP),
        build_cols=["text_sha256", "feat", *WIN],
    )
    got_pdf = got.toPandas()
    _assert_matches_oracle(got_pdf, want)
    # the fixture's edge cases are in it: a match 0 s after its
    # duplicate, a url no probe matches, a gap of exactly GAP
    assert (got_pdf.loc[got_pdf["url"] == "dup", "lag_gap_s"] == 0).any()
    assert not got_pdf.loc[got_pdf["url"] == "ghost", "matched"].any()
    assert (got_pdf["matched"] & (got_pdf["lag_gap_s"] == GAP)).any()

    old = _old_pipeline(build, probes, strategy, salt_k)
    assert got.columns == old.columns
    assert got.exceptAll(old).count() == 0
    assert old.exceptAll(got).count() == 0


def _python_rows(df) -> list[int]:
    """``pythonNumRowsReceived`` of every MapInArrow in the final
    adaptive plan of an executed DataFrame."""
    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            kids = [p.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [p.plan()]
        else:
            seq = p.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        if p.nodeName() == "MapInArrow":
            yield p.metrics().get("pythonNumRowsReceived").get().value()
        for k in kids:
            yield from walk(k)

    return list(walk(df._jdf.queryExecution().executedPlan()))


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory, spark):
    d = str(tmp_path_factory.mktemp("pipeline") / "pages")
    synth_pages(spark, SynthConfig(n_urls=150), n_partitions=4).write.parquet(d)
    return d


@pytest.mark.parametrize("strategy,runs", [("union_window", 1),
                                          ("range_scan", 2)])
def test_featurize_runs_once(spark, pages_path, strategy, runs):
    """The default layout hands featurize's output to Python once. A
    range exchange over it samples its bounds by running the featurize
    UDF over the input a second time, which this count must see."""
    pages = spark.read.parquet(pages_path)
    n = pages.count()
    probe = pages.select(
        "url", (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("join_ts")
    )
    out = feature_pipeline(featurize(pages, use_html=True), probe,
                           strategy=strategy)
    assert len(out.collect()) == n
    assert _python_rows(out) == [runs * n]


def _hot_url_seconds(spark, n: int) -> float:
    """Wall time of feature_pipeline over one url with ``n`` hourly
    snapshots and ``n`` probes, each 30 minutes after a snapshot."""
    ids = spark.range(n)
    ts = F.timestamp_seconds(F.lit(BASE.timestamp()) + F.col("id") * 3600)
    build = ids.select(
        F.lit("hot").alias("url"), ts.cast("timestamp_ntz").alias("warc_ts"),
        F.col("id").cast("string").alias("text_sha256"),
        F.array(*[F.col("id").cast("double")] * 8).alias("feat"),
    )
    probe = ids.select(
        F.lit("hot").alias("url"),
        (ts + F.expr("INTERVAL 30 MINUTES")).cast("timestamp_ntz")
        .alias("join_ts"),
    )
    out = feature_pipeline(build, probe, session_gap_s=GAP)
    t0 = time.perf_counter()
    r = out.agg(F.count("feat"), F.sum("lag_gap_s"), F.sum("lead_gap_s"),
                F.max("session_id")).first()
    dt = time.perf_counter() - t0
    assert tuple(r) == (n, (n - 1) * 3600.0, (n - 1) * 3600.0, 0)
    return dt


def test_hot_url_stays_linear(spark):
    """One url with 50k snapshots and as many probes: 4x the rows may
    not cost 8x the time, which a quadratic frame (say, the next build
    row as ``first(ignorenulls)`` over ``(1, unboundedFollowing)``)
    would."""
    _hot_url_seconds(spark, 2_000)  # compiles the plan shape
    small = min(_hot_url_seconds(spark, 12_500) for _ in range(2))
    big = min(_hot_url_seconds(spark, 50_000) for _ in range(2))
    assert big < 8 * small, (small, big)


def test_entry_equals_old_composition(spark, sf_dir):
    """``entry()`` runs the events table on the same spine; its rows are
    the window stage + as-of composition's, snapshot index included."""
    import __spark_entry__

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    build = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    probe = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("join_ts"), "event_id"
    )
    old = asof_join(
        probe,
        sessionize(with_lag_lead(build, key="user_id", ts="ts"),
                   key="user_id", ts="ts", gap_seconds=1800),
        key="user_id", ts_probe="join_ts", ts_build="ts",
        build_cols=["purchase_value", "lag_gap_s", "lead_gap_s",
                    "snapshot_idx", "session_id"],
    )
    got = __spark_entry__.entry(spark)
    assert got.schema == old.schema
    assert got.where(F.col("ts").isNotNull()).count() > 0
    assert got.exceptAll(old).count() == 0
    assert old.exceptAll(got).count() == 0
