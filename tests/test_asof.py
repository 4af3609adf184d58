"""As-of join parity vs pd.merge_asof oracle (SURVEY.md §5.2.2) across
strategies, directions and salting, plus edge cases (before-first
probes, empty build side, exact-timestamp matches)."""

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from crawlfe.asof import STRATEGIES, asof_join
from crawlfe.features import featurize
from crawlfe.oracle import oracle_asof
from crawlfe.synth import SynthConfig, gen_pages_pdf, query_grid_pdf, synth_pages

CFG = SynthConfig(n_urls=120)
DIRECTIONS = ("backward", "forward", "nearest")


@pytest.fixture(scope="module")
def fixtures(spark):
    pdf = gen_pages_pdf(CFG, 0, CFG.n_urls)
    pages = synth_pages(spark, CFG)
    feats = featurize(pages, use_html=True).select(
        "url", "warc_ts", "text_sha256"
    )
    fp = feats.toPandas()
    grid_pdf = query_grid_pdf(CFG, pdf)
    grid = spark.createDataFrame(grid_pdf)
    want = oracle_asof(
        grid_pdf, fp, key="url", ts_probe="join_ts", ts_build="warc_ts",
        build_cols=["text_sha256"],
    ).sort_values(["url", "join_ts"], ignore_index=True)
    return grid, feats, grid_pdf, want


def _check(got_pdf, want):
    got = got_pdf.sort_values(["url", "join_ts"], ignore_index=True)
    assert len(got) == len(want)
    assert (got["url"] == want["url"]).all()
    assert (got["warc_ts"].isna() == want["warc_ts"].isna()).all()
    m = ~got["warc_ts"].isna()
    assert (
        got.loc[m, "warc_ts"].astype("datetime64[us]").to_numpy()
        == want.loc[m, "warc_ts"].to_numpy()
    ).all()
    assert (
        got.loc[m, "text_sha256"].to_numpy()
        == want.loc[m, "text_sha256"].to_numpy()
    ).all()


@pytest.mark.parametrize(
    "strategy,salt_k", [(s, k) for s in STRATEGIES for k in (1, 4, 8)]
)
def test_asof_strategies_match_oracle(spark, fixtures, strategy, salt_k):
    grid, feats, _, want = fixtures
    j = asof_join(
        grid, feats, key="url", ts_probe="join_ts", ts_build="warc_ts",
        build_cols=["text_sha256"], strategy=strategy, salt_k=salt_k,
    )
    _check(j.toPandas(), want)


def test_before_first_probe_is_null(spark, fixtures):
    grid, feats, grid_pdf, want = fixtures
    # query_grid always includes a probe 1h before each url's first
    # snapshot -> those rows must be null-matched (no leakage backward)
    assert want["warc_ts"].isna().sum() >= CFG.n_urls


def test_empty_build_side(spark, fixtures):
    grid, feats, _, _ = fixtures
    empty = feats.where("1=0")
    j = asof_join(
        grid, empty, key="url", ts_probe="join_ts", ts_build="warc_ts",
        build_cols=["text_sha256"],
    ).toPandas()
    assert j["warc_ts"].isna().all()
    assert j["text_sha256"].isna().all()


def test_exact_match_inclusive(spark):
    """allow_exact_matches: probe at exactly a snapshot ts matches it."""
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u"],
                "join_ts": pd.Series(
                    [pd.Timestamp("2024-01-02")], dtype="datetime64[us]"
                ),
            }
        )
    )
    build = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u", "u"],
                "warc_ts": pd.Series(
                    [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-02")],
                    dtype="datetime64[us]",
                ),
                "v": [1.0, 2.0],
            }
        )
    )
    for strategy in STRATEGIES:
        for direction in DIRECTIONS:
            out = asof_join(
                probe, build, key="url", ts_probe="join_ts",
                ts_build="warc_ts", build_cols=["v"], strategy=strategy,
                direction=direction,
            ).toPandas()
            assert out["v"].iloc[0] == 2.0, (strategy, direction)


def _ts(*days):
    return pd.Series([pd.Timestamp(d) for d in days], dtype="datetime64[us]")


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_null_payload_of_matched_row_stays_null(spark, strategy):
    """The matched build row's payload is attached whole: a null column
    in it must not be filled from an OLDER (backward) or LATER (forward)
    build row (a per-column last(ignorenulls) carry did exactly that)."""
    build = spark.createDataFrame(
        pd.DataFrame({
            "url": ["a", "a", "a"],
            "warc_ts": _ts("2024-01-01", "2024-01-02", "2024-01-03"),
            "v": [1.0, None, 3.0],
        })
    )
    probe_at = {
        "backward": "2024-01-02 12:00",
        "forward": "2024-01-01 12:00",
        "nearest": "2024-01-02 01:00",
    }
    for direction in DIRECTIONS:
        probe = spark.createDataFrame(
            pd.DataFrame({"url": ["a"], "join_ts": _ts(probe_at[direction])})
        )
        out = asof_join(
            probe, build, key="url", ts_probe="join_ts", ts_build="warc_ts",
            build_cols=["v"], strategy=strategy, direction=direction,
        ).toPandas()
        assert len(out) == 1, direction
        assert out["warc_ts"].iloc[0] == pd.Timestamp("2024-01-02"), direction
        assert pd.isna(out["v"].iloc[0]), direction


@pytest.mark.parametrize("strategy", ["range_scan", "union_window"])
def test_duplicate_build_rows_give_one_row_per_probe(spark, strategy):
    """A build side duplicated on (key, ts) must not fan out the
    probes: in every direction each probe gets exactly one row, whose
    payload comes from one of the duplicates."""
    probe = spark.createDataFrame(
        pd.DataFrame({
            "url": ["a", "a", "a", "b"],
            "join_ts": _ts("2023-12-31", "2024-01-01 12:00", "2024-01-03",
                           "2024-01-03"),
        })
    )
    build = spark.createDataFrame(
        pd.DataFrame({
            "url": ["a", "a", "a", "b"],
            "warc_ts": _ts("2024-01-02", "2024-01-02", "2024-01-01",
                           "2024-01-02"),
            "v": [1.0, 2.0, 0.0, 5.0],
        })
    )
    # the allowed v per probe (None = no match); the nearest tie at
    # 2024-01-01 12:00 goes to the earlier row
    dup = {1.0, 2.0}
    want = {
        "backward": [None, {0.0}, dup, {5.0}],
        "forward": [{0.0}, dup, None, None],
        "nearest": [{0.0}, {0.0}, dup, {5.0}],
    }
    for direction in DIRECTIONS:
        out = (
            asof_join(
                probe, build, key="url", ts_probe="join_ts",
                ts_build="warc_ts", build_cols=["v"], strategy=strategy,
                direction=direction,
            )
            .toPandas()
            .sort_values(["url", "join_ts"], ignore_index=True)
        )
        assert len(out) == 4, direction
        assert out["warc_ts"].isna().tolist() == [
            ok is None for ok in want[direction]
        ], direction
        for x, ok in zip(out["v"], want[direction]):
            assert ok is None or x in ok, direction


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_salted_equals_unsalted_in_every_direction(spark, strategy):
    """Salting is a physical rewrite, never a semantic one: salt_k=4
    gives the unsalted rows in every direction and under a tolerance."""
    pages = synth_pages(spark, SynthConfig(n_urls=10))
    probe = pages.selectExpr("url", "warc_ts + INTERVAL 1 HOUR as join_ts")
    build = pages.selectExpr("url", "warc_ts", "lang as b_lang")
    for direction in DIRECTIONS:
        for tol in (None, pd.Timedelta(hours=12)):
            a, b = (
                asof_join(
                    probe, build, key="url", ts_probe="join_ts",
                    ts_build="warc_ts", build_cols=["b_lang"],
                    strategy=strategy, salt_k=k, direction=direction,
                    tolerance=tol,
                )
                .toPandas()
                .sort_values(["url", "join_ts"], ignore_index=True)
                for k in (1, 4)
            )
            if tol is None:
                assert a["warc_ts"].notna().any(), direction
            pd.testing.assert_frame_equal(a, b)


def test_asof_join_rejects_salt_k_below_one(spark):
    """salt_k < 1 is an error, not a silent unsalted run."""
    pages = synth_pages(spark, SynthConfig(n_urls=10))
    probe = pages.selectExpr("url", "warc_ts as join_ts")
    build = pages.selectExpr("url", "warc_ts", "lang as b_lang")
    for k in (0, -3):
        with pytest.raises(ValueError, match="salt_k"):
            asof_join(
                probe, build, key="url", ts_probe="join_ts",
                ts_build="warc_ts", build_cols=["b_lang"], salt_k=k,
            )


@pytest.mark.parametrize(
    "args, message",
    [
        (["--salt-k", "0"], "--salt-k: must be >= 1"),
        (["--salt-k", "-3"], "--salt-k: must be >= 1"),
        (["--n-urls", "0"], "--n-urls: must be >= 1"),
        (["--batches", "0"], "--batches: must be >= 1"),
        (["--crash-after", "-1"], "--crash-after: must be >= 0"),
        (["--session-gap-s", "-5"], "--session-gap-s: must be >= 0"),
        (["--n-urls", "1", "--batches", "4"],
         "--batches (4) must not exceed --n-urls (1)"),
    ],
    ids=[
        "salt-k=0", "salt-k=-3", "n-urls=0", "batches=0", "crash-after=-1",
        "session-gap-s=-5", "batches>n-urls",
    ],
)
def test_job_rejects_bad_counts(args, message):
    """jobs/featurize.py refuses a salt, url or batch count, crash point
    or session gap it cannot use while parsing its arguments, before any
    Spark work."""
    job = os.path.join(os.path.dirname(__file__), "..", "jobs", "featurize.py")
    r = subprocess.run(
        [sys.executable, job, "--output", "unused", *args],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2, r.stderr
    assert message in r.stderr


def test_self_asof_shared_lineage(spark, sf_dir):
    """Regression: probe and build derived from the SAME relation must
    not lose build columns to cross-side attribute dedup (the Catalyst
    pruning hazard found via spark-submit in round 1)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probe = ev.where("event_type='click'").select(
        "user_id", F.col("ts").alias("join_ts"), "event_id"
    )
    build = ev.where("event_type='purchase'").select(
        "user_id", "ts", F.col("value").alias("pv")
    )
    out = asof_join(
        probe, build, key="user_id", ts_probe="join_ts", ts_build="ts",
        build_cols=["pv"],
    ).select("user_id", "join_ts", "ts", "pv")
    got = out.toPandas().sort_values(
        ["user_id", "join_ts"], ignore_index=True
    )
    pp = probe.toPandas().rename(columns={"join_ts": "join_ts"})
    bp = build.toPandas()
    want = oracle_asof(
        pp, bp, key="user_id", ts_probe="join_ts", ts_build="ts",
        build_cols=["pv"],
    ).sort_values(["user_id", "join_ts"], ignore_index=True)
    assert (got["ts"].isna() == want["ts"].isna()).all()
    m = ~got["ts"].isna()
    assert np.array_equal(
        got.loc[m, "pv"].to_numpy(), want.loc[m, "pv"].to_numpy()
    )


def test_tolerance_parity_across_strategies(spark, fixtures):
    """Every strategy and direction must match the pd.merge_asof oracle
    exactly under a tolerance window (a JVM conditional projection over
    the chosen match), and the window must actually null out stale
    matches."""
    grid, feats, grid_pdf, want = fixtures
    fp = feats.toPandas()
    tol = pd.Timedelta(hours=6)
    for direction in DIRECTIONS:
        want_tol = oracle_asof(
            grid_pdf, fp, key="url", ts_probe="join_ts", ts_build="warc_ts",
            build_cols=["text_sha256"], direction=direction, tolerance=tol,
        ).sort_values(["url", "join_ts"], ignore_index=True)
        for strategy in STRATEGIES:
            _check(
                asof_join(
                    grid, feats, key="url", ts_probe="join_ts",
                    ts_build="warc_ts", build_cols=["text_sha256"],
                    strategy=strategy, tolerance=tol, direction=direction,
                ).toPandas(),
                want_tol,
            )
        if direction == "backward":
            # the tolerance must bite: without it strictly more matches
            n_tol = want_tol["warc_ts"].notna().sum()
            assert n_tol < want["warc_ts"].notna().sum()


def _direction_oracle(feats, grid_pdf, direction):
    return oracle_asof(
        grid_pdf, feats.toPandas(), key="url", ts_probe="join_ts",
        ts_build="warc_ts", build_cols=["text_sha256"], direction=direction,
    ).sort_values(["url", "join_ts"], ignore_index=True)


@pytest.mark.parametrize("salt_k", [1, 4])
def test_forward_direction_matches_oracle(spark, fixtures, salt_k):
    """direction='forward' attaches the EARLIEST build row at-or-after
    each probe (the label-construction join); parity vs pd.merge_asof
    direction='forward', and every match must be >= the probe ts."""
    grid, feats, grid_pdf, _ = fixtures
    got = (
        asof_join(
            grid, feats, key="url", ts_probe="join_ts",
            ts_build="warc_ts", build_cols=["text_sha256"],
            salt_k=salt_k, direction="forward",
        )
        .toPandas()
    )
    _check(got, _direction_oracle(feats, grid_pdf, "forward"))
    m = got["warc_ts"].notna()
    assert (
        got.loc[m, "warc_ts"].astype("datetime64[us]")
        >= got.loc[m, "join_ts"].astype("datetime64[us]")
    ).all()


def test_union_window_forward_and_nearest_match_oracle(spark, fixtures):
    """The hash-clustered strategy runs the same forward and nearest
    carries as range_scan: parity vs pd.merge_asof."""
    grid, feats, grid_pdf, _ = fixtures
    for direction in ("forward", "nearest"):
        got = asof_join(
            grid, feats, key="url", ts_probe="join_ts",
            ts_build="warc_ts", build_cols=["text_sha256"],
            strategy="union_window", direction=direction,
        ).toPandas()
        _check(got, _direction_oracle(feats, grid_pdf, direction))


@pytest.mark.parametrize("salt_k", [1, 4])
def test_nearest_direction_matches_oracle(spark, fixtures, salt_k):
    """direction='nearest' attaches the build row minimizing
    |ts_build - ts_probe| (snapshot alignment across cadences);
    parity vs pd.merge_asof direction='nearest'."""
    grid, feats, grid_pdf, _ = fixtures
    got = (
        asof_join(
            grid, feats, key="url", ts_probe="join_ts",
            ts_build="warc_ts", build_cols=["text_sha256"],
            salt_k=salt_k, direction="nearest",
        )
        .toPandas()
    )
    _check(got, _direction_oracle(feats, grid_pdf, "nearest"))


def test_nearest_tie_prefers_backward(spark):
    """An exactly equidistant pair must resolve to the EARLIER build
    row (pd.merge_asof nearest tie rule) — pinned so the DuckDB
    oracle's `ORDER BY abs_diff, ts` twin stays bit-faithful."""
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u"],
                "join_ts": pd.Series(
                    [pd.Timestamp("2024-01-02 12:00:00")],
                    dtype="datetime64[us]",
                ),
            }
        )
    )
    build = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u", "u"],
                "warc_ts": pd.Series(
                    [
                        pd.Timestamp("2024-01-02 11:00:00"),
                        pd.Timestamp("2024-01-02 13:00:00"),
                    ],
                    dtype="datetime64[us]",
                ),
                "tag": ["back", "fwd"],
            }
        )
    )
    got = asof_join(
        probe, build, key="url", ts_probe="join_ts", ts_build="warc_ts",
        build_cols=["tag"], direction="nearest",
    ).toPandas()
    assert list(got["tag"]) == ["back"]
