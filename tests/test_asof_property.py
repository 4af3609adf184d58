"""Property-based as-of join testing (hypothesis): random keyed
timestamp sets, both strategies salted and unsalted vs the
pd.merge_asof oracle.
Catches edge cases enumeration tests miss: duplicate probe timestamps,
probes before/after all history, keys on one side only, single-row
groups, exact-tie matches."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crawlfe.asof import STRATEGIES, asof_join

BASE = np.datetime64("2024-01-01T00:00:00", "us")


def _mk(tbl: list[tuple[int, int]], vcol: str | None = None) -> pd.DataFrame:
    pdf = pd.DataFrame(
        {
            "k": [f"k{k}" for k, _ in tbl],
            "ts": pd.Series(
                [BASE + np.timedelta64(s, "s") for _, s in tbl],
                dtype="datetime64[us]",
            ),
        }
    )
    if vcol:
        pdf[vcol] = np.arange(len(pdf), dtype=np.float64)
    return pdf


rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 10_000)),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(probe_rows=rows, build_rows=rows)
def test_asof_matches_pandas_oracle(spark, probe_rows, build_rows):
    probe_pdf = _mk(probe_rows).rename(columns={"ts": "join_ts"})
    probe_pdf["pid"] = np.arange(len(probe_pdf))
    # build unique per (k, ts): the snapshot invariant of the pages
    # table (merge_asof keeps the LAST dup; the window carry keeps any)
    build_pdf = (
        _mk(build_rows, vcol="v")
        .drop_duplicates(["k", "ts"], keep="last")
        .reset_index(drop=True)
    )

    want = pd.merge_asof(
        probe_pdf.sort_values(["join_ts", "pid"], kind="mergesort"),
        build_pdf.sort_values("ts", kind="mergesort"),
        left_on="join_ts",
        right_on="ts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    ).sort_values("pid", ignore_index=True)

    probe = spark.createDataFrame(probe_pdf)
    build = spark.createDataFrame(build_pdf)
    for strategy, salt_k in [(s, k) for s in STRATEGIES for k in (1, 4)]:
        got = (
            asof_join(
                probe, build, key="k", ts_probe="join_ts", ts_build="ts",
                build_cols=["v"], strategy=strategy, salt_k=salt_k,
            )
            .toPandas()
            .sort_values("pid", ignore_index=True)
        )
        assert len(got) == len(want), (strategy, salt_k)
        assert (got["k"] == want["k"]).all(), (strategy, salt_k)
        assert (got["ts"].isna() == want["ts"].isna()).all(), (
            strategy, salt_k,
        )
        m = ~want["ts"].isna()
        assert (
            got.loc[m, "ts"].astype("datetime64[us]").to_numpy()
            == want.loc[m, "ts"].to_numpy()
        ).all(), (strategy, salt_k)
        assert np.allclose(
            got.loc[m, "v"].to_numpy(float), want.loc[m, "v"].to_numpy(float)
        ), (strategy, salt_k)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(probe_rows=rows, build_rows=rows,
       direction=st.sampled_from(["forward", "nearest"]))
def test_asof_directions_match_pandas_oracle(
    spark, probe_rows, build_rows, direction
):
    """forward (label path) and nearest (snapshot alignment) vs the
    pd.merge_asof oracle on random keyed timestamp sets — duplicate
    probes, out-of-history probes, ties at equal distance (nearest
    resolves to the earlier row, pd.merge_asof semantics)."""
    probe_pdf = _mk(probe_rows).rename(columns={"ts": "join_ts"})
    probe_pdf["pid"] = np.arange(len(probe_pdf))
    build_pdf = (
        _mk(build_rows, vcol="v")
        .drop_duplicates(["k", "ts"], keep="last")
        .reset_index(drop=True)
    )

    want = pd.merge_asof(
        probe_pdf.sort_values(["join_ts", "pid"], kind="mergesort"),
        build_pdf.sort_values("ts", kind="mergesort"),
        left_on="join_ts",
        right_on="ts",
        by="k",
        direction=direction,
        allow_exact_matches=True,
    ).sort_values("pid", ignore_index=True)

    probe = spark.createDataFrame(probe_pdf)
    build = spark.createDataFrame(build_pdf)
    for strategy, salt_k in [(s, k) for s in STRATEGIES for k in (1, 4)]:
        got = (
            asof_join(
                probe, build, key="k", ts_probe="join_ts", ts_build="ts",
                build_cols=["v"], strategy=strategy, salt_k=salt_k,
                direction=direction,
            )
            .toPandas()
            .sort_values("pid", ignore_index=True)
        )
        assert len(got) == len(want), (strategy, salt_k, direction)
        assert (got["ts"].isna() == want["ts"].isna()).all(), (
            strategy, salt_k, direction,
        )
        m = ~want["ts"].isna()
        assert (
            got.loc[m, "ts"].astype("datetime64[us]").to_numpy()
            == want.loc[m, "ts"].to_numpy()
        ).all(), (strategy, salt_k, direction)
        assert np.allclose(
            got.loc[m, "v"].to_numpy(float), want.loc[m, "v"].to_numpy(float)
        ), (strategy, salt_k, direction)
