"""Single-node pandas oracles for the parity suite (SURVEY.md §5.2).

These play the role the reference's per-file synchronous API plays for
its pipeline (ref: acoss/features.py::AudioFeatures used one file at a
time — the ground-truth surface [R]): small, obviously-correct,
single-process implementations the distributed engine must match
allclose (features) / byte-identical (text) / exactly (joins, windows).

The featurizer oracle calls the same frozen numpy functions as the Spark
UDFs on purpose (see crawlfe/textfeat.py docstring); the temporal
operators use INDEPENDENT implementations (pd.merge_asof, pandas
groupby) so join/window parity is a real cross-check, and the driver
additionally cross-checks against DuckDB SQL (ASOF JOIN, window SQL)
via __spark_entry__.oracle_sql().
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .extract import extract_text
from .textfeat import FEAT_VERSION, featurize_batch, sha256_hex


def oracle_features(pages: pd.DataFrame) -> pd.DataFrame:
    texts = [extract_text(h) for h in pages["html"]]
    feats = featurize_batch(texts)
    return pd.DataFrame(
        {
            "url": pages["url"].to_numpy(),
            "warc_ts": pages["warc_ts"].to_numpy(),
            "text": texts,
            "text_sha256": [sha256_hex(t) for t in texts],
            "feat": list(feats),
            "feat_version": FEAT_VERSION,
        }
    )


def oracle_asof(
    probe: pd.DataFrame,
    build: pd.DataFrame,
    key: str = "url",
    ts_probe: str = "join_ts",
    ts_build: str = "warc_ts",
    build_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance: pd.Timedelta | None = None,
) -> pd.DataFrame:
    if build_cols is None:
        build_cols = [c for c in build.columns if c not in (key, ts_build)]
    pl = probe.sort_values(ts_probe, kind="mergesort", ignore_index=True)
    pr = build[[key, ts_build] + build_cols].sort_values(
        ts_build, kind="mergesort", ignore_index=True
    )
    pl[ts_probe] = pl[ts_probe].astype("datetime64[us]")
    pr[ts_build] = pr[ts_build].astype("datetime64[us]")
    out = pd.merge_asof(
        pl, pr, left_on=ts_probe, right_on=ts_build, by=key,
        direction=direction, allow_exact_matches=True, tolerance=tolerance,
    )
    return out[list(probe.columns) + [ts_build] + build_cols]


def oracle_lag_lead(
    df: pd.DataFrame, key: str = "url", ts: str = "warc_ts"
) -> pd.DataFrame:
    df = df.sort_values([key, ts], kind="mergesort", ignore_index=True)
    g = df.groupby(key, sort=False)[ts]
    df = df.copy()
    df["lag_gap_s"] = (df[ts] - g.shift(1)).dt.total_seconds()
    df["lead_gap_s"] = (g.shift(-1) - df[ts]).dt.total_seconds()
    df["snapshot_idx"] = g.cumcount()
    return df


def oracle_sessionize(
    df: pd.DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    gap_seconds: int = 86400,
) -> pd.DataFrame:
    df = df.sort_values([key, ts], kind="mergesort", ignore_index=True).copy()
    gaps = (df[ts] - df.groupby(key, sort=False)[ts].shift(1)).dt.total_seconds()
    new = (gaps.isna() | (gaps > gap_seconds)).astype("int64")
    df["session_id"] = new.groupby(df[key], sort=False).cumsum() - 1
    return df


def oracle_backfill(
    df: pd.DataFrame,
    value_cols: list[str],
    key: str = "url",
    ts: str = "warc_ts",
    step: pd.Timedelta = pd.Timedelta(days=1),
) -> pd.DataFrame:
    """Grid-expand each entity [min ts, max ts] by `step`, forward-fill."""
    frames = []
    for k, grp in df.groupby(key, sort=True):
        grp = grp.sort_values(ts, kind="mergesort")
        grid = pd.date_range(grp[ts].min(), grp[ts].max(), freq=step)
        grid = grid[~grid.isin(grp[ts])]
        obs = grp[[ts] + value_cols].rename(columns={ts: "grid_ts"})
        obs["backfilled"] = False
        gr = pd.DataFrame({"grid_ts": grid})
        for c in value_cols:
            # match the observed column's concat dtype (all-None object
            # columns trip pandas' all-NA-concat FutureWarning); floats
            # take NaN, everything else round-trips through object+None
            if obs[c].dtype.kind == "f":
                gr[c] = pd.Series(float("nan"), index=gr.index,
                                  dtype=obs[c].dtype)
            else:
                gr[c] = pd.Series([None] * len(gr), index=gr.index,
                                  dtype=object)
        gr["backfilled"] = True
        # an EMPTY gr (no missing grid points) also trips pandas'
        # empty/all-NA concat FutureWarning — skip the concat entirely
        allr = (
            pd.concat([obs, gr], ignore_index=True) if len(gr) else obs
        ).sort_values(["grid_ts", "backfilled"], kind="mergesort")
        allr[value_cols] = allr[value_cols].ffill()
        allr.insert(0, key, k)
        frames.append(allr)
    out = pd.concat(frames, ignore_index=True)
    out["grid_ts"] = out["grid_ts"].astype("datetime64[us]")
    return out


def assert_feature_parity(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame
) -> None:
    """The acceptance comparison (BASELINE.json:2): byte-identical text,
    allclose feature vectors at every url×warc_ts."""
    key = ["url", "warc_ts"]
    s = spark_pdf.sort_values(key, kind="mergesort", ignore_index=True)
    o = oracle_pdf.sort_values(key, kind="mergesort", ignore_index=True)
    assert len(s) == len(o), f"row count {len(s)} != {len(o)}"
    assert (s["url"].to_numpy() == o["url"].to_numpy()).all()
    assert (s["warc_ts"].to_numpy() == o["warc_ts"].to_numpy()).all()
    if "text" in s.columns:
        mism = s["text"].to_numpy() != o["text"].to_numpy()
        assert not mism.any(), f"text not byte-identical for {mism.sum()} rows"
    assert (s["text_sha256"].to_numpy() == o["text_sha256"].to_numpy()).all()
    sf = np.stack(s["feat"].to_numpy())
    of = np.stack(o["feat"].to_numpy())
    assert np.allclose(sf, of, rtol=1e-9, atol=1e-12), "feature vectors differ"
