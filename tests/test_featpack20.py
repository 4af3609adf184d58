"""Semantic test for feature-eng pack #20: PSI drift (a brute python
replica; cross-engine parity is proven by the check_entry sweeps)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from crawlfe.queries import q_psi_drift

SF = "/root/testdata/sf0.001"


def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/events.parquet")


def test_psi_drift_brute(spark):
    out = q_psi_drift(spark, SF).toPandas()
    ev = _events()
    ev["bucket"] = np.minimum(np.floor(ev.value / 25.0), 19).astype(int)
    ev["half"] = np.where(ev.ts.dt.day <= 15, "e", "a")
    for et, g in ev.groupby("event_type"):
        ce = g[g.half == "e"].groupby("bucket").size()
        ca = g[g.half == "a"].groupby("bucket").size()
        te, ta = ce.sum(), ca.sum()
        sub = out[out.event_type == et].set_index("bucket")
        total = 0.0
        for b, row in sub.iterrows():
            ne, na = int(ce.get(b, 0)), int(ca.get(b, 0))
            assert (row.n_exp, row.n_act) == (ne, na)
            if ne > 0 and na > 0:
                t = (na / ta - ne / te) * math.log((na * te) / (ne * ta))
                assert abs(row.psi_term - round(t, 6)) <= 1e-6
                total += t
            else:
                assert pd.isna(row.psi_term)
        assert (abs(sub.psi_total - round(total, 6)) <= 2e-6).all()
