"""Semantic test for feature-eng pack #21: lang x source mutual
information (a brute python replica; cross-engine parity is proven by
the check_entry sweeps)."""

from __future__ import annotations

import math

import pandas as pd

from crawlfe.queries import q_mutual_info

SF = "/root/testdata/sf0.001"


def test_mutual_info_brute(spark):
    out = q_mutual_info(spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n_all = len(docs)
    cells = docs.groupby(["lang", "source"]).size()
    n_l = docs.groupby("lang").size()
    n_s = docs.groupby("source").size()
    total = 0.0
    for (lang, src), n in cells.items():
        pmi = math.log(n * n_all / (n_l[lang] * n_s[src]))
        row = out[(out.lang == lang) & (out.source == src)].iloc[0]
        assert int(row.n) == n
        assert abs(row.pmi - round(pmi, 6)) <= 1e-6
        assert abs(row.mi_term - round(n / n_all * pmi, 6)) <= 1e-6
        total += n / n_all * pmi
    assert len(out) == len(cells)
    # MI is non-negative; one total repeated on every row
    assert (out.mi_total - round(total, 6)).abs().max() <= 2e-6
    assert total >= -1e-12
