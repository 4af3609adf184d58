"""Lifetime contract of the registry's session scratch dirs
(crawlfe/queries/_shared.py::_scratch_dir): each call gets a fresh,
empty dir, and the previous call's DataFrame still scans live files."""

from __future__ import annotations

import os

from crawlfe.queries._shared import _scratch_dir
from crawlfe.queries.rows_only import q_scan_pages


def test_each_call_gets_a_fresh_dir_and_keeps_the_previous_one():
    first = _scratch_dir("contract_probe")
    second = _scratch_dir("contract_probe")
    assert first != second
    for d in (first, second):
        assert os.listdir(d) == []
        open(os.path.join(d, "payload"), "w").close()
    third = _scratch_dir("contract_probe")
    assert os.listdir(third) == []
    assert not os.path.exists(first)
    assert os.listdir(second) == ["payload"]


def test_previous_calls_dataframe_still_scans(spark, sf_dir):
    # q_scan_pages returns a lazy read of the files in its scratch dir
    first = q_scan_pages(spark, sf_dir)
    second = q_scan_pages(spark, sf_dir)
    # evaluated out of order: the newer call's output first
    want = sorted(second.collect())
    assert want
    assert sorted(first.collect()) == want
