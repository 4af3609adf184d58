"""The engine names the benchmark harness in ``perfbench/`` relies on.

perfbench imports engine functions by name, reads ``feature_pipeline``'s
``strategy`` and ``session_gap_s`` defaults at import time, and wraps a
few engine attributes to time them. A change that renames or drops one
of these breaks every benchmark run while the rest of the suite stays
green, so this pins them. Importing the perfbench modules starts no Spark
session.
"""

from __future__ import annotations

import importlib

import pytest

import crawlfe.pipeline
from crawlfe.asof import STRATEGIES
from crawlfe.io import IcebergLite

PERFBENCH_MODULES = ("engine", "fixtures", "harness", "layers", "workloads",
                     "run")


@pytest.mark.parametrize("name", PERFBENCH_MODULES)
def test_perfbench_module_imports(name):
    importlib.import_module(f"perfbench.{name}")


def test_default_strategy_is_a_strategy():
    from perfbench.workloads import DEFAULT_STRATEGY
    assert DEFAULT_STRATEGY in STRATEGIES


# (owner, attribute) pairs perfbench wraps with ``engine.wrapped`` or
# ``mock.patch.object``; both look the attribute up on the owner.
@pytest.mark.parametrize("owner, attr", [
    (crawlfe.pipeline, "commit_batch"),
    (crawlfe.pipeline, "featurize"),
    (IcebergLite, "stage"),
    (IcebergLite, "commit"),
])
def test_wrapped_attributes_callable(owner, attr):
    assert callable(getattr(owner, attr, None)), f"{owner.__name__}.{attr}"
