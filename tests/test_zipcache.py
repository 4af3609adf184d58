"""The zip-directory guard (crawlfe/_zipcache.py): on Python < 3.12,
``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed, on the driver and in reused Python
workers."""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pyarrow as pa
import pytest

import crawlfe

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12 made zipimporter.invalidate_caches lazy; the guard is off",
)


def _count_reads(monkeypatch) -> list[str]:
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_module(archive, value: str) -> None:
    # "w" truncates in place, like `zip -FS`: the inode stays the same
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("crawlfe_zc_probe.py", f"VALUE = {value!r}\n")


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_module(archive, "one")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "crawlfe_zc_probe", raising=False)
    assert importlib.import_module("crawlfe_zc_probe").VALUE == "one"

    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls.count(archive) == 0

    _write_module(archive, "two, longer")
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
    importlib.invalidate_caches()
    assert calls.count(archive) == 1

    del sys.modules["crawlfe_zc_probe"]
    assert importlib.import_module("crawlfe_zc_probe").VALUE == "two, longer"


def test_reused_worker_skips_the_reread(spark):
    """PySpark's worker runs importlib.invalidate_caches() before every
    task. Once a task has unpickled crawlfe in a worker, no later task
    there re-reads pyspark.zip, py4j or the spark-core jar."""

    def probe(batches):
        for _ in batches:
            pass
        assert crawlfe.__version__  # unpickling this closure imports crawlfe
        start = time.monotonic_ns()
        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "t": [start], "reads": [len(calls)]}
        )

    # earlier stages with two Python operators can leave more idle
    # workers than slots, so one job's tasks may each get a worker of
    # their own: rerun until some worker has run a second probe task
    by_worker: dict[int, list] = {}
    for _ in range(8):
        for r in (
            spark.range(16, numPartitions=16)
            .mapInArrow(probe, "pid long, t long, reads long")
            .collect()
        ):
            by_worker.setdefault(r.pid, []).append((r.t, r.reads))
        if max(map(len, by_worker.values())) > 1:
            break
    later = [reads for tasks in by_worker.values()
             for _, reads in sorted(tasks)[1:]]
    assert later, by_worker  # some worker ran more than one task
    assert later == [0] * len(later), by_worker
