"""Checkpoint/resume + lineage tests (BASELINE.json:6; SURVEY.md
§5.2.5): crash after partial commit, rerun, exactly-once output and
monotonic lineage; atomic visibility of the iceberg-lite commit; the
in-flight lineage against a brute-force recount of the committed data."""

import copy
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from crawlfe.extract import _Fallback, _fast_scan, extract_text_reference
from crawlfe.features import LineageMerge, featurize
from crawlfe.io import IcebergLite
from crawlfe.pipeline import commit_batch, run_incremental
from crawlfe.synth import SynthConfig, synth_pages

_COUNTS = ["html_bytes", "text_bytes", "empty_text", "extract_fallback"]
_LINEAGE_COLS = [
    "input_snapshot", "partition_id", "first_offset", "last_offset",
    "n_rows", "feature_hash", *_COUNTS,
]


def _lineage(spark, tbl):
    return sorted(
        tuple(r) for r in tbl.lineage(spark).select(*_LINEAGE_COLS).collect()
    )


def _recount_lineage(spark, tbl, manifest, pages):
    """Brute-force lineage of one committed snapshot: the per-partition
    groupBy of its data files (min/max offset, count, bit_xor of
    Spark's xxhash64), plus html bytes, text bytes and empty-text docs
    recounted with the reference extractor, and the documents the fast
    scanner rejects."""
    data = spark.read.parquet(
        *(os.path.join(tbl.data_dir, f) for f in manifest["files"])
    )
    agg = (
        data.groupBy("part_id")
        .agg(
            F.min("row_offset").alias("first_offset"),
            F.max("row_offset").alias("last_offset"),
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64("url", "warc_ts", "text_sha256"))
            .cast("string").alias("feature_hash"),
        )
        .withColumnRenamed("part_id", "partition_id")
        .toPandas()
    )
    src = pages.select("url", "warc_ts", "html").toPandas()
    text = src["html"].map(extract_text_reference)
    src["html_bytes"] = src["html"].map(lambda h: 0 if h is None else len(h))
    src["text_bytes"] = text.map(lambda t: len(t.encode("utf-8")))
    src["empty_text"] = (text == "").astype(int)
    src["extract_fallback"] = src["html"].map(_rejected)
    counts = (
        data.select("url", "warc_ts", "part_id").toPandas()
        .merge(src.drop(columns="html"), on=["url", "warc_ts"],
               validate="one_to_one")
        .groupby("part_id")[_COUNTS]
        .sum()
        .rename_axis("partition_id")
        .reset_index()
    )
    out = agg.merge(counts, on="partition_id").sort_values("partition_id")
    return [
        {k: (v.item() if hasattr(v, "item") else v) for k, v in r.items()}
        for r in out.to_dict("records")
    ]


def _rejected(html) -> int:
    if html is None:
        return 0
    try:
        _fast_scan(bytes(html).decode("utf-8", errors="replace"))
    except _Fallback:
        return 1
    return 0


def _batches(spark, n=3, urls=30):
    return [
        (
            f"snap-{k}",
            synth_pages(
                spark, SynthConfig(n_urls=(k + 1) * urls),
                url_lo=k * urls, url_hi=(k + 1) * urls,
            ),
        )
        for k in range(n)
    ]


def test_crash_then_resume_exactly_once(spark, tmp_path):
    tbl = IcebergLite(str(tmp_path / "features"))
    batches = _batches(spark)

    done = run_incremental(spark, batches, tbl, crash_after=1)
    assert done == ["snap-0"]
    visible_after_crash = tbl.read(spark).count()
    assert tbl.committed_snapshots() == {"snap-0"}
    # crashed batch staged data but never committed -> invisible
    assert len(os.listdir(tbl.staging_dir)) >= 1

    done2 = run_incremental(spark, batches, tbl)
    assert done2 == ["snap-1", "snap-2"]

    # exactly-once: total equals a fresh single-shot run
    tbl2 = IcebergLite(str(tmp_path / "fresh"))
    run_incremental(spark, _batches(spark), tbl2)
    assert tbl.read(spark).count() == tbl2.read(spark).count()
    assert visible_after_crash < tbl.read(spark).count()
    # the resumed table's lineage equals the fresh run's
    assert _lineage(spark, tbl) == _lineage(spark, tbl2)

    # per-url uniqueness: no batch applied twice
    feats = tbl.read(spark)
    assert (
        feats.groupBy("url", "warc_ts").count().where("count > 1").count()
        == 0
    )


def test_lineage_rows_complete(spark, tmp_path):
    tbl = IcebergLite(str(tmp_path / "t"))
    batches = _batches(spark, n=2)
    run_incremental(spark, batches, tbl)
    lin = tbl.lineage(spark).toPandas()
    assert set(lin["input_snapshot"]) == {"snap-0", "snap-1"}
    feats = tbl.read(spark)
    # lineage row counts reconcile with the table
    assert lin["n_rows"].sum() == feats.count()
    assert (lin["first_offset"] >= 0).all()
    assert (lin["last_offset"] >= lin["first_offset"]).all()
    assert lin["feature_hash"].notna().all()


def test_lineage_equals_brute_force_recount(spark, tmp_path):
    """Every field of the in-flight lineage equals a recount of the
    committed data, for snapshots of several partitions that include
    null html, html whose text is empty and html the extractor's fast
    path hands to the reference parser."""
    tbl = IcebergLite(str(tmp_path / "t"))
    bucket = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(7))
    pages = {}
    for k in range(2):
        p = synth_pages(spark, SynthConfig(n_urls=80), n_partitions=4,
                        url_lo=40 * k, url_hi=40 * (k + 1))
        pages[f"snap-{k}"] = p.withColumn(
            "html",
            F.when(bucket == 0, F.lit(None).cast("binary"))
            .when(bucket == 1, F.encode(F.lit("<script>x=1</script>"),
                                        "utf-8"))
            .when(bucket == 2, F.encode(F.lit("<p>a<![CDATA[x]]>b</>c"),
                                        "utf-8"))
            .otherwise(F.col("html")),
        )
    run_incremental(spark, list(pages.items()), tbl)
    manifests = tbl.manifests()
    assert [m["input_snapshot"] for m in manifests] == list(pages)
    for m in manifests:
        want = _recount_lineage(spark, tbl, m, pages[m["input_snapshot"]])
        assert len(want) == 4
        assert sum(r["empty_text"] for r in want) > 0
        assert sum(r["extract_fallback"] for r in want) > 0
        assert m["lineage"] == want


def test_empty_snapshot_commits_empty_lineage(spark, tmp_path):
    tbl = IcebergLite(str(tmp_path / "t"))
    pages = synth_pages(spark, SynthConfig(n_urls=20)).where(F.lit(False))
    commit_batch(spark, pages, tbl, "empty")
    assert tbl.committed_snapshots() == {"empty"}
    assert tbl.manifests()[0]["lineage"] == []
    assert tbl.lineage(spark) is None


def test_lineage_merge_overwrites_by_partition_id():
    merge = LineageMerge()
    rows = merge.zero({7: {"n_rows": 1}})
    assert rows == {}
    rows = merge.addInPlace(rows, {0: {"n_rows": 5}, 1: {"n_rows": 2}})
    rows = merge.addInPlace(rows, {0: {"n_rows": 5}})
    assert rows == {0: {"n_rows": 5}, 1: {"n_rows": 2}}
    rows = merge.addInPlace(rows, {1: {"n_rows": 3}})
    assert rows == {0: {"n_rows": 5}, 1: {"n_rows": 3}}


def test_lineage_sink_survives_reevaluation(spark, tmp_path):
    """A featurize DataFrame carrying the sink, evaluated twice (a
    count, then the write): one entry per partition, same values."""
    pages = synth_pages(spark, SynthConfig(n_urls=60), n_partitions=3)
    sink = spark.sparkContext.accumulator({}, LineageMerge())
    feats = featurize(pages, _lineage=sink)
    n = feats.count()
    first = copy.deepcopy(sink.value)
    feats.write.parquet(str(tmp_path / "out"))
    assert sink.value == first
    assert sorted(first) == [0, 1, 2]
    assert sum(r["n_rows"] for r in first.values()) == n


def test_commit_batch_is_one_spark_job(spark, tmp_path, monkeypatch):
    """commit_batch runs exactly one Spark job (the staged write) and
    never reads the staged files back."""
    tbl = IcebergLite(str(tmp_path / "t"))
    pages = synth_pages(spark, SynthConfig(n_urls=40), n_partitions=3)
    reads = []
    real_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        reads.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    sc = spark.sparkContext
    group = f"commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "commit_batch")
    try:
        commit_batch(spark, pages, tbl, "snap")
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert reads == []
    assert sum(r["n_rows"] for r in tbl.manifests()[0]["lineage"]) == (
        tbl.read(spark).count()
    )


def test_lineage_reads_manifests_without_data_counts(spark, tmp_path):
    """Manifests written before lineage carried html/text bytes and the
    empty-text count still read, with those columns null."""
    tbl = IcebergLite(str(tmp_path / "t"))
    pages = synth_pages(spark, SynthConfig(n_urls=20), n_partitions=2)
    old_row = {"partition_id": 0, "first_offset": 0, "last_offset": 9,
               "n_rows": 10, "feature_hash": "-123"}
    tbl.append(pages.select("url"), "old", lineage_rows=[old_row])
    commit_batch(spark, pages, tbl, "new")
    lineage = tbl.lineage(spark)
    assert dict(lineage.dtypes)["text_bytes"] == "bigint"
    lin = lineage.toPandas()
    old = lin[lin["input_snapshot"] == "old"]
    new = lin[lin["input_snapshot"] == "new"]
    assert old[["n_rows", "feature_hash"]].values.tolist() == [[10, "-123"]]
    assert old[_COUNTS].isna().all().all()
    assert len(new) == 2 and (new["html_bytes"] > 0).all()


def test_recommit_same_snapshot_rejected(spark, tmp_path):
    tbl = IcebergLite(str(tmp_path / "t"))
    (snap, pages) = _batches(spark, n=1)[0]
    commit_batch(spark, pages, tbl, snap)
    with pytest.raises(ValueError, match="already committed"):
        commit_batch(spark, pages, tbl, snap)


def test_lineage_hash_detects_data_change(spark, tmp_path):
    """Same snapshot id, different data -> different feature hashes
    (the lineage hash is a real content fingerprint)."""
    t1 = IcebergLite(str(tmp_path / "a"))
    t2 = IcebergLite(str(tmp_path / "b"))
    commit_batch(
        spark, synth_pages(spark, SynthConfig(n_urls=20)), t1, "s"
    )
    commit_batch(
        spark, synth_pages(spark, SynthConfig(n_urls=20, seed=43)), t2, "s"
    )
    h1 = set(t1.lineage(spark).toPandas()["feature_hash"])
    h2 = set(t2.lineage(spark).toPandas()["feature_hash"])
    assert h1 != h2


def test_time_travel_read(spark, tmp_path):
    """Iceberg-style VERSION AS OF over the manifest log: reading as of
    snapshot k returns exactly the rows committed by snapshots <= k."""
    from crawlfe.io import IcebergLite
    from crawlfe.pipeline import run_incremental
    from crawlfe.synth import SynthConfig, synth_pages

    cfg = SynthConfig(n_urls=60)
    tbl = IcebergLite(str(tmp_path / "tt"))
    batches = [
        (f"snap-{b}", synth_pages(spark, cfg, url_lo=b * 20,
                                  url_hi=(b + 1) * 20, n_partitions=2))
        for b in range(3)
    ]
    run_incremental(spark, batches, tbl)

    full = tbl.read(spark).count()
    n0 = tbl.read(spark, as_of="snap-0").count()
    n1 = tbl.read(spark, as_of="snap-1").count()
    want0 = batches[0][1].count()
    want1 = want0 + batches[1][1].count()
    assert n0 == want0
    assert n1 == want1
    assert full > n1
    # urls visible as of snap-0 are exactly the first batch's urls
    got_urls = {
        r[0] for r in tbl.read(spark, as_of="snap-0").select("url").distinct().collect()
    }
    want_urls = {
        r[0] for r in batches[0][1].select("url").distinct().collect()
    }
    assert got_urls == want_urls
    import pytest as _pt

    with _pt.raises(ValueError):
        tbl.data_files(as_of="snap-nope")


def _feat_dictionary_pages(tbl):
    """Per committed data file, whether its ``feat`` element chunks
    carry a dictionary page (one flag per row group)."""
    import pyarrow.parquet as pq

    out = []
    for path in tbl.data_files():
        md = pq.ParquetFile(path).metadata
        flags = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            (col,) = [
                rg.column(c) for c in range(rg.num_columns)
                if rg.column(c).path_in_schema == "feat.list.element"
            ]
            flags.append(col.has_dictionary_page)
        out.append(flags)
    return out


def test_compaction_preserves_rows_and_resume(spark, tmp_path):
    """compact() rewrites many small files into few, keeps every row
    and all lineage, and resume still sees the absorbed snapshots as
    committed (no reprocessing). Committed and compacted files store
    ``feat`` without a dictionary page."""
    from crawlfe.io import IcebergLite
    from crawlfe.pipeline import run_incremental
    from crawlfe.synth import SynthConfig, synth_pages

    cfg = SynthConfig(n_urls=60)
    tbl = IcebergLite(str(tmp_path / "cp"))
    batches = [
        (f"snap-{b}", synth_pages(spark, cfg, url_lo=b * 20,
                                  url_hi=(b + 1) * 20, n_partitions=3))
        for b in range(3)
    ]
    run_incremental(spark, batches, tbl)
    # materialize BEFORE compacting: lazy frames over the old files
    # would fail after compaction deletes them
    b = tbl.read(spark).select("url", "warc_ts").toPandas().sort_values(
        ["url", "warc_ts"], ignore_index=True
    )
    n_before = len(b)
    files_before = len(tbl.data_files())
    lineage_before = tbl.lineage(spark).count()
    pages = _feat_dictionary_pages(tbl)
    assert pages and all(f and not any(f) for f in pages), pages

    n_files = tbl.compact(spark, target_files=2)
    assert n_files == 2
    assert len(tbl.data_files()) == 2 < files_before
    pages = _feat_dictionary_pages(tbl)
    assert len(pages) == 2 and all(f and not any(f) for f in pages), pages
    after = tbl.read(spark)
    assert after.count() == n_before
    # value-level: same (url, warc_ts) multiset
    a = after.select("url", "warc_ts").toPandas().sort_values(
        ["url", "warc_ts"], ignore_index=True
    )
    assert (a["url"] == b["url"]).all()
    assert (a["warc_ts"] == b["warc_ts"]).all()
    assert tbl.lineage(spark).count() == lineage_before
    # resume: all three input snapshots still committed -> no-op rerun
    assert {"snap-0", "snap-1", "snap-2"} <= tbl.committed_snapshots()
    done = run_incremental(spark, batches, tbl)
    assert done == []
    assert tbl.read(spark).count() == n_before


def test_compaction_crash_before_cleanup_is_consistent(spark, tmp_path, monkeypatch):
    """Crash between the compacted-manifest commit and the cleanup of
    superseded manifests/files must leave readers on a single
    consistent view (the new one): manifests() filters manifests whose
    snapshot_id appears in a live 'replaces' list."""
    import os as _os

    from crawlfe.io import IcebergLite
    from crawlfe.pipeline import run_incremental
    from crawlfe.synth import SynthConfig, synth_pages

    cfg = SynthConfig(n_urls=40)
    tbl = IcebergLite(str(tmp_path / "cc"))
    batches = [
        (f"snap-{b}", synth_pages(spark, cfg, url_lo=b * 20,
                                  url_hi=(b + 1) * 20, n_partitions=2))
        for b in range(2)
    ]
    run_incremental(spark, batches, tbl)
    n_before = tbl.read(spark).count()
    n_manifest_files_before = len(_os.listdir(tbl.manifest_dir))

    # simulate dying in the cleanup phase: os.remove becomes a no-op
    monkeypatch.setattr(_os, "remove", lambda *_a, **_k: None)
    tbl.compact(spark, target_files=2)
    monkeypatch.undo()

    # superseded manifests are still on disk…
    assert len(_os.listdir(tbl.manifest_dir)) > n_manifest_files_before
    # …but readers see exactly the compacted view
    assert len(tbl.manifests()) == 1
    assert len(tbl.data_files()) == 2
    assert tbl.read(spark).count() == n_before
    assert {"snap-0", "snap-1"} <= tbl.committed_snapshots()
    # rerun is a no-op (resume unaffected by the crash)
    assert run_incremental(spark, batches, tbl) == []


def test_append_after_compaction_ordering(spark, tmp_path):
    """Regression (ADVICE r1, high): manifest sequence numbers must keep
    increasing past a compaction. With len()-based numbering the commit
    after compact() would write 000001.json below the compacted
    000003.json — breaking sorted-filename==commit-order — and a later
    commit would silently overwrite the compacted manifest, dropping
    every pre-compaction row."""
    import os as _os

    from crawlfe.io import IcebergLite
    from crawlfe.pipeline import run_incremental
    from crawlfe.synth import SynthConfig, synth_pages

    cfg = SynthConfig(n_urls=80)
    tbl = IcebergLite(str(tmp_path / "ac"))
    mk = lambda b: (  # noqa: E731
        f"snap-{b}",
        synth_pages(spark, cfg, url_lo=b * 20, url_hi=(b + 1) * 20,
                    n_partitions=2),
    )
    run_incremental(spark, [mk(0), mk(1), mk(2)], tbl)
    tbl.compact(spark, target_files=2)
    n_compacted = tbl.read(spark).count()

    # commits AFTER compaction must not renumber below / clobber it
    run_incremental(spark, [mk(3)], tbl)
    names = sorted(
        n for n in _os.listdir(tbl.manifest_dir) if n.endswith(".json")
    )
    seqs = [int(n.split(".")[0]) for n in names]
    assert seqs == sorted(seqs) and len(seqs) == len(set(seqs))
    # the post-compaction commit sorts AFTER the compacted manifest
    assert len(tbl.manifests()) == 2
    assert [m["input_snapshot"] for m in tbl.manifests()][-1] == "snap-3"
    # no rows lost, snap-3 rows added
    n_after = tbl.read(spark).count()
    assert n_after > n_compacted
    assert {"snap-0", "snap-1", "snap-2", "snap-3"} <= tbl.committed_snapshots()
    # time travel to the compacted state still resolves correctly
    comp_id = tbl.manifests()[0]["snapshot_id"]
    assert len(tbl.data_files(as_of=comp_id)) == 2
    # another compact + another append keeps monotone ordering
    tbl.compact(spark, target_files=1)
    run_incremental(spark, [mk(4)], tbl)
    assert tbl.read(spark).count() > n_after
    assert [m["input_snapshot"] for m in tbl.manifests()][-1] == "snap-4"


def test_concurrent_commits_never_overwrite(spark, tmp_path):
    """Two writers committing simultaneously must land on DISTINCT
    manifest sequence numbers (os.link refuses collisions and the
    publisher retries with the next seq) — both snapshots visible,
    no rows lost."""
    import threading

    from crawlfe.io import IcebergLite
    from crawlfe.synth import SynthConfig, synth_pages

    tbl = IcebergLite(str(tmp_path / "cc2"))
    cfg = SynthConfig(n_urls=40)
    stages = [
        (f"snap-t{i}",
         tbl.stage(synth_pages(spark, cfg, url_lo=i * 20,
                               url_hi=(i + 1) * 20, n_partitions=2)))
        for i in range(4)
    ]
    errs = []

    def commit(snap, path):
        try:
            tbl.commit(path, snap)
        except Exception as e:  # pragma: no cover - should not happen
            errs.append((snap, e))

    threads = [
        threading.Thread(target=commit, args=s) for s in stages
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    names = sorted(
        n for n in os.listdir(tbl.manifest_dir) if n.endswith(".json")
    )
    seqs = [int(n.split(".")[0]) for n in names]
    assert len(seqs) == 4 and len(set(seqs)) == 4
    assert tbl.committed_snapshots() == {f"snap-t{i}" for i in range(4)}
    # every staged row landed exactly once: the 4 batches tile urls
    # [0, 80), so the table must equal one generation of that range
    want = synth_pages(spark, cfg, url_lo=0, url_hi=80).count()
    assert tbl.read(spark).count() == want > 0


def test_schema_evolution_read(spark, tmp_path):
    """Iceberg add-column analog: a later snapshot carries an extra
    column; merge_schema=True unions by name with null-fill for the
    old rows, plain read keeps working, and time travel to the
    pre-evolution snapshot shows the original schema."""
    import pandas as pd

    from crawlfe.io import IcebergLite

    tbl = IcebergLite(str(tmp_path / "tbl"))
    tbl.append(
        spark.createDataFrame(pd.DataFrame({"url": ["a", "b"], "n": [1, 2]})),
        input_snapshot="snap-0",
    )
    tbl.append(
        spark.createDataFrame(
            pd.DataFrame({"url": ["c"], "n": [3], "lang": ["en"]})
        ),
        input_snapshot="snap-1",
    )
    evolved = tbl.read(spark, merge_schema=True)
    assert set(evolved.columns) == {"url", "n", "lang"}
    got = {r["url"]: r["lang"] for r in evolved.collect()}
    assert got == {"a": None, "b": None, "c": "en"}
    # time travel to before the evolution: original two-column schema
    old = tbl.read(spark, as_of="snap-0", merge_schema=True)
    assert set(old.columns) == {"url", "n"}
    assert old.count() == 2
