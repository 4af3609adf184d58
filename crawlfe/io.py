"""iceberg-lite: local parquet-directory table with atomic snapshot
commits, manifest-embedded lineage, and exactly-once resume.

No Iceberg runtime jar exists in the sandbox (SURVEY.md §1.3), so the
table format hides behind this shim. ``IcebergLite`` is the only table
class; no catalog-backed class ships. In production its call sites
become ``df.writeTo(catalog.table).append()`` (an Iceberg snapshot
commit). Locally a commit is: write parquet to ``_staging/<uuid>/`` →
hard-rename data files into ``data/`` → atomically rename a JSON
manifest into ``_manifest/``. Readers list committed manifests and pass
the explicit data-file list to ``spark.read.parquet`` — uncommitted
staging files are invisible, exactly like an Iceberg snapshot.

Lineage + resume (BASELINE.json:6): each manifest embeds the per-
partition lineage rows (partition id, first/last row offset, n_rows,
order-independent feature hash, html and text bytes, empty-text docs)
for the data it commits, keyed by ``input_snapshot``. Because lineage
lives INSIDE the atomic manifest, "features visible" and "lineage
recorded" cannot diverge: a crash before the manifest rename leaves only
invisible staging files, and a rerun redoes exactly the uncommitted
input snapshots (tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# a manifest written before lineage carried html/text bytes and the
# empty-text count reads them as null
_LINEAGE_SCHEMA = (
    "partition_id int, input_snapshot string, first_offset long, "
    "last_offset long, n_rows long, feature_hash string, html_bytes long, "
    "text_bytes long, empty_text long, extract_fallback long, "
    "committed_at string"
)

# The features table's ``feat`` doubles almost never repeat, so a
# dictionary page for them costs write time and bytes for nothing (on a
# 4-snapshot featurized table it made the files 22 % larger). A writer
# option reaches the parquet writer under spark-submit too, where confs
# are set after the session starts; it is a no-op for a table without
# ``feat``.
_WRITE_OPTIONS = {"parquet.enable.dictionary#feat.list.element": "false"}


class IcebergLite:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "_manifest")
        self.staging_dir = os.path.join(path, "_staging")
        for d in (self.data_dir, self.manifest_dir, self.staging_dir):
            os.makedirs(d, exist_ok=True)

    # -- read side ---------------------------------------------------------

    def manifests(self) -> list[dict]:
        """Live manifests in commit order. A compacted manifest lists
        the snapshot_ids it absorbed in ``replaces``; any manifest so
        named is superseded and filtered out — the compaction commit
        point is thus the single rename of the compacted manifest, and
        a crash before old-manifest cleanup leaves both on disk with
        readers still seeing exactly one consistent state."""
        raw = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    raw.append(json.load(f))
        replaced = {
            sid for m in raw for sid in m.get("replaces", [])
        }
        return [m for m in raw if m["snapshot_id"] not in replaced]

    def data_files(self, as_of: str | None = None) -> list[str]:
        """Data files of the table; with ``as_of`` (a snapshot_id or an
        input_snapshot name), only files committed up to and including
        that snapshot — Iceberg-style time travel over the manifest
        log."""
        files: list[str] = []
        for m in self.manifests():
            files.extend(os.path.join(self.data_dir, f) for f in m["files"])
            if as_of is not None and as_of in (
                m["snapshot_id"], m["input_snapshot"]
            ):
                return files
        if as_of is not None:
            raise ValueError(f"unknown snapshot: {as_of}")
        return files

    def committed_snapshots(self) -> set[str]:
        out: set[str] = set()
        for m in self.manifests():
            out.add(m["input_snapshot"])
            # a compacted manifest still vouches for the input
            # snapshots it absorbed (resume must not redo them)
            out.update(m.get("compacted_from", []))
        return out

    def read(
        self,
        spark: SparkSession,
        as_of: str | None = None,
        merge_schema: bool = False,
    ) -> DataFrame | None:
        """Current table state, or (time travel) the state as of a
        committed snapshot — ≅ Iceberg ``VERSION AS OF``.

        ``merge_schema=True`` is the schema-evolution read (≅ Iceberg
        add-column): snapshots written with extra columns union by
        name and older rows null-fill. The emulation pays a
        footer-read per file (Spark ``mergeSchema``); the production
        Iceberg path resolves the schema from table metadata for
        free, so callers should only pass it when the table is known
        to have evolved."""
        files = self.data_files(as_of)
        if not files:
            return None
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files)

    def lineage(self, spark: SparkSession) -> DataFrame | None:
        """The metrics/lineage table, reconstructed from manifests."""
        rows = []
        for m in self.manifests():
            for r in m["lineage"]:
                rows.append(
                    {
                        **r,
                        "input_snapshot": m["input_snapshot"],
                        "committed_at": m["committed_at"],
                    }
                )
        if not rows:
            return None
        return spark.createDataFrame(rows, _LINEAGE_SCHEMA).withColumn(
            "committed_at", F.col("committed_at").cast("timestamp")
        )

    # -- write side --------------------------------------------------------

    def _next_seq(self) -> int:
        """Next manifest sequence number: 1 + max existing, NOT a count.
        compact() deletes superseded manifests, so len()-based numbering
        would restart below the compacted manifest and eventually
        silently overwrite it (breaking the sorted-filename==commit-order
        invariant manifests()/data_files(as_of) rely on)."""
        mx = -1
        for name in os.listdir(self.manifest_dir):
            stem, ext = os.path.splitext(name)
            if ext == ".json" and stem.isdigit():
                mx = max(mx, int(stem))
        return mx + 1

    def _publish_manifest(self, manifest: dict) -> None:
        """Atomic, overwrite-refusing manifest commit: hard-link the tmp
        file to the sequenced name (os.link fails with EEXIST instead of
        clobbering, unlike os.rename), retrying with the next sequence
        on a race."""
        tmp = os.path.join(
            self.manifest_dir, f".tmp-{manifest['snapshot_id']}"
        )
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        while True:
            dst = os.path.join(
                self.manifest_dir, f"{self._next_seq():06d}.json"
            )
            try:
                os.link(tmp, dst)
                break
            except FileExistsError:  # pragma: no cover - writer race
                continue
        os.unlink(tmp)

    def stage(self, df: DataFrame) -> str:
        """Write df's parquet files to a staging dir (invisible to read())
        and return the staging path. Idempotent to abandon: a crash here
        leaves only orphan staging files, never partial table state."""
        stage = os.path.join(self.staging_dir, f"snap-{uuid.uuid4().hex}")
        df.write.options(**_WRITE_OPTIONS).mode("overwrite").parquet(stage)
        return stage

    def _move_staged(self, stage_path: str) -> list[str]:
        """Hard-rename every staged ``*.parquet`` into data/ under a uuid
        prefix and return the new names. The files stay invisible until
        a manifest naming them is published."""
        moved = []
        for name in sorted(os.listdir(stage_path)):
            if not name.endswith(".parquet"):
                continue
            dst = f"{uuid.uuid4().hex}-{name}"
            os.rename(
                os.path.join(stage_path, name), os.path.join(self.data_dir, dst)
            )
            moved.append(dst)
        return moved

    def commit(
        self,
        stage_path: str,
        input_snapshot: str,
        lineage_rows: list[dict] | None = None,
    ) -> str:
        """Atomically publish a staged write: hard-rename data files into
        data/, then rename the JSON manifest (data+lineage) into place —
        the manifest rename is the commit point."""
        if input_snapshot in self.committed_snapshots():
            raise ValueError(f"snapshot already committed: {input_snapshot}")
        moved = self._move_staged(stage_path)
        manifest = {
            "snapshot_id": uuid.uuid4().hex,
            "input_snapshot": input_snapshot,
            "files": moved,
            "lineage": lineage_rows or [],
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }
        self._publish_manifest(manifest)
        shutil.rmtree(stage_path, ignore_errors=True)
        return manifest["snapshot_id"]

    def append(
        self, df: DataFrame, input_snapshot: str,
        lineage_rows: list[dict] | None = None,
    ) -> str:
        return self.commit(self.stage(df), input_snapshot, lineage_rows)

    def compact(self, spark: SparkSession, target_files: int = 8) -> int:
        """Table maintenance (≅ Iceberg rewrite_data_files): rewrite all
        committed data into ``target_files`` files under one manifest.

        Crash-safe commit protocol — the ONLY state transition is the
        atomic rename of the compacted manifest into the manifest dir:
          1. compacted data files written to staging, hard-renamed into
             data/ (invisible: no manifest references them yet);
          2. the compacted manifest — carrying ALL lineage rows and a
             ``replaces`` list of the absorbed snapshot_ids — is
             renamed into place (COMMIT: readers now filter the
             superseded manifests via ``manifests()``);
          3. cleanup: superseded manifests + their data files deleted
             (a crash before cleanup leaves harmless garbage, never an
             inconsistent view).
        Time travel across pre-compaction snapshots is forfeited (as
        with Iceberg snapshot expiry). Returns the new file count.
        """
        manifests = self.manifests()
        if not manifests:
            return 0
        df = self.read(spark)
        stage = os.path.join(self.staging_dir, f"compact-{uuid.uuid4().hex}")
        df.repartition(target_files).write.options(**_WRITE_OPTIONS).parquet(
            stage
        )
        all_lineage = [r for m in manifests for r in m["lineage"]]
        snap_names = [m["input_snapshot"] for m in manifests]
        old_ids = [m["snapshot_id"] for m in manifests]
        old_files = self.data_files()
        # 1. publish data files (invisible until the manifest commit)
        moved = self._move_staged(stage)
        manifest = {
            "snapshot_id": uuid.uuid4().hex,
            "input_snapshot": "+".join(snap_names),
            "compacted_from": snap_names,
            "replaces": old_ids,
            "files": moved,
            "lineage": all_lineage,
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }
        # 2. COMMIT: single atomic link-in (seq = max+1, overwrite-safe)
        self._publish_manifest(manifest)
        # 3. cleanup superseded manifests + data (crash here is benign)
        for name in list(os.listdir(self.manifest_dir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self.manifest_dir, name)) as f:
                if json.load(f)["snapshot_id"] in old_ids:
                    os.remove(os.path.join(self.manifest_dir, name))
        for f0 in old_files:
            try:
                os.remove(f0)
            except OSError:
                pass
        shutil.rmtree(stage, ignore_errors=True)
        return len(moved)
