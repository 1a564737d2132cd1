"""Iceberg-style snapshot warehouse: Parquet data files + atomic JSON manifests.

No Iceberg runtime jar ships in this container (SURVEY.md §7.4), so the engine
emulates the properties the north_rule actually needs — atomic append snapshots,
resumability from the latest committed snapshot, per-snapshot lineage counters —
with plain Parquet directories plus a JSON manifest per snapshot committed via
write-temp-then-rename (atomic on POSIX). Swapping in real Iceberg is a sink-layer
change only: `write_table` → `df.writeTo(...).append()` and `manifest` → Iceberg's
own snapshot metadata.

Manifest shape:
{
  "snapshot_id": 3, "parent": 2, "wave_no": 3, "next_sample_id": 1234,
  "tables":   {"frontier": ["tables/frontier/snap000003"], "pairs_out": [<all appended dirs>]},
  "counters": {"candidates": 100, "scheduled": 80, ...},
  "lineage":  {"scheduled": [{"partition_id": 0, "n": 13}, ...]}
}

A table is OVERWRITE-versioned (frontier, seen_keys, retry_keys, bloom, cuckoo):
the manifest points at exactly one directory. `pairs_out` is an APPEND table:
the manifest carries the full list of data directories, so a read is a
multi-path parquet scan and an uncommitted wave's files are simply invisible
(crash-safe exactly-once, replacing the reference's wipe-and-rerun idempotence,
crawlingathome.py:221-225).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

APPEND_TABLES = frozenset({"pairs_out"})


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this snapshot id first (optimistic concurrency)."""


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)

    # -- manifests ----------------------------------------------------------
    def _snap_path(self, snap_id: int) -> str:
        return os.path.join(self.root, "snapshots", f"{snap_id:06d}.json")

    # tmp files older than this are crash leftovers; younger ones may belong to
    # a LIVE writer mid-commit and must never be swept (a sweep would turn that
    # writer's hardlink into FileNotFoundError)
    TMP_GC_AGE_SECONDS = 3600.0

    def latest(self) -> dict | None:
        """Latest COMMITTED manifest. Only `*.json` counts: a crash between
        writing a commit tmp and linking it leaves a stale tmp that must never
        be resumed from (it sorts after the last committed .json); tmps older
        than TMP_GC_AGE_SECONDS are garbage-collected (age-gated so a live
        concurrent writer's in-flight tmp is left alone)."""
        import time

        snap_dir = os.path.join(self.root, "snapshots")
        entries = sorted(os.listdir(snap_dir))
        now = time.time()
        for stale in (e for e in entries if e.endswith(".tmp")):
            p = os.path.join(snap_dir, stale)
            try:
                if now - os.path.getmtime(p) > self.TMP_GC_AGE_SECONDS:
                    os.unlink(p)
            except OSError:
                pass
        snaps = [e for e in entries if e.endswith(".json")]
        if not snaps:
            return None
        with open(os.path.join(snap_dir, snaps[-1])) as f:
            return json.load(f)

    def manifest(self, snap_id: int) -> dict | None:
        """Time travel: load a specific committed snapshot's manifest (pass it
        to read_table to query the warehouse AS OF that snapshot — Iceberg's
        `VERSION AS OF`, manifest-file style)."""
        path = self._snap_path(snap_id)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def committed(self) -> list[dict]:
        """All committed manifests, oldest → newest."""
        snap_dir = os.path.join(self.root, "snapshots")
        out = []
        for name in sorted(os.listdir(snap_dir)):
            if name.endswith(".json"):
                with open(os.path.join(snap_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def gc(self, keep_last: int = 2, grace_seconds: float = 3600.0) -> list[str]:
        """Expire old snapshots (Iceberg `expireSnapshots` analog): keep the
        newest `keep_last` manifests, delete every table directory no kept
        manifest references, then drop the expired manifests. The append table
        (pairs_out) survives automatically — the latest manifest carries its
        full directory history. Returns the deleted rel paths. The expired
        manifests take their waves' counters, lineage and timing with them,
        so `plans/job.py::read_metrics` then covers only the kept snapshots,
        as Iceberg's `snapshots` metadata table does.

        Safe vs concurrent readers of the KEPT snapshots only — like Iceberg,
        expiring a snapshot invalidates time travel to it. Directories younger
        than `grace_seconds` are never deleted: an IN-FLIGHT wave's freshly
        written (not yet committed) table dirs are unreferenced by any manifest
        and would otherwise be reaped from under the writer (Iceberg's
        orphan-file removal uses the same age-gate convention)."""
        import time

        manifests = self.committed()
        # the orphan-dir sweep always runs (a PREVIOUS gc may have expired
        # manifests while the grace gate skipped their then-young dirs; only a
        # later sweep can reclaim those orphans even with no new commits)
        kept = manifests[-keep_last:] if len(manifests) > keep_last else manifests
        referenced = {
            rel for m in kept for paths in m["tables"].values() for rel in paths
        }
        deleted = []
        now = time.time()
        tables_root = os.path.join(self.root, "tables")
        for table in sorted(os.listdir(tables_root)):
            tdir = os.path.join(tables_root, table)
            for snap in sorted(os.listdir(tdir)):
                rel = os.path.join("tables", table, snap)
                full = os.path.join(self.root, rel)
                if rel in referenced:
                    continue
                try:
                    young = now - os.path.getmtime(full) < grace_seconds
                except OSError:
                    continue
                if young:
                    continue
                shutil.rmtree(full)
                deleted.append(rel)
        if len(manifests) > keep_last:
            for m in manifests[:-keep_last]:
                os.unlink(self._snap_path(m["snapshot_id"]))
        return deleted

    def compact_appends(
        self, spark: SparkSession, name: str, target_partitions: int | None = None
    ) -> dict | None:
        """Rewrite an append table's many per-wave directories into one
        (Iceberg `rewrite_data_files` analog) and commit a maintenance
        snapshot pointing at the compacted dir. Thousands of waves otherwise
        leave thousands of small dirs — a small-files problem at scan time.
        Returns the new manifest (None if there is nothing to compact).
        Old dirs stay on disk until gc() expires the pre-compaction snapshots."""
        parent = self.latest()
        if parent is None or len(parent["tables"].get(name, [])) <= 1:
            return None
        df = self.read_table(spark, parent, name)
        if target_partitions:
            df = df.repartition(target_partitions)
        manifest = self.new_manifest(parent)
        manifest["maintenance"] = f"compact:{name}"
        # a maintenance snapshot changes ONE table and carries every other
        # pointer forward verbatim (new_manifest only carries append tables)
        manifest["tables"] = {k: list(v) for k, v in parent["tables"].items()}
        manifest["tables"][name] = [
            self.write_table(df, name, manifest["snapshot_id"])
        ]
        manifest["counters"] = dict(parent.get("counters", {}))
        self.commit(manifest)
        return manifest

    def commit(self, manifest: dict) -> None:
        """Atomic AND optimistic: the snapshot exists iff the link completed,
        and a concurrent committer of the same snapshot id fails loudly
        (first-writer-wins via hardlink-if-absent — Iceberg's optimistic
        concurrency at manifest granularity; os.replace would silently
        last-write-win and orphan the first writer's data files)."""
        path = self._snap_path(manifest["snapshot_id"])
        # Retry loop: a writer stalled longer than TMP_GC_AGE_SECONDS between
        # fsync and link can have its tmp swept by a concurrent reader's
        # age-gated gc (latest()); the link then raises FileNotFoundError.
        # Re-writing the tmp and retrying turns that rare race into a clean
        # commit instead of a lost wave.
        for attempt in range(3):
            # WRITER-UNIQUE tmp name: a shared `path + .tmp` would let a
            # concurrent committer truncate this writer's bytes between fsync
            # and link (torn / swapped manifest committed under this writer's
            # success)
            tmp = f"{path}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1, sort_keys=True)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)  # atomic, fails with EEXIST if already committed
                return
            except FileExistsError as e:
                raise ConcurrentCommitError(
                    f"snapshot {manifest['snapshot_id']} was committed by another writer"
                ) from e
            except FileNotFoundError:
                if attempt == 2:
                    raise
                continue  # tmp swept mid-commit — rewrite and retry
            finally:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass

    # -- tables --------------------------------------------------------------
    def write_table(self, df: DataFrame, name: str, snap_id: int) -> str:
        """Write a table version into a WRITER-UNIQUE directory and return its
        rel path for the manifest. The uuid suffix is load-bearing for
        concurrent writers: two drivers racing the same snapshot id would
        otherwise write the SAME directory, and the loser's mode("overwrite")
        deletes the winner's in-flight (or even committed) files — found by
        tests/test_concurrent_writers.py. Readers only ever follow manifest
        pointers (never guess paths), so the loser's directory is simply an
        orphan that gc()'s age-gated unreferenced-dir sweep reclaims — the
        same convention Iceberg uses for uncommitted data files."""
        rel = os.path.join("tables", name, f"snap{snap_id:06d}-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return rel

    def table_paths(self, manifest: dict | None, name: str) -> list[str]:
        if manifest is None:
            return []
        return [os.path.join(self.root, rel) for rel in manifest["tables"].get(name, [])]

    def read_table(
        self,
        spark: SparkSession,
        manifest: dict | None,
        name: str,
        schema: StructType | str | None = None,
    ) -> DataFrame | None:
        """DataFrame over all committed data dirs of `name`; None if absent.

        When `schema` is given it is applied to the scan too, not just the
        empty case: schema inference reads parquet footers in a driver-side
        job per read, and a committed wave does 4-6 state reads — with the
        schemas known statically that is pure constant overhead."""
        paths = self.table_paths(manifest, name)
        if not paths:
            if schema is not None:
                return spark.createDataFrame([], schema)
            return None
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def new_manifest(self, parent: dict | None) -> dict:
        if parent is None:
            return {
                "snapshot_id": 0,
                "parent": None,
                "wave_no": 0,
                "next_sample_id": 0,
                "tables": {},
                "counters": {},
                "lineage": {},
            }
        m = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent": parent["snapshot_id"],
            "wave_no": parent["wave_no"],
            "next_sample_id": parent["next_sample_id"],
            # append tables carry history forward; overwrite tables get replaced
            "tables": {k: list(v) for k, v in parent["tables"].items() if k in APPEND_TABLES},
            # cumulative shard history rides EVERY manifest so resume stays
            # correct after gc() expires the manifests that first recorded them
            "completed_shards": list(parent.get("completed_shards", [])),
            "counters": {},
            "lineage": {},
        }
        return m
