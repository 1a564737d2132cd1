"""Job loop: the reference's `while True: newJob → 2 shards → complete` cycle
(crawlingathome.py:210-265) as a driver loop over wave snapshots.

No tracker exists: the shard list IS the job queue, and the warehouse manifest
IS the completion record. A crash anywhere resumes from the last committed
snapshot (tested in tests/test_state.py); re-running a committed shard is a
no-op for state tables because every key-add is idempotent and pairs_out
append dirs are manifest-gated.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..state.snapshots import Warehouse
from .wave import run_wave


def run_job(
    spark: SparkSession,
    wh: Warehouse,
    cfg: EngineConfig,
    shards: Iterable[DataFrame],
    pairs: DataFrame,
    robots: DataFrame,
    drain_waves: int = 0,
    collect_lineage: bool = False,
) -> list[dict]:
    """Process every WAT shard as one wave each, then `drain_waves` extra waves
    with no new input (flushing the deferred frontier through politeness).

    Resume skips shards whose shard_key appears in a COMMITTED manifest — not
    wave_no, which drain waves also advance (a wave_no-keyed resume would
    silently skip unprocessed shards after a drain-containing run). The caller
    contract is the reference's tracker contract: the shard sequence is stable
    across restarts (crawlingathome.py:216-217 — the tracker hands out jobs in
    a fixed order)."""
    manifests = []
    # latest manifest carries the CUMULATIVE shard history (survives gc-expiry
    # of the manifests that first recorded them); per-manifest shard_keys are
    # unioned in for warehouses written before the cumulative field existed
    latest = wh.latest()
    done = set((latest or {}).get("completed_shards", []))
    committed = wh.committed()
    done |= {m.get("shard_key") for m in committed} - {None}
    has_bookkeeping = any("shard_key" in m or "completed_shards" in m for m in committed)
    if latest is not None and latest.get("wave_no", 0) > 0 and not has_bookkeeping:
        # Migration guard: a warehouse with committed input waves but NO shard
        # bookkeeping FIELDS anywhere was written by a pre-shard_key version —
        # a silent resume would reprocess every shard and append duplicate rows
        # to pairs_out. Fail loudly instead of guessing (wave_no is ambiguous
        # once drain waves enter the history; drain manifests carry
        # shard_key=None, so field PRESENCE is the discriminator).
        raise RuntimeError(
            f"warehouse {wh.root} has {latest['wave_no']} committed wave(s) but no "
            "shard_key/completed_shards records (written by a pre-shard_key version); "
            "resuming would duplicate output — start a fresh warehouse, or re-commit "
            "a manifest carrying 'completed_shards' for the already-processed shards"
        )
    for i, shard in enumerate(shards, start=1):
        key = f"shard-{i:06d}"
        if key in done:  # already committed by a previous run — resume semantics
            continue
        manifests.append(
            run_wave(
                spark, wh, cfg, pairs, robots, shard,
                collect_lineage=collect_lineage, shard_key=key,
            )
        )
    for _ in range(drain_waves):
        manifests.append(
            run_wave(spark, wh, cfg, pairs, robots, None, collect_lineage=collect_lineage)
        )
    return manifests


def read_metrics(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """Tidy counters of the committed waves: (wave_no, counter, partition_id,
    value), read from the manifests, as Iceberg serves per-snapshot numbers
    from snapshot metadata. partition_id = -1 rows are wave totals (the
    `counters`, the `timing` totals, `bloom_fill_ppm`); ≥ 0 rows are the
    per-partition `lineage` (north_rule A1). Manifests without `timing`
    (maintenance snapshots, a seeded snapshot 0) are not waves and add no
    rows. The view covers the snapshots `Warehouse.gc` kept."""
    rows = []
    for m in wh.committed():
        if "timing" not in m:
            continue
        w, t = m["wave_no"], m["timing"]
        totals = dict(m["counters"], prep_ms=round(t["prep_s"] * 1000),
                      status_ms=round(t["status_s"] * 1000))
        # a manifest written before a total existed reports no row for it
        totals.update((k, t[k]) for k in ("codegen_compiles", "count_fallbacks") if k in t)
        if "bloom_fill_ratio" in m:
            totals["bloom_fill_ppm"] = round(m["bloom_fill_ratio"] * 1_000_000)
        rows += [(w, k, -1, int(v)) for k, v in totals.items()]
        for stage, parts in m["lineage"].items():
            rows += [(w, stage, p["partition_id"], p["n"]) for p in parts]
    df = spark.createDataFrame(rows, "wave_no int, counter string, partition_id int, value long")
    return df.orderBy("wave_no", "counter", "partition_id")
