"""Contiguous sample-ID assignment (W1) without a single-partition window.

The reference assigns sample IDs by a driver-side counter seeded from the
tracker's start_id (crawlingathome.py:118, 144-146, 227). A naive Spark port is
`row_number().over(Window.orderBy(...))` — a ONE-PARTITION window that serializes
the whole wave through a single task and cannot scale (SURVEY.md §7.4).

Plan here (and why there is NO second shuffle of the data):
1. range-repartition by the ordering key and sort within partitions — the only
   full shuffle; ascending key ranges land in ascending partition ids;
2. `monotonically_increasing_id()` right after the sort gives ids that are
   consecutive WITHIN each partition in sorted order, so
   `mid - min(mid per partition)` is the local 0-based rank — computed with a
   tiny P-row aggregate + broadcast join instead of a Window.partitionBy(_pid)
   (which would re-Exchange every row on _pid: Catalyst cannot know the data is
   already co-located by partition id);
3. per-partition row counts cumsum into offsets DRIVER-SIDE (P rows — the
   same P rows a broadcast would collect anyway), then createDataFrame +
   broadcast back. A Window.orderBy cumsum — even with partitionBy(lit(0)) —
   plans a partition-less WindowExec on Spark 4 (EliminateWindowPartitions
   folds the foldable key away) and warns on every wave; Python over P ints
   is strictly cheaper than a WindowExec and warning-free.

sample_id = offset[pid] + local_rank + 1, where offset[pid] = start_id + the
rows of the partitions before pid — first id is start_id + 1, matching the
reference's pre-increment.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def assign_sample_ids(
    df: DataFrame,
    start_id: int,
    order_cols: tuple[str, ...] = ("priority_key", "url"),
    id_col: str = "sample_id",
    num_partitions: int | None = None,
    persist: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Add `id_col` = start_id + global rank (1-based) in order_cols order.

    The returned DataFrame is persisted (the range shuffle samples its input and
    monotonically_increasing_id is assignment-order-dependent; the persist pins
    one deterministic materialization for all downstream actions). `persist`,
    when given, persists that frame instead and takes ownership of it — a
    caller that owns its resources (run_wave's ledger) then releases it even
    when this call fails after the persist; otherwise unpersist_sample_ids
    releases it.
    """
    sess = df.sparkSession
    p = num_partitions or int(sess.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) for c in order_cols]
    rdf = (
        df.repartitionByRange(p, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    rdf = persist(rdf) if persist is not None else rdf.persist(StorageLevel.MEMORY_AND_DISK)
    stats = (
        rdf.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.min("_mid").alias("_mmin"))
        .collect()
    )
    # Cumsum the P per-partition counts on the DRIVER: the broadcast join below
    # collects these P rows anyway, and any window formulation plans a
    # partition-less WindowExec (Spark 4's EliminateWindowPartitions folds a
    # foldable partitionBy key away, so even partitionBy(lit(0)) still warns
    # "No Partition Defined" every wave). P ≈ shuffle partition count — Python
    # arithmetic over P ints, no Spark job beyond the stats aggregate.
    # start_id rides the broadcast offsets, not a literal in the projection:
    # a literal compiles a new codegen class for every start_id (every wave).
    stats.sort(key=lambda r: r["_pid"])
    off_rows, acc = [], start_id
    for r in stats:
        off_rows.append((int(r["_pid"]), int(r["_mmin"]), acc))
        acc += int(r["_cnt"])
    offsets = sess.createDataFrame(off_rows, "_pid int, _mmin bigint, _off bigint")
    out = (
        rdf.join(F.broadcast(offsets), "_pid")
        .withColumn(
            id_col,
            F.col("_off") + (F.col("_mid") - F.col("_mmin")) + F.lit(1),
        )
        .drop("_pid", "_mid", "_mmin", "_off")
    )
    # Expose the persisted intermediate so long-running loops (run_wave, the
    # streaming front-end) can unpersist it once the wave's actions are done —
    # otherwise cached RDDs accumulate until GC-driven cleanup.
    out._sample_id_cache = rdf
    return out


def unpersist_sample_ids(df: DataFrame) -> None:
    """Release the cache pinned by assign_sample_ids (no-op on other frames)."""
    cached = getattr(df, "_sample_id_cache", None)
    if cached is not None:
        cached.unpersist()
