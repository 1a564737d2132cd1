"""SparkSession factory with scale-appropriate defaults.

Sandbox runs local[N] single-JVM; the config choices (AQE, skew-join handling,
Arrow execution, shuffle-partition sizing) are the ones that matter on a real
1000-executor cluster too — nothing here is local-mode-only.

A wave is ~45 small Spark jobs, so at fixture scale its time is fixed CPU per
job and per task, not data work. Two settings remove platform costs the engine
never asked for, without changing a plan or a result:

- a whole-stage-codegen cache that holds every class a wave compiles, so the
  next wave reuses them instead of compiling them again (`codegen_compiles`
  counts the compiles);
- the engine's Python worker daemon (`worker_daemon.py`), whose workers do not
  re-read every zip archive on their path at the start of each task. Workers
  import it from the package, so `get_spark` puts the package's parent
  directory on the workers' PYTHONPATH.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Compiled whole-stage-codegen classes the JVM keeps (Spark's default is 100).
# A wave runs ~180 distinct classes, so at 100 each wave evicted the classes
# the next wave reuses and recompiled ~170 of them. Distinct classes measured
# with an unbounded cache: 199 in a perfbench crawl run, 457 in a traced one,
# 113 in a dedup run, 438 in the sf0.1 bench.py suite. 2000 holds several
# times the largest; a warm wave adds ~4 classes of its own literals, which
# are never reused and so are the ones LRU evicts.
CODEGEN_CACHE_ENTRIES = 2000

# The package's parent directory: the worker daemon module must be importable
# by Python workers whatever the driver's working directory is.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_count() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_memory() -> str:
    """$SPARK_DRIVER_MEM, else half of physical memory capped at 16g: a heap
    sized for a bigger host gets the JVM killed by the OOM killer instead of
    spilling."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_DRIVER_MEM") or f"{min(phys_mb // 2, 16 * 1024)}m"


def codegen_compiles(spark: SparkSession) -> int:
    """Whole-stage-codegen compiles so far (`CodegenMetrics`). The counter is
    JVM-wide: every session and thread of the driver JVM adds to it."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _ship_package_path(spark: SparkSession) -> None:
    """Add the package's parent directory to the workers' PYTHONPATH. The
    context's `environment` holds `spark.executorEnv.*` and is shipped with
    every Python function to the worker daemon; an existing entry is kept."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, _PACKAGE_PARENT])


def get_spark(
    app_name: str = "crawlingathome-worker-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = worker_count()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    )
    # Shuffle/spill files on tmpfs when available: this node has far more RAM
    # than the working set, and the default /tmp sits on a virtual disk whose
    # bandwidth flatlines multi-core scaling the moment a wide shuffle (e.g.
    # the image-bytes fetch join) spills. On a real cluster this is "point
    # spark.local.dir at NVMe", the same knob.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime coalescing + skew-join splitting; on a real
        # cluster this is what absorbs hot-host and hot-key skew after our salting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # All Python boundaries are Arrow-batched (input_hint mandate).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one Arrow batch per task where possible: measured ~1.9× decode-stage
        # throughput vs 10k-row batches (fewer IPC flushes; batches are bounded
        # by partition row counts anyway)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # Broadcast threshold: 16 MB STATIC estimate (round 6, was 64 MB).
        # File-source estimates scale the file size by the pruned-column
        # ratio, so at 64 MB a column-pruned multi-million-row FACT table
        # passed the static test: TPC-H Q5's plan broadcast the 1.5M-row
        # orders AND the 6M-row lineitem scans (driver collect + giant hash
        # relations — the dominant cost of the query, and an OOM risk at any
        # real scale). 16 MB keeps genuine dim tables (robots, nation,
        # customer slices) broadcasting; anything bigger must earn a
        # broadcast through AQE's RUNTIME size (adaptive threshold below) —
        # measured post-shuffle bytes, not an estimate, so a filtered join
        # side that is actually small still promotes to broadcast.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_BROADCAST_THRESHOLD", str(16 * 1024 * 1024)),
        )
        # Allow shuffled-hash joins where the per-partition build side fits
        # (guide §3.1/§9): skips the two sort passes of sort-merge. The AQE
        # threshold converts a planned sort-merge to shuffled-hash at runtime
        # from MEASURED map sizes. A/B on TPC-H Q3/Q5 at sf1.0: ~8-10% off
        # the join stages; equivalence guaranteed (same join, no sort).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", _driver_memory())
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", "crawlingathome_worker_spark.worker_daemon")
        .getOrCreate()
    )
    _ship_package_path(spark)
    return spark
