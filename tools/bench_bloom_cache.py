"""Measure the session bloom cache (VERDICT r2 item 6 evidence).

Same committed-wave sequence (bloom mode, disjoint page_id shards) run twice:
  cached   — ONE Warehouse object for the whole job (session cache engaged:
             merged bloom bits stay localCheckpointed between waves)
  uncached — a FRESH Warehouse object per wave (every wave re-reads the base
             bits parquet and re-folds the full delta history, i.e. the old
             read path)
Prints one JSON line with per-wave seconds and the speedup. Run on a quiet
host; waves are timed individually (min is meaningless across growing state,
so the MEAN of the timed waves is reported too).

Usage: python tools/bench_bloom_cache.py [n_shards]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run(n_shards: int = 6) -> dict:
    from pyspark.sql import functions as F

    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.session import get_spark, worker_count
    from crawlingathome_worker_spark.sources.fixtures import ensure_fixtures
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    scale = float(os.environ.get("BENCH_FIXTURE_SCALE", "8"))
    fx = ensure_fixtures(os.path.join(REPO, ".fixtures"), scale=scale)
    cpus = worker_count()
    spark = get_spark(app_name="bloom-cache-bench", shuffle_partitions=cpus)
    links = spark.read.parquet(os.path.join(fx, "wat_links.parquet")).repartition(cpus)
    pairs = spark.read.parquet(os.path.join(fx, "pairs.parquet"))
    robots = spark.read.parquet(os.path.join(fx, "robots.parquet"))
    shards = [links.filter(F.col("page_id") % n_shards == i) for i in range(n_shards)]
    cfg = EngineConfig(
        default_host_budget=100_000, wave_seconds=0.0, dedup_mode="bloom",
        bloom_compact_every=1000,  # never compact: the delta history keeps growing
    )

    def job(fresh_wh_per_wave: bool) -> list[float]:
        root = tempfile.mkdtemp(
            prefix="bloomcache_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
        )
        try:
            wh = Warehouse(root)
            times = []
            for i, shard in enumerate(shards):
                if fresh_wh_per_wave:
                    wh = Warehouse(root)  # new object: session cache always misses
                t0 = time.perf_counter()
                run_wave(spark, wh, cfg, pairs, robots, shard, collect_lineage=False)
                times.append(round(time.perf_counter() - t0, 3))
            return times
        finally:
            shutil.rmtree(root, ignore_errors=True)

    job(True)  # warmup pass (JIT, Arrow, python workers)
    uncached = job(True)
    cached = job(False)
    # wave 1 has no prior state in either mode — compare waves 2..N
    mean_c = sum(cached[1:]) / (n_shards - 1)
    mean_u = sum(uncached[1:]) / (n_shards - 1)
    out = {
        "fixture_scale": scale,
        "n_shards": n_shards,
        "cached_waves_sec": cached,
        "uncached_waves_sec": uncached,
        "mean_steady_cached": round(mean_c, 3),
        "mean_steady_uncached": round(mean_u, 3),
        "speedup": round(mean_u / mean_c, 3),
    }
    spark.stop()
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    print(json.dumps(run(n)))
