"""Phase profile of the committed bloom wave (the bench's hot metric).

Replicates bench.py's committed-wave loop (disjoint page_id shards, wave 1
untimed) and prints each wave's own `timing` from its manifest: the phase
wall times (prep = plan build incl. the sample-id job; status = stage A up to
the status counts; gather = the rest of stage B and lineage), the codegen
compiles up to gather, the counters recomputed with count() because their
observed value was missing or implausible, and every job's start offset and
duration. The commit (manifest link) is the remainder of the
wave's total. Use this to decide whether the remaining committed-vs-
uncommitted delta is worth engineering.

  python tools/profile_wave.py [fixture_scale]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    scale = float(sys.argv[1]) if len(sys.argv) > 1 else 8.0
    from pyspark.sql import functions as F

    from bench import _fixture_dir, _warmup
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.session import get_spark, worker_count
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    fx_dir = _fixture_dir(scale)
    cpus = worker_count()
    spark = get_spark(app_name="profile-wave", shuffle_partitions=cpus)
    _warmup(spark)

    wh_dir = tempfile.mkdtemp(
        prefix="profile_wh_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    try:
        wh = Warehouse(wh_dir)
        cfg = EngineConfig(
            default_host_budget=100_000, wave_seconds=0.0, dedup_mode="bloom"
        )
        links = spark.read.parquet(os.path.join(fx_dir, "wat_links.parquet")).repartition(
            cpus
        )
        robots = spark.read.parquet(os.path.join(fx_dir, "robots.parquet"))
        pairs = spark.read.parquet(os.path.join(fx_dir, "pairs.parquet"))
        n_shards = 4
        shards = [links.filter(F.col("page_id") % n_shards == i) for i in range(n_shards)]
        run_wave(spark, wh, cfg, pairs, robots, shards[0], collect_lineage=False)
        for shard in shards[1:]:
            t0 = time.perf_counter()
            m = run_wave(spark, wh, cfg, pairs, robots, shard, collect_lineage=False)
            t = m["timing"]
            print(
                f"wave {m['wave_no']}: total={time.perf_counter() - t0:.3f}s"
                f" prep={t['prep_s']:.3f}s status={t['status_s']:.3f}s"
                f" gather={t['gather_s']:.3f}s"
                f" codegen_compiles={t['codegen_compiles']}"
                f" count_fallbacks={t['count_fallbacks']}"
                f" scheduled={m['counters']['scheduled']}"
                f" candidates={m['counters']['candidates']}"
            )
            for label, j in sorted(t["jobs"].items(), key=lambda kv: kv[1]["start_s"]):
                print(f"  job {label}: start+{j['start_s']:.3f}s dur={j['dur_s']:.3f}s")
    finally:
        shutil.rmtree(wh_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
