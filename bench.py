"""Benchmark harness (driver-run per round → BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] (default: the cores this process may run on) and
prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Also reports throughput for the frontier wave (URLs scheduled/sec, pairs
filtered/sec) — the BASELINE.json target metric — under "throughput".

Usage:
  python bench.py                 # headline bench, one JSON line to stdout
  python bench.py --scaling       # local[8] vs local[32] scaling-efficiency run
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_FIXTURE_SCALE = float(os.environ.get("BENCH_FIXTURE_SCALE", "8"))


def _fixture_dir(scale: float) -> str:
    from crawlingathome_worker_spark.sources.fixtures import ensure_fixtures

    return ensure_fixtures(os.path.join(REPO, ".fixtures"), scale=scale)


def _warmup(spark) -> None:
    """JVM + Python-worker-pool warmup so timings measure the job, not imports."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(s):
        return s

    spark.range(1_000_000).repartition(spark.sparkContext.defaultParallelism).select(
        F.sum(_noop(F.col("id")))
    ).collect()


def _wave_bench(spark, fx_dir, cfg, links_filter: str | None = None):
    """One full frontier wave (no warehouse I/O): returns (sec, counts)."""
    from pyspark.sql import functions as F

    from crawlingathome_worker_spark.operators.fetch import classify_and_score, simulated_fetch
    from crawlingathome_worker_spark.operators.parse import parse_links
    from crawlingathome_worker_spark.operators.politeness import politeness_split, robots_gate
    from crawlingathome_worker_spark.operators.schedule import assign_sample_ids

    cpus = spark.sparkContext.defaultParallelism
    # the fixture is one small file; a real WAT shard set arrives as many input
    # splits — repartition to restore the parallelism the scale target has
    links = spark.read.parquet(os.path.join(fx_dir, "wat_links.parquet")).repartition(cpus)
    if links_filter is not None:
        links = links.filter(links_filter)
    robots = spark.read.parquet(os.path.join(fx_dir, "robots.parquet"))
    pairs = spark.read.parquet(os.path.join(fx_dir, "pairs.parquet"))
    t0 = time.perf_counter()
    cands = parse_links(links, cfg)
    gated = robots_gate(cands, robots, cfg)
    scheduled, _deferred = politeness_split(gated, wave_no=1, cfg=cfg)
    scheduled = assign_sample_ids(scheduled, start_id=0)
    classified = classify_and_score(simulated_fetch(scheduled, pairs), cfg)
    agg = classified.agg(
        F.count(F.lit(1)).alias("scheduled"),
        F.sum((F.col("fetch_status") == "ok").cast("long")).alias("ok"),
    ).collect()[0]
    sec = time.perf_counter() - t0
    from crawlingathome_worker_spark.operators.schedule import unpersist_sample_ids

    unpersist_sample_ids(scheduled)  # release the assign_sample_ids cache
    return sec, {"scheduled": int(agg["scheduled"]), "ok": int(agg["ok"])}


def run_headline() -> dict:
    import __spark_entry__ as entrymod
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.session import get_spark, worker_count

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = worker_count()
    fx_dir = _fixture_dir(BENCH_FIXTURE_SCALE)
    spark = get_spark(app_name="cah-bench", shuffle_partitions=cpus)
    _warmup(spark)

    # warm the OS page cache for the input tables so timings measure query
    # execution, not first-touch disk reads (cold/warm split is standard).
    # count() alone is satisfied by parquet row-group METADATA and reads no
    # column bytes — force a full columnar read via a hash over every column.
    from pyspark.sql import functions as F

    for t in ("orders", "customer", "lineitem", "events", "documents", "embeddings"):
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.select(F.max(F.xxhash64(*df.columns)).alias("h")).collect()

    qs = entrymod.queries()
    headline = [
        "q01_url_blocklist", "q02_license_asof", "q05_politeness_topk",
        "q07_sample_ids", "q10_tpch_q1", "q11_tpch_q3", "q12_tpch_q5",
        "q14_hourly_window", "q15_dedup_exact_docs", "q18_text_quality",
        "q20_minhash_lsh_pairs", "q21_simhash_pairs", "q23_ann_topk",
        "q26_embedding_neardup",
    ]
    # Per-query: steady state (min of 2 runs). The first execution of each
    # query shape pays one-time plan compilation + whole-stage codegen (~1-5 s,
    # CONSTANT in data size — pure noise for a 100 TB throughput claim);
    # first-run times are kept alongside under queries_first_run.
    per_q: dict[str, float] = {}
    first_run: dict[str, float] = {}
    for name in headline:
        times = []
        # min of 2 runs, plus up to 2 extra runs while the spread says a host
        # noise burst polluted the sample (this machine shows 3x bursts —
        # BENCH/BASELINE.md): a quiet window costs nothing extra, a noisy one
        # gets more chances to catch a clean execution
        while len(times) < 2 or (max(times) / min(times) > 1.5 and len(times) < 4):
            # drop Spark-level caches between runs: operators that persist
            # internally (sample ids, banded knn) would otherwise serve run 2
            # from the CacheManager via logical-plan equality and the "steady
            # state" would measure a cache read, not the query
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            times.append(time.perf_counter() - t0)
        first_run[name] = round(times[0], 3)
        per_q[name] = round(min(times), 3)
    # the LAST query's internal persist must not shadow the wave/decode benches
    spark.catalog.clearCache()

    # frontier wave on the bench-scale fixture: the BASELINE.json target metric.
    # First run warms the Python-worker pipeline stages; steady-state is reported
    # (a production frontier loop runs thousands of waves per session).
    cfg = EngineConfig(default_host_budget=100_000, wave_seconds=0.0)
    _wave_bench(spark, fx_dir, cfg)
    runs = []
    for _ in range(4):  # min-of-4: this host shows 3x noise bursts (BENCH/BASELINE.md)
        sec, counts = _wave_bench(spark, fx_dir, cfg)
        runs.append(sec)
    wave_sec = min(runs)
    per_q["wave_frontier"] = round(wave_sec, 3)

    # committed wave: full warehouse round-trip in BLOOM mode (snapshot commit,
    # delta-maintained bloom + session-cached merged bits, cuckoo update).
    # Methodology (ADVICE r2): each wave consumes a DISJOINT page_id shard, so
    # every timed wave does REAL parse/dedup/fetch/classify/output work against
    # non-trivial accumulated state — replaying one shard would let the bloom
    # dedupe everything after wave 1 and time near-empty waves. Wave 1 (state
    # bootstrap + Python-stage warmup) is untimed; min of the following 5.
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    from crawlingathome_worker_spark.state.snapshots import Warehouse

    wh_dir = tempfile.mkdtemp(prefix="bench_wh_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        wh = Warehouse(wh_dir)
        bloom_cfg = EngineConfig(
            default_host_budget=100_000, wave_seconds=0.0, dedup_mode="bloom"
        )
        links_w = spark.read.parquet(os.path.join(fx_dir, "wat_links.parquet")).repartition(cpus)
        robots_w = spark.read.parquet(os.path.join(fx_dir, "robots.parquet"))
        pairs_w = spark.read.parquet(os.path.join(fx_dir, "pairs.parquet"))
        from crawlingathome_worker_spark.plans.wave import run_wave

        # 6 shards → 5 TIMED committed waves: the min-of-3 sample was too thin
        # for this host's 3-10× noise bursts on the flagship metric (round-4
        # adjudication); candidate volume still grows wave-over-wave by design
        n_shards = 6
        shards = [links_w.filter(F.col("page_id") % n_shards == i) for i in range(n_shards)]
        run_wave(spark, wh, bloom_cfg, pairs_w, robots_w, shards[0], collect_lineage=False)
        committed = []  # (sec, candidates) — committed waves carry the GROWING
        # deferred frontier, so per-candidate cost is the size-comparable unit
        # (BENCH/BASELINE.md round-4 re-baseline)
        for shard in shards[1:]:
            t0 = time.perf_counter()
            m = run_wave(spark, wh, bloom_cfg, pairs_w, robots_w, shard, collect_lineage=False)
            committed.append((time.perf_counter() - t0, m["counters"]["candidates"]))
            assert m["counters"]["scheduled"] > 0  # timed waves must do real work
        per_q["wave_committed_bloom"] = round(min(s for s, _ in committed), 3)
        best_sec, best_cands = min(committed, key=lambda t: t[0] / max(t[1], 1))
        committed_us_per_cand = round(1e6 * best_sec / max(best_cands, 1), 1)
        # commit overhead ratio: committed wave vs an UNCOMMITTED stateless
        # wave over ONE 1/n_shards input shard. This is an UPPER BOUND on warehouse
        # round-trip cost, not an isolation of it: the committed numerator
        # also pays real per-wave work the stateless denominator has no
        # analog for (frontier-merge dedup window over accumulated deferred
        # rows — the committed waves carry 3-4x the candidate volume — and
        # the fused seen-gate cogroup against grown bloom/cuckoo state).
        # The per-stage decomposition in BENCH/BASELINE.md (profile_wave)
        # is the precise accounting.
        plain = []
        for _ in range(3):
            sec, _c = _wave_bench(
                spark, fx_dir, bloom_cfg, links_filter=f"page_id % {n_shards} = 1"
            )
            plain.append(sec)
        per_q["wave_shard_uncommitted"] = round(min(plain), 3)
        commit_overhead_ratio = round(min(s for s, _ in committed) / min(plain), 3)
        # size-comparable unit (untimed candidate count of the comparison shard)
        from crawlingathome_worker_spark.operators.parse import parse_links

        shard_cands = parse_links(
            links_w.filter(f"page_id % {n_shards} = 1"), bloom_cfg
        ).count()
        uncommitted_us_per_cand = round(1e6 * min(plain) / max(shard_cands, 1), 1)
    finally:
        shutil.rmtree(wh_dir, ignore_errors=True)

    # image decode throughput (Arrow batch decode over the pairs fixture)
    from crawlingathome_worker_spark.operators.fetch import with_decoded

    pairs = spark.read.parquet(os.path.join(fx_dir, "pairs.parquet")).repartition(cpus)
    n_imgs = pairs.count()
    # min-of-3 like every per-query timing above: a single run read as much
    # as ±25% host noise across rounds (r4→r5 adjudication, min-of-9 ≡ r4)
    dec_runs = []
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with_decoded(pairs.select("image_id", "bytes")).filter("dec_ok").count()
        dec_runs.append(time.perf_counter() - t0)
    dec_sec = min(dec_runs)
    per_q["image_decode"] = round(dec_sec, 3)

    total = round(sum(per_q.values()), 3)
    result = {
        "metric": "frontier wave + pipeline query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": per_q,
        "queries_first_run": first_run,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "throughput": {
            "urls_scheduled_per_sec": round(counts["scheduled"] / wave_sec, 1),
            "pairs_filtered_per_sec": round(counts["ok"] / wave_sec, 1),
            "images_decoded_per_sec": round(n_imgs / dec_sec, 1),
            "commit_overhead_ratio": commit_overhead_ratio,
            # per-candidate cost is the size-comparable committed-vs-uncommitted
            # unit: committed waves carry the accumulated deferred frontier, so
            # the raw ratio compares growing work against one fixed input shard
            "committed_us_per_candidate": committed_us_per_cand,
            "uncommitted_us_per_candidate": uncommitted_us_per_cand,
            "fixture_scale": BENCH_FIXTURE_SCALE,
        },
    }
    spark.stop()
    return result


def run_scaling(levels=None, waves: int = 5) -> dict:
    """Same job at two parallelism levels on IDENTICAL input → scaling efficiency.

    In-sandbox evidence for the north_rule's two-cluster-size criterion
    (local[8] vs local[32] stands in for N vs 4N executors). Uses a larger
    fixture than the headline bench so parallel work dominates fixed per-wave
    overhead, and the MEDIAN of `waves` runs (this VM shows multi-second
    background-load noise spikes)."""
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.session import get_spark

    if levels is None:
        levels = tuple(
            int(x) for x in os.environ.get("SCALING_LEVELS", "2,8").split(",")
        )
    # N=2 vs 4N=8 stays in the true-core region of this VM (above ~16 threads
    # the 32 vCPUs share SMT siblings, hardware-capping ANY workload near 0.8);
    # scale 200 makes per-wave parallel work dominate the per-stage latency
    # constant. First call generates the fixture (~20 min, then cached).
    scale = float(os.environ.get("SCALING_FIXTURE_SCALE", "200"))
    fx_dir = _fixture_dir(scale)
    cfg = EngineConfig(default_host_budget=100_000, wave_seconds=0.0)
    # This sandbox VM shows bursty host-level CPU contention (identical runs
    # span 3-10x wall time). Methodology: several runs per level, MIN per level
    # — the contention-free estimate of the code's actual cost.
    sessions = {}
    for cores in levels:
        s = get_spark(
            app_name=f"cah-scaling-{cores}", master=f"local[{cores}]", shuffle_partitions=cores
        )
        _warmup(s)
        _wave_bench(s, fx_dir, cfg)  # warmup wave (JIT, Arrow init)
        runs = []
        for _ in range(waves):
            sec, counts = _wave_bench(s, fx_dir, cfg)
            runs.append(sec)
        sec = min(runs)
        sessions[cores] = {
            "sec": round(sec, 3),
            "runs": [round(r, 2) for r in runs],
            "scheduled": counts["scheduled"],
            "ok": counts["ok"],
            "urls_per_sec": round(counts["scheduled"] / sec, 1),
            "pairs_per_sec": round(counts["ok"] / sec, 1),
        }
        s.stop()
    out = dict(sessions)
    lo, hi = levels
    speedup = out[hi]["urls_per_sec"] / out[lo]["urls_per_sec"]
    out["speedup"] = round(speedup, 3)
    out["scaling_efficiency"] = round(speedup / (hi / lo), 3)
    out["fixture_scale"] = scale
    out["kernel_scaling"] = kernel_scaling(levels)
    return out


_KERNEL_IMGS: list = []


def _kernel_work(n: int) -> int:
    """Decode + pHash + feature + proxy-score, n images (module-level so Pool
    can pickle it by reference; workers inherit _KERNEL_IMGS via fork)."""
    from crawlingathome_worker_spark import fakeimg, phash  # noqa: F401 (fork warm)
    from crawlingathome_worker_spark.functions.udfs import text_feature
    from crawlingathome_worker_spark.phash import image_feature, phash64

    tf = text_feature("the quick brown fox")
    for b in _KERNEL_IMGS[:n]:
        d = fakeimg.decode(b)
        fv = image_feature(d[3])
        phash64(d[3])
        float(fv @ tf)
    return n


def kernel_scaling(levels=(8, 32), n_imgs: int = 2000, n_tasks: int = 64) -> dict:
    """Engine compute-kernel scaling (decode + pHash + feature) via a plain
    multiprocessing farm — isolates the executor-side work from Spark's
    per-stage latency (which is constant in core count and dominates small
    waves; see BENCH/BASELINE.md). Kernels are the same module code the Spark
    UDFs call."""
    import time
    from multiprocessing import Pool

    import numpy as np

    from crawlingathome_worker_spark import fakeimg, phash
    from crawlingathome_worker_spark.functions.udfs import text_feature

    rng = np.random.default_rng(0)
    global _KERNEL_IMGS
    _KERNEL_IMGS = [
        fakeimg.encode(fakeimg.random_image(rng, 64, 64), "JPEG") for _ in range(n_imgs)
    ]
    out = {}
    for procs in levels:
        with Pool(procs) as p:
            p.map(_kernel_work, [10] * procs)  # warmup/fork
            best = 1e9
            for _ in range(3):  # min-of-3: host load bursts poison single shots
                t0 = time.perf_counter()
                p.map(_kernel_work, [1000] * n_tasks)
                best = min(best, time.perf_counter() - t0)
        out[procs] = {"img_per_sec": round(n_tasks * 1000 / best, 0), "sec": round(best, 2)}
    lo, hi = levels
    sp = out[hi]["img_per_sec"] / out[lo]["img_per_sec"]
    out["speedup"] = round(sp, 3)
    out["scaling_efficiency"] = round(sp / (hi / lo), 3)
    return out


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_headline()))
