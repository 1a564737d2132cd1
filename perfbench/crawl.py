"""The `crawl` workload: committed bloom-mode waves, driven as run_frontier.py
drives them, each checked against tests/oracle.py:oracle_wave.

The WAT links are split into SHARDS shards, one input wave each, in a closed
loop (each wave starts when the previous one committed):

  set-up:  bucketed ingest, then the wave on shard 1 (cold)
  timed:   input waves on the next shards, run_wave on the live Warehouse
           (its bloom session cache hits), until they add up to `seconds`

The per-host budget is tight enough that the hot host (~30 % of links)
always defers, so the frontier grows every wave and the seen gate,
politeness and frontier rewrite carry real work beside parse, fetch and the
pairs_out append. A traced run adds one resume wave on the next shard:
run_job over the shard list on a fresh Warehouse object on the same
directory, which skips the committed shards and reads all state back from
the tables, the bloom filter as base plus deltas.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

from .checks import Tally, check_wave, crawl_order_frame, frontier_frame, wave_reference
from .harness import median, sink
from .inputs import CRAWL_SCALE, RefCache, fixture_dir, source_digest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHARDS = 6  # set-up wave, up to four timed waves, the traced run's resume wave
# Waves in set-up. A second, warm-up wave was tried and dropped: all waves of
# a run speed up and slow down together with the host (a cold wave takes
# ~2.3x a warm one in every run), so it did not narrow the spread between
# runs, and it cost ~10 s of every run.
WARMUP = 1
BUDGET = 24  # per host and wave; below 60 s / 2 s, so every robots delay yields it
# Sized for the ~10^4 keys a run adds. At the package default (10^7 keys, a
# 24 MB filter) the per-wave state fold alone is longer than the rest of a
# wave at this input size, and a run would not fit its time budget.
BLOOM_CAPACITY = 1_000_000

CRAWL_LAYER_METRICS = {
    "parse.self_s": "s",
    "parse.candidates": "count",
    "seen_gate.self_s": "s",
    "seen_gate.unseen_ratio": "ratio",
    "bloom.fill_ratio": "ratio",
    "resume.extra_s": "s",
    "politeness.self_s": "s",
    "politeness.scheduled_ratio": "ratio",
    "lineage.scheduled_skew": "ratio",
    "schedule.self_s": "s",
    "fetch.self_s": "s",
    "fetch.ok_ratio": "ratio",
    "fetch.error_ratio": "ratio",
    "snapshots.bytes.frontier": "B",
    "snapshots.bytes.pairs_out": "B",
    "snapshots.bytes.state": "B",
    "snapshots.bytes_per_url": "B/URL",
    "wave.commit_s": "s",
    "wave.jobs": "count",
    "wave.stages": "count",
    "wave.cold_s": "s",
    "ingest.s": "s",
    "ingest.rows": "count",
    "single_thread.wave_s": "s",
}


def _cfg():
    from crawlingathome_worker_spark.config import BloomParams, EngineConfig

    return EngineConfig(
        default_host_budget=BUDGET, dedup_mode="bloom", bloom=BloomParams(capacity=BLOOM_CAPACITY)
    )


def _shard_rows(links: list[dict], i: int) -> list[dict]:
    """Shard i of the WAT links for the oracle: the page_id range `_shards` gives Spark."""
    max_page = max(r["page_id"] for r in links)
    step = (max_page + SHARDS) // SHARDS
    return [r for r in links if i * step <= r["page_id"] < (i + 1) * step]


def prepare(work: str, seed: int) -> str:
    """Generate the seed's fixture and the oracle_wave reference of every
    shard's wave, in order; → the path of the cached reference list."""
    from tests.oracle import OracleState, load_fixture_inputs, oracle_wave

    fx = fixture_dir(work, seed, CRAWL_SCALE)
    cfg = _cfg()
    refs = RefCache(work)
    path = refs.path("crawl", seed, {"config": repr(cfg), "scale": CRAWL_SCALE, "shards": SHARDS,
                                     "sources": source_digest(ROOT)})
    if not os.path.exists(path):
        links, pairs_by_id, robots, _ = load_fixture_inputs(fx)
        state = OracleState()
        refs.save(path, [
            wave_reference(oracle_wave(state, _shard_rows(links, i), pairs_by_id, robots, cfg))
            for i in range(SHARDS)
        ])
    return path


def _shards(spark, fx: str) -> tuple[list, list[int]]:
    """The WAT links split by page_id range, as run_frontier.py splits them;
    → (one DataFrame per shard, WAT pages per shard)."""
    from pyspark.sql import functions as F

    path = os.path.join(fx, "wat_links.parquet")
    pages = set(pq.read_table(path, columns=["page_id"]).column("page_id").to_pylist())
    step = (max(pages) + SHARDS) // SHARDS
    counts = [sum(1 for p in pages if i * step <= p < (i + 1) * step) for i in range(SHARDS)]
    links = spark.read.parquet(path)
    frames = [
        links.filter((F.col("page_id") >= i * step) & (F.col("page_id") < (i + 1) * step))
        for i in range(SHARDS)
    ]
    return frames, counts


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _new_dirs(manifest: dict, parent: dict | None) -> dict[str, list[str]]:
    """Table dirs this manifest references that its parent did not."""
    old = {p for ps in (parent or {}).get("tables", {}).values() for p in ps}
    out: dict[str, list[str]] = {}
    for name, paths in manifest["tables"].items():
        out[name] = [p for p in paths if p not in old]
    return out


class _Tracer:
    """Traced-run spans around the public calls of one wave's operator chain,
    run on the parent snapshot before the wave itself. Each prefix of the
    chain is materialized through the noop sink; a layer's self time is the
    difference between successive prefixes."""

    def __init__(self):
        self.sums: dict[str, float] = {}
        self.waves = 0
        self.overhead: list[float] = []  # wall time of each traced chain

    def add(self, key: str, v: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + v

    def chain(self, spark, wh, cfg, pairs, robots, shard) -> float:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from crawlingathome_worker_spark.operators.fetch import classify_and_score, simulated_fetch
        from crawlingathome_worker_spark.operators.parse import parse_links
        from crawlingathome_worker_spark.operators.politeness import politeness_split, robots_gate
        from crawlingathome_worker_spark.operators.schedule import (
            assign_sample_ids,
            unpersist_sample_ids,
        )
        from crawlingathome_worker_spark.plans.wave import FRONTIER_SCHEMA, RETRY_SCHEMA
        from crawlingathome_worker_spark.state.bloom import STATE_SCHEMA as BLOOM_SCHEMA
        from crawlingathome_worker_spark.state.bloom import bloom_add, seen_gate_bloom
        from crawlingathome_worker_spark.state.cuckoo import STATE_SCHEMA as CUCKOO_SCHEMA

        parent = wh.latest()
        wave_no = parent["wave_no"] + 1
        frontier = wh.read_table(spark, parent, "frontier", FRONTIER_SCHEMA)
        if shard is not None:
            new = parse_links(shard, cfg).withColumn("wave_added", F.lit(wave_no))
        else:
            new = spark.createDataFrame([], FRONTIER_SCHEMA)
        w = Window.partitionBy("canonical_url").orderBy("wave_added", "page_id", "pos")
        cands = (
            frontier.unionByName(new)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        t_parse, n_cands = sink(cands, observe=True)

        bloom_c = wh.read_table(spark, parent, "bloom_clipped", BLOOM_SCHEMA)
        bloom_p = wh.read_table(spark, parent, "bloom_parsed", BLOOM_SCHEMA)
        if parent["tables"].get("bloom_parsed_delta"):
            deltas = wh.read_table(spark, parent, "bloom_parsed_delta", RETRY_SCHEMA)
            bloom_p = bloom_add(bloom_p, deltas, cfg.bloom, key="pair_md5")
        cuckoo = wh.read_table(spark, parent, "cuckoo_state", CUCKOO_SCHEMA)
        unseen = seen_gate_bloom(cands, bloom_c, bloom_p, cuckoo, cfg.bloom, cfg.cuckoo, key="pair_md5")
        t_gate, n_unseen = sink(unseen, observe=True)
        gated = robots_gate(unseen, robots, cfg)
        t_robots, n_gated = sink(gated, observe=True)
        scheduled, _ = politeness_split(gated, wave_no, cfg)
        t_pol, n_sched = sink(scheduled, observe=True)
        # assign_sample_ids persists its range-partitioned frame, so the
        # prefixes after it start from that cache: their baseline is a second
        # materialization of `ids`, not the first
        t = time.perf_counter()
        ids = assign_sample_ids(scheduled, parent["next_sample_id"])
        t_ids = time.perf_counter() - t + sink(ids)[0]
        t_cached = sink(ids)[0]
        fetched = simulated_fetch(ids, pairs)
        t_fetch = sink(fetched)[0]
        t_dec = sink(classify_and_score(fetched, cfg))[0]
        unpersist_sample_ids(ids)

        self.waves += 1
        self.add("parse.self_s", t_parse)
        self.add("seen_gate.self_s", t_gate - t_parse)
        self.add("politeness.self_s", t_pol - t_gate)
        self.add("schedule.self_s", t_ids - t_pol)
        self.add("fetch.self_s", t_fetch - t_cached)
        self.add("decode.self_s", t_dec - t_fetch)
        self.add("_cands", n_cands)
        self.add("_unseen", n_unseen)
        self.add("_gated", n_gated)
        self.add("_sched", n_sched)
        return t_ids + t_dec - t_cached


def _jobs_and_stages(sc, groups: list[str]) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), len(stages)


def run(spark_factory, work: str, seed: int, seconds: float, trace: bool, tally: Tally,
        refs: list[dict]) -> dict:
    from crawlingathome_worker_spark.plans.job import run_job
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.sources.bucketed import ensure_bucketed_pairs
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    fx = fixture_dir(work, seed, CRAWL_SCALE)
    cfg = _cfg()
    wh_root = os.path.join(work, f"wh-crawl-{os.getpid()}")
    shutil.rmtree(wh_root, ignore_errors=True)

    t0 = time.perf_counter()
    spark = spark_factory()
    t_ing = time.perf_counter()
    pairs = ensure_bucketed_pairs(spark, os.path.join(fx, "pairs.parquet"), buckets=32, force=True)
    ingest_s = time.perf_counter() - t_ing
    robots = spark.read.parquet(os.path.join(fx, "robots.parquet"))
    shards, shard_pages = _shards(spark, fx)
    wh = Warehouse(wh_root)

    tracer = _Tracer() if trace else None
    waves: list[dict] = []
    per_layer: dict[str, float] = {}

    def one_wave(n: int, kind: str, timed: bool) -> float:
        """Run and check the wave on shard n; → perf_counter when it committed."""
        nonlocal wh
        parent = wh.latest()
        chain_s = None
        if tracer is not None and timed:
            t = time.perf_counter()
            chain_s = tracer.chain(spark, wh, cfg, pairs, robots, shards[n])
            tracer.overhead.append(time.perf_counter() - t)
            spark.sparkContext.setJobGroup(f"bench-wave-{n}", "benchmark wave")
        t = time.perf_counter()
        try:
            if kind == "resume":
                wh = Warehouse(wh_root)
                ms = run_job(spark, wh, cfg, shards[: n + 1], pairs, robots, collect_lineage=trace)
                if len(ms) != 1:
                    raise RuntimeError(f"resume ran {len(ms)} waves, expected 1")
                m = ms[0]
            else:
                m = run_wave(spark, wh, cfg, pairs, robots, shards[n],
                             collect_lineage=trace, shard_key=f"shard-{n + 1:06d}")
            done = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed wave is a failed operation
            tally.record(f"wave {n + 1} ({kind})", [f"raised {type(e).__name__}: {e}"])
            raise
        try:
            errs = check_wave(m["counters"], crawl_order_frame(m, wh_root),
                              frontier_frame(m, wh_root), refs[n])
        except Exception as e:  # noqa: BLE001 — an unreadable output is a mismatch
            errs = [f"output unreadable: {type(e).__name__}: {e}"]
        tally.record(f"wave {n + 1} ({kind})", errs)
        rec = {"wave": n + 1, "kind": kind, "s": done - t, "pages": shard_pages[n], **m["counters"]}
        if tracer is not None and timed:
            jobs, stages = _jobs_and_stages(spark.sparkContext, [f"bench-wave-{n}", f"wave-{m['snapshot_id']}"])
            new = _new_dirs(m, parent)
            size = {k: sum(_dir_bytes(os.path.join(wh_root, p)) for p in v) for k, v in new.items()}
            lin = [p["n"] for p in m.get("lineage", {}).get("scheduled", [])]
            rec.update(
                chain_s=chain_s, jobs=jobs, stages=stages,
                bytes_frontier=size.get("frontier", 0),
                bytes_pairs_out=size.get("pairs_out", 0),
                bytes_state=sum(v for k, v in size.items() if k.startswith(("bloom", "cuckoo"))),
                fill=m.get("bloom_fill_ratio") or 0.0,
                skew=(max(lin) / (sum(lin) / len(lin))) if lin and sum(lin) else 0.0,
            )
        waves.append(rec)
        return done

    for n in range(WARMUP):
        setup_end = one_wave(n, "input", timed=False)
    setup_s = setup_end - t0

    n = WARMUP
    while n < SHARDS - 1 and sum(w["s"] for w in waves[WARMUP:]) < seconds:
        one_wave(n, "input", timed=True)
        n += 1
    if trace:
        one_wave(n, "resume", timed=False)

    timed = [w for w in waves[WARMUP:] if w["kind"] == "input"]
    wall = sum(w["s"] for w in timed)
    sched = sum(w["scheduled"] for w in timed)
    ok = sum(w["fetched_ok"] for w in timed)
    # restart cost: the resume wave against the warm input waves before it
    resume = [w["s"] for w in waves if w["kind"] == "resume"]
    extra = [r - median([w["s"] for w in timed]) for r in resume]
    if tracer is not None:
        tw = tracer.waves
        s = tracer.sums
        per_layer = {k: s[k] / tw for k in
                     ("parse.self_s", "seen_gate.self_s", "politeness.self_s",
                      "schedule.self_s", "fetch.self_s", "decode.self_s")}
        per_layer.update({
            "parse.candidates": s["_cands"] / tw,
            "seen_gate.unseen_ratio": s["_unseen"] / max(s["_cands"], 1),
            "politeness.scheduled_ratio": s["_sched"] / max(s["_gated"], 1),
            "bloom.fill_ratio": timed[-1]["fill"],
            "lineage.scheduled_skew": median([w["skew"] for w in timed]),
            "fetch.ok_ratio": ok / max(sched, 1),
            "fetch.error_ratio": sum(w["errors"] for w in timed) / max(sched, 1),
            "snapshots.bytes.frontier": median([w["bytes_frontier"] for w in timed]),
            "snapshots.bytes.pairs_out": median([w["bytes_pairs_out"] for w in timed]),
            "snapshots.bytes.state": median([w["bytes_state"] for w in timed]),
            "snapshots.bytes_per_url": sum(
                w["bytes_frontier"] + w["bytes_pairs_out"] + w["bytes_state"] for w in timed
            ) / max(sched, 1),
            "wave.commit_s": median([w["s"] - w["chain_s"] for w in timed]),
            "wave.jobs": median([w["jobs"] for w in timed]),
            "wave.stages": median([w["stages"] for w in timed]),
            "resume.extra_s": median(extra),
            "trace.overhead_s": median(tracer.overhead),
        })
    per_layer.update({
        "wave.cold_s": waves[0]["s"],
        "ingest.s": ingest_s,
        "ingest.rows": pq.ParquetFile(os.path.join(fx, "pairs.parquet")).metadata.num_rows,
    })
    if trace:
        per_layer["single_thread.wave_s"] = _single_thread(spark, fx, cfg, refs, tally, work)
    shutil.rmtree(wh_root, ignore_errors=True)
    return {
        "setup_s": setup_s,
        "op_s": [w["s"] for w in timed],
        "per_layer": per_layer,
        "detail": {
            "urls_per_s": sched / wall,
            "pairs_per_s": ok / wall,
            "wave_s_p50": median([w["s"] for w in timed]),
            "wave_s_max": max(w["s"] for w in timed),
            "waves_timed": len(timed),
            "resume_wave_s": median(resume),
            "resume_extra_s": median(extra),
            "cold_wave_s": waves[0]["s"],
            "ingest_s": ingest_s,
            "waves": waves,
        },
    }


def _single_thread(spark, fx, cfg, refs, tally, work) -> float:
    """One local[1] wave: the main session is replaced by a one-core session
    in the same, already warm JVM, which runs the wave on shard 1 into a
    fresh warehouse over the bucketed table the main session ingested; →
    that wave's wall time."""
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.session import get_spark
    from crawlingathome_worker_spark.sources.bucketed import ensure_bucketed_pairs
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    spark.stop()
    spark1 = get_spark(app_name="perfbench-1", master="local[1]", shuffle_partitions=1)
    root = os.path.join(work, f"wh-crawl1-{os.getpid()}")
    try:
        spark1.sparkContext.setLogLevel("ERROR")
        shutil.rmtree(root, ignore_errors=True)
        pairs = ensure_bucketed_pairs(spark1, os.path.join(fx, "pairs.parquet"), buckets=32)
        robots = spark1.read.parquet(os.path.join(fx, "robots.parquet"))
        shards, _ = _shards(spark1, fx)
        t = time.perf_counter()
        m = run_wave(spark1, Warehouse(root), cfg, pairs, robots, shards[0],
                     collect_lineage=False, shard_key="shard-000001")
        wall = time.perf_counter() - t
        tally.record("local[1] wave 1", check_wave(
            m["counters"], crawl_order_frame(m, root), frontier_frame(m, root), refs[0]))
    finally:
        spark1.stop()
        shutil.rmtree(root, ignore_errors=True)
    return wall
