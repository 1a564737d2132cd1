"""State-structure tests: partitioned bloom (FPR, no-false-negatives), cuckoo
(insert/delete/reinsert — the B3 fix), the fused seen gate, snapshot resume
equivalence. Bloom and cuckoo membership is only ever probed through the fused
gate (seen_gate_bloom), so these tests probe through it too: with an empty
clipped bloom and an empty cuckoo a key passes iff it is NOT in the parsed
bloom; with a parsed bloom whose every bit is set, a key passes iff it IS in
the cuckoo filter."""

import pytest
from pyspark.sql import functions as F

from crawlingathome_worker_spark.config import BloomParams, CuckooParams, EngineConfig
from crawlingathome_worker_spark.plans.wave import run_wave
from crawlingathome_worker_spark.state.bloom import (
    STATE_SCHEMA,
    bloom_add,
    bloom_fill_ratio,
    empty_bloom,
    seen_gate_bloom,
)
from crawlingathome_worker_spark.state.cuckoo import cuckoo_update, empty_cuckoo
from crawlingathome_worker_spark.state.snapshots import Warehouse

from .oracle import load_fixture_inputs


def _keys(spark, prefix, n):
    return spark.range(n).select(
        F.md5(F.concat(F.lit(prefix), F.col("id").cast("string"))).alias("pair_md5")
    )


def _bloom_unseen(keys, parsed, params):
    """Keys NOT in the `parsed` bloom: the gate with empty clipped and cuckoo."""
    spark = keys.sparkSession
    cparams = CuckooParams(buckets_per_partition=1 << 4, partitions=params.partitions)
    return seen_gate_bloom(
        keys, empty_bloom(spark, params), parsed, empty_cuckoo(spark, cparams), params, cparams
    )


def _cuckoo_members(keys, cuckoo, params):
    """Keys IN the `cuckoo` filter: the gate with an all-ones parsed bloom."""
    spark = keys.sparkSession
    bparams = BloomParams(capacity=1000, fpr=1e-2, partitions=params.partitions)
    ones = bytes([0xFF]) * (bparams.bits_per_partition // 8)
    full = spark.createDataFrame([(p, ones) for p in range(bparams.partitions)], STATE_SCHEMA)
    return seen_gate_bloom(keys, empty_bloom(spark, bparams), full, cuckoo, bparams, params)


def test_bloom_no_false_negatives_and_fpr(spark):
    params = BloomParams(capacity=50_000, fpr=1e-3, partitions=4)
    state = empty_bloom(spark, params)
    added = _keys(spark, "in-", 20_000)
    state = bloom_add(state, added, params).persist()
    # no false negatives: every added key must be 'seen'
    assert _bloom_unseen(added, state, params).count() == 0
    # false-positive rate ≤ 2× nominal on disjoint keys (SURVEY.md §5 property 5)
    probe = _keys(spark, "out-", 20_000)
    unseen = _bloom_unseen(probe, state, params).count()
    fp_rate = (20_000 - unseen) / 20_000
    assert fp_rate <= 2 * params.fpr
    assert 0.0 < bloom_fill_ratio(state) < 0.5
    state.unpersist()


def test_bloom_add_is_idempotent_and_preserves_partitions(spark):
    params = BloomParams(capacity=10_000, fpr=1e-3, partitions=4)
    s1 = bloom_add(empty_bloom(spark, params), _keys(spark, "a-", 1000), params)
    s2 = bloom_add(s1, _keys(spark, "a-", 1000), params)
    b1 = {r["part"]: bytes(r["bits"]) for r in s1.collect()}
    b2 = {r["part"]: bytes(r["bits"]) for r in s2.collect()}
    assert b1 == b2  # re-adding the same keys changes nothing
    assert sorted(b1) == list(range(params.partitions))  # all partitions survive


def test_cuckoo_insert_delete_reinsert(spark):
    """The retry-slot lifecycle that fixes B3 (crawlingathome.py:148-154)."""
    params = CuckooParams(buckets_per_partition=1 << 10, partitions=2)
    state = empty_cuckoo(spark, params)
    ks = _keys(spark, "r-", 500).persist()
    state = cuckoo_update(state, inserts=ks, deletes=None, params=params).persist()
    assert _cuckoo_members(ks, state, params).count() == 500  # all present
    # delete half
    half = ks.limit(250).persist()
    state2 = cuckoo_update(state, inserts=None, deletes=half, params=params).persist()
    assert _cuckoo_members(half, state2, params).count() == 0
    rest = ks.join(half, "pair_md5", "left_anti")
    assert _cuckoo_members(rest, state2, params).count() == 250
    # reinsert the deleted half — deletability is the whole point (J5)
    state3 = cuckoo_update(state2, inserts=half, deletes=None, params=params)
    assert _cuckoo_members(ks, state3, params).count() == 500


def test_cuckoo_low_false_positive(spark):
    params = CuckooParams(buckets_per_partition=1 << 12, partitions=2)
    ks = _keys(spark, "in-", 2000)
    state = cuckoo_update(empty_cuckoo(spark, params), ks, None, params)
    other = _keys(spark, "out-", 5000)
    fp = _cuckoo_members(other, state, params).count()
    assert fp / 5000 < 0.01  # 16-bit fingerprints ⇒ ~2*4/2^16 ≈ 1.2e-4 expected


def test_fused_gate_equals_exact_filter_with_all_states_nonempty(spark):
    """seen_gate_bloom ≡ seen_filter_exact over the same clipped, parsed and
    retry keys, every state non-empty and the key ranges overlapping in every
    combination (FPRs low enough that no false positive occurs on these keys)."""
    from crawlingathome_worker_spark.operators.dedup import seen_filter_exact

    bparams = BloomParams(capacity=10_000, fpr=1e-6, partitions=4)
    cparams = CuckooParams(buckets_per_partition=1 << 12, partitions=4)
    clipped, parsed = set(range(0, 200)), set(range(100, 700))
    retry = set(range(150, 250)) | set(range(400, 500)) | set(range(900, 950))

    def keys(idx, kind=None):
        df = spark.createDataFrame([(i,) for i in sorted(idx)], "i long").withColumn(
            "pair_md5", F.md5(F.concat(F.lit("k-"), F.col("i").cast("string")))
        )
        return df.withColumn("kind", F.lit(kind)) if kind else df

    cands = keys(range(1000))
    bc = bloom_add(empty_bloom(spark, bparams), keys(clipped), bparams)
    bp = bloom_add(empty_bloom(spark, bparams), keys(parsed), bparams)
    ck = cuckoo_update(empty_cuckoo(spark, cparams), keys(retry), None, cparams)
    fused = {r["i"] for r in seen_gate_bloom(cands, bc, bp, ck, bparams, cparams).collect()}
    seen_keys = keys(clipped, "clipped").unionByName(keys(parsed, "parsed"))
    exact = {r["i"] for r in seen_filter_exact(cands, seen_keys, keys(retry)).collect()}
    want = {i for i in range(1000) if i not in clipped and (i not in parsed or i in retry)}
    assert fused == exact == want


@pytest.mark.slow
def test_resume_equals_uninterrupted(spark, fx_dir, tmp_path_factory):
    """North_rule resumability: wave1 → NEW Warehouse instance on the same root
    (a fresh process, as far as state is concerned) → wave2 ≡ two-wave run."""
    cfg = EngineConfig(default_host_budget=20, wave_seconds=30.0)
    links_df = spark.read.parquet(f"{fx_dir}/wat_links.parquet")
    pairs_df = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots_df = spark.read.parquet(f"{fx_dir}/robots.parquet")
    mid = 200
    s0 = links_df.filter(F.col("page_id") < mid)
    s1 = links_df.filter(F.col("page_id") >= mid)

    root_a = str(tmp_path_factory.mktemp("wh_resume"))
    run_wave(spark, Warehouse(root_a), cfg, pairs_df, robots_df, s0, collect_lineage=False)
    # simulate restart: brand-new Warehouse over the same directory
    m_a = run_wave(spark, Warehouse(root_a), cfg, pairs_df, robots_df, s1, collect_lineage=False)

    root_b = str(tmp_path_factory.mktemp("wh_straight"))
    wh_b = Warehouse(root_b)
    run_wave(spark, wh_b, cfg, pairs_df, robots_df, s0, collect_lineage=False)
    m_b = run_wave(spark, wh_b, cfg, pairs_df, robots_df, s1, collect_lineage=False)

    assert m_a["counters"] == m_b["counters"]
    assert m_a["next_sample_id"] == m_b["next_sample_id"]
    wh_a = Warehouse(root_a)
    out_a = {
        (r["sample_id"], r["url"], r["caption"], r["phash"])
        for r in wh_a.read_table(spark, wh_a.latest(), "pairs_out").collect()
    }
    out_b = {
        (r["sample_id"], r["url"], r["caption"], r["phash"])
        for r in wh_b.read_table(spark, wh_b.latest(), "pairs_out").collect()
    }
    assert out_a == out_b
    seen_a = {r["pair_md5"] for r in wh_a.read_table(spark, wh_a.latest(), "seen_keys").collect()}
    seen_b = {r["pair_md5"] for r in wh_b.read_table(spark, wh_b.latest(), "seen_keys").collect()}
    assert seen_a == seen_b


def test_time_travel_and_snapshot_gc(spark, fx_dir, tmp_path):
    """Iceberg-analog snapshot maintenance: (1) time travel — read any table
    AS OF an old committed snapshot via its manifest; (2) expireSnapshots —
    gc(keep_last) deletes exactly the table dirs no kept manifest references,
    while parent-pointer-carried state (bloom base written waves ago) and the
    append history (pairs_out) survive."""
    from crawlingathome_worker_spark.config import BloomParams, CuckooParams, EngineConfig
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    cfg = EngineConfig(
        default_host_budget=10,
        dedup_mode="bloom",
        bloom=BloomParams(capacity=100_000, fpr=1e-4, partitions=4),
        cuckoo=CuckooParams(buckets_per_partition=1 << 12, partitions=4),
        bloom_compact_every=2,
    )
    wh = Warehouse(str(tmp_path / "wh"))
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet").filter("page_id < 60")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    for _ in range(3):
        run_wave(spark, wh, cfg, pairs, robots, links, collect_lineage=False)

    # time travel: frontier AS OF snapshot 0 differs from AS OF latest
    m0 = wh.manifest(0)
    n0 = wh.read_table(spark, m0, "frontier").count()
    n2 = wh.read_table(spark, wh.latest(), "frontier").count()
    assert m0["snapshot_id"] == 0 and wh.latest()["snapshot_id"] == 2
    out0 = wh.read_table(spark, m0, "pairs_out").count()
    out2 = wh.read_table(spark, wh.latest(), "pairs_out").count()
    assert out2 > out0 > 0  # append history grows per snapshot
    assert n0 >= 0 and n2 >= 0

    deleted = wh.gc(keep_last=1, grace_seconds=0.0)
    assert deleted  # something actually expired
    assert wh.manifest(0) is None and wh.latest()["snapshot_id"] == 2
    # everything the kept manifest references is still readable — including
    # the compacted bloom base written at snapshot 1 and ALL pairs_out dirs
    latest = wh.latest()
    for name in latest["tables"]:
        if latest["tables"][name]:
            assert wh.read_table(spark, latest, name).count() >= 0
    assert wh.read_table(spark, latest, "pairs_out").count() == out2
    # and a further wave on the gc'd warehouse still runs + commits
    m3 = run_wave(spark, wh, cfg, pairs, robots, links, collect_lineage=False)
    assert m3["snapshot_id"] == 3


def test_concurrent_commit_first_writer_wins(tmp_path):
    """Two writers race on the same snapshot id: the second commit must fail
    loudly (ConcurrentCommitError), never silently overwrite the first —
    Iceberg-style optimistic concurrency at manifest granularity."""
    import json
    import pytest

    from crawlingathome_worker_spark.state.snapshots import (
        ConcurrentCommitError,
        Warehouse,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    m1 = wh.new_manifest(None)
    m1["counters"] = {"writer": 1}
    m2 = wh.new_manifest(None)
    m2["counters"] = {"writer": 2}
    wh.commit(m1)
    with pytest.raises(ConcurrentCommitError):
        wh.commit(m2)
    assert wh.latest()["counters"] == {"writer": 1}  # first writer's manifest intact
    # and no stale tmp pollutes the snapshot dir
    import os as _os

    snaps = _os.listdir(tmp_path / "wh" / "snapshots")
    assert all(not f.endswith(".tmp") for f in snaps)


def test_band_chunks_tile_all_64_bits(spark):
    """hash64_band_chunks must cover the 64-bit space disjointly for every
    radius (Column construction needs the active session's JVM)."""
    from crawlingathome_worker_spark.operators.textdedup import hash64_band_chunks

    # pure-structure check: widths sum to 64, no gaps/overlap, per radius
    import re

    for r in (0, 1, 3, 6, 8, 15, 31, 63):
        chunks = hash64_band_chunks("h", r)
        assert len(chunks) == r + 1
        # reconstruct width layout from the Column expressions' string form
        widths = []
        for c in chunks:
            s = str(c._jc)
            m = re.search(r"shiftrightunsigned\(h, (\d+)\)", s)
            start = int(m.group(1)) if m else 0
            mask = int(re.search(r",\s*(-?\d+)L?\)$", s).group(1))
            widths.append((start, mask))
        widths.sort()
        pos = 0
        for start, mask in widths:
            assert start == pos
            w = 64 if mask == -1 else mask.bit_length()
            assert mask == -1 or mask == (1 << w) - 1
            pos += w
        assert pos == 64


def test_compact_appends_preserves_data_and_state(spark, fx_dir, tmp_path):
    """rewrite_data_files analog: compacting pairs_out must (1) keep every row,
    (2) shrink the dir list to 1, (3) carry ALL other table pointers forward so
    resume/reads see identical state, (4) leave the warehouse runnable, and
    (5) let gc() reclaim the pre-compaction dirs."""
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    cfg = EngineConfig(default_host_budget=10)
    wh = Warehouse(str(tmp_path / "wh"))
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet").filter("page_id < 80")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    for _ in range(3):
        run_wave(spark, wh, cfg, pairs, robots, links, collect_lineage=False)

    before = wh.latest()
    rows_before = sorted(
        (r["sample_id"], r["url"])
        for r in wh.read_table(spark, before, "pairs_out").collect()
    )
    assert len(before["tables"]["pairs_out"]) == 3

    m = wh.compact_appends(spark, "pairs_out", target_partitions=4)
    assert m is not None and len(m["tables"]["pairs_out"]) == 1
    for t, paths in before["tables"].items():
        if t != "pairs_out":
            assert m["tables"][t] == paths  # every other pointer carried
    rows_after = sorted(
        (r["sample_id"], r["url"])
        for r in wh.read_table(spark, wh.latest(), "pairs_out").collect()
    )
    assert rows_after == rows_before

    # warehouse still runs and appends onto the compacted list
    m4 = run_wave(spark, wh, cfg, pairs, robots, links, collect_lineage=False)
    assert len(m4["tables"]["pairs_out"]) == 2

    # expire pre-compaction snapshots: old pairs_out dirs reclaimed, data intact
    deleted = wh.gc(keep_last=2, grace_seconds=0.0)
    assert any("pairs_out" in d for d in deleted)
    n = wh.read_table(spark, wh.latest(), "pairs_out").count()
    assert n > len(rows_before)  # compacted rows + wave-4 appends all readable


def test_resume_survives_snapshot_gc(spark, fx_dir, tmp_path):
    """gc() expiring old manifests must NOT re-enable their shards: the latest
    manifest carries the cumulative completed_shards history, so run_job skips
    all previously committed shards even after their manifests are gone."""
    from crawlingathome_worker_spark.plans.job import run_job

    cfg = EngineConfig(default_host_budget=10)
    wh = Warehouse(str(tmp_path / "wh"))
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    shards = [links.filter(F.col("page_id") % 3 == i) for i in range(3)]
    ms = run_job(spark, wh, cfg, shards, pairs, robots)
    assert len(ms) == 3
    wh.gc(keep_last=1, grace_seconds=0.0)  # expire the first two manifests
    assert wh.manifest(0) is None
    again = run_job(spark, wh, cfg, shards, pairs, robots)
    assert again == []  # nothing reprocessed
    assert wh.latest()["wave_no"] == 3


def test_bloom_session_cache_and_cuckoo_skip(spark, fx_dir, tmp_path):
    """Session-cached merged bloom (VERDICT r2 item 2): waves on the SAME
    Warehouse object reuse the persisted merged bits (cache re-keys to each new
    snapshot), a FRESH Warehouse object (crash resume) misses the cache but
    reaches the identical state from the tables, and waves that cannot change
    the cuckoo (no errors, empty table) carry the pointer instead of rewriting."""
    from crawlingathome_worker_spark.config import BloomParams, CuckooParams, EngineConfig
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    cfg = EngineConfig(
        default_host_budget=100_000,
        wave_seconds=0.0,
        dedup_mode="bloom",
        bloom=BloomParams(capacity=100_000, fpr=1e-5, partitions=4),
        cuckoo=CuckooParams(buckets_per_partition=1 << 12, partitions=4),
        bloom_compact_every=100,  # never compact: the cache must carry deltas
    )
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    shards = [
        links.filter(f"page_id % 3 = {i} and page_id < 120") for i in range(3)
    ]

    wh = Warehouse(str(tmp_path / "wh_cached"))
    m1 = run_wave(spark, wh, cfg, pairs, robots, shards[0], collect_lineage=False)
    assert wh._bloom_session_cache["snap"] == m1["snapshot_id"]
    cached_df = wh._bloom_session_cache["df"]
    # localCheckpoint: materialized blocks + TRUNCATED lineage (an RDD scan,
    # not the wave pipeline — re-evaluating it must not re-run the wave)
    assert "ExistingRDD" in cached_df._jdf.queryExecution().executedPlan().toString()
    m2 = run_wave(spark, wh, cfg, pairs, robots, shards[1], collect_lineage=False)
    assert wh._bloom_session_cache["snap"] == m2["snapshot_id"]

    # fresh Warehouse = crash resume: cache miss, same state from tables —
    # wave 3 must behave identically on both objects
    wh_resume = Warehouse(str(tmp_path / "wh_cached"))
    import shutil

    shutil.copytree(str(tmp_path / "wh_cached"), str(tmp_path / "wh_copy"))
    m3_cached = run_wave(spark, wh, cfg, pairs, robots, shards[2], collect_lineage=False)
    m3_fresh = run_wave(
        spark, Warehouse(str(tmp_path / "wh_copy")), cfg, pairs, robots, shards[2],
        collect_lineage=False,
    )
    assert m3_cached["counters"] == m3_fresh["counters"]
    assert wh_resume is not wh  # (the cache lives per-object, not per-root)

    # cuckoo skip: replay an already-seen shard on a warehouse whose cuckoo is
    # EMPTY (no errors ever inserted) — zero scheduled, so the manifest must
    # carry the parent pointer rather than rewrite the table
    errors_so_far = (
        m1["counters"]["errors"] + m2["counters"]["errors"] + m3_cached["counters"]["errors"]
    )
    latest = wh.latest()
    # nonempty iff some error was ever inserted (monotone claim — deletions
    # may empty the table but never clear the flag); asserted as an
    # equivalence so it can't silently skip on this fixture's error mix
    assert bool(latest.get("cuckoo_nonempty", False)) == (errors_so_far > 0)
    # a regular drain trickles (crawl_delay budgets are ~1/host/wave), so
    # FLUSH the frontier with an unbounded-budget drain first; the next drain
    # then has a provably empty frontier — asserted as preconditions so the
    # pointer-carry checks below can never be skipped silently (they had
    # been: the single drain scheduled 14 rows on this fixture and the old
    # `if scheduled == 0:` guard just skipped the body)
    import dataclasses

    cfg_flush = dataclasses.replace(cfg, wave_seconds=1e9)
    m4 = run_wave(spark, wh, cfg, pairs, robots, None, collect_lineage=False)
    m5 = run_wave(spark, wh, cfg_flush, pairs, robots, None, collect_lineage=False)
    assert m5["counters"]["deferred"] == 0
    m6 = run_wave(spark, wh, cfg, pairs, robots, None, collect_lineage=False)
    assert m6["counters"]["scheduled"] == 0
    assert m6["tables"].get("cuckoo_state", []) == m5["tables"].get("cuckoo_state", [])
    assert m6["tables"].get("bloom_parsed_delta", []) == m5["tables"].get(
        "bloom_parsed_delta", []
    )

    # bloom ≡ exact equivalence with the cache engaged end-to-end (same wave
    # sequence on both warehouses, including all three drains)
    cfg_e = EngineConfig(default_host_budget=100_000, wave_seconds=0.0, dedup_mode="exact")
    cfg_e_flush = dataclasses.replace(cfg_e, wave_seconds=1e9)
    wh_e = Warehouse(str(tmp_path / "wh_exact"))
    for s in shards:
        run_wave(spark, wh_e, cfg_e, pairs, robots, s, collect_lineage=False)
    run_wave(spark, wh_e, cfg_e, pairs, robots, None, collect_lineage=False)
    run_wave(spark, wh_e, cfg_e_flush, pairs, robots, None, collect_lineage=False)
    run_wave(spark, wh_e, cfg_e, pairs, robots, None, collect_lineage=False)
    out_b = {
        (r["sample_id"], r["url"])
        for r in wh.read_table(spark, wh.latest(), "pairs_out").collect()
    }
    out_e = {
        (r["sample_id"], r["url"])
        for r in wh_e.read_table(spark, wh_e.latest(), "pairs_out").collect()
    }
    assert out_b == out_e


def test_pre_shard_key_warehouse_fails_loudly(spark, fx_dir, tmp_path):
    """Resume migration guard: a warehouse whose committed manifests predate
    shard bookkeeping must refuse run_job resume instead of silently
    reprocessing every shard (duplicate pairs_out rows)."""
    import json
    import os

    import pytest

    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.plans.job import run_job
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    cfg = EngineConfig(default_host_budget=10)
    wh = Warehouse(str(tmp_path / "wh_old"))
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet").filter("page_id < 30")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    run_wave(spark, wh, cfg, pairs, robots, links, collect_lineage=False, shard_key="shard-000001")
    # strip the bookkeeping fields to simulate a pre-shard_key manifest
    for name in os.listdir(os.path.join(wh.root, "snapshots")):
        p = os.path.join(wh.root, "snapshots", name)
        with open(p) as f:
            m = json.load(f)
        m.pop("shard_key", None)
        m.pop("completed_shards", None)
        os.unlink(p)
        with open(p, "w") as f:
            json.dump(m, f)
    with pytest.raises(RuntimeError, match="pre-shard_key"):
        run_job(spark, wh, cfg, [links], pairs, robots)
    # a modern warehouse with only DRAIN waves must NOT trip the guard
    wh2 = Warehouse(str(tmp_path / "wh_drain"))
    run_wave(spark, wh2, cfg, pairs, robots, None, collect_lineage=False)
    run_job(spark, wh2, cfg, [links], pairs, robots)  # no raise


def test_gc_reclaims_commit_loser_orphans_age_gated(spark, tmp_path):
    """Writer-unique table dirs (round 4) make commit-race losers leave
    UNREFERENCED orphan dirs; gc()'s sweep must reclaim them once aged, but
    never young ones — a young unreferenced dir may be a live writer's
    in-flight (not yet committed) data."""
    import os
    import time as _time

    wh = Warehouse(str(tmp_path / "wh_orphan"))
    m = wh.new_manifest(None)
    df = spark.createDataFrame([("k1",)], "pair_md5 string")
    m["tables"]["frontier"] = [wh.write_table(df, "frontier", 0)]
    wh.commit(m)

    # simulate a loser: same snapshot id, different (writer-unique) dir, no
    # manifest pointer
    orphan_rel = os.path.join("tables", "frontier", "snap000000-deadbeef")
    orphan = os.path.join(wh.root, orphan_rel)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "w") as f:
        f.write("x")

    # young orphan: survives (grace gate)
    assert wh.gc(keep_last=5) == []
    assert os.path.isdir(orphan)

    # aged orphan: reclaimed; the committed winner dir is untouched
    old = _time.time() - 7200
    os.utime(orphan, (old, old))
    deleted = wh.gc(keep_last=5)
    assert orphan_rel in deleted
    assert not os.path.exists(orphan)
    assert wh.read_table(spark, wh.latest(), "frontier").count() == 1
