"""Bucketed fetch join: the pairs (image bytes) side must join WITHOUT an
Exchange — its bucket layout is the partitioning, so only the small scheduled
side shuffles (the 100-TB property, see sources/bucketed.py). The DEFAULT job
path (run_frontier → run_job) consumes the bucketed store; these tests cover
the ingest idempotence, the wave-shaped plan, and the e2e equivalence."""

import os

from pyspark.sql import functions as F

from crawlingathome_worker_spark.sources.bucketed import (
    ensure_bucketed_pairs,
    write_bucketed_pairs,
)


def test_bucketed_join_skips_big_side_shuffle(spark, fx_dir):
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    write_bucketed_pairs(pairs, table="pairs_bucketed_test", buckets=8)
    bucketed = spark.table("pairs_bucketed_test")

    scheduled = (
        spark.read.parquet(f"{fx_dir}/frontier_seed.parquet")
        .select("url", "image_id")
    )
    # disable auto-broadcast so the test observes the shuffle structure itself
    _saved_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scheduled.join(bucketed.select("image_id", "bytes"), "image_id")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _saved_thr)

    # exactly ONE exchange: the scheduled side; the bucketed scan feeds the join
    # directly (its hashpartitioning comes from the bucket spec). AQE prints
    # both final and initial plans — assert on the FINAL one only.
    final = plan.split("== Initial Plan ==")[0]
    n_exchanges = final.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{final[:2000]}"
    assert "Bucketed: true" in final

    # correctness: identical result to the plain join
    plain = scheduled.join(pairs.select("image_id", "bytes"), "image_id")
    assert joined.count() == plain.count() > 0


def test_ensure_bucketed_pairs_is_idempotent(spark, fx_dir):
    src = os.path.join(fx_dir, "pairs.parquet")
    df1 = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_ensure", buckets=4)
    n1 = df1.count()
    # second call with same source: catalog read, no re-ingest (marker match)
    tdir = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    marker = os.path.join(tdir, "pairs_bucketed_ensure", "_bucketed_ingest.json")
    mtime = os.path.getmtime(marker)
    df2 = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_ensure", buckets=4)
    assert df2.count() == n1 == spark.read.parquet(src).count()
    assert os.path.getmtime(marker) == mtime  # untouched → no rebuild
    # bucket-count change invalidates the marker → rebuild
    ensure_bucketed_pairs(spark, src, table="pairs_bucketed_ensure", buckets=2)
    assert os.path.getmtime(marker) > mtime


def test_wave_fetch_join_no_exchange_on_bucketed_pairs(spark, fx_dir):
    """The WAVE-shaped fetch join (parse → politeness → sample ids →
    simulated_fetch) must not re-shuffle the bucketed pairs side — this is the
    exact subplan run_wave executes when run_frontier's default path feeds it
    the bucketed store (VERDICT r2 item 1)."""
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.operators.fetch import simulated_fetch
    from crawlingathome_worker_spark.operators.parse import parse_links
    from crawlingathome_worker_spark.operators.politeness import politeness_split, robots_gate
    from crawlingathome_worker_spark.operators.schedule import (
        assign_sample_ids,
        unpersist_sample_ids,
    )

    bucketed = ensure_bucketed_pairs(
        spark, os.path.join(fx_dir, "pairs.parquet"), table="pairs_bucketed_wave", buckets=8
    )
    plain = spark.read.parquet(os.path.join(fx_dir, "pairs.parquet"))
    cfg = EngineConfig(default_host_budget=1000, wave_seconds=0.0)
    links = spark.read.parquet(os.path.join(fx_dir, "wat_links.parquet"))
    robots = spark.read.parquet(os.path.join(fx_dir, "robots.parquet"))

    def wave_fetch_plan(pairs):
        scheduled, _ = politeness_split(
            robots_gate(parse_links(links, cfg), robots, cfg), 1, cfg
        )
        scheduled = assign_sample_ids(scheduled, start_id=0)
        try:
            fetched = simulated_fetch(scheduled, pairs)
            rows = fetched.collect()  # execute THIS frame so AQE reifies its final plan
            return rows, fetched._jdf.queryExecution().executedPlan().toString()
        finally:
            unpersist_sample_ids(scheduled)

    # AQE off for a single clean physical tree (no Final/Initial duplication);
    # bucket-pruned scans don't depend on AQE
    _saved_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rows_b, plan_b = wave_fetch_plan(bucketed)
        rows_p, plan_p = wave_fetch_plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _saved_thr)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(rows_b) == len(rows_p) > 0
    # the bucketed scan feeds the join directly — its hashpartitioning comes
    # from the bucket spec
    assert "Bucketed: true" in plan_b and "SelectedBucketsCount" in plan_b
    # the fetch join's image_id shuffle exists ONLY on the scheduled side
    n_b = plan_b.count("Exchange hashpartitioning(image_id")
    n_p = plan_p.count("Exchange hashpartitioning(image_id")
    assert n_b == 1, f"bucketed join should shuffle only the scheduled side, got {n_b}"
    assert n_p == 2, f"plain join should shuffle both sides, got {n_p}"


def test_changed_source_reingests(spark, fx_dir, tmp_path):
    """Freshness is a CONTENT fingerprint of the source file listing (works on
    hdfs/s3 where mtime does not exist, VERDICT r3 item 4): rewriting the
    source parquet — even with identical mtime semantics — must re-ingest."""
    src = str(tmp_path / "pairs_src.parquet")
    pairs = spark.read.parquet(os.path.join(fx_dir, "pairs.parquet"))
    pairs.limit(50).write.mode("overwrite").parquet(src)
    df1 = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_mut", buckets=4)
    assert df1.count() == 50
    # mutate the source: new part files (writer-unique names → new fingerprint)
    pairs.limit(80).write.mode("overwrite").parquet(src)
    df2 = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_mut", buckets=4)
    assert df2.count() == 80  # stale buckets would still read 50
    # and unchanged source stays a catalog read (fingerprint match, no rebuild)
    from crawlingathome_worker_spark.sources.bucketed import _table_location

    marker = os.path.join(_table_location(spark, "pairs_bucketed_mut"), "_bucketed_ingest.json")
    mtime = os.path.getmtime(marker)
    ensure_bucketed_pairs(spark, src, table="pairs_bucketed_mut", buckets=4)
    assert os.path.getmtime(marker) == mtime


def test_ingest_lock_contention_fails_loudly(spark, fx_dir):
    """A live concurrent ingest must raise, not race DROP TABLE + rmtree under
    the other driver (ADVICE r3); a stale (crashed-ingester) lock is swept."""
    import pytest

    import shutil

    src = os.path.join(fx_dir, "pairs.parquet")
    wdir = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    # start from no prior ingest: a valid on-disk marker from an earlier run
    # would legitimately satisfy the lock-free attach fast-path
    spark.sql("DROP TABLE IF EXISTS pairs_bucketed_lock")
    shutil.rmtree(os.path.join(wdir, "pairs_bucketed_lock"), ignore_errors=True)
    lock = os.path.join(wdir, "_pairs_bucketed_lock.ingest.lock")
    with open(lock, "w") as f:
        f.write("99999")  # simulated live holder (fresh mtime)
    try:
        with pytest.raises(RuntimeError, match="already in progress"):
            ensure_bucketed_pairs(spark, src, table="pairs_bucketed_lock", buckets=4)
        # age the lock past the stale gate — next call sweeps it and ingests
        old = os.path.getmtime(lock) - 7200
        os.utime(lock, (old, old))
        df = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_lock", buckets=4)
        assert df.count() == spark.read.parquet(src).count()
        assert not os.path.exists(lock)  # released after the ingest
    finally:
        if os.path.exists(lock):
            os.unlink(lock)


def test_torn_marker_self_heals(spark, fx_dir):
    """A crash mid-marker-write leaves partial JSON; the next call must treat
    it as stale and re-ingest instead of raising JSONDecodeError forever."""
    src = os.path.join(fx_dir, "pairs.parquet")
    ensure_bucketed_pairs(spark, src, table="pairs_bucketed_torn", buckets=4)
    tdir = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    marker = os.path.join(tdir, "pairs_bucketed_torn", "_bucketed_ingest.json")
    with open(marker, "w") as f:
        f.write('{"source"')  # torn write
    df = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_torn", buckets=4)
    assert df.count() == spark.read.parquet(src).count()
    import json

    with open(marker) as f:
        assert json.load(f)["buckets"] == 4  # marker rewritten whole


def test_fresh_process_attaches_without_reingest(spark, fx_dir):
    """The catalog is per-process (in-memory, no Hive metastore): a fresh
    driver must re-ATTACH an existing valid ingest (register the directory,
    keep the bucket spec) — never re-pay the ingest shuffle. Before round 4
    every process restart silently re-bucketed the whole table."""
    import subprocess
    import sys

    from crawlingathome_worker_spark.sources.bucketed import _table_location

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(fx_dir, "pairs.parquet")
    n = spark.read.parquet(src).count()
    ensure_bucketed_pairs(spark, src, table="pairs_bucketed_attach", buckets=4)
    loc = _table_location(spark, "pairs_bucketed_attach")
    before = sorted(os.listdir(loc))
    marker_mtime = os.path.getmtime(os.path.join(loc, "_bucketed_ingest.json"))

    script = f"""
import sys
sys.path.insert(0, {repo!r})
from crawlingathome_worker_spark.session import get_spark
from crawlingathome_worker_spark.sources.bucketed import ensure_bucketed_pairs
spark = get_spark(app_name="attach-check", master="local[4]", shuffle_partitions=4)
df = ensure_bucketed_pairs(spark, {src!r}, table="pairs_bucketed_attach", buckets=4)
print("ROWS", df.count())
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
j = df.alias("a").join(df.select("image_id", "w").alias("b"), "image_id")
j.collect()
plan = j._jdf.queryExecution().executedPlan().toString()
print("BUCKETED", "Bucketed: true" in plan)
spark.stop()
"""
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=repo, timeout=300
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert f"ROWS {n}" in r.stdout  # attached table serves the full data
    assert "BUCKETED True" in r.stdout  # and keeps the shuffle-free property
    # the data files and marker are UNTOUCHED — attach, not re-ingest
    assert sorted(os.listdir(loc)) == before
    assert os.path.getmtime(os.path.join(loc, "_bucketed_ingest.json")) == marker_mtime


def test_live_lock_heartbeat_prevents_stale_sweep(spark, monkeypatch):
    """A live multi-hour ingest must never look stale: the holder's heartbeat
    refreshes the lock mtime, so a second driver arriving after the age gate
    raises instead of sweeping the live lock and racing the rebuild (review
    r4 finding)."""
    import time

    import pytest

    import crawlingathome_worker_spark.sources.bucketed as B

    monkeypatch.setattr(B, "LOCK_STALE_SECONDS", 0.8)
    with B._ingest_lock(spark, "pairs_hb_test"):
        time.sleep(1.2)  # older than the (patched) gate; heartbeat keeps it fresh
        with pytest.raises(RuntimeError, match="already in progress"):
            with B._ingest_lock(spark, "pairs_hb_test"):
                pass
    # released on exit: a fresh acquisition now succeeds
    with B._ingest_lock(spark, "pairs_hb_test"):
        pass


def test_inplace_rewrite_with_stable_name_reingests(spark, tmp_path):
    """ADVICE r4 (medium): a source rewritten IN PLACE with a stable file name
    (single-file parquet regenerated by pyarrow at the same path) must change
    the fingerprint — per-file length/mtime ride the hash, not just names —
    or ensure_bucketed_pairs silently serves the stale bucketed table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "stable_name.parquet")  # a FILE, not a directory

    def write(n):
        pq.write_table(
            pa.table({
                "image_id": [f"img{i:08d}" for i in range(n)],
                "bytes": [b"x" * 16] * n,
                "w": list(range(n)),
            }),
            src,
        )

    write(50)
    df1 = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_inplace", buckets=4)
    assert df1.count() == 50
    write(80)  # SAME path, SAME single file name — only content changed
    df2 = ensure_bucketed_pairs(spark, src, table="pairs_bucketed_inplace", buckets=4)
    assert df2.count() == 80  # name-only fingerprints would still read 50


def test_lock_write_failure_fails_loudly_not_unlocked(spark, monkeypatch):
    """ADVICE r4 (low): a transient os.write failure on a freshly created lock
    must propagate — the old bare re-raise fell into the non-local-root
    degrade branch and ran the DROP TABLE + rmtree ingest with NO lock, the
    exact race the lock exists to prevent."""
    import pytest

    from crawlingathome_worker_spark.sources import bucketed

    wdir = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    lock = os.path.join(wdir, "_lock_write_fail_tbl.ingest.lock")
    if os.path.exists(lock):
        os.unlink(lock)

    def bad_write(fd, data):
        raise OSError("injected transient write error")

    monkeypatch.setattr(os, "write", bad_write)
    try:
        with pytest.raises(RuntimeError, match="refusing to run the ingest unlocked"):
            with bucketed._ingest_lock(spark, "lock_write_fail_tbl"):
                raise AssertionError("entered the ingest body without a lock")
    finally:
        monkeypatch.undo()
    assert not os.path.exists(lock)  # no live-looking empty lock stranded
