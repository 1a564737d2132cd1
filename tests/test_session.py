"""What `get_spark` sets up for every wave: a codegen cache that holds a whole
wave, and the engine's Python worker daemon, whose per-task import-cache
invalidation skips zip archives and still sees shipped files."""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import functions as F

from crawlingathome_worker_spark.config import EngineConfig
from crawlingathome_worker_spark.plans.job import read_metrics
from crawlingathome_worker_spark.plans.wave import run_wave
from crawlingathome_worker_spark.session import codegen_compiles
from crawlingathome_worker_spark.state.snapshots import Warehouse

# A warm wave compiles only the classes of its own literals: the wave number
# written as `wave_added` and the shard filter, each by a few stages. With
# Spark's 100-entry cache the same wave compiled about 170.
WARM_WAVE_MAX_COMPILES = 16


def test_a_warm_wave_reuses_generated_code(spark, fx_dir, tmp_path):
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    wh = Warehouse(str(tmp_path / "wh"))
    cfg = EngineConfig(default_host_budget=5, wave_seconds=0.0, dedup_mode="bloom")
    compiles, manifests = [], []
    for i in range(3):
        before = codegen_compiles(spark)
        manifests.append(run_wave(spark, wh, cfg, pairs, robots,
                                  links.filter(F.col("page_id") % 3 == i),
                                  collect_lineage=False, shard_key=f"s{i}"))
        compiles.append(codegen_compiles(spark) - before)
    assert compiles[2] <= WARM_WAVE_MAX_COMPILES, compiles

    # each wave explains its cost: the manifest counts the compiles up to the
    # metrics write (so at most the whole wave's), and the metrics table
    # carries them with the phase times as wave totals
    recorded = [m["timing"]["codegen_compiles"] for m in manifests]
    assert recorded[0] > 0
    assert all(0 <= r <= c for r, c in zip(recorded, compiles)), (recorded, compiles)
    totals = {
        (r["wave_no"], r["counter"]): r["value"]
        for r in read_metrics(spark, wh).filter("partition_id = -1").collect()
    }
    for m in manifests:
        t, w = m["timing"], m["wave_no"]
        assert totals[(w, "codegen_compiles")] == t["codegen_compiles"]
        assert totals[(w, "prep_ms")] == round(t["prep_s"] * 1000)
        assert totals[(w, "status_ms")] == round(t["status_s"] * 1000)


def _probe_worker(batches):
    """Report the daemon this worker was forked from, and what its per-task
    invalidation does to a zipimporter and to a FileFinder."""
    import importlib.machinery
    import os
    import shutil
    import sys
    import tempfile
    import zipfile
    import zipimport

    from pyspark import worker_util

    tmp = tempfile.mkdtemp(prefix="probe_finders_")
    archive = os.path.join(tmp, "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("probe_mod.py", "X = 1\n")
    finder = importlib.machinery.FileFinder(tmp, (importlib.machinery.SourceFileLoader, [".py"]))
    finder.find_spec("probe_missing")  # fills the directory cache
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    sys.path_importer_cache[tmp] = finder
    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
    try:
        worker_util.importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
        del sys.path_importer_cache[archive], sys.path_importer_cache[tmp]
        shutil.rmtree(tmp)
    for _ in batches:
        pass
    yield pd.DataFrame({
        "daemon": [sys.modules["__main__"].__spec__.name],
        "zip_reads": [reads.count(archive)],
        "finder_invalidated": [finder._path_mtime == -1],
    })


def test_workers_run_under_the_engine_daemon(spark):
    rows = (
        spark.range(4).repartition(2)
        .mapInPandas(_probe_worker, "daemon string, zip_reads int, finder_invalidated boolean")
        .collect()
    )
    assert {tuple(r) for r in rows} == {("crawlingathome_worker_spark.worker_daemon", 0, True)}


def _import_named(batches):
    import importlib

    for b in batches:
        yield pd.DataFrame({"value": [importlib.import_module(n).VALUE for n in b["name"]]})


def test_a_module_shipped_after_workers_started_is_importable(spark, tmp_path):
    spark.range(4).repartition(2).mapInPandas(lambda batches: batches, "id long").collect()
    name = f"shipped_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))
    rows = spark.createDataFrame([(name,)], "name string").mapInPandas(_import_named, "value int").collect()
    assert [r["value"] for r in rows] == [42]


def test_the_daemon_patches_only_the_pyspark_it_knows(monkeypatch):
    import importlib

    from pyspark import worker_util

    from crawlingathome_worker_spark import worker_daemon

    monkeypatch.setattr(worker_util, "importlib", importlib)
    assert worker_daemon.install()
    assert worker_util.importlib.invalidate_caches is worker_daemon.invalidate_caches_except_zips
    assert worker_util.importlib.import_module is importlib.import_module
    # pyspark no longer calls the invalidation through worker_util.importlib:
    # the stock daemon runs unchanged
    monkeypatch.delattr(worker_util, "importlib")
    assert not worker_daemon.install()
    assert not hasattr(worker_util, "importlib")
