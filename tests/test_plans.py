"""Physical-plan guards: assert the plans we designed for are the plans Catalyst
actually produces (SURVEY.md §4). These protect the 100-TB properties — pushdown,
pruning, broadcast dims, no-global-sort top-k, map-side partial aggregation,
single fused Python pass — against silent regressions."""

import pytest
from pyspark.sql import functions as F

from crawlingathome_worker_spark.config import EngineConfig

SF = "/root/testdata/sf0.01"
CFG = EngineConfig()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_and_column_pruning(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    q = o.filter(F.col("o_totalprice") > 100.0).select("o_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100.0)" in plan
    # ReadSchema must NOT include unprojected columns
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in rs and "o_totalprice" in rs
    assert "o_orderpriority" not in rs and "o_orderstatus" not in rs


def test_robots_gate_is_broadcast_join(spark, fx_dir):
    from crawlingathome_worker_spark.operators.politeness import robots_gate

    cands = (
        spark.read.parquet(f"{fx_dir}/frontier_seed.parquet")
        .select("url", "host")
    )
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    plan = _plan(robots_gate(cands, robots, CFG))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered_not_global_sort(spark):
    from crawlingathome_worker_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [0.1] * 64
    plan = _plan(brute_force_topk(e, q, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort shuffle


def test_tpch_q10_star_join_plan(spark):
    """q48: dims broadcast (no SortMergeJoin at this SF), top-20 is
    TakeOrderedAndProject — the LIMIT never becomes a global sort."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q48_tpch_q10"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_anti_join_shape(spark):
    from crawlingathome_worker_spark.operators.dedup import seen_filter_exact

    cands = spark.createDataFrame([("a",), ("b",)], "pair_md5 string")
    seen = spark.createDataFrame([("a", "parsed")], "pair_md5 string, kind string")
    plan = _optimized(seen_filter_exact(cands, seen))
    assert plan.count("LeftAnti") == 2  # clipped stage + parsed stage


def test_aggregation_is_partial_then_final(spark):
    """groupBy sums must map-side combine (two HashAggregate levels)."""
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = l.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    q.collect()  # execute THIS dataset so AQE finalizes its plan (codegen spans print)
    plan = _plan(q)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "*(" in plan  # the '*(n)' prefix marks WholeStageCodegen spans


def test_parse_is_one_fused_python_pass(spark, fx_dir):
    """The enrichment stage is exactly ONE ArrowEvalPython node (5 string UDFs
    fused into a single struct-returning pandas UDF — one Arrow round-trip, and
    only the 3 input columns cross into Python)."""
    from crawlingathome_worker_spark.operators.parse import parse_links

    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet")
    plan = _plan(parse_links(links, CFG))
    assert plan.count("ArrowEvalPython") == 1
    assert "MapInPandas" not in plan  # no whole-row Python round-trip
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python at all


def test_decode_does_not_echo_bytes_through_python(spark, fx_dir):
    """with_decoded must be an ArrowEvalPython over the bytes column only —
    the multi-GB binary column must NOT round-trip back out of Python."""
    from crawlingathome_worker_spark.operators.fetch import with_decoded

    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet").select("image_id", "bytes")
    plan = _plan(with_decoded(pairs))
    assert plan.count("ArrowEvalPython") == 1
    assert "MapInPandas" not in plan


def test_sample_id_assignment_shuffles_data_exactly_once(spark):
    """W1: ONE range shuffle of the data; ranks come from monotonic ids +
    a broadcast of P offset rows — no single-partition window, no second
    Exchange of the data on _pid."""
    from crawlingathome_worker_spark.operators.schedule import assign_sample_ids

    o = spark.read.parquet(f"{SF}/orders.parquet")
    out = assign_sample_ids(o, 0, order_cols=("o_orderkey",))
    out.collect()
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert "Exchange rangepartitioning" in plan
    assert "Exchange hashpartitioning(_pid" not in plan  # no data re-shuffle
    assert "windowspecdefinition(_pid" not in plan
    assert "BroadcastHashJoin" in plan  # offsets joined by broadcast
    # correctness: ids are the 1-based rank in o_orderkey order
    rows = out.select("o_orderkey", "sample_id").orderBy("o_orderkey").collect()
    assert [r["sample_id"] for r in rows] == list(range(1, len(rows) + 1))
    out.unpersist()


def test_lineitem_scan_prunes_for_q1(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["q10_tpch_q1"](spark, SF))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in rs and "l_suppkey" not in rs  # pruned
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_politeness_deferred_has_no_antijoin_shuffle(spark, fx_dir):
    """Deferred is the rank-filtered complement of the politeness windows — NOT
    an anti-join of the wave back on url (VERDICT.md round-1 item 4). The plan
    must contain no join at all and no url-keyed Exchange: only the two window
    Exchanges ((host,_salt) then host) the top-k design calls for."""
    from crawlingathome_worker_spark.operators.parse import parse_links
    from crawlingathome_worker_spark.operators.politeness import politeness_split, robots_gate

    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    gated = robots_gate(parse_links(links, CFG), robots, CFG)
    scheduled, deferred = politeness_split(gated, wave_no=1, cfg=CFG)
    dplan = _plan(deferred).split("== Initial Plan ==")[0]
    # no anti-join of the wave back on url, no sort-merge join anywhere —
    # robots broadcast joins are the only joins in the deferred plan
    assert "LeftAnti" not in dplan and "SortMergeJoin" not in dplan
    join_lines = [ln for ln in dplan.splitlines() if "Join" in ln]
    assert join_lines and all("BroadcastHashJoin" in ln for ln in join_lines)
    # scheduled keeps the round-1 shape: phase-2 window ranks only phase-1
    # survivors (hot-host safety) — 4 exchanges, no extra stage
    splan = _plan(scheduled).split("== Initial Plan ==")[0]
    assert splan.count("Exchange hashpartitioning") == 4, splan


def test_knn_self_join_bucket_fanout_bounded(spark):
    """Skewed embedding fixture: 40% of vectors are near-copies of one point
    (one pathological LSH bucket per table). max_bucket_rows must drop those
    buckets — candidate pairs stay bounded by cap²·tables instead of going
    quadratic in the skew mass — while normal buckets still produce pairs."""
    import numpy as np

    from crawlingathome_worker_spark.operators.similarity import knn_self_join

    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    rows = []
    for i in range(200):
        if i < 80:  # hot cluster: tiny perturbations of one vector
            v = base + rng.standard_normal(16) * 1e-3
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = knn_self_join(df, threshold=0.99, n_tables=2, bits_per_table=4)
    capped = knn_self_join(
        df, threshold=0.99, n_tables=2, bits_per_table=4, max_bucket_rows=40
    )
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    assert n_uncapped >= 80 * 79 / 2  # the hot cluster IS quadratic uncapped
    assert n_capped < n_uncapped / 10  # cap drops the pathological buckets
    # and the cap's filter is an aggregate + anti-join on the bucket key only —
    # never a shuffle of the vectors by url/id
    plan = _plan(capped)
    assert "Exchange hashpartitioning(band" in plan or "Exchange hashpartitioning(sig" in plan


def test_minhash_lsh_join_is_bucket_keyed(spark):
    """q20's pair join must shuffle on the (band, bucket) LSH key — never a
    cartesian/broadcast-nested-loop over documents, and no probe job thanks to
    num_perm plumbing (the plan builds without touching data)."""
    from crawlingathome_worker_spark.operators.textdedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, num_perm=64)
    pairs = minhash_lsh_pairs(sigs, bands=16, threshold=0.5, num_perm=64)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bucket" in plan  # equi-join keys
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_corpus_build_scans_once_with_pushdown(spark):
    """q38 composes 4 operators; the physical plan must still be ONE documents
    scan feeding one linear pipeline (dedup window → UDF gate → JVM filters),
    with column pruning to the two columns the pipeline needs."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["q38_corpus_build"](spark, SF))
    assert plan.count("FileScan parquet") == 1
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema.split("text")[1][:60]  # unused cols pruned


def test_fused_seen_gate_is_one_cogroup(spark):
    """Bloom-mode seen gate: ONE FlatMapCoGroupsInPandas (single candidate
    shuffle) for clipped+parsed+retry membership — the unfused pipeline had
    three cogroups plus a union+dedup stage."""
    from crawlingathome_worker_spark.config import BloomParams, CuckooParams
    from crawlingathome_worker_spark.state.bloom import empty_bloom, seen_gate_bloom
    from crawlingathome_worker_spark.state.cuckoo import empty_cuckoo

    bp = BloomParams(capacity=10_000, fpr=1e-4, partitions=4)
    cp = CuckooParams(buckets_per_partition=1 << 10, partitions=4)
    cands = spark.createDataFrame([("k%d" % i,) for i in range(100)], "pair_md5 string")
    gate = seen_gate_bloom(
        cands, empty_bloom(spark, bp), empty_bloom(spark, bp), empty_cuckoo(spark, cp), bp, cp
    )
    plan = _plan(gate)
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert gate.count() == 100  # empty state gates nothing


def test_dataset_build_end_to_end(spark, fx_dir, tmp_path):
    """Downstream dataset finalization over a real 2-wave warehouse: image
    exact+near dedup, caption near-dedup, score gate — invariants checked on
    the materialized output."""
    from crawlingathome_worker_spark.plans.dataset import build_training_set
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    cfg = EngineConfig(default_host_budget=20, wave_seconds=30.0)
    wh = Warehouse(str(tmp_path / "wh"))
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    mid = links.agg(F.max("page_id")).collect()[0][0] // 2
    run_wave(spark, wh, cfg, pairs, robots, links.filter(F.col("page_id") <= mid),
             collect_lineage=False)
    run_wave(spark, wh, cfg, pairs, robots, links.filter(F.col("page_id") > mid),
             collect_lineage=False)

    final, stats = build_training_set(spark, wh, score_threshold=0.0)
    rows = final.collect()
    assert stats["raw_rows"] > stats["final_rows"] > 50  # dedup actually bit
    assert stats["after_exact_phash"] <= stats["raw_rows"]
    assert stats["after_near_phash"] <= stats["after_exact_phash"]
    # invariants on the final set
    phashes = [r["phash"] for r in rows]
    assert len(phashes) == len(set(phashes))  # no exact-pHash dup survives
    assert all(r["score"] >= 0.0 for r in rows)
    # near-dup images (hamming ≤ 3) are gone too
    from crawlingathome_worker_spark.phash import hamming64
    import itertools
    for a, b in itertools.combinations(sorted(set(phashes))[:300], 2):
        assert hamming64(a, b) > 3

    # component strategy over the SAME warehouse: transitive-safe drop keeps
    # exactly one member per near-dup cluster — always a subset of greedy's
    # keeps (greedy can keep several members of one chain, never fewer)
    final_c, stats_c = build_training_set(
        spark, wh, score_threshold=0.0, dedup_strategy="component"
    )
    kept_g = {r["sample_id"] for r in rows}
    kept_c = {r["sample_id"] for r in final_c.collect()}
    final_c.unpersist()
    assert kept_c <= kept_g
    assert 50 < stats_c["final_rows"] <= stats["final_rows"]


def test_aqe_splits_skewed_fetch_join(spark):
    """The docs claim AQE absorbs residual hot-KEY skew in the fetch join
    after salting. Demonstrate it: one key owning 80% of an (incompressible)
    payload join must come out of AQE as SortMergeJoin(skew=true) with a
    skewed AQEShuffleRead — the straggler partition is split at runtime."""
    saved = {}
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "262144",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in tuned.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        pad = F.concat(
            *[F.md5(F.concat(F.col("id").cast("string"), F.lit(str(i)))) for i in range(4)]
        )
        big = (
            spark.range(0, 300_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 10 < 8, F.lit(0)).otherwise(F.col("id") % 1000),
            )
            .withColumn("pad", pad)
        )
        dim = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 2)
        j = big.join(dim, "k").select(F.sum(F.length("pad")).alias("s"))
        assert j.collect()[0]["s"] > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wave_job_budget(spark, fx_dir, tmp_path):
    """Fixed-cost regression guard: a committed wave runs ≤ 45 Spark jobs
    (AQE makes each shuffle-stage materialization a job, so this effectively
    caps stage count). A stray .count()/action in the wave shows up here —
    measured 39 (exact) / 37 (bloom) when pinned."""
    import tempfile

    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet").filter("page_id < 100")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    sc = spark.sparkContext
    for mode in ("exact", "bloom"):
        cfg = EngineConfig(default_host_budget=10, dedup_mode=mode)
        wh = Warehouse(str(tmp_path / f"wh_{mode}"))
        sc.setJobGroup(f"wavejobs-{mode}", "budget")
        try:
            run_wave(spark, wh, cfg, pairs, robots, links, collect_lineage=False)
        finally:
            sc.setJobGroup(None, None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(f"wavejobs-{mode}"))
        assert n_jobs <= 45, f"{mode} wave ran {n_jobs} jobs"


def test_read_metrics_tidy(spark, fx_dir, tmp_path):
    """read_metrics is a view over the committed manifests: wave totals and
    per-partition lineage rows, no rows for maintenance snapshots, and after
    gc only the kept waves. No wave writes a second record of them."""
    from crawlingathome_worker_spark.plans.job import read_metrics, run_job
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    cfg = EngineConfig(default_host_budget=10)
    wh = Warehouse(str(tmp_path / "wh"))
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet").filter("page_id < 60")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    run_job(spark, wh, cfg, [links, links], pairs, robots, collect_lineage=True)
    committed = wh.committed()
    for man in committed:
        assert "metrics" not in man["tables"]
        assert "metrics" not in man["timing"]["jobs"]

    def table():
        return {(r["wave_no"], r["counter"], r["partition_id"], r["value"])
                for r in read_metrics(spark, wh).collect()}

    rows = table()
    assert {r[0] for r in rows} == {1, 2}
    totals = {(w, c): v for w, c, p, v in rows if p == -1}
    for man in committed:
        w = man["wave_no"]
        assert {(w, c): v for c, v in man["counters"].items()}.items() <= totals.items()
        assert totals[(w, "codegen_compiles")] == man["timing"]["codegen_compiles"]
        assert totals[(w, "count_fallbacks")] == 0
    # the per-partition rows are exactly the manifests' lineage
    lineage = {
        (man["wave_no"], stage, p["partition_id"], p["n"])
        for man in committed for stage, parts in man["lineage"].items() for p in parts
    }
    assert lineage and {r for r in rows if r[2] >= 0} == lineage

    # expiring snapshot 1 drops wave 1's rows; a maintenance snapshot adds none
    wh.gc(keep_last=1, grace_seconds=0)
    kept = {r for r in rows if r[0] == 2}
    assert table() == kept
    assert wh.compact_appends(spark, "pairs_out") is not None
    assert table() == kept


def test_counter_fallback_is_counted(spark, fx_dir, tmp_path, monkeypatch):
    """When no observation can be read, the wave recounts candidates, unseen
    and deferred with count(): the same counters, and three counted
    fallbacks in its timing and in read_metrics."""
    from pyspark.sql import Observation

    from crawlingathome_worker_spark.plans.job import read_metrics
    from crawlingathome_worker_spark.plans.wave import run_wave
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    cfg = EngineConfig(default_host_budget=10, dedup_mode="bloom")
    links = spark.read.parquet(f"{fx_dir}/wat_links.parquet").filter("page_id < 60")
    pairs = spark.read.parquet(f"{fx_dir}/pairs.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")

    plain = run_wave(spark, Warehouse(str(tmp_path / "plain")), cfg, pairs, robots, links)
    assert plain["timing"]["count_fallbacks"] == 0

    def unreadable(self):
        raise RuntimeError("observation not materialized")

    wh = Warehouse(str(tmp_path / "fallback"))
    with monkeypatch.context() as mp:
        mp.setattr(Observation, "get", property(unreadable))
        m = run_wave(spark, wh, cfg, pairs, robots, links)
    assert m["counters"] == plain["counters"]
    assert m["timing"]["count_fallbacks"] == 3
    got = read_metrics(spark, wh).filter("counter = 'count_fallbacks'").collect()
    assert [(r["wave_no"], r["partition_id"], r["value"]) for r in got] == [(1, -1, 3)]
