"""connected_components (operators/components.py) — alternating large/small
star vs an independent union-find oracle, plus shape/convergence pins and the
component-based near-dup drop."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawlingathome_worker_spark.operators.components import (
    component_members,
    connected_components,
)
from crawlingathome_worker_spark.session import release_checkpoint


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Independent oracle: path-compressed union-find → node → min id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges: list[tuple[int, int]], **kw) -> dict[int, int]:
    df = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(df, **kw)
    return {r["node"]: r["component"] for r in out.collect()}


def test_matches_union_find_on_random_graphs(spark):
    rng = np.random.default_rng(7)
    for n, m in [(30, 15), (60, 60), (120, 200), (200, 80)]:
        edges = [
            (int(rng.integers(0, n)), int(rng.integers(0, n))) for _ in range(m)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        assert _run(spark, edges) == _union_find(edges), (n, m)


def test_chain_converges_in_log_rounds(spark):
    # a 256-link chain needs 256 rounds under naive min-propagation; the
    # star-contraction pair must close it in ≤ 12 — this is the scale pin
    chain = [(i, i + 1) for i in range(256)]
    got = _run(spark, chain, max_iter=12)
    assert got == {i: 0 for i in range(257)}


def test_cliques_duplicates_reversed_and_selfloops(spark):
    edges = (
        [(a, b) for a in range(5) for b in range(5) if a != b]  # clique w/ both dirs
        + [(10, 11), (11, 10), (11, 11), (10, 11)]  # dups, reversed, self-loop
        + [(20, 21), (21, 22)]
    )
    got = _run(spark, edges)
    assert got == {**{i: 0 for i in range(5)}, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df).count() == 0


def test_representatives_and_keep_filter(spark, fx_dir):
    edges = [(1, 2), (2, 3), (5, 6), (9, 9)]  # self-loop 9 drops out entirely
    df = spark.createDataFrame(edges, "a long, b long")
    comp = connected_components(df)
    # each component is labelled by its min id: the kept representative
    reps = {r["component"] for r in comp.collect()}
    assert reps == {1, 5}

    # the cluster-based near-dup drop: anti-join the component_members drop set
    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    members = component_members(pairs, "doc_a", "doc_b")
    kept = docs.join(members.select(F.col("doc_a").alias("doc_id")), "doc_id", "left_anti")
    # members 2,3,6 dropped; roots 1,5 kept; singletons 0,4,7 untouched
    assert {r["doc_id"] for r in kept.collect()} == {0, 1, 4, 5, 7}
    release_checkpoint(members)


def test_non_star_guard_is_silent_on_real_runs(spark):
    # 3 disjoint mid-size blobs — exercises the idempotency guard path
    rng = np.random.default_rng(11)
    edges = []
    for base in (0, 1000, 2000):
        nodes = rng.integers(base, base + 50, size=(60, 2))
        edges += [(int(a), int(b)) for a, b in nodes if a != b]
    got = _run(spark, edges)
    oracle = _union_find(edges)
    assert got == oracle
    # components never bridge the blobs
    for n, c in got.items():
        assert abs(n - c) < 1000


def test_component_members_string_ids(spark):
    pairs = spark.createDataFrame(
        [("img_b", "img_c"), ("img_a", "img_c"), ("img_x", "img_y")],
        "id_a string, id_b string",
    )
    drop = {r["id_a"] for r in component_members(pairs, "id_a", "id_b").collect()}
    # components {a,b,c} and {x,y}; min-id reps a and x are kept
    assert drop == {"img_b", "img_c", "img_y"}


def test_finalize_component_strategy_is_transitive_safe(spark):
    """Chain via a hub: phash(1)~phash(3), phash(2)~phash(3), 1≁2. Greedy
    drops only the per-pair max (3) and keeps BOTH 1 and 2 — two members of
    one transitive cluster. The component strategy keeps exactly min(cluster)."""
    from crawlingathome_worker_spark.plans.dataset import finalize_pairs

    rows = [
        (1, 0b0000, "caption one", 1.0),
        (2, 0b1111, "caption two", 1.0),
        (3, 0b0011, "caption three", 1.0),
        (9, 0x5555_5555_0000, "caption nine", 1.0),  # hamming ≥ 14 from all
    ]
    raw = spark.createDataFrame(
        rows, "sample_id long, phash long, caption string, score double"
    )
    greedy = finalize_pairs(raw, dedup_strategy="greedy")["final"]
    comp = finalize_pairs(raw, dedup_strategy="component")["final"]
    assert {r["sample_id"] for r in greedy.collect()} == {1, 2, 9}
    assert {r["sample_id"] for r in comp.collect()} == {1, 9}


def test_max_iter_exhaustion_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(64)], "a long, b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=1)


def test_finalize_component_keeps_numeric_min_across_string_cast(spark):
    """The pHash stage casts ids to STRING for the banded pair join; the
    component drop-set must still pick representatives in the id's NATIVE
    order (ADVICE r5): cluster {2, 10} keeps 2 (numeric min) even though
    string order would keep "10"."""
    from crawlingathome_worker_spark.plans.dataset import finalize_pairs

    rows = [
        (2, 0b1010101, "caption two", 0.9),
        (10, 0b1010100, "entirely different words", 0.9),  # hamming 1 from 2's
    ]
    raw = spark.createDataFrame(
        rows, "sample_id long, phash long, caption string, score double"
    )
    final = finalize_pairs(raw, dedup_strategy="component")["final"]
    assert sorted(r["sample_id"] for r in final.collect()) == [2]


def test_connected_components_rejects_non_integral_ids(spark):
    """String node ids would cast to all-null longs and silently drop every
    edge (a dedup no-op); _canon must fail fast instead (ADVICE r5)."""
    from crawlingathome_worker_spark.operators.components import connected_components

    edges = spark.createDataFrame([("img_a", "img_b")], "x string, y string")
    with pytest.raises(TypeError, match="integral"):
        connected_components(edges, src="x", dst="y")
