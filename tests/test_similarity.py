"""ANN operators: brute-force exactness vs numpy, LSH recall, near-dup planting."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawlingathome_worker_spark.operators.similarity import (
    brute_force_topk,
    knn_self_join,
    lsh_bucketed_topk,
    with_lsh_signature,
)


def _embeddings(spark, n=300, dim=32, seed=9, plant_dups=True):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    if plant_dups:
        vecs[1] = vecs[0] + rng.standard_normal(dim) * 0.01  # near-dup of 0
        vecs[2] = vecs[0]  # exact dup of 0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        vecs,
    )


def test_brute_force_matches_numpy(spark):
    df, vecs = _embeddings(spark, plant_dups=False)
    q = vecs[0]
    got = [(r["vec_id"], r["cosine"]) for r in brute_force_topk(df, q, k=5).collect()]
    # numpy truth on the SAME float32-rounded embeddings Spark stored
    v32 = vecs.astype(np.float32).astype(np.float64)
    sims = (v32 @ (q / np.linalg.norm(q))) / np.linalg.norm(v32, axis=1)
    want_ids = list(np.argsort(-sims, kind="stable")[:5])
    assert [g[0] for g in got] == [int(i) for i in want_ids]
    for (gid, gc) in got:
        assert abs(gc - sims[gid]) < 1e-6


def test_lsh_topk_finds_planted_neighbors(spark):
    df, vecs = _embeddings(spark)
    q = vecs[0]
    got = [r["vec_id"] for r in lsh_bucketed_topk(df, q, k=3, n_planes=10).collect()]
    # the exact dup (2) and near dup (1) share the query's bucket by construction
    assert got[0] in (0, 2)  # cosine 1.0 ties broken by id
    assert {0, 1, 2} & set(got)


def test_lsh_signature_collision_for_identical(spark):
    df, _ = _embeddings(spark)
    sigs = {r["vec_id"]: r["lsh_sig"] for r in with_lsh_signature(df, 32).collect()}
    assert sigs[0] == sigs[2]  # identical vectors, identical signature


def test_knn_self_join_finds_neardups(spark):
    df, _ = _embeddings(spark)
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in knn_self_join(df, threshold=0.95).collect()}
    assert (0, 2) in pairs and abs(pairs[(0, 2)] - 1.0) < 1e-9
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.95
    # random 32-d vectors essentially never exceed 0.95 cosine
    assert all({a, b} <= {0, 1, 2} for (a, b) in pairs)


def test_knn_banded_recall_matches_lsh_math(spark):
    """Recall calibration for the banded multi-table near-dup join: for a pair
    at angle θ, P(candidate) = 1 - (1 - (1-θ/π)^bits)^tables. Plant 150 pairs
    at a known cosine and check the empirical recall against the formula
    (deterministic given the seeded planes — the tolerance absorbs the
    binomial spread of the 150 planted angles, not run-to-run noise)."""
    import math

    from crawlingathome_worker_spark.operators.similarity import knn_self_join

    rng = np.random.default_rng(11)
    dim, n_pairs, noise = 32, 150, 0.28
    rows, target = [], []
    for i in range(n_pairs):
        a = rng.standard_normal(dim)
        b = a + rng.standard_normal(dim) * noise  # cosine ≈ 0.96
        rows.append((2 * i, [float(x) for x in a]))
        rows.append((2 * i + 1, [float(x) for x in b]))
        ca = a / np.linalg.norm(a)
        cb = b / np.linalg.norm(b)
        target.append(float(ca @ cb))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    bits, tables = 10, 3
    got = {
        (r["id_a"], r["id_b"])
        for r in knn_self_join(
            df, threshold=0.9, n_tables=tables, bits_per_table=bits
        ).collect()
    }
    planted = [(2 * i, 2 * i + 1) for i in range(n_pairs) if target[i] >= 0.9]
    found = sum(1 for p in planted if p in got)
    recall = found / len(planted)
    theta = sum(math.acos(min(t, 1.0)) for t in target) / len(target)
    p_bit = 1 - theta / math.pi
    expect = 1 - (1 - p_bit**bits) ** tables
    assert abs(recall - expect) < 0.15, (recall, expect)
    assert recall > 0.5  # the operator is actually useful at these settings


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.1"), reason="sf0.1 testdata not present"
)
def test_recall_calibration_at_sf01(spark):
    """Recall calibration at a SECOND scale (VERDICT r2 item 8): the unit
    fixtures above pin recall on 300-row synthetics; this repeats both
    calibrations on the driver's sf0.1 tables (2000 embeddings, 5000 docs)
    against numpy brute force.

    - knn_self_join (probabilistic banding): expected recall for a pair at
      angle θ is p(θ) = 1 - (1 - (1-θ/π)^bits)^tables; the empirical recall
      must match the MEAN of p(θ) over the true pairs (they sit at varying
      angles, so the per-pair formula is averaged, not evaluated at one θ).
    - simhash banding (pigeonhole, bands = radius+1): recall is EXACTLY 1.0
      at any radius by construction — asserted as set equality.
    """
    import math

    import pyarrow.parquet as pq

    from crawlingathome_worker_spark.operators.similarity import knn_self_join
    from crawlingathome_worker_spark.operators.textdedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )
    from tests.golden_queries import _simhash

    # --- knn_self_join on sf0.1 embeddings ---------------------------------
    sf_dir = "/root/testdata/sf0.1"
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    m = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids, m = ids[order], m[order]
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = 1.0
    mn = m / norms[:, None]
    cos = mn @ mn.T
    threshold, bits, tables = 0.4, 6, 4
    iu = np.triu_indices(len(ids), k=1)
    true_mask = cos[iu] >= threshold
    true_pairs = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(iu[0][true_mask], iu[1][true_mask])
    }
    df = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    got = {
        (r["id_a"], r["id_b"])
        for r in knn_self_join(
            df, threshold=threshold, n_tables=tables, bits_per_table=bits, dim=64
        ).collect()
    }
    assert got <= true_pairs  # no false positives: exact cosine verifies candidates
    recall = len(got & true_pairs) / len(true_pairs)
    thetas = np.arccos(np.clip(cos[iu][true_mask], -1.0, 1.0))
    expect = float(np.mean(1 - (1 - (1 - thetas / math.pi) ** bits) ** tables))
    assert abs(recall - expect) < 0.10, (recall, expect, len(true_pairs))

    # --- simhash banding on sf0.1 documents: EXACT recall ------------------
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pylist()
    fps = {d["doc_id"]: _simhash(d["text"]) for d in docs}
    radius = 3
    dids = sorted(fps)
    # fingerprints are signed 64-bit (Spark long); build via int64 then
    # REINTERPRET the bits — a direct uint64 construction from negative
    # Python ints is deprecated and becomes an error on a future numpy
    fp_arr = np.array([fps[d] for d in dids], dtype=np.int64).view(np.uint64)
    # popcount via bit tricks: hamming(a,b) over all pairs, vectorized per row
    want = set()
    for i in range(len(dids)):
        x = fp_arr[i] ^ fp_arr[i + 1 :]
        h = np.zeros(len(x), dtype=np.int64)
        while x.any():
            h += (x & np.uint64(1)).astype(np.int64)
            x >>= np.uint64(1)
        for off in np.nonzero(h <= radius)[0]:
            want.add((dids[i], dids[i + 1 + int(off)]))
    sdf = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    got_sh = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(simhash_fingerprints(sdf), max_hamming=radius).collect()
    }
    assert got_sh == want  # pigeonhole banding: complete AND exact
    assert len(want) > 0  # the fixture actually plants near-dups at this scale
