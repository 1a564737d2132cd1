"""The shared bucket-local pair executor (operators/bucketpairs.py): the
partition driver without Spark, the pHash / SimHash / knn callers against
brute force on adversarial inputs, and the one-stage plan shape."""

import numpy as np
import pandas as pd
import pytest

from crawlingathome_worker_spark.operators.bucketpairs import (
    _popcount64,
    _whole_buckets,
    hamming_kernel,
    pair_sorted_batches,
)

RADIUS = 3


def _batches(df: pd.DataFrame, size: int, pulled: list | None = None):
    for i in range(0, len(df), size):
        b = df.iloc[i : i + size].reset_index(drop=True)
        if pulled is not None:
            pulled.append(set(b["row"]))
        yield b


def _sorted_buckets(sizes: list[int]) -> pd.DataFrame:
    band = np.repeat(np.arange(len(sizes)) % 3, sizes)
    chunk = np.repeat(np.arange(len(sizes)), sizes)
    df = pd.DataFrame({"band": band, "chunk": chunk})
    df = df.sort_values(["band", "chunk"], kind="stable").reset_index(drop=True)
    df["row"] = np.arange(len(df))
    return df


def test_partition_driver_holds_one_bucket_plus_current_batch():
    """Many small sorted batches: every frame the driver pairs is made of
    complete buckets, and its rows that did not come with the current batch
    all belong to ONE bucket — the carry is never more than a bucket."""
    rng = np.random.default_rng(3)
    sizes = [int(s) for s in rng.choice([1, 1, 1, 2, 3, 5], size=300)] + [40, 1, 23]
    df = _sorted_buckets(sizes)
    size_of = df.groupby(["band", "chunk"]).size().to_dict()
    pulled: list[set] = []
    seen: set = set()
    covered = 0
    for frame, starts in _whole_buckets(_batches(df, 7, pulled), ["band", "chunk"]):
        older = frame[~frame["row"].isin(pulled[-1])]
        assert len(older[["band", "chunk"]].drop_duplicates()) <= 1
        keys = list(zip(frame["band"], frame["chunk"]))
        assert list(starts) == [i for i in range(len(keys)) if i == 0 or keys[i] != keys[i - 1]]
        for key in set(keys):
            assert key not in seen and keys.count(key) == size_of[key]
            seen.add(key)
        covered += len(frame)
    assert covered == len(df) and len(pulled) == -(-len(df) // 7)


def _hash_rows(rng, id_kind: str):
    """(id, hash) rows: one hot 16-bit chunk shared by 1500 hashes, many
    singleton buckets, near copies at 1..4 flipped bits, and repeated ids."""
    hot = (rng.integers(0, 1 << 48, size=1500, dtype=np.int64) << 16) | 0xBEEF
    lone = rng.integers(-(1 << 62), 1 << 62, size=400, dtype=np.int64)
    base = np.concatenate([hot[:60], lone[:40]])
    flips = np.zeros(len(base), dtype=np.int64)
    for k, nbits in enumerate(rng.integers(1, 5, size=len(base))):
        for bit in rng.choice(np.arange(16, 63), size=nbits, replace=False):
            flips[k] |= np.int64(1) << np.int64(bit)
    hashes = np.concatenate([hot, lone, base ^ flips]).tolist()
    ids = list(range(len(hashes)))
    ids += ids[:10] + ids[1500:1505]  # repeated ids: exact copies, then near hashes
    hashes += hashes[:10] + [h ^ 1 for h in hashes[1500:1505]]
    if id_kind == "string":
        ids = [f"img-{i}" for i in ids]  # string order differs from numeric order
    else:
        ids = [i * 7919 - 10**12 for i in ids]
    return ids, hashes


def _brute_hamming(ids, hashes) -> dict:
    h = np.array(hashes, dtype=np.int64).view(np.uint64)
    want: dict = {}
    for i in range(len(ids)):
        d = _popcount64(h[i] ^ h[i + 1 :])
        for off in np.flatnonzero(d <= RADIUS):
            j = i + 1 + int(off)
            if ids[i] != ids[j]:
                want.setdefault((min(ids[i], ids[j]), max(ids[i], ids[j])), set()).add(int(d[off]))
    return want


def _assert_pairs(got: list, want: dict) -> None:
    got_keys = [(a, b) for a, b, _ in got]
    assert len(got_keys) == len(set(got_keys))
    assert set(got_keys) == set(want)
    assert all(v in want[(a, b)] for a, b, v in got)


@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_partition_driver_matches_brute_force(id_kind):
    """The driver alone over 5-row batches: the 1500-row hot bucket spans
    hundreds of batches and is paired in more than one row block."""
    ids, hashes = _hash_rows(np.random.default_rng(5), id_kind)
    h = np.array(hashes, dtype=np.int64).view(np.uint64)
    parts = [(b, (h >> np.uint64(16 * b)) & np.uint64(0xFFFF)) for b in range(RADIUS + 1)]
    banded = pd.concat(
        [
            pd.DataFrame({"band": b, "chunk": c.astype(np.int64), "id": ids, "h": hashes})
            for b, c in parts
        ]
    ).sort_values(["band", "chunk"], kind="stable")
    banded["row"] = np.arange(len(banded))
    frames = list(
        pair_sorted_batches(
            _batches(banded, 5), ["band", "chunk"], "id", "h", hamming_kernel(RADIUS),
            ("a", "b", "d"),
        )
    )
    out = pd.concat(frames).drop_duplicates(["a", "b"])
    got = [(a, b, int(d)) for a, b, d in zip(out["a"], out["b"], out["d"])]
    _assert_pairs(got, _brute_hamming(ids, hashes))


@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_hamming_callers_match_brute_force(spark, id_kind):
    """phash_near_pairs and simhash_near_pairs on the adversarial hash rows
    (hot chunk, singletons, repeated ids): set-equal to brute force."""
    from crawlingathome_worker_spark.operators.imagededup import phash_near_pairs
    from crawlingathome_worker_spark.operators.textdedup import simhash_near_pairs

    ids, hashes = _hash_rows(np.random.default_rng(6), id_kind)
    want = _brute_hamming(ids, hashes)
    assert len(want) > 50
    id_type = "string" if id_kind == "string" else "long"
    ph = spark.createDataFrame(list(zip(ids, hashes)), f"image_id {id_type}, phash long")
    got = [tuple(r) for r in phash_near_pairs(ph, max_hamming=RADIUS).collect()]
    _assert_pairs(got, want)
    sh = ph.select(ph.image_id.alias("doc_id"), ph.phash.alias("simhash"))
    got = [tuple(r) for r in simhash_near_pairs(sh, max_hamming=RADIUS).collect()]
    _assert_pairs(got, want)


@pytest.mark.parametrize("id_kind", ["long", "string"])
@pytest.mark.parametrize("bits", [4, 12])
def test_knn_self_join_matches_brute_force(spark, id_kind, bits):
    """40 % of the vectors are near copies of one point (one hot bucket per
    table at 4 bits, uncapped); at 12 bits nearly every bucket is a singleton.
    Repeated ids included. → exactly the pairs that share a (table, signature)
    bucket and reach the threshold, by brute force over the same planes."""
    from crawlingathome_worker_spark.operators.similarity import _planes, knn_self_join

    rng = np.random.default_rng(7)
    dim, tables, thr = 16, 2, 0.99
    base = rng.standard_normal(dim)
    vecs = [base + rng.standard_normal(dim) * 1e-3 if i < 80 else rng.standard_normal(dim)
            for i in range(200)]
    ids = list(range(200)) + [3, 150]
    vecs += [vecs[3], vecs[150]]
    if id_kind == "string":
        ids = [f"v{i}" for i in ids]
    m = np.array(vecs, dtype=np.float32).astype(np.float64)
    weights = 1 << np.arange(bits)
    sigs = [((m @ _planes(dim, bits, 42 + 1000 * t).T) > 0).astype(np.int64) @ weights
            for t in range(tables)]
    norms = np.linalg.norm(m, axis=1)
    want: dict = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if ids[i] == ids[j] or not any(s[i] == s[j] for s in sigs):
                continue
            cos = float(m[i] @ m[j] / (norms[i] * norms[j]))
            if cos >= thr:
                want.setdefault((min(ids[i], ids[j]), max(ids[i], ids[j])), []).append(cos)
    if bits == 4:
        assert len(want) >= 80 * 79 / 2

    id_type = "string" if id_kind == "string" else "long"
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        f"vec_id {id_type}, embedding array<float>",
    )
    got = knn_self_join(df, threshold=thr, n_tables=tables, bits_per_table=bits, dim=dim)
    got = [tuple(r) for r in got.collect()]
    assert len(got) == len({(a, b) for a, b, _ in got})
    assert {(a, b) for a, b, _ in got} == set(want)
    assert all(any(abs(c - w) < 1e-9 for w in want[(a, b)]) for a, b, c in got)


SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize(
    "query, key",
    [
        ("q21_simhash_pairs", "band#\\d+, chunk#\\d+L"),
        ("q26_embedding_neardup", "band#\\d+, sig#\\d+L"),
        ("q31_phash_near_pairs", "band#\\d+, chunk#\\d+L"),
    ],
)
def test_near_dup_queries_are_one_bucket_stage(spark, query, key):
    """One Exchange on the bucket key, straight into Sort → MapInPandas; no
    grouped-Pandas stage and no band self-join. Below that exchange the
    payload UDF runs once (q26's posexplode filter used to re-run it)."""
    import re

    import __spark_entry__ as E

    df = E.queries()[query](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    p = spark.conf.get("spark.sql.shuffle.partitions")
    bucket = re.findall(rf"Exchange hashpartitioning\({key}, {p}\)", plan)
    assert len(bucket) == 1, plan
    assert re.search(
        rf"MapInPandas .*\n\s*\+- Sort \[band#\d+ ASC NULLS FIRST, \w+#\d+L ASC NULLS FIRST\]"
        rf", false, 0\n\s*\+- Exchange hashpartitioning\({key}, {p}\)",
        plan,
    ), plan
    assert "FlatMapGroupsInPandas" not in plan and "Join" not in plan, plan
    below = plan.split(bucket[0], 1)[1]
    assert below.count("ArrowEvalPython") == 1, plan
