"""Partitioned cuckoo filter: deletable retry slots (north_rule J5).

The reference bloom-adds every ATTEMPTED key — including failed fetches — so a
transient network failure blacklists a URL forever (B3, crawlingathome.py:148-154).
Bloom filters cannot delete; a cuckoo filter can. The engine keeps a partitioned
cuckoo filter holding only the in-flight/retryable subset: insert on fetch error,
delete on success or permanent rejection; a candidate passes the seen gate iff
NOT bloom.contains OR cuckoo.contains (state/bloom.py::seen_gate_bloom,
operators/dedup.py).

Standard (2,4)-cuckoo: 16-bit fingerprints, 4 slots/bucket, two candidate buckets
i1 = h(key) mod B and i2 = i1 XOR h(fp) (B a power of two), eviction walk up to
MAX_KICKS. State is a table (part, table:binary of uint16) co-partitioned the
same way as the bloom. Mutation batches are small (retry slots only), so the
per-key insert walk inside each partition's Arrow batch is cheap; membership is
fully vectorized numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CuckooParams

STATE_SCHEMA = "part int, tbl binary"
SLOTS_PER_BUCKET = 4
MAX_KICKS = 500
_MUL = np.uint64(0x5BD1E995)


def cuckoo_hash(key: str) -> Column:
    """The 64-bit hash a key's partition-local fingerprint and buckets derive from."""
    return F.xxhash64(F.concat(F.col(key), F.lit("#cuckoo")))


def _with_hash_cols(df: DataFrame, key: str, params: CuckooParams) -> DataFrame:
    return df.withColumn(
        "_cpart", F.pmod(F.hash(F.col(key)), F.lit(params.partitions))
    ).withColumn("_ch", cuckoo_hash(key))


def _fp_and_buckets(ch: np.ndarray, nbuckets: int):
    """fingerprint (nonzero uint16), bucket1, bucket2 — vectorized."""
    mask = np.uint64(nbuckets - 1)
    fp = (ch & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    b1 = ((ch >> np.uint64(16)) & mask).astype(np.int64)
    fph = (fp.astype(np.uint64) * _MUL) & mask
    b2 = (b1 ^ fph.astype(np.int64)) & int(mask)
    return fp, b1, b2.astype(np.int64)


def empty_cuckoo(spark: SparkSession, params: CuckooParams) -> DataFrame:
    size = params.buckets_per_partition * SLOTS_PER_BUCKET * 2  # uint16 bytes
    rows = [(p, bytes(size)) for p in range(params.partitions)]
    return spark.createDataFrame(rows, STATE_SCHEMA)


def cuckoo_table(blob: bytes, params: CuckooParams) -> np.ndarray:
    """A partition's state blob as a read-only (buckets, slots) uint16 view."""
    return np.frombuffer(blob, dtype=np.uint16).reshape(
        params.buckets_per_partition, SLOTS_PER_BUCKET
    )


def cuckoo_contains(tbl: np.ndarray, ch: np.ndarray, nbuckets: int) -> np.ndarray:
    """Vectorized membership of the keys hashed to `ch` (uint64) in `tbl`."""
    fp, b1, b2 = _fp_and_buckets(ch, nbuckets)
    return (tbl[b1] == fp[:, None]).any(axis=1) | (tbl[b2] == fp[:, None]).any(axis=1)


def _load_tbl(right: pd.DataFrame, params: CuckooParams) -> tuple[int | None, np.ndarray]:
    if len(right) == 0:
        return None, np.zeros(
            (params.buckets_per_partition, SLOTS_PER_BUCKET), dtype=np.uint16
        )
    return int(right["part"].iat[0]), cuckoo_table(right["tbl"].iat[0], params).copy()


def cuckoo_update(
    state: DataFrame,
    inserts: DataFrame | None,
    deletes: DataFrame | None,
    params: CuckooParams,
    key: str = "pair_md5",
) -> DataFrame:
    """New state after applying deletes then inserts (idempotent per key)."""
    spark = state.sparkSession
    empty = spark.createDataFrame([], f"{key} string")
    ins = _with_hash_cols((inserts if inserts is not None else empty).select(key).distinct(), key, params).withColumn("_op", F.lit(1))
    dels = _with_hash_cols((deletes if deletes is not None else empty).select(key).distinct(), key, params).withColumn("_op", F.lit(0))
    ops = dels.unionByName(ins)
    B = params.buckets_per_partition
    rng_seed = 0x9E3779B9

    def apply_ops(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        part, tbl = _load_tbl(right, params)
        if part is None:
            if len(left) == 0:
                return pd.DataFrame(columns=["part", "tbl"])
            part = int(left["_cpart"].iat[0])
        if len(left):
            ch = left["_ch"].to_numpy(np.int64).view(np.uint64)
            fp, b1, b2 = _fp_and_buckets(ch, B)
            op = left["_op"].to_numpy()
            order = np.argsort(op, kind="stable")  # deletes (0) before inserts (1)
            rng = np.random.default_rng(rng_seed ^ part)
            for i in order:
                f, x, y = int(fp[i]), int(b1[i]), int(b2[i])
                if op[i] == 0:  # delete one occurrence
                    for b in (x, y):
                        slots = tbl[b]
                        hit = np.nonzero(slots == f)[0]
                        if len(hit):
                            tbl[b, hit[0]] = 0
                            break
                else:  # insert (skip if already present)
                    if (tbl[x] == f).any() or (tbl[y] == f).any():
                        continue
                    placed = False
                    for b in (x, y):
                        free = np.nonzero(tbl[b] == 0)[0]
                        if len(free):
                            tbl[b, free[0]] = f
                            placed = True
                            break
                    if placed:
                        continue
                    cur_f, cur_b = f, x
                    for _ in range(MAX_KICKS):  # eviction walk
                        s = int(rng.integers(SLOTS_PER_BUCKET))
                        cur_f, tbl[cur_b, s] = int(tbl[cur_b, s]), cur_f
                        alt = (cur_b ^ int((np.uint64(cur_f) * _MUL) & np.uint64(B - 1)))
                        free = np.nonzero(tbl[alt] == 0)[0]
                        if len(free):
                            tbl[alt, free[0]] = cur_f
                            break
                        cur_b = alt
                    # on walk exhaustion the displaced fp is dropped (FP-rate
                    # tradeoff, standard cuckoo behavior at >95% load)
        return pd.DataFrame({"part": [part], "tbl": [tbl.tobytes()]})

    return ops.groupBy("_cpart").cogroup(state.groupBy("part")).applyInPandas(apply_ops, STATE_SCHEMA)
