"""Bucket-local pair executor shared by the pHash, SimHash and knn near-dups.

Each runs bucket → pair → verify → collapse: rows carry one bucket key per
band, candidates meet only inside their bucket and are verified there (the
partition-then-verify-locally shape of *Scalable and Robust Set Similarity
Join*, ICDE 2018), as one stage:

    repartition(p, key) → sortWithinPartitions(key) → mapInPandas → dropDuplicates

The sorted Arrow batches are paired one complete bucket at a time, a bucket
running past a batch's end carried into the next, so a task holds one bucket
plus the current batch — never its whole shuffle partition. A chunked
upper-triangle driver enforces id_a < id_b and drops equal ids; the operator's
`PairKernel` supplies only the arithmetic. Only verified pairs leave the task.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegerType, StructField, StructType


class PairKernel(NamedTuple):
    """The per-operator arithmetic of a bucket-local pair stage.

    prepare(payload)     one bucket's payload Series → the array the other two
                         read, or None to skip the bucket;
    prefilter(x, s0, s1) bool candidates of rows [s0, s1) × rows [s0, m);
    score(x, ii, jj)     (value, keep) for candidate row-index pairs.
    """

    prepare: Callable[[pd.Series], Any]
    prefilter: Callable[[Any, int, int], np.ndarray]
    score: Callable[[Any, np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray]]
    value_type: DataType


def _whole_buckets(
    batches: Iterator[pd.DataFrame], keys: list[str]
) -> Iterator[tuple[pd.DataFrame, np.ndarray]]:
    """Regroup key-sorted batches into (frame, bucket start offsets) holding
    only complete buckets; the trailing bucket of each batch is carried into
    the next, so a frame is at most one carried bucket plus one batch."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if pdf.empty:
            continue
        new = np.zeros(len(pdf), dtype=bool)
        new[0] = True
        for k in keys:
            v = pdf[k].to_numpy()
            new[1:] |= v[1:] != v[:-1]
        starts = np.flatnonzero(new)
        carry = pdf.iloc[starts[-1] :]
        if len(starts) > 1:
            yield pdf.iloc[: starts[-1]], starts[:-1]
    if carry is not None:
        yield carry, np.zeros(1, dtype=np.int64)


def _bucket_pairs(
    x: Any, ids: np.ndarray, kernel: PairKernel
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Verified (id_a < id_b, value) pairs of one bucket, a row block at a time
    (≤ ~2M block cells, so memory is bounded even for a hot bucket)."""
    m = len(ids)
    step = max(64, min(m, 2_000_000 // m))
    for s0 in range(0, m - 1, step):
        li, lj = np.nonzero(kernel.prefilter(x, s0, min(m, s0 + step)))
        upper = li < lj  # strict upper triangle: each row pair once
        ii, jj = li[upper] + s0, lj[upper] + s0
        if len(ii) == 0:
            continue
        val, keep = kernel.score(x, ii, jj)
        ia, ib = ids[ii[keep]], ids[jj[keep]]
        swap = ib < ia
        a, b = np.where(swap, ib, ia), np.where(swap, ia, ib)
        distinct = a != b  # rows sharing an id never pair
        yield a[distinct], b[distinct], val[keep][distinct]


def pair_sorted_batches(
    batches: Iterator[pd.DataFrame], keys: list[str], id_col: str, payload_col: str,
    kernel: PairKernel, names: tuple[str, str, str],
) -> Iterator[pd.DataFrame]:
    """The partition driver: key-sorted batches in, verified pairs out — one
    frame per batch that yielded any."""
    for pdf, starts in _whole_buckets(batches, keys):
        ends = np.append(starts[1:], len(pdf))
        ids = pdf[id_col].to_numpy()
        payload = pdf[payload_col]
        parts = []
        for s, e in zip(starts, ends):
            if e - s < 2:
                continue
            x = kernel.prepare(payload.iloc[s:e])
            if x is not None:
                parts.extend(_bucket_pairs(x, ids[s:e], kernel))
        if parts:
            yield pd.DataFrame(
                {name: np.concatenate(col) for name, col in zip(names, zip(*parts))}
            )


def bucket_pairs(
    banded: DataFrame, keys: list[str], id_col: str, payload_col: str,
    kernel: PairKernel, names: tuple[str, str, str],
) -> DataFrame:
    """→ (names[0] < names[1], names[2]) verified pairs of `banded`, whose rows
    carry one bucket key (`keys`) each. One shuffle on the bucket key into an
    explicit `spark.sql.shuffle.partitions` partitions (AQE does not coalesce
    an explicit count into one task), then the sorted pair stage and one
    duplicate collapse across bands. Rows with a null id or bucket key never
    pair (a null hash has null band chunks). The filter names no payload
    column: pushed below a payload UDF, it would evaluate that UDF twice."""
    id_type = banded.schema[id_col].dataType
    types = (id_type, id_type, kernel.value_type)
    schema = StructType([StructField(n, t) for n, t in zip(names, types)])
    p = int(banded.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    present = F.col(id_col).isNotNull()
    for k in keys:
        present &= F.col(k).isNotNull()
    return (
        banded.filter(present)
        .repartition(p, *keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(
            lambda it: pair_sorted_batches(it, keys, id_col, payload_col, kernel, names),
            schema=schema,
        )
        .dropDuplicates(list(names[:2]))
    )


# ---------------------------------------------------------------------------
# hamming over 64-bit hashes (SimHash, pHash)
# ---------------------------------------------------------------------------


def hash64_band_chunks(col: str, max_hamming: int) -> list:
    """Split a 64-bit long column into (max_hamming + 1) bit-band chunk columns.

    Pigeonhole guarantee: two hashes within hamming ≤ max_hamming differ in at
    most max_hamming bands, so with max_hamming+1 bands at least one band is
    EQUAL — band equality as a bucket key has full recall for the radius.
    Widths are 64 // nbands with the remainder spread over the low bands."""
    nbands = max_hamming + 1
    if nbands > 64:
        raise ValueError(f"max_hamming={max_hamming} needs {nbands} bands > 64 bits")
    base, extra = divmod(64, nbands)
    chunks, start = [], 0
    for b in range(nbands):
        width = base + (1 if b < extra else 0)
        # width 64 (radius 0 → single band): (1<<64)-1 overflows a JVM long;
        # two's-complement all-ones is -1
        mask = -1 if width >= 64 else (1 << width) - 1
        chunks.append(F.shiftrightunsigned(col, start).bitwiseAND(F.lit(mask)))
        start += width
    return chunks


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized population count over uint64 (SWAR; numpy<2 lacks
    bitwise_count). Exact for all 64-bit values."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def hamming_kernel(radius: int) -> PairKernel:
    """XOR + SWAR popcount over uint64-viewed hashes, kept at ≤ radius bits."""

    def prefilter(h, s0, s1):
        return _popcount64(h[s0:s1, None] ^ h[None, s0:]) <= radius

    def score(h, ii, jj):
        d = _popcount64(h[ii] ^ h[jj]).astype(np.int32)
        return d, d <= radius

    return PairKernel(
        prepare=lambda s: s.to_numpy(dtype=np.int64).view(np.uint64),
        prefilter=prefilter,
        score=score,
        value_type=IntegerType(),
    )


def hamming_pairs(
    df: DataFrame, id_col: str, hash_col: str, max_hamming: int, names: tuple[str, str, str]
) -> DataFrame:
    """Pairs of rows whose 64-bit `hash_col` values are within `max_hamming`
    bits → (names[0] < names[1], names[2] = hamming). Buckets are the
    (max_hamming + 1) pigeonhole bands, so recall is complete for any radius."""
    banded = df.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(F.array(*hash64_band_chunks(hash_col, max_hamming))).alias(
            "band", "chunk"
        ),
    )
    return bucket_pairs(
        banded, ["band", "chunk"], id_col, hash_col, hamming_kernel(int(max_hamming)), names
    )
