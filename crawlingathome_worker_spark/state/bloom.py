"""Partitioned Bloom filter as a TABLE: the reference's remote bloom servers
(crawlingathome.py:82-95, 148-154) re-expressed as co-partitioned state.

Layout (SURVEY.md §4): the bit array is split into P partitions; a key belongs to
partition pmod(murmur3(key), P) and its k probe positions live entirely inside
that partition's bit slice. Design point: 10^10 keys at FPR 1e-4 ⇒ ~24 GB of bits
over P=64 ⇒ ~374 MB/partition — each executor holds 1/P, nothing is broadcast.
Sandbox: 1e7 keys, P=8, identical code path (scale is config, not code).

Query = cogroup(candidates by bloom-part, state by part) → numpy membership test
(k probes, Kirsch-Mitzenmacher double hashing h1 + j·h2 with h1/h2 computed
JVM-side via xxhash64) → emit only unseen rows. Add = same cogroup, OR the probe
bits into the slice, emit the new slice. Both are one shuffle keyed on the bloom
partition — the Spark analog of the reference's batched HTTP round-trip barrier,
but partitioned instead of single-server.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BloomParams
from .cuckoo import cuckoo_contains, cuckoo_hash, cuckoo_table

STATE_SCHEMA = "part int, bits binary"


def _with_probe_cols(df: DataFrame, key: str, params: BloomParams) -> DataFrame:
    """JVM-side hashing: partition id + two 64-bit probe seeds per key."""
    return (
        df.withColumn("_bpart", F.pmod(F.hash(F.col(key)), F.lit(params.partitions)))
        .withColumn("_h1", F.xxhash64(F.col(key)))
        .withColumn("_h2", F.xxhash64(F.concat(F.col(key), F.lit("#bloom2"))))
    )


def _probes(left: pd.DataFrame, k: int, m: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(byte index, bit index) of each of the k probes (Kirsch-Mitzenmacher
    h1 + j·h2 mod m) of every row of `left`."""
    h1 = left["_h1"].to_numpy(np.int64).view(np.uint64)
    h2 = left["_h2"].to_numpy(np.int64).view(np.uint64)
    for j in range(k):
        idx = (h1 + np.uint64(j) * h2) % np.uint64(m)
        yield (idx >> np.uint64(3)).astype(np.int64), (idx & np.uint64(7)).astype(np.uint8)


def empty_bloom(spark: SparkSession, params: BloomParams) -> DataFrame:
    zeros = bytearray(params.bits_per_partition // 8)
    rows = [(p, bytes(zeros)) for p in range(params.partitions)]
    return spark.createDataFrame(rows, STATE_SCHEMA)


def bloom_add(
    state: DataFrame, keys: DataFrame, params: BloomParams, key: str = "pair_md5"
) -> DataFrame:
    """New state with all `keys` added (J4 — the reference adds every ATTEMPTED
    key, crawlingathome.py:149; the cuckoo retry slots compensate, see cuckoo.py)."""
    m = params.bits_per_partition
    k = params.num_hashes
    probed = _with_probe_cols(keys.select(key).distinct(), key, params)

    def fold(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right) == 0:
            part = int(left["_bpart"].iat[0])
            bits = np.zeros(m // 8, dtype=np.uint8)
        else:
            part = int(right["part"].iat[0])
            bits = np.frombuffer(right["bits"].iat[0], dtype=np.uint8).copy()
        for byte, bit in _probes(left, k, m):
            np.bitwise_or.at(bits, byte, np.uint8(1) << bit)
        return pd.DataFrame({"part": [part], "bits": [bits.tobytes()]})

    return (
        probed.groupBy("_bpart")
        .cogroup(state.groupBy("part"))
        .applyInPandas(fold, STATE_SCHEMA)
    )


def seen_gate_bloom(
    candidates: DataFrame,
    bloom_clipped: DataFrame,
    bloom_parsed: DataFrame,
    cuckoo: DataFrame,
    bloom_params: "BloomParams",
    cuckoo_params,
    key: str = "pair_md5",
) -> DataFrame:
    """FUSED seen gate: clipped-bloom + parsed-bloom + cuckoo-retry membership
    in ONE cogroup shuffle.

    All three state tables are co-partitioned by pmod(hash(key), P), so one
    cogroup of the candidates against the kind-tagged union of their partition
    rows computes the full reference predicate per row (a probe per state,
    unioned and deduplicated, would shuffle the candidate wave three times) —
        pass ⇔ ¬clipped ∧ (¬parsed ∨ retryable)
    (crawlingathome.py:82-95 two bloom families; north_rule J5 retry override)
    — with one candidate shuffle and no union/dedup stage."""
    if bloom_params.partitions != cuckoo_params.partitions:
        raise ValueError(
            "fused gate needs bloom and cuckoo co-partitioned: "
            f"{bloom_params.partitions} != {cuckoo_params.partitions}"
        )
    m = bloom_params.bits_per_partition
    k = bloom_params.num_hashes
    nbuckets = cuckoo_params.buckets_per_partition
    probed = _with_probe_cols(candidates, key, bloom_params).withColumn("_ch", cuckoo_hash(key))
    state = (
        bloom_clipped.select("part", F.lit("c").alias("kind"), F.col("bits").alias("blob"))
        .unionByName(
            bloom_parsed.select("part", F.lit("p").alias("kind"), F.col("bits").alias("blob"))
        )
        .unionByName(cuckoo.select("part", F.lit("k").alias("kind"), F.col("tbl").alias("blob")))
    )
    out_cols = candidates.columns

    def gate(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=out_cols)
        blobs = dict(zip(right["kind"], right["blob"]))

        def bloom_seen(blob) -> np.ndarray:
            if blob is None:
                return np.zeros(len(left), dtype=bool)
            bits = np.frombuffer(blob, dtype=np.uint8)
            seen = np.ones(len(left), dtype=bool)
            for byte, bit in _probes(left, k, m):
                seen &= (bits[byte] >> bit) & 1 != 0
            return seen

        if "k" in blobs:
            ch = left["_ch"].to_numpy(np.int64).view(np.uint64)
            retry = cuckoo_contains(cuckoo_table(blobs["k"], cuckoo_params), ch, nbuckets)
        else:
            retry = np.zeros(len(left), dtype=bool)
        keep = ~bloom_seen(blobs.get("c")) & (~bloom_seen(blobs.get("p")) | retry)
        return left.loc[keep, out_cols]

    return (
        probed.groupBy("_bpart")
        .cogroup(state.groupBy("part"))
        .applyInPandas(gate, candidates.schema)
    )


def bloom_fill_ratio(state: DataFrame, params: BloomParams | None = None) -> float:
    """Fraction of set bits (spark-side popcount via mapInPandas).

    With `params`, the denominator is the DESIGN total (params.total_bits), so
    unmaterialized partitions of a sparse state count as genuinely all-zero;
    without it, the ratio is over materialized partitions only (uniform
    hashing materializes every partition within the first non-trivial wave,
    so the two converge immediately in practice).

    This is the saturation health metric the wave loop emits per commit
    (plans/wave.py): a bloom filled past its design point silently raises FPR,
    and a false "seen" silently drops a crawl candidate forever — the failure
    is invisible in outputs, so it must be visible in metrics."""

    def count_bits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ones = [int(np.unpackbits(np.frombuffer(b, dtype=np.uint8)).sum()) for b in pdf["bits"]]
            total = [len(b) * 8 for b in pdf["bits"]]
            yield pd.DataFrame({"ones": ones, "total": total})

    agg = state.mapInPandas(count_bits, "ones long, total long").agg(
        F.sum("ones").alias("o"), F.sum("total").alias("t")
    ).collect()[0]
    denom = params.total_bits if params is not None else (agg["t"] or 1)
    return (agg["o"] or 0) / max(denom, 1)
