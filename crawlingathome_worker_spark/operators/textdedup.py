"""Document deduplication suite: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Driver-mandated training-data-pipeline ops (beyond the reference, which only
dedups URLs/pair-hashes). All designed for the 100 TB shape:

- exact: one hash-aggregate, no pairwise work.
- MinHash+LSH: signatures in ONE Arrow-batched pass (numpy row-parallel universal
  hashing), then band-bucket EXPLODE + self-JOIN — candidate pairs only ever meet
  inside a (band, bucket) shuffle key, never an all-pairs crossjoin. Bucket join
  is the standard LSH scale path (SPARK MLlib MinHashLSH uses the same shape).
- SimHash: 64-bit fingerprints, near-dup candidates inside 4×16-bit band buckets
  (two fingerprints within hamming ≤ 3 must share ≥1 of 4 bands — pigeonhole),
  verified by exact hamming in the shared bucket-local pair stage.
- n-gram Jaccard: explode n-grams → pair intersection via equi-join on the gram →
  |A∩B|/(|A|+|B|-|A∩B|). Document-frequency pruning drops grams that appear in
  more than `max_df` docs (stopword-grams would otherwise quadratically blow up
  the pair space at scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .bucketpairs import hamming_pairs, hash64_band_chunks  # noqa: F401 (re-exported)

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, keeper, n_dups): one hash-aggregate, map-side combinable."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """First-id-wins exact dedup (keeps all columns)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, int(_MERSENNE), size=num_perm, dtype=np.uint64)
    b = rng.integers(0, int(_MERSENNE), size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """→ (id_col, sig: array<long>). Word-shingle MinHash, numpy-vectorized:
    per Arrow batch, all shingles of all docs hash in one vector op."""
    a_params, b_params = _perm_params(num_perm, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        out = []
        # Shingles repeat heavily across documents (natural-language n-grams are
        # Zipfian): memoize the FNV base hash per batch so the Python byte loop
        # runs once per DISTINCT shingle, not once per occurrence.
        hcache: dict[str, int] = {}
        for t in texts:
            toks = t.split() if isinstance(t, str) else []
            if len(toks) < shingle_len:
                shingles = {" ".join(toks)} if toks else {""}
            else:
                shingles = {
                    " ".join(toks[i : i + shingle_len])
                    for i in range(len(toks) - shingle_len + 1)
                }
            # base hashes: FNV-1a over utf-8, vectorized finish with (a*h+b) mod p
            hs = np.fromiter(
                (hcache.get(s) or hcache.setdefault(s, _fnv1a(s)) for s in shingles),
                dtype=np.uint64,
                count=len(shingles),
            )
            sig = ((a_params[:, None] * hs[None, :] + b_params[:, None]) % _MERSENNE).min(axis=1)
            out.append(sig.astype(np.int64).tolist())
        return pd.Series(out)

    return docs.select(F.col(id_col), sig_udf(F.col(text_col)).alias("sig"))


def _fnv1a(s: str) -> int:
    h = 0xCBF29CE484222325
    for byte in s.encode("utf-8"):
        h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    threshold: float = 0.7,
    num_perm: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature-estimated Jaccard.

    → (doc_a, doc_b, est_jaccard) with doc_a < doc_b and est_jaccard ≥ threshold.
    The only shuffle keys are (band, bucket_hash): no all-pairs stage exists.
    Pass `num_perm` (the signature length) to avoid a probe job on `sigs`.
    """
    if num_perm is None:
        num_perm = len(sigs.select("sig").first()["sig"])
    rows_per_band = num_perm // bands
    # Both self-join sides are the IDENTICAL banded plan, so ReuseExchange
    # serves the second side from the first's shuffle — the signature UDF runs
    # ONCE over the corpus. (An ids-only band join with signature rejoin on
    # the candidates was measured SLOWER here: the two rejoin exchanges break
    # exchange reuse and the UDF runs 3×.) The Jaccard estimate is computed in
    # the join projection so the duplicate-pair collapse downstream shuffles
    # three scalars per THRESHOLD-SURVIVING candidate instead of two
    # num_perm-long arrays per raw banded match.
    # shuffle_hash hint (round 6): the planner otherwise BROADCASTS one banded
    # side — the static estimate sees the small parquet file, not the
    # num_perm-array rows exploded ×bands (hundreds of MB at 50k docs, the
    # whole corpus at scale), and the broadcast build also defeats
    # ReuseExchange so the signature UDF runs twice. Forcing the shuffle join
    # restores the single reused (band, bucket) exchange: measured 3.42 s →
    # 1.85 s at sf1.0, and it is the only shape that survives 100 TB.
    banded = sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(",", F.slice("sig", b * rows_per_band + 1, rows_per_band)), b
                ),
            )
        ).alias("band", "bucket"),
    ).hint("shuffle_hash")
    left = banded.alias("l")
    right = banded.alias("r")
    est = (
        F.aggregate(
            F.zip_with(F.col("l.sig"), F.col("r.sig"), lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(num_perm)
    ).alias("est_jaccard")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            est,
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ (id_col, simhash: long). 64-bit SimHash over whitespace tokens,
    numpy bit-counting per Arrow batch."""

    @F.pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        hcache: dict[str, int] = {}  # tokens are Zipfian — hash each once per batch
        for i, t in enumerate(texts):
            toks = t.split() if isinstance(t, str) else []
            if not toks:
                continue
            hs = np.fromiter(
                (hcache.get(tok) or hcache.setdefault(tok, _fnv1a(tok)) for tok in toks),
                dtype=np.uint64,
                count=len(toks),
            )
            bits = ((hs[:, None] & weights[None, :]) != 0).astype(np.int32)
            votes = bits.sum(axis=0) * 2 - len(toks)  # +1 / -1 votes
            fp = np.uint64(0)
            for j in np.nonzero(votes > 0)[0]:
                fp |= weights[j]
            out[i] = fp.astype(np.int64)
        return pd.Series(out)

    return docs.select(F.col(id_col), sim_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    fps: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by banded SimHash: (max_hamming + 1) bit-bands over the
    64-bit fingerprint; hamming ≤ max_hamming ⇒ at least one band equal
    (pigeonhole — full candidate recall for ANY radius, not just ≤ 3).
    → (doc_a, doc_b, hamming), doc_a < doc_b.

    Pairing and the hamming verify run bucket-locally (operators/bucketpairs.py:
    XOR + SWAR popcount over one sorted (band, chunk) bucket at a time), so
    only radius survivors reach the duplicate collapse."""
    return hamming_pairs(fps, id_col, "simhash", max_hamming, ("doc_a", "doc_b", "hamming"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard via gram-join. → (doc_a, doc_b, jaccard ≥ threshold).

    max_df prunes grams occurring in > max_df docs before the pair join — the
    quadratic-blowup guard that makes this viable beyond toy scale."""
    toks = F.split(F.col(text_col), " ")
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                )
            )
        ).alias("gram"),
    ).filter(F.col("gram") != "")
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    df_filter = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_df
    )
    pruned = grams.join(df_filter.select("gram"), "gram")
    l, r = pruned.alias("l"), pruned.alias("r")
    inter = (
        l.join(r, (F.col("l.gram") == F.col("r.gram")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
