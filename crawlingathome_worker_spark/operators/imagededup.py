"""Image-level dedup on pHash (north_rule M4 / SURVEY.md §2.7).

The reference worker never dedups images (that ran downstream in LAION tooling);
the north_star mandates pHash dedup as a pipeline stage. Two tiers:

- `phash_dedup`: exact-pHash first-wins (hash-partitioned window; identical
  images and re-encodes collapse — our near-dup fixtures land here since a ±1
  pixel perturbation rarely moves any DCT bit).
- `phash_near_pairs`: hamming-≤k pairs via 4×16-bit banding (same pigeonhole
  argument as SimHash: ham ≤ 3 ⇒ some band equal). pHash is a 64-bit hash with
  a hamming radius, exactly like SimHash, so it runs the same bucket-local
  pair stage (operators/bucketpairs.py): one shuffle on the band key, then
  XOR + popcount verification inside each bucket — never an all-pairs
  comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bucketpairs import hamming_pairs


def phash_dedup(df: DataFrame, order_col: str = "sample_id") -> DataFrame:
    """Keep one row per exact pHash (lowest order_col wins)."""
    w = Window.partitionBy("phash").orderBy(order_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def phash_near_pairs(
    df: DataFrame, id_col: str = "image_id", max_hamming: int = 3
) -> DataFrame:
    """→ (id_a, id_b, hamming ≤ max_hamming) near-duplicate image pairs,
    id_a < id_b. The same banded hamming stage as simhash_near_pairs over the
    `phash` column: (max_hamming + 1) pigeonhole bands, so candidate recall is
    complete for any requested hamming distance."""
    return hamming_pairs(df, id_col, "phash", max_hamming, ("id_a", "id_b", "hamming"))
