"""Dataset finalization: crawl output → deduplicated, filtered training set.

The reference worker only HARVESTS candidate pairs; the dedup/quality pass that
turned raw harvests into LAION-style training sets ran in downstream tooling
(README.md:8 — "filtering Common Crawl with OpenAI CLIP"). This plan is that
downstream stage, composed from the engine's own operators so the whole
reference workflow lives in one repo:

  pairs_out (all committed waves) → exact image dedup (pHash, first-wins)
  → near-dup image collapse (banded hamming ≤ k, greedy keep-lowest)
  → caption near-dup collapse (MinHash-LSH, greedy keep-lowest)
  → CLIP-proxy score gate → final snapshot + stats row.

Every stage is the scale shape used elsewhere: window dedup, bucket-local
pHash pairing and a MinHash band equi-join — no all-pairs stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.imagededup import phash_dedup, phash_near_pairs
from ..operators.textdedup import minhash_lsh_pairs, minhash_signatures
from ..session import release_checkpoint
from ..state.snapshots import Warehouse


def finalize_pairs(
    raw: DataFrame,
    id_col: str = "sample_id",
    score_threshold: float = 0.0,
    phash_max_hamming: int = 3,
    caption_jaccard: float = 0.8,
    num_perm: int = 64,
    dedup_strategy: str = "greedy",
) -> dict[str, DataFrame]:
    """The LAZY finalization composition over any pairs_out-shaped frame
    (columns: id_col, phash, caption, score, …passthrough). Returns the
    per-stage frames {raw, exact, img_clean, deduped, final} so callers can
    persist/count whichever stages they report on, plus `drop_sets`: the
    component strategy's materialized drop sets (localCheckpoints, empty for
    greedy), which whoever materializes `final` releases with
    session.release_checkpoint. `id_col` may be any orderable type —
    keep-lowest rules compare in its native order.

    dedup_strategy governs BOTH near-dup stages:
      "greedy"    — drop the higher id of each pair (the historical rule;
                    order-dependent along chains A~B~C: may keep several
                    members of one transitive cluster);
      "component" — connected components of the pair graph, keep exactly the
                    min-id member per cluster (transitive-safe —
                    operators/components.py; the two stages agree on every
                    graph where each pair's higher id appears in exactly one
                    pair). Either way only banded candidate PAIRS are ever
                    materialized — no all-pairs stage."""
    if dedup_strategy not in ("greedy", "component"):
        raise ValueError(f"unknown dedup_strategy: {dedup_strategy!r}")
    id_type = dict(raw.dtypes)[id_col]
    drop_sets: list[DataFrame] = []

    def _drop_set(pairs: DataFrame, a: str, b: str, out_type: str) -> DataFrame:
        """Pair graph → the ids to drop, one column named id_col."""
        if dedup_strategy == "component":
            from ..operators.components import component_members

            # cast BACK to the id's native type BEFORE ranking (ADVICE r5):
            # the pHash stage feeds string-cast ids, and component_members
            # picks the kept representative by min in the node column's sort
            # order — string order would keep "10" over "2" for numeric ids,
            # violating the documented keep-min-native-id / greedy-parity
            # contract. Casting first makes min-rank ≡ greedy's least().
            typed = pairs.select(
                F.col(a).cast(out_type).alias(a), F.col(b).cast(out_type).alias(b)
            )
            members = component_members(typed, src=a, dst=b)
            drop_sets.append(members)
            return members.select(F.col(a).alias(id_col))
        return pairs.select(
            F.greatest(F.col(a).cast(out_type), F.col(b).cast(out_type)).alias(id_col)
        ).distinct()

    # 1. exact pHash dedup — identical/re-encoded images collapse (first-wins)
    exact = phash_dedup(raw, order_col=id_col)

    # 2. near-dup images: banded hamming pairs → drop per strategy
    near = phash_near_pairs(
        exact.select(F.col(id_col).cast("string").alias("image_key"), "phash"),
        id_col="image_key",
        max_hamming=phash_max_hamming,
    )
    img_clean = exact.join(_drop_set(near, "id_a", "id_b", id_type), id_col, "left_anti")

    # 3. caption near-dups: MinHash-LSH over captions, drop per strategy
    sigs = minhash_signatures(
        img_clean.select(F.col(id_col).alias("doc_id"), F.col("caption").alias("text")),
        num_perm=num_perm,
    )
    cap_pairs = minhash_lsh_pairs(sigs, threshold=caption_jaccard, num_perm=num_perm)
    deduped = img_clean.join(
        _drop_set(cap_pairs, "doc_a", "doc_b", id_type), id_col, "left_anti"
    )

    # 4. CLIP-proxy gate (the reference project's whole purpose, README.md:8)
    final = deduped.filter(F.col("score") >= score_threshold)
    return {
        "raw": raw,
        "exact": exact,
        "img_clean": img_clean,
        "deduped": deduped,
        "final": final,
        "drop_sets": drop_sets,
    }


def build_training_set(
    spark: SparkSession,
    wh: Warehouse,
    score_threshold: float = 0.0,
    phash_max_hamming: int = 3,
    caption_jaccard: float = 0.8,
    num_perm: int = 64,
    dedup_strategy: str = "greedy",
) -> tuple[DataFrame, dict]:
    """→ (final DataFrame, stats). Reads pairs_out AS OF the latest snapshot.

    The returned frame is PERSISTED (the stats counts already materialized it);
    the caller unpersists when done. Intermediate stages are persisted during
    the stats pass and released before returning (without the persist, each
    count() would recompute the MinHash/banding pipelines from scratch); so
    are the component strategy's checkpointed drop sets."""
    latest = wh.latest()
    if latest is None or not latest["tables"].get("pairs_out"):
        raise ValueError("warehouse has no committed pairs_out — run waves first")
    raw = wh.read_table(spark, latest, "pairs_out").persist()
    n_raw = raw.count()

    stages = finalize_pairs(
        raw,
        id_col="sample_id",
        score_threshold=score_threshold,
        phash_max_hamming=phash_max_hamming,
        caption_jaccard=caption_jaccard,
        num_perm=num_perm,
        dedup_strategy=dedup_strategy,
    )
    exact = stages["exact"].persist()
    img_clean = stages["img_clean"].persist()
    deduped = stages["deduped"].persist()
    final = stages["final"].orderBy("sample_id").persist()

    n_final = final.count()  # materializes `final` (each upstream count is a cache hit)
    stats = {
        "raw_rows": n_raw,
        "after_exact_phash": exact.count(),
        "after_near_phash": img_clean.count(),
        "after_caption_dedup": deduped.count(),
        "final_rows": n_final,
        "kept_ratio": round(n_final / max(n_raw, 1), 4),
    }
    for frame in (raw, exact, img_clean, deduped):
        frame.unpersist()
    for frame in stages["drop_sets"]:
        release_checkpoint(frame)
    return final, stats


def write_training_set(
    spark: SparkSession, wh: Warehouse, path: str, **kwargs
) -> dict:
    """Materialize the final set + a stats row; returns the stats."""
    final, stats = build_training_set(spark, wh, **kwargs)
    final.write.mode("overwrite").parquet(path)  # cache hit — counted above
    final.unpersist()
    return stats
