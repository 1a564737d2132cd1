"""Exact stratified sampling — the data-mixing step of a training-data build.

Spark's own `sampleBy` is Bernoulli (approximate counts, run-dependent under
retries); a training mix wants EXACT per-stratum quotas and bit-reproducible
membership. This operator keeps, per stratum, the `quota` rows that rank
lowest under a seeded uniform hash of the row id — deterministic across runs,
cluster sizes, and partitionings.

Scale shape: the politeness scheduler's decomposable two-phase salted top-k
(operators/politeness.py::two_phase_topk) with the stratum as the group and
the quota as the limit — a hot stratum (en is ~half of any web corpus) never
materializes in a single window task. The quota is constant per stratum (a
property of the stratum), which is the top-k's decomposability contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .politeness import two_phase_topk


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    quotas: DataFrame,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Keep per stratum the `quota` rows ranking lowest by
    md5(id ‖ seed) (ties broken by id — total order, so membership is
    unique). `quotas`: (stratum_col, quota long) — small dim, broadcast.
    Strata absent from `quotas` are dropped entirely; a stratum with fewer
    rows than its quota keeps them all. Output columns = input columns, in
    input order and unchanged (an input `quota` column included); an input
    carrying one of the private columns `_k`, `_quota`, `_salt`, `_r1`, `_r2`
    is refused with a ValueError."""
    taken = [c for c in ("_k", "_quota") if c in df.columns]
    if taken:
        raise ValueError(f"stratified_sample: input already has private column(s) {taken}")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|s{seed}")))
    dim = quotas.select(stratum_col, F.col("quota").alias("_quota"))
    d = df.join(F.broadcast(dim), stratum_col).withColumn("_k", key)
    kept, _ = two_phase_topk(
        d, stratum_col, ["_k", id_col], "_quota", F.col(id_col).cast("string")
    )
    return kept.select(*df.columns)
