"""Similarity search over embedding columns (array<float>).

Driver-mandated training-data-pipeline ops. Two tiers:

- `brute_force_topk`: exact cosine against one query vector. The per-row score is
  a numpy matrix-vector product per Arrow batch (the whole batch is ONE gemv);
  top-k goes through orderBy+limit which Spark compiles to TakeOrderedAndProject —
  a per-partition heap + driver merge, NO global sort shuffle. This is the
  correctness baseline and is already the right plan for "score 100 TB, keep 10".
- `lsh_bucketed_topk`: random-hyperplane LSH (signed projections → bit signature
  → bucket). Only the query's bucket (plus multi-probe neighbors at hamming 1)
  is scored — the scale path that turns a full scan into a partition-pruned scan
  when the signature is a partition/bucket column of the stored table.
- `knn_self_join`: all-pairs-within-bucket cosine for near-dup detection by
  embedding (embedding-cosine near-dup dedup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

from .bucketpairs import PairKernel, bucket_pairs

__all__ = [
    "with_cosine",
    "brute_force_topk",
    "with_lsh_signature",
    "lsh_bucketed_topk",
    "train_ivf_centroids",
    "with_ivf_cell",
    "ivf_topk",
    "banded_lsh_signatures",
    "knn_self_join",
]


def _stack(series: pd.Series, dim: int) -> np.ndarray:
    return np.array(
        [x if x is not None else np.zeros(dim, dtype=np.float64) for x in series],
        dtype=np.float64,
    )


def with_cosine(df: DataFrame, query: np.ndarray, vec_col: str = "embedding") -> DataFrame:
    """Add `cosine` = cos(embedding, query). One gemv per Arrow batch."""
    q = np.asarray(query, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    dim = len(q)

    @F.pandas_udf(DoubleType())
    def cos_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="float64")
        m = _stack(vecs, dim)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series((m @ qn) / norms)

    return df.withColumn("cosine", cos_udf(F.col(vec_col)))


def brute_force_topk(
    df: DataFrame, query: np.ndarray, k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine — TakeOrderedAndProject plan, no global sort."""
    return (
        with_cosine(df, query, vec_col)
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def with_lsh_signature(
    df: DataFrame, dim: int, n_planes: int = 12, seed: int = 42, vec_col: str = "embedding"
) -> DataFrame:
    """Add `lsh_sig` — random-hyperplane signature (long). At rest, store/bucket
    the table by this column so a query scans one bucket, not the world."""
    planes = _planes(dim, n_planes, seed)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(LongType())
    def sig_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = _stack(vecs, dim)
        bits = (m @ planes.T) > 0
        return pd.Series((bits.astype(np.int64) @ weights))

    return df.withColumn("lsh_sig", sig_udf(F.col(vec_col)))


def _probe_sigs(q: np.ndarray, n_planes: int, seed: int, multiprobe: bool) -> list[int]:
    """The query's LSH signature, then (multiprobe) every signature one bit
    away — the buckets an LSH query scans."""
    planes = _planes(len(q), n_planes, seed)
    qsig = int(((q @ planes.T) > 0).astype(np.int64) @ (1 << np.arange(n_planes)))
    return [qsig] + ([qsig ^ (1 << b) for b in range(n_planes)] if multiprobe else [])


def lsh_bucketed_topk(
    df: DataFrame,
    query: np.ndarray,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH signature matches the
    query's (or differs by one bit with multiprobe). Recall improves with
    multiprobe at the cost of (n_planes+1)× bucket reads — still ≪ full scan."""
    q = np.asarray(query, dtype=np.float64)
    sigs = _probe_sigs(q, n_planes, seed, multiprobe)
    sigged = with_lsh_signature(df, len(q), n_planes, seed, vec_col)
    bucket = sigged.filter(F.col("lsh_sig").isin(sigs))
    return brute_force_topk(bucket, q, k, vec_col, id_col)


def write_lsh_partitioned(
    df: DataFrame,
    dim: int,
    path: str,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Persist the embedding table PARTITIONED BY its LSH signature: a stored
    ANN query then reads only the probed buckets' files via Catalyst partition
    pruning (same at-rest pattern as write_ivf_partitioned — on Iceberg this is
    a partition transform on the signature column)."""
    with_lsh_signature(df, dim, n_planes, seed, vec_col).write.mode("overwrite").partitionBy(
        "lsh_sig"
    ).parquet(path)


def lsh_topk_pruned(
    spark,
    path: str,
    query: np.ndarray,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: bool = True,
) -> DataFrame:
    """ANN over the LSH-partitioned store: the signature filter prunes at the
    FILE level (assert `PartitionFilters` in the scan), so a query touches
    (n_planes+1)/2^n_planes of the data instead of scanning the world."""
    q = np.asarray(query, dtype=np.float64)
    sigs = _probe_sigs(q, n_planes, seed, multiprobe)
    stored = spark.read.parquet(path).filter(F.col("lsh_sig").isin(sigs))
    return brute_force_topk(stored, q, k, vec_col, id_col)


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    max_train_rows: int = 65536,
    order_col: str = "vec_id",
) -> np.ndarray:
    """Coarse k-means centroids for IVF. Only a BOUNDED training sample ever
    reaches the driver (IVF codebooks are tiny — n_cells × dim floats): the
    sort+limit compiles to TakeOrderedAndProject (per-partition heap of
    max_train_rows, driver merge), so driver memory is O(max_train_rows × dim)
    regardless of table size. At 100 TB, set `sample_fraction` to pre-thin the
    scan (e.g. 1e-5 of 10^10 vectors → 10^5 sample) — the fraction only changes
    how much data feeds the heap, never what can reach the driver. Ordering by
    `order_col` makes the sample — and therefore the centroids — independent of
    partition layout and scan order (deterministic across engines/runs).
    Lloyd iterations are deterministic (seeded init, stable argmin)."""
    sample = df.select(vec_col, order_col)
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    rows = sample.orderBy(order_col).limit(max_train_rows).collect()
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def with_ivf_cell(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Assign each vector to its nearest centroid (one gemm per Arrow batch).
    At rest, partition/bucket the stored table by `ivf_cell` so a query scans
    only its probed cells — partition pruning does the rest."""
    cents = np.asarray(centroids, dtype=np.float64)
    dim = cents.shape[1]

    @F.pandas_udf(IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = _stack(vecs, dim)
        # argmin ||x-c||² = argmax (x·c - ||c||²/2): one gemm, no n×k×d temp
        scores = m @ cents.T - 0.5 * (cents * cents).sum(axis=1)[None, :]
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    return df.withColumn("ivf_cell", cell_udf(F.col(vec_col)))


def _probe_cells(centroids: np.ndarray, q: np.ndarray, n_probe: int) -> list[int]:
    """The n_probe IVF cells nearest to the query (stable on ties)."""
    cents = np.asarray(centroids, dtype=np.float64)
    d = ((cents - q[None, :]) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]


def ivf_topk(
    df: DataFrame,
    centroids: np.ndarray,
    query: np.ndarray,
    k: int = 10,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: score only the n_probe cells nearest to the query."""
    q = np.asarray(query, dtype=np.float64)
    probe = _probe_cells(centroids, q, n_probe)
    celled = with_ivf_cell(df, centroids, vec_col)
    return brute_force_topk(celled.filter(F.col("ivf_cell").isin(probe)), q, k, vec_col, id_col)


def write_ivf_partitioned(
    df: DataFrame, centroids: np.ndarray, path: str, vec_col: str = "embedding"
) -> None:
    """Persist the embedding table PARTITIONED BY its IVF cell: a query that
    filters on ivf_cell then scans only the probed cells' files — Catalyst
    partition pruning turns an ANN query into an O(probed/total) scan. This is
    the at-rest layout for the 100 TB path (Iceberg: partition transform on the
    cell column)."""
    with_ivf_cell(df, centroids, vec_col).write.mode("overwrite").partitionBy(
        "ivf_cell"
    ).parquet(path)


def ivf_topk_pruned(
    spark,
    path: str,
    centroids: np.ndarray,
    query: np.ndarray,
    k: int = 10,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN over the partitioned store: the cell filter prunes at the FILE level
    (assert `PartitionFilters` in the scan — tests/test_multimodal.py)."""
    q = np.asarray(query, dtype=np.float64)
    probe = _probe_cells(centroids, q, n_probe)
    stored = spark.read.parquet(path).filter(F.col("ivf_cell").isin(probe))
    return brute_force_topk(stored, q, k, vec_col, id_col)


def refresh_ivf_store(
    spark,
    path: str,
    n_cells: int = 16,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float = 1.0,
    max_train_rows: int = 65536,
) -> np.ndarray:
    """Maintenance: RE-TRAIN the IVF codebook on the store's CURRENT contents
    and rewrite the store partitioned by the new cells (ROADMAP gap 5).

    Embedding distributions drift as a corpus grows — centroids trained on the
    first 1% of data leave later vectors crowded into a few cells, which
    defeats partition pruning (a probe reads most of the store) and recall
    (the true neighbors straddle cell boundaries the stale codebook drew).
    Periodic refresh is the standard IVF answer (FAISS retrain / Milvus
    reindex); composed here like compact_appends: read → retrain → rewrite →
    swap. The swap is write-to-sibling + two renames — on Iceberg this whole
    op is `rewrite_data_files` with a new partition spec, atomic at the
    snapshot commit. Returns the new centroids (the store's query codebook).

    Crash safety: the two renames are not atomic together — a crash between
    them leaves the store at `.refresh-old` and nothing at `path`. The next
    refresh (or any caller running this first) self-heals by renaming the
    old store back before proceeding; stale `.refresh-tmp` is always
    discarded (it may be a partial write)."""
    import os
    import shutil

    tmp = path.rstrip("/") + ".refresh-tmp"
    old = path.rstrip("/") + ".refresh-old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)  # recover from a crash between the two renames

    stored = spark.read.parquet(path)
    if "ivf_cell" in stored.columns:
        stored = stored.drop("ivf_cell")
    cents = train_ivf_centroids(
        stored,
        n_cells=n_cells,
        iters=iters,
        seed=seed,
        vec_col=vec_col,
        sample_fraction=sample_fraction,
        max_train_rows=max_train_rows,
        order_col=id_col,
    )
    shutil.rmtree(tmp, ignore_errors=True)
    write_ivf_partitioned(stored, cents, tmp, vec_col)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return cents


def banded_lsh_signatures(
    df: DataFrame,
    dim: int,
    n_tables: int = 4,
    bits_per_table: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add `sigs: array<long>` — one independent random-hyperplane signature per
    band table (planes seeded per-table). Multi-table banding is the scale-safe
    near-dup shape: each table's bucket population shrinks exponentially in
    bits_per_table (2^12 buckets/table vs 2^6 for the old single flat signature),
    while recall is recovered by OR-ing candidates across the n_tables tables —
    exactly the MinHash-LSH band construction transplanted to hyperplane LSH."""
    all_planes = np.stack([_planes(dim, bits_per_table, seed + 1000 * t) for t in range(n_tables)])
    weights = (1 << np.arange(bits_per_table)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def sigs_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        m = _stack(vecs, dim)
        sigs = np.stack(
            [((m @ all_planes[t].T) > 0).astype(np.int64) @ weights for t in range(n_tables)],
            axis=1,
        )
        return pd.Series(list(sigs))

    # nondeterministic only to pin the UDF in place: a posexplode over `sigs`
    # makes Catalyst infer size(sigs) > 0 and push it (with a second copy of
    # the UDF) below the caller's repartition — marked, it runs once
    return df.withColumn("sigs", sigs_udf.asNondeterministic()(F.col(vec_col)))


def knn_self_join(
    df: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 4,
    bits_per_table: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded multi-table LSH candidates,
    exact cosine only within (table, signature) buckets. → (id_a, id_b, cosine
    ≥ threshold), id_a < id_b.

    Pairing and scoring run bucket-locally (operators/bucketpairs.py): a
    chunked gemm prefilter at threshold−1e-6, then an exact einsum re-score
    that reproduces the per-pair formula bit-for-bit, so only threshold
    survivors leave the task — never the quadratic candidate set with both
    vectors. `max_bucket_rows` hard-caps pathological buckets (near-constant
    embedding regions) by skipping buckets denser than the cap inside the
    kernel. Pass `dim` (the embedding width) to avoid a probe job on `df`."""
    if dim is None:
        dim = len(df.select(vec_col).first()[vec_col])
    sigged = banded_lsh_signatures(df, dim, n_tables, bits_per_table, seed, vec_col)
    banded = sigged.select(id_col, vec_col, F.posexplode("sigs").alias("band", "sig"))
    thr = float(threshold)
    d = int(dim)

    def prepare(vecs):
        if max_bucket_rows is not None and len(vecs) > max_bucket_rows:
            return None
        m = _stack(vecs, d)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return m, norms, m / norms[:, None]

    def prefilter(x, s0, s1):
        # safety margin: gemm and einsum round differently in the last ulps;
        # 1e-6 ≫ the fp64 drift
        nm = x[2]
        return nm[s0:s1] @ nm[s0:].T >= thr - 1e-6

    def score(x, ii, jj):
        m, norms, _ = x
        cos = np.einsum("ij,ij->i", m[ii], m[jj]) / (norms[ii] * norms[jj])
        return cos, cos >= thr

    kernel = PairKernel(prepare, prefilter, score, DoubleType())
    return bucket_pairs(
        banded, ["band", "sig"], id_col, vec_col, kernel, ("id_a", "id_b", "cosine")
    )
