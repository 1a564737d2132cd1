"""The `dedup` workload: dataset finalization and the near-dup queries, each
result checked against its golden re-derivation in tests/golden_queries.py.

One operation (closed loop) is

  finalize  the q43_dataset_finalize composition over the seed's fixture
            pairs: decode, exact pHash, banded pHash near-dup, caption
            MinHash-LSH, score gate (plans.dataset.finalize_pairs);
  neardup   q20_minhash_lsh_pairs, q21_simhash_pairs, q26_embedding_neardup
            from __spark_entry__.queries() over the seed's near-dup corpus,
            shaped as the driver's tables: "dup" copies and skewed simhash
            band chunks (perfbench/inputs.py).

The crawl fixture alone gives the pairing stages almost nothing to find, so
without the corpus the simhash and knn operators would go unmeasured.
Operations repeat until their wall times add up to `seconds`.
"""

from __future__ import annotations

import os
import time

from .checks import Tally, compare
from .harness import median, sink
from .inputs import FINALIZE_SCALE, RefCache, corpus_dir, fixture_dir, source_digest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NEARDUP = ("q20_minhash_lsh_pairs", "q21_simhash_pairs", "q26_embedding_neardup")
SCORE_THRESHOLD = 0.05  # q43's gate
CAPTION_JACCARD = 0.8

DEDUP_LAYER_METRICS = {
    "phash_exact.self_s": "s",
    "phash_near.self_s": "s",
    "phash_near.pairs": "count",
    "minhash.sig_s": "s",
    "minhash.pairs_s": "s",
    "minhash.pairs": "count",
    "simhash.fp_s": "s",
    "simhash.pairs_s": "s",
    "simhash.pairs": "count",
    "knn.pairs_s": "s",
    "knn.pairs": "count",
    "phash_near.max_bucket": "count",
    "minhash.max_bucket": "count",
    "simhash.max_bucket": "count",
    "knn.max_bucket": "count",
    "dataset.rows.raw": "count",
    "dataset.rows.exact": "count",
    "dataset.rows.img_clean": "count",
    "dataset.rows.deduped": "count",
    "dataset.rows.final": "count",
    "dataset.kept_ratio": "ratio",
}


def _finalize_stages(spark, fx: str) -> tuple[dict, object]:
    """q43's composition with the seed's fixture in place of the default one."""
    from pyspark.sql import functions as F

    from crawlingathome_worker_spark.functions.udfs import clip_score_udf, text_feature_udf
    from crawlingathome_worker_spark.operators.fetch import with_decoded
    from crawlingathome_worker_spark.plans.dataset import finalize_pairs

    pairs = spark.read.parquet(os.path.join(fx, "pairs.parquet"))
    dec = with_decoded(pairs.select("image_id", "bytes", "caption")).filter(F.col("dec_ok"))
    raw = dec.select(
        "image_id",
        "phash",
        "caption",
        clip_score_udf(F.col("img_feat"), text_feature_udf(F.col("caption")))
        .cast("double")
        .alias("score"),
    )
    stages = finalize_pairs(
        raw, id_col="image_id", score_threshold=SCORE_THRESHOLD, caption_jaccard=CAPTION_JACCARD
    )
    final = stages["final"].select(
        "image_id", "phash", (F.round("score", 3) + F.lit(0.0)).alias("score")
    )
    return stages, final


def prepare(work: str, seed: int) -> str:
    """Generate the seed's fixture and corpus and their golden outputs; →
    the path of the cached references."""
    from tests.golden_queries import GOLDEN_QUERIES

    fx = fixture_dir(work, seed, FINALIZE_SCALE)
    corpus = corpus_dir(work, seed)
    refs = RefCache(work)
    path = refs.path(
        "dedup", seed,
        {"scale": FINALIZE_SCALE, "score": SCORE_THRESHOLD, "caption_jaccard": CAPTION_JACCARD,
         "sources": source_digest(ROOT)},
    )
    if not os.path.exists(path):
        out = {
            "finalize": GOLDEN_QUERIES["q43_dataset_finalize"](
                None, fx, score_threshold=SCORE_THRESHOLD, caption_jaccard=CAPTION_JACCARD
            ).to_pandas()
        }
        for q in NEARDUP:
            out[q] = GOLDEN_QUERIES[q](corpus, None).to_pandas()
        refs.save(path, out)
    return path


def _timed_checked(name: str, df, want, tally: Tally) -> tuple[float, int]:
    """Noop-sink wall time of `df`, then its rows compared with `want` from
    the cache the timed write filled."""
    df = df.persist()
    try:
        t, _ = sink(df)
        got = df.toPandas()
    finally:
        df.unpersist()
    tally.record(name, compare(got, want))
    return t, len(got)


def _max_bucket(banded) -> int:
    """Rows in the largest (band, key) bucket of a frame whose `keys` column
    holds one bucket key per band."""
    from pyspark.sql import functions as F

    top = (
        banded.select(F.posexplode("keys").alias("band", "key"))
        .groupBy("band", "key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    return int(top or 0)


class _Tracer:
    """Traced-run spans around the finalize stage frames and each near-dup
    query's signature and pairing steps, every prefix through the noop sink."""

    def __init__(self):
        self.sums: dict[str, float] = {}
        self.ops = 0
        self.overhead: list[float] = []  # wall time of each traced pass

    def add(self, key: str, v: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + v

    def trace(self, spark, fx: str, corpus: str) -> None:
        t = time.perf_counter()
        self._trace(spark, fx, corpus)
        self.overhead.append(time.perf_counter() - t)

    def _trace(self, spark, fx: str, corpus: str) -> None:
        from pyspark.sql import functions as F

        from __spark_entry__ import _par, _t
        from crawlingathome_worker_spark.operators.imagededup import phash_near_pairs
        from crawlingathome_worker_spark.operators.similarity import (
            banded_lsh_signatures,
            knn_self_join,
        )
        from crawlingathome_worker_spark.operators.textdedup import (
            hash64_band_chunks,
            minhash_lsh_pairs,
            minhash_signatures,
            simhash_fingerprints,
            simhash_near_pairs,
        )

        stages, _ = _finalize_stages(spark, fx)
        t_raw, n_raw = sink(stages["raw"], observe=True)
        t_exact, n_exact = sink(stages["exact"], observe=True)
        near = phash_near_pairs(
            stages["exact"].select(F.col("image_id").cast("string").alias("image_key"), "phash"),
            id_col="image_key",
        )
        _, n_near = sink(near, observe=True)
        t_clean, n_clean = sink(stages["img_clean"], observe=True)
        sigs = minhash_signatures(
            stages["img_clean"].select(
                F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
            ),
            num_perm=64,
        )
        t_sigs, _ = sink(sigs)
        t_dedup, n_dedup = sink(stages["deduped"], observe=True)
        _, n_final = sink(stages["final"], observe=True)

        docs = _par(_t(spark, corpus, "documents"), "doc_id")
        q_sigs = minhash_signatures(docs, num_perm=64)
        t_qsig, _ = sink(q_sigs)
        t_qpairs, n_qpairs = sink(
            minhash_lsh_pairs(q_sigs, bands=16, threshold=0.5, num_perm=64), observe=True
        )
        fps = simhash_fingerprints(docs)
        t_fp, _ = sink(fps)
        t_sp, n_sp = sink(simhash_near_pairs(fps, max_hamming=3), observe=True)
        emb = _par(_t(spark, corpus, "embeddings"), "vec_id")
        t_knn, n_knn = sink(
            knn_self_join(emb, threshold=0.4, n_tables=4, bits_per_table=6, dim=64), observe=True
        )

        # the largest bucket each banded operator pairs, under its own banding
        buckets = {
            "phash_near.max_bucket": stages["exact"].select(
                F.array(*hash64_band_chunks("phash", 3)).alias("keys")),
            "minhash.max_bucket": q_sigs.select(
                F.array(*[F.slice("sig", b * 4 + 1, 4) for b in range(16)]).alias("keys")),
            "simhash.max_bucket": fps.select(
                F.array(*hash64_band_chunks("simhash", 3)).alias("keys")),
            "knn.max_bucket": banded_lsh_signatures(emb, dim=64, n_tables=4, bits_per_table=6)
            .select(F.col("sigs").alias("keys")),
        }
        for k, banded in buckets.items():
            self.add(k, _max_bucket(banded))

        self.ops += 1
        for k, v in {
            "decode.self_s": t_raw,
            "phash_exact.self_s": t_exact - t_raw,
            "phash_near.self_s": t_clean - t_exact,
            "phash_near.pairs": n_near,
            "minhash.sig_s": (t_sigs - t_clean) + t_qsig,
            "minhash.pairs_s": (t_dedup - t_sigs) + (t_qpairs - t_qsig),
            "minhash.pairs": n_qpairs,
            "simhash.fp_s": t_fp,
            "simhash.pairs_s": t_sp - t_fp,
            "simhash.pairs": n_sp,
            "knn.pairs_s": t_knn,
            "knn.pairs": n_knn,
            "dataset.rows.raw": n_raw,
            "dataset.rows.exact": n_exact,
            "dataset.rows.img_clean": n_clean,
            "dataset.rows.deduped": n_dedup,
            "dataset.rows.final": n_final,
        }.items():
            self.add(k, v)

    def metrics(self) -> dict:
        out = {k: v / self.ops for k, v in self.sums.items()}
        out["dataset.kept_ratio"] = self.sums["dataset.rows.final"] / max(self.sums["dataset.rows.raw"], 1)
        out["trace.overhead_s"] = median(self.overhead)
        return out


def run(spark_factory, work: str, seed: int, seconds: float, trace: bool, tally: Tally,
        refs: dict) -> dict:
    import __spark_entry__ as entry

    fx = fixture_dir(work, seed, FINALIZE_SCALE)
    corpus = corpus_dir(work, seed)
    queries = entry.queries()

    def one_op(k: int) -> dict:
        _, final = _finalize_stages(spark, fx)
        t_fin, rows_fin = _timed_checked(f"op {k} finalize", final, refs["finalize"], tally)
        rec = {"op": k, "finalize_s": t_fin, "final_rows": rows_fin, "queries": {}}
        for q in NEARDUP:
            t_q, rows_q = _timed_checked(f"op {k} {q}", queries[q](spark, corpus), refs[q], tally)
            rec["queries"][q] = {"s": t_q, "rows": rows_q}
        rec["neardup_s"] = sum(v["s"] for v in rec["queries"].values())
        rec["s"] = t_fin + rec["neardup_s"]
        return rec

    t0 = time.perf_counter()
    spark = spark_factory()
    cold = one_op(0)
    setup_s = time.perf_counter() - t0

    tracer = _Tracer() if trace else None
    ops: list[dict] = []
    while sum(o["s"] for o in ops) < seconds:
        if tracer is not None:
            tracer.trace(spark, fx, corpus)
        ops.append(one_op(len(ops) + 1))
    return {
        "setup_s": setup_s,
        "op_s": [o["s"] for o in ops],
        "per_layer": tracer.metrics() if tracer is not None else {},
        "detail": {
            "finalize_s": median([o["finalize_s"] for o in ops]),
            "neardup_s": median([o["neardup_s"] for o in ops]),
            **{f"{q}_s": median([o["queries"][q]["s"] for o in ops]) for q in NEARDUP},
            "ops_timed": len(ops),
            "cold_op_s": cold["s"],
            "ops": ops,
        },
    }
