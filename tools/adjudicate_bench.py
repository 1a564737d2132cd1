"""Adjudicate round-3 bench deltas: noise or regression? (VERDICT r3 item 2)

q05/q12/q18/q26 (+image_decode) read 12-26% above their round-2 mins in
BENCH_r03.json, all within this host's documented noise band but measured with
a thin min-of-2..4. This tool re-times exactly those queries with a LARGER
sample (min-of-N cache-cleared runs, default 7) in one session so a quiet
window can settle each delta; raw run lists are printed for the record in
BENCH/BASELINE.md.

  python tools/adjudicate_bench.py [N_RUNS]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = ["q05_politeness_topk", "q12_tpch_q5", "q18_text_quality", "q26_embedding_neardup"]


def main() -> None:
    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    import __spark_entry__ as entrymod
    from bench import _warmup
    from crawlingathome_worker_spark.session import get_spark, worker_count

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = worker_count()
    spark = get_spark(app_name="cah-adjudicate", shuffle_partitions=cpus)
    _warmup(spark)
    from pyspark.sql import functions as F

    for t in ("orders", "customer", "lineitem", "events", "documents", "embeddings"):
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.select(F.max(F.xxhash64(*df.columns)).alias("h")).collect()

    qs = entrymod.queries()
    out = {}
    for name in QUERIES:
        qs[name](spark, sf_dir).count()  # first run: plan compile + codegen, untimed
        spark.catalog.clearCache()
        times = []
        for _ in range(n_runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(times), "runs": times}

    # image_decode: same protocol as bench.py (fixture pairs, Arrow batch UDF)
    from bench import BENCH_FIXTURE_SCALE, _fixture_dir
    from crawlingathome_worker_spark.operators.fetch import with_decoded

    fx_dir = _fixture_dir(BENCH_FIXTURE_SCALE)
    pairs = spark.read.parquet(os.path.join(fx_dir, "pairs.parquet")).repartition(cpus)
    sel = pairs.select("image_id", "bytes")
    with_decoded(sel).filter("dec_ok").count()  # warm
    times = []
    for _ in range(n_runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with_decoded(sel).filter("dec_ok").count()
        times.append(round(time.perf_counter() - t0, 3))
    out["image_decode"] = {"min": min(times), "runs": times}

    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
