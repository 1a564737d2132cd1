"""Per-query isolation benchmarks + plan capture (optimization guide §1).

NOT the driver's bench: `bench.py` is frozen for measurement and stays
untouched. This harness exists so each optimization round can
 - time ONE query at a time with the noop sink (computes every column of every
   row, discards the result — times the computation, not the sink, §1.4),
 - time the same query with `.count()` (bench.py's methodology) for
   apples-to-apples comparison with BENCH_r*.json numbers,
 - capture `.explain("formatted")` into plans/<tag-dir>/<query>_<tag>.txt so
   plan-shape claims (Exchange counts, join strategies, PushedFilters,
   BatchEvalPython/ArrowEvalPython nodes) are committed evidence.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
      --queries q20_minhash_lsh_pairs,q26_embedding_neardup \
      --runs 3 --tag before --plans-dir plans/r06
Settling a suite delta with a larger sample (min-of-7 count() runs of the four
queries round 3 adjudicated):
  python bench_extra.py --queries \
      q05_politeness_topk,q12_tpch_q5,q18_text_quality,q26_embedding_neardup \
      --runs 7 --skip-noop
Env contract matches bench.py: $SPARK_GRAFT_SF_DIR (default sf0.1),
$SPARK_GRAFT_CPUS (default: the cores this process may run on; master
local[$SPARK_GRAFT_CPUS]).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _capture_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default="probe", help="suffix for plan files")
    ap.add_argument("--plans-dir", default=None, help="capture explain() here")
    ap.add_argument("--skip-noop", action="store_true", help="only count() timing")
    ap.add_argument("--plan-only", action="store_true", help="capture plans, no timing")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from bench import _warmup
    from crawlingathome_worker_spark.session import get_spark, worker_count

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = worker_count()
    spark = get_spark(app_name="cah-bench-extra", shuffle_partitions=cpus)
    _warmup(spark)

    # warm the OS page cache like bench.py so timings are warm-read
    from pyspark.sql import functions as F

    for t in ("orders", "customer", "lineitem", "events", "documents", "embeddings"):
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.select(F.max(F.xxhash64(*df.columns)).alias("h")).collect()

    qs = entrymod.queries()
    out: dict[str, dict] = {}
    for name in args.queries.split(","):
        name = name.strip()
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = _capture_plan(fn(spark, sf_dir))
            with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        rec: dict = {}
        if args.plan_only:
            out[name] = rec
            continue
        for mode in ([] if args.skip_noop else ["noop"]) + ["count"]:
            times = []
            for _ in range(args.runs):
                spark.catalog.clearCache()
                df = fn(spark, sf_dir)
                t0 = time.perf_counter()
                if mode == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                times.append(round(time.perf_counter() - t0, 3))
            rec[mode] = {"min": min(times), "samples": times}
        out[name] = rec
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({name: rec}), file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
