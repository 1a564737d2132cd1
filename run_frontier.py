"""spark-submit entry point for the frontier engine.

  spark-submit --py-files $(python -c 'import shutil;print(shutil.make_archive("/tmp/cah","zip","."))') \
      run_frontier.py --warehouse /data/warehouse --fixtures /data/fixtures --waves 2

On a real cluster the master/executor topology comes from spark-submit; locally
this runs on local[$SPARK_GRAFT_CPUS]. Each invocation resumes from the
warehouse's last committed snapshot (north_rule resumability) — kill it anywhere
and rerun with the same arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description="PySpark URL-frontier worker")
    ap.add_argument("--warehouse", help="snapshot warehouse root (not with --ingest-only)")
    ap.add_argument("--fixtures", default=None, help="fixture dir (default: generate)")
    ap.add_argument("--fixture-scale", type=float, default=1.0)
    ap.add_argument("--waves", type=int, default=2, help="WAT shards to process")
    ap.add_argument("--drain", type=int, default=0, help="extra frontier-drain waves")
    ap.add_argument("--budget", type=int, default=64, help="per-host budget per wave")
    ap.add_argument("--dedup-mode", choices=["exact", "bloom"], default="exact")
    ap.add_argument("--reference-strict", action="store_true")
    ap.add_argument(
        "--robots-txt", default=None, metavar="PATH",
        help="parquet of RAW robots.txt bodies (host, body) — parsed in-process "
        "to gate rules (RFC 9309 subset) instead of reading the pre-parsed "
        "fixture table",
    )
    ap.add_argument(
        "--robots-agent", default="cah-worker",
        help="product token for robots group matching (with --robots-txt)",
    )
    ap.add_argument("--buckets", type=int, default=32, help="pairs_bucketed bucket count")
    ap.add_argument(
        "--ingest-only", action="store_true",
        help="run the one-time bucketed pairs ingest and exit — the multi-"
        "driver workflow (sources/bucketed.py ownership model): ONE driver "
        "ingests, then every worker driver starts against the shared table",
    )
    ap.add_argument(
        "--gc", type=int, default=0, metavar="KEEP",
        help="after the run, expire snapshots keeping the newest KEEP",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="after the run, compact pairs_out append dirs into one",
    )
    ap.add_argument(
        "--stats", action="store_true",
        help="print per-wave counter totals from the committed manifests "
        "(before --compact and --gc, so every wave this run committed shows)",
    )
    ap.add_argument(
        "--finalize", default=None, metavar="PATH",
        help="after the run, write the deduplicated + score-gated training set "
        "(plans/dataset.py) to PATH and print its stats row",
    )
    ap.add_argument(
        "--score-threshold", type=float, default=0.0,
        help="CLIP-proxy score gate for --finalize",
    )
    ap.add_argument(
        "--dedup-strategy", choices=["greedy", "component"], default="greedy",
        help="near-dup drop rule for --finalize: greedy pairwise (drop the "
        "higher id of each pair) or transitive-safe connected components "
        "(keep exactly the min-id member of each cluster)",
    )
    args = ap.parse_args()
    if args.warehouse is None and not args.ingest_only:
        ap.error("--warehouse is required unless --ingest-only")

    from pyspark.sql import functions as F

    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.plans.job import run_job
    from crawlingathome_worker_spark.session import get_spark
    from crawlingathome_worker_spark.sources.fixtures import ensure_fixtures
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    fx = args.fixtures or ensure_fixtures(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures"),
        scale=args.fixture_scale,
    )
    spark = get_spark(app_name="cah-frontier")
    cfg = EngineConfig(
        default_host_budget=args.budget,
        dedup_mode=args.dedup_mode,
        reference_strict=args.reference_strict,
    )
    links = spark.read.parquet(os.path.join(fx, "wat_links.parquet"))
    pairs_path = os.path.join(fx, "pairs.parquet")
    # one-time bucketed ingest (or attach to the table a previous --ingest-only
    # run wrote); every wave's fetch join then reads the bytes side
    # shuffle-free (hash partitioning is a physical property of the table —
    # sources/bucketed.py). At the 100 TB design point this is the difference
    # between a per-wave 100 TB shuffle and none.
    from crawlingathome_worker_spark.sources.bucketed import ensure_bucketed_pairs

    pairs = ensure_bucketed_pairs(spark, pairs_path, buckets=args.buckets)
    if args.ingest_only:
        print(json.dumps({"ingested": "pairs_bucketed", "rows": pairs.count(),
                          "buckets": args.buckets}))
        spark.stop()
        return
    wh = Warehouse(args.warehouse)
    if args.robots_txt:
        # real-world path: raw fetched robots.txt bodies (host, body) parsed
        # to gate-ready rules in-process (pinned RFC 9309 subset —
        # operators/politeness.py parse_robots_txt; ≡ the pre-parsed table,
        # pinned by tests/test_robots_parse.py gate-chain equivalence)
        from crawlingathome_worker_spark.operators.politeness import parse_robots_txt

        robots = parse_robots_txt(
            spark.read.parquet(args.robots_txt), agent=args.robots_agent
        )
    else:
        robots = spark.read.parquet(os.path.join(fx, "robots.parquet"))
    max_page = links.agg(F.max("page_id")).collect()[0][0]
    step = (max_page + args.waves) // args.waves
    shards = [
        links.filter((F.col("page_id") >= i * step) & (F.col("page_id") < (i + 1) * step))
        for i in range(args.waves)
    ]
    manifests = run_job(spark, wh, cfg, shards, pairs, robots, drain_waves=args.drain)
    n_skipped = len(shards) - sum(1 for m in manifests if m.get("shard_key"))
    if n_skipped:
        print(json.dumps({"resumed": True, "shards_skipped": n_skipped}))
    for m in manifests:
        print(json.dumps({"wave": m["wave_no"], **m["counters"]}))
    if args.stats:
        from crawlingathome_worker_spark.plans.job import read_metrics

        totals = read_metrics(spark, wh).filter("partition_id = -1").collect()
        for r in totals:
            print(json.dumps({"wave": r["wave_no"], r["counter"]: r["value"]}))
    if args.compact:
        m = wh.compact_appends(spark, "pairs_out")
        if m is not None:
            print(json.dumps({"compacted": "pairs_out", "snapshot": m["snapshot_id"]}))
    if args.gc > 0:
        deleted = wh.gc(keep_last=args.gc)
        print(json.dumps({"gc_kept": args.gc, "dirs_deleted": len(deleted)}))
    if args.finalize:
        from crawlingathome_worker_spark.plans.dataset import write_training_set

        stats = write_training_set(
            spark, wh, args.finalize, score_threshold=args.score_threshold,
            dedup_strategy=args.dedup_strategy,
        )
        print(json.dumps({"finalized": args.finalize, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
