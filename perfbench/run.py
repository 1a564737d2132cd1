"""Benchmark entry point: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from the seed into
`.bench_work/` (cached per seed), every output is checked against a
reference computed without Spark, and the last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics from spans around the calls into each module. The line before it
holds the run record: the pinned settings, the raw per-wave or per-query
timings, the CPU canary before and after, and the workload's own named
metrics. Exit status is 0 only when every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the program and the independent references the outputs are checked against
REQUIRED = (
    "crawlingathome_worker_spark/plans/wave.py",
    "__spark_entry__.py",
    "tests/oracle.py",
    "tests/golden_queries.py",
    "tools/check_correctness.py",
)

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    from perfbench.crawl import CRAWL_LAYER_METRICS
    from perfbench.dedup import DEDUP_LAYER_METRICS

    return {**CRAWL_LAYER_METRICS, **DEDUP_LAYER_METRICS,
            "decode.self_s": "s", "trace.overhead_s": "s"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import stop_processes

    # a terminated run still stops the JVM and workers it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = _run(args)
    finally:
        stop_processes()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _run(args) -> dict:
    from perfbench.harness import RssSampler, canary_s, median, pin_environment

    work = os.path.join(ROOT, ".bench_work")
    cpus = len(os.sched_getaffinity(0))
    settings = pin_environment(ROOT, work, cpus)

    from perfbench import crawl, dedup
    from perfbench.checks import Tally
    from perfbench.inputs import RefCache

    workload = {"crawl": crawl, "dedup": dedup}[args.workload]
    tally = Tally()
    sessions = []

    def spark_factory():
        from crawlingathome_worker_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        sessions.append(spark)
        return spark

    # Inputs and references are made in a child process before anything is
    # measured, so neither their time nor their memory counts in this run.
    code = "import sys; from perfbench import {0}; print({0}.prepare(sys.argv[1], int(sys.argv[2])))"
    out = subprocess.run([sys.executable, "-c", code.format(args.workload), work, str(args.seed)],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    sys.stderr.write("".join(line + "\n" for line in out[:-1]))
    ref_path = out[-1]
    refs = RefCache(work).load(ref_path)

    canary_before = canary_s()
    res = None
    with RssSampler() as rss:
        try:
            res = workload.run(spark_factory, work, args.seed, args.seconds, bool(args.trace), tally, refs)
        except Exception as e:  # noqa: BLE001 — reported as a failed run below
            traceback.print_exc()
            if not tally.failed:
                tally.record("run", [f"raised {type(e).__name__}: {e}"])
        finally:
            for s in sessions:
                s.stop()
    canary_after = canary_s()

    metrics: dict[str, dict] = {}
    if res is not None:
        if args.trace:
            units = _per_layer_units()
            values = {k: float(res["per_layer"].get(k, 0.0)) for k in units}
        else:
            values = {
                "setup_s": res["setup_s"],
                "op_s_p50": median(res["op_s"]),
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = END_TO_END
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "canary_s": {"before": canary_before, "after": canary_after},
        "failed_ops": {"failed": tally.failed, "attempted": tally.attempted,
                       "ratio": tally.failed / max(tally.attempted, 1)},
        "errors": tally.errors,
        "peak_rss_mb": rss.peak / 2**20,
        "setup_s": res["setup_s"] if res else None,
        "op_s": res["op_s"] if res else [],
        "named": res["detail"] if res else {},
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(work, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    return {
        "correct": res is not None and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
