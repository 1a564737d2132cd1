"""Generate PLANS.md: `explain(formatted)` for the headline queries plus the
wave subplans, annotated with the scale property each plan must keep (the
assertions live in tests/test_plans.py; this artifact is the human-readable
audit trail).  Regenerate: python tools/gen_plan_audit.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"

ANNOTATIONS = {
    "q01_url_blocklist": "Pure JVM string filter; the links view repartitions the 2-column scan to session parallelism before the string build, and the explode(array(struct)) barrier materializes the url once so the 6 blocklist disjuncts test a stored column instead of re-running the concat/CASE per disjunct (r6).",
    "q05_politeness_topk": "Two-phase salted top-k: Exchange (host,_salt) then Exchange (host) — the hot host never lands in one window task; the links-view repartition (r6) runs the url+md5 build on every core.",
    "q07_sample_ids": "ONE range Exchange of the data; ranks from monotonic ids + broadcast P-row offsets (no single-partition window, no _pid re-shuffle).",
    "q10_tpch_q1": "partial_sum → Exchange → final HashAggregate (map-side combine); scan prunes to the 6 referenced columns with the shipdate filter pushed.",
    "q12_tpch_q5": "Fact-oriented join order (r6): orders probes broadcast(region⨝nation⨝customer), lineitem probes broadcast(supplier), one fact-fact join keys the two reduced streams — lineitem is never collected into a broadcast build (the old left-deep chain broadcast the 1.5M-row orders AND 6M-row lineitem scans via pruned-size estimates).",
    "q11_tpch_q3": "Dimension side broadcast (static 16 MB threshold + AQE runtime promotion, r6); TakeOrderedAndProject for the top-10 (no global sort).",
    "q20_minhash_lsh_pairs": "LSH band join: Exchange keyed (band, bucket) only — candidate pairs meet inside buckets, never via cartesian; the documents scan repartitions to session parallelism before the signature UDF (r6).",
    "q21_simhash_pairs": "Pigeonhole banding (r+1 bands) as the ONE shuffle key: Exchange hashpartitioning(band, chunk, p) → Sort → MapInPandas, the shared bucket-local pair stage (operators/bucketpairs.py) — one sorted bucket at a time with a carried partial bucket, XOR + SWAR popcount verify — so a task holds one bucket plus one Arrow batch and only radius survivors reach the duplicate collapse; the simhash UDF runs once below the exchange.",
    "q23_ann_topk": "One gemv-per-Arrow-batch UDF + TakeOrderedAndProject: score 100 TB, keep k, no global sort shuffle.",
    "q26_embedding_neardup": "Banded multi-table signatures exploded to (band, sig) — the ONE shuffle key, into the same Sort → MapInPandas bucket-local pair stage as q21 (gemm prefilter + exact einsum re-score kernel) so only threshold survivors leave the task; the signature UDF is pinned (nondeterministic) so the size(sigs) > 0 filter Catalyst infers from the posexplode cannot re-run it below the repartition — exactly one ArrowEvalPython under the bucket exchange.",
    "q31_phash_near_pairs": "pHash is a 64-bit hash with a hamming radius, so it runs q21's stage verbatim: Exchange hashpartitioning(band, chunk, p) → Sort → MapInPandas (XOR + SWAR popcount). No band self-join, so the decode UDF runs once and the duplicate collapse sees hamming survivors only.",
    "q35_ann_ivf": "Cell filter before the scorer: only n_probe cells' rows reach the cosine UDF (at rest: partition-pruned files, see test_multimodal).",
    "q48_tpch_q10": "4-table star: dims broadcast, fact shuffles once; top-20 via TakeOrderedAndProject, never a global sort.",
    "q49_tpch_q19": "OR-of-ANDs predicate evaluated in one codegen span over the broadcast join; part-side conjuncts prune the build side.",
    "q38_corpus_build": "Four composed operators, ONE documents scan: dedup window → fused langid UDF → JVM quality/token filters.",
    "q50_stratified_sample": "Runs q05's two-phase shape (the same operators/politeness.py::two_phase_topk): Exchange (lang,_salt) then Exchange (lang) — a hot stratum never lands in one window task; the quota dim is broadcast and renamed to the private _quota, so an input quota column passes through.",
}


def main() -> None:
    import __spark_entry__ as em
    from crawlingathome_worker_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    qs = em.queries()
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Generated by `python tools/gen_plan_audit.py` at sf0.01 (plans are",
        "scale-independent up to AQE's runtime re-plan). Each section states the",
        "100 TB property the plan must keep — the machine-checked versions of",
        "these claims are the asserts in `tests/test_plans.py`.",
        "",
    ]
    for name, note in ANNOTATIONS.items():
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # drop the per-node detail block — the operator tree carries the audit signal
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"**Scale property:** {note}", "", "```", tree, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(ANNOTATIONS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
