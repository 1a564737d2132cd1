"""Self-test of the benchmark's output checks: a corrupted output must count
as a failed operation.

    python3 perfbench/selftest.py

Builds one crawl wave's reference with tests/oracle.py and one finalize
reference with tests/golden_queries.py on a small seeded fixture, then feeds
the checks the exact reference (must pass), the reference with one row
dropped, and the reference with two sample ids (image ids for finalize)
swapped (both must fail). No Spark is started. Exit status 0 means every
corruption was caught and the clean outputs passed.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _swap(df, col: str):
    out = df.copy()
    a, b = out[col].iat[0], out[col].iat[1]
    out.loc[out.index[0], col], out.loc[out.index[1], col] = b, a
    return out


def main() -> int:
    sys.path.insert(0, ROOT)
    import pandas as pd

    from crawlingathome_worker_spark.config import EngineConfig
    from perfbench.checks import Tally, check_wave, compare, wave_reference
    from perfbench.inputs import fixture_dir
    from tests.golden_queries import g43_dataset_finalize
    from tests.oracle import OracleState, load_fixture_inputs, oracle_wave

    fx = fixture_dir(os.path.join(ROOT, ".bench_work"), seed=3, scale=0.25)
    links, pairs_by_id, robots, _ = load_fixture_inputs(fx)
    ref = wave_reference(
        oracle_wave(OracleState(), links, pairs_by_id, robots, EngineConfig(default_host_budget=8))
    )
    order = pd.DataFrame(ref["crawl_order"], columns=["sample_id", "url"])
    frontier = pd.DataFrame(ref["frontier"], columns=["canonical_url", "wave_added"])
    final = g43_dataset_finalize(None, fx).to_pandas()

    clean, corrupt = Tally(), Tally()
    clean.record("wave", check_wave(ref["counters"], order, frontier, ref))
    clean.record("finalize", compare(final, final.copy()))
    corrupt.record("wave, one row dropped",
                   check_wave(ref["counters"], order.iloc[1:], frontier, ref))
    corrupt.record("wave, two sample ids swapped",
                   check_wave(ref["counters"], _swap(order, "sample_id"), frontier, ref))
    corrupt.record("finalize, one row dropped", compare(final.iloc[1:], final))
    corrupt.record("finalize, two image ids swapped", compare(_swap(final, "image_id"), final))

    for e in clean.errors + corrupt.errors:
        print(e)
    ok = clean.failed == 0 and corrupt.failed == corrupt.attempted == 4
    print(f"clean: {clean.failed}/{clean.attempted} failed; "
          f"corrupted: {corrupt.failed}/{corrupt.attempted} failed -> {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
