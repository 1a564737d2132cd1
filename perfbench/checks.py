"""Output checks: every wave and query result against a reference computed
without Spark, compared by the repository's own driver-style comparator.

A check returns a list of mismatch strings; an empty list is a pass.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq

from tools.check_correctness import compare


class Tally:
    """Operations attempted and failed in one run. A failed operation is one
    that raised or whose output differed from its reference."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, what: str, errs: list[str]) -> bool:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.append(f"{what}: {'; '.join(errs[:3])}")
        return not errs


def wave_reference(o: dict) -> dict:
    """The parts of one `oracle_wave` result that a committed wave is checked
    against, in plain Python types (cacheable)."""
    return {
        "counters": dict(o["counters"]),
        "crawl_order": [(c.sample_id, c.url) for c in o["scheduled"] if c.fetch_status == "ok"],
        "frontier": [(c.canonical_url, c.wave_added) for c in o["deferred"]],
    }


def _read_dir(root: str, rel: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(os.path.join(root, rel), columns=columns).to_pandas()


def crawl_order_frame(manifest: dict, wh_root: str) -> pd.DataFrame:
    """(sample_id, url) of the rows this wave appended to pairs_out."""
    return _read_dir(wh_root, manifest["tables"]["pairs_out"][-1], ["sample_id", "url"])


def frontier_frame(manifest: dict, wh_root: str) -> pd.DataFrame:
    return _read_dir(wh_root, manifest["tables"]["frontier"][0], ["canonical_url", "wave_added"])


def check_wave(
    counters: dict, order: pd.DataFrame, frontier: pd.DataFrame, ref: dict
) -> list[str]:
    """Counters, crawl order and frontier of one committed wave."""
    errs = []
    if counters != ref["counters"]:
        errs.append(f"counters {counters} != {ref['counters']}")
    want_order = pd.DataFrame(ref["crawl_order"], columns=["sample_id", "url"])
    errs += [f"crawl order: {e}" for e in compare(order, want_order)]
    want_frontier = pd.DataFrame(ref["frontier"], columns=["canonical_url", "wave_added"])
    errs += [f"frontier: {e}" for e in compare(frontier, want_frontier)]
    return errs
