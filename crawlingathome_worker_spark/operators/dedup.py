"""Global seen-set dedup: the reference's two bloom-server round-trips as joins.

Reference semantics (crawlingathome.py:82-95): candidates POST their pair_md5 to a
"clipped" bloom then a "parsed" bloom; only keys unseen by both survive. Here the
exact-mode implementation is a pair of LEFT ANTI joins against key tables (the test
oracle path, SURVEY.md §2.4 J2/J3); bloom mode swaps in the fused partitioned
gate state/bloom.py::seen_gate_bloom, which takes the two bloom tables and the
cuckoo table instead of key tables and computes the same predicate in one
cogroup.

North_rule J5: a key that IS in the "parsed" set but sits in the retry (cuckoo)
slots passes anyway — that is the delete path that fixes the reference's lost-retry
defect (B3: crawlingathome.py:149 bloom-adds even failed fetches, making them
unretryable forever).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seen_filter_exact(
    candidates: DataFrame,
    seen_keys: DataFrame,
    retry_keys: DataFrame | None = None,
    key: str = "pair_md5",
) -> DataFrame:
    """candidates minus seen, with retry-slot override.

    seen_keys: (pair_md5, kind) with kind ∈ {"clipped", "parsed"}.
    retry_keys: (pair_md5) — keys awaiting retry; they pass the "parsed" stage.

    passes ⇔ key ∉ clipped ∧ (key ∉ parsed ∨ key ∈ retry)
    """
    clipped = seen_keys.filter(F.col("kind") == "clipped").select(key).distinct()
    parsed = seen_keys.filter(F.col("kind") == "parsed").select(key).distinct()
    out = candidates.join(clipped, key, "left_anti")
    if retry_keys is not None:
        parsed = parsed.join(retry_keys.select(key).distinct(), key, "left_anti")
    return out.join(parsed, key, "left_anti")
