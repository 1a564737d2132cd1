"""Politeness: robots gate + per-host budgeted top-k scheduling (north_rule J6/O1).

The reference has NO robots handling and its only anti-hot-host measure is an
unseeded random.shuffle (crawlingathome.py:238) plus the implicit 192-connection
cap. The engine replaces that with explicit, deterministic scheduling:

- robots rules are a small dim table → **broadcast join** on host (never a shuffle
  of the big side's dimension);
- per-host budget from crawl_delay (budget = wave_seconds / delay, min 1);
- priority key = md5(url ‖ wave ‖ PRIORITY_SEED): the *seeded* equivalent of the reference's
  shuffle, deterministic and uniformly host-spreading (B2 contract);
- per-host top-k via **two-phase window** (`two_phase_topk`: local top-k within
  (host, salt) buckets, then final top-k per host): the hot host that owns 30% of
  all URLs never lands in a single window task — the first phase cuts its row
  count to SALT_BUCKETS × k before the per-host window runs. At 1000-executor
  scale this is the difference between a straggler task with 30% of the wave and
  a balanced plan. The same function is operators/sampling.py's per-stratum
  quota.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import EngineConfig

# private columns of two_phase_topk; an input carrying one is refused
_TOPK_COLS = ("_salt", "_r1", "_r2")
# the seed of the scheduling priority key (the reference shuffles unseeded)
PRIORITY_SEED = 42
# phase-1 salt buckets per group of two_phase_topk (SURVEY.md §4 O1): the hot
# group's phase-2 window sees at most SALT_BUCKETS × limit rows
SALT_BUCKETS = 16


def parse_robots_txt(
    bodies: DataFrame, agent: str = "cah-worker", body_col: str = "body"
) -> DataFrame:
    """Raw fetched robots.txt bodies → the gate-ready rules dim table.

    bodies: (host, body string, …) — one row per host. Output replaces
    `body_col` with (disallow_prefixes array<string>, crawl_delay double),
    i.e. exactly the `robots` input of `robots_gate`, completing the chain
    from bytes on the wire to the broadcast gate. Semantics are the pinned
    RFC 9309 subset of functions/robots.py (see its docstring); a body with
    no matching group yields ([], null) — identical gate behavior to the
    host being absent (default-allow, default budget), pinned by test.

    Scale shape: this is the DIM side — one row per host, parsed ONCE per
    wave/ingest and then broadcast by robots_gate; the per-URL hot path
    never runs Python. The parse itself is an Arrow-batched pandas UDF
    (never per-row pickling), so even a 10M-host robots corpus is a single
    narrow vectorized stage with no shuffle.
    """
    import pandas as pd

    from ..functions.robots import parse_robots_body

    def _parse_fn(b):
        parsed = [parse_robots_body(x, agent) for x in b]
        return pd.DataFrame(
            {
                "disallow_prefixes": [p for p, _ in parsed],
                "crawl_delay": [d for _, d in parsed],
            }
        )

    # real class objects, not strings: this module's `from __future__ import
    # annotations` would otherwise hand pandas_udf unresolvable 'pd.*' hints
    _parse_fn.__annotations__ = {"b": pd.Series, "return": pd.DataFrame}
    _parse = F.pandas_udf("disallow_prefixes array<string>, crawl_delay double")(_parse_fn)

    keep = [c for c in bodies.columns if c != body_col]
    return bodies.withColumn("_rules", _parse(F.col(body_col))).select(
        *keep, "_rules.disallow_prefixes", "_rules.crawl_delay"
    )


def robots_gate(candidates: DataFrame, robots: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Left-broadcast-join robots rules; drop disallowed URLs; attach budget.

    robots: (host, disallow_prefixes: array<string>, crawl_delay: double).
    Missing host ⇒ default-allow with default budget.
    """
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    joined = candidates.join(F.broadcast(robots), "host", "left").withColumn("_path", path)
    disallowed = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array().cast("array<string>")),
        lambda p: F.col("_path").startswith(p),
    )
    budget = F.when(
        F.col("crawl_delay").isNull() | (F.col("crawl_delay") <= 0.0),
        F.lit(cfg.default_host_budget),
    ).otherwise(
        F.greatest(
            F.lit(1).cast("long"),
            F.least(
                F.lit(cfg.default_host_budget).cast("long"),
                F.floor(F.lit(cfg.wave_seconds) / F.col("crawl_delay")),
            ),
        )
    )
    return (
        joined.filter(~disallowed)
        .withColumn("host_budget", budget.cast("long"))
        .drop("disallow_prefixes", "crawl_delay", "_path")
    )


def with_priority(df: DataFrame, wave_no: int) -> DataFrame:
    """Deterministic seeded scheduling key — replaces random.shuffle
    (crawlingathome.py:238) with a reproducible uniform spread (B2)."""
    return df.withColumn(
        "priority_key",
        F.md5(F.concat(F.col("url"), F.lit(f"|w{wave_no}|s{PRIORITY_SEED}"))),
    )


def two_phase_topk(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    limit_col: str,
    salt_by: Column,
) -> tuple[DataFrame, DataFrame]:
    """→ (kept, dropped): per `group_col`, the `limit_col` rows first in
    `order_cols` order, and every other row.

    Phase 1 ranks within (group, pmod(xxhash64(salt_by), SALT_BUCKETS))
    buckets and keeps at most `limit_col` per bucket; phase 2 ranks the
    survivors per group. Identical result to a single per-group window (top-k
    is decomposable), but the hot group is never materialized in one task.

    Contract: `limit_col` must be constant per group. Per-row limits would
    break decomposability: a phase-1-dropped row no longer consumes a phase-2
    rank, while in a single window it would (pinned by
    tests/test_adaptive_salt.py::test_two_phase_topk_equals_naive_single_window).
    """
    taken = [c for c in _TOPK_COLS if c in df.columns]
    if taken:
        raise ValueError(f"two_phase_topk: input already has private column(s) {taken}")
    limit = F.col(limit_col)
    salt = F.pmod(F.xxhash64(salt_by), F.lit(SALT_BUCKETS))
    # `dropped` is the union of the two rank complements — no anti-join back
    # on a key (the round-1 politeness plan re-shuffled the entire wave on url
    # and recomputed the frontier subtree). Phase 2 must rank ONLY phase-1
    # survivors (at most SALT_BUCKETS × limit rows per group): ranking the full
    # input per group would put the hot group's entire row set back into one
    # window task — the straggler the two-phase design exists to kill. The
    # union re-reads the upstream twice, which is cheap where it matters
    # (run_wave persists the candidate frame) and strictly less work than the
    # anti-join's shuffle + subtree recompute.
    w1 = Window.partitionBy(group_col, "_salt").orderBy(*order_cols)
    ranked1 = df.withColumn("_salt", salt).withColumn("_r1", F.row_number().over(w1))
    local = ranked1.filter(F.col("_r1") <= limit).drop("_r1", "_salt")
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    ranked2 = local.withColumn("_r2", F.row_number().over(w2))
    kept = ranked2.filter(F.col("_r2") <= limit).drop("_r2")
    dropped = (
        ranked1.filter(F.col("_r1") > limit)
        .drop("_r1", "_salt")
        .unionByName(ranked2.filter(F.col("_r2") > limit).drop("_r2"))
    )
    return kept, dropped


def politeness_split(
    candidates: DataFrame, wave_no: int, cfg: EngineConfig
) -> tuple[DataFrame, DataFrame]:
    """→ (scheduled, deferred). Scheduled = per-host top-`host_budget` by
    (priority_key, url), the two-phase salted top-k over (host, url-hash salt);
    deferred rows stay in the frontier for later waves. `host_budget` is
    constant per host (robots_gate derives it from the host's crawl delay),
    which is the top-k's decomposability contract. `cfg` is the wave's
    config, which this stage does not read (the budget arrives as a column)."""
    df = with_priority(candidates, wave_no)
    scheduled, deferred = two_phase_topk(
        df, "host", ["priority_key", "url"], "host_budget", F.col("url")
    )
    return scheduled, deferred.drop("priority_key")
