"""The wave plan: one micro-batch of the frontier loop, end to end.

Spark-first re-expression of the reference's job loop (crawlingathome.py:210-265,
SURVEY.md §3 E1): each wave is ONE DataFrame DAG —

  frontier ∪ parse(new WAT) → cross-wave canonical dedup → seen-set anti-join
  → robots gate (broadcast) → politeness top-k per host → sample-id assignment
  → simulated fetch (join pairs) → batch decode + filters + CLIP-proxy score
  → append output snapshot + overwrite state tables + lineage metrics → commit.

State lives in warehouse tables, never in executor memory, so a wave is resumable
from any committed snapshot (north_rule). Expected shuffles per wave (SURVEY.md §4):
(1) parse dedup window, (2) seen anti-join, (3) politeness windows, (4) range
partition for sample ids, (5) fetch join — each keyed on the column it must be
keyed on; robots and id-offsets are broadcasts.

`run_wave` runs in four phases:

- plan (`_plan_wave`): read the parent snapshot, build every frame the wave
  runs — the DAG above and the state-table plans — and decide, once, which
  state tables the wave writes;
- execute (`_execute`): submit the jobs to a thread pool in stages and wait
  for the status counts;
- gather (`_gather`): collect counters, lineage and bloom fill into the
  manifest and write the metrics table;
- commit (`_commit`): link the manifest.

One resource owner, `_WaveLedger`, is created before anything is persisted.
It owns the pool and the wave's job group, every persisted frame and every
localCheckpoint (the new fold and the outgoing session cache), and releases
each exactly once on one of three exits: commit, failure or a lost commit
race. It also times every job and counts the wave's codegen compiles, so
each committed manifest carries `timing` and the metrics table its totals.
"""

from __future__ import annotations

import logging
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..config import EngineConfig
from ..operators.dedup import seen_filter_exact
from ..operators.fetch import classify_and_score, output_rows, simulated_fetch
from ..operators.parse import parse_links
from ..operators.politeness import politeness_split, robots_gate
from ..operators.schedule import assign_sample_ids
from ..session import codegen_compiles
from ..state.bloom import STATE_SCHEMA as BLOOM_STATE_SCHEMA
from ..state.bloom import bloom_add, bloom_fill_ratio, seen_gate_bloom
from ..state.cuckoo import STATE_SCHEMA as CUCKOO_STATE_SCHEMA
from ..state.cuckoo import cuckoo_update
from ..state.snapshots import Warehouse

FRONTIER_SCHEMA = (
    "url string, canonical_url string, host string, caption string, license string,"
    " pair_md5 string, image_id string, page_id bigint, pos int, wave_added int"
)
SEEN_SCHEMA = "pair_md5 string, kind string"
RETRY_SCHEMA = "pair_md5 string"


def _obs_count(obs: Observation, df: DataFrame) -> int:
    """Observation value with a count() fallback: when a wave's sub-plan is
    empty, AQE may replace the observed subtree with an empty LocalTableScan
    and the observation row never materializes cleanly."""
    try:
        return int(obs.get["n"])
    except Exception:
        return df.count()


_release_warned = False

# serializes the log4j level raise/restore inside _release_checkpoint —
# concurrent pool-thread releases must not capture another release's ERROR
# as their "previous" level (ADVICE r5)
_LOG4J_LOCK = threading.Lock()


def _fold_ckpt(df: DataFrame) -> DataFrame:
    """localCheckpoint that cannot strand blocks. eager=True registers the
    persist and materializes in one opaque call — if the failure path's
    cancelJobGroup kills that job mid-flight, the half-built checkpoint RDD
    stays registered with NO DataFrame handle left to release it through
    (before round 5 the fill-ratio gather serialized after the fold and hid
    this window; test_failed_wave_releases_all_state caught the strand the
    moment the barrier moved). Split the steps: take the handle first
    (eager=False), materialize under try, release the registration before
    re-raising on any failure — cancellation included."""
    ck = df.localCheckpoint(eager=False)
    try:
        ck.count()
        return ck
    except BaseException:
        _release_checkpoint(ck)
        raise


def _release_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'ed frame's blocks. DataFrame.unpersist() only
    clears the CacheManager entry; the checkpoint RDD is persisted at the RDD
    level (outside the CacheManager) and stays resident until released through
    the LogicalRDD plan node — without this, the session bloom cache leaked
    one checkpointed RDD's blocks per committed wave (tests/test_soak.py).

    The release path leans on private JVM internals (queryExecution → analyzed
    → rdd), so a Spark upgrade that changes the plan shape would silently turn
    every release back into that leak — when it throws, WARN loudly (once per
    process) so the regression is visible the day it happens, but never fail
    the wave on cleanup."""
    global _release_warned
    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
        # Unpersisting a locally-checkpointed RDD makes Spark WARN that the
        # lineage is gone — here that is the POINT (the fold is released only
        # after its successor is committed and durable), and one expected line
        # per committed wave buries real warnings in a thousand-wave log
        # (VERDICT r4 item 3). Scope an ERROR-level rule on exactly the
        # emitting logger around the unpersist; restore afterwards. If the
        # log4j API shape changes, degrade to the noisy-but-correct release.
        # The raise→unpersist→restore window is serialized by _LOG4J_LOCK
        # (ADVICE r5): releases run concurrently from pool threads, and an
        # unlocked interleave could read ERROR as a thread's "prev" level and
        # restore it last — permanently suppressing genuine warnings from
        # that logger, not just leaking one line.
        with _LOG4J_LOCK:
            prev = None
            try:
                log4j = df.sparkSession._jvm.org.apache.logging.log4j
                lname = "org.apache.spark.rdd.MapPartitionsRDD"
                prev = log4j.LogManager.getLogger(lname).getLevel()
                log4j.core.config.Configurator.setLevel(lname, log4j.Level.ERROR)
            except Exception:
                prev = None
            try:
                jrdd.unpersist(False)
            finally:
                if prev is not None:
                    try:
                        log4j.core.config.Configurator.setLevel(lname, prev)
                    except Exception:
                        pass
    except Exception as e:
        if not _release_warned:
            _release_warned = True
            logging.getLogger(__name__).warning(
                "localCheckpoint release failed (%s: %s) — the session bloom "
                "cache will LEAK one checkpointed RDD's blocks per committed "
                "wave until plans/wave.py:_release_checkpoint is adapted to "
                "this Spark version",
                type(e).__name__,
                e,
            )


def _lineage(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .count()
        .orderBy("partition_id")
        .collect()
    )
    return [{"partition_id": int(r["partition_id"]), "n": int(r["count"])} for r in rows]


def _status_counts(classified: DataFrame) -> dict:
    rows = classified.groupBy("fetch_status").count().collect()
    return {r["fetch_status"]: r["count"] for r in rows}


class _WaveLedger:
    """The one owner of a wave's resources: the thread pool and the wave's
    job group, every frame the wave persists (`persist`), the fold
    checkpoint (`fold`) and the outgoing session cache. Each registers when
    it is created and is released exactly once, by one of three exits:

    - `commit`: swap in the new session cache, then release the old cache
      and every wave frame;
    - `fail`: cancel the job group, shut the pool down, release everything
      including a fold that finished, and evict the session cache only when
      a job that reads it genuinely failed;
    - `lost_race`: release the fold and the stale cache with the frames.

    Every job runs through `run` (caller's thread) or `submit` (pool), which
    record its start offset and duration in `timing` next to the phase
    times (`phase`) and the codegen compiles (`count_compiles`)."""

    def __init__(self, spark: SparkSession, wh: Warehouse):
        self.spark, self.wh = spark, wh
        self.compiles0 = codegen_compiles(spark)
        self.t0 = self._mark = time.perf_counter()
        self.timing: dict = {"jobs": {}}
        self.frames: list[DataFrame] = []
        self.pool: ThreadPoolExecutor | None = None
        self.group = self.desc = ""
        self.fold_future: Future | None = None
        # Every job except the metrics write has the cached session bloom
        # frame somewhere in its lineage (the seen gate feeds everything).
        # Tracking them lets `fail` tell a GENUINE cache-reader failure
        # (possible lost checkpoint blocks) from a driver-side failure that
        # cannot have touched them (ADVICE r4 — scope the cache eviction).
        self.readers: list[Future] = []
        self.reader_failed = False

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.frames.append(df)
        return df

    def phase(self, name: str) -> None:
        """Time the phase that ran since the previous mark."""
        now = time.perf_counter()
        self.timing[f"{name}_s"] = round(now - self._mark, 4)
        self._mark = now

    def count_compiles(self) -> int:
        """Record in `timing` the whole-stage-codegen compiles since the wave
        started. The counter is JVM-wide, so a concurrent query or wave in
        the same driver adds to it."""
        n = self.timing["codegen_compiles"] = codegen_compiles(self.spark) - self.compiles0
        return n

    def _timed(self, label: str, fn, *a, **k):
        s = time.perf_counter()
        r = fn(*a, **k)
        self.timing["jobs"][label] = {
            "start_s": round(s - self.t0, 4),
            "dur_s": round(time.perf_counter() - s, 4),
        }
        return r

    def run(self, label: str, fn, *a, **k):
        """Run a cache-reading job on the caller's thread, whose job group
        is the caller's and is left alone."""
        try:
            return self._timed(label, fn, *a, **k)
        except Exception:
            self.reader_failed = True
            raise

    def open_pool(self, snap_id: int, wave_no: int) -> None:
        self.group, self.desc = f"wave-{snap_id}", f"wave {wave_no}"
        self.pool = ThreadPoolExecutor(max_workers=8)

    def submit(self, label: str, fn, *a, reads_cache: bool = True) -> Future:
        """Run fn(*a) as a pool job under the wave's job group, so a failed
        wave can cancel its in-flight siblings (Spark job groups are
        thread-local — each pool thread sets it before its action)."""

        def job():
            self.spark.sparkContext.setJobGroup(self.group, f"{self.desc}: {label}")
            return self._timed(label, fn, *a)

        fut = self.pool.submit(job)
        if reads_cache:
            self.readers.append(fut)
        return fut

    def fold(self, df: DataFrame) -> None:
        """Submit the session-cache fold; its checkpoint is owned from here."""
        self.fold_future = self.submit("bloom_fold", _fold_ckpt, df)

    def commit(self, snap_id: int, cache_df: DataFrame | None) -> None:
        """Exit 1, the snapshot is committed: `cache_df` (the fold, or the
        re-keyed old cache when the state did not change) becomes the session
        cache; None (exact mode) leaves the cache alone."""
        self._close_pool(cancel=False)
        if cache_df is not None:
            old = getattr(self.wh, "_bloom_session_cache", None)
            self.wh._bloom_session_cache = {"snap": snap_id, "df": cache_df}
            if old is not None and old["df"] is not cache_df:
                _release_checkpoint(old["df"])
        self._unpersist_frames()

    def fail(self) -> None:
        """Exit 2, the wave failed or was interrupted."""
        # Snapshot BEFORE cancelling: did a job that reads the cached bloom
        # fail on its own? Only that can mean lost or broken checkpoint
        # blocks (executor death mid-gate); jobs the cancel kills fail
        # because of US, not because of block loss.
        genuine = self.reader_failed or any(
            f.done() and not f.cancelled() and f.exception() is not None for f in self.readers
        )
        self._close_pool(cancel=True)
        # A failed reader can leave the session cache's (non-replicated,
        # lineage-truncated) checkpoint blocks broken, and an in-process retry
        # on this Warehouse would hit the same snapshot key and reuse them
        # until the process restarted — drop the cache so the retry rebuilds
        # from the durable base+delta tables (ADVICE r3). SCOPED (ADVICE r4):
        # a driver-side failure (metrics write error, Ctrl-C) cannot corrupt
        # immutable cached blocks, and evicting there forces the retry to
        # re-pay the full refold for nothing. A genuine reader failure racing
        # the cancel can be missed at most once, and self-heals: the retry's
        # own gate job then fails and evicts on ITS failure path.
        self._discard(evict=genuine)

    def lost_race(self) -> None:
        """Exit 3, another writer committed this snapshot id first: the next
        wave reads the winner's snapshot, so neither the fold nor the old
        cache's key can ever hit again."""
        self._close_pool(cancel=False)
        self._discard(evict=True)

    def _close_pool(self, cancel: bool) -> None:
        if self.pool is None:
            return
        if cancel:
            # without the cancel, shutdown(wait=True) blocks until every
            # running write drains (minutes at scale) before the error or
            # Ctrl-C propagates
            try:
                self.spark.sparkContext.cancelJobGroup(self.group)
            except Exception:
                pass
        self.pool.shutdown(wait=True, cancel_futures=cancel)

    def _discard(self, evict: bool) -> None:
        if self.fold_future is not None:
            try:
                _release_checkpoint(self.fold_future.result())
            except Exception:
                pass  # the fold failed or was cancelled: _fold_ckpt released it
        stale = getattr(self.wh, "_bloom_session_cache", None) if evict else None
        if stale is not None:
            self.wh._bloom_session_cache = None
            _release_checkpoint(stale["df"])
        self._unpersist_frames()

    def _unpersist_frames(self) -> None:
        for df in self.frames:
            df.unpersist()


@dataclass
class _WavePlan:
    """Everything the plan phase builds and decides; later phases only run it."""

    wh: Warehouse
    cfg: EngineConfig
    manifest: dict
    input_wave: bool
    collect_lineage: bool
    obs: dict  # Observation per counter: cands, unseen, deferred
    cands: DataFrame
    unseen: DataFrame
    deferred: DataFrame
    frontier_out: DataFrame
    scheduled: DataFrame
    classified: DataFrame
    out: DataFrame
    # The wave's state writes, decided once: table name → (plan, when,
    # manifest setter). `when` names the status counts under which the
    # manifest registers the write: "always", "scheduled" (anything was
    # scheduled) or "errors" (any fetch failed).
    writes: dict
    # bloom mode only: the merged parsed bloom the gate read (and whether it
    # is the session cache), bloom_p ∪ this wave's keys, and parent facts
    bloom_p: DataFrame | None = None
    bloom_cached: bool = False
    plan_added: DataFrame | None = None
    compact: bool = False
    parent_fill: float | None = None
    cuckoo_nonempty: bool = False


def _plan_wave(
    spark: SparkSession,
    wh: Warehouse,
    cfg: EngineConfig,
    led: _WaveLedger,
    pairs: DataFrame,
    robots: DataFrame,
    wat_links: DataFrame | None,
    collect_lineage: bool,
    shard_key: str | None,
) -> _WavePlan:
    """Plan-build: read the parent snapshot and build every frame the wave
    runs. Its one Spark job is the sample-id assignment."""
    parent = wh.latest()
    parent_tables = (parent or {}).get("tables", {})
    manifest = wh.new_manifest(parent)
    manifest["shard_key"] = shard_key
    if shard_key is not None:
        manifest.setdefault("completed_shards", []).append(shard_key)
    wave_no = manifest["wave_no"] = (parent["wave_no"] + 1) if parent else 1
    tables = manifest["tables"]
    frontier = wh.read_table(spark, parent, "frontier", FRONTIER_SCHEMA)

    # 1. parse new WAT records into candidates (SURVEY.md §2.2)
    if wat_links is not None:
        new_cands = parse_links(wat_links, cfg).withColumn("wave_added", F.lit(wave_no))
    else:
        new_cands = spark.createDataFrame([], FRONTIER_SCHEMA)

    # 2. merge with deferred frontier; cross-wave first-occurrence dedup on the
    #    CANONICAL url (north_rule T6) — older wave wins, then document order.
    w_can = Window.partitionBy("canonical_url").orderBy("wave_added", "page_id", "pos")
    obs = {name: Observation(name) for name in ("cands", "unseen", "deferred")}
    cands = led.persist(
        frontier.unionByName(new_cands)
        .withColumn("_rn", F.row_number().over(w_can))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .observe(obs["cands"], F.count(F.lit(1)).alias("n"))
    )

    # 3. global seen-set gate (J2/J3) with retry override (J5).
    # Bloom mode mirrors the reference's TWO bloom families exactly: first the
    # "clipped" bloom (crawlingathome.py:82-87), then the "parsed" bloom (:88-95),
    # with the cuckoo retry slots overriding only the parsed stage. Exact mode is
    # the same logic as anti-joins against key tables (the oracle path).
    if cfg.dedup_mode == "bloom":
        # Absent state tables read as EMPTY frames, never driver-built
        # zero-bit blooms: every state consumer treats a missing partition as
        # all-zeros executor-side (at the 24-GB design point empty bits built
        # on the driver would OOM before the first wave ran).
        deltas = parent_tables.get("bloom_parsed_delta", [])
        # SESSION CACHE of the OR-merged parsed bloom (ROADMAP gap 4 / VERDICT
        # r2 item 2): within one driver session the merged bits stay persisted
        # executor-side between waves, so the read path pays neither the base-
        # bits parquet re-read (24 GB at design scale) nor the re-fold of ALL
        # accumulated deltas — each wave folds only ITS OWN keys once. Keyed
        # by parent snapshot id: a fresh Warehouse object (crash resume) or a
        # foreign commit misses and falls back to the table read, base bits ∪
        # per-wave key deltas OR-merged lazily (one extra cogroup).
        cache = getattr(wh, "_bloom_session_cache", None)
        bloom_cached = bool(cache is not None and parent and cache["snap"] == parent["snapshot_id"])
        if bloom_cached:
            bloom_p = cache["df"]
        else:
            bloom_p = wh.read_table(spark, parent, "bloom_parsed", BLOOM_STATE_SCHEMA)
            if deltas:
                delta_keys = wh.read_table(spark, parent, "bloom_parsed_delta", RETRY_SCHEMA)
                bloom_p = bloom_add(bloom_p, delta_keys, cfg.bloom, key="pair_md5")
        bloom_c = wh.read_table(spark, parent, "bloom_clipped", BLOOM_STATE_SCHEMA)
        cuckoo = wh.read_table(spark, parent, "cuckoo_state", CUCKOO_STATE_SCHEMA)
        # FUSED gate: clipped ∧ parsed ∧ retry membership in ONE cogroup
        # shuffle of the wave (the states are co-partitioned by the same key).
        unseen = seen_gate_bloom(
            cands, bloom_c, bloom_p, cuckoo, cfg.bloom, cfg.cuckoo, key="pair_md5"
        )
        state = dict(deltas=deltas, bloom_p=bloom_p, bloom_cached=bloom_cached, cuckoo=cuckoo)
    else:
        state = dict(
            seen_keys=wh.read_table(spark, parent, "seen_keys", SEEN_SCHEMA),
            retry_keys=wh.read_table(spark, parent, "retry_keys", RETRY_SCHEMA),
        )
        unseen = seen_filter_exact(cands, state["seen_keys"], state["retry_keys"])
    unseen = unseen.observe(obs["unseen"], F.count(F.lit(1)).alias("n"))

    # 4. robots gate (broadcast join, J6) + politeness top-k per host (O1).
    # Persist the gated frame: the scheduled pipeline AND the deferred/frontier
    # write both consume it — without the persist the seen-gate cogroup (the
    # wave's biggest state stage) executes once per action.
    gated = led.persist(robots_gate(unseen, robots, cfg))
    scheduled, deferred = politeness_split(gated, wave_no, cfg)
    frontier_out = deferred.select(*frontier.columns).observe(
        obs["deferred"], F.count(F.lit(1)).alias("n")
    )

    # 5. contiguous sample ids in priority order (W1) — scale-safe assignment.
    # Its stats job is the wave's first, and it reads the cached bloom through
    # the gate: a failure here is a cache-reader failure.
    scheduled = led.run(
        "sample_ids", assign_sample_ids, scheduled, manifest["next_sample_id"],
        persist=led.persist,
    )

    # 6. simulated fetch + decode + filters + score (F9/F10 + CLIP proxy)
    classified = led.persist(classify_and_score(simulated_fetch(scheduled, pairs), cfg))
    # NOTE: the status counts deliberately do NOT ride an observe() under the
    # pairs_out sort — a global orderBy runs its child twice in one query
    # (range-boundary sampling pass + real pass) and CollectMetrics would
    # double-count every row. They run as a concurrent groupBy job instead.
    out = output_rows(classified).orderBy("sample_id")

    # 7. state writes — their plans are BUILT here, before any job is
    # submitted: plan construction is driver-side Catalyst analysis (~0.4 s
    # per wave at bench scale) and would otherwise sit on the critical path
    # between the status gather and the stage-B submit.
    writes, bloom = _plan_state_writes(cfg, led, parent, tables, classified, state)
    return _WavePlan(
        wh=wh, cfg=cfg, manifest=manifest, input_wave=wat_links is not None,
        collect_lineage=collect_lineage, obs=obs, cands=cands, unseen=unseen,
        deferred=deferred, frontier_out=frontier_out, scheduled=scheduled,
        classified=classified, out=out, writes=writes, **bloom,
    )


def _plan_state_writes(
    cfg: EngineConfig,
    led: _WaveLedger,
    parent: dict | None,
    tables: dict,
    classified: DataFrame,
    state: dict,
) -> tuple[dict, dict]:
    """The plan phase's one decision about state: the wave's state writes
    (see _WavePlan.writes) — execute submits from it and registers from it —
    plus, in bloom mode, the _WavePlan bloom fields. `state` holds the
    parent's state frames the seen gate read."""
    parent_tables = (parent or {}).get("tables", {})
    attempted = classified.select("pair_md5", "fetch_status")
    keys = attempted.select("pair_md5")
    failed = attempted.filter(F.col("fetch_status") == "error").select("pair_md5")
    fetched = attempted.filter(F.col("fetch_status") != "error").select("pair_md5")
    writes: dict = {}

    def write(name, plan, when, setter=None):
        writes[name] = (plan, when, setter or (lambda rel: tables.update({name: [rel]})))

    if cfg.dedup_mode == "bloom":
        # J4: bloom-add ALL attempted keys to "parsed" (crawlingathome.py:148-154).
        # Delta maintenance: a wave writes only its KEYS; the bit table is
        # rewritten only at compaction. State a wave does not rewrite is
        # carried forward by pointer (never copied) — among it the clipped
        # bloom, owned by the downstream CLIP stage. seen/retry key TABLES are
        # exact-mode state and are not written at all in bloom mode.
        deltas, cuckoo = state["deltas"], state["cuckoo"]
        for name in ("bloom_clipped", "bloom_parsed", "cuckoo_state"):
            if parent_tables.get(name):
                tables[name] = list(parent_tables[name])
        tables["bloom_parsed_delta"] = list(deltas)
        compact = len(deltas) + 1 >= cfg.bloom_compact_every
        # merged bits ∪ this wave's keys: the session-cache fold, and (at a
        # compaction boundary) also the new base-bits table
        plan_added = bloom_add(state["bloom_p"], keys, cfg.bloom, key="pair_md5")
        if compact:
            plan_added = led.persist(plan_added)
            write("bloom_parsed", plan_added, "scheduled",
                  lambda rel: tables.update(bloom_parsed=[rel], bloom_parsed_delta=[]))
        else:
            write("bloom_parsed_delta", keys.distinct(), "scheduled",
                  lambda rel: tables.update(bloom_parsed_delta=[*deltas, rel]))
        # cuckoo: parent emptiness rides the manifest so waves that cannot
        # change the table (no failures to insert, nothing to delete from an
        # empty table, or nothing attempted at all) skip the rewrite (VERDICT
        # r2 item 2). Pre-field manifests with a cuckoo table count as non-empty.
        had_cuckoo = bool(parent_tables.get("cuckoo_state"))
        nonempty = bool((parent or {}).get("cuckoo_nonempty", had_cuckoo))
        if not cfg.reference_strict:
            updated = cuckoo_update(cuckoo, inserts=failed, deletes=fetched, params=cfg.cuckoo)
            write("cuckoo_state", updated, "scheduled" if nonempty else "errors")
        elif not had_cuckoo:
            write("cuckoo_state", cuckoo, "always")
        return writes, dict(
            bloom_p=state["bloom_p"], bloom_cached=state["bloom_cached"],
            plan_added=plan_added, compact=compact,
            parent_fill=(parent or {}).get("bloom_fill_ratio"), cuckoo_nonempty=nonempty,
        )
    seen = state["seen_keys"].unionByName(keys.distinct().withColumn("kind", F.lit("parsed")))
    write("seen_keys", seen.dropDuplicates(["pair_md5", "kind"]), "always")
    # reference-strict mode rewrites the parent's retry keys unchanged: the
    # reference loses retries (B3)
    retry = state["retry_keys"]
    if not cfg.reference_strict:
        retry = retry.unionByName(failed).distinct().join(fetched, "pair_md5", "left_anti")
    write("retry_keys", retry, "always")
    return writes, {}


def _execute(led: _WaveLedger, w: _WavePlan) -> dict:
    """Pool-execute: submit every job but the metrics write; → their futures
    by name, the status counts, and the session cache to re-key when the
    wave folds nothing.

    ONE pool, STAGED submission (concurrent Spark jobs from driver threads):
    at bench scale a committed wave is otherwise dominated by 5-7 small
    sequential jobs each paying a constant per-job latency. Stage A =
    frontier write + pairs_out write + status groupBy (the heavy
    materializations, overlapped; all three share the persisted
    `classified`/`gated` frames — racing first-materialization at worst
    computes a partition twice into the same cache, values deterministic).

    Observation exactness under the race: obs cands/unseen sit BELOW cache
    boundaries, so in principle racing queries could split partition
    attribution across their CollectMetrics accumulators. Measured on this
    Spark version (3 heterogeneous concurrent actions over a cold persisted
    observed frame, 6/6 trials exact) the cache's per-partition compute
    locking keeps the latched observation exact; _obs_count's count()
    fallback and the e2e counters-equality tests (engine ≡ oracle, every
    run) guard the assumption against a future Spark changing attribution.

    Stage B (state writes + session-cache fold) is submitted OPTIMISTICALLY
    with stage A for input waves: every state plan's CONTENT is fixed at plan
    time, so the jobs fully overlap the pairs_out sort instead of queueing
    behind the status gather (measured ~1.4 s of stage-B tail serialized
    behind a ~1.4 s status job at bench scale). Only whether the manifest
    REGISTERS a write depends on the status counts, and registration happens
    after status. An input wave that schedules zero rows (rare) just leaves
    an unregistered orphan dir — the same invisible-until-committed lifecycle
    as a failed wave's files. Drain waves (no WAT input) keep the post-status
    submission so provably-empty waves still skip state writes entirely.
    Lineage submits when status resolves; the metrics write (gather) further
    needs the observe() values carried by the frontier write."""
    wh, cfg, snap = w.wh, w.cfg, w.manifest["snapshot_id"]
    led.phase("prep")
    led.open_pool(snap, w.manifest["wave_no"])
    jobs: dict = {
        "frontier": led.submit("frontier", wh.write_table, w.frontier_out, "frontier", snap),
        "pairs_out": led.submit("pairs_out", wh.write_table, w.out, "pairs_out", snap),
        "cache": None,
    }
    early: dict = {}  # table name -> optimistically submitted write
    if w.input_wave:
        for name, (plan, when, _) in w.writes.items():
            if when != "errors":  # needed whenever anything is scheduled
                early[name] = led.submit(name, wh.write_table, plan, name, snap)
        if w.plan_added is not None:
            # input waves always fold: plan_added is a fresh merge, never the
            # cached frame
            led.fold(w.plan_added)

    status = jobs["status"] = led.submit("status", _status_counts, w.classified).result()
    led.phase("status")
    n_scheduled, n_errors = sum(status.values()), status.get("error", 0)

    jobs["state"] = []  # (write future, manifest setter) per registered write
    for name, (plan, when, setter) in w.writes.items():
        if {"always": True, "scheduled": n_scheduled > 0, "errors": n_errors > 0}[when]:
            fut = early.pop(name, None)
            if fut is None:
                fut = led.submit(name, wh.write_table, plan, name, snap)
            jobs["state"].append((fut, setter))
    # unregistered optimistic writes (rare empty input wave): awaited so
    # genuine errors (disk full) surface; the dirs stay invisible orphans
    jobs["orphans"] = list(early.values())

    # The session-cache fold: localCheckpoint materializes the merged bloom
    # (its lineage runs through `classified`, which the ledger unpersists)
    # and TRUNCATES the lineage — without truncation the cached plan would
    # chain every prior wave's full pipeline (observe-name collisions
    # immediately, analysis-time blowup at wave counts that matter). The fold
    # work equals what the next wave's read path would otherwise pay, minus
    # the base-bits parquet re-read; it is side-effect-free, so it runs
    # BEFORE commit and the ledger keeps or discards it by the commit outcome.
    # Blocks are session-local: a lost executor fails the wave's gate job,
    # and the rerun rebuilds the cache from the durable base+delta tables.
    if w.bloom_p is not None and led.fold_future is None:  # drain wave
        if n_scheduled:
            led.fold(w.plan_added)
        elif w.bloom_cached:
            jobs["cache"] = w.bloom_p  # state unchanged: re-key the cache
        else:
            led.fold(w.bloom_p)
    # bloom saturation health (VERDICT r4 item 3): an over-filled bloom
    # silently raises FPR and a false "seen" silently drops candidates
    # forever, so saturation must surface in metrics. The popcount is a full
    # scan of the bloom bits on the serialized fold→fill→metrics tail
    # (profiled: ~0.4 s at bench scale, a full multi-GB state scan at design
    # point) — so recompute EXACTLY only at compaction boundaries (and on the
    # first state-writing wave, when no parent value exists); every other
    # wave carries the parent's value forward. Staleness is bounded by
    # bloom_compact_every waves, and the ratio moves monotonically and slowly
    # between compactions — the 0.5 warn threshold is capacity planning.
    fold = led.fold_future
    if fold is not None and (w.compact or w.parent_fill is None):
        jobs["fill"] = led.submit("bloom_fill", lambda: bloom_fill_ratio(fold.result(), cfg.bloom))
    if w.collect_lineage:
        jobs["lineage"] = {
            "scheduled": led.submit("lineage_sched", _lineage, w.scheduled),
            "output": led.submit("lineage_out", _lineage, w.out),
        }
    return jobs


def _gather(led: _WaveLedger, w: _WavePlan, jobs: dict) -> DataFrame | None:
    """Gather: fill the manifest from the jobs' results and write the metrics
    table; → the next session-cache frame (None in exact mode)."""
    manifest, tables, cfg, wave_no = w.manifest, w.manifest["tables"], w.cfg, w.manifest["wave_no"]
    status = jobs["status"]
    n_scheduled, n_errors, n_ok = sum(status.values()), status.get("error", 0), status.get("ok", 0)

    # 9. counters (A1, north_rule per-partition granularity): statuses came
    # from the stage-A groupBy; deferred rides the frontier write's
    # observe(), so gather that first. candidates/unseen observe() nodes
    # materialized under whichever stage-A job won the cache race.
    tables["frontier"] = [jobs["frontier"].result()]
    counters = {
        "candidates": _obs_count(w.obs["cands"], w.cands),
        "unseen": _obs_count(w.obs["unseen"], w.unseen),
        "scheduled": n_scheduled,
        "deferred": _obs_count(w.obs["deferred"], w.deferred),
        "fetched_ok": n_ok,
        "rejected": n_scheduled - n_ok - n_errors,
        "errors": n_errors,
    }
    # Invariant guard on the observe() values (ADVICE r3): counter
    # exactness under the staged pool rests on the cache's per-partition
    # compute locking keeping CollectMetrics attribution whole across the
    # concurrent stage-A actions — measured exact on this Spark version,
    # but a future version splitting attribution would return silently
    # wrong counters. The pipeline only narrows, so
    # candidates >= unseen >= scheduled + deferred must hold; a violation
    # triggers the count() fallback over the persisted frames.
    # Scope (review r4): the guard is ONE-SIDED — it catches lost/split
    # attribution (under-count), not a proportional over-attribution that
    # inflates candidates and unseen together; exactness itself is pinned
    # by the e2e counters≡oracle tests. It also leans on the fetch data
    # contract that `pairs` is unique per image_id (simulated_fetch is a
    # left join, so duplicate pairs keys would inflate n_scheduled and
    # falsely trip the fallback — and would already duplicate output
    # sample_ids, a corruption upstream of any counter).
    if not counters["candidates"] >= counters["unseen"] >= n_scheduled + counters["deferred"]:
        counters["candidates"] = w.cands.count()
        counters["unseen"] = w.unseen.count()
        counters["deferred"] = w.deferred.count()
    manifest["counters"] = counters
    if "lineage" in jobs:
        manifest["lineage"] = {stage: f.result() for stage, f in jobs["lineage"].items()}

    # bloom saturation: gather the fill ratio so it rides BOTH the manifest
    # and the metrics table; waves that leave the bloom state untouched
    # carry the parent's value forward (still current).
    fill = jobs["fill"].result() if "fill" in jobs else w.parent_fill
    if fill is not None:
        fill = round(float(fill), 6)  # one rounding, shared by manifest + ppm row
        manifest["bloom_fill_ratio"] = fill
        if fill > cfg.bloom_warn_fill:
            logging.getLogger(__name__).warning(
                "parsed bloom fill ratio %.3f exceeds %.2f — the filter is "
                "at/beyond design capacity, its FPR is degrading and false "
                "\"seen\" verdicts will silently drop candidates; recompact "
                "into a larger BloomParams.capacity",
                fill,
                cfg.bloom_warn_fill,
            )
    if cfg.dedup_mode == "bloom":
        # a cuckoo rewrite may have emptied it by deletions, but claiming
        # non-empty is safe (costs at most one later rewrite, never a wrong
        # gate); reference-strict mode never inserts
        manifest["cuckoo_nonempty"] = w.cuckoo_nonempty or (
            not cfg.reference_strict and n_errors > 0
        )

    # metrics table: totals (partition_id = -1) + per-partition lineage rows
    # (north_rule: per-partition fetched/filtered/rejected counters); needs
    # the gathered counters, overlaps the remaining tail. The compile count
    # is taken here, so it covers the plan and stage A, and of stage B what
    # compiled by now (a warm wave's compiles all fall in its prep).
    t = led.timing
    metric_rows = [(wave_no, k, -1, int(v)) for k, v in counters.items()]
    metric_rows += [
        (wave_no, "prep_ms", -1, round(t["prep_s"] * 1000)),
        (wave_no, "status_ms", -1, round(t["status_s"] * 1000)),
        (wave_no, "codegen_compiles", -1, led.count_compiles()),
    ]
    if fill is not None:
        metric_rows.append((wave_no, "bloom_fill_ppm", -1, int(round(fill * 1_000_000))))
    for stage, parts in manifest.get("lineage", {}).items():
        metric_rows += [(wave_no, stage, p["partition_id"], p["n"]) for p in parts]
    metrics = led.spark.createDataFrame(
        metric_rows, "wave_no int, counter string, partition_id int, value long"
    )
    f_metrics = led.submit(
        "metrics", w.wh.write_table, metrics, "metrics", manifest["snapshot_id"],
        reads_cache=False,  # driver-built rows — never touches the cache
    )

    tables.setdefault("pairs_out", []).append(jobs["pairs_out"].result())
    for fut, setter in jobs["state"]:
        setter(fut.result())
    for fut in jobs["orphans"]:
        fut.result()
    tables.setdefault("metrics", []).append(f_metrics.result())
    cache_df = led.fold_future.result() if led.fold_future is not None else jobs["cache"]
    led.phase("gather")  # the commit cannot time itself into the manifest it writes
    manifest["timing"] = led.timing
    return cache_df


def _commit(led: _WaveLedger, w: _WavePlan, cache_df: DataFrame | None) -> None:
    """Commit: link the manifest, then end the ledger by the outcome."""
    w.manifest["next_sample_id"] += w.manifest["counters"]["scheduled"]
    try:
        w.wh.commit(w.manifest)  # may raise ConcurrentCommitError (loser of a race)
    except BaseException:
        led.lost_race()
        raise
    led.commit(w.manifest["snapshot_id"], cache_df)


def run_wave(
    spark: SparkSession,
    wh: Warehouse,
    cfg: EngineConfig,
    pairs: DataFrame,
    robots: DataFrame,
    wat_links: DataFrame | None = None,
    collect_lineage: bool = True,
    shard_key: str | None = None,
) -> dict:
    """Execute one wave; commit a snapshot; return the manifest.

    `shard_key` identifies the input shard in the manifest so resume logic can
    skip exactly the committed shards (wave_no alone is ambiguous once drain
    waves — which also advance it — enter the history)."""
    led = _WaveLedger(spark, wh)
    try:
        w = _plan_wave(spark, wh, cfg, led, pairs, robots, wat_links, collect_lineage, shard_key)
        jobs = _execute(led, w)
        cache_df = _gather(led, w, jobs)
    except BaseException:
        led.fail()
        raise
    _commit(led, w, cache_df)
    return w.manifest
