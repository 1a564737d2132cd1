"""Connected components over a pair graph — the cluster step of corpus dedup.

The reference deduplicates pairwise (bloom membership, crawlingathome.py:82-95);
large-corpus near-dup pipelines instead CLUSTER the candidate-pair graph and
keep one representative per component (greedy pairwise drops are
order-dependent and can over- or under-drop along chains A~B~C where A~C does
not hold). This operator turns any pair DataFrame — MinHash/SimHash/pHash/
embedding near-dup pairs from the sibling operators — into (node, component)
labels, component = min node id reachable.

Algorithm: alternating LARGE-STAR / SMALL-STAR from the public MapReduce
connected-components literature (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) — O(log n) rounds on real graphs vs the
graph diameter for naive label propagation (a 1M-link chain of near-dup
shingles would need 1M rounds under min-propagation; star-contraction
collapses it in ~20).

Scale shape per round: BOTH star steps need only each node's MINIMUM
neighbor, never its full adjacency list — a map-side-combinable groupBy min
joined back to the edge set (2 shuffles/round, both on the node key; AQE
handles the skewed hub nodes a near-dup graph always has). No collect_list
(a hot node's neighborhood never materializes in one task), no driver-side
graph. Every round ends in an EAGER localCheckpoint: iterative lineage
otherwise doubles per round and the round-10 plan would replay rounds 1-9
on every executor retry (the checkpoint is also what bounds plan-compile
time). Previous rounds' blocks are released through the JVM RDD handle —
DataFrame.unpersist alone leaves localCheckpoint blocks resident
(session.py:release_checkpoint, found by the round-3 soak leak).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_checkpoint


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """→ distinct undirected edges as (u=min, v=max), self-loops dropped.

    Fails fast on non-integral id columns (ADVICE r5): the long cast below
    turns uncastable values into nulls, and the null filter would then
    silently drop EVERY edge — string image keys would become a dedup no-op
    with no error. Arbitrary id types go through component_members, which
    dense-ranks them to longs first."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    for c in (src, dst):
        t = edges.schema[c].dataType
        if not isinstance(t, integral):
            raise TypeError(
                f"connected_components requires integral node ids; column {c!r} "
                f"is {t.simpleString()} — map arbitrary ids through "
                "component_members (dense-rank) or hash them (xxhash64) first"
            )
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    return (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull())
        .distinct()
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """(w, m(u)) for every neighbor w > u, where m(u)=min(Γ(u) ∪ {u})."""
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient to the larger endpoint; link its smaller neighbors (and itself)
    to m(u)=min(Γ⁻(u))."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    linked = (
        d.join(mins, "u")
        .select(F.col("m").alias("u"), F.col("v"))
        .union(mins.select(F.col("m").alias("u"), F.col("u").alias("v")))
    )
    return linked.where(F.col("u") != F.col("v")).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent hash-sum) — the round-fixpoint detector.
    Hash-sum equality at equal count is a 2^-64-ish false-fixpoint risk per
    round; acceptable for a convergence check that the final star-shape
    assert below would catch anyway."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a long sum overflows under ANSI mode
        # after a handful of 2^63-range hashes
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame, src: str = "a", dst: str = "b", max_iter: int = 30
) -> DataFrame:
    """→ (node long, component long) for every node in `edges`; component =
    smallest node id in the connected component. Nodes absent from `edges`
    (singletons) are the caller's concern — union them as node=component.
    Node ids must be integral (cast to long); hash string keys first
    (F.xxhash64) like the banded dedup operators do.
    """
    cur = _canon(edges, src, dst).localCheckpoint(eager=True)
    prev_frames: list[DataFrame] = []
    fp = _fingerprint(cur)
    for _ in range(max_iter):
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nxt = _small_star(_large_star(sym)).localCheckpoint(eager=True)
        nfp = _fingerprint(nxt)
        prev_frames.append(cur)
        cur = nxt
        if nfp == fp:
            break
        fp = nfp
    else:
        for f in prev_frames + [cur]:
            release_checkpoint(f)
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # fixpoint ⇒ stars: each canonical edge is (u=root, v=member); roots
    # label themselves
    out = cur.select(F.col("v").alias("node"), F.col("u").alias("component")).union(
        cur.select(F.col("u").alias("node"), F.col("u").alias("component"))
    )
    out = out.groupBy("node").agg(F.min("component").alias("component"))
    result = out.localCheckpoint(eager=True)
    # guard against a 2^-64 false fixpoint (hash-sum collision): labels must
    # be idempotent — every node's component must itself map to component.
    # One tiny self-join on the label frame; raises rather than mislabeling.
    bad = (
        result.alias("x")
        .join(result.alias("y"), F.col("x.component") == F.col("y.node"))
        .where(F.col("y.component") != F.col("x.component"))
        .limit(1)
        .count()
    )
    for f in prev_frames + [cur]:
        release_checkpoint(f)
    if bad:
        release_checkpoint(result)
        raise RuntimeError("connected_components: non-star fixpoint (labels not idempotent)")
    return result


def component_members(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Non-representative members of every component, for ARBITRARY node-id
    types (string image keys, long doc ids, …) — the drop set of a
    transitive-safe dedup. Returns one column named `src` with the original
    type, eagerly materialized as a localCheckpoint: callers anti-join it
    lazily and release it (session.release_checkpoint) once whatever reads
    it is materialized.

    Ordering parity with the greedy keep-lowest operators: nodes are mapped
    to dense longs by their RANK in native sort order (the scale-safe
    range+offset plan of operators/schedule.py — one range exchange, no
    single-partition window), so min-dense-id ≡ min-original-id and the kept
    representative is the same row greedy rules keep."""
    from .schedule import assign_sample_ids, unpersist_sample_ids

    nodes = (
        pairs.select(F.col(src).alias("node"))
        .union(pairs.select(F.col(dst).alias("node")))
        .distinct()
    )
    mapped = assign_sample_ids(nodes, start_id=0, order_cols=("node",), id_col="_nid")
    e = (
        pairs.join(mapped.select(F.col("node").alias(src), F.col("_nid").alias("_a")), src)
        .join(mapped.select(F.col("node").alias(dst), F.col("_nid").alias("_b")), dst)
        .select("_a", "_b")
    )
    comp = connected_components(e, src="_a", dst="_b")
    out = (
        comp.where(F.col("node") != F.col("component"))
        .join(mapped.select(F.col("node").alias("_orig"), F.col("_nid").alias("node")), "node")
        .select(F.col("_orig").alias(src))
        .localCheckpoint(eager=True)
    )
    release_checkpoint(comp)
    unpersist_sample_ids(mapped)
    return out
