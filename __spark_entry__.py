"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every SURVEY.md §2 operator family as a (spark, sf_dir) →
DataFrame callable; `oracle_sql()` gives a DuckDB oracle for EVERY entry (the
driver compares row-count + schema + order-insensitive value-hash at sf=0.01):
ANSI SQL for SQL-expressible ops, and `read_parquet` over the golden files
written by tests/golden_queries.py for UDF-backed ops (image decode, pHash,
CLIP proxy, langid, MinHash/SimHash, LSH ANN, the full wave). Zero rows-only
checks remain (enforced by tests/test_entry.py::test_every_query_has_an_oracle).

Scope of the golden oracles: the ORCHESTRATION (pair finding, joins, windows,
top-k, banding) is re-derived independently in plain Python/numpy — brute
force where the Spark side is bucketed — but the pinned SEMANTIC kernels
(fakeimg codec, phash, langid, text_feature, seeded hash/plane constructions)
are the same modules the Spark UDFs import, so a bug inside a shared kernel is
invisible to this check. Those kernels carry their own independent pins:
byte-stable committed goldens (tests/test_goldens.py, gen_goldens) and
property tests, plus the raw-WAT reference crosscheck
(tests/test_reference_crosscheck.py).

Frontier-semantics queries run over a deterministic URL view synthesized from
`orders` (both engines compute the same expressions), so politeness / dedup /
blocklist / sample-id operators get REAL value-level oracles, not just row counts.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))

# Stopword list for q18 and q01's blocklist (the parse stage's) — both
# mirrored verbatim into the SQL oracles.
from crawlingathome_worker_spark.functions.langid import STOPWORDS
from crawlingathome_worker_spark.operators.parse import BLOCKLIST

_EN_STOP = sorted(STOPWORDS["en"])


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _par(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a single-file scan to the session's parallelism.

    The driver tables are single-row-group parquet files: the scan yields 1-2
    tasks regardless of core count (row groups are the split atom), so any
    per-row stage Catalyst pipelines into the scan — signature/score UDFs,
    string building — runs on a sliver of the machine. Repartitioning on a
    key column right after the read restores parallelism (guide §2.5: "input
    skew — one huge unsplittable file: repartition immediately after the
    read"); hash (not round-robin) partitioning skips the
    sort-before-repartition pass and is deterministic under task retry.
    Scale-adaptive: the target is defaultParallelism, not a constant — on a
    many-split production scan this helper is simply not applied."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(key)
    )


def _fixtures() -> str:
    from crawlingathome_worker_spark.sources.fixtures import ensure_fixtures

    return ensure_fixtures(os.path.join(REPO, ".fixtures"))


# ---------------------------------------------------------------------------
# synthesized URL view (shared by q01/q05/q08/q09) — same expressions in SQL
# ---------------------------------------------------------------------------

def _links_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the two source columns, then restore scan parallelism BEFORE
    # the url/host string building: orders is a 2-row-group single file (≤2
    # scan tasks), and every links-view consumer (q01/q05/q08/q09/q37) runs
    # its string expressions in the stage that contains the scan. The
    # repartition shuffles 16 bytes/row so the CASE/concat/md5 work downstream
    # runs on every core (q05 measured 3.5 s → 1.5 s at sf1.0).
    o = _par(_t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"), "o_orderkey")
    host = F.concat(
        F.lit("host"), (F.col("o_custkey") % 40).cast("string"), F.lit(".example.com")
    )
    key = F.col("o_orderkey")
    path = (
        F.when(key % 17 == 0, F.lit("assets/logo.svg"))
        .when(key % 19 == 3, F.lit("anim/load.gif"))
        .when(key % 23 == 5, F.concat(F.lit("img/"), key.cast("string"), F.lit(".jpg#frag")))
        .otherwise(F.concat(F.lit("img/"), key.cast("string"), F.lit(".jpg")))
    )
    return o.select(
        F.col("o_orderkey").alias("link_id"),
        host.alias("host"),
        F.concat(F.lit("http://"), host, F.lit("/"), path).alias("url"),
    )


_LINKS_SQL = """
  SELECT o_orderkey AS link_id,
         'host' || CAST(o_custkey % 40 AS VARCHAR) || '.example.com' AS host,
         'http://' || 'host' || CAST(o_custkey % 40 AS VARCHAR) || '.example.com' || '/' ||
         CASE WHEN o_orderkey % 17 = 0 THEN 'assets/logo.svg'
              WHEN o_orderkey % 19 = 3 THEN 'anim/load.gif'
              WHEN o_orderkey % 23 = 5 THEN 'img/' || CAST(o_orderkey AS VARCHAR) || '.jpg#frag'
              ELSE 'img/' || CAST(o_orderkey AS VARCHAR) || '.jpg' END AS url
  FROM orders
"""


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------

def q01_url_blocklist(spark, sf_dir):
    """F6 substring blocklist + F7 length gate (crawlingathome.py:40, 71-74).

    The explode(array(struct(...))) hop is a MATERIALIZATION BARRIER (round
    6): without it Catalyst inlines the url-building concat/CASE expression
    into every one of the 6 blocklist disjuncts plus the length gate, so each
    row rebuilds the url string up to 8× inside the filter (codegen
    subexpression elimination cannot hoist exprs out of short-circuiting OR
    branches). Generate output attributes are real columns — the url is built
    once per row, and the filter evaluates against the stored value
    (measured 3.3 s → 1.4 s at sf1.0, identical rows). Semantics unchanged:
    explode of a 1-element array is a per-row identity."""
    from functools import reduce
    from operator import or_

    links = _links_view(spark, sf_dir)
    links = links.select(
        F.explode(F.array(F.struct("link_id", "url"))).alias("_s")
    ).select("_s.link_id", "_s.url")
    low = F.lower(F.col("url"))
    blocked = reduce(or_, [low.contains(b) for b in BLOCKLIST])
    return links.filter(~blocked & (F.length("url") <= 2048)).select("link_id", "url")


def q02_license_asof(spark, sf_dir):
    """F4 license-attach as-of window (crawlingathome.py:48-52, B4 semantics)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lic = F.when(F.col("event_type") == "signup", F.col("props"))
    return e.select(
        "event_id",
        F.coalesce(F.last(lic, ignorenulls=True).over(w), F.lit("?")).alias("license"),
    )


def q03_first_occurrence(spark, sf_dir):
    """J1 first-occurrence-wins dedup (crawlingathome.py:39, 74, 77)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


def q04_seen_antijoin(spark, sf_dir):
    """J2/J3 seen-set anti-join shape (crawlingathome.py:82-95)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti").select(
        "c_custkey", "c_name"
    )


def q05_politeness_topk(spark, sf_dir):
    """O1 per-host budgeted top-k via the engine's two-phase politeness_split."""
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.operators.politeness import politeness_split

    links = _links_view(spark, sf_dir).withColumn("host_budget", F.lit(3).cast("long"))
    scheduled, _ = politeness_split(links, wave_no=1, cfg=EngineConfig())
    return scheduled.select("host", "url")


def q06_pair_md5(spark, sf_dir):
    """T4 pair hash — bit-identical md5(concat) (crawlingathome.py:68)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.md5(F.concat(F.col("c_name"), F.col("c_mktsegment"))).alias("pair_md5")
    )


def q07_sample_ids(spark, sf_dir):
    """W1 contiguous sample-id assignment via the scale-safe range+offset plan."""
    from crawlingathome_worker_spark.operators.schedule import assign_sample_ids

    # project to the one needed column BEFORE the operator: assign_sample_ids
    # range-shuffles and persists its input as-is (column pruning cannot reach
    # through the persist), so without this the full 9-column orders row rides
    # the range exchange and the cache (guide §2.3 "project before the
    # exchange"); sample_id depends only on o_orderkey order — result identical
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100.0)
        .select("o_orderkey")
    )
    out = assign_sample_ids(o, start_id=0, order_cols=("o_orderkey",))
    return out.select("o_orderkey", "sample_id")


def q08_canonical_dedup(spark, sf_dir):
    """T6-lite canonical collapse (fragment strip) + group count."""
    links = _links_view(spark, sf_dir)
    return (
        links.withColumn("canonical_url", F.substring_index("url", "#", 1))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q09_host_budget(spark, sf_dir):
    """Politeness budget math: scheduled = least(n_urls, budget(host))."""
    links = _links_view(spark, sf_dir)
    hostnum = F.regexp_extract("host", r"host(\d+)\.", 1).cast("long")
    return (
        links.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .withColumn("budget", F.lit(1) + hostnum % 4)
        .withColumn("scheduled", F.least(F.col("n_urls"), F.col("budget")))
        .select("host", "n_urls", "budget", "scheduled")
    )


def q10_tpch_q1(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q11_tpch_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "orderdate", "revenue")
    )


def q12_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape, join order chosen for the fact tables (round 6): the
    left-deep chain let the planner build broadcast hash relations out of the
    1.5M-row orders AND the 6M-row lineitem scans (driver collect + giant
    builds dominated the query). Inner joins commute, so the same predicate
    set is regrouped: orders probes a broadcast of the small dims subtree
    (region⨝nation⨝customer), lineitem probes broadcast(supplier), and the
    only remaining join keys the two pre-reduced fact streams — lineitem is
    never collected or shuffled by a dimension key. Equivalence proved
    against the unchanged DuckDB oracle (value-identical at sf1.0 and
    sf0.01); measured 3.2 s → 1.65 s at sf1.0."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    dims = r.join(n, r.r_regionkey == n.n_regionkey).join(
        c, F.col("n_nationkey") == c.c_nationkey
    )
    o2 = o.join(F.broadcast(dims), F.col("c_custkey") == F.col("o_custkey"))
    l2 = l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    return (
        l2.join(
            o2,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("n_name", "revenue")
    )


def q13_distinct_users(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


def q14_hourly_window(spark, sf_dir):
    """Processing-time tumbling window aggregate (streaming wave analog)."""
    e = _t(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        e.groupBy(hour.alias("hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q15_dedup_exact_docs(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textdedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q16_doc_fingerprint(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textstats import with_fingerprint

    return with_fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


def q17_token_count(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textstats import with_token_count

    return with_token_count(_t(spark, sf_dir, "documents")).select("doc_id", "n_tokens")


def q18_text_quality(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textstats import with_quality

    return with_quality(_t(spark, sf_dir, "documents")).select(
        "doc_id", "alpha_ratio", "stopword_ratio", "mean_token_len", "quality"
    )


def q19_lang_pred(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textstats import with_lang_pred

    return with_lang_pred(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred")


def q20_minhash_lsh_pairs(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textdedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_par(_t(spark, sf_dir, "documents"), "doc_id"), num_perm=64)
    return minhash_lsh_pairs(sigs, bands=16, threshold=0.5, num_perm=64).select(
        "doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def q21_simhash_pairs(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textdedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )

    # radius 3 = the classic simhash dedup radius (Manku et al., WWW'07): 4
    # 16-bit bands give complete recall AND selective buckets. Larger radii are
    # supported (bands = r+1) but each band narrows to 64/(r+1) bits, so bucket
    # selectivity decays exponentially — at r=8 the candidate volume is ~50×.
    fps = simhash_fingerprints(_par(_t(spark, sf_dir, "documents"), "doc_id"))
    return simhash_near_pairs(fps, max_hamming=3)


def q22_ngram_jaccard(spark, sf_dir):
    from crawlingathome_worker_spark.operators.textdedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.4
    ).select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


def _query_vec(spark, sf_dir):
    row = (
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return list(row["embedding"])


def q23_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (TakeOrderedAndProject — no global sort)."""
    from crawlingathome_worker_spark.operators.similarity import brute_force_topk

    q = _query_vec(spark, sf_dir)
    # no _par here: at 20k embeddings the repartition exchange costs more than
    # the single-task cosine UDF saves (A/B: 0.33 s scan-direct vs 0.53 s
    # repartitioned at sf1.0) — the gemv batch is too cheap to amortize a hop
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    out = brute_force_topk(e, q, k=10)
    return out.select("vec_id", (F.round("cosine", 3) + F.lit(0.0)).alias("cosine"))


def q24_ann_lsh(spark, sf_dir):
    from crawlingathome_worker_spark.operators.similarity import lsh_bucketed_topk

    q = _query_vec(spark, sf_dir)
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    out = lsh_bucketed_topk(e, q, k=10, n_planes=10)
    return out.select("vec_id", (F.round("cosine", 3) + F.lit(0.0)).alias("cosine"))


def q25_embedding_norms(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    return (
        e.withColumn("norm", F.sqrt(sq))
        .groupBy("label")
        .agg(F.round(F.avg("norm"), 3).alias("avg_norm"), F.count(F.lit(1)).alias("n"))
    )


def q26_embedding_neardup(spark, sf_dir):
    """Banded multi-table LSH near-dup pairs (bounded buckets — the scale path)."""
    from crawlingathome_worker_spark.operators.similarity import knn_self_join

    e = _par(_t(spark, sf_dir, "embeddings"), "vec_id")
    out = knn_self_join(e, threshold=0.4, n_tables=4, bits_per_table=6, dim=64)
    return out.select("id_a", "id_b", (F.round("cosine", 3) + F.lit(0.0)).alias("cosine"))


# --- fixture-backed image/frontier ops (rows-only: no SQL equivalent) -------

def q27_image_decode(spark, sf_dir):
    """F10 batch decode plumbing: binary column → (fmt, w, h, ok) via mapInPandas."""
    from crawlingathome_worker_spark.operators.fetch import with_decoded

    pairs = spark.read.parquet(os.path.join(_fixtures(), "pairs.parquet"))
    return with_decoded(pairs.select("image_id", "bytes")).select(
        "image_id", "fmt_dec", "w_dec", "h_dec", "dec_ok"
    )


def q28_phash_groups(spark, sf_dir):
    """pHash near-dup groups over decoded images (north_rule M4)."""
    from crawlingathome_worker_spark.operators.fetch import with_decoded

    pairs = spark.read.parquet(os.path.join(_fixtures(), "pairs.parquet"))
    dec = with_decoded(pairs.select("image_id", "bytes")).filter(F.col("dec_ok"))
    return (
        dec.groupBy(F.col("phash"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("image_id").alias("keeper"))
        .filter(F.col("n") > 1)
    )


def q29_clip_scores(spark, sf_dir):
    """CLIP-proxy image×text scoring (decode + hashed text embed + cosine)."""
    from crawlingathome_worker_spark.functions.udfs import clip_score_udf, text_feature_udf
    from crawlingathome_worker_spark.operators.fetch import with_decoded

    pairs = spark.read.parquet(os.path.join(_fixtures(), "pairs.parquet"))
    dec = with_decoded(pairs.select("image_id", "bytes", "caption")).filter(F.col("dec_ok"))
    return dec.select(
        "image_id",
        (
            F.round(
                clip_score_udf(F.col("img_feat"), text_feature_udf(F.col("caption"))).cast(
                    "double"
                ),
                3,
            )
            + F.lit(0.0)
        ).alias("score"),
    )


def q31_phash_near_pairs(spark, sf_dir):
    """Banded-hamming pHash near-duplicate image pairs (bucket-local pair stage)."""
    from crawlingathome_worker_spark.operators.fetch import with_decoded
    from crawlingathome_worker_spark.operators.imagededup import phash_near_pairs

    pairs = spark.read.parquet(os.path.join(_fixtures(), "pairs.parquet"))
    dec = with_decoded(pairs.select("image_id", "bytes")).filter(F.col("dec_ok"))
    return phash_near_pairs(dec, max_hamming=3)


def q32_bpe_tokens(spark, sf_dir):
    """BPE-ish token-cost estimate (regex chunking, JVM-side)."""
    from crawlingathome_worker_spark.operators.textstats import with_bpe_estimate

    return with_bpe_estimate(_t(spark, sf_dir, "documents")).select("doc_id", "bpe_tokens")


def q33_image_resize(spark, sf_dir):
    """Multimodal: batch decode → resize → re-encode (real against the codec)."""
    from crawlingathome_worker_spark.operators.multimodal import resize_images

    # deterministic subset (a bare limit() picks arbitrary rows — engines differ)
    pairs = spark.read.parquet(os.path.join(_fixtures(), "pairs.parquet")).filter(
        F.col("image_id") < "img00000500"
    )
    out = resize_images(pairs.select("image_id", "bytes", "fmt"), 32, 32)
    return out.select("image_id", "fmt", "resized_ok", F.length("resized_bytes").alias("n_bytes"))


def q34_video_frames(spark, sf_dir):
    """Multimodal: row-expanding frame sampling (decode stubbed, plumbing real)."""
    from crawlingathome_worker_spark.operators.multimodal import sample_video_frames

    pairs = spark.read.parquet(os.path.join(_fixtures(), "pairs.parquet")).filter(
        F.col("image_id") < "img00000200"
    )
    out = sample_video_frames(pairs.select("image_id", "bytes"), n_frames=4)
    return out.select("image_id", "frame_idx")


def q35_ann_ivf(spark, sf_dir):
    """IVF ANN: coarse-quantize cells, probe nearest cells only."""
    from crawlingathome_worker_spark.operators.similarity import ivf_topk, train_ivf_centroids

    e = _t(spark, sf_dir, "embeddings")
    # bounded, order-insensitive training sample: at most 65536 rows reach the
    # driver (TakeOrderedAndProject), deterministic in vec_id order. At the
    # 10^10-vector design point pass sample_fraction≈1e-5 to pre-thin the scan.
    cents = train_ivf_centroids(e, n_cells=8, iters=8, max_train_rows=65536)
    q = _query_vec(spark, sf_dir)
    out = ivf_topk(e.filter(F.col("vec_id") != 0), cents, q, k=10, n_probe=3)
    return out.select("vec_id", (F.round("cosine", 3) + F.lit(0.0)).alias("cosine"))


def q36_seen_semijoin(spark, sf_dir):
    """LEFT SEMI — the dual of the seen anti-join (customers WITH orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
    ).select("c_custkey", "c_name")


def q37_frontier_set_ops(spark, sf_dir):
    """Set ops of the frontier merge: (waveA ∪ waveB) minus seen (EXCEPT)."""
    links = _links_view(spark, sf_dir)
    wave_a = links.filter(F.col("link_id") % 2 == 0).select("url")
    wave_b = links.filter(F.col("link_id") % 3 == 0).select("url")
    seen = links.filter(F.col("link_id") % 5 == 0).select("url")
    return wave_a.union(wave_b).distinct().exceptAll(seen.distinct()).select("url")


def q38_corpus_build(spark, sf_dir):
    """Composed training-data pipeline: exact-dedup (keep first) → language
    gate (en) → quality gate → per-doc token stats. The shape every LLM corpus
    build runs; each stage is an already-oracled operator, composed."""
    from crawlingathome_worker_spark.operators.textdedup import exact_dedup
    from crawlingathome_worker_spark.operators.textstats import (
        with_lang_pred,
        with_quality,
        with_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = exact_dedup(docs)
    kept = with_lang_pred(kept).filter(F.col("lang_pred") == "en")
    kept = with_quality(kept).filter(F.col("quality") >= 0.5)
    return with_token_count(kept).select("doc_id", "n_tokens", "quality")


def q39_neardup_drop(spark, sf_dir):
    """Near-dup REMOVAL decision from MinHash-LSH pairs: greedy keep-lowest-id
    (a doc is dropped iff some smaller-id doc estimates ≥ threshold against
    it). Greedy-by-id, not transitive closure — the standard single-pass rule
    (transitive chaining over-merges at corpus scale)."""
    from crawlingathome_worker_spark.operators.textdedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"), num_perm=64)
    pairs = minhash_lsh_pairs(sigs, bands=16, threshold=0.5, num_perm=64)
    return pairs.select(F.col("doc_b").alias("drop_id")).distinct()


def q40_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape: tight filter → single agg (pure scan-bound, the query
    whose plan must be ONE codegen span over a pushed-down scan)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q41_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS → left-semi join + count by priority (the
    synthetic lineitem has no commit/receipt dates, so the EXISTS predicate is
    'has a returned line' — same plan shape, semi join into a group-count)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q48_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape: 4-table star join (customer ⨝ orders ⨝ returned
    lineitem ⨝ broadcast nation) → revenue agg → top-20. The dims broadcast;
    the fact side shuffles once on its join key; top-k is
    TakeOrderedAndProject, never a global sort. Deterministic tiebreak on
    c_custkey so the LIMIT selection is well-defined in both engines."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.round(rev, 2) + F.lit(0.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q49_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape: fact ⨝ broadcast part under an OR-of-ANDs predicate
    (brand/size/quantity bands) → single agg. The disjunction stays inside
    one codegen span post-join; each disjunct's part-side conjuncts prune the
    broadcast build side."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    d1 = (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 15)
    d2 = (F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 25)
    d3 = (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 35)
    return j.filter(d1 | d2 | d3).agg(
        (F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2) + F.lit(0.0)).alias("revenue")
    )


def q50_stratified_sample(spark, sf_dir):
    """Exact stratified sampling (operators/sampling.py): per-language quotas
    (en 100, others 30) by seeded-md5 rank — the data-mixing step of a
    training-data build, deterministic across partitionings (pinned by
    tests/test_sampling.py). Oracle: the same rank in one SQL window."""
    from crawlingathome_worker_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    quotas = spark.createDataFrame(
        [(lang, 100 if lang == "en" else 30) for lang in sorted(langs)],
        "lang string, quota long",
    )
    return stratified_sample(docs, "lang", quotas, "doc_id").select("doc_id", "lang")


def q51_corpus_profile(spark, sf_dir):
    """Per-language corpus profile (operators/textstats.py corpus_profile,
    exact mode): count, mean, interpolated p50/p90 of document length —
    Spark's exact `percentile` bit-matches DuckDB's quantile_cont. The
    approx scale path (bounded-memory sketch) is pinned against this exact
    mode by tests/test_textops.py."""
    from crawlingathome_worker_spark.operators.textstats import corpus_profile

    docs = _t(spark, sf_dir, "documents")
    return corpus_profile(docs, "lang", "n_chars", percentiles=(0.5, 0.9)).select(
        "lang", "n", F.col("mean").alias("mean_chars"), "p50", "p90"
    )


def q42_wat_scan(spark, sf_dir):
    """S1/F1/F2/F3: RAW WAT text → link records through sources/wat.py
    (spark.read.text → contains("IMG@") prefilter → from_json explicit schema
    → posexplode). page_id is partition-layout-dependent (monotonic id), so
    the value contract is the layout-independent projection; page_url is
    unique per page in the fixture and carries the grouping."""
    from crawlingathome_worker_spark.sources.wat import read_wat_lines

    path = os.path.join(_fixtures(), "wat_lines.txt")
    return read_wat_lines(spark, path).select("page_url", "pos", "link_url", "alt")


def q43_dataset_finalize(spark, sf_dir):
    """Dataset finalization composition (plans/dataset.py — the downstream
    LAION-style stage the reference fed, README.md:8): decode → exact pHash
    dedup → banded near-dup collapse → caption MinHash-LSH dedup → CLIP-proxy
    score gate, over the fixture pairs with image_id as the keep-lowest key.
    The oracle is an independent brute-force re-derivation (no banding, no
    Spark) of the same greedy rules."""
    from crawlingathome_worker_spark.functions.udfs import clip_score_udf, text_feature_udf
    from crawlingathome_worker_spark.operators.fetch import with_decoded
    from crawlingathome_worker_spark.plans.dataset import finalize_pairs

    pairs = spark.read.parquet(os.path.join(_fixtures(), "pairs.parquet"))
    dec = with_decoded(pairs.select("image_id", "bytes", "caption")).filter(F.col("dec_ok"))
    raw = dec.select(
        "image_id",
        "phash",
        "caption",
        clip_score_udf(F.col("img_feat"), text_feature_udf(F.col("caption")))
        .cast("double")
        .alias("score"),
    )
    final = finalize_pairs(
        raw, id_col="image_id", score_threshold=0.05, caption_jaccard=0.8
    )["final"]
    return final.select(
        "image_id", "phash", (F.round("score", 3) + F.lit(0.0)).alias("score")
    )


def q44_streaming_hourly_finalized(spark, sf_dir):
    """Streaming watermark rollup RUN TO COMPLETION (streaming/windowed.py —
    VERDICT r4 item 2): readStream over the events table → 1-hour tumbling
    windows with a 1-hour event-time watermark → append-mode memory sink, so
    only windows the terminal watermark (max ts − 1 h) has passed emit. The
    oracle is the q14 batch aggregation restricted to exactly those finalized
    windows. Deterministic because the watermark after all data is processed
    is order-independent (a max), and Spark's no-data final micro-batch
    flushes every window the terminal watermark passed — the late-data
    semantics themselves are pinned by tests/test_streaming_window.py.

    The finalized windows (a few dozen rows) are collected into a local frame,
    so the memory sink's table and the checkpoint directory are removed
    before returning."""
    import shutil
    import tempfile
    import uuid

    from crawlingathome_worker_spark.streaming.windowed import hourly_event_counts_stream

    name = f"q44_sink_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="q44_ckpt_")
    # events.parquet is a single FILE in the testdata layout; the file stream
    # source requires its basePath to be a directory, so address it through a
    # character-class glob — basePath resolves to sf_dir, matches only events
    path = os.path.join(sf_dir, "events.parque[t]")
    try:
        q = (
            hourly_event_counts_stream(spark, path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        sink = spark.table(name)
        return spark.createDataFrame(sink.collect(), sink.schema)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def q45_robots_rules(spark, sf_dir):
    """Raw robots.txt bodies → gate-ready rules (RFC 9309 subset — completes
    the J6 chain head; VERDICT r4 item 8). Arrow-batched parse of the
    per-host dim table; arrays projected to a joined string + count so the
    driver's column-sorted value hash sees scalars. Golden oracle: an
    independently re-derived parser (tests/golden_queries.py g45) over the
    same fixture bodies, which render robots.parquet's known rules wrapped
    in formatting noise (comments, CRLF, decoy and stacked groups)."""
    from crawlingathome_worker_spark.operators.politeness import parse_robots_txt

    raw = spark.read.parquet(os.path.join(_fixtures(), "robots_txt.parquet"))
    rules = parse_robots_txt(raw, agent="cah-worker")
    return rules.select(
        "host",
        F.size("disallow_prefixes").alias("n_disallow"),
        F.concat_ws("\x1f", "disallow_prefixes").alias("disallow_joined"),
        "crawl_delay",
    )


def q46_hashband_components(spark, sf_dir):
    """Connected components (alternating large/small star —
    operators/components.py) over an exactly-SQL-expressible two-band
    hash-bucket graph: each document lands in one bucket per band
    (band-tagged md5-prefix — the multi-band LSH candidate-generator shape),
    buckets capped at 8 members, documents sharing a bucket are linked.
    Components CHAIN across bands, so the iterative contraction does real
    multi-round work (at sf0.01 the union percolates into one 473-doc giant
    plus satellites). The oracle is a DuckDB RECURSIVE CTE computing the
    same reachability closure — a full SQL value check of an iterative
    graph algorithm, integer/hex-exact end to end (md5 on identical bytes,
    no float boundary anywhere). The bucket-size cap bounds per-bucket
    fan-out exactly like the banded LSH joins' density caps: no hot bucket
    ever cartesians."""
    from crawlingathome_worker_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    keys = docs.select(
        "doc_id", F.concat(F.lit("1"), F.substring(F.md5("text"), 1, 2)).alias("k")
    ).union(
        docs.select(
            "doc_id",
            F.concat(
                F.lit("2"), F.substring(F.md5(F.concat(F.lit("x"), F.col("text"))), 1, 2)
            ).alias("k"),
        )
    )
    ok = (
        keys.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= 2) & (F.col("n") <= 8))
        .select("k")
    )
    t = keys.join(ok, "k")
    edges = (
        t.alias("x")
        .join(t.alias("y"), "k")
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    return _local_components(connected_components(edges))


def q47_neardup_components(spark, sf_dir):
    """Components over the engine's OWN MinHash-LSH near-dup pair graph (the
    q20 pairs) — the cluster step of transitive-safe corpus dedup. Golden
    oracle: union-find over the independently recomputed g20 pair list."""
    from crawlingathome_worker_spark.operators.components import connected_components

    pairs = q20_minhash_lsh_pairs(spark, sf_dir)
    return _local_components(connected_components(pairs, src="doc_a", dst="doc_b"))


def _local_components(comp: DataFrame) -> DataFrame:
    """The (doc_id, component) labels of a `connected_components` result,
    collected into a local frame (a few thousand rows at sf0.1) so the
    result's checkpoint is released before returning."""
    from crawlingathome_worker_spark.session import release_checkpoint

    labels = comp.select(F.col("node").alias("doc_id"), "component")
    try:
        return comp.sparkSession.createDataFrame(labels.collect(), labels.schema)
    finally:
        release_checkpoint(comp)


def q30_wave_flagship(spark, sf_dir):
    """Full frontier wave on the fixture WAT (parse→dedup→politeness→ids)."""
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.operators.parse import parse_links
    from crawlingathome_worker_spark.operators.politeness import politeness_split, robots_gate
    from crawlingathome_worker_spark.operators.schedule import assign_sample_ids

    fx = _fixtures()
    cfg = EngineConfig(default_host_budget=20, wave_seconds=30.0)
    links = spark.read.parquet(os.path.join(fx, "wat_links.parquet"))
    robots = spark.read.parquet(os.path.join(fx, "robots.parquet"))
    cands = parse_links(links, cfg)
    gated = robots_gate(cands, robots, cfg)
    scheduled, _ = politeness_split(gated, wave_no=1, cfg=cfg)
    out = assign_sample_ids(scheduled, start_id=0)
    return out.select("sample_id", "url", "host", "pair_md5")


# ---------------------------------------------------------------------------
# driver entry points
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: frontier scheduling over the synthesized URL view —
    blocklist → canonical dedup → per-host top-k → contiguous sample ids."""
    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.operators.politeness import politeness_split
    from crawlingathome_worker_spark.operators.schedule import assign_sample_ids

    sf_dir = "/root/testdata/sf0.001"
    links = (
        _links_view(spark, sf_dir)
        .withColumn("canonical_url", F.substring_index("url", "#", 1))
        .dropDuplicates(["canonical_url"])
        .withColumn("host_budget", F.lit(5).cast("long"))
    )
    scheduled, _ = politeness_split(links, wave_no=1, cfg=EngineConfig())
    return assign_sample_ids(scheduled, start_id=0).select("sample_id", "host", "url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_url_blocklist": q01_url_blocklist,
        "q02_license_asof": q02_license_asof,
        "q03_first_occurrence": q03_first_occurrence,
        "q04_seen_antijoin": q04_seen_antijoin,
        "q05_politeness_topk": q05_politeness_topk,
        "q06_pair_md5": q06_pair_md5,
        "q07_sample_ids": q07_sample_ids,
        "q08_canonical_dedup": q08_canonical_dedup,
        "q09_host_budget": q09_host_budget,
        "q10_tpch_q1": q10_tpch_q1,
        "q11_tpch_q3": q11_tpch_q3,
        "q12_tpch_q5": q12_tpch_q5,
        "q13_distinct_users": q13_distinct_users,
        "q14_hourly_window": q14_hourly_window,
        "q15_dedup_exact_docs": q15_dedup_exact_docs,
        "q16_doc_fingerprint": q16_doc_fingerprint,
        "q17_token_count": q17_token_count,
        "q18_text_quality": q18_text_quality,
        "q19_lang_pred": q19_lang_pred,
        "q20_minhash_lsh_pairs": q20_minhash_lsh_pairs,
        "q21_simhash_pairs": q21_simhash_pairs,
        "q22_ngram_jaccard": q22_ngram_jaccard,
        "q23_ann_topk": q23_ann_topk,
        "q24_ann_lsh": q24_ann_lsh,
        "q25_embedding_norms": q25_embedding_norms,
        "q26_embedding_neardup": q26_embedding_neardup,
        "q27_image_decode": q27_image_decode,
        "q28_phash_groups": q28_phash_groups,
        "q29_clip_scores": q29_clip_scores,
        "q30_wave_flagship": q30_wave_flagship,
        "q31_phash_near_pairs": q31_phash_near_pairs,
        "q32_bpe_tokens": q32_bpe_tokens,
        "q33_image_resize": q33_image_resize,
        "q34_video_frames": q34_video_frames,
        "q35_ann_ivf": q35_ann_ivf,
        "q36_seen_semijoin": q36_seen_semijoin,
        "q37_frontier_set_ops": q37_frontier_set_ops,
        "q38_corpus_build": q38_corpus_build,
        "q39_neardup_drop": q39_neardup_drop,
        "q40_tpch_q6": q40_tpch_q6,
        "q41_tpch_q4": q41_tpch_q4,
        "q42_wat_scan": q42_wat_scan,
        "q43_dataset_finalize": q43_dataset_finalize,
        "q44_streaming_hourly_finalized": q44_streaming_hourly_finalized,
        "q45_robots_rules": q45_robots_rules,
        "q46_hashband_components": q46_hashband_components,
        "q47_neardup_components": q47_neardup_components,
        "q48_tpch_q10": q48_tpch_q10,
        "q49_tpch_q19": q49_tpch_q19,
        "q50_stratified_sample": q50_stratified_sample,
        "q51_corpus_profile": q51_corpus_profile,
    }


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in _EN_STOP)
    return {
        "q01_url_blocklist": f"""
            WITH links AS ({_LINKS_SQL})
            SELECT link_id, url FROM links
            WHERE NOT (lower(url) LIKE '%.svg%' OR lower(url) LIKE '%.gif%'
                   OR lower(url) LIKE '%.ico%' OR lower(url) LIKE '%data:image%'
                   OR lower(url) LIKE '%javascript:%' OR lower(url) LIKE '%mailto:%')
              AND length(url) <= 2048
        """,
        "q02_license_asof": """
            SELECT event_id,
                   coalesce(last_value(CASE WHEN event_type = 'signup' THEN props END IGNORE NULLS)
                            OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), '?') AS license
            FROM events
        """,
        "q03_first_occurrence": """
            SELECT user_id, event_type, event_id AS first_event_id FROM (
              SELECT user_id, event_type, event_id,
                     row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "q04_seen_antijoin": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "q05_politeness_topk": f"""
            WITH links AS ({_LINKS_SQL}),
            pk AS (SELECT host, url, md5(url || '|w1|s42') AS priority_key FROM links),
            r AS (SELECT host, url,
                         row_number() OVER (PARTITION BY host ORDER BY priority_key, url) AS rn
                  FROM pk)
            SELECT host, url FROM r WHERE rn <= 3
        """,
        "q06_pair_md5": """
            SELECT c_custkey, md5(c_name || c_mktsegment) AS pair_md5 FROM customer
        """,
        "q07_sample_ids": """
            SELECT o_orderkey,
                   row_number() OVER (ORDER BY o_orderkey) AS sample_id
            FROM orders WHERE o_totalprice > 100.0
        """,
        "q08_canonical_dedup": f"""
            WITH links AS ({_LINKS_SQL})
            SELECT split_part(url, '#', 1) AS canonical_url, count(*) AS n
            FROM links GROUP BY 1
        """,
        "q09_host_budget": f"""
            WITH links AS ({_LINKS_SQL}),
            g AS (SELECT host, count(*) AS n_urls FROM links GROUP BY host)
            SELECT host, n_urls,
                   1 + CAST(regexp_extract(host, 'host(\\d+)\\.', 1) AS BIGINT) % 4 AS budget,
                   least(n_urls, 1 + CAST(regexp_extract(host, 'host(\\d+)\\.', 1) AS BIGINT) % 4) AS scheduled
            FROM g
        """,
        "q10_tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q11_tpch_q3": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, orderdate
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "q12_tpch_q5": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM region JOIN nation ON r_regionkey = n_regionkey
                        JOIN customer ON n_nationkey = c_nationkey
                        JOIN orders ON c_custkey = o_custkey
                        JOIN lineitem ON o_orderkey = l_orderkey
                        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q13_distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type
        """,
        "q14_hourly_window": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q15_dedup_exact_docs": """
            SELECT md5(text) AS fingerprint, min(doc_id) AS keeper, count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "q16_doc_fingerprint": """
            SELECT doc_id, md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "q17_token_count": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                   END AS n_tokens
            FROM documents
        """,
        "q18_text_quality": f"""
            WITH base AS (
              SELECT doc_id, text,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       / greatest(length(text), 1)::DOUBLE AS alpha,
                     len(list_filter(string_split(trim(text), ' '),
                                     x -> list_contains([{stop_list}], x)))
                       / greatest(len(string_split(trim(text), ' ')), 1)::DOUBLE AS stopr,
                     length(replace(trim(text), ' ', ''))
                       / greatest(len(string_split(trim(text), ' ')), 1)::DOUBLE AS mtl
              FROM documents)
            SELECT doc_id, round(alpha, 4) AS alpha_ratio, round(stopr, 4) AS stopword_ratio,
                   round(mtl, 4) AS mean_token_len,
                   round(least(1.0, 0.5 * stopr * 4 + 0.5 * alpha), 4) AS quality
            FROM base
        """,
        "q23_ann_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 3) + 0.0 AS cosine
            FROM embeddings WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) DESC, vec_id ASC
            LIMIT 10
        """,
        "q25_embedding_norms": """
            SELECT label,
                   round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 3) AS avg_norm,
                   count(*) AS n
            FROM embeddings GROUP BY label
        """,
        "q36_seen_semijoin": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "q37_frontier_set_ops": f"""
            WITH links AS ({_LINKS_SQL}),
            a AS (SELECT url FROM links WHERE link_id % 2 = 0),
            b AS (SELECT url FROM links WHERE link_id % 3 = 0),
            seen AS (SELECT DISTINCT url FROM links WHERE link_id % 5 = 0)
            SELECT url FROM (SELECT DISTINCT url FROM (SELECT * FROM a UNION ALL SELECT * FROM b))
            EXCEPT ALL SELECT url FROM seen
        """,
        # Composed pipelines: SQL stages expressed directly; the langid / LSH
        # stage reuses its golden parquet (mixed golden+SQL oracle).
        "q38_corpus_build": f"""
            WITH keep AS (
              SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM documents) WHERE rn = 1),
            lang AS (SELECT doc_id FROM read_parquet('{REPO}/golden/queries/q19.parquet')
                     WHERE lang_pred = 'en'),
            q AS (
              SELECT d.doc_id,
                     CASE WHEN trim(d.text) = '' THEN 0
                          ELSE length(trim(d.text)) - length(replace(trim(d.text), ' ', '')) + 1
                     END AS n_tokens,
                     round(least(1.0,
                       0.5 * (len(list_filter(string_split(trim(d.text), ' '),
                                              x -> list_contains([{", ".join(f"'{w}'" for w in _EN_STOP)}], x)))
                              / greatest(len(string_split(trim(d.text), ' ')), 1)::DOUBLE) * 4
                       + 0.5 * (length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g'))
                                / greatest(length(d.text), 1)::DOUBLE)), 4) AS quality
              FROM documents d
              JOIN keep USING (doc_id) JOIN lang USING (doc_id))
            SELECT doc_id, n_tokens, quality FROM q WHERE quality >= 0.5
        """,
        "q39_neardup_drop": f"""
            SELECT DISTINCT doc_b AS drop_id
            FROM read_parquet('{REPO}/golden/queries/q20.parquet')
        """,
        "q40_tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "q41_tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        # the q14 batch rollup restricted to windows the terminal watermark
        # (max ts - 1h) has PASSED: Spark finalizes a window when the
        # watermark reaches its end (window_end <= watermark emits)
        "q44_streaming_hourly_finalized": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                  <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
            GROUP BY 1, 2
        """,
        "q48_tpch_q10": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q49_tpch_q19": """
            SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 25)
               OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 35)
        """,
        "q50_stratified_sample": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '|s42'), doc_id
                     ) AS r
              FROM documents
            ) WHERE r <= CASE WHEN lang = 'en' THEN 100 ELSE 30 END
        """,
        "q51_corpus_profile": """
            SELECT lang, count(*) AS n,
                   round(avg(n_chars), 4) AS mean_chars,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90
            FROM documents GROUP BY lang
        """,
        # q46: connected components of the two-band hash-bucket graph — an
        # ITERATIVE graph algorithm with a full SQL oracle: DuckDB computes
        # the same reachability closure with a recursive CTE (symmetric
        # edges, min label over everything that reaches the node). md5 over
        # identical bytes in both engines — no float boundary anywhere.
        "q46_hashband_components": """
            WITH RECURSIVE
            keys AS (
              SELECT doc_id, '1' || substr(md5(text), 1, 2) AS k FROM documents
              UNION ALL
              SELECT doc_id, '2' || substr(md5('x' || text), 1, 2) FROM documents
            ),
            ok AS (SELECT k FROM keys GROUP BY k HAVING count(*) BETWEEN 2 AND 8),
            edges AS (
              SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
              FROM keys a JOIN ok USING (k) JOIN keys b USING (k)
              WHERE a.doc_id <> b.doc_id
            ),
            walk(node, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.v, w.lab FROM walk w JOIN edges e ON e.u = w.node
            )
            SELECT node AS doc_id, min(lab) AS component FROM walk GROUP BY node
        """,
        # q19-q22, q24, q26-q35, q42/q43/q45/q47: UDF/LSH/image/parser ops have no direct SQL form; their
        # oracles are GOLDEN PARQUET files computed by an independent non-Spark
        # implementation (tests/golden_queries.py — brute-force pair finding,
        # plain-int hashing, shared pinned semantic modules). DuckDB value-checks
        # the Spark result against them. Regenerate after intentional semantic
        # changes: python -m tests.gen_query_goldens
        **{
            q: f"SELECT * FROM read_parquet('{REPO}/golden/queries/{q.split('_')[0]}.parquet')"
            for q in (
                "q19_lang_pred",
                "q20_minhash_lsh_pairs",
                "q21_simhash_pairs",
                "q22_ngram_jaccard",
                "q24_ann_lsh",
                "q26_embedding_neardup",
                "q27_image_decode",
                "q28_phash_groups",
                "q29_clip_scores",
                "q30_wave_flagship",
                "q31_phash_near_pairs",
                "q32_bpe_tokens",
                "q33_image_resize",
                "q34_video_frames",
                "q35_ann_ivf",
                "q42_wat_scan",
                "q43_dataset_finalize",
                "q45_robots_rules",
                "q47_neardup_components",
            )
        },
    }
