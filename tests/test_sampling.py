"""stratified_sample (operators/sampling.py): exact quotas, deterministic
membership, two-phase ≡ naive single window (decomposability pin, same
contract as the politeness top-k)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlingathome_worker_spark.operators.sampling import stratified_sample

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet"))


def _quotas(spark, rows):
    return spark.createDataFrame(rows, "lang string, quota long")


def test_exact_quota_counts(spark):
    docs = _docs(spark)
    q = _quotas(spark, [("en", 100), ("de", 30), ("fr", 1000), ("xx", 5)])
    out = stratified_sample(docs, "lang", q, "doc_id")
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # exact quota, capped by stratum size; strata without a quota row dropped
    assert got == {"en": 100, "de": 30, "fr": min(1000, sizes["fr"])}


def test_membership_is_partitioning_invariant(spark):
    docs = _docs(spark)
    q = _quotas(spark, [("en", 50), ("es", 20)])
    a = {r["doc_id"] for r in stratified_sample(docs, "lang", q, "doc_id").collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample(docs.repartition(7), "lang", q, "doc_id").collect()
    }
    assert a == b and len(a) == 70


def test_two_phase_equals_naive_single_window(spark):
    docs = _docs(spark)
    q = _quotas(spark, [("en", 77), ("zh", 13), ("de", 30)])
    two = {r["doc_id"] for r in stratified_sample(docs, "lang", q, "doc_id").collect()}
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|s42")))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    naive = (
        docs.join(F.broadcast(q), "lang")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= F.col("quota"))
    )
    assert two == {r["doc_id"] for r in naive.collect()}


def test_seed_changes_membership_not_counts(spark):
    docs = _docs(spark)
    q = _quotas(spark, [("en", 60)])
    a = {r["doc_id"] for r in stratified_sample(docs, "lang", q, "doc_id", seed=1).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs, "lang", q, "doc_id", seed=2).collect()}
    assert len(a) == len(b) == 60 and a != b


def test_input_columns_survive_or_collision_is_refused(spark):
    """Column-collision guard: an input `quota` column comes back unchanged
    (same membership as without it, input column order kept); an input that
    carries one of the operator's private columns is refused by name instead
    of being silently overwritten or dropped."""
    docs = _docs(spark)
    q = _quotas(spark, [("en", 40), ("de", 10)])
    plain = {r["doc_id"] for r in stratified_sample(docs, "lang", q, "doc_id").collect()}
    with_quota = docs.withColumn("quota", F.lit(-7).cast("long"))
    out = stratified_sample(with_quota, "lang", q, "doc_id")
    assert out.columns == with_quota.columns
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == plain and len(plain) == 50
    assert {r["quota"] for r in rows} == {-7}
    for col in ("_k", "_quota", "_salt", "_r1", "_r2"):
        with pytest.raises(ValueError, match=col):
            stratified_sample(docs.withColumn(col, F.lit(1)), "lang", q, "doc_id")
