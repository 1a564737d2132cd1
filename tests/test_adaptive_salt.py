"""Two-phase salted top-k (operators/politeness.py::two_phase_topk): the
salted per-host schedule is exactly the naive single-window one."""

from pyspark.sql import functions as F

from crawlingathome_worker_spark.config import EngineConfig
from crawlingathome_worker_spark.operators.politeness import politeness_split


def test_two_phase_topk_equals_naive_single_window(spark):
    """Decomposability pin: the two-phase salted top-k must select EXACTLY the
    set a naive single per-host window would — on a random skewed frame with
    duplicate urls and per-host budgets (the property that makes the hot-host
    optimization an optimization and not a semantics change)."""
    import numpy as np
    from pyspark.sql import Window

    rng = np.random.default_rng(123)
    # host_budget must be host-constant (politeness_split's contract — it is a
    # robots-derived property of the HOST; per-row budgets break top-k
    # decomposability because dropped rows would still consume naive ranks)
    budgets = {f"h{i}.com": int(rng.integers(1, 6)) for i in range(12)}
    rows = []
    for i in range(4000):
        host = f"h{int(rng.zipf(1.6)) % 12}.com"
        url = f"http://{host}/p{int(rng.integers(0, 3000))}"  # collisions on purpose
        rows.append((url, host, budgets[host]))
    df = spark.createDataFrame(rows, "url string, host string, host_budget long")

    cfg = EngineConfig()
    scheduled, deferred = politeness_split(df, wave_no=3, cfg=cfg)
    got = sorted((r["host"], r["url"]) for r in scheduled.collect())

    from crawlingathome_worker_spark.operators.politeness import with_priority

    naive = with_priority(df, 3)
    w = Window.partitionBy("host").orderBy("priority_key", "url")
    want = sorted(
        (r["host"], r["url"])
        for r in naive.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("host_budget"))
        .collect()
    )
    assert got == want
    # and the split is a partition: scheduled + deferred = input (multiset)
    assert scheduled.count() + deferred.count() == df.count()
