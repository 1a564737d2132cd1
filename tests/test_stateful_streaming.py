"""applyInPandasWithState quota limiter: state must persist ACROSS triggers —
a host that used its quota in trigger 1 gets nothing in trigger 2."""

import json
import os

from pyspark.sql import functions as F

from crawlingathome_worker_spark.streaming.stateful import host_quota_limiter

QUOTA = 3


def _write_batch(dirpath, fname, rows, mtime):
    path = os.path.join(dirpath, fname)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))  # file source orders by modification time


def test_host_quota_across_triggers(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    # trigger 1: hostA sends 2 (under quota), hostB sends 5 (over quota)
    _write_batch(
        src,
        "b0.json",
        [
            {"host": h, "url": f"http://{h}/{i}", "priority_key": f"{i:02d}"}
            for h, n in (("a.com", 2), ("b.com", 5))
            for i in range(n)
        ],
        mtime=1_000_000_000,
    )
    # trigger 2: both send 4 more — a.com has 1 quota left, b.com has 0
    _write_batch(
        src,
        "b1.json",
        [
            {"host": h, "url": f"http://{h}/x{i}", "priority_key": f"9{i}"}
            for h in ("a.com", "b.com")
            for i in range(4)
        ],
        mtime=1_000_000_100,
    )

    schema = "host string, url string, priority_key string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    limited = host_quota_limiter(stream, quota=QUOTA)
    q = (
        limited.writeStream.format("memory")
        .queryName("quota_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.sql("SELECT * FROM quota_out").collect()
    per_host: dict[str, list[str]] = {}
    for r in rows:
        per_host.setdefault(r["host"], []).append(r["url"])
    # cumulative cap respected across BOTH triggers
    assert len(per_host["a.com"]) == QUOTA  # 2 in t1 + 1 in t2
    assert len(per_host["b.com"]) == QUOTA  # 3 in t1, 0 in t2
    # ordering: the t1 b.com rows admitted are the lowest priority keys
    assert {u.rsplit("/", 1)[1] for u in per_host["b.com"]} == {"0", "1", "2"}
    # t2 admitted exactly one a.com row
    assert sum(1 for u in per_host["a.com"] if "/x" in u) == 1

