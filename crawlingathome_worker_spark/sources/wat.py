"""WAT source: raw newline-delimited JSON → structured link records.

Re-expresses the reference's line scan + JSON extraction (S1/F1/F2/F3,
crawlingathome.py:37-49) as a declarative plan:

  spark.read.text → contains("IMG@") prefilter → from_json(explicit schema)
  → posexplode(Links)

The "IMG@" substring filter runs on the RAW line BEFORE from_json — the manual
predicate-pushdown the reference hand-placed (crawlingathome.py:43); written in
this order, Catalyst pushes it into the text scan and the JSON parser never sees
non-image pages (SURVEY.md §4 row 1). A WAT shard at Common Crawl scale is ~1 GB
text with ~60% non-IMG lines, so this filter is load-bearing.

No file-sharding stage exists (S3): Spark's input splitting
(spark.sql.files.maxPartitionBytes) subsumes the reference's wc/head/tail
2-shard split (crawlingathome.py:165-174).

Compression note for the .gz path: gzip is NOT splittable, so a .wat.gz file
is one input task regardless of maxPartitionBytes. That matches Common Crawl's
layout — a crawl is ~64k files of ~1 GB each, so file-count parallelism
saturates any cluster size this engine targets; per-file splitting only
matters for uncompressed or bzip2/zstd-seekable inputs, which the same
spark.read.text path handles with byte-range splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

# Explicit nested schema for the WAT Envelope (D1, SURVEY.md §1.1) — only the
# fields the pipeline projects; everything else is pruned at parse time.
LINK_STRUCT = StructType(
    [
        StructField("url", StringType()),
        StructField("alt", StringType()),
        StructField("path", StringType()),
    ]
)
WAT_SCHEMA = StructType(
    [
        StructField(
            "Envelope",
            StructType(
                [
                    StructField(
                        "WARC-Header-Metadata",
                        StructType([StructField("WARC-Target-URI", StringType())]),
                    ),
                    StructField(
                        "Payload-Metadata",
                        StructType(
                            [
                                StructField(
                                    "HTTP-Response-Metadata",
                                    StructType(
                                        [
                                            StructField(
                                                "HTML-Metadata",
                                                StructType(
                                                    [
                                                        StructField(
                                                            "Links", ArrayType(LINK_STRUCT)
                                                        )
                                                    ]
                                                ),
                                            )
                                        ]
                                    ),
                                )
                            ]
                        ),
                    ),
                ]
            ),
        )
    ]
)


def read_wat_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw WAT text file(s) at `path` → link records (see wat_lines_to_links)."""
    return wat_lines_to_links(spark.read.text(path))


def wat_lines_to_links(lines: DataFrame) -> DataFrame:
    """Raw WAT lines (a `value` string column, batch or streaming micro-batch)
    → (page_id, page_url, pos, link_url, alt) link records.

    page_id is the line's monotonic file position (document order, J1's ordering
    key). Lines without "IMG@" or without a parseable Links array are dropped,
    exactly like the reference's prefilter + try/except (crawlingathome.py:43,
    58-61, 70-79).
    """
    pages = (
        lines.filter(F.col("value").contains("IMG@"))  # F1 — before from_json
        .withColumn("page_id", F.monotonically_increasing_id())
        .select("page_id", F.from_json(F.col("value"), WAT_SCHEMA).alias("j"))
        .select(
            "page_id",
            F.col("j.Envelope.WARC-Header-Metadata.WARC-Target-URI").alias("page_url"),
            F.col("j.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Links").alias(
                "links"
            ),
        )
    )
    return (
        pages.filter(F.col("page_url").isNotNull() & F.col("links").isNotNull())
        .select("page_id", "page_url", F.posexplode("links").alias("pos", "link"))
        .select(
            "page_id",
            "page_url",
            F.col("pos").cast("int").alias("pos"),
            F.col("link.url").alias("link_url"),
            F.col("link.alt").alias("alt"),
        )
        .filter(F.col("link_url").isNotNull())
    )
