"""Fetch + decode stage: simulated HTTP GET, batch image decode, content filters.

The reference fetches with a 192-connection async session and validates via PIL
(crawlingathome.py:118-155, 99-115). In-sandbox there is no live network: the
"web" is the `pairs` table, and a fetch is a LEFT JOIN scheduled→pairs on
image_id (SURVEY.md §2.6 backpressure row). A missing/null match is a network
failure (retryable, north_rule cuckoo slot); content rejections (too small /
undecodable / wrong format / low score) are permanent, exactly partitioning the
reference's silent `return None` paths into observable statuses.

Decode runs once per image inside a STRUCT-returning Arrow-batched pandas UDF
and yields width/height/format/ok AND the pHash + 64-d image feature + the
CLIP-proxy score in the same pass ("decode once, reuse for everything" —
SURVEY.md §2.7). Only the bytes+caption columns cross into Python; the struct
comes back and the JVM zips it onto the original rows, so the multi-GB binary
column never round-trips. The per-image loop inside the batch is the
img2dataset pattern: each iteration is whole-image numpy work, and there is no
Spark row-at-a-time Python anywhere (asserted in tests/test_plans.py).

Statuses: ok | error | too_small | undecodable | bad_format | low_score
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import fakeimg, phash
from ..config import EngineConfig

MIN_IMAGE_BYTES = 5000  # F9, crawlingathome.py:103
ALLOWED_FORMATS = ("JPEG", "PNG", "WEBP")  # crawlingathome.py:110
# CLIP-proxy score gate of the wave (deterministic stub scorer, see
# functions/udfs.py). -1.0 keeps every decoded image: the reference project
# applied its CLIP threshold downstream, which plans/dataset.py's
# score_threshold reproduces.
CLIP_THRESHOLD = -1.0

_DECODE_STRUCT = StructType(
    [
        StructField("w_dec", IntegerType()),
        StructField("h_dec", IntegerType()),
        StructField("fmt_dec", StringType()),
        StructField("dec_ok", BooleanType()),
        StructField("phash", LongType()),
        StructField("img_feat", ArrayType(FloatType())),
    ]
)
_DECODE_SCORE_STRUCT = StructType(
    list(_DECODE_STRUCT.fields) + [StructField("score", FloatType())]
)


def simulated_fetch(scheduled: DataFrame, pairs: DataFrame) -> DataFrame:
    """LEFT JOIN on image_id stands in for the HTTP GET (crawlingathome.py:134).

    `pairs` may be huge at design scale — this join shuffles both sides on
    image_id (sort-merge / shuffled-hash, Catalyst's choice + AQE); scheduled is
    the small side after politeness, so AQE usually demotes it to broadcast.

    Data contract: `pairs` is unique per image_id (one body per URL — the
    reference fetches each URL once). A duplicate key would fan this join out,
    duplicating sample_ids in the output and inflating the wave's scheduled
    count; dedupe the bytes source at ingest if that can ever occur.
    """
    return scheduled.join(pairs.select("image_id", "bytes"), "image_id", "left")


def with_decoded(
    df: DataFrame, bytes_col: str = "bytes", caption_col: str | None = None
) -> DataFrame:
    """Batch-decode `bytes_col` → w_dec/h_dec/fmt_dec/dec_ok/phash/img_feat,
    plus the CLIP-proxy `score` of the image against `caption_col` when one is
    given (null for a null caption or an undecodable image).

    Implemented as a STRUCT-returning scalar pandas UDF, not mapInPandas: with
    ArrowEvalPython only the INPUT columns (the image bytes, the caption) cross
    into Python and only the small metadata struct comes back — the JVM keeps
    the original rows and zips the result positionally. A mapInPandas version
    would echo the multi-GB bytes column back out of Python, doubling Arrow
    traffic (measured ~1.9× slower at 32 cores on the 200k-image fixture).
    Scoring in the same pass ("decode once, reuse for everything") saves the
    wave two ArrowEvalPython stage barriers over chaining text_feature_udf →
    clip_score_udf — per-stage latency is the constant that caps small-wave
    scaling (BENCH/BASELINE.md)."""
    from ..functions.udfs import clip_proxy_score, text_feature

    def decode(col: pd.Series, caps: pd.Series | None) -> pd.DataFrame:
        n = len(col)
        w = [0] * n
        h = [0] * n
        fmt: list[str | None] = [None] * n
        ok = [False] * n
        ph: list[int | None] = [None] * n
        feat: list[list[float] | None] = [None] * n
        score: list[float | None] = [None] * n
        for i in range(n):
            b = col.iat[i]
            if b is None:
                continue
            dec = fakeimg.decode(bytes(b))
            if dec is None:
                continue
            f0, w0, h0, img = dec
            fmt[i], w[i], h[i], ok[i] = f0, w0, h0, True
            ph[i] = phash.phash64(img)
            fv = phash.image_feature(img)
            feat[i] = fv.tolist()
            if caps is not None and caps.iat[i] is not None:
                score[i] = clip_proxy_score(fv, text_feature(caps.iat[i]))
        out = {
            "w_dec": pd.array(w, dtype="int32"),
            "h_dec": pd.array(h, dtype="int32"),
            "fmt_dec": fmt,
            "dec_ok": ok,
            "phash": pd.array(ph, dtype="Int64"),
            "img_feat": feat,
        }
        if caps is not None:
            out["score"] = pd.array(score, dtype="float32")
        return pd.DataFrame(out)

    # the UDF's name is what plans print, so each shape keeps its own
    if caption_col is None:
        def decode_udf(col: pd.Series) -> pd.DataFrame:
            return decode(col, None)

        udf = F.pandas_udf(decode_udf, _DECODE_STRUCT)
        args = [F.col(bytes_col)]
    else:
        def decode_score_udf(col: pd.Series, caps: pd.Series) -> pd.DataFrame:
            return decode(col, caps)

        udf = F.pandas_udf(decode_score_udf, _DECODE_SCORE_STRUCT)
        args = [F.col(bytes_col), F.col(caption_col)]
    # asNondeterministic: one decode per row, ever — Catalyst must not duplicate
    # the evaluation when downstream filters/projections reference struct fields.
    dec = df.withColumn("_dec", udf.asNondeterministic()(*args))
    return dec.select("*", "_dec.*").drop("_dec")


def classify_and_score(fetched: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Attach fetch status + CLIP-proxy score to every scheduled row.

    Mirrors process_img_content's rejection ladder (crawlingathome.py:99-115) with
    the reference's exact thresholds, then the CLIP-similarity gate the project
    ran downstream (README.md:8) as a deterministic proxy scorer. `cfg` is
    the wave's config, which this stage does not read.
    """
    decoded = with_decoded(fetched, caption_col="caption")
    status = (
        F.when(F.col("bytes").isNull(), F.lit("error"))  # network failure → retryable
        .when(F.length(F.col("bytes")) < MIN_IMAGE_BYTES, F.lit("too_small"))  # F9 :103
        .when(~F.col("dec_ok"), F.lit("undecodable"))  # F10 decode :106
        .when(~F.col("fmt_dec").isin(*ALLOWED_FORMATS), F.lit("bad_format"))  # :110
        .when(F.col("score") < F.lit(CLIP_THRESHOLD), F.lit("low_score"))
        .otherwise(F.lit("ok"))
    )
    return decoded.withColumn("fetch_status", status)


def output_rows(classified: DataFrame) -> DataFrame:
    """Rows that survived everything, in the input_hint schema (+ provenance).

    w/h/fmt come from the DECODE (crawlingathome.py:107-108 records PIL's
    dimensions), not from any source-table metadata.
    """
    return classified.filter(F.col("fetch_status") == "ok").select(
        F.col("image_id"),
        F.col("bytes"),
        F.col("w_dec").alias("w"),
        F.col("h_dec").alias("h"),
        F.col("fmt_dec").alias("fmt"),
        F.col("caption"),
        F.col("phash"),
        F.col("sample_id"),
        F.col("url"),
        F.col("license"),
        F.col("score"),
    )
