"""Vectorized (Arrow-batched) pandas UDFs wrapping the shared semantics modules.

Zero row-at-a-time Spark Python UDFs anywhere in the engine (input_hint mandate):
every Python boundary is a pandas UDF / mapInPandas over Arrow batches. The parse
stage's string semantics (urljoin RFC 3986, ftfy-style repair, canonical form,
host — SURVEY.md §2.3 T1-T3, §2.7) run in ONE fused UDF, operators/parse.py
`_enrich`; this module holds the column UDFs other operators share: language id
and the CLIP-proxy text feature and score. Everything else (md5, lower, length,
contains, explode, windows) stays JVM-side in whole-stage-codegen.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, StringType

from .langid import detect_lang


@pandas_udf(StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    """F8: language id with printable-retry semantics (crawlingathome.py:58-63)."""
    return text.map(detect_lang, na_action="ignore")


# ---------------------------------------------------------------------------
# CLIP-proxy text embedding: hashed bag-of-tokens into 64 dims, L2-normalized.
# Real CLIP ran in a separate GPU worker in the reference project (README.md:8);
# here the embedding is a deterministic stub but the dataflow (Arrow batches,
# cosine against the image feature) is the real shape.
# ---------------------------------------------------------------------------

_DIM = 64


def text_feature(text: str) -> np.ndarray:
    """Deterministic 64-d hashed-token embedding (shared with the oracle)."""
    vec = np.zeros(_DIM, dtype=np.float64)
    for tok in text.lower().split():
        d = hashlib.md5(tok.encode("utf-8")).digest()
        bucket = d[0] % _DIM
        sign = 1.0 if d[1] & 1 else -1.0
        vec[bucket] += sign
    n = np.linalg.norm(vec)
    return (vec / n if n > 0 else vec).astype(np.float32)


@pandas_udf(ArrayType(FloatType()))
def text_feature_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: text_feature(t).tolist(), na_action="ignore")


def clip_proxy_score(img_feat: np.ndarray, txt_feat: np.ndarray) -> float:
    """Cosine similarity between the stub image/text embeddings."""
    return float(np.dot(img_feat, txt_feat))


@pandas_udf(FloatType())
def clip_score_udf(img_feat: pd.Series, txt_feat: pd.Series) -> pd.Series:
    """Per-row `clip_proxy_score` over float32 features (a null side scores 0).
    One formula everywhere: a batched einsum sums in a different order than
    np.dot and drifts by a few ulps, enough to flip a rounded score."""
    return pd.Series(
        [
            clip_proxy_score(np.asarray(a, np.float32), np.asarray(b, np.float32))
            if a is not None and b is not None
            else 0.0
            for a, b in zip(img_feat, txt_feat)
        ],
        dtype="float32",
    )
