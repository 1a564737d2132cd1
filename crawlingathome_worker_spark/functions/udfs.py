"""Vectorized (Arrow-batched) pandas UDFs wrapping the shared semantics modules.

Zero row-at-a-time Spark Python UDFs anywhere in the engine (input_hint mandate):
every Python boundary is a pandas UDF / mapInPandas over Arrow batches. String
semantics that Spark builtins cannot reproduce exactly (urljoin RFC 3986, ftfy-style
repair, printable-class filtering — SURVEY.md §2.3 T1-T3, §2.7) live here; everything
else (md5, lower, length, contains, explode, windows) stays JVM-side in
whole-stage-codegen.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, StringType

from .langid import detect_lang
from .textfix import normalize_caption
from .urls import absolutize, canonicalize, host_of


@pandas_udf(StringType())
def normalize_caption_udf(alt: pd.Series) -> pd.Series:
    """T2: newline-flatten + fix_text + strip (crawlingathome.py:56)."""
    return alt.map(normalize_caption, na_action="ignore")


@pandas_udf(StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    """F8: language id with printable-retry semantics (crawlingathome.py:58-63)."""
    return text.map(detect_lang, na_action="ignore")


@pandas_udf(StringType())
def absolutize_udf(page_url: pd.Series, link_url: pd.Series) -> pd.Series:
    """T3: urljoin(dirname(page_url), url) when not http-prefixed
    (crawlingathome.py:47, 66-67)."""
    out = [
        absolutize(p, u) if isinstance(u, str) and isinstance(p, str) else None
        for p, u in zip(page_url, link_url)
    ]
    return pd.Series(out, index=link_url.index)


@pandas_udf(StringType())
def canonicalize_udf(url: pd.Series) -> pd.Series:
    """T6 (north_rule): RFC 3986 canonical form."""
    return url.map(canonicalize, na_action="ignore")


@pandas_udf(StringType())
def host_udf(url: pd.Series) -> pd.Series:
    """Lowercase hostname (politeness partitioning key)."""
    return url.map(host_of, na_action="ignore")


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
