"""Parse stage: WAT link records → deduplicated candidate pairs.

Re-expresses /root/reference/crawlingathome.py:37-96 (parse_wat) as one declarative
DataFrame plan. Operator map (SURVEY.md §2.2-2.4):

  F4 license attach   → last(ignorenulls) window over (page, pos)  [B4 semantics]
  F5 alt filter       → isNotNull & != ""
  T2 caption norm     → pandas UDF (ftfy stand-in)
  F8 en-only          → pandas UDF langid
  T3 absolutize       → pandas UDF urljoin
  T4 pair hash        → builtin md5(concat) — bit-identical to the reference
  F6 blocklist        → lower(url) contains any-of (substring semantics, not suffix)
  F7 length           → length(url) <= 2048
  J1 first-occurrence → row_number over (url) ordered by document position
  T6 canonicalize     → pandas UDF (north_rule)

Filter order is kept cheap-before-expensive exactly as the reference hand-ordered
it (SURVEY.md §4); Catalyst will not reorder across the non-deterministic-looking
pandas UDFs, which is what we want.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..config import EngineConfig
from ..functions.langid import detect_lang
from ..functions.textfix import normalize_caption
from ..functions.urls import absolutize, canonicalize, host_of

CANDIDATE_COLS = [
    "url",
    "canonical_url",
    "host",
    "caption",
    "license",
    "pair_md5",
    "image_id",
    "page_id",
    "pos",
]

# F6 parse-stage blocklist — exact substrings from crawlingathome.py:40
BLOCKLIST = (".svg", ".gif", ".ico", "data:image", "javascript:", "mailto:")
MAX_URL_LEN = 2048  # F7, crawlingathome.py:74
# Simulation shim: with no live network, a fetch is a join against the pairs
# table on image_id. When the input (raw WAT lines) carries no image_id column,
# it is recovered from the URL path by this regex — the stand-in for "the URL
# identifies the image you GET".
IMAGE_ID_REGEX = r"(img\d{8})"


def parse_links(links: DataFrame, cfg: EngineConfig) -> DataFrame:
    """links: (page_id, page_url, pos, link_url, alt, image_id?) → candidates.

    Document order is (page_id, pos) — the materialized equivalent of the
    reference's sequential line/link scan (SURVEY.md §2.4 J1). Every rule is
    fixed reference semantics; `cfg` is the wave's config, which this stage
    does not read.
    """
    derive_image_id = "image_id" not in links.columns
    if derive_image_id:
        links = links.withColumn("image_id", F.lit(None).cast("string"))

    # F4: a CC-license link applies to itself and all *later* links on the page;
    # links before the first CC link get "?" (crawlingathome.py:48-52, bug/space B4).
    w_page = (
        Window.partitionBy("page_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cc = F.when(
        F.col("link_url").contains("creativecommons.org/licenses/"), F.col("link_url")
    )
    df = links.withColumn(
        "license", F.coalesce(F.last(cc, ignorenulls=True).over(w_page), F.lit("?"))
    )

    # F5 (crawlingathome.py:53-54)
    df = df.filter(F.col("alt").isNotNull() & (F.col("alt") != ""))
    # T2 + F8 + T3 + T6 + host in ONE fused Arrow pass (one Python round-trip
    # instead of five chained pandas UDFs — the string semantics are identical,
    # the modules are the same ones tests/oracle.py imports)
    df = _enrich(df)
    df = df.filter(F.col("lang") == "en").drop("lang")  # F8 (crawlingathome.py:58-63)
    # T4 (crawlingathome.py:68) — JVM-side md5 over UTF-8 bytes, bit-identical
    df = df.withColumn("pair_md5", F.md5(F.concat(F.col("url"), F.col("caption"))))
    # F6 substring blocklist (crawlingathome.py:40, 71-73) + F7 length (74)
    low = F.lower(F.col("url"))
    blocked = reduce(or_, [low.contains(b) for b in BLOCKLIST])
    df = df.filter(~blocked).filter(F.length(F.col("url")) <= MAX_URL_LEN)

    # J1: global first-occurrence-wins on the raw absolutized url, in document
    # order (crawlingathome.py:39, 74, 77).
    w_url = Window.partitionBy("url").orderBy("page_id", "pos")
    df = (
        df.withColumn("_rn", F.row_number().over(w_url))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if derive_image_id:
        # raw-WAT inputs carry no FK — recover it from the URL (simulated-fetch
        # shim, see IMAGE_ID_REGEX); no match ⇒ null ⇒ fetch error
        df = df.withColumn(
            "image_id", F.nullif(F.regexp_extract("url", IMAGE_ID_REGEX, 1), F.lit(""))
        )
    return df.select(*CANDIDATE_COLS)


_ENRICH_STRUCT = StructType(
    [
        StructField("caption", StringType()),
        StructField("lang", StringType()),
        StructField("url", StringType()),
        StructField("canonical_url", StringType()),
        StructField("host", StringType()),
    ]
)


def _enrich(df: DataFrame) -> DataFrame:
    """Fused T2/F8/T3/T6 string pass: caption normalize, language id, urljoin
    absolutize, canonicalize, host — ONE struct-returning pandas UDF, so only
    (page_url, link_url, alt) cross into Python and only the result struct
    comes back (the JVM zips it onto the original rows)."""

    @F.pandas_udf(_ENRICH_STRUCT)
    def enrich_udf(page_url: pd.Series, link_url: pd.Series, alt: pd.Series) -> pd.DataFrame:
        caps, langs, urls, canons, hosts = [], [], [], [], []
        for p, lu, a in zip(page_url, link_url, alt):
            cap = normalize_caption(a)  # crawlingathome.py:56
            caps.append(cap)
            langs.append(detect_lang(cap))  # :58-63
            u = absolutize(p, lu)  # :47, 66-67
            urls.append(u)
            canons.append(canonicalize(u))  # north_rule T6
            hosts.append(host_of(u))
        return pd.DataFrame(
            {"caption": caps, "lang": langs, "url": urls, "canonical_url": canons, "host": hosts}
        )

    # asNondeterministic: stops Catalyst from splitting/duplicating the UDF when
    # it pushes the downstream lang-filter through the projection (observed: two
    # ArrowEvalPython nodes evaluating the same enrich over every row).
    enrich_nd = enrich_udf.asNondeterministic()
    out = df.withColumn(
        "_enr", enrich_nd(F.col("page_url"), F.col("link_url"), F.col("alt"))
    )
    return out.select("*", "_enr.*").drop("_enr")
