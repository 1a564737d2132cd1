"""Single-process oracle: the reference pipeline semantics in plain Python.

Lifted op-by-op from /root/reference/crawlingathome.py (citations inline) plus the
north_rule extensions, using THE SAME shared semantic modules as the Spark engine
(textfix/langid/urls/fakeimg/phash/udfs.text_feature) — so caption byte-equality
and pixel invariants are exact by construction, and any engine/oracle diff is a
real dataflow bug, not a library-version artifact (SURVEY.md §5.1).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field, replace

from crawlingathome_worker_spark import fakeimg, phash
from crawlingathome_worker_spark.config import EngineConfig
from crawlingathome_worker_spark.functions.langid import detect_lang
from crawlingathome_worker_spark.functions.textfix import normalize_caption
from crawlingathome_worker_spark.functions.udfs import text_feature
from crawlingathome_worker_spark.functions.urls import absolutize, canonicalize, host_of, path_of
from crawlingathome_worker_spark.operators.fetch import ALLOWED_FORMATS, CLIP_THRESHOLD, MIN_IMAGE_BYTES
from crawlingathome_worker_spark.operators.parse import BLOCKLIST, MAX_URL_LEN
from crawlingathome_worker_spark.operators.politeness import PRIORITY_SEED


@dataclass
class Candidate:
    url: str
    canonical_url: str
    host: str
    caption: str
    license: str
    pair_md5: str
    image_id: str | None
    page_id: int
    pos: int
    wave_added: int = 0
    priority_key: str = ""
    sample_id: int | None = None
    fetch_status: str | None = None


@dataclass
class OracleState:
    seen: dict[str, set[str]] = field(default_factory=lambda: {"clipped": set(), "parsed": set()})
    retry: set[str] = field(default_factory=set)
    frontier: list[Candidate] = field(default_factory=list)
    next_sample_id: int = 0
    wave_no: int = 0


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def oracle_parse(links: list[dict], cfg: EngineConfig, wave_no: int) -> list[Candidate]:
    """parse_wat semantics (crawlingathome.py:37-96, minus the bloom round-trip)."""
    out: list[Candidate] = []
    seen_urls: set[str] = set()  # :39 — global across the shard
    by_page: dict[int, list[dict]] = {}
    for r in links:
        by_page.setdefault(r["page_id"], []).append(r)
    for page_id in sorted(by_page):
        rows = sorted(by_page[page_id], key=lambda r: r["pos"])
        img_license = "?"  # :48
        for r in rows:
            if "creativecommons.org/licenses/" in r["link_url"]:  # :50-52
                img_license = r["link_url"]
            if r["alt"] is None or r["alt"] == "":  # :53-54
                continue
            caption = normalize_caption(r["alt"])  # :56
            if detect_lang(caption) != "en":  # :58-63
                continue
            url = absolutize(r["page_url"], r["link_url"])  # :66-67
            pair_md5 = md5_hex(url + caption)  # :68
            if any(bl in url.lower() for bl in BLOCKLIST):  # :71-73
                continue
            if url in seen_urls:  # :74 (J1)
                continue
            if len(url) > MAX_URL_LEN:  # :74
                continue
            seen_urls.add(url)  # :77
            out.append(
                Candidate(
                    url=url,
                    canonical_url=canonicalize(url),
                    host=host_of(url),
                    caption=caption,
                    license=img_license,
                    pair_md5=pair_md5,
                    image_id=r.get("image_id"),
                    page_id=page_id,
                    pos=r["pos"],
                    wave_added=wave_no,
                )
            )
    return out


def _budget(host: str, robots: dict[str, tuple[list[str], float]], cfg: EngineConfig) -> int:
    if host not in robots:
        return cfg.default_host_budget
    _, delay = robots[host]
    if delay is None or delay <= 0:
        return cfg.default_host_budget
    return min(cfg.default_host_budget, max(1, int(cfg.wave_seconds // delay)))


def oracle_wave(
    state: OracleState,
    new_links: list[dict] | None,
    pairs_by_id: dict[str, bytes],
    robots: dict[str, tuple[list[str], float]],
    cfg: EngineConfig,
) -> dict:
    """One wave; mutates `state`; returns dict of intermediate results."""
    wave_no = state.wave_no = state.wave_no + 1

    # 1-2. parse + merge with frontier + cross-wave canonical dedup
    new_cands = oracle_parse(new_links, cfg, wave_no) if new_links else []
    merged = state.frontier + new_cands
    best: dict[str, Candidate] = {}
    for c in merged:
        k = c.canonical_url
        if k not in best or (c.wave_added, c.page_id, c.pos) < (
            best[k].wave_added,
            best[k].page_id,
            best[k].pos,
        ):
            best[k] = c
    cands = sorted(best.values(), key=lambda c: (c.wave_added, c.page_id, c.pos))

    # 3. seen gate (J2/J3 + J5 retry override)
    unseen = [
        c
        for c in cands
        if c.pair_md5 not in state.seen["clipped"]
        and (c.pair_md5 not in state.seen["parsed"] or c.pair_md5 in state.retry)
    ]

    # 4. robots gate (J6)
    allowed = []
    for c in unseen:
        if c.host in robots:
            prefixes, _ = robots[c.host]
            if any(path_of(c.url).startswith(p) for p in prefixes):
                continue
        allowed.append(c)

    # politeness top-k per host (O1)
    for c in allowed:
        c.priority_key = md5_hex(f"{c.url}|w{wave_no}|s{PRIORITY_SEED}")
    scheduled: list[Candidate] = []
    deferred: list[Candidate] = []
    by_host: dict[str, list[Candidate]] = {}
    for c in allowed:
        by_host.setdefault(c.host, []).append(c)
    for host in by_host:
        grp = sorted(by_host[host], key=lambda c: (c.priority_key, c.url))
        b = _budget(host, robots, cfg)
        scheduled.extend(grp[:b])
        deferred.extend(grp[b:])

    # 5. sample ids (W1): global priority order, first id = start+1 (:145)
    scheduled.sort(key=lambda c: (c.priority_key, c.url))
    for i, c in enumerate(scheduled):
        c.sample_id = state.next_sample_id + i + 1

    # 6. fetch + decode + filters + score (crawlingathome.py:99-115, 130-141)
    outputs = []
    for c in scheduled:
        b = pairs_by_id.get(c.image_id) if c.image_id else None
        if b is None:
            c.fetch_status = "error"
            continue
        if len(b) < MIN_IMAGE_BYTES:
            c.fetch_status = "too_small"
            continue
        dec = fakeimg.decode(b)
        if dec is None:
            c.fetch_status = "undecodable"
            continue
        fmt, w, h, img = dec
        if fmt not in ALLOWED_FORMATS:
            c.fetch_status = "bad_format"
            continue
        ph = phash.phash64(img)
        feat = phash.image_feature(img)
        score = float(feat @ text_feature(c.caption))
        if score < CLIP_THRESHOLD:
            c.fetch_status = "low_score"
            continue
        c.fetch_status = "ok"
        outputs.append(
            {
                "image_id": c.image_id,
                "bytes": b,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": c.caption,
                "phash": ph,
                "sample_id": c.sample_id,
                "url": c.url,
                "license": c.license,
                "score": score,
            }
        )

    # 7. state updates (J4 + J5)
    for c in scheduled:
        state.seen["parsed"].add(c.pair_md5)
    if not cfg.reference_strict:
        for c in scheduled:
            if c.fetch_status == "error":
                state.retry.add(c.pair_md5)
            else:
                state.retry.discard(c.pair_md5)
    state.frontier = [replace(d, priority_key="") for d in deferred]
    state.next_sample_id += len(scheduled)

    return {
        "candidates": cands,
        "unseen": unseen,
        "scheduled": scheduled,
        "deferred": deferred,
        "outputs": outputs,
        "crawl_order": [(c.sample_id, c.url) for c in scheduled],
        "counters": {
            "candidates": len(cands),
            "unseen": len(unseen),
            "scheduled": len(scheduled),
            "deferred": len(deferred),
            "fetched_ok": sum(1 for c in scheduled if c.fetch_status == "ok"),
            "rejected": sum(
                1 for c in scheduled if c.fetch_status not in ("ok", "error")
            ),
            "errors": sum(1 for c in scheduled if c.fetch_status == "error"),
        },
    }


def load_fixture_inputs(fx_dir: str):
    """Read the fixture parquet into plain-Python structures for the oracle."""
    import pyarrow.parquet as pq

    links = pq.read_table(f"{fx_dir}/wat_links.parquet").to_pylist()
    pairs = pq.read_table(f"{fx_dir}/pairs.parquet", columns=["image_id", "bytes"]).to_pylist()
    pairs_by_id = {r["image_id"]: r["bytes"] for r in pairs}
    robots_rows = pq.read_table(f"{fx_dir}/robots.parquet").to_pylist()
    robots = {r["host"]: (r["disallow_prefixes"], r["crawl_delay"]) for r in robots_rows}
    seen_rows = pq.read_table(f"{fx_dir}/seen_seed.parquet").to_pylist()
    return links, pairs_by_id, robots, seen_rows


def state_from_seen_seed(seen_rows: list[dict]) -> OracleState:
    st = OracleState()
    for r in seen_rows:
        st.seen[r["kind"]].add(r["pair_md5"])
        if r["retryable"]:
            st.retry.add(r["pair_md5"])
    return st
