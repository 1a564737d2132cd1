"""Deterministic synthetic fixtures (FIXTURES.md §1-5). Seed=42, numpy-rng only.

Generates the five frontier tables — `pairs`, `wat_links` (+ raw `wat_lines` text),
`frontier_seed`, `seen_seed`, `robots` — with the exact semantics the reference
pipeline must exercise: hot-host skew (one host ≈30% of links), relative URLs,
blocklisted/overlong/duplicate URLs, empty alts, mojibake captions, non-English
captions, CC-license positional semantics (B4), tiny/corrupt/GIF images, pHash
near-duplicates. All randomness flows from one `default_rng(seed)` per table in
row order, so output is byte-stable across machines.

`scale` multiplies row counts (pytest tier scale=1; bench tier larger) without
changing any per-row semantics.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .. import fakeimg, phash
from ..functions.langid import STOPWORDS
from ..functions.textfix import normalize_caption
from ..functions.urls import absolutize

FIXTURE_VERSION = "v6"

_EN_VOCAB = sorted(STOPWORDS["en"]) + [
    "sunset", "mountain", "river", "dog", "cat", "bicycle", "vintage", "portrait",
    "city", "skyline", "flower", "forest", "beach", "closeup", "abstract", "red",
    "blue", "green", "wooden", "handmade", "landscape", "night", "winter", "summer",
]
_FOREIGN_VOCAB = {lang: sorted(sw) for lang, sw in STOPWORDS.items() if lang != "en"}

_SIZES = np.array([32, 48, 64, 96, 128])
_SIZE_P = np.array([0.18, 0.32, 0.28, 0.15, 0.07])
_FMTS = np.array(["JPEG", "PNG", "WEBP", "GIF"])
_FMT_P = np.array([0.70, 0.15, 0.10, 0.05])

_MOJI_INJECT = [
    lambda s: s.replace("e", "Ã©", 1),  # inject mojibake 'Ã©'
    lambda s: s + "\n extra line",
    lambda s: s + " \x07control\x00chars",
    lambda s: "â€“ " + s,  # mojibake en-dash prefix
]


def _caption(rng: np.random.Generator, row: int) -> tuple[str, str]:
    """Returns (raw_alt, lang_class). lang_class in {en, foreign, dirty}."""
    r = rng.random()
    if r < 0.10:  # non-English: drawn from a foreign stopword vocab
        lang = ["de", "fr", "es"][int(rng.integers(3))]
        n = int(rng.integers(4, 12))
        toks = list(rng.choice(_FOREIGN_VOCAB[lang], size=n))
        return " ".join(toks), "foreign"
    n = int(rng.integers(3, 21))
    toks = list(rng.choice(_EN_VOCAB, size=n))
    s = " ".join(toks)
    if r < 0.18:  # dirty English: mojibake / newline / control chars
        f = _MOJI_INJECT[int(rng.integers(len(_MOJI_INJECT)))]
        return f(s), "dirty"
    return s, "en"


def gen_pairs(out_dir: str, scale: float = 1.0, seed: int = 42) -> None:
    """FIXTURES.md §1 — the north-rule input table (input_hint exact shape)."""
    rng = np.random.default_rng(seed)
    n = int(2000 * scale)
    image_id, bts, ws, hs, fmts, caps, phashes = [], [], [], [], [], [], []
    prev_img: np.ndarray | None = None
    prev_fmt = "JPEG"
    for i in range(n):
        iid = f"img{i:08d}"
        r = rng.random()
        if prev_img is not None and r < 0.05:
            # pHash near-duplicate: same noise ±1 on a few pixels
            img = prev_img.copy()
            yy = rng.integers(0, img.shape[0], size=3)
            xx = rng.integers(0, img.shape[1], size=3)
            img[yy, xx, 0] ^= 1
            fmt = prev_fmt
        else:
            w = int(rng.choice(_SIZES, p=_SIZE_P))
            h = int(rng.choice(_SIZES, p=_SIZE_P))
            img = fakeimg.random_image(rng, w, h)
            fmt = str(rng.choice(_FMTS, p=_FMT_P))
        prev_img, prev_fmt = img, fmt
        if rng.random() < 0.01:
            # corrupt blob: valid PNG magic, garbage stream, and ≥ MIN_IMAGE_BYTES
            # so it reaches the DECODE stage and fails there (not at the size gate)
            b = fakeimg.MAGIC["PNG"] + bytes(rng.integers(0, 256, size=6000, dtype=np.uint8))
        else:
            b = fakeimg.encode(img, fmt)
        cap, _cls = _caption(rng, i)
        image_id.append(iid)
        bts.append(b)
        ws.append(img.shape[1])
        hs.append(img.shape[0])
        fmts.append(fmt)
        caps.append(normalize_caption(cap))
        phashes.append(phash.phash64(img))
    tbl = pa.table(
        {
            "image_id": pa.array(image_id, pa.string()),
            "bytes": pa.array(bts, pa.binary()),
            "w": pa.array(ws, pa.int32()),
            "h": pa.array(hs, pa.int32()),
            "fmt": pa.array(fmts, pa.string()),
            "caption": pa.array(caps, pa.string()),
            "phash": pa.array(phashes, pa.int64()),
        }
    )
    # bounded row groups: Spark parallelizes parquet scans at row-group
    # granularity — one giant group would serialize the whole read into one task
    pq.write_table(tbl, os.path.join(out_dir, "pairs.parquet"), row_group_size=2048)


@dataclass
class _LinkRow:
    page_id: int
    page_url: str
    pos: int
    link_url: str
    alt: str | None
    is_cc: bool
    image_id: str | None


def _hosts(n_hosts: int) -> list[str]:
    return [f"host{i:02d}.example.com" for i in range(n_hosts)]


def gen_wat(out_dir: str, scale: float = 1.0, seed: int = 43) -> None:
    """FIXTURES.md §2 — wat_links (structured) + wat_lines (raw WAT-style text).

    Hot-domain skew: host00 owns ~30% of pages; the rest are Zipf-distributed
    (SURVEY.md §7.4 — salting must be load-bearing).
    """
    rng = np.random.default_rng(seed)
    pairs = pq.read_table(os.path.join(out_dir, "pairs.parquet"), columns=["image_id", "caption"])
    pair_ids = pairs.column("image_id").to_pylist()
    pair_caps = pairs.column("caption").to_pylist()
    n_pairs = len(pair_ids)

    n_pages = int(400 * scale)
    hosts = _hosts(50)
    zipf_w = 1.0 / np.arange(1, len(hosts))  # for hosts[1:]
    zipf_w = zipf_w / zipf_w.sum() * 0.7
    host_p = np.concatenate([[0.30], zipf_w])

    rows: list[_LinkRow] = []
    seen_urls: list[str] = []
    next_pair = 0
    for pg in range(n_pages):
        host = hosts[int(rng.choice(len(hosts), p=host_p))]
        page_url = f"http://{host}/s{int(rng.integers(10))}/d{int(rng.integers(5))}/page{pg}.html"
        n_links = int(rng.integers(8, 23))
        for pos in range(n_links):
            r = rng.random()
            if r < 0.02:  # CC license link (B4 positional semantics)
                lic = f"http://creativecommons.org/licenses/by/{int(rng.integers(2,5))}.0/"
                alt = None if rng.random() < 0.7 else "license badge"
                rows.append(_LinkRow(pg, page_url, pos, lic, alt, True, None))
                continue
            if r < 0.07:  # blocklisted junk
                junk = rng.choice(
                    [
                        f"http://{host}/icons/fav.ico",
                        f"http://{host}/anim/loader.gif",
                        f"http://{host}/logo.svg",
                        "javascript:void(0)",
                        "mailto:someone@example.com",
                        "data:image/png;base64,AAAA",
                    ]
                )
                rows.append(_LinkRow(pg, page_url, pos, str(junk), "an image", False, None))
                continue
            if r < 0.09:  # overlong URL (>2048)
                long_url = f"http://{host}/l/" + "x" * 2100
                rows.append(_LinkRow(pg, page_url, pos, long_url, "long url image", False, None))
                continue
            if r < 0.17 and seen_urls:  # exact duplicate of an earlier URL
                dup = seen_urls[int(rng.integers(len(seen_urls)))]
                rows.append(_LinkRow(pg, page_url, pos, dup, "duplicate image", False, None))
                continue
            # fetchable image link
            iid = pair_ids[next_pair % n_pairs]
            cap = pair_caps[next_pair % n_pairs]
            next_pair += 1
            subdir = "private" if rng.random() < 0.05 else "img"
            abs_url = f"http://{host}/{subdir}/{iid}.jpg"
            if rng.random() < 0.25:  # relative form (urljoin exercise)
                rel = rng.choice([f"../{subdir}/{iid}.jpg", f"{subdir}/{iid}.jpg", f"/{subdir}/{iid}.jpg"])
                link_url = str(rel)
            else:
                link_url = abs_url
            if rng.random() < 0.12:
                alt = None if rng.random() < 0.5 else ""
            else:
                alt = cap
                rd = rng.random()
                if rd < 0.08:
                    alt = alt + "\nsecond line"
            rows.append(_LinkRow(pg, page_url, pos, link_url, alt, False, iid))
            seen_urls.append(abs_url)

    tbl = pa.table(
        {
            "page_id": pa.array([r.page_id for r in rows], pa.int64()),
            "page_url": pa.array([r.page_url for r in rows], pa.string()),
            "pos": pa.array([r.pos for r in rows], pa.int32()),
            "link_url": pa.array([r.link_url for r in rows], pa.string()),
            "alt": pa.array([r.alt for r in rows], pa.string()),
            "is_cc_license": pa.array([r.is_cc for r in rows], pa.bool_()),
            "image_id": pa.array([r.image_id for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "wat_links.parquet"), row_group_size=65536)

    # Raw WAT-style lines (one JSON per page) for the S1/F1/F2 source path.
    by_page: dict[int, list[_LinkRow]] = {}
    for r in rows:
        by_page.setdefault(r.page_id, []).append(r)
    with open(os.path.join(out_dir, "wat_lines.txt"), "w", encoding="utf-8") as f:
        f.write('{"Container":{"Filename":"synthetic.warc.gz"}}\n')  # non-page line
        for pg in sorted(by_page):
            links = []
            for r in sorted(by_page[pg], key=lambda x: x.pos):
                d: dict = {"url": r.link_url}
                if r.alt is not None:
                    d["alt"] = r.alt
                if r.image_id is not None:
                    d["path"] = "IMG@/src"
                links.append(d)
            env = {
                "Envelope": {
                    "WARC-Header-Metadata": {"WARC-Target-URI": by_page[pg][0].page_url},
                    "Payload-Metadata": {
                        "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": links}}
                    },
                }
            }
            f.write(json.dumps(env, ensure_ascii=False) + "\n")
            if pg % 37 == 0:  # pages with no IMG@ marker must be prefiltered (F1)
                f.write(
                    json.dumps({"Envelope": {"WARC-Header-Metadata": {"WARC-Target-URI": "http://noimg.example.com/"}, "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [{"url": "http://noimg.example.com/a.html"}]}}}}})
                    + "\n"
                )


def gen_robots(out_dir: str, seed: int = 44) -> None:
    """FIXTURES.md §5 — robots rules for ~80% of hosts."""
    rng = np.random.default_rng(seed)
    hosts = _hosts(50)
    rows_h, rows_p, rows_d = [], [], []
    for h in hosts:
        if rng.random() < 0.2:
            continue  # missing host ⇒ default-allow
        prefixes = []
        if rng.random() < 0.6:
            prefixes.append("/private")
        if rng.random() < 0.2:
            prefixes.append("/tmp")
        rows_h.append(h)
        rows_p.append(prefixes)
        rows_d.append(float(rng.choice([0.0, 0.5, 1.0, 2.0])))
    tbl = pa.table(
        {
            "host": pa.array(rows_h, pa.string()),
            "disallow_prefixes": pa.array(rows_p, pa.list_(pa.string())),
            "crawl_delay": pa.array(rows_d, pa.float64()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "robots.parquet"))


def gen_robots_txt(out_dir: str, seed: int = 47) -> None:
    """FIXTURES.md §5b — RAW robots.txt bodies (host, body) whose cah-worker
    parse under the pinned RFC 9309 subset (functions/robots.py) is EXACTLY
    the rules in robots.parquet — so `parse_robots_txt ∘ render ≡ identity`
    is a testable property and the q45 golden has a known ground truth.

    The renderer wraps each host's rules in deterministic formatting noise
    that must all be invisible to a correct parser: CRLF endings, comments
    (full-line and inline), mixed-case keys and agent tokens, a preamble
    rule before any group header (ignored), decoy groups for other agents,
    a "*" decoy group that must LOSE to a specific cah-worker group,
    stacked user-agent headers, unrecognized directives (Allow/Sitemap)
    between header lines, empty Disallow lines, and unparseable
    Crawl-delay values. Five extra hosts get bodies with NO matching group
    (→ ([], null), gate-equivalent to a missing host).
    """
    rng = np.random.default_rng(seed)
    rules = pq.read_table(os.path.join(out_dir, "robots.parquet")).to_pylist()
    hosts, bodies = [], []
    for r in rules:
        nl = "\r\n" if rng.random() < 0.3 else "\n"
        lines = []
        if rng.random() < 0.25:
            lines.append("Disallow: /preamble-ignored")  # before any header
        if rng.random() < 0.5:
            lines.append(f"# robots for {r['host']}")
        if rng.random() < 0.6:  # decoy group for a different agent
            lines += ["User-agent: otherbot", "Disallow: /decoy", "Crawl-delay: 9"]
            if rng.random() < 0.5:
                lines.append("")
        specific = rng.random() < 0.5  # else the "*" group carries our rules
        ua = "cah-worker" if specific else "*"
        if specific and rng.random() < 0.3:
            ua = "CAH-Worker"  # agent match is case-insensitive
        key = "User-Agent" if rng.random() < 0.3 else "User-agent"
        lines.append(f"{key}: {ua}")
        if rng.random() < 0.3:
            # unrecognized directive between header lines must not break
            # stacking; the stacked extra agent must not change the match
            if rng.random() < 0.5:
                lines.append("Sitemap: https://example.com/sitemap.xml")
            lines.append("User-agent: stacked-other-bot")
        if rng.random() < 0.3:
            lines.append("Allow: /public  # out of the pinned subset")
        for p in r["disallow_prefixes"]:
            inline = "   # inline comment" if rng.random() < 0.2 else ""
            lines.append(f"Disallow: {p}{inline}")
        if rng.random() < 0.2:
            lines.append("Disallow:")  # empty = allow-all, contributes nothing
        if rng.random() < 0.2:
            lines.append("Crawl-delay: soon")  # unparseable, ignored
        lines.append(f"Crawl-delay: {r['crawl_delay']}")
        if specific and rng.random() < 0.4:
            # a "*" group that must LOSE to the specific cah-worker group
            lines += ["", "User-agent: *", "Disallow: /star-decoy", "Crawl-delay: 7"]
        hosts.append(r["host"])
        bodies.append(nl.join(lines) + nl)
    covered = {r["host"] for r in rules}
    for h in [h for h in _hosts(50) if h not in covered][:5]:
        hosts.append(h)
        bodies.append("User-agent: someoneelse\nDisallow: /x\nCrawl-delay: 3\n")
    tbl = pa.table(
        {"host": pa.array(hosts, pa.string()), "body": pa.array(bodies, pa.string())}
    )
    pq.write_table(tbl, os.path.join(out_dir, "robots_txt.parquet"))


def _candidate_md5s(out_dir: str) -> list[tuple[str, str]]:
    """(url, pair_md5) for fetchable wat_links candidates, post-normalization —
    used to seed the seen-set so anti-joins have real work."""
    tbl = pq.read_table(os.path.join(out_dir, "wat_links.parquet"))
    out = []
    for r in tbl.to_pylist():
        if r["image_id"] is None or r["alt"] in (None, ""):
            continue
        url = absolutize(r["page_url"], r["link_url"])
        cap = normalize_caption(r["alt"])
        md5 = hashlib.md5((url + cap).encode("utf-8")).hexdigest()
        out.append((url, md5))
    return out


def gen_seen_seed(out_dir: str, seed: int = 45) -> None:
    """FIXTURES.md §4 — pre-populated URL-seen state (~400 keys, 15% retryable)."""
    rng = np.random.default_rng(seed)
    cands = _candidate_md5s(out_dir)
    uniq = sorted({md5 for _, md5 in cands})
    k = min(400, len(uniq) // 3)
    idx = rng.choice(len(uniq), size=k, replace=False)
    rows_m, rows_k, rows_r = [], [], []
    for i in sorted(idx):
        rows_m.append(uniq[i])
        rows_k.append("clipped" if rng.random() < 0.5 else "parsed")
        rows_r.append(bool(rng.random() < 0.15))
    tbl = pa.table(
        {
            "pair_md5": pa.array(rows_m, pa.string()),
            "kind": pa.array(rows_k, pa.string()),
            "retryable": pa.array(rows_r, pa.bool_()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "seen_seed.parquet"))


def gen_frontier_seed(out_dir: str, seed: int = 46) -> None:
    """FIXTURES.md §3 — initial frontier with canonicalization collisions."""
    rng = np.random.default_rng(seed)
    pairs = pq.read_table(os.path.join(out_dir, "pairs.parquet"), columns=["image_id"])
    ids = pairs.column("image_id").to_pylist()
    hosts = _hosts(50)
    urls, hs, prio, iids = [], [], [], []
    n = min(len(ids), 2500)
    for i in range(n):
        host = hosts[int(rng.integers(len(hosts)))]
        base = f"http://{host}/img/{ids[i]}.jpg"
        r = rng.random()
        if r < 0.10:  # needs canonicalization to collide with base
            messy_host = host.upper()
            u = f"http://{messy_host}/img/{ids[i]}.jpg#frag"
        elif r < 0.15:
            u = f"http://{host}:80/img/{ids[i]}.jpg?b=2&a=1"
        else:
            u = base
        urls.append(u)
        hs.append(host)
        prio.append(float(rng.random()))
        iids.append(ids[i])
    tbl = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "host": pa.array(hs, pa.string()),
            "priority": pa.array(prio, pa.float64()),
            "image_id": pa.array(iids, pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "frontier_seed.parquet"))


def ensure_fixtures(root: str, scale: float = 1.0, seed: int = 42) -> str:
    """Generate (once, cached) the full fixture set under root/<version>-s<scale>."""
    out_dir = os.path.join(root, f"{FIXTURE_VERSION}-s{scale:g}")
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    gen_pairs(out_dir, scale=scale, seed=seed)
    gen_wat(out_dir, scale=scale, seed=seed + 1)
    gen_robots(out_dir, seed=seed + 2)
    gen_robots_txt(out_dir, seed=seed + 5)
    gen_seen_seed(out_dir, seed=seed + 3)
    gen_frontier_seed(out_dir, seed=seed + 4)
    with open(marker, "w") as f:
        f.write(f"seed={seed} scale={scale} version={FIXTURE_VERSION} crc={zlib.crc32(str(seed).encode())}\n")
    return out_dir
