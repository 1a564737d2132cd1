"""Independent (non-Spark) implementations of the UDF-backed driver queries.

Each `gNN()` recomputes the corresponding `__spark_entry__.qNN` result with
plain Python / numpy over the parquet inputs (pyarrow read — no Spark anywhere)
and returns a pyarrow Table whose schema matches the Spark query's output
exactly. `tests/gen_query_goldens.py` materializes these as
`golden/queries/qNN.parquet`, which `oracle_sql()` exposes to the driver as
`SELECT … FROM read_parquet(...)` — upgrading the 15 formerly rows-only
queries to full DuckDB value checks (VERDICT.md round-1 item 1).

Independence policy: pair-finding / join / window / topk logic is re-derived
from scratch here (brute force where the Spark side is bucketed); only the
pinned SEMANTIC definitions are shared with the engine — the seeded hash/plane
constructions (FNV-1a, rng streams), the deterministic codec (fakeimg), pHash,
langid, and the text-feature stub — exactly the modules tests/oracle.py shares,
so an engine/golden diff is a dataflow bug, not a library artifact.

Rounding: Spark's round() is HALF_UP on the shortest-repr decimal of the
double; `_round_half_up` replicates that bit-for-bit (Python's round() is
banker's and WOULD diverge, e.g. round(0.03125, 4)).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crawlingathome_worker_spark import fakeimg, phash
from crawlingathome_worker_spark.config import EngineConfig
from crawlingathome_worker_spark.functions.langid import detect_lang
from crawlingathome_worker_spark.functions.udfs import text_feature
from crawlingathome_worker_spark.functions.urls import path_of
from crawlingathome_worker_spark.operators.politeness import PRIORITY_SEED

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_M61 = (1 << 61) - 1
_MASK64 = (1 << 64) - 1


def _round_half_up(x: float, n: int) -> float:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return x
    q = Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP)
    return float(q) + 0.0  # +0.0 normalizes -0.0, matching the queries' `+ lit(0.0)`


def _docs(sf_dir: str) -> list[dict]:
    return pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pylist()


def _embeddings(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """→ (vec_ids int64[n], matrix float64[n, dim]) in vec_id order."""
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pylist()
    t.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in t], dtype=np.int64)
    m = np.array([r["embedding"] for r in t], dtype=np.float64)
    return ids, m


def _pairs_rows(fx_dir: str, columns=None) -> list[dict]:
    return pq.read_table(os.path.join(fx_dir, "pairs.parquet"), columns=columns).to_pylist()


def _fnv1a(s: str) -> int:
    h = 0xCBF29CE484222325
    for byte in s.encode("utf-8"):
        h = ((h ^ byte) * 0x100000001B3) & _MASK64
    return h


# ---------------------------------------------------------------------------
# text queries
# ---------------------------------------------------------------------------


def g19_lang_pred(sf_dir: str, fx_dir: str) -> pa.Table:
    docs = _docs(sf_dir)
    return pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "lang_pred": pa.array([detect_lang(d["text"]) for d in docs], pa.string()),
        }
    )


def _minhash_sig(text: str, a: np.ndarray, b: np.ndarray, shingle_len: int = 3) -> np.ndarray:
    toks = text.split() if isinstance(text, str) else []
    if len(toks) < shingle_len:
        shingles = {" ".join(toks)} if toks else {""}
    else:
        shingles = {
            " ".join(toks[i : i + shingle_len]) for i in range(len(toks) - shingle_len + 1)
        }
    # plain-int arithmetic replicating numpy's uint64 wrap-then-mod:
    # sig_j = min over shingles of ((a_j*h + b_j) mod 2^64) mod (2^61-1)
    sig = np.empty(len(a), dtype=np.int64)
    hs = [_fnv1a(s) for s in shingles]
    for j in range(len(a)):
        aj, bj = int(a[j]), int(b[j])
        sig[j] = min(((aj * h + bj) & _MASK64) % _M61 for h in hs)
    return sig


def g20_minhash_lsh_pairs(
    sf_dir: str, fx_dir: str, num_perm: int = 64, bands: int = 16, threshold: float = 0.5
) -> pa.Table:
    rng = np.random.default_rng(42)  # same seeded permutation streams as the engine
    a = rng.integers(1, _M61, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _M61, size=num_perm, dtype=np.uint64)
    docs = _docs(sf_dir)
    sigs = {d["doc_id"]: _minhash_sig(d["text"], a, b) for d in docs}
    rows_per_band = num_perm // bands
    buckets: dict[tuple, list[int]] = {}
    for did, sig in sigs.items():
        for bnd in range(bands):
            key = (bnd, tuple(sig[bnd * rows_per_band : (bnd + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(did)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for da, db in sorted(cand):
        est = int((sigs[da] == sigs[db]).sum()) / num_perm
        if est >= threshold:
            out.append((da, db, _round_half_up(est, 4)))
    return pa.table(
        {
            "doc_a": pa.array([o[0] for o in out], pa.int64()),
            "doc_b": pa.array([o[1] for o in out], pa.int64()),
            "est_jaccard": pa.array([o[2] for o in out], pa.float64()),
        }
    )


def _simhash(text: str) -> int:
    toks = text.split() if isinstance(text, str) else []
    if not toks:
        return 0
    votes = [0] * 64
    for tok in toks:
        h = _fnv1a(tok)
        for j in range(64):
            votes[j] += 1 if (h >> j) & 1 else -1
    fp = 0
    for j in range(64):
        if votes[j] > 0:
            fp |= 1 << j
    return fp - (1 << 64) if fp >= (1 << 63) else fp  # as signed int64


def g21_simhash_pairs(sf_dir: str, fx_dir: str, max_hamming: int = 3) -> pa.Table:
    """BRUTE-FORCE all-pairs hamming — independent of the engine's banding, so
    this golden also proves the pigeonhole banding has full recall."""
    docs = _docs(sf_dir)
    fps = [(d["doc_id"], _simhash(d["text"]) & _MASK64) for d in docs]
    fps.sort()
    out = []
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            h = bin(fps[i][1] ^ fps[j][1]).count("1")
            if h <= max_hamming:
                out.append((fps[i][0], fps[j][0], h))
    return pa.table(
        {
            "doc_a": pa.array([o[0] for o in out], pa.int64()),
            "doc_b": pa.array([o[1] for o in out], pa.int64()),
            "hamming": pa.array([o[2] for o in out], pa.int32()),
        }
    )


def g22_ngram_jaccard(sf_dir: str, fx_dir: str, n: int = 3, threshold: float = 0.4) -> pa.Table:
    """Brute-force exact n-gram Jaccard (Spark-side gram semantics: single-space
    split keeping empties, slice shorter at the tail, distinct, drop '')."""
    docs = _docs(sf_dir)
    gram_sets: dict[int, frozenset] = {}
    for d in docs:
        toks = (d["text"] or "").split(" ")
        hi = max(len(toks) - n, 0)
        grams = {" ".join(toks[i : i + n]) for i in range(hi + 1)}
        grams.discard("")
        gram_sets[d["doc_id"]] = frozenset(grams)
    inv: dict[str, list[int]] = {}
    for did, grams in gram_sets.items():
        for g in grams:
            inv.setdefault(g, []).append(did)
    inter: dict[tuple, int] = {}
    for ids in inv.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                k = (ids[i], ids[j])
                inter[k] = inter.get(k, 0) + 1
    out = []
    for (da, db), ix in sorted(inter.items()):
        jac = ix / (len(gram_sets[da]) + len(gram_sets[db]) - ix)
        if jac >= threshold:
            out.append((da, db, _round_half_up(jac, 4)))
    return pa.table(
        {
            "doc_a": pa.array([o[0] for o in out], pa.int64()),
            "doc_b": pa.array([o[1] for o in out], pa.int64()),
            "jaccard": pa.array([o[2] for o in out], pa.float64()),
        }
    )


# ---------------------------------------------------------------------------
# embedding queries
# ---------------------------------------------------------------------------


def _cosines(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    qn = q / (np.linalg.norm(q) or 1.0)
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = 1.0
    return (m @ qn) / norms


def _topk(ids: np.ndarray, cos: np.ndarray, k: int) -> list[tuple[int, float]]:
    order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:k]
    return [(int(ids[i]), _round_half_up(float(cos[i]), 3)) for i in order]


def _topk_table(rows: list[tuple[int, float]]) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "cosine": pa.array([r[1] for r in rows], pa.float64()),
        }
    )


def g24_ann_lsh(sf_dir: str, fx_dir: str, k: int = 10, n_planes: int = 10, seed: int = 42) -> pa.Table:
    ids, m = _embeddings(sf_dir)
    q = m[ids == 0][0]
    planes = np.random.default_rng(seed).standard_normal((n_planes, m.shape[1]))
    weights = 1 << np.arange(n_planes)
    sigs = ((m @ planes.T) > 0).astype(np.int64) @ weights
    qsig = int(((q @ planes.T) > 0).astype(np.int64) @ weights)
    probe = {qsig} | {qsig ^ (1 << b) for b in range(n_planes)}
    keep = np.array([s in probe and i != 0 for s, i in zip(sigs, ids)])
    return _topk_table(_topk(ids[keep], _cosines(m[keep], q), k))


def g26_embedding_neardup(
    sf_dir: str,
    fx_dir: str,
    threshold: float = 0.4,
    n_tables: int = 4,
    bits_per_table: int = 6,
    seed: int = 42,
) -> pa.Table:
    ids, m = _embeddings(sf_dir)
    weights = 1 << np.arange(bits_per_table)
    cand = set()
    for t in range(n_tables):
        planes = np.random.default_rng(seed + 1000 * t).standard_normal(
            (bits_per_table, m.shape[1])
        )
        sigs = ((m @ planes.T) > 0).astype(np.int64) @ weights
        buckets: dict[int, list[int]] = {}
        for i, s in enumerate(sigs):
            buckets.setdefault(int(s), []).append(i)
        for members in buckets.values():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    a, b = members[i], members[j]
                    if ids[a] > ids[b]:
                        a, b = b, a
                    cand.add((a, b))
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = 1.0
    out = []
    for a, b in sorted(cand, key=lambda p: (ids[p[0]], ids[p[1]])):
        cos = float(np.dot(m[a], m[b]) / (norms[a] * norms[b]))
        if cos >= threshold:
            out.append((int(ids[a]), int(ids[b]), _round_half_up(cos, 3)))
    return pa.table(
        {
            "id_a": pa.array([o[0] for o in out], pa.int64()),
            "id_b": pa.array([o[1] for o in out], pa.int64()),
            "cosine": pa.array([o[2] for o in out], pa.float64()),
        }
    )


def g35_ann_ivf(
    sf_dir: str, fx_dir: str, n_cells: int = 8, iters: int = 8, k: int = 10, n_probe: int = 3
) -> pa.Table:
    ids, m = _embeddings(sf_dir)  # vec_id-sorted = the engine's bounded train order
    rng = np.random.default_rng(42)
    cents = m[rng.choice(len(m), size=min(n_cells, len(m)), replace=False)]
    for _ in range(iters):
        d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    q = m[ids == 0][0]
    probe = set(
        int(i) for i in np.argsort(((cents - q[None, :]) ** 2).sum(axis=1), kind="stable")[:n_probe]
    )
    scores = m @ cents.T - 0.5 * (cents * cents).sum(axis=1)[None, :]
    cells = scores.argmax(axis=1)
    keep = np.array([c in probe and i != 0 for c, i in zip(cells, ids)])
    return _topk_table(_topk(ids[keep], _cosines(m[keep], q), k))


# ---------------------------------------------------------------------------
# image / fixture queries
# ---------------------------------------------------------------------------


def _decoded(fx_dir: str, with_caption: bool = False) -> list[dict]:
    cols = ["image_id", "bytes"] + (["caption"] if with_caption else [])
    out = []
    for r in _pairs_rows(fx_dir, cols):
        dec = fakeimg.decode(bytes(r["bytes"])) if r["bytes"] is not None else None
        row = {"image_id": r["image_id"], "dec": dec}
        if with_caption:
            row["caption"] = r["caption"]
        out.append(row)
    return out


def g27_image_decode(sf_dir: str, fx_dir: str) -> pa.Table:
    rows = _decoded(fx_dir)
    return pa.table(
        {
            "image_id": pa.array([r["image_id"] for r in rows], pa.string()),
            "fmt_dec": pa.array(
                [r["dec"][0] if r["dec"] else None for r in rows], pa.string()
            ),
            "w_dec": pa.array([r["dec"][1] if r["dec"] else 0 for r in rows], pa.int32()),
            "h_dec": pa.array([r["dec"][2] if r["dec"] else 0 for r in rows], pa.int32()),
            "dec_ok": pa.array([r["dec"] is not None for r in rows], pa.bool_()),
        }
    )


def g28_phash_groups(sf_dir: str, fx_dir: str) -> pa.Table:
    groups: dict[int, list[str]] = {}
    for r in _decoded(fx_dir):
        if r["dec"] is None:
            continue
        ph = phash.phash64(r["dec"][3])
        groups.setdefault(ph, []).append(r["image_id"])
    out = [(ph, len(ids), min(ids)) for ph, ids in sorted(groups.items()) if len(ids) > 1]
    return pa.table(
        {
            "phash": pa.array([o[0] for o in out], pa.int64()),
            "n": pa.array([o[1] for o in out], pa.int64()),
            "keeper": pa.array([o[2] for o in out], pa.string()),
        }
    )


def g29_clip_scores(sf_dir: str, fx_dir: str) -> pa.Table:
    out = []
    for r in _decoded(fx_dir, with_caption=True):
        if r["dec"] is None:
            continue
        feat = phash.image_feature(r["dec"][3])  # float32, as stored by decode
        tf = text_feature(r["caption"]) if r["caption"] is not None else None
        s = float(np.dot(feat, tf)) if tf is not None else None
        out.append((r["image_id"], _round_half_up(s, 3) if s is not None else None))
    return pa.table(
        {
            "image_id": pa.array([o[0] for o in out], pa.string()),
            "score": pa.array([o[1] for o in out], pa.float64()),
        }
    )


def g31_phash_near_pairs(sf_dir: str, fx_dir: str, max_hamming: int = 3) -> pa.Table:
    """Brute-force hamming over decoded pHashes (bands-independent — proves the
    engine's banded join has full recall at this radius too)."""
    hashes = [
        (r["image_id"], phash.phash64(r["dec"][3]) & _MASK64)
        for r in _decoded(fx_dir)
        if r["dec"] is not None
    ]
    hashes.sort()
    out = []
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            h = bin(hashes[i][1] ^ hashes[j][1]).count("1")
            if h <= max_hamming:
                out.append((hashes[i][0], hashes[j][0], h))
    return pa.table(
        {
            "id_a": pa.array([o[0] for o in out], pa.string()),
            "id_b": pa.array([o[1] for o in out], pa.string()),
            "hamming": pa.array([o[2] for o in out], pa.int32()),
        }
    )


_BPE_SPLIT = re.compile(r"(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])")


def g32_bpe_tokens(sf_dir: str, fx_dir: str) -> pa.Table:
    docs = _docs(sf_dir)
    out = []
    for d in docs:
        t = (d["text"] or "").strip()
        chunks = [c for c in _BPE_SPLIT.split(t) if c != ""]
        out.append((d["doc_id"], sum(math.ceil(len(c) / 6.0) for c in chunks)))
    return pa.table(
        {
            "doc_id": pa.array([o[0] for o in out], pa.int64()),
            "bpe_tokens": pa.array([o[1] for o in out], pa.int64()),
        }
    )


def _resize_nn(img: np.ndarray, w: int, h: int) -> np.ndarray:
    sh, sw = img.shape[0], img.shape[1]
    yi = (np.arange(h) * sh // h).clip(0, sh - 1)
    xi = (np.arange(w) * sw // w).clip(0, sw - 1)
    return img[np.ix_(yi, xi)]


def g33_image_resize(sf_dir: str, fx_dir: str, tw: int = 32, th: int = 32) -> pa.Table:
    rows = [
        r
        for r in _pairs_rows(fx_dir, ["image_id", "bytes", "fmt"])
        if r["image_id"] < "img00000500"
    ]
    out = []
    for r in rows:
        dec = fakeimg.decode(bytes(r["bytes"])) if r["bytes"] is not None else None
        if dec is None:
            out.append((r["image_id"], r["fmt"], False, None))
        else:
            enc = fakeimg.encode(_resize_nn(dec[3], tw, th), dec[0])
            out.append((r["image_id"], r["fmt"], True, len(enc)))
    return pa.table(
        {
            "image_id": pa.array([o[0] for o in out], pa.string()),
            "fmt": pa.array([o[1] for o in out], pa.string()),
            "resized_ok": pa.array([o[2] for o in out], pa.bool_()),
            "n_bytes": pa.array([o[3] for o in out], pa.int32()),
        }
    )


def g34_video_frames(sf_dir: str, fx_dir: str, n_frames: int = 4) -> pa.Table:
    rows = [
        r
        for r in _pairs_rows(fx_dir, ["image_id", "bytes"])
        if r["image_id"] < "img00000200" and r["bytes"] is not None
    ]
    ids, idxs = [], []
    for r in rows:
        for i in range(n_frames):
            ids.append(r["image_id"])
            idxs.append(i)
    return pa.table(
        {"image_id": pa.array(ids, pa.string()), "frame_idx": pa.array(idxs, pa.int32())}
    )


# ---------------------------------------------------------------------------
# q30: the flagship wave (parse → robots → politeness → sample ids)
# ---------------------------------------------------------------------------


def g30_wave_flagship(sf_dir: str, fx_dir: str) -> pa.Table:
    from tests.oracle import oracle_parse

    cfg = EngineConfig(default_host_budget=20, wave_seconds=30.0)
    links = pq.read_table(os.path.join(fx_dir, "wat_links.parquet")).to_pylist()
    robots_rows = pq.read_table(os.path.join(fx_dir, "robots.parquet")).to_pylist()
    robots = {r["host"]: (r["disallow_prefixes"], r["crawl_delay"]) for r in robots_rows}
    cands = oracle_parse(links, cfg, wave_no=1)

    allowed = []
    for c in cands:
        if c.host in robots:
            prefixes, _ = robots[c.host]
            if any(path_of(c.url).startswith(p) for p in prefixes):
                continue
        allowed.append(c)

    def budget(host: str) -> int:
        if host not in robots:
            return cfg.default_host_budget
        _, delay = robots[host]
        if delay is None or delay <= 0:
            return cfg.default_host_budget
        return min(cfg.default_host_budget, max(1, int(cfg.wave_seconds // delay)))

    for c in allowed:
        c.priority_key = hashlib.md5(f"{c.url}|w1|s{PRIORITY_SEED}".encode()).hexdigest()
    by_host: dict[str, list] = {}
    for c in allowed:
        by_host.setdefault(c.host, []).append(c)
    scheduled = []
    for host, grp in by_host.items():
        grp.sort(key=lambda c: (c.priority_key, c.url))
        scheduled.extend(grp[: budget(host)])
    scheduled.sort(key=lambda c: (c.priority_key, c.url))
    return pa.table(
        {
            "sample_id": pa.array(range(1, len(scheduled) + 1), pa.int64()),
            "url": pa.array([c.url for c in scheduled], pa.string()),
            "host": pa.array([c.host for c in scheduled], pa.string()),
            "pair_md5": pa.array([c.pair_md5 for c in scheduled], pa.string()),
        }
    )


def _from_json_str(v):
    """Mirror Spark from_json's StringType coercion (probed on Spark 4.1.2):
    a non-string JSON value in a string-typed field is re-rendered as its
    compact JSON text — booleans lowercase, ints verbatim (BigInteger),
    objects/arrays compact with preserved key order, doubles in Java
    E-notation ('1.0E30'). Residual: Java switches doubles to E-notation at
    1e7 where Python switches at 1e16, so exotic float magnitudes can render
    differently; real WAT urls/alts are strings, and the differential test
    (tests/test_wat_source.py) covers the common coercions."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        r = repr(v)
        if "e" in r:
            m, e = r.split("e")
            if "." not in m:
                m += ".0"
            return f"{m}E{int(e)}"
        return r
    import json as _json

    return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def g42_wat_scan(sf_dir: str, fx_dir: str) -> pa.Table:
    """Independent parse of the RAW WAT text (S1/F1/F2/F3): the literal
    reference control flow — line scan, "IMG@" substring prefilter BEFORE the
    JSON parse, Links projection, per-link enumeration — re-derived with plain
    json.loads (crawlingathome.py:42-49; no Spark, no sources/wat.py).

    Structurally-off-but-valid JSON follows from_json's PERMISSIVE semantics
    exactly (probed, and pinned by the differential test): a non-array Links
    or a scalar/array ELEMENT anywhere in Links nulls the whole array (line
    dropped); null elements survive with their positions; non-string values
    in string fields coerce via _from_json_str."""
    import json

    page_urls, poss, link_urls, alts = [], [], [], []
    with open(os.path.join(fx_dir, "wat_lines.txt"), encoding="utf-8") as f:
        for line in f:
            if "IMG@" not in line:  # F1 prefilter (crawlingathome.py:43)
                continue
            try:
                j = json.loads(line)
                env = j["Envelope"]
                page_url = env["WARC-Header-Metadata"]["WARC-Target-URI"]
                links = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"][
                    "Links"
                ]
            except (KeyError, ValueError, TypeError, AttributeError):
                # reference's try/except drop (crawlingathome.py:58-61, 70-79).
                # TypeError/AttributeError cover structurally-off-but-valid
                # JSON (Envelope a string, Links not a list): the engine's
                # from_json nulls such fields and drops the line, so the
                # oracle must drop too, not crash (ADVICE r3).
                continue
            if page_url is None or links is None:
                continue
            page_url = _from_json_str(page_url)
            if not isinstance(links, list):
                continue  # from_json: non-array Links → null → line dropped
            if any(not (e is None or isinstance(e, dict)) for e in links):
                # from_json: one scalar/array element nulls the WHOLE array
                continue
            for pos, link in enumerate(links):
                if link is None:
                    continue  # null elements keep their position, emit no row
                url = _from_json_str(link.get("url"))
                if url is None:
                    continue
                page_urls.append(page_url)
                poss.append(pos)
                link_urls.append(url)
                alts.append(_from_json_str(link.get("alt")))
    return pa.table(
        {
            "page_url": pa.array(page_urls, pa.string()),
            "pos": pa.array(poss, pa.int32()),
            "link_url": pa.array(link_urls, pa.string()),
            "alt": pa.array(alts, pa.string()),
        }
    )


def g43_dataset_finalize(
    sf_dir: str,
    fx_dir: str,
    score_threshold: float = 0.05,
    max_hamming: int = 3,
    caption_jaccard: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
) -> pa.Table:
    """Independent re-derivation of plans/dataset.py's finalization over the
    fixture pairs, keyed by image_id: brute-force hamming near pairs (no
    banding — the engine's pigeonhole bands are recall-complete, so the sets
    must agree), g20-style MinHash-LSH caption pairs, the same greedy
    keep-lowest rules, and the score gate on the bit-identical float32 dot."""
    recs = []
    for r in _decoded(fx_dir, with_caption=True):
        if r["dec"] is None:
            continue
        img = r["dec"][3]
        feat = phash.image_feature(img)
        tf = text_feature(r["caption"]) if r["caption"] is not None else None
        score = float(np.dot(feat, tf)) if tf is not None else 0.0
        recs.append(
            {
                "id": r["image_id"],
                "phash": phash.phash64(img),
                "caption": r["caption"],
                "score": score,
            }
        )

    # 1. exact pHash dedup, keep lowest image_id
    by_ph: dict[int, dict] = {}
    for rec in recs:
        k = rec["phash"]
        if k not in by_ph or rec["id"] < by_ph[k]["id"]:
            by_ph[k] = rec
    exact = sorted(by_ph.values(), key=lambda rec: rec["id"])

    # 2. near-dup images: brute-force hamming <= max_hamming, drop max id
    drop_img = set()
    for i in range(len(exact)):
        for j in range(i + 1, len(exact)):
            x = (exact[i]["phash"] ^ exact[j]["phash"]) & _MASK64
            if bin(x).count("1") <= max_hamming:
                drop_img.add(max(exact[i]["id"], exact[j]["id"]))
    img_clean = [rec for rec in exact if rec["id"] not in drop_img]

    # 3. caption MinHash-LSH near-dups (g20 machinery), drop doc_b of each pair
    rng = np.random.default_rng(42)
    a = rng.integers(1, _M61, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _M61, size=num_perm, dtype=np.uint64)
    sigs = {rec["id"]: _minhash_sig(rec["caption"], a, b) for rec in img_clean}
    rows_per_band = num_perm // bands
    buckets: dict[tuple, list[str]] = {}
    for did, sig in sigs.items():
        for bnd in range(bands):
            key = (bnd, tuple(sig[bnd * rows_per_band : (bnd + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(did)
    drop_cap = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                est = int((sigs[ids[i]] == sigs[ids[j]]).sum()) / num_perm
                if est >= caption_jaccard:
                    drop_cap.add(ids[j])
    deduped = [rec for rec in img_clean if rec["id"] not in drop_cap]

    # 4. score gate (raw float32 comparison — bit-identical to the engine)
    final = [rec for rec in deduped if rec["score"] >= score_threshold]
    return pa.table(
        {
            "image_id": pa.array([rec["id"] for rec in final], pa.string()),
            "phash": pa.array([rec["phash"] for rec in final], pa.int64()),
            "score": pa.array(
                [_round_half_up(rec["score"], 3) for rec in final], pa.float64()
            ),
        }
    )


def _g45_rules(body: str | None, agent: str) -> tuple[list[str], float | None]:
    """Independent reimplementation of the pinned RFC 9309 subset
    (functions/robots.py docstring IS the spec — the CODE is re-derived:
    regex tokenization + zip-indexed group ids vs the engine's single-pass
    state machine, so a parser bug in either shows up as a golden diff)."""
    toks: list[tuple[str, str]] = []
    for ln in (body or "").split("\n"):
        ln = re.sub(r"#.*", "", ln).strip()
        m = re.match(r"^([^:]*):(.*)$", ln)
        if not m:
            continue
        k = m.group(1).strip().lower()
        if k in ("user-agent", "disallow", "crawl-delay"):
            toks.append((k, m.group(2).strip()))
    gids, gid = [], -1
    for j, (k, _) in enumerate(toks):
        if k == "user-agent" and (j == 0 or toks[j - 1][0] != "user-agent"):
            gid += 1
        gids.append(gid)
    agents: dict[int, set] = {}
    for (k, v), g in zip(toks, gids):
        if k == "user-agent":
            agents.setdefault(g, set()).add(v.lower())

    def spec(g: int) -> int:
        a = agents.get(g, set())
        return 2 if agent.lower() in a else (1 if "*" in a else 0)

    best = max((spec(g) for g in agents), default=0)
    prefixes: list[str] = []
    delay: float | None = None
    if best > 0:
        for (k, v), g in zip(toks, gids):
            if g < 0 or k == "user-agent" or spec(g) != best:
                continue
            if k == "disallow":
                if v:
                    prefixes.append(v)
            elif re.fullmatch(r"\d+(\.\d+)?", v):
                delay = float(v)
    return prefixes, delay


def g45_robots_rules(sf_dir: str, fx_dir: str) -> pa.Table:
    rows = pq.read_table(os.path.join(fx_dir, "robots_txt.parquet")).to_pylist()
    out = []
    for r in sorted(rows, key=lambda x: x["host"]):
        p, d = _g45_rules(r["body"], "cah-worker")
        out.append((r["host"], len(p), "\x1f".join(p), d))
    return pa.table(
        {
            "host": pa.array([o[0] for o in out], pa.string()),
            "n_disallow": pa.array([o[1] for o in out], pa.int32()),
            "disallow_joined": pa.array([o[2] for o in out], pa.string()),
            "crawl_delay": pa.array([o[3] for o in out], pa.float64()),
        }
    )


def g47_neardup_components(sf_dir: str, fx_dir: str) -> pa.Table:
    """Union-find (path-compressed, plain Python) over the independently
    recomputed g20 near-dup pairs — the transitive-closure oracle for the
    engine's iterative large/small-star contraction."""
    t = g20_minhash_lsh_pairs(sf_dir, fx_dir)
    edges = list(zip(t.column("doc_a").to_pylist(), t.column("doc_b").to_pylist()))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = sorted((n, find(n)) for n in parent)
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "component": pa.array([r[1] for r in rows], pa.int64()),
        }
    )


GOLDEN_QUERIES = {
    "q19_lang_pred": g19_lang_pred,
    "q20_minhash_lsh_pairs": g20_minhash_lsh_pairs,
    "q21_simhash_pairs": g21_simhash_pairs,
    "q22_ngram_jaccard": g22_ngram_jaccard,
    "q24_ann_lsh": g24_ann_lsh,
    "q26_embedding_neardup": g26_embedding_neardup,
    "q27_image_decode": g27_image_decode,
    "q28_phash_groups": g28_phash_groups,
    "q29_clip_scores": g29_clip_scores,
    "q30_wave_flagship": g30_wave_flagship,
    "q31_phash_near_pairs": g31_phash_near_pairs,
    "q32_bpe_tokens": g32_bpe_tokens,
    "q33_image_resize": g33_image_resize,
    "q34_video_frames": g34_video_frames,
    "q35_ann_ivf": g35_ann_ivf,
    "q42_wat_scan": g42_wat_scan,
    "q43_dataset_finalize": g43_dataset_finalize,
    "q45_robots_rules": g45_robots_rules,
    "q47_neardup_components": g47_neardup_components,
}
