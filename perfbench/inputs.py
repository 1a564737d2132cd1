"""Seeded benchmark inputs and the cached reference outputs computed from them.

Every input is a pure function of (seed, size constants below): the crawl
fixture comes from the package's own generator, the near-dup corpus from the
generator here. Each seed lives under its own directory whose completion
marker records the seed, so a second seed can never silently reuse the first
seed's tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are set by the run budget: a Spark session start and the cold first
# operation take ~35 s of every run on 4 cores, so inputs stay small enough
# that a run with one timed operation ends in about a minute.
# crawl fixture: 400 pages, ~4k fetchable candidate links, host00 owns ~30 %
CRAWL_SCALE = 1.0
# finalize input: 1000 image-caption pairs
FINALIZE_SCALE = 0.5
# Near-dup corpus, in the driver's documents/embeddings schemas and shaped as
# the driver's own tables are (measured at sf0.1: 5000 documents, 2000
# embeddings; see perfbench/README.md). Documents draw 10-100 tokens uniformly
# from a 30-word vocabulary, and 5 % of them are another document plus the
# token "dup" (250 of 5000 at sf0.1). The small vocabulary is what makes the
# simhash band chunks skewed: the largest chunk holds 3.8 % of the documents
# at sf0.1 and 1,682-1,890 of 50k (3.4-3.8 %) at sf1.0. Embeddings are
# unit-norm Gaussian 64-d vectors with no planted structure, as the driver's.
CORPUS_DOCS = 1200
CORPUS_VECS = 1200
CORPUS_DIM = 64
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_SHARE = 0.05


def source_digest(root: str) -> str:
    """Hash of every repository source file imported so far: the reference
    code and all it imports. Cached references and inputs carry it, so a
    changed oracle, golden, fixture generator or config default recomputes
    them."""
    h = hashlib.sha1()
    for name, mod in sorted(sys.modules.items()):
        f = getattr(mod, "__file__", None)
        if f and os.path.abspath(f).startswith(root + os.sep):
            h.update(name.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def fixture_dir(work: str, seed: int, scale: float) -> str:
    """The package fixture set for `seed`, generated once under its own root.

    `ensure_fixtures` caches by version and scale only, so the benchmark gives
    every seed a separate root and refuses a marker written for another seed."""
    from crawlingathome_worker_spark.sources.fixtures import ensure_fixtures

    root = os.path.join(work, "fixtures", f"seed-{seed}")
    out = ensure_fixtures(root, scale=scale, seed=seed)
    with open(os.path.join(out, "_COMPLETE")) as f:
        marker = f.read()
    if not marker.startswith(f"seed={seed} "):
        shutil.rmtree(out)
        out = ensure_fixtures(root, scale=scale, seed=seed)
        with open(os.path.join(out, "_COMPLETE")) as f:
            if not f.read().startswith(f"seed={seed} "):
                raise RuntimeError(f"fixture marker in {out} does not record seed {seed}")
    return out


def corpus_dir(work: str, seed: int) -> str:
    """documents.parquet + embeddings.parquet (driver schema) for `seed`."""
    out = os.path.join(work, "corpus", f"seed-{seed}")
    marker = os.path.join(out, "_COMPLETE")
    with open(__file__, "rb") as f:
        gen = hashlib.sha1(f.read()).hexdigest()[:16]
    stamp = f"seed={seed} generator={gen}\n"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts = [
        " ".join(VOCAB[int(i)] for i in rng.integers(len(VOCAB), size=int(rng.integers(10, 101))))
        for _ in range(CORPUS_DOCS)
    ]
    n_dup = round(DUP_SHARE * CORPUS_DOCS)
    dups = rng.choice(CORPUS_DOCS, size=n_dup, replace=False)
    originals = np.setdiff1d(np.arange(CORPUS_DOCS), dups)
    for i, j in zip(dups, rng.choice(originals, size=n_dup)):
        texts[int(i)] = texts[int(j)] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * CORPUS_DOCS, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(CORPUS_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    m = rng.standard_normal((CORPUS_VECS, CORPUS_DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(CORPUS_VECS), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=CORPUS_VECS), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return out


class RefCache:
    """Reference outputs on disk, one pickle per (kind, seed, configuration).

    The files are written only by this benchmark inside its own work
    directory, so loading them unpickles nothing foreign."""

    def __init__(self, work: str):
        self.root = os.path.join(work, "refs")
        os.makedirs(self.root, exist_ok=True)

    def path(self, kind: str, seed: int, config: dict) -> str:
        h = hashlib.sha1(json.dumps(config, sort_keys=True).encode()).hexdigest()[:12]
        return os.path.join(self.root, f"{kind}-seed{seed}-{h}.pkl")

    def load(self, path: str):
        with open(path, "rb") as f:
            return pickle.load(f)

    def save(self, path: str, obj) -> None:
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(obj, f)
        os.replace(tmp, path)
