"""Cross-process concurrent-writer e2e (VERDICT r3 item 6).

Two real `run_frontier.py` processes race on ONE warehouse. The snapshot
protocol (state/snapshots.py: optimistic hardlink-if-absent commits,
writer-unique tmps, shard_key resume) must yield EXACTLY-ONCE pairs_out:
whichever process loses a commit race dies loudly (ConcurrentCommitError) and
its already-written-but-uncommitted data dirs stay invisible; a rerun resumes
from the committed history and skips completed shards. The final warehouse
content must equal a single-process run byte-for-row.

Runs the multi-driver workflow the CLI documents: the bucketed store's INGEST
is single-driver by ownership model (sources/bucketed.py), so one
`--ingest-only` process buckets the pairs table first, and the solo run and
both racing drivers then attach to that shared table. All drivers share one
working directory, whose spark-warehouse holds the table."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_WAVES = 2


def _launch(wh_dir: str | None, fx_dir: str, cwd: str, *extra: str) -> subprocess.Popen:
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    return subprocess.Popen(
        [
            sys.executable,
            os.path.join(REPO, "run_frontier.py"),
            *(["--warehouse", wh_dir] if wh_dir else []),
            "--fixtures", fx_dir,
            "--waves", str(N_WAVES),
            *extra,
        ],
        cwd=cwd,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _pairs_out_rows(spark, wh_dir: str):
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    wh = Warehouse(wh_dir)
    latest = wh.latest()
    assert latest is not None
    df = wh.read_table(spark, latest, "pairs_out")
    rows = df.select("sample_id", "url", "image_id", "score").collect()
    return latest, sorted((r[0], r[1], r[2], r[3]) for r in rows)


def test_two_racing_processes_commit_exactly_once(spark, fx_dir, tmp_path_factory):
    racing_wh = str(tmp_path_factory.mktemp("race_wh"))
    solo_wh = str(tmp_path_factory.mktemp("solo_wh"))
    drivers = str(tmp_path_factory.mktemp("drivers"))

    # one driver ingests the bucketed pairs table (it needs no snapshot
    # warehouse); every later driver attaches
    ing = _launch(None, fx_dir, drivers, "--ingest-only")
    out, err = ing.communicate(timeout=600)
    assert ing.returncode == 0, f"ingest failed:\n{out}\n{err}"

    # reference: one uncontended process over the same shards
    ref = _launch(solo_wh, fx_dir, drivers)
    out, err = ref.communicate(timeout=600)
    assert ref.returncode == 0, f"solo run failed:\n{out}\n{err}"

    # the race: both start together, both read latest()=None, both attempt
    # snapshot 0 — the hardlink commit lets exactly one win
    p1, p2 = _launch(racing_wh, fx_dir, drivers), _launch(racing_wh, fx_dir, drivers)
    results = [p.communicate(timeout=600) for p in (p1, p2)]
    codes = [p1.returncode, p2.returncode]
    losers = sum(1 for c in codes if c != 0)
    for c, (out, err) in zip(codes, results):
        if c != 0:
            # a loser must die on the DECLARED optimistic-concurrency error
            # (or, rarely, the resume bookkeeping racing a mid-commit reader)
            assert "ConcurrentCommitError" in err or "committed by another writer" in err, (
                f"unexpected failure mode:\n{err[-3000:]}"
            )

    # rerun losers until every process has completed its shard list; resume
    # must skip already-committed shards (at-most-once per shard)
    for _ in range(4):
        if losers == 0:
            break
        p = _launch(racing_wh, fx_dir, drivers)
        out, err = p.communicate(timeout=600)
        if p.returncode == 0:
            losers -= 1
        else:
            assert "ConcurrentCommitError" in err or "committed by another writer" in err
    assert losers == 0, "a racing writer never completed after retries"

    latest, got = _pairs_out_rows(spark, racing_wh)
    _, want = _pairs_out_rows(spark, solo_wh)
    # exactly-once: the racing warehouse's committed output equals the solo
    # run's — no duplicated shard, no lost wave, no orphan rows visible
    assert got == want and len(got) > 0
    # both input shards committed exactly once in the shard history
    keys = latest.get("completed_shards", [])
    assert sorted(keys) == [f"shard-{i:06d}" for i in range(1, N_WAVES + 1)]
