"""Driver-contract test: replicate the verify harness — every queries() entry
runs at sf0.01; entries with an oracle_sql() are value-compared against DuckDB
(order-insensitive, column-name-sorted), exactly like CORRECTNESS_r{N}.json."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries().keys()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_duckdb(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    got, want = _rowset(scols, srows), _rowset(dcols, drows)
    if got != want:
        diff = [(g, w) for g, w in zip(got, want) if g != w][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_every_query_has_an_oracle():
    """Round-2 contract: NO rows-only queries remain — every queries() entry
    must have an oracle_sql() entry (ANSI SQL or golden parquet), so the
    driver's hard value check covers 100% of the query surface."""
    assert ROWS_ONLY == [], f"queries without oracles: {ROWS_ONLY}"
    assert set(ORACLED) == set(entrymod.queries().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"sample_id", "host", "url"} <= set(df.columns)


def test_q44_leaves_no_sink_table_or_checkpoint(spark):
    import glob
    import tempfile

    ckpts = set(glob.glob(os.path.join(tempfile.gettempdir(), "q44_ckpt_*")))
    rows = entrymod.queries()["q44_streaming_hourly_finalized"](spark, SF_DIR).collect()
    assert rows
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("q44_sink_")]
    assert set(glob.glob(os.path.join(tempfile.gettempdir(), "q44_ckpt_*"))) == ckpts
    assert not [q.name for q in spark.streams.active]
