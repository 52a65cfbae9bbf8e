"""Mimics the driver's correctness gate: runs every ``queries()`` entry on
Spark and its ``oracle_sql()`` on DuckDB over the same parquet tables, then
compares row count, sorted column names, integer column widths, and the
order-insensitive value multiset — the contract the driver hashes at
sf=0.01 (its hash sees the width that ``_canon`` folds away)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # kill -0.0 and representation noise left after the in-query rounding
        return round(v + 0.0, 6)
    if isinstance(v, int):
        return float(v) if not isinstance(v, bool) else v
    return v


# Spark integer type -> the DuckDB type of the same width. Any other DuckDB
# integer type (HUGEINT, the unsigned ones) matches nothing.
_INT_WIDTH = {
    "bigint": "BIGINT", "int": "INTEGER",
    "smallint": "SMALLINT", "tinyint": "TINYINT",
}
_DUCK_INTS = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT",
    "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT", "UHUGEINT",
}


def _int_width_mismatches(sdtypes, ocols, otypes):
    """Columns where either side is an integer and the widths differ."""
    otype = dict(zip(ocols, map(str, otypes)))
    return [
        (c, st, otype[c]) for c, st in sdtypes
        if (st in _INT_WIDTH or otype[c] in _DUCK_INTS)
        and _INT_WIDTH.get(st) != otype[c]
    ]


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    ), [cols[i] for i in order]


ALL = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ALL.keys()))
def test_query_matches_oracle(name, spark, ddb):
    sdf = ALL[name](spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns
    if name not in ORACLES:
        # rows-only contract: runs, stable schema, >=0 rows
        assert isinstance(scols, list) and len(scols) > 0
        assert len(srows) >= 0
        return
    res = ddb.sql(ORACLES[name])
    orows = res.fetchall()
    ocols = res.columns
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    bad = _int_width_mismatches(sdf.dtypes, ocols, res.types)
    assert bad == [], f"{name}: integer width differs (col, spark, oracle): {bad}"
    assert len(srows) == len(orows), (
        f"{name}: row count {len(srows)} (spark) vs {len(orows)} (oracle)"
    )
    sset, _ = _multiset([tuple(r) for r in srows], scols)
    oset, _ = _multiset(orows, ocols)
    if sset != oset:
        diff_s = [r for r in sset if r not in oset][:5]
        diff_o = [r for r in oset if r not in sset][:5]
        pytest.fail(
            f"{name}: value multiset mismatch\n spark-only={diff_s}\n oracle-only={diff_o}"
        )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "_id" in df.columns


def test_r5_window_invariants():
    # the report window is an explicit rotation list: exactly the first
    # 50 queries() keys, no duplicates, every one oracle-backed
    win = entrymod._R5_WINDOW
    assert len(win) == 50 and len(set(win)) == 50
    q = list(entrymod.queries())
    assert q[:50] == win
    o = entrymod.oracle_sql()
    assert set(q) == set(o)          # 1:1 key parity
    missing = [k for k in win if k not in o]
    assert missing == []
