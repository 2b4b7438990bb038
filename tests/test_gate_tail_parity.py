"""Oracle parity for every registry entry.

Runs the same comparison the driver does — row count + column names +
order-insensitive value hash against the DuckDB oracle — for every
``queries()`` entry, at sf0.001 so the sweep stays cheap inside the
unit-test suite.  An entry without an ``oracle_sql()`` string fails.

The file and test names are historical: the test once covered only the
entries past a 50-entry window at the head of ``queries()``.  They are
kept so that each case keeps its test id.

scripts/check_parity.py runs the same sweep (with type strictness) at
any scale factor.
"""

from __future__ import annotations

import math
import os
from datetime import datetime

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v!r}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    return repr(v)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_tail_entry_matches_oracle(spark, duck, name):
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    oracles = entrymod.oracle_sql()
    assert name in oracles, f"{name} has no SQL oracle"
    sdf = entrymod.queries()[name](spark, SF_DIR)
    srows = sdf.collect()
    cur = duck.execute(oracles[name])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(dcols), (
        f"{name}: column mismatch spark={sorted(sdf.columns)} "
        f"duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{name}: rowcount spark={len(srows)} duck={len(drows)}"
    )
    scols = sorted(sdf.columns)
    sidx = [sdf.columns.index(c) for c in scols]
    didx = [dcols.index(c) for c in scols]
    sset = sorted(tuple(_norm(r[i]) for i in sidx) for r in srows)
    dset = sorted(tuple(_norm(r[i]) for i in didx) for r in drows)
    assert sset == dset, f"{name}: value mismatch"
