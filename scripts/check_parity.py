"""Dev harness mimicking the driver's correctness gate: run every
``queries()`` entry in Spark and its ``oracle_sql()`` in DuckDB on the
same parquet tables, compare row count + column names + order-
insensitive values.

Usage: python scripts/check_parity.py [sf_dir] [query ...]

It imports the ``__spark_entry__`` of the checkout it lives in.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from eventhub_to_timescale_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v!r}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    return repr(v)


# ---------------------------------------------------------------------
# Type strictness (r9 lesson): post-fetch repr() is blind to exactly the
# two things the driver's type-tagged value hasher rejects — DuckDB
# HUGEINT (un-CAST SUM) arrives as a plain Python int, and list cells
# tuple happily but crash the driver's pandas canonicalizer.  So we
# classify the DECLARED result types on both sides BEFORE comparing
# values and hard-fail on:
#   * any HUGEINT / DECIMAL oracle column (driver hashes these with a
#     different type tag than Spark's bigint/double → guaranteed red
#     row even when values are identical — the r9 failure mode),
#   * any array/struct/map output column on either side (driver _canon
#     dies with "unhashable type: 'list'"),
#   * any int/float/str/bool/timestamp class mismatch between the two
#     engines (int WIDTHS ≤64 are normalized, matching the driver's
#     observed behavior: bigint-vs-int passes, hugeint does not).
# ---------------------------------------------------------------------

def duck_class(t) -> str:
    u = str(t).upper()
    if "[]" in u or u.startswith(("LIST", "STRUCT", "MAP", "UNION")):
        return "BANNED-COMPLEX:" + u
    if u == "HUGEINT" or u == "UHUGEINT" or u.startswith("DECIMAL"):
        return "BANNED:" + u
    if u in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if u in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if u in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    if u == "DATE":
        return "date"
    if u == "BOOLEAN":
        return "bool"
    return u


def spark_class(dt) -> str:
    s = dt.simpleString()
    if s.startswith(("array", "struct", "map")):
        return "BANNED-COMPLEX:" + s
    if s.startswith("decimal"):
        return "BANNED:" + s.upper()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s == "string":
        return "str"
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "date":
        return "date"
    if s == "boolean":
        return "bool"
    return s


def type_mismatches(sdf, dcols, dtypes) -> list[str]:
    """Return human-readable per-column type violations (empty = ok)."""
    problems = []
    sclasses = {
        f.name: spark_class(f.dataType) for f in sdf.schema.fields
    }
    dclasses = dict(zip(dcols, (duck_class(t) for t in dtypes)))
    for col in sorted(set(sclasses) | set(dclasses)):
        sc = sclasses.get(col)
        dc = dclasses.get(col)
        for side, cls in (("spark", sc), ("duck", dc)):
            if cls is not None and cls.startswith("BANNED"):
                problems.append(f"{col}: {side} output type is {cls}")
        if (
            sc is not None
            and dc is not None
            and not sc.startswith("BANNED")
            and not dc.startswith("BANNED")
            and sc != dc
        ):
            problems.append(f"{col}: class mismatch spark={sc} duck={dc}")
    return problems


def row_key(row):
    return tuple(norm(v) for v in row)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    # data-dependent oracles (IVF centroid literals) must train on the
    # same sf dir the Spark side reads; the driver's gate uses the
    # sf0.01 default
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    only = set(args[1:])
    # Python workers (pandas UDFs) import the package too: send them to
    # the same checkout whatever the current directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        # release the previous query's caller-owned operator caches
        # (persist_banded &c.) so a full-registry sweep doesn't accumulate
        # JVM storage pressure
        spark.catalog.clearCache()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            failures.append(name)
            print(f"FAIL {name}: no SQL oracle")
            continue
        try:
            rel = con.sql(oracles[name])
            raw_dcols = list(rel.columns)
            dtypes = list(rel.types)
            dcols = sorted(raw_dcols)
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        ok = True
        tprobs = type_mismatches(sdf, raw_dcols, dtypes)
        if tprobs:
            print(f"FAIL {name}: type strictness:")
            for p in tprobs:
                print(f"  {p}")
            ok = False
        if scols != dcols:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            ok = False
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        if ok:
            # column-name-sorted, order-insensitive value comparison
            sidx = [sdf.columns.index(c) for c in scols]
            didx = [raw_dcols.index(c) for c in dcols]
            sset = sorted(row_key([r[i] for i in sidx]) for r in srows)
            dset = sorted(row_key([r[i] for i in didx]) for r in drows)
            if sset != dset:
                ok = False
                diffs = [
                    (a, b) for a, b in zip(sset, dset) if a != b
                ][:5]
                print(f"FAIL {name}: value mismatch; first diffs:")
                for a, b in diffs:
                    print(f"  spark={a}\n  duck ={b}")
        if ok:
            print(f"PASS {name}: {len(srows)} rows")
        else:
            failures.append(name)

    print()
    if not only and checked != len(qs):
        print(f"FAIL coverage: checked {checked} of {len(qs)} registry keys")
        return 1
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print(f"all queries match ({checked}/{len(qs)} registry keys checked)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
