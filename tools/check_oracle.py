"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` mirror on
DuckDB at the given scale factor, then compares row count, sorted column
names, and order-insensitive canonical values. Exact equality is required
(the driver hashes values) — floats are compared by repr of float64.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(float(v))
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    import __spark_entry__ as entrymod
    from data_lake_for_citi_bike_trip_spark.session import get_session

    spark = get_session("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = ONLY - set(qs)
    if unknown:
        print(
            f"ERROR: {len(unknown)} requested name(s) match no queries() "
            f"entry: {sorted(unknown)}\n(registry keys have no 'q_' prefix; "
            f"see list(queries()))"
        )
        return 2
    failures = []
    checked = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        checked += 1
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"  ~ {name}: no oracle (rows-only) rows={len(srows)} [{spark_s:.1f}s]")
            if not srows:
                failures.append((name, "no rows"))
            continue
        t0 = time.time()
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck_s = time.time() - t0
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema: spark={sorted(scols)} duck={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(orows)}")
        if not problems:
            cs, co = canon_rows(scols, srows), canon_rows(ocols, orows)
            if cs != co:
                diffs = [
                    (a, b) for a, b in zip(cs, co) if a != b
                ][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        status = "ok" if not problems else "FAIL"
        print(
            f"  {'✓' if not problems else '✗'} {name}: {status} rows={len(srows)}"
            f" [spark {spark_s:.1f}s, duck {duck_s:.1f}s]"
        )
        for p in problems:
            print(f"      {p}")
            failures.append((name, p))
    if checked == 0:
        print("\nERROR: zero queries checked")
        return 2
    print(f"\n{'ALL OK' if not failures else f'{len(failures)} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
