"""Degenerate-input robustness sweep: every contract query against
EMPTY (zero-row, schema-correct) copies of the ten testdata tables.

At 100 TB any predicate can legitimately produce an empty intermediate
(a new partition, a quiet tenant, a filtered date range), so every
operator must degrade to an empty — or well-defined scalar — result
instead of raising. This sweep is the cheap falsifier: it drives the
exact ``queries()`` surface the driver consumes, with inputs that make
every ``first()``/``max()``/division reduce over nothing.

Usage::

    python tools/make_degenerate.py /tmp/emptydata       # zero rows
    python tools/robustness_sweep.py /tmp/emptydata

Prints one line per failing query with the root exception, and a
summary; exits nonzero if any query raises. A query returning zero rows
(or a scalar row of NULLs) is a PASS — the contract is "no crash,
stable schema", not "nonempty output".
"""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from data_lake_for_citi_bike_trip_spark.session import get_session

    spark = get_session()
    qs = entry.queries()
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in only}

    failures: list[tuple[str, str]] = []
    t0 = time.time()
    for i, (name, fn) in enumerate(qs.items(), 1):
        try:
            df = fn(spark, sf_dir)
            n = df.count()
            # schema must still be constructible and stable
            _ = df.schema.simpleString()
            print(f"  ok {i:3d}/{len(qs)} {name}: {n} rows", flush=True)
        except Exception as exc:  # noqa: BLE001 — the sweep's whole point
            root = traceback.format_exception_only(type(exc), exc)[-1].strip()
            failures.append((name, root[:300]))
            print(f"FAIL {i:3d}/{len(qs)} {name}: {root[:300]}", flush=True)
    dt = time.time() - t0
    print(f"\n{len(qs) - len(failures)}/{len(qs)} robust, {dt:.0f}s")
    for name, err in failures:
        print(f"  {name}: {err}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
