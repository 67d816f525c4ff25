"""Concurrent query execution on one SparkSession.

A real multi-tenant deployment runs many queries against one session
(thread pools / FAIR scheduler); results must match serial execution
and the shared state (the operator cache registry each ANN query builds
its IVF index into, the partsupp materialization, lake scratch dirs)
must be race-free.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import __spark_entry__ as entry

NAMES = [
    "pricing_summary",
    "top_stations",
    "revenue_by_nation",
    "bitmap_distinct",
    "pareto_frontier",
    "ann_ivf_topk",
    "tpch_min_cost_supplier",
    "feature_iqr",
]


def _rows(spark, sf_dir, name):
    df = entry._all_queries()[name](spark, sf_dir)
    return sorted(
        tuple(str(c) for c in row) for row in df.collect()
    )


def test_concurrent_equals_serial(spark, sf_dir):
    serial = {n: _rows(spark, sf_dir, n) for n in NAMES}
    with ThreadPoolExecutor(max_workers=8) as ex:
        futs = {n: ex.submit(_rows, spark, sf_dir, n) for n in NAMES}
        concurrent = {n: f.result() for n, f in futs.items()}
    assert concurrent == serial
