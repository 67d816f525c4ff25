"""Cross-process safety of the shared spark-warehouse materialization.

The round-9 driver bench crashed (FileNotFoundException) because
``ensure_partsupp`` did DROP + rmtree + rewrite on a canonical table
path shared by every process using the warehouse: process B's rewrite
deleted part-files process A's already-planned scan held. The fix makes
the canonical directory immutable-once-published (build under an
applicationId-unique scratch path, publish via one atomic ``os.rename``,
reuse-if-present with an external bucketed table). These tests pin:

1. a fresh catalog (simulated and real-second-process) REUSES the
   published directory — no rewrite, no deletion, and a scan planned
   before the second ensure_partsupp still executes;
2. the race-losing builder leaves the canonical directory untouched and
   cleans up only its own scratch;
3. two genuinely concurrent processes building from scratch both
   succeed with identical results.
"""

from __future__ import annotations

import os
import subprocess
import sys

from data_lake_for_citi_bike_trip_spark.operators import sqlsurface


def _snapshot(d: str) -> list[tuple[str, float]]:
    return sorted((f, os.path.getmtime(os.path.join(d, f))) for f in os.listdir(d))


def test_fresh_catalog_reuses_published_dir_and_planned_scan_survives(
    spark, sf_dir
):
    tbl = sqlsurface.ensure_partsupp(spark, sf_dir)
    canon = os.path.join(sqlsurface._warehouse_path(spark), tbl)
    before = _snapshot(canon)

    # plan (and resolve files for) a scan BEFORE the "second process" runs
    planned = spark.table(tbl).filter("ps_partkey % 2 = 0")
    planned._jdf.queryExecution().executedPlan()

    # simulate a fresh process: empty module cache + empty catalog (the
    # table is external, so DROP removes only the catalog row)
    sqlsurface._PARTSUPP_TABLES.clear()
    spark.sql(f"DROP TABLE {tbl}")
    assert os.path.isdir(canon)

    assert sqlsurface.ensure_partsupp(spark, sf_dir) == tbl
    assert _snapshot(canon) == before, "reuse must not rewrite published files"
    assert planned.count() > 0  # the r9 crash mode: this used to FileNotFound


def test_race_losing_builder_leaves_canonical_untouched(spark, sf_dir):
    tbl = sqlsurface.ensure_partsupp(spark, sf_dir)
    wh = sqlsurface._warehouse_path(spark)
    canon = os.path.join(wh, tbl)
    before = _snapshot(canon)

    # canonical already exists, so this build loses the publish race
    sqlsurface._build_and_publish_partsupp(spark, sf_dir, 8, tbl, canon)

    assert _snapshot(canon) == before
    app_tag = "".join(
        c if c.isalnum() else "_" for c in spark.sparkContext.applicationId
    )
    assert not os.path.isdir(os.path.join(wh, f"{tbl}__{app_tag}"))


# argv: app name, sf dir, checkout. Children inherit this process's cwd,
# so they share its spark-warehouse.
_CHILD = """
import sys
sys.path.insert(0, sys.argv[3])
from data_lake_for_citi_bike_trip_spark.session import get_session
from data_lake_for_citi_bike_trip_spark.operators import sqlsurface
spark = get_session(sys.argv[1], master="local[2]", shuffle_partitions=2)
tbl = sqlsurface.ensure_partsupp(spark, sys.argv[2])
n = spark.table(tbl).count()
print(f"RESULT {tbl} {n}")
spark.stop()
"""


def test_two_concurrent_processes_build_and_read(
    spark, sf_dir, tmp_path, repo_root
):
    """Two separate JVM processes race to materialize the same canonical
    table from scratch; both must finish green with identical counts
    (one wins the rename, the other reuses). Uses sf0.001 so the two
    extra Spark startups stay cheap."""
    tbl = f"partsupp_b8_v{sqlsurface._PARTSUPP_VERSION}_" + "".join(
        c if c.isalnum() else "_" for c in sf_dir.strip("/")
    )
    canon = os.path.join(sqlsurface._warehouse_path(spark), tbl)
    # start from scratch: no published table anywhere (our own session's
    # catalog row must go too, or its later reads would dangle)
    sqlsurface._PARTSUPP_TABLES.clear()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if os.path.isdir(canon):
        import shutil

        shutil.rmtree(canon)

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CHILD, f"race{i}", sf_dir, repo_root],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in range(2)
    ]
    results = []
    for p in procs:
        out, err = p.communicate(timeout=420)
        assert p.returncode == 0, err[-3000:]
        line = [ln for ln in out.splitlines() if ln.startswith("RESULT ")][0]
        results.append(line.split())
    assert results[0] == results[1]
    assert os.path.isdir(canon)
    # and this (third) process can reuse what they published
    assert sqlsurface.ensure_partsupp(spark, sf_dir) == tbl
    assert spark.table(tbl).count() == int(results[0][2])
