"""Tests of the benchmark itself: pinned names, fixed tables, seeded
staging, and the staging generator's counts against the ELT's own
observed counts.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])

import datagen  # noqa: E402
import workloads  # noqa: E402


def test_every_pinned_operation_exists():
    import __spark_entry__

    queries = __spark_entry__._all_queries()
    oracles = __spark_entry__.oracle_sql()
    missing = [n for n in workloads.contract_queries() if n not in queries]
    assert not missing, f"pinned operations no longer in _all_queries(): {missing}"
    unverifiable = [n for n in workloads.contract_queries() if n not in oracles]
    assert not unverifiable, f"pinned operations without an oracle: {unverifiable}"


def test_order_comes_only_from_the_seed():
    for name, ops in workloads.WORKLOADS.items():
        a = workloads.ordered(name, 7)
        assert a == workloads.ordered(name, 7)
        assert sorted(a) == sorted(ops)
    assert workloads.ordered("queries", 1) != workloads.ordered("queries", 2)
    elt = workloads.ordered("elt_ingest", 3)
    assert elt[: len(workloads.ELT_STEPS)] == workloads.ELT_STEPS


def test_fixed_tables_hold_every_table_the_oracles_read():
    missing = [t for t in workloads.check_oracle().TABLES
               if not os.path.isfile(os.path.join(workloads.TABLES, f"{t}.parquet"))]
    assert not missing


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_staging(tmp_path):
    digests = []
    for run in ("a", "b", "c"):
        seed = 5 if run != "c" else 6
        st = datagen.write_staging(str(tmp_path / run / "staging"), seed, 2, 300, parts=2)
        digests.append((_tree_digest(str(tmp_path / run)), st.digest))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_staging_spreads_trips_over_one_gzip_file_per_core(tmp_path):
    cpus = 4
    parts = -(-cpus // workloads.STAGING_MONTHS)
    st = datagen.write_staging(str(tmp_path), 1, workloads.STAGING_MONTHS, 100, parts=parts)
    files = os.listdir(tmp_path / "trips")
    assert len(files) >= cpus and all(f.endswith(".csv.gz") for f in files)
    assert st.trip_rows == 100 * workloads.STAGING_MONTHS


@pytest.fixture(scope="module")
def spark():
    from data_lake_for_citi_bike_trip_spark.session import get_session

    return get_session("perfbench-tests", master="local[2]", shuffle_partitions=2)


def test_generated_counts_equal_run_elt_observed_counts(spark, tmp_path):
    from data_lake_for_citi_bike_trip_spark.pipelines import elt

    st = datagen.write_staging(str(tmp_path / "staging"), 11, 2, 400, parts=2)
    lake = str(tmp_path / "lake")
    for months, paths in ((st.months, st.paths["all"]), ([2], st.paths[2])):
        metrics: dict = {}
        elt.run_elt(spark, paths, lake, metrics=metrics)
        observed = {t: m["rows"] for t, m in metrics.items()}
        assert observed == st.expected_for(months)
        assert metrics["bikeshare_fact_table"]["null_ids"] == 0
    fact = spark.read.parquet(os.path.join(lake, "bikeshare_fact_table")).count()
    assert fact == st.trip_rows  # the month re-run replaced, not appended
    assert all(ok for _, _, ok in elt.reference_checks(spark, lake))
