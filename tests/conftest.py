from __future__ import annotations

import os
import sys

import pytest

#: The checkout these tests belong to: its package is the one imported,
#: wherever the suite is run from.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from data_lake_for_citi_bike_trip_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_session("tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def repo_root():
    return REPO_ROOT


@pytest.fixture
def session_clone(spark):
    """A ``newSession()`` clone that cannot poison later tests.

    PySpark's ``createDataFrame`` pins its receiver as the ACTIVE session
    and never restores it; Python data-source lookup goes through the
    active session's per-session manager. A clone test that ran
    ``createDataFrame`` therefore used to redirect every later
    ``format("jsondir")`` lookup to the clone's empty manager
    (DATA_SOURCE_NOT_FOUND in an unrelated test). Teardown re-pins the
    shared session so no clone test can invalidate a later sweep.
    """
    from data_lake_for_citi_bike_trip_spark.session import ensure_active

    clone = spark.newSession()
    yield clone
    ensure_active(spark)
