"""Session lifecycle: active-session pinning and Python data-source
registration surviving ``newSession()`` clones.

Regression suite for the round-13 defect: PySpark's ``createDataFrame``
pins its receiver as the ACTIVE session and never restores it, while
``DataSource.lookupDataSource`` resolves Python data sources through the
active session's per-session DataSourceManager. One ``createDataFrame``
on a clone therefore redirected every later ``format("jsondir")`` lookup
on the PARENT to the clone's empty manager (DATA_SOURCE_NOT_FOUND).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.session import (
    PAGE_SIZE,
    configure_runtime,
    ensure_active,
    get_session,
)
from data_lake_for_citi_bike_trip_spark.sources import pydatasource


def _active_hash(spark):
    opt = getattr(
        spark._jvm, "org.apache.spark.sql.classic.SparkSession"
    ).getActiveSession()
    return None if opt.isEmpty() else opt.get().hashCode()


def test_create_dataframe_on_clone_flips_active_and_ensure_active_restores(
    spark, session_clone
):
    """Documents the upstream behavior we defend against, and that
    ensure_active / configure_runtime repin."""
    parent_hash = spark._jsparkSession.hashCode()
    session_clone.createDataFrame([(1,)], "x int").count()
    assert _active_hash(spark) == session_clone._jsparkSession.hashCode()
    ensure_active(spark)
    assert _active_hash(spark) == parent_hash
    # configure_runtime (the load_table entry path) repins too
    session_clone.createDataFrame([(2,)], "x int").count()
    configure_runtime(spark)
    assert _active_hash(spark) == parent_hash


def test_pysink_roundtrip_survives_clone_poison(spark, session_clone, tmp_path):
    """The exact round-13 failure: partitioned write + createDataFrame on
    a clone, then register_sink + jsondir write on the parent. The
    register functions now repin the active session, so the parent's
    lookup resolves its own manager."""
    df = session_clone.range(20).selectExpr("id", "id % 2 as p")
    df.write.partitionBy("p").mode("overwrite").parquet(str(tmp_path / "pq"))
    session_clone.createDataFrame(
        [(y, f"label{y}") for y in (1, 2)], "k int, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "dim"))

    pydatasource.register_sink(spark)
    out = str(tmp_path / "sink")
    spark.range(7).selectExpr("id").write.format("jsondir").option(
        "path", out
    ).mode("append").save()
    back = spark.read.schema("id bigint").json(os.path.join(out, "data"))
    assert back.count() == 7


def test_get_session_preregisters_python_data_sources(spark):
    """get_session registers synth_events / synth_events_stream / jsondir
    up front — a session user can read the formats with no explicit
    register call."""
    sess = get_session("tests")  # returns the existing session, re-pinned
    mgr = sess._jsparkSession.sessionState().dataSourceManager()
    for fmt in ("synth_events", "synth_events_stream", "jsondir"):
        assert mgr.dataSourceExists(fmt), fmt
    n = (
        sess.read.format("synth_events")
        .option("rows", "100")
        .option("parts", "4")
        .load()
        .count()
    )
    assert n == 100


def test_stream_drain_clone_keeps_python_sources_usable(spark, tmp_path):
    """The streaming audit from the same defect family: scoped_session
    pins the clone active (configure_runtime) — the clone must carry
    the engine's Python formats itself, and the parent must still
    round-trip jsondir afterwards."""
    from data_lake_for_citi_bike_trip_spark.streaming import pipeline

    clone = pipeline.scoped_session(spark, shuffle_partitions=2)
    try:
        # the clone can read the Python batch source directly
        n = (
            clone.read.format("synth_events")
            .option("rows", "50")
            .option("parts", "2")
            .load()
            .count()
        )
        assert n == 50
        # poison shape: createDataFrame on the clone pins it active
        clone.createDataFrame([(1,)], "x int").count()
        # parent-side jsondir write still resolves (get_session
        # pre-registered it; register_sink would also repin)
        out = str(tmp_path / "sink")
        spark.range(3).selectExpr("id").write.format("jsondir").option(
            "path", out
        ).mode("append").save()
        assert spark.read.schema("id bigint").json(
            os.path.join(out, "data")
        ).count() == 3
    finally:
        from data_lake_for_citi_bike_trip_spark.session import ensure_active

        ensure_active(spark)


def _memory_manager(spark):
    return spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()


def test_get_session_pins_tungsten_page_size(spark):
    """get_session sets the page size at construction, not Spark's
    heap / cores default (64 MB under a 16g heap at 4 cores)."""
    want = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        PAGE_SIZE
    )
    assert _memory_manager(get_session("tests")).pageSizeBytes() == want


def test_small_string_keyed_broadcast_holds_little_storage_memory(spark):
    """A broadcast hash relation on a string key is a BytesToBytesMap
    that takes at least one whole page. With the heap-derived 64 MB page
    a 100-row dim grew storage memory by >= 64 MB until the broadcast
    was cleaned; with the pinned page it stays small."""
    dim = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    fact = spark.range(1000).select(
        F.concat(F.lit("k"), (F.col("id") % 100).cast("string")).alias("k")
    )
    mm = _memory_manager(spark)
    before = mm.storageMemoryUsed()
    n = fact.join(F.broadcast(dim), "k").count()
    grown = mm.storageMemoryUsed() - before
    assert n == 1000
    assert grown < 16 * 2**20, grown
