"""Operator-internal cache registry (``caching.py``).

Operators cache intermediates their RETURNED lazy plans consume more
than once; the cache must outlive the call, so Spark's CacheManager
would hold it for the whole session. ``release_caches`` is the
caller-managed reclamation point — these tests pin registration,
release, and that results stay correct after release (recompute)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark import caching
from data_lake_for_citi_bike_trip_spark.operators import dedup


def test_operator_caches_register_and_release(spark):
    caching.release_caches()  # start clean
    docs = spark.createDataFrame(
        [(i, f"some words repeated here number {i % 3}") for i in range(30)],
        "doc_id bigint, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    before = pairs.count()
    assert caching.registered_count() > 0
    released = caching.release_caches()
    assert released > 0
    assert caching.registered_count() == 0
    # correctness survives release: the plan recomputes from source
    assert pairs.count() == before


def test_release_caches_spares_caller_owned_caches(spark):
    mine = spark.range(10).select(F.col("id")).cache()
    try:
        mine.count()
        caching.release_caches()
        assert mine.storageLevel.useMemory  # still cached
    finally:
        mine.unpersist()


def test_ts_sniff_memo_clears_on_release(spark):
    """VERDICT r15 item 9: the streaming ts-type sniff memo must be
    invalidated at the same maintenance moment as every other plan/
    metadata memo — a regenerated events path with a different ts
    physical type would otherwise read a stale sniff for the process
    lifetime (timestamps 1000x off)."""
    from data_lake_for_citi_bike_trip_spark.streaming import pipeline

    pipeline._TS_SNIFF_MEMO["/fake/events.parquet"] = True
    caching.release_caches()
    assert pipeline._TS_SNIFF_MEMO == {}


def test_ann_indexes_live_in_the_registry(spark, sf_dir):
    """The ANN queries build their indexes through ``cached()``: the
    registry grows, one ``release_data_caches`` leaves the JVM
    CacheManager empty (no index escapes into a module-level memo), and
    a rerun rebuilds the index with identical rows."""
    import __spark_entry__ as entry

    caching.release_caches()
    spark.catalog.clearCache()
    names = ["ann_ivf_topk", "ann_pq_recall"]

    def run():
        return {
            n: sorted(tuple(r) for r in entry._all_queries()[n](spark, sf_dir).collect())
            for n in names
        }

    first = run()
    assert caching.registered_count() > 0
    caching.release_data_caches()
    assert caching.registered_count() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert run() == first
    caching.release_caches()


def test_gate_scalars_follow_a_rewritten_input(spark, tmp_path):
    """Gate scalars are measured on every call, never replayed from an
    earlier plan with the same shape: rewriting a parquet path in place
    within one session must change ``auto_bucket_bits`` (its width
    changes operator output) and ``hot_window_gate``'s ``max_rows``."""
    from data_lake_for_citi_bike_trip_spark.operators import similarity, skew

    vecs = str(tmp_path / "vecs")
    spark.range(10).withColumnRenamed("id", "vec_id").write.parquet(vecs)
    assert similarity.auto_bucket_bits(spark.read.parquet(vecs)) == 4
    spark.range(100_000).withColumnRenamed("id", "vec_id").write.mode(
        "overwrite"
    ).parquet(vecs)
    assert similarity.auto_bucket_bits(spark.read.parquet(vecs)) == 14

    events = str(tmp_path / "events")
    spark.range(20).select(
        F.col("id").alias("__k"), F.col("id").cast("double").alias("__t")
    ).write.parquet(events)
    assert skew.hot_window_gate(spark.read.parquet(events)) == (1, 19.0)
    spark.range(20).select(
        F.when(F.col("id") < 15, F.lit(0)).otherwise(F.col("id")).alias("__k"),
        F.col("id").cast("double").alias("__t"),
    ).write.mode("overwrite").parquet(events)
    assert skew.hot_window_gate(spark.read.parquet(events)) == (15, 19.0)
