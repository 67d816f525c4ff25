"""applyInPandasWithState: state must persist across micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.sources.registry import load_table
from data_lake_for_citi_bike_trip_spark.streaming import pipeline, stateful


def test_running_totals_accumulate_across_batches(spark, sf_dir, tmp_path):
    # split events into several files so availableNow produces MULTIPLE
    # micro-batches (state carries between them)
    events = load_table(spark, sf_dir, "events")
    multi = str(tmp_path / "events_multi")
    events.repartition(4).write.parquet(multi)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
    )
    result = stateful.user_running_totals(stream)
    out = pipeline.run_available_now(result, "t_user_totals", "update")

    updates = out.groupBy("user_id").agg(
        F.max("total_events").alias("final_total"),
        F.count(F.lit(1)).alias("n_updates"),
    )
    batch = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("want"))
    joined = updates.join(batch, "user_id").cache()
    # final state equals the batch count for every user...
    assert joined.where(F.col("final_total") != F.col("want")).count() == 0
    # ...and state was built over >1 micro-batch (multiple update rows)
    assert joined.where(F.col("n_updates") > 1).count() > 0
    joined.unpersist()


def test_advance_sessions_core_crosses_batches():
    """The pure session-walk core must CONTINUE the open session across
    a batch boundary (same id, merged extent) and must match a
    single-batch walk of the concatenated stream."""
    from data_lake_for_citi_bike_trip_spark.streaming.stateful import (
        advance_sessions,
    )

    gap = 30 * 60 * 1_000_000
    m = 60 * 1_000_000
    batch1 = [0, 5 * m, 10 * m]
    batch2 = [12 * m, 200 * m, 205 * m]

    s1, e1 = advance_sessions(None, batch1, gap)
    s2, e2 = advance_sessions(s1, batch2, gap)
    # batch 2 extends session 0 (12m - 10m < 30m), then opens session 1
    assert dict((i, (n, st, en)) for i, n, st, en in e2) == {
        0: (4, 0, 12 * m),
        1: (2, 200 * m, 205 * m),
    }
    one_shot_state, one_shot = advance_sessions(None, batch1 + batch2, gap)
    assert s2 == one_shot_state
    # Single-batch equivalence: processing both batches in one shot
    # emits exactly the final per-session values (no or-fallback — the
    # expected dict is asserted unconditionally).
    assert dict((i, (n, st, en)) for i, n, st, en in one_shot) == {
        0: (4, 0, 12 * m),
        1: (2, 200 * m, 205 * m),
    }


def test_multibatch_drain_emits_multiple_updates_per_user(spark, sf_dir):
    """Evidence the drain actually ran several micro-batches: in update
    mode each batch emits one row per touched user, so users active in
    more than one file produce multiple update rows; and the folded
    totals equal the batch counts."""
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table
    from data_lake_for_citi_bike_trip_spark.streaming import stateful

    final_df = stateful.multibatch_user_totals(spark, sf_dir)
    final = final_df.collect()
    # the memory sink registers on the scoped session clone the stream
    # was built on — read the raw update rows from there
    raw = final_df.sparkSession.table("q_stream_multibatch_totals")
    updates_per_user = {
        r.user_id: r.n
        for r in raw.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert max(updates_per_user.values()) > 1, "drain ran only one batch"
    exact = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.user_id: r.total_events for r in final} == exact
