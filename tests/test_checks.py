from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.plans import checks
from data_lake_for_citi_bike_trip_spark.sources.registry import load_table


def test_run_checks_pass_and_fail(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    ok = [
        checks.not_empty("events_not_empty", events),
        checks.no_nulls("event_id_not_null", events, "event_id"),
    ]
    results = checks.run_checks(ok)
    assert all(passed for _, _, passed in results)

    with pytest.raises(ValueError, match="events_empty"):
        checks.run_checks([checks.not_empty("events_empty", events.limit(0))])


def test_dq_counts_one_row_per_check(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    df = checks.dq_counts({"events": events}, {"null_ids": (events, "event_id")})
    rows = {r.table_name: r.row_cnt for r in df.collect()}
    assert rows["events"] > 0
    assert rows["null_ids"] == 0


def test_referential_orphans_counts(spark):
    child = spark.createDataFrame([(1,), (2,), (3,), (None,)], "k long")
    parent = spark.createDataFrame([(1,), (2,)], "p long")
    out = checks.referential_orphans([("c->p", child, "k", parent, "p")]).collect()
    assert out[0].relationship == "c->p"
    assert out[0].n_child == 4
    assert out[0].n_orphans == 2  # key 3 + the NULL key


def test_null_safe_rollup_keeps_null_keys(spark):
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.operators import setops

    trips = spark.createDataFrame(
        [("0",), ("1",), (None,), (None,)], "gender string"
    )
    out = {r.gender_label: r.n_trips
           for r in setops.null_safe_gender_rollup(trips).collect()}
    assert out == {"g_0": 1, "g_1": 1, "unknown": 2}


def test_observed_metrics_single_pass(spark, sf_dir):
    """df.observe collects DQ aggregates during the write's own pass —
    values must equal a separate aggregation's."""
    from data_lake_for_citi_bike_trip_spark.plans import checks as C
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    got = C.observed_write(
        orders,
        {
            "n_rows": F.count(F.lit(1)),
            "null_keys": F.count(F.when(F.col("o_orderkey").isNull(), 1)),
            "max_key": F.max("o_orderkey"),
        },
    )
    expect = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("nk"),
        F.max("o_orderkey").alias("mk"),
    ).first()
    assert got["n_rows"] == expect.n
    assert got["null_keys"] == expect.nk == 0
    assert got["max_key"] == expect.mk


def test_replica_diff_flags_exactly_planted_buckets(spark, sf_dir):
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import setops
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    planted = {
        r.b
        for r in orders.where(
            (F.col("o_orderkey") % 997 == 0) | (F.col("o_orderkey") % 1009 == 0)
        )
        .select((F.col("o_orderkey") % 256).alias("b"))
        .distinct()
        .collect()
    }
    got = {r.bucket for r in setops.replica_diff_buckets(orders).collect()}
    # xor collisions could in principle hide a bucket; with 60-bit
    # digests they don't here — the diff is exactly the planted set
    assert got == planted


def test_gdpr_erase_audit_is_consistent(spark, sf_dir):
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import governance
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    audit = {r.dataset: r for r in governance.gdpr_erase_audit(events).collect()}
    erased_rows = events.where(F.col("user_id") % 97 == 0).count()
    assert audit["events"].rows_changed == erased_rows
    assert audit["events"].rows_before - audit["events"].rows_after == erased_rows
    # no erased subject may survive anywhere downstream
    survivors = governance.erase_users(events).where(
        F.col("user_id") % 97 == 0
    )
    assert survivors.count() == 0
    assert audit["user_profiles"].rows_changed == events.where(
        F.col("user_id") % 97 == 0
    ).select("user_id").distinct().count()


def test_linenumber_integrity_classes(spark):
    """Clean 1..n orders read ok; a duplicated number and a gapped
    span classify into their own buckets."""
    from pyspark.sql import functions as F  # noqa: F401

    from data_lake_for_citi_bike_trip_spark.operators import setops

    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3),      # ok
         (2, 1), (2, 1),              # duplicate
         (3, 2), (3, 3)],             # broken span (no 1)
        "l_orderkey long, l_linenumber int",
    )
    got = {r.check: (r.n_orders, r.n_lines)
           for r in setops.linenumber_integrity(li).collect()}
    assert got["ok"] == (1, 3)
    assert got["duplicate_linenumbers"] == (1, 2)
    assert got["broken_span"] == (1, 2)


def test_order_reconciliation_bands(spark):
    from data_lake_for_citi_bike_trip_spark.operators import setops

    orders = spark.createDataFrame(
        [(1, 100.00), (2, 100.00), (3, 100.00), (4, 50.00)],
        "o_orderkey long, o_totalprice double",
    )
    li = spark.createDataFrame(
        [(1, 100.00),          # exact
         (2, 99.50),           # within 1%
         (3, 80.00)],          # divergent (20%)
        "l_orderkey long, l_extendedprice double",
    )
    got = {r.band: r.n_orders
           for r in setops.order_total_reconciliation(orders, li).collect()}
    assert got == {"exact": 1, "within_1pct": 1, "divergent": 1,
                   "no_lines": 1}


def _jobs_in_group(spark, group, thunk):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_checks_folds_checks_on_one_dataframe_into_one_job(spark, sf_dir):
    """Two checks over one DataFrame are one aggregate: the same jobs in
    the caller's job group as one check alone (under AQE one aggregate
    action is its shuffle map-stage job plus the result job), and the
    same (name, actual, passed) tuples as evaluating each check by
    itself."""
    events = load_table(spark, sf_dir, "events")
    pair = [
        checks.not_empty("events_not_empty", events),
        checks.no_nulls("event_id_not_null", events, "event_id"),
    ]
    want = []
    for c in pair:
        v = c.df.agg(c.agg.alias("v")).collect()[0]["v"]
        want.append((c.name, v, bool(c.comparison(v, c.expected))))
    _, one = _jobs_in_group(
        spark, "run_checks_one", lambda: checks.run_checks(pair[:1])
    )
    got, two = _jobs_in_group(
        spark, "run_checks_fold", lambda: checks.run_checks(pair)
    )
    assert got == want
    assert two == one
