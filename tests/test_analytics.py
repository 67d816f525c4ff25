"""Analytics-layer semantics tests (as-of, range join, sessions)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import analytics, asof


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_asof_join_backward_with_tie(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00")), (1, _ts("2024-01-01 09:00:00")), (2, _ts("2024-01-01 10:00:00"))],
        "k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:30:00"), 10.0),
            (1, _ts("2024-01-01 10:00:00"), 20.0),  # exact tie: <= matches
            (2, _ts("2024-01-01 11:00:00"), 30.0),  # after left: no match
        ],
        "k int, ts timestamp, v double",
    )
    out = asof.asof_join(left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["v"])
    got = {(r.k, r.ts.isoformat()): r.asof_v for r in out.collect()}
    assert got[(1, "2024-01-01T10:00:00")] == 20.0  # tie matched
    assert got[(1, "2024-01-01T09:00:00")] is None  # nothing at or before
    assert got[(2, "2024-01-01T10:00:00")] is None  # right row is in future


def test_asof_join_forward_with_tie(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00")), (1, _ts("2024-01-01 11:00:00")), (2, _ts("2024-01-01 10:00:00"))],
        "k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 20.0),  # exact tie: >= matches
            (1, _ts("2024-01-01 10:30:00"), 10.0),
            (2, _ts("2024-01-01 09:00:00"), 30.0),  # before left: no match
        ],
        "k int, ts timestamp, v double",
    )
    out = asof.asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["v"],
        direction="forward",
    )
    got = {(r.k, r.ts.isoformat()): r.asof_v for r in out.collect()}
    assert got[(1, "2024-01-01T10:00:00")] == 20.0  # tie matched, not 10:30
    assert got[(1, "2024-01-01T11:00:00")] is None  # nothing at or after
    assert got[(2, "2024-01-01T10:00:00")] is None  # right row is in past


def test_asof_segmented_identity_both_directions(spark):
    """VERDICT r10 item 7: the segmented (bucket_width) as-of plan must
    be output-identical to the single-window plan — hot key, unique
    right (key, ts), per-column NULL payloads, exact ties, left-only
    buckets inheriting across empty bucket gaps."""
    import random

    rnd = random.Random(11)
    # key 0 is hot (owns ~60% of rows); right ts unique per key
    left_rows, right_rows = [], []
    for i in range(400):
        k = 0 if i % 5 < 3 else 1 + (i % 3)
        left_rows.append((k, float(rnd.randrange(0, 10_000))))
    seen = set()
    for i in range(150):
        k = 0 if i % 5 < 3 else 1 + (i % 3)
        ts = float(rnd.randrange(0, 10_000))
        while (k, ts) in seen:
            ts += 0.5
        seen.add((k, ts))
        # v NULL on some rows, w NULL on others: per-column carry
        v = None if i % 7 == 0 else float(i)
        w = None if i % 5 == 0 else float(i * 2)
        right_rows.append((k, ts, v, w))
    # exact-tie rows: left ts equal to a right ts
    left_rows.append((0, right_rows[0][1]))
    left = spark.createDataFrame(left_rows, "k int, ts double")
    right = spark.createDataFrame(right_rows, "k int, ts double, v double, w double")
    for direction in ("backward", "forward", "nearest"):
        plain = asof.asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v", "w"], direction=direction,
        )
        seg = asof.asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v", "w"], direction=direction,
            bucket_width=500.0,
        )
        assert sorted(plain.columns) == sorted(seg.columns)
        diff = (
            seg.exceptAll(plain).count() + plain.exceptAll(seg).count()
        )
        assert diff == 0, f"direction={direction}: {diff} mismatched rows"


def test_range_join_bucketed_equals_naive(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    points = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice") - 5.0).alias("lo"),
        (F.col("p_retailprice") + 5.0).alias("hi"),
    )
    bucketed = asof.range_join_bucketed(points, part, "l_extendedprice", "lo", "hi", 10.0)
    naive = points.join(
        part,
        (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")),
    )
    assert bucketed.count() == naive.count()
    # bucketed plan must avoid the nested-loop join the naive form needs
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_gap_splits(spark):
    rows = [
        (1, 100, _ts("2024-01-01 10:00:00")),
        (1, 101, _ts("2024-01-01 10:10:00")),  # same session (10 min)
        (1, 102, _ts("2024-01-01 11:00:00")),  # 50 min gap -> new session
        (2, 103, _ts("2024-01-01 10:00:00")),
    ]
    events = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = analytics.sessionize(events, gap_minutes=30)
    per_user = {r.user_id: r.cnt for r in out.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    assert per_user == {1: 2, 2: 1}


def test_pareto_frontier_matches_bruteforce_dominance(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.operators import analytics
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    part = load_table(spark, sf_dir, "part")
    got = {
        (r.price_cents, r.part_size)
        for r in analytics.pareto_frontier(part).collect()
    }
    pts = {
        (int(round(r.p_retailprice * 100)), int(r.p_size))
        for r in part.collect()
    }
    expect = {
        p
        for p in pts
        if not any(
            q[0] <= p[0] and q[1] >= p[1] and q != p for q in pts
        )
    }
    assert got == expect and len(got) > 0


def test_pareto_frontier_members_are_mutually_nondominated(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.operators import analytics
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    rows = analytics.pareto_frontier(
        load_table(spark, sf_dir, "part")
    ).collect()
    pts = [(r.price_cents, r.part_size) for r in rows]
    for p in pts:
        assert not any(
            q[0] <= p[0] and q[1] >= p[1] and q != p for q in pts
        )


def test_ivm_join_maintenance_plan_reads_stored_blocks(spark, sf_dir):
    """The maintained view must equal from-scratch AND the maintenance
    plan must not re-derive the stored half (lineage truncated)."""
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import analytics
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    got = analytics.ivm_join_view(orders, customer, nation, region)
    scratch = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name", F.year("o_orderdate").alias("y"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("rev"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    expect = {
        (r.r_name, r.n_name, r.y): (r.rev, r.cnt) for r in scratch.collect()
    }
    assert {
        (r.region_name, r.nation_name, r.order_year): (r.revenue_cents, r.order_cnt)
        for r in got.collect()
    } == expect
    # lineage truncation: the stored side appears as an ExistingRDD scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_embedding_covariance_hand_computed(spark):
    from data_lake_for_citi_bike_trip_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 5.0])], "vec_id bigint, embedding array<float>"
    )
    got = {(r.i, r.j): (r.n, r.sx, r.sy, r.sxy, r.cov_num)
           for r in similarity.embedding_covariance(df).collect()}
    assert got[(0, 0)] == (2, 4000, 4000, 10_000_000, 4_000_000)
    assert got[(0, 1)] == (2, 4000, 7000, 17_000_000, 6_000_000)
    assert got[(1, 1)] == (2, 7000, 7000, 29_000_000, 9_000_000)
    assert set(got) == {(0, 0), (0, 1), (1, 1)}  # upper triangle only


def test_rollup_cascade_is_lossless_across_week_boundary(spark):
    from data_lake_for_citi_bike_trip_spark.operators import analytics

    # Sunday Jan 7 23:30 and Monday Jan 8 00:30 2024 — adjacent hours,
    # different ISO weeks; cascade must split them exactly as direct does
    rows = [
        (1, "2024-01-07 23:30:00", 1, "click", 1.25),
        (2, "2024-01-07 23:45:00", 1, "click", 2.50),
        (3, "2024-01-08 00:30:00", 1, "click", 4.00),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, s string, user_id bigint, event_type string, value double"
    ).select("event_id", F.to_timestamp("s").alias("ts"), "user_id", "event_type", "value")
    got = {r.week: r for r in analytics.rollup_cascade(df).collect()}
    assert got["2024-01-01"].n_events == 2
    assert got["2024-01-01"].value_cents == 375
    assert got["2024-01-08"].n_events == 1
    assert got["2024-01-08"].value_cents == 400
    assert all(r.count_match and r.cents_match for r in got.values())


def test_record_linkage_branches(spark):
    """One customer per corruption branch: normal (85 via pass 1),
    name-corrupted (45, only reachable through the recovery blocks),
    nation-shifted (75 via pass 1), both-corrupted (documented recall
    loss), and dropped-from-feed (no dirty row at all)."""
    from data_lake_for_citi_bike_trip_spark.operators import linkage

    rows = [
        (k, f"Customer#{k:09d}", 5, 100.0 + 10 * k, "BUILDING")
        for k in (1, 13, 20, 260, 9)
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    got = {(r.clean_id, r.dirty_id): r.score
           for r in linkage.link_customers(df).collect()}
    assert got == {(1, 1): 85, (13, 13): 45, (20, 20): 75}


def test_record_linkage_null_feature_rows_survive_expansion(spark):
    """ADVICE r10: a clean row whose name has NO trailing digits
    (regexp_extract miss -> digits NULL) must still emit its pass-2
    (nation, balance-bucket) match at 45 — the collapse's member
    expansion joins are null-safe, so the NULL-feature group's members
    are not silently dropped."""
    from data_lake_for_citi_bike_trip_spark.operators import linkage

    rows = [
        # distinct $100-balance buckets so the two customers never
        # cross-match through the recovery blocks
        (502, "Customer#000000502", 5, 100.0, "BUILDING"),
        (501, "NoDigitsName", 5, 300.0, "BUILDING"),
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    got = {(r.clean_id, r.dirty_id): r.score
           for r in linkage.link_customers(df).collect()}
    # (501, 501): bal 30 + nation 10 + seg 5 = 45, reachable only if
    # the NULL-digits clean row survived into c_members.
    assert got == {(501, 501): 45, (502, 502): 85}


def test_ivm_agg_delta_zero_group_vanishes(spark):
    """A group whose only member is deleted must disappear from the
    maintained view (not linger as a count-0 phantom); an order both
    inserted and deleted nets to multiplicity zero."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    rows = [
        # key 89: sole member of priority 'X' in base (89%97!=0), deleted
        (89, 1, "O", 10.0, "2024-03-01", "X"),
        # key 97: insert-only (97%97==0), priority 'Y'
        (97, 1, "O", 20.0, "2024-03-01", "Y"),
        # key 97*89=8633: inserted AND deleted -> net zero, priority 'Z'
        (8633, 1, "O", 30.0, "2024-03-01", "Z"),
        # key 2: plain base survivor, priority 'Y'
        (2, 1, "O", 40.0, "2024-03-01", "Y"),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    got = {(r.priority): (r.n_orders, r.revenue_cents, r.avg_cents)
           for r in an.ivm_agg_delta(orders).collect()}
    assert got == {"Y": (2, 6000, 3000)}


def test_nested_order_items_tie_break_and_fold(spark):
    """Priciest-item tie broken by smallest partkey; the nested HOF
    fold reproduces the flat sum."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    li = spark.createDataFrame(
        [(1, 9, 5.0), (1, 4, 5.0), (1, 7, 1.0)],
        "l_orderkey bigint, l_partkey bigint, l_extendedprice double",
    )
    orders = spark.createDataFrame(
        [(1, "P1")], "o_orderkey bigint, o_orderpriority string"
    )
    r = an.nested_order_items(orders, li).first()
    assert (r.n_items, r.top_partkey, r.top_cents, r.total_cents) == (
        3, 4, 500, 1100
    )


def test_k_anonymity_flags_small_classes(spark):
    from data_lake_for_citi_bike_trip_spark.operators import governance

    rows = [(i, f"Customer#{i:09d}", 1, 100.0, "BUILDING") for i in range(6)]
    rows.append((99, "Customer#000000099", 2, 100.0, "AUTOMOBILE"))
    df = spark.createDataFrame(
        rows,
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    got = {r.class_size: (r.n_classes, r.n_people, r.fails_k)
           for r in governance.k_anonymity(df).collect()}
    assert got == {6: (1, 6, False), 1: (1, 1, True)}


def test_cogroup_reconcile_one_sided_keys(spark):
    """Keys present on only one side must still appear (full-outer
    semantics of cogroup), with zeros on the absent side."""
    from data_lake_for_citi_bike_trip_spark.operators import governance

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10, "click", 1.0)],
        "event_id bigint, s string, user_id bigint, event_type string, value double",
    ).select("event_id", F.to_timestamp("s").alias("ts"), "user_id",
             "event_type", "value")
    orders = spark.createDataFrame(
        [(100, 20, "O", 2.0, "2024-01-01", "P")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    )
    got = {r.k: (r.n_events, r.event_cents, r.n_orders, r.order_cents, r.in_both)
           for r in governance.cogroup_reconcile(ev, orders).collect()}
    assert got == {
        10: (1, 100, 0, 0, False),
        20: (0, 0, 1, 200, False),
    }


def test_uplift_segments_isolate_opposite_effects(spark):
    """An experiment flat on average but opposite in two segments must
    show nonzero per-segment uplift of opposite signs."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    rows, eid = [], 0
    # max 2 events/user -> tier width 1: 1-event users land in tier 1,
    # 2-event users in tier 2 (equal-width activity tiers over [0, max])
    # tier 1 (light, 1 event): treated users (odd) convert, control don't
    for u in (1, 3, 2, 4):
        rows.append((eid, eid * 1_000_000, u,
                     "purchase" if u % 2 == 1 else "view", 1.0)); eid += 1
    # tier 2 (heavy, 2 events): control converts, treated doesn't
    for u in (11, 13, 12, 14):
        conv = u % 2 == 0
        rows.append((eid, eid * 1_000_000, u,
                     "purchase" if conv else "view", 1.0)); eid += 1
        rows.append((eid, eid * 1_000_000, u, "view", 1.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, us bigint, user_id bigint, event_type string, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"),
             "user_id", "event_type", "value")
    got = {(r.segment, r.variant): r.uplift_bp
           for r in an.uplift_by_segment(df).collect()}
    # segment 1: control conv 0 -> uplift NULL for treated; segment 2:
    # treated conv 0 vs control 100% -> uplift -10000
    assert got[(2, 1)] == -10000
    assert got[(1, 1)] is None  # control_bp == 0 guard


def test_business_lead_time_weekday_walk(spark):
    """Fri -> Mon is 1 business day; Fri -> next Fri is exactly 5;
    same-day is 0 (the sequence(1,0) auto-descend guard)."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, "2024-01-05", "P"),   # Friday
         (2, 1, "O", 1.0, "2024-01-05", "P"),
         (3, 1, "O", 1.0, "2024-01-05", "P")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(1, "2024-01-08"), (2, "2024-01-12"), (3, "2024-01-05")],
        "l_orderkey bigint, l_shipdate string",
    )
    r = an.business_lead_time(orders, li).first()
    # bdays: Fri->Mon = 1; Fri->Fri(+7) = 5; same day = 0 -> total 6
    assert (r.n_orders, r.total_bdays, r.mean_bdays_e2) == (3, 6, 200)


def test_prorate_largest_remainder_exact_sum(spark):
    """1000 cents over three equal 333-cent lines: bases 333 each,
    deficit 1 goes to the lowest line number; allocations always sum
    to the order total."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    orders = spark.createDataFrame(
        [(1, 10.00), (2, 7.77)], "o_orderkey long, o_totalprice double"
    )
    li = spark.createDataFrame(
        [(1, 1, 3.33), (1, 2, 3.33), (1, 3, 3.33),
         (2, 1, 5.00), (2, 2, 2.50)],
        "l_orderkey long, l_linenumber int, l_extendedprice double",
    )
    rows = {(r.l_orderkey, r.l_linenumber): r.alloc_cents
            for r in an.prorate_order_total(orders, li).collect()}
    assert rows[(1, 1)] == 334 and rows[(1, 2)] == 333 and rows[(1, 3)] == 333
    # order 2: t=777, W=750; bases 518, 259 (sum 777, deficit 0)
    assert rows[(2, 1)] == 518 and rows[(2, 2)] == 259
    assert sum(v for (o, _), v in rows.items() if o == 1) == 1000
    assert sum(v for (o, _), v in rows.items() if o == 2) == 777


def test_bag_setops_multiplicities(spark):
    """custkey 1: A has 3 open, B has 1 urgent -> intersect keeps 1,
    except keeps 2; custkey 2 only in A -> except only."""
    from data_lake_for_citi_bike_trip_spark.operators import sqlsurface

    orders = spark.createDataFrame(
        [(1, 1, "O", "5-LOW"), (2, 1, "O", "5-LOW"), (3, 1, "O", "5-LOW"),
         (4, 1, "F", "1-URGENT"),
         (5, 2, "O", "3-MEDIUM"),
         (6, 3, "F", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_orderpriority string",
    )
    got = {(r.op, r.custkey): r.multiplicity
           for r in sqlsurface.bag_setops(orders).collect()}
    assert got == {("intersect_all", 1): 1, ("except_all", 1): 2,
                   ("except_all", 2): 1}


def test_pivot_native_matches_manual_case_when(spark, sf_dir):
    """The native pivot must equal the CASE-WHEN pivot cell for cell
    on the count columns."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    native = {r.day: (r.click_n, r.purchase_n)
              for r in an.pivot_native(events).collect()}
    manual = {r.day: (r.cnt_click, r.cnt_purchase)
              for r in an.event_type_pivot(events).collect()}
    assert native == manual


def test_map_rollup_roundtrip_lossless(spark, sf_dir):
    """Exploded map content equals the direct (day, type) aggregate."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    got = {(r.day, r.event_type): r.n for r in an.map_rollup(events).collect()}
    direct = {(r.day, r.event_type): r.n
              for r in events.groupBy(
                  F.to_date("ts").cast("string").alias("day"), "event_type"
              ).agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == direct


def test_diff_in_diff_cancels_shared_trend(spark):
    """Both groups rise 50pp post; treated rises an EXTRA 25pp ->
    DiD isolates +2500bp while raw post-pre for treated is 7500."""
    rows, eid = [], 0
    # pre period: day 1-2; post: day 9-10 (midpoint day ~5)
    # control (even users 2,4,6,8): pre conv 1/4, post conv 3/4
    # treated (odd users 1,3,5,7): pre conv 0/4, post conv 3/4
    def add(u, day, conv):
        nonlocal eid
        rows.append((eid, f"2024-01-{day:02d} 10:00:00", u,
                     "purchase" if conv else "view", 1.0)); eid += 1
    for u, conv in [(2, True), (4, False), (6, False), (8, False)]:
        add(u, 1, conv)
    for u, conv in [(1, False), (3, False), (5, False), (7, False)]:
        add(u, 2, conv)
    for u, conv in [(2, True), (4, True), (6, True), (8, False)]:
        add(u, 9, conv)
    for u, conv in [(1, True), (3, True), (5, True), (7, False)]:
        add(u, 10, conv)
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "to_timestamp(ts) AS ts", "user_id",
                 "event_type", "value")
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an
    r = an.diff_in_diff(df).collect()[0]
    assert (r.control_pre_bp, r.control_post_bp) == (2500, 7500)
    assert (r.treated_pre_bp, r.treated_post_bp) == (0, 7500)
    assert r.did_bp == 2500


def test_date_dim_spans_and_flags(spark):
    rows = [(0, "2024-01-05 10:00:00", 1, "view", 1.0),
            (1, "2024-01-08 10:00:00", 1, "view", 1.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "to_timestamp(ts) AS ts", "user_id",
                 "event_type", "value")
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an
    out = {r.day: (r.dow, r.is_weekend) for r in an.date_dim(df).collect()}
    assert len(out) == 4  # Jan 5..8 inclusive
    assert out["2024-01-06"] == (7, True)   # Saturday
    assert out["2024-01-07"] == (1, True)   # Sunday
    assert out["2024-01-08"] == (2, False)  # Monday


def test_abc_classes_partition_revenue(spark, sf_dir):
    """A+B+C must partition all parts and sum to the full revenue;
    A's share must be at least 80% minus one part's worth."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rows = {r.abc: r for r in an.abc_classification(li).collect()}
    total_parts = li.select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in rows.values()) == total_parts
    assert rows["A"].share_bp >= 7000  # head holds the bulk
    assert sum(r.share_bp for r in rows.values()) >= 9998  # bp rounding


def test_pareto_8020_bounds(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    r = an.pareto_8020(load_table(spark, sf_dir, "orders")).collect()[0]
    assert 0 < r.customers_for_80pct <= r.n_customers
    assert 2000 <= r.top20_share_bp <= 10000


def test_price_index_flat_prices_is_one(spark):
    """Same unit price in both halves -> index exactly 10000 e4."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    rows = [
        (1, 2.0, 10.00, "2024-01-01"), (1, 4.0, 20.00, "2024-03-01"),
        (2, 1.0, 7.00, "2024-01-02"), (2, 3.0, 21.00, "2024-03-02"),
    ]
    li = spark.createDataFrame(
        rows, "l_partkey long, l_quantity double, l_extendedprice double, d string"
    ).selectExpr("l_partkey", "l_quantity", "l_extendedprice",
                 "to_timestamp(d) AS l_shipdate")
    r = an.price_index_laspeyres(li).collect()[0]
    assert r.index_e4 == 10000


def test_rapid_reorders_window_and_delta(spark):
    """Pairs within 3 days flagged with exact relative delta; pairs
    outside the window or across customers are not."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    orders = spark.createDataFrame(
        [(1, 7, 100.00, "2024-01-01"), (2, 7, 100.00, "2024-01-02"),
         (3, 7, 110.00, "2024-01-10"),   # outside window of 1/2
         (4, 8, 100.00, "2024-01-02")],  # other customer
        "o_orderkey long, o_custkey long, o_totalprice double, d string",
    ).selectExpr("o_orderkey", "o_custkey", "o_totalprice",
                 "to_timestamp(d) AS o_orderdate")
    rows = an.rapid_reorders(orders).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.k1, r.k2, r.gap_days, r.amount_delta_bp) == (1, 2, 1, 0)


def test_basket_entropy_uniform_two_cats(spark):
    """An order with two equally-weighted categories has entropy
    exactly 1 bit (two 500-millibit terms)."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    li = spark.createDataFrame(
        [(1, 0), (1, 1)], "l_orderkey long, l_partkey long"
    )
    r = an.basket_entropy(li).collect()[0]
    assert r.n_items == 2 and r.mean_entropy_mb == 1000


def test_mix_rate_decomposition_reconciles(spark, sf_dir):
    """mix + rate + interaction must equal c1 - c0 EXACTLY for every
    priority segment."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    rows = an.mix_rate_decomposition(
        load_table(spark, sf_dir, "orders")
    ).collect()
    assert rows
    for r in rows:
        assert (
            r.mix_cents + r.rate_cents + r.interaction_cents
            == r.c1 - r.c0
        )


def test_repeat_purchase_curve_monotone_survivors(spark):
    """Survivor counts never increase with n; known counts pin the
    retention steps."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    rows = []
    eid = 0
    # users: 3 with 1 purchase, 2 with 2, 1 with 3
    for u, k in [(1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 3)]:
        for i in range(k):
            rows.append((eid, f"2024-01-0{1+i} 10:00:00", u,
                         "purchase", 1.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "to_timestamp(ts) AS ts", "user_id",
                 "event_type", "value")
    out = {r.n: (r.users_at_n, r.repeat_bp)
           for r in an.repeat_purchase_curve(df).collect()}
    assert out[1] == (6, 5000)   # 3 of 6 reach a 2nd purchase
    assert out[2] == (3, 3333)   # 1 of 3 reaches a 3rd
    assert out[3][0] == 1 and out[3][1] is None


def test_lorenz_deciles_equality_and_monotone(spark):
    """Equal spenders give the perfect-equality diagonal (1000,
    2000, ..., 10000); shares are monotone by construction."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    orders = spark.createDataFrame(
        [(k, 100.0) for k in range(20)],
        "o_custkey long, o_totalprice double",
    )
    out = {r.decile: r.cum_share_bp
           for r in an.lorenz_deciles(orders).collect()}
    assert out == {d: d * 1000 for d in range(1, 11)}


def test_quarterly_growth_sign_guarded(spark):
    """Revenue 100 -> 150 -> 75: QoQ +5000 bp then -5000 bp."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    rows = [(1, 100.0, "1995-01-15"), (2, 150.0, "1995-04-15"),
            (3, 75.0, "1995-07-15")]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, d string"
    ).selectExpr("o_orderkey", "o_totalprice",
                 "to_timestamp(d) AS o_orderdate")
    out = {(r.y, r.q): r.qoq_bp
           for r in an.quarterly_growth(orders).collect()}
    assert out[(1995, 1)] is None
    assert out[(1995, 2)] == 5000
    assert out[(1995, 3)] == -5000


def test_yoy_monthly_cancels_seasonality(spark):
    """Jan 1996 vs Jan 1995 compares like months: +10000 bp on a
    doubling."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    rows = [(1, 100.0, "1995-01-10"), (2, 200.0, "1996-01-10"),
            (3, 500.0, "1995-06-10")]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, d string"
    ).selectExpr("o_orderkey", "o_totalprice",
                 "to_timestamp(d) AS o_orderdate")
    out = [(r.y, r.m, r.yoy_bp)
           for r in an.yoy_monthly_growth(orders).collect()]
    assert out == [(1996, 1, 10000)]


def test_customer_momentum_signs(spark):
    """One rising, one falling, one flat-ineligible customer."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    rows = []
    # customer 1 rising: 100, 200, 300 across months
    for i, v in enumerate([100.0, 200.0, 300.0]):
        rows.append((len(rows), 1, v, f"1995-0{i+1}-10"))
    # customer 2 falling
    for i, v in enumerate([300.0, 200.0, 100.0]):
        rows.append((len(rows), 2, v, f"1995-0{i+1}-10"))
    # customer 3: only two orders -> not fittable (n >= 3)
    for i, v in enumerate([100.0, 100.0]):
        rows.append((len(rows), 3, v, f"1995-0{i+1}-10"))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, d string"
    ).selectExpr("o_orderkey", "o_custkey", "o_totalprice",
                 "to_timestamp(d) AS o_orderdate")
    r = an.customer_momentum(orders).collect()[0]
    assert (r.n_fit, r.n_up, r.n_down) == (2, 1, 1)
    assert r.rising_bp == 5000 and r.falling_bp == 5000


def test_hhi_single_supplier_maxes(spark):
    """One supplier per nation -> HHI exactly 1e4 and effective
    count 1.00."""
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    li = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 7.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double",
    )
    supp = spark.createDataFrame(
        [(10, 0), (20, 1)], "s_suppkey long, s_nationkey long"
    )
    nat = spark.createDataFrame(
        [(0, "A"), (1, "B")], "n_nationkey long, n_name string"
    )
    out = {r.n_name: (r.hhi_e4, r.effective_e2)
           for r in an.hhi_by_nation(li, supp, nat).collect()}
    assert out["A"] == (10000, 100)
    assert out["B"] == (10000, 100)


def test_ranked_cumsum_matches_naive_global_window(spark):
    """The range-bucketed two-pass cumulative sum must be byte-identical
    to the naive single-partition window, including cross-bucket rank
    continuity and key tie-breaks, in both directions — and its per-row
    window must partition by bucket (bounded state at 100 TB)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    # duplicate values across the bucket boundary + a constant run
    rows = [(k, v) for k, v in enumerate([5, 5, 5, 1, 9, 9, 2, 7, 3, 3])]
    per = spark.createDataFrame(rows, "k long, v long")
    for descending in (True, False):
        got = {
            r.k: (r.rk, r.cum, r.total, r.n)
            for r in an.ranked_cumsum(
                per, "v", "k", descending=descending, n_buckets=4
            ).collect()
        }
        vdir = F.desc("v") if descending else F.asc("v")
        w = Window.orderBy(vdir, F.asc("k"))
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tot = Window.partitionBy()
        want = {
            r.k: (r.rk, r.cum, r.total, r.n)
            for r in per.select(
                "k",
                F.row_number().over(w).alias("rk"),
                F.sum("v").over(run).alias("cum"),
                F.sum("v").over(tot).alias("total"),
                F.count(F.lit(1)).over(tot).alias("n"),
            ).collect()
        }
        assert got == want, descending
    # the per-row window is partitioned (by _bkt), never global
    df = an.ranked_cumsum(per, "v", "k", n_buckets=4)
    phys = df._jdf.queryExecution().executedPlan().toString()
    for line in phys.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(_bkt" in line, line


def test_sessionize_segmented_identity_hot_user(spark):
    """SOAK_r11: the segmented (bucket_width_minutes) sessionize must
    emit exactly the single-window plan's sessions — hot user, sessions
    spanning bucket boundaries, empty bucket gaps, ties broken by
    event_id."""
    import random

    rnd = random.Random(13)
    rows = []
    eid = 0
    for i in range(3000):
        u = 0 if i % 5 < 3 else 1 + (i % 4)  # user 0 hot (~60%)
        # minutes over ~3 days; clusters + long gaps
        base_min = rnd.randrange(0, 3 * 24 * 60)
        for k in range(rnd.randrange(1, 4)):
            rows.append((eid, u, base_min * 60 + k * 17))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, sec bigint"
    ).select(
        "event_id", "user_id", F.timestamp_seconds("sec").alias("ts")
    )
    from data_lake_for_citi_bike_trip_spark.operators import analytics as an

    plain = an.sessionize(df, gap_minutes=30)
    seg = an.sessionize(df, gap_minutes=30, bucket_width_minutes=120)
    assert sorted(plain.columns) == sorted(seg.columns)
    diff = seg.exceptAll(plain).count() + plain.exceptAll(seg).count()
    assert diff == 0, f"{diff} mismatched session rows"


def test_asof_segmented_null_key_rows_survive(spark):
    """ADVICE r11 (medium): segmented carry joins must be NULL-safe —
    NULL-key left rows form a real window partition in the single-window
    plan and must both SURVIVE and MATCH NULL-key right history in the
    segmented plan."""
    left = spark.createDataFrame(
        [(None, 100.0), (None, 250.0), (1, 100.0), (None, 900.0), (1, 900.0)],
        "k int, ts double",
    )
    right = spark.createDataFrame(
        [(None, 50.0, 10.0), (None, 200.0, 20.0), (1, 80.0, 30.0),
         (None, 800.0, 40.0), (1, 850.0, 50.0)],
        "k int, ts double, v double",
    )
    for direction in ("backward", "forward", "nearest"):
        plain = asof.asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], direction=direction,
        )
        seg = asof.asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], direction=direction, bucket_width=300.0,
        )
        assert seg.count() == left.count(), (
            f"direction={direction}: segmented plan dropped NULL-key rows"
        )
        diff = seg.exceptAll(plain).count() + plain.exceptAll(seg).count()
        assert diff == 0, f"direction={direction}: {diff} mismatched rows"


def test_sessionize_segmented_null_user_rows_survive(spark):
    """ADVICE r11 (medium): NULL user_id events sessionize as one NULL
    'user' in the single-window plan; the segmented plan's null-safe
    carry joins must keep them and emit identical sessions."""
    rows = []
    for i in range(60):
        u = None if i % 3 == 0 else i % 2
        rows.append((i, u, i * 600 + (i % 7) * 11))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, sec bigint"
    ).select("event_id", "user_id", F.timestamp_seconds("sec").alias("ts"))
    plain = analytics.sessionize(df, gap_minutes=30)
    seg = analytics.sessionize(df, gap_minutes=30, bucket_width_minutes=60)
    assert (
        seg.agg(F.sum("n_events")).collect()[0][0]
        == plain.agg(F.sum("n_events")).collect()[0][0]
        == 60
    ), "segmented plan dropped NULL-user events"
    diff = seg.exceptAll(plain).count() + plain.exceptAll(seg).count()
    assert diff == 0, f"{diff} mismatched session rows"


def test_sessionize_auto_chooser_picks_segmented_on_hot_user(spark, monkeypatch):
    """VERDICT r11 item 1: with NO new caller params, sessionize must
    pick the segmented plan when the per-user histogram crosses the
    crossover (threshold lowered here to toy scale), stay single-window
    below it, and emit identical sessions either way."""
    import random

    from data_lake_for_citi_bike_trip_spark import caching

    rnd = random.Random(17)
    rows = []
    for i in range(4000):
        u = 0 if i % 10 < 6 else 1 + (i % 7)  # user 0 hot (~60%)
        rows.append((i, u, rnd.randrange(0, 3 * 24 * 3600)))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, sec bigint"
    ).select("event_id", "user_id", F.timestamp_seconds("sec").alias("ts"))

    plan_default = analytics.sessionize(df)._jdf.queryExecution().analyzed().toString()
    assert "__off" not in plan_default, (
        "flat-ish corpus below threshold must keep the single-window plan"
    )

    monkeypatch.setattr(analytics, "SESSIONIZE_HOT_MIN_ROWS", 1000)
    auto = analytics.sessionize(df)
    plan_auto = auto._jdf.queryExecution().analyzed().toString()
    assert "__off" in plan_auto, (
        "hot corpus past threshold must auto-pick the segmented plan"
    )
    plain = analytics.sessionize(df, auto_segment=False)
    assert "__off" not in plain._jdf.queryExecution().analyzed().toString()
    diff = auto.exceptAll(plain).count() + plain.exceptAll(auto).count()
    assert diff == 0, f"{diff} mismatched session rows"
    caching.release_caches()


def test_asof_auto_chooser_picks_segmented_on_hot_key(spark, monkeypatch):
    """VERDICT r11 item 1, as-of flavor: auto-segmentation from the
    per-key histogram and identity with the single-window plan."""
    import random

    from data_lake_for_citi_bike_trip_spark import caching

    rnd = random.Random(19)
    left_rows = [(0 if i % 10 < 6 else 1 + (i % 5),
                  float(rnd.randrange(0, 10_000))) for i in range(3000)]
    right_rows = [(0 if i % 10 < 6 else 1 + (i % 5),
                   float(rnd.randrange(0, 10_000)) + i * 1e-3,
                   float(i)) for i in range(900)]
    left = spark.createDataFrame(left_rows, "k int, ts double")
    right = spark.createDataFrame(right_rows, "k int, ts double, v double")

    monkeypatch.setattr(asof, "ASOF_HOT_MIN_ROWS", 1000)
    auto = asof.asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["v"]
    )
    assert "__cin_v" in auto._jdf.queryExecution().analyzed().toString(), (
        "hot key past threshold must auto-pick the segmented plan"
    )
    plain = asof.asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_cols=["v"], auto_segment=False,
    )
    diff = auto.exceptAll(plain).count() + plain.exceptAll(auto).count()
    assert diff == 0, f"{diff} mismatched rows"
    caching.release_caches()


def test_alsobought_hitrate_counts_and_empty_test_half(spark):
    """Pins the r16 single-pass restructure: n_hits comes from a
    match-marker count over ONE left join (top's (p, q) rows are
    unique, so the probe neither drops nor duplicates), replacing the
    semi-join + separate counts. Hand-checked fixture:

    train half (days 1-2): orders {1: [10, 11], 2: [10, 11, 12]}
      pairs: (10,11)x2 votes, (10,12), (11,12), + mirrors
      top-3 per part covers all pairs -> trained parts {10, 11, 12}
    test half (days 3-4): orders {3: [10, 11], 4: [10, 13]}
      test pairs: (10,11), (11,10), (10,13), (13,10) -> n_test = 4
      hits: (10,11) and (11,10) trained -> n_hits = 2
    """
    rows = [
        (1, 10, "1992-01-01"), (1, 11, "1992-01-01"),
        (2, 10, "1992-01-02"), (2, 11, "1992-01-02"), (2, 12, "1992-01-02"),
        (3, 10, "1992-01-04"), (3, 11, "1992-01-04"),
        (4, 10, "1992-01-04"), (4, 13, "1992-01-04"),
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate string"
    )
    try:
        out = analytics.alsobought_hitrate(li, k=3).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_trained_parts == 3
        assert r.n_test_pairs == 4
        assert r.n_hits == 2
        assert r.hitrate_bp == 5000

        # single-day input: mid == that day, every row lands in the
        # train half, the test half is empty — the n_test > 0 guard
        # must yield zero rows, not a divide-by-zero
        one_day = li.where(F.col("l_shipdate") == "1992-01-01")
        assert analytics.alsobought_hitrate(one_day, k=3).count() == 0
    finally:
        from data_lake_for_citi_bike_trip_spark import caching
        caching.release_caches()
