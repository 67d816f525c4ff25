"""Behavior-analytics semantics: funnel ordering, cohort triangle shape,
Markov row-stochasticity."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import behavior


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type")


def test_funnel_requires_strict_order(spark):
    # u1: view -> click -> purchase (all steps)
    # u2: click BEFORE view -> click does not count, purchase after view
    #     but with no qualifying click -> stops at step 1
    # u3: view -> click, purchase before click -> stops at step 2
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:01:00", 1, "click"),
        (3, "2024-01-01 10:02:00", 1, "purchase"),
        (4, "2024-01-01 09:00:00", 2, "click"),
        (5, "2024-01-01 10:00:00", 2, "view"),
        (6, "2024-01-01 11:00:00", 2, "purchase"),
        (7, "2024-01-01 10:00:00", 3, "view"),
        (8, "2024-01-01 10:05:00", 3, "click"),
        (9, "2024-01-01 10:01:00", 3, "purchase"),
    ]
    out = {r.step: r.users for r in behavior.funnel_counts(_events(spark, rows)).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_cohort_offsets_and_rates(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-03 10:00:00", 1, "view"),
        (3, "2024-01-01 11:00:00", 2, "view"),
        (4, "2024-01-02 09:00:00", 3, "view"),
    ]
    out = {
        (r.cohort_day, r.offset_days): (r.active_users, r.cohort_users, r.retention_e4)
        for r in behavior.cohort_retention(_events(spark, rows)).collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2, 10000)
    assert out[("2024-01-01", 2)] == (1, 2, 5000)
    assert out[("2024-01-02", 0)] == (1, 1, 10000)


def test_markov_probabilities_sum_to_one_ish(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    out = behavior.markov_transitions(load_table(spark, sf_dir, "events"))
    sums = (
        out.groupBy("from_type")
        .agg(F.sum("prob_e4").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in sums:
        # integer floor division: sum in (10000 - n_buckets, 10000]
        assert 10000 - r.n < r.s <= 10000


def test_trailing_distinct_matches_bruteforce(spark, sf_dir):
    from collections import defaultdict
    from datetime import timedelta

    from data_lake_for_citi_bike_trip_spark.operators import behavior
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    rows = events.select("user_id", "ts").collect()
    by_day = defaultdict(set)
    for r in rows:
        by_day[r.ts.date()].add(r.user_id)
    expect = {}
    for end in by_day:
        users = set()
        for d in range(7):
            users |= by_day.get(end - timedelta(days=d), set())
        expect[str(end)] = len(users)
    got = {
        r.window_end: r.n_users
        for r in behavior.trailing_distinct_users(events).collect()
    }
    assert got == expect


def test_peak_concurrency_matches_bruteforce_sweep(spark, sf_dir):
    from collections import defaultdict

    from data_lake_for_citi_bike_trip_spark.operators import behavior
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    rows = sorted(
        ((r.user_id, r.ts, r.event_id) for r in events.collect()),
        key=lambda t: (t[0], t[1], t[2]),
    )
    # python sessionize
    sessions = []
    cur = {}
    for uid, ts, _eid in rows:
        us = int(ts.timestamp() * 1_000_000)
        if uid in cur and us - cur[uid][1] <= 30 * 60 * 1_000_000:
            cur[uid] = (cur[uid][0], us)
        else:
            if uid in cur:
                sessions.append(cur[uid])
            cur[uid] = (us, us)
    sessions.extend(cur.values())
    marks = [(s, 1) for s, _ in sessions] + [(e + 1, -1) for _, e in sessions]
    marks.sort()
    open_now, peak = 0, defaultdict(int)
    import datetime

    for us, d in marks:
        open_now += d
        day = datetime.datetime.fromtimestamp(us / 1e6, datetime.UTC).strftime(
            "%Y-%m-%d"
        )
        peak[day] = max(peak[day], open_now)
    got = {
        r.day: r.peak_open_sessions
        for r in behavior.peak_concurrency(events).collect()
    }
    assert got == dict(peak)


def test_near_dup_chain_semantics(spark):
    from data_lake_for_citi_bike_trip_spark.operators import behavior

    rows = [
        (1, "c", "2024-01-01 00:00:00", 1),
        (1, "c", "2024-01-01 00:04:00", 2),  # dup of 1 (4 min)
        (1, "c", "2024-01-01 00:09:00", 3),  # dup of 2 (5 min) — chain
        (1, "c", "2024-01-01 01:00:00", 4),  # fresh
        (2, "c", "2024-01-01 00:00:00", 5),
    ]
    events = spark.createDataFrame(
        [(u, t, __import__("datetime").datetime.fromisoformat(ts), e) for u, t, ts, e in rows],
        "user_id bigint, event_type string, ts timestamp, event_id bigint",
    )
    got = {
        (r.user_id, r.event_type): (r.n_events, r.n_dups)
        for r in behavior.near_dup_events(events).collect()
    }
    assert got == {(1, "c"): (4, 2)}


def test_cep_intervening_error_truncates_match_window(spark):
    import datetime as dt

    from data_lake_for_citi_bike_trip_spark.operators import behavior

    def t(minute):
        return dt.datetime(2024, 1, 1, 10, minute, 0)

    rows = [
        # user 1: error@0, error@10, purchase@20 -> only the SECOND
        # error matches (the first is truncated by the intervening one)
        (1, 1, t(0), "error"),
        (1, 2, t(10), "error"),
        (1, 3, t(20), "purchase"),
        # user 2: error@0, purchase@30 inside the hour, no other error
        (2, 4, t(0), "error"),
        (2, 5, t(30), "purchase"),
        # user 3: purchase arrives after the 60-min window
        (3, 6, dt.datetime(2024, 1, 1, 8, 0, 0), "error"),
        (3, 7, dt.datetime(2024, 1, 1, 9, 30, 0), "purchase"),
    ]
    events = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    got = {
        r.user_id: (r.n_recovered_errors, r.n_recovery_purchases)
        for r in behavior.cep_error_recovery(events).collect()
    }
    assert got == {1: (1, 1), 2: (1, 1)}


def test_debounce_greedy_chain(spark):
    import datetime as dt

    from data_lake_for_citi_bike_trip_spark.operators import behavior

    def t(minute):
        return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(minutes=minute)

    # gaps of 70, 70, 200 min with refractory 120: greedy keeps
    # events at 0 and 140 and 340 (the 70-min one is suppressed, which
    # SHIFTS the anchor — a windowed lag-check would get this wrong)
    rows = [(1, i, t(m)) for i, m in enumerate([0, 70, 140, 340])]
    events = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp"
    )
    got = behavior.debounce_events(events).collect()[0]
    assert (got.n_events, got.n_kept, got.kept_ids) == (4, 3, "0>2>3")


def test_last_touch_attribution_window_and_ties(spark):
    """Boundary semantics: a touch exactly at the lookback edge counts,
    one micro-second older is 'direct'; same-timestamp touches resolve
    by event_id; touches AFTER the purchase never attribute."""
    from data_lake_for_citi_bike_trip_spark.operators import behavior

    h24 = 24 * 3600 * 1_000_000
    rows = [
        # u1: click at edge exactly -> attributed to click
        (1, 1, 0 + 0, "click", 0.0, None),
        (2, 1, h24, "purchase", 1.0, None),
        # u2: view one us beyond the edge -> direct
        (3, 2, 0, "view", 0.0, None),
        (4, 2, h24 + 1, "purchase", 1.0, None),
        # u3: same-ts click(id=5) and view(id=6) before purchase ->
        # higher event_id (view) is the LAST touch
        (5, 3, 100, "click", 0.0, None),
        (6, 3, 100, "view", 0.0, None),
        (7, 3, 200, "purchase", 1.0, None),
        # u4: touch after the purchase -> direct
        (8, 4, 300, "purchase", 1.0, None),
        (9, 4, 400, "click", 0.0, None),
    ]
    events = spark.createDataFrame(
        [(eid, u, t, et, v, p) for eid, u, t, et, v, p in rows],
        "event_id bigint, user_id bigint, us bigint, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    got = {
        r.channel: (r.n_purchases, r.n_users)
        for r in behavior.last_touch_attribution(events).collect()
    }
    assert got == {"click": (1, 1), "view": (1, 1), "direct": (2, 2)}, got


def test_capped_running_sum_clamps_both_bounds(spark):
    """Hand walk with cap=100: +80, +80 (clamps to 100, forgetting 60),
    purchase -3*50=-150 (clamps to 0, forgetting -50), +30 -> 30.
    A plain cumsum would say 80+80-150+30 = 40 — the clamp history
    matters, which is exactly why this is not window-expressible."""
    from data_lake_for_citi_bike_trip_spark.operators import behavior

    rows = [
        (1, 1_000_000, 7, "click", 0.80),
        (2, 2_000_000, 7, "view", 0.80),
        (3, 3_000_000, 7, "purchase", 0.50),
        (4, 4_000_000, 7, "click", 0.30),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, us bigint, user_id bigint, event_type string, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"),
             "user_id", "event_type", "value")
    r = behavior.capped_running_sum(df, cap=100).first()
    assert (r.user_id, r.n_events, r.final_balance, r.n_sat_hi, r.n_sat_lo) == (
        7, 4, 30, 1, 1
    )


def test_interval_union_merges_overlaps_once(spark):
    """Three overlapping 5-min intervals (0, 2, 4 min) form one island
    of 9 min; a later isolated interval adds its own 5 — naive duration
    summing would say 20 min, the union says 14."""
    from data_lake_for_citi_bike_trip_spark.operators import intervals

    mins = [0, 2, 4, 60]
    rows = [(i, m * 60_000_000, 5, "click", 1.0) for i, m in enumerate(mins)]
    df = spark.createDataFrame(
        rows, "event_id bigint, us bigint, user_id bigint, event_type string, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"),
             "user_id", "event_type", "value")
    r = intervals.interval_union_length(df).first()
    assert (r.n_islands, r.covered_us) == (2, (9 + 5) * 60_000_000)


def test_rfm_scores_orientation_and_ties(spark):
    """10 users with strictly increasing frequency/monetary and
    DECREASING recency: the best customer (freshest, most frequent,
    biggest spend) must score 555 and the worst 111; quintile buckets
    hold 2 users each."""
    from data_lake_for_citi_bike_trip_spark.operators import behavior

    rows = []
    eid = 0
    for u in range(1, 11):
        # user u: u purchases of u dollars each, last on day u
        for i in range(u):
            rows.append((eid, (19723 + u - 1) * 86400_000_000 + i,
                         u, "purchase", float(u)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, us bigint, user_id bigint, event_type string, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"),
             "user_id", "event_type", "value")
    got = {r.user_id: r.rfm_segment for r in behavior.rfm_scores(df).collect()}
    assert got[10] == "555"  # freshest (recency 0), most frequent, biggest
    assert got[1] == "111"   # stalest, least frequent, smallest
    assert got[5][1] == "3"  # middle quintile for frequency


def test_position_attribution_credit_shapes(spark):
    """n=1 -> 10000; n=2 -> 5000/5000; n=5 -> 4000 + (668,666,666) +
    4000, remainder pinned to the earliest interior touch; every
    conversion's credit sums to exactly 10000."""
    rows = []
    # user 1: one click then purchase (all on a Monday)
    rows += [(0, "2024-01-01 10:00:00", 1, "click"),
             (1, "2024-01-01 11:00:00", 1, "purchase")]
    # user 2: two clicks then purchase
    rows += [(2, "2024-01-01 10:00:00", 2, "click"),
             (3, "2024-01-01 10:30:00", 2, "click"),
             (4, "2024-01-01 11:00:00", 2, "purchase")]
    # user 3: five clicks then purchase; clicks after purchase ignored
    rows += [(5 + i, f"2024-01-01 10:0{i}:00", 3, "click")
             for i in range(5)]
    rows += [(10, "2024-01-01 11:00:00", 3, "purchase"),
             (11, "2024-01-01 12:00:00", 3, "click")]
    out = behavior.position_attribution(_events(spark, rows)).collect()
    # all clicks are Monday -> Spark dayofweek = 2 -> one output row
    assert len(out) == 1
    r = out[0]
    assert r.click_dow == 2
    assert r.n_touches == 8
    # 10000 (u1) + 10000 (u2) + 10000 (u3); u3 = 4000+668+666+666+4000
    assert r.credit_bp_total == 30000


def test_position_attribution_interior_remainder(spark):
    """The 2000-bp interior pool divides 668/666/666 for n=5 (remainder
    2 to the earliest interior click)."""
    rows = [(i, f"2024-01-01 10:0{i}:00", 7, "click") for i in range(5)]
    rows.append((9, "2024-01-01 11:00:00", 7, "purchase"))
    df = _events(spark, rows)
    from pyspark.sql import Window
    p0 = (df.where(F.col("event_type") == "purchase")
            .groupBy("user_id").agg(F.min("ts").alias("p0")))
    touches = (df.where(F.col("event_type") == "click")
                 .join(p0, "user_id").where(F.col("ts") <= F.col("p0")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = touches.select(
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"))
    credits = sorted(
        (r.rn, (10000 if r.n == 1 else 5000 if r.n == 2 else
                4000 if r.rn in (1, r.n) else
                2000 // (r.n - 2) + (2000 % (r.n - 2) if r.rn == 2 else 0)))
        for r in ranked.collect())
    assert [c for _, c in credits] == [4000, 668, 666, 666, 4000]
    assert sum(c for _, c in credits) == 10000


def test_ltv_cohort_triangle_and_cumulative(spark):
    """Two weekly cohorts; revenue lands on the right (cohort, age)
    cell and the cumulative runs down the age axis."""
    rows = [
        # user 1 first seen week of Jan 1; buys week 0 and week 1
        (0, "2024-01-01 10:00:00", 1, "purchase", 1.00),
        (1, "2024-01-09 10:00:00", 1, "purchase", 2.00),
        # user 2 first seen (view) Jan 2, buys a week later
        (2, "2024-01-02 10:00:00", 2, "view", 0.0),
        (3, "2024-01-10 10:00:00", 2, "purchase", 4.00),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "to_timestamp(ts) AS ts", "user_id",
                 "event_type", "value")
    out = {(r.cohort_w, r.age_weeks): (r.n_buyers, r.rev_cents, r.cum_rev_cents)
           for r in behavior.ltv_cohort(df).collect()}
    # Jan 1 2024 and Jan 2 are the same epoch week (w = 2817); Jan 9/10
    # are the next. Both users share the cohort.
    [(c0, a0)] = [k for k in out if k[1] == 0]
    assert out[(c0, 0)] == (1, 100, 100)
    assert out[(c0, 1)] == (2, 600, 700)


def test_new_vs_returning_split(spark):
    """User 1 active on two days: new on day 1, returning on day 2;
    user 2 new on day 2."""
    rows = [(0, "2024-01-01 10:00:00", 1, "view"),
            (1, "2024-01-02 10:00:00", 1, "view"),
            (2, "2024-01-02 11:00:00", 2, "view")]
    out = {r.day: (r.n_active, r.n_new, r.n_returning, r.new_share_bp)
           for r in behavior.new_vs_returning(_events(spark, rows)).collect()}
    assert out["2024-01-01"] == (1, 1, 0, 10000)
    assert out["2024-01-02"] == (2, 1, 1, 5000)


def test_inactivity_profile_cumulative(spark):
    """Last-seen gaps 0,0,2 days -> histogram rows (0,2),(2,1) with
    cumulative 6666 then 10000 bp."""
    rows = [(0, "2024-01-01 10:00:00", 1, "view"),
            (1, "2024-01-03 10:00:00", 1, "view"),
            (2, "2024-01-03 11:00:00", 2, "view"),
            (3, "2024-01-01 09:00:00", 3, "view")]
    out = {r.days_inactive: (r.n_users, r.cum_share_bp)
           for r in behavior.inactivity_profile(_events(spark, rows)).collect()}
    assert out[0] == (2, 6666)
    assert out[2] == (1, 10000)


def test_decay_attribution_recency_weighting(spark):
    """Two clicks, 0 and 2 days before purchase: weights 2^30 and
    2^28 -> shares 8000/2000 bp."""
    rows = [(0, "2024-01-01 10:00:00", 1, "click"),
            (1, "2024-01-03 10:00:00", 1, "click"),
            (2, "2024-01-03 11:00:00", 1, "purchase")]
    out = {r.click_dow: r.credit_bp_total
           for r in behavior.decay_attribution(_events(spark, rows)).collect()}
    # Jan 1 2024 is Monday (dow 2), Jan 3 Wednesday (dow 4)
    assert out[2] == 2000
    assert out[4] == 8000


def test_session_ordinal_conversion(spark):
    """User with two sessions (gap > 30 min), purchase only in the
    second: ordinal 1 converts 0/1, ordinal 2 converts 1/1."""
    rows = [(0, "2024-01-01 10:00:00", 1, "view"),
            (1, "2024-01-01 10:10:00", 1, "click"),
            (2, "2024-01-01 12:00:00", 1, "purchase"),
            (3, "2024-01-01 09:00:00", 2, "view")]
    out = {r.ordinal: (r.n_sessions, r.n_converted, r.conv_bp)
           for r in behavior.conversion_by_session_ordinal(
               _events(spark, rows)).collect()}
    assert out[1] == (2, 0, 0)   # user 1 session 1 + user 2 session 1
    assert out[2] == (1, 1, 10000)


def test_segment_migration_absent_users(spark):
    """A user who only spends post-midpoint lands in (-1, seg) —
    matrix rows conserve the user universe of spenders."""
    rows = []
    eid = 0
    # pre-half spenders (days 1-5 of a 1..29 span): users 1,2,3
    for u, v in [(1, 1.0), (2, 5.0), (3, 9.0)]:
        rows.append((eid, f"2024-01-0{u} 10:00:00", u, "purchase", v)); eid += 1
    # post-half: users 2,3,4 (user 1 churns, user 4 enters)
    for u, v in [(2, 9.0), (3, 1.0), (4, 5.0)]:
        rows.append((eid, f"2024-01-2{u} 10:00:00", u, "purchase", v)); eid += 1
    # anchor the span so the midpoint splits days as intended
    rows.append((eid, "2024-01-29 10:00:00", 9, "view", 0.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "to_timestamp(ts) AS ts", "user_id",
                 "event_type", "value")
    out = {(r.seg_pre, r.seg_post): r.n_users
           for r in behavior.segment_migration(df).collect()}
    assert sum(out.values()) == 4  # the four spenders
    assert sum(v for (pre, _), v in out.items() if pre == -1) == 1  # user 4
    assert sum(v for (_, post), v in out.items() if post == -1) == 1  # user 1


def test_stickiness_wau_merged_spans(spark):
    """User active day 1 and day 3 (one merged span), another only
    day 1: WAU stays 2 through day 7, DAU varies."""
    rows = [(0, "2024-01-01 10:00:00", 1, "view"),
            (1, "2024-01-03 10:00:00", 1, "view"),
            (2, "2024-01-01 11:00:00", 2, "view"),
            (3, "2024-01-08 11:00:00", 3, "view")]
    out = {r.day: (r.dau, r.wau, r.stickiness_bp)
           for r in behavior.stickiness_ratio(_events(spark, rows)).collect()}
    assert out["2024-01-01"] == (2, 2, 10000)
    assert out["2024-01-03"] == (1, 2, 5000)
    # day 8: users 1/2 windows expired (1's run covers through Jan 9?
    # run of user 1 = days 1..3 -> span [1, 3+6=9]; user 2 span [1,7];
    # user 3 enters day 8 -> WAU(8) = user1 + user3 = 2
    assert out["2024-01-08"] == (1, 2, 5000)


def test_transition_latency_median(spark):
    """Gaps 10s, 20s, 1000s for click->view: lower median 20s."""
    rows = [(0, "2024-01-01 10:00:00", 1, "click"),
            (1, "2024-01-01 10:00:10", 1, "view"),
            (2, "2024-01-01 11:00:00", 2, "click"),
            (3, "2024-01-01 11:00:20", 2, "view"),
            (4, "2024-01-01 12:00:00", 3, "click"),
            (5, "2024-01-01 12:16:40", 3, "view")]
    out = {(r.a, r.b): (r.median_gap_s, r.n_transitions)
           for r in behavior.transition_latency(
               _events(spark, rows)).collect()}
    assert out[("click", "view")] == (20, 3)


def test_user_windows_auto_segment_identity(spark, monkeypatch):
    """SOAK_r12 §4: the three flagged raw-event user-window operators
    must (a) auto-pick their whale-parallel plans past the (lowered)
    threshold and (b) emit output identical to the plain plans —
    including NULL users and event_id tie-breaks."""
    import random

    from data_lake_for_citi_bike_trip_spark import caching
    from data_lake_for_citi_bike_trip_spark.operators import behavior as bh

    rnd = random.Random(23)
    rows = []
    types = ["click", "view", "purchase", "signup", "error"]
    for i in range(5000):
        u = 0 if i % 10 < 6 else (None if i % 10 == 6 else 1 + (i % 7))
        # every 11th event_type NULL: a null-typed SUCCESSOR must stay
        # null in the lookahead (not be papered over by the carry)
        et = None if i % 11 == 0 else types[i % 5]
        rows.append((i, u, rnd.randrange(0, 6 * 24 * 3600), et))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, sec bigint, event_type string"
    ).select(
        "event_id", "user_id",
        F.timestamp_seconds("sec").alias("ts"), "event_type",
    )
    monkeypatch.setattr(bh, "USER_WINDOW_HOT_MIN_ROWS", 1000)
    for op in (
        "user_paths",
        "transition_latency",
        "visit_cadence",
        "markov_transitions",
        "path_trigrams",
    ):
        fn = getattr(bh, op)
        auto = fn(df)
        plain = fn(df, auto_segment=False)
        assert sorted(auto.columns) == sorted(plain.columns), op
        diff = auto.exceptAll(plain).count() + plain.exceptAll(auto).count()
        assert diff == 0, f"{op}: {diff} mismatched rows"
    # and the gate actually fired: the segmented/salted plans differ
    assert (
        bh.user_paths(df).semanticHash()
        != bh.user_paths(df, auto_segment=False).semanticHash()
    )
    caching.release_caches()


def test_user_paths_degenerate_span_still_salts(spark, monkeypatch):
    """ADVICE r12: a whale whose events all share ONE timestamp has a
    degenerate time span (bucket width None), but user_paths' salted
    plan never buckets by time — the row-count-only gate must still
    fire, and output must match the plain plan (event_id breaks every
    tie deterministically)."""
    from data_lake_for_citi_bike_trip_spark import caching
    from data_lake_for_citi_bike_trip_spark.operators import behavior as bh

    rows = [(i, 7, 1_700_000_000, f"t{i % 4}") for i in range(3000)]
    rows += [(10_000 + i, None, 1_700_000_000, "x") for i in range(5)]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, sec bigint, event_type string"
    ).select(
        "event_id", "user_id",
        F.timestamp_seconds("sec").alias("ts"), "event_type",
    )
    monkeypatch.setattr(bh, "USER_WINDOW_HOT_MIN_ROWS", 1000)
    try:
        assert bh._hot_user_width_us(df) is None, (
            "degenerate span unexpectedly produced a bucket width"
        )
        auto = bh.user_paths(df)
        plain = bh.user_paths(df, auto_segment=False)
        assert auto.semanticHash() != plain.semanticHash(), (
            "row-count gate did not fire on a degenerate-span whale"
        )
        diff = auto.exceptAll(plain).count() + plain.exceptAll(auto).count()
        assert diff == 0, f"{diff} mismatched rows"
    finally:
        caching.release_caches()


def test_interval_union_auto_segment_identity(spark, monkeypatch):
    """interval_union_length's island walk behind the shared hot-user
    gate: segmented (running-max-of-ends + island-offset carries) must
    equal the single-window plan — NULL users, NULL timestamps,
    overlapping and back-to-back intervals, event_id ties."""
    import random

    from data_lake_for_citi_bike_trip_spark import caching
    from data_lake_for_citi_bike_trip_spark.operators import behavior as bh
    from data_lake_for_citi_bike_trip_spark.operators import intervals

    rnd = random.Random(29)
    rows = []
    for i in range(4000):
        u = 0 if i % 10 < 6 else (None if i % 10 == 6 else 1 + (i % 5))
        sec = None if i % 97 == 0 else rnd.randrange(0, 2 * 24 * 3600)
        rows.append((i, u, sec))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, sec bigint"
    ).select("event_id", "user_id", F.timestamp_seconds("sec").alias("ts"))
    # VERDICT r12 item 2: the gate is BYTE-based — lower the byte bound
    # so the ~2400-row whale (x96 B/row ~ 230 kB estimated) crosses it
    monkeypatch.setattr(intervals, "INTERVAL_UNION_HOT_BYTES", 50_000)
    auto = intervals.interval_union_length(df)  # auto_segment default
    plain = intervals.interval_union_length(df, auto_segment=False)
    assert "__off" in auto._jdf.queryExecution().analyzed().toString(), (
        "byte gate did not fire on the hot corpus"
    )
    assert "__off" not in (
        plain._jdf.queryExecution().analyzed().toString()
    ), "auto_segment=False must stay plain"
    diff = auto.exceptAll(plain).count() + plain.exceptAll(auto).count()
    assert diff == 0, f"{diff} mismatched rows"
    # below the bound the auto path must pick the measured-faster
    # plain plan (the r12 soak's wall-clock verdict)
    monkeypatch.setattr(intervals, "INTERVAL_UNION_HOT_BYTES", 1 << 30)
    assert "__off" not in (
        intervals.interval_union_length(df)
        ._jdf.queryExecution().analyzed().toString()
    ), "gate fired below the byte bound"
    caching.release_caches()
