from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import analytics
from data_lake_for_citi_bike_trip_spark.sources.registry import load_table


def test_approx_distinct_error_bounded(spark, sf_dir):
    out = analytics.approx_distinct_users(load_table(spark, sf_dir, "events"))
    rows = out.collect()
    assert rows
    for r in rows:
        rel_err = abs(r.approx_users - r.exact_users) / max(r.exact_users, 1)
        assert rel_err <= 0.05, (r.day, r.approx_users, r.exact_users)


def test_approx_distinct_users_ignores_null_user(spark):
    """A NULL user_id is not a user: exact_users matches the oracle's
    COUNT(DISTINCT user_id), and the sketch (which skips NULLs too)
    stays inside its bound."""
    events = _typed_events(
        spark,
        [("view", 1.0, 7, 1), ("view", 1.0, 7, 1), ("buy", 2.0, 8, 1),
         ("view", 1.0, None, 1)],
    )
    rows = analytics.approx_distinct_users(events).collect()
    assert [(r.day, r.exact_users, r.approx_users, r.approx_ok) for r in rows] == [
        ("2024-01-01", 2, 2, True)
    ]


def test_hll_incremental_rollup_matches_direct_sketch(spark, sf_dir):
    """The union of per-hour sketches must estimate the same as one
    direct per-day sketch (mergeability — the property the incremental
    pattern rests on), and the bound flag must hold."""
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.operators import profile
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    out = profile.hll_incremental_distinct(events)
    rows = out.collect()
    assert rows and all(r.hll_ok for r in rows)

    direct = (
        events.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"))
    )
    merged = (
        events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.date_trunc("hour", "ts").alias("hour"),
            "user_id",
        )
        .groupBy("day", "hour")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est"))
    )
    j = direct.join(merged, "day").collect()
    assert j and all(r.direct_est == r.union_est for r in j)


def test_bitmap_distinct_matches_exact_count_distinct(spark, sf_dir):
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import profile
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    got = {
        r.grp: r.n_distinct
        for r in profile.bitmap_distinct(events).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


def test_bitmap_words_merge_exactly_across_shards(spark, sf_dir):
    """bit_or is associative+commutative+idempotent: the word tables of
    two overlapping shards merged with bit_or must reproduce the full
    corpus distinct counts exactly (the rollup story)."""
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import profile
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    # overlapping split: dup rows across both halves exercise idempotence
    a = events.where(F.col("event_id") % 3 != 0)
    b = events.where(F.col("event_id") % 2 == 0)

    def words(df):
        return df.select(
            F.col("event_type").alias("grp"),
            F.expr("user_id div 32").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
            ).alias("mask"),
        ).groupBy("grp", "word").agg(F.bit_or("mask").alias("mask"))

    merged = (
        words(a)
        .unionByName(words(b))
        .groupBy("grp", "word")
        .agg(F.bit_or("mask").alias("mask"))
        .groupBy("grp")
        .agg(F.sum(F.bit_count("mask")).cast("long").alias("n_distinct"))
    )
    got = {r.grp: r.n_distinct for r in merged.collect()}
    full = events.where(
        (F.col("event_id") % 3 != 0) | (F.col("event_id") % 2 == 0)
    )
    exact = {
        r.event_type: r.n
        for r in full.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


def test_corr_pairs_matches_float_corr_and_pins_range(spark, sf_dir):
    """The integer-moments correlation must agree with Spark's own
    float corr to ~1e-4 (one basis point) and stay in [-10000, 10000]."""
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import profile
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = {r.pair: r.corr_bp for r in profile.corr_pairs(li).collect()}
    base = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
        F.weekofyear("l_shipdate").cast("long").alias("z"),
    )
    ref = base.agg(
        F.corr("x", "y").alias("xy"),
        F.corr("x", "z").alias("xz"),
        F.corr("y", "z").alias("yz"),
    ).first()
    for key, rv in (("qty_discount", ref.xy), ("qty_week", ref.xz), ("discount_week", ref.yz)):
        assert abs(got[key]) <= 10000
        assert abs(got[key] - 10000 * rv) <= 1.01, (key, got[key], rv)


def test_phrase_search_counts_consecutive_occurrences(spark):
    from data_lake_for_citi_bike_trip_spark.operators import search

    docs = spark.createDataFrame(
        [
            (1, "table value table value x"),
            (2, "table, value"),  # separator-only gap still adjacent
            (3, "table x value"),
            (4, "value table"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.n_hits for r in search.phrase_search(docs).collect()}
    assert got == {1: 2, 2: 1}


def test_countmin_never_underestimates_and_cells_bounded(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.operators import profile
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    rows = profile.countmin_frequencies(events, depth=3, width=64).collect()
    assert rows and all(r.overestimate_ok for r in rows)
    assert all(r.cms_estimate >= r.exact_cnt for r in rows)
    # sketch state is bounded by construction: depth x width cells max
    # (the property that makes shard sketches mergeable by addition)
    n_users = events.select("user_id").distinct().count()
    assert len(rows) == min(20, n_users)


def _typed_events(spark, rows):
    """rows: (event_type, value, user_id, day_of_jan) -> events frame."""
    data = [
        (i, (19723 + d - 1) * 86400_000_000 + i, u, et, float(v))
        for i, (et, v, u, d) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id bigint, us bigint, user_id bigint, event_type string, value double"
    ).select(
        "event_id", F.timestamp_micros("us").alias("ts"),
        "user_id", "event_type", "value",
    )


def test_chisq_uniform_table_has_zero_statistic(spark):
    """A perfectly independent table (every cell = rowshare*colshare*N)
    has contribution 0 in every cell; a skewed cell pushes its
    contribution positive."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = []
    # 2 types x 2 days (Mon Jan 1, Tue Jan 2), all cells equal -> chi2 = 0
    for et in ("a", "b"):
        for d in (1, 2):
            rows += [(et, 1.0, 1, d)] * 4
    out = profile.chisq_independence(_typed_events(spark, rows))
    assert {r.contrib_e6 for r in out.collect()} == {0}

    rows.append(("a", 1.0, 1, 1))  # skew one cell
    out2 = profile.chisq_independence(_typed_events(spark, rows)).collect()
    assert sum(r.contrib_e6 for r in out2) > 0


def test_rank_sum_exact_u_and_ties(spark):
    r"""click values {1,2,3}, purchase {2,3,4} (cents 100..400):
    pairwise wins for click: beats none of purchase except ties —
    U_a = #\{(a,b): a>b\} + ties/2 = (2>?)... computed by hand below."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = [("click", v, 1, 1) for v in (1.0, 2.0, 3.0)]
    rows += [("purchase", v, 1, 1) for v in (2.0, 3.0, 4.0)]
    r = profile.rank_sum_test(_typed_events(spark, rows)).first()
    # hand count: a=1: 0 wins; a=2: ties with b=2 (0.5); a=3: beats b=2,
    # ties b=3 (1.5). U_a = 2.0 -> u2_a = 4; mean2 = 9
    assert (r.n1, r.n2, r.u2_a, r.mean2) == (3, 3, 4, 9)
    # ties: two blocks of size 2 -> tie_term = 2*(8-2) = 12
    assert r.tie_term == 12
    assert r.z_e6 < 0  # click distribution sits below purchase


def test_hll_overlap_exact_flags(spark):
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = [("click", 1.0, u, 1) for u in (1, 2, 3)]
    rows += [("purchase", 1.0, u, 1) for u in (3, 4)]
    rows += [("view", 1.0, 99, 1)]  # other types must not leak in
    r = profile.hll_overlap(_typed_events(spark, rows)).first()
    assert (r.exact_a, r.exact_b, r.exact_both) == (3, 2, 1)
    assert r.overlap_ok  # tiny sets: HLL is exact here


def test_winsorized_clamps_outlier(spark):
    """19 values of 100 cents + one 100000-cent outlier: p95 cut falls
    on 100, so the winsorized mean is 100 while the raw mean is ~5095."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = [("click", 1.0, 1, 1)] * 19 + [("click", 1000.0, 1, 1)]
    r = profile.winsorized_stats(_typed_events(spark, rows)).first()
    assert (r.n, r.lo_cents, r.hi_cents) == (20, 100, 100)
    assert r.winsor_mean_cents == 100


def test_entropy_profile_uniform_and_degenerate(spark):
    """4 equally common types -> exactly 2 bits (e6=2_000_000); a
    single-valued column -> 0. The sorted-fold discipline makes these
    exact, not approximate."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    ev = _typed_events(
        spark, [(t, 1.0, 1, 1) for t in ("a", "b", "c", "d") for _ in range(5)]
    )
    docs = spark.createDataFrame(
        [(i, "x", "en", "web", 1) for i in range(6)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    orders = spark.createDataFrame(
        [(i, 1, "O", 1.0, "2024-01-01", "P1") for i in range(3)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    )
    got = {r.column_name: (r.n_values, r.entropy_e6)
           for r in profile.entropy_profile(ev, docs, orders).collect()}
    assert got["events.event_type"] == (4, 2_000_000)
    assert got["documents.lang"] == (1, 0)
    assert got["orders.o_orderpriority"] == (1, 0)


def test_bitmap_overlap_matches_set_algebra(spark):
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = [("click", 1.0, u, 1) for u in (1, 2, 3, 64, 65)]
    rows += [("purchase", 1.0, u, 1) for u in (3, 64, 200)]
    r = profile.bitmap_overlap(_typed_events(spark, rows)).first()
    assert (r.n_a, r.n_b, r.n_and, r.n_or) == (5, 3, 2, 6)
    assert r.inclusion_exclusion_ok


def test_ks_identical_vs_disjoint_distributions(spark):
    """Identical samples give D = 0; fully disjoint supports give
    D = 1 (1e6 in e6 units)."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    same = [("click", v, 1, 1) for v in (1.0, 2.0, 3.0)]
    same += [("purchase", v, 1, 1) for v in (1.0, 2.0, 3.0)]
    r = profile.ks_test(_typed_events(spark, same)).first()
    assert r.d_e6 == 0

    disjoint = [("click", v, 1, 1) for v in (1.0, 2.0)]
    disjoint += [("purchase", v, 1, 1) for v in (10.0, 20.0)]
    r2 = profile.ks_test(_typed_events(spark, disjoint)).first()
    assert r2.d_e6 == 1_000_000


def test_gini_equal_vs_concentrated(spark):
    """Equal spends -> G = 0; one user holding everything (others
    spending epsilon is not possible with purchases only, so compare a
    2-user extreme): x = [1, 999] gives G = (r2x - (n+1)S)/(nS) with
    ranks 1,2 -> (2*1*1 + 2*2*999 ... ) — checked numerically below."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    equal = [("purchase", 2.0, u, 1) for u in (1, 2, 3, 4)]
    r = profile.gini_spend(_typed_events(spark, equal)).first()
    assert r.gini_e6 == 0

    skew = [("purchase", 0.01, 1, 1), ("purchase", 9.99, 2, 1)]
    r2 = profile.gini_spend(_typed_events(spark, skew)).first()
    # n=2, S=1000, ranks 1 and 2: G = (2*(1*1 + 2*999) - 3*1000)/(2*1000)
    expect = (2 * (1 * 1 + 2 * 999) - 3 * 1000) / (2 * 1000)
    assert r2.gini_e6 == int(expect * 1_000_000)


def test_bootstrap_ci_deterministic_and_ordered(spark):
    """The Poisson bootstrap is a pure function of the keys: two runs
    hash-identical; ranks ordered lo <= mid <= hi around the point
    estimate's neighborhood; n_reps = 32."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    orders = spark.createDataFrame(
        [(k, 100.0 + (k % 7)) for k in range(200)],
        "o_orderkey long, o_totalprice double",
    )
    a = profile.bootstrap_mean_ci(orders).collect()[0]
    b = profile.bootstrap_mean_ci(orders).collect()[0]
    assert a == b
    assert a.n_reps == 32
    assert a.lo_cents <= a.mid_cents <= a.hi_cents
    # all order values are 10000..10600 cents: every replicate mean too
    assert 10000 <= a.lo_cents and a.hi_cents <= 10600
    assert 10000 <= a.point_cents <= 10600


def test_weighted_median_units_not_rows(spark):
    """Three rows (100c x1), (200c x1), (300c x10): the ROW median is
    200 but 12 units put the unit-weighted median at 300."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    li = spark.createDataFrame(
        [("A", 1.00, 1.0), ("A", 2.00, 1.0), ("A", 3.00, 10.0),
         ("B", 5.00, 2.0), ("B", 7.00, 2.0)],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    got = {r.l_returnflag: (r.wmedian_cents, r.total_units)
           for r in profile.weighted_median_price(li).collect()}
    assert got["A"] == (300, 12)
    # B: cum at 500c is 2 of 4 -> 2*2 >= 4 -> lower median 500
    assert got["B"] == (500, 4)


def test_mutual_information_independent_and_dependent(spark):
    """A perfectly dependent 2x2 table has MI = 1 bit; an independent
    uniform table has MI = 0 (cellwise floor makes tiny negatives
    impossible at exact independence)."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    # dependent: type 'a' only on Monday(2024-01-01), 'b' only on Tuesday
    dep = spark.createDataFrame(
        [(i, "2024-01-01 10:00:00", 1, "a", 1.0) for i in range(4)]
        + [(4 + i, "2024-01-02 10:00:00", 1, "b", 1.0) for i in range(4)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "to_timestamp(ts) AS ts", "user_id",
                 "event_type", "value")
    r = profile.mutual_information(dep).collect()[0]
    assert r.n_rows == 8 and r.n_cells == 2
    assert r.mi_e9 == 1_000_000_000  # exactly one bit
    # independent: both types equally on both days
    ind = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 2} 10:00:00", 1, "ab"[i // 2 % 2], 1.0)
         for i in range(8)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "to_timestamp(ts) AS ts", "user_id",
                 "event_type", "value")
    r2 = profile.mutual_information(ind).collect()[0]
    assert r2.mi_e9 == 0


def test_spearman_perfect_monotonic(spark):
    """Strictly co-monotonic daily series (more clicks <-> more
    purchases) give rho_e6 = 1e6 even though the relation is
    nonlinear."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = []
    eid = 0
    # day d: d clicks, d*d purchases (nonlinear but monotonic)
    for d in range(1, 5):
        for _ in range(d):
            rows.append(("click", 1.0, 1, d)); 
        for _ in range(d * d):
            rows.append(("purchase", 1.0, 1, d))
    r = profile.spearman_daily(_typed_events(spark, rows)).collect()[0]
    assert r.n_days == 4
    assert r.rho_e6 == 1_000_000


def test_prop_ztest_known_counts(spark):
    """Hand-built arms: treated 3/4 above-median vs control 1/4 ->
    conv bp pinned and z positive; math checked against the closed
    form."""
    import math

    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = []
    # purchases per user: controls (even) buy 1; treated (odd) buy 3,
    # except user 2 buys 3 (control high) and user 7 buys 1 (treated low)
    buys = {1: 3, 3: 3, 5: 3, 7: 1, 2: 3, 4: 1, 6: 1, 8: 1}
    for u, k in buys.items():
        for i in range(k):
            rows.append(("purchase", 1.0, u, 1 + i))
    r = profile.prop_ztest(_typed_events(spark, rows)).collect()[0]
    # median purchase count = 1 (lower median of 1,1,1,1,3,3,3,3 -> 1)
    # above median: users with 3 -> treated 3/4, control 1/4
    assert (r.n0, r.k0, r.n1, r.k1) == (4, 1, 4, 3)
    p = 4 / 8
    z = (3 / 4 - 1 / 4) / math.sqrt(p * (1 - p) * (1 / 4 + 1 / 4))
    assert r.z_e6 == math.floor(1_000_000.0 * z)


def test_neyman_allocation_sums_to_budget(spark):
    """Allocations must sum exactly to the budget; a high-variance
    stratum outdraws an equal-size constant... near-constant one."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = []
    # 'wild': values alternate 1 and 99 dollars; 'calm': all 50
    for i in range(40):
        rows.append(("wild", 1.0 if i % 2 else 99.0, i, 1))
        rows.append(("calm", 50.0, i, 1))
    out = {r.event_type: r.alloc
           for r in profile.neyman_allocation(
               _typed_events(spark, rows)).collect()}
    assert sum(out.values()) == 1000
    assert out["wild"] > out.get("calm", 0)


def test_capture_recapture_chapman(spark):
    """n1=3, n2=3, m=2 -> Chapman ((4*4)//3)-1 = 4 with 4 observed."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = []
    # span days 1..11, midpoint day 6; users 1,2 in both halves,
    # user 3 pre-only, user 4 post-only
    rows += [("view", 1.0, 1, 1), ("view", 1.0, 1, 10)]
    rows += [("view", 1.0, 2, 2), ("view", 1.0, 2, 11)]
    rows += [("view", 1.0, 3, 3)]
    rows += [("view", 1.0, 4, 9)]
    r = profile.capture_recapture(_typed_events(spark, rows)).collect()[0]
    assert (r.n1, r.n2, r.m, r.observed) == (3, 3, 2, 4)
    assert r.estimated == (4 * 4) // 3 - 1


def test_brand_type_association_perfect_and_independent(spark):
    """A diagonal catalog (each brand one type) maxes V at 1; a full
    uniform grid reads V ~ 0 (zero cells contribute exactly)."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    diag = spark.createDataFrame(
        [(f"B{i}", f"T{i}") for i in range(4) for _ in range(5)],
        "p_brand string, p_type string",
    )
    r = profile.brand_type_association(diag).collect()[0]
    assert r.cramers_v_e4 >= 9999  # perfect association
    grid = spark.createDataFrame(
        [(f"B{i}", f"T{j}") for i in range(4) for j in range(4)
         for _ in range(3)],
        "p_brand string, p_type string",
    )
    r2 = profile.brand_type_association(grid).collect()[0]
    assert r2.cramers_v_e4 <= 100  # independence


def test_log_histogram_bins_and_bounds(spark):
    """Cents 1,2,3,4 land in bins 0,1,1,2 with exact power-of-two
    bounds."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = [("a", v, 1, 1) for v in (0.01, 0.02, 0.03, 0.04)]
    out = {r.bin: (r.lo_cents, r.hi_cents, r.n)
           for r in profile.log_histogram(_typed_events(spark, rows))
           .collect()}
    assert out[0] == (1, 1, 1)
    assert out[1] == (2, 3, 2)
    assert out[2] == (4, 7, 1)


def test_mode_per_type_smallest_tie(spark):
    """Counts tie between 100c and 200c -> the smaller value wins."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = [("a", 1.0, 1, 1), ("a", 1.0, 2, 1),
            ("a", 2.0, 3, 1), ("a", 2.0, 4, 1), ("a", 3.0, 5, 1)]
    r = profile.mode_per_type(_typed_events(spark, rows)).collect()[0]
    assert (r.mode_cents, r.mode_count, r.n_distinct_values) == (100, 2, 3)


def test_srm_check_balanced_and_skewed(spark):
    """A balanced split does not flag; a heavily skewed one does."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    bal = _typed_events(
        spark, [("view", 1.0, u, 1) for u in range(100)]
    )
    r = profile.srm_check(bal).collect()[0]
    assert r.srm_flag is False
    skew = _typed_events(
        spark,
        [("view", 1.0, 2 * u, 1) for u in range(90)]  # all even
        + [("view", 1.0, 1, 1)],
    )
    r2 = profile.srm_check(skew).collect()[0]
    assert r2.srm_flag is True


def test_median_of_means_plain_case(spark):
    """All-equal values: MoM == mean, gap 0."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    orders = spark.createDataFrame(
        [(k, 50.0) for k in range(100)],
        "o_orderkey long, o_totalprice double",
    )
    r = profile.median_of_means(orders).collect()[0]
    assert r.mom_cents == r.mean_cents == 5000 and r.gap_cents == 0


def test_trimmed_mean_matches_reference_walk_incl_negative(spark):
    """r15: trimmed_mean_by_type moved from a GROUPED_AGG pandas UDAF to
    a single JVM aggregate (sort_array + slice + aggregate). Pin the
    reference semantics per group: sort, drop floor(n*10/100) from each
    end, FLOOR-divide 100*sum by kept length — including a negative-sum
    group where floor and truncate diverge (-7 // 2 == -4, not -3)."""
    from data_lake_for_citi_bike_trip_spark.operators import profile

    rows = []
    # group A: 10 values 0.01..0.10 -> cents 1..10, k=1, kept 2..9,
    # mean = 100*44 // 8 = 550
    for i, c in enumerate(range(1, 11)):
        rows.append((1, "a", c / 100.0, i))
    # group B: negative-sum group, n=3 -> k=0, kept all:
    # cents [-5, 1, 1], sum=-3, 100*-3 // 3 = -100 (exact)
    rows.extend([(2, "b", -0.05, 0), (2, "b", 0.01, 1), (2, "b", 0.01, 2)])
    # group C: negative floor case, n=2: cents [-3, 2], sum=-1,
    # 100*-1 = -100; -100 // 2 = -50 (exact); and n=1 singleton
    rows.extend([(3, "c", -0.03, 0), (3, "c", 0.02, 1)])
    # group D: floor-vs-truncate divergence: cents [-3], 100*-3=-300,
    # -300 // 7 impossible with n=1... use [-1, -1, -1]: sum=-3,
    # 100*-3 // 3 = -100 exact. Divergent case needs non-divisible
    # negative: cents [-1, 0, 0] -> sum=-1, -100 // 3 = -34 (floor),
    # truncate would give -33.
    rows.extend([(4, "d", -0.01, 0), (4, "d", 0.0, 1), (4, "d", 0.0, 2)])
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, event_id long"
    )
    out = {
        (r.user_id, r.event_type): (r.n_events, r.trimmed_mean_e2)
        for r in profile.trimmed_mean_by_type(df).collect()
    }
    assert out[(1, "a")] == (10, 550)
    assert out[(2, "b")] == (3, -100)
    assert out[(3, "c")] == (2, -50)
    assert out[(4, "d")] == (3, -34), "floor (not truncate) division"

    # cross-check every group against the reference python walk
    import collections

    groups = collections.defaultdict(list)
    for u, t, v, _ in rows:
        groups[(u, t)].append(round(v * 100))
    for key, cents in groups.items():
        v = sorted(cents)
        k = (len(v) * 10) // 100
        kept = v[k : len(v) - k] if len(v) > 2 * k else v
        assert out[key] == (len(v), (100 * sum(kept)) // len(kept))
