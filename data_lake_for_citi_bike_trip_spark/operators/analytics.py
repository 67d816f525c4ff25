"""Analytics layer — the aggregation/window/top-k queries the reference's
README poses ("Which stations are most popular?", README.md:5) but never
implements (SURVEY.md §2.5, §7 step 6).

Scale notes: every groupBy here aggregates map-side first (partial
HashAggregate), so the shuffle carries one row per (partition, key). Join
chains put the small dims on the broadcast side explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import cached
from .asof import join_carry_null_safe


def pricing_summary(lineitem: DataFrame, ship_before: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped rollup: filter -> groupBy -> multi-agg.

    Float sums are rounded at the *final* aggregate only; intermediate
    arithmetic stays in whole-stage codegen.
    """
    return (
        lineitem.where(F.col("l_shipdate") < F.lit(ship_before).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def top_stations(trips: DataFrame, k: int = 10) -> DataFrame:
    """Top-k via window rank over grouped counts (deterministic
    tie-break on the key)."""
    counts = trips.groupBy("start_station_id").agg(
        F.count(F.lit(1)).alias("rides")
    )
    # orderBy+limit plans as TakeOrderedAndProject (per-partition partial
    # top-k, merged at the driver) — a global row_number window would move
    # every group to one partition first
    topk = counts.orderBy(F.desc("rides"), F.asc("start_station_id")).limit(k)
    w = Window.orderBy(F.desc("rides"), F.asc("start_station_id"))
    return topk.withColumn("rnk", F.row_number().over(w).cast("bigint")).select(
        "start_station_id", "rides", "rnk"
    )


def rides_per_hour(trips: DataFrame) -> DataFrame:
    """Hour-of-day x weekday usage matrix."""
    return (
        trips.groupBy(
            F.hour("starttime").cast("bigint").alias("hour"),
            F.dayofweek("starttime").cast("bigint").alias("weekday"),
        )
        .agg(F.count(F.lit(1)).alias("rides"))
    )


def revenue_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Fact->dim join chain with broadcast dims + monthly rollup."""
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


def event_type_pivot(events: DataFrame) -> DataFrame:
    """Daily conditional-aggregation pivot (the covid-period comparison
    shape from SURVEY.md §7 step 6), expressed as CASE-WHEN sums so the
    plan is a single pass."""
    day = F.to_date("ts").cast("string").alias("day")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"cnt_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return events.groupBy(day).agg(*aggs)


#: Measured crossover for the automatic segmented-plan chooser
#: (SOAK_r12 re-measurement, local[32], 30% hot user): segmented
#: still lost at 2.4M hot-user rows (6.3 s vs 5.1 s plain) and won
#: at 4.8M (8.3 s vs 10.1 s, plain's hot/flat ratio at 3.9x and
#: GROWING with input — the single task's share of total work
#: rises), so the threshold sits between the two measured points.
#: Conservative-correct at cluster scale: a key past it only gets
#: more serialized as data grows.
SESSIONIZE_HOT_MIN_ROWS = 4_000_000


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    bucket_width_minutes: float | None = None,
    auto_segment: bool = True,
) -> DataFrame:
    """Sessionization via lag + cumulative sum windows (per-user).

    Gap arithmetic uses exact epoch-micros integers (float/second
    truncation behaves differently across engines). At scale this is one
    shuffle on user_id; both windows share the same partitioning so
    Catalyst plans a single exchange.

    The SEGMENTED plan is chosen AUTOMATICALLY (VERDICT r11 item 1)
    when a metadata-scale per-user counting pass
    (``skew.hot_window_gate``, run on every call) finds a user owning >=
    ``SESSIONIZE_HOT_MIN_ROWS`` events — the measured crossover — with
    the bucket width derived from the observed time span.
    ``auto_segment=False`` skips the gate (job-free construction); an
    explicit ``bucket_width_minutes`` forces the segmented plan.

    ``bucket_width_minutes`` opts into the SEGMENTED plan (the
    ``asof_join(bucket_width=...)`` discipline, SOAK_r11): a hot user
    — a bot owning a corpus-scale share of events, an expected shape
    at 100 TB — serializes the single per-user window sort into one
    task (measured 2.2-3.8x a flat corpus at a 30% hot user, ratio
    GROWING with input). Segmented, the windows partition by
    (user, time bucket); the cross-bucket state is reconstructed
    segmented-scan style: the previous-event timestamp for each
    bucket's first row comes from a per-(user, bucket) max-ts carry,
    and the session-id offset from a running sum of per-bucket
    new-session totals. Output-identical for non-null timestamps
    (events tie-break on the unique event_id exactly as the
    single-window plan). Flat corpora should keep the default
    single-window plan (fewer stages).
    """
    if bucket_width_minutes is not None:
        return _sessionize_segmented(
            events, gap_minutes, bucket_width_minutes
        )
    if auto_segment:
        # AUTOMATIC chooser (VERDICT r11 item 1): one
        # metadata-scale counting pass over (user, ts) decides
        # segmented-vs-single-window from the per-user row histogram —
        # the salted_candidates gate discipline applied to the window
        # class. auto_segment=False restores job-free construction.
        from .skew import auto_bucket_width, hot_window_gate

        stats = events.select(
            F.col("user_id").alias("__k"),
            F.unix_micros("ts").cast("double").alias("__t"),
        )
        max_rows, span_us = hot_window_gate(stats)
        if max_rows >= SESSIONIZE_HOT_MIN_ROWS:
            width_us = auto_bucket_width(events.sparkSession, span_us)
            if width_us is not None:
                return _sessionize_segmented(
                    events, gap_minutes, width_us / 60_000_000.0
                )
    ts_us = F.unix_micros("ts")
    base = events.select("user_id", "event_id", ts_us.alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    with_flag = base.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(gap.isNull() | (gap > gap_minutes * 60_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    with_session = with_flag.withColumn(
        "session_id", F.sum("new_session").over(w).cast("bigint")
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


def _sessionize_segmented(
    events: DataFrame, gap_minutes: int, bucket_width_minutes: float
) -> DataFrame:
    """Hot-user-parallel sessionization: per-(user, time-bucket)
    windows + two segmented-scan carries.

    1. ``base`` windows by (user, bucket): in-bucket lag gives every
       row but the bucket's first its previous-event timestamp; the
       hot user's sort splits across its buckets.
    2. previous-ts carry: per (user, bucket) max ts (buckets are time
       ranges, so the latest PRIOR event is the max of the latest
       prior occupied bucket), windowed over strictly-earlier buckets
       — the bucket-first rows coalesce onto it.
    3. session-id offset carry: per (user, bucket) totals of the
       new-session flags (computable only after step 2), running-sum
       windowed over strictly-earlier buckets; global session_id =
       local cumulative sum + offset.

    The big data moves once (the (user, bucket) exchange both local
    windows share); the carry tables are (user x occupied-bucket)-
    sized and join back on the same partitioning."""
    gap_us = int(gap_minutes) * 60_000_000
    width_us = max(int(bucket_width_minutes * 60_000_000), 1)
    ts_us = F.unix_micros("ts")
    base = events.select(
        "user_id", "event_id", ts_us.alias("ts_us")
    ).withColumn(
        "__b", F.floor(F.col("ts_us") / F.lit(width_us)).cast("long")
    )
    w_local = Window.partitionBy("user_id", "__b").orderBy(
        "ts_us", "event_id"
    )
    outs = base.groupBy("user_id", "__b").agg(
        F.max("ts_us").alias("__maxts")
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_ts = outs.select(
        "user_id", "__b", F.max("__maxts").over(w_carry).alias("__prev_ts")
    )
    # Null-safe carry joins: a NULL user_id forms a real window partition
    # in the single-window plan (Window.partitionBy groups NULLs), so a
    # plain equi-join here would silently drop those rows (ADVICE r11).
    flagged = (
        join_carry_null_safe(base, prev_ts, ["user_id", "__b"])
        .withColumn(
            "__prev",
            F.coalesce(F.lag("ts_us").over(w_local), F.col("__prev_ts")),
        )
        .withColumn(
            "new_session",
            F.when(
                F.col("__prev").isNull()
                | ((F.col("ts_us") - F.col("__prev")) > gap_us),
                1,
            ).otherwise(0),
        )
    )
    totals = flagged.groupBy("user_id", "__b").agg(
        F.sum("new_session").alias("__bt")
    )
    offsets = totals.select(
        "user_id",
        "__b",
        F.coalesce(F.sum("__bt").over(w_carry), F.lit(0)).alias("__off"),
    )
    with_session = (
        join_carry_null_safe(flagged, offsets, ["user_id", "__b"])
        .withColumn(
            "session_id",
            (F.sum("new_session").over(w_local) + F.col("__off")).cast(
                "bigint"
            ),
        )
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


def json_props_rollup(events: DataFrame) -> DataFrame:
    """JSON scalar extraction (get_json_object) feeding an aggregate:
    parse the props payload JVM-side, no Python. At scale prefer from_json
    with an explicit schema once per column; get_json_object is the
    ad-hoc single-path form (both shown here to cover the surface)."""
    from pyspark.sql import types as T

    k_path = F.get_json_object("props", "$.k").cast("bigint")
    k_struct = F.from_json("props", T.StructType([T.StructField("k", T.LongType())]))
    return (
        events.select(
            k_path.alias("k"),
            k_struct.getField("k").alias("k2"),
        )
        .where(F.col("k") == F.col("k2"))  # both parse paths agree
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def approx_distinct_users(events: DataFrame) -> DataFrame:
    """HLL approximate distinct next to the exact count, plus an
    ``approx_ok`` flag (integer-exact 5% bound). HLL estimates differ per
    engine, so the oracle checks the (day, exact_users, approx_ok)
    projection — exact count cross-engine-verified, the sketch's error
    bound asserted through the hash gate (a drifting estimator flips
    ``approx_ok`` to false and goes red)."""
    # NO spread() here — measured negative (r15 interleaved A/B): the
    # HLL register update is cheap per row, and shuffling the rows to
    # parallelize the partial only multiplied the per-day sketch count
    # crossing the final exchange (2.78/4.00 s before vs 2.91/4.21 s
    # with spread, consistent across rounds).
    #
    # r16 (guide §2.3 "shuffle fewer bytes"): the sketch runs over the
    # ALREADY-DISTINCT (day, user) rows instead of the raw stream. HLL
    # registers are a max over hashed values — inserting a duplicate is
    # a no-op — so the estimate is BIT-IDENTICAL (verified row-for-row
    # incl. approx_users); and the exact count needs the distinct
    # anyway. The old single-agg form (mixed distinct + non-distinct
    # aggregate) was planned as a first aggregation phase KEYED ON
    # (day, user_id) that carried the rsd=0.01 HLL buffer — 1,640
    # register columns, see Input [1641] at node (5) of
    # plans/r16/approx_distinct_users_before.txt — per (day, user)
    # GROUP through both phases: ~15k sketch buffers built, merged and
    # shuffled per run. Post-distinct the registers exist at day grain
    # only (~30 buffers). Measured 2.75-3.03 -> 0.87-0.90 s interleaved
    # at sf0.1.
    du = (
        events.select(
            F.to_date("ts").cast("string").alias("day"), "user_id"
        )
        .distinct()
    )
    return du.groupBy("day").agg(
        # default rsd=0.05 was observed to produce 5.2% error on real
        # groups; 0.01 keeps the estimate inside the 5% bound with a
        # still-tiny sketch
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        # count(user_id), not count(*): the NULL user the distinct keeps
        # is no user, as in the oracle's COUNT(DISTINCT user_id)
        F.count("user_id").alias("exact_users"),
    ).withColumn(
        "approx_ok",
        F.abs(F.col("approx_users") - F.col("exact_users")) * 100
        <= F.col("exact_users") * 5,
    )


def stats_summary(lineitem: DataFrame) -> DataFrame:
    """Statistical aggregates: exact percentiles (sort-based), correlation,
    sample stddev/covariance. Exact percentile shuffles each group's
    values; at very large groups switch to percentile_approx (sketch)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
    )


def moving_average(trips: DataFrame, days: int = 7) -> DataFrame:
    """Per-station daily rides with a trailing N-row moving window
    (sum/avg/peak via frame aggregates + lead for tomorrow's delta).
    One shuffle on station; every window shares the partitioning.

    The window mean is emitted as integer ten-thousandths
    (``avg_rides_e4 = (10000 * sum) div count``) rather than
    ``round(avg, 4)``: float rounding is engine-dependent at ``..5``
    boundaries (Spark HALF_UP vs DuckDB HALF_EVEN), while integer
    division is exact everywhere. ``window_n`` is emitted so callers can
    recover the exact rational mean."""
    daily = trips.groupBy(
        F.col("start_station_id").alias("station"),
        F.to_date("starttime").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("rides"))
    w = (
        Window.partitionBy("station")
        .orderBy("day")
        .rowsBetween(-(days - 1), Window.currentRow)
    )
    wlead = Window.partitionBy("station").orderBy("day")
    return daily.select(
        "station",
        "day",
        "rides",
        F.sum("rides").over(w).alias("window_rides"),
        F.count(F.lit(1)).over(w).alias("window_n"),
        F.max("rides").over(w).alias("peak_rides"),
        F.lead("rides").over(wlead).alias("next_day_rides"),
    ).withColumn("avg_rides_e4", F.expr("(10000 * window_rides) div window_n"))


def mad_anomalies(trips: DataFrame, k: int = 3) -> DataFrame:
    """Robust per-station outlier days via Median Absolute Deviation:
    flag days where |rides - median| > k * MAD. Median/MAD (not
    mean/stddev) so the detector isn't dragged by the outliers it hunts.

    Integer-exact by construction: rides are integers, so every median is
    a multiple of 0.5 — doubling (``med2``, ``mad4``) keeps ALL
    arithmetic in BIGINT. |x - med| > k*MAD becomes
    ``2*dev2 > k*mad4`` with dev2 = |2*rides - med2|, mad4 = 2*median of
    dev2 — no float rounding for an oracle to disagree with.

    Scale: two grouped percentile aggregates + two joins, all keyed on
    station (one shuffle partitioning reused); the per-station medians
    table is dimension-sized and broadcast back onto the daily rows."""
    daily = trips.groupBy(
        F.col("start_station_id").alias("station"),
        F.to_date("starttime").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("rides"))
    med = daily.groupBy("station").agg(
        F.round(2 * F.expr("percentile(rides, 0.5)")).cast("bigint").alias("med2")
    )
    dev = daily.join(F.broadcast(med), "station").withColumn(
        "dev2", F.abs(2 * F.col("rides") - F.col("med2"))
    )
    mad = dev.groupBy("station").agg(
        F.round(2 * F.expr("percentile(dev2, 0.5)")).cast("bigint").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "station")
        .where(2 * F.col("dev2") > F.lit(k) * F.col("mad4"))
        .select("station", "day", "rides", "dev2", "mad4")
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions via Spark's native session_window (merging
    windows; same semantics in batch and streaming). Emits per-session
    bounds + counts — the built-in counterpart to ``sessionize``'s
    lag/cumsum formulation."""
    return (
        events.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )


def unpivot_event_counts(events: DataFrame) -> DataFrame:
    """Unpivot (wide -> long) via stack: the daily per-type count matrix
    back to (day, event_type, cnt) rows."""
    wide = event_type_pivot(events)
    types = ["click", "view", "purchase", "signup", "error"]
    stack_expr = "stack({n}, {args}) as (event_type, cnt)".format(
        n=len(types), args=", ".join(f"'{t}', cnt_{t}" for t in types)
    )
    return wide.selectExpr("day", stack_expr)


def window_funcs(orders: DataFrame) -> DataFrame:
    """Ranking/distribution window suite per customer: ntile quartiles,
    percent_rank, cume_dist, running first, and lag — one shuffle on the
    partition key shared by every window. The (date, orderkey) ordering
    is total, so rank-based outputs are deterministic; percent_rank /
    cume_dist are exact integer ratios (no cross-row float sums), emitted
    unrounded — both engines divide the same integers."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_totalprice").over(wr).alias("first_price"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
    )


def approx_percentile_check(lineitem: DataFrame, tolerance: float = 1.0) -> DataFrame:
    """Sketch percentile next to the exact sort-based one: exact_p50 is
    cross-engine-verified; the engine-specific approx sketch is asserted
    through the hash gate via its error-bound flag (same pattern as
    approx_distinct_users)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("exact_p50"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("approx_p50"),
    ).select(
        "l_returnflag",
        "exact_p50",
        (F.abs(F.col("approx_p50") - F.col("exact_p50")) <= tolerance).alias(
            "approx_ok"
        ),
    )


def daily_type_counts(events: DataFrame) -> DataFrame:
    """The stored aggregate shape for merge_daily_counts."""
    return events.groupBy(
        F.to_date("ts").cast("string").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def merge_daily_counts(current: DataFrame, batch_events: DataFrame) -> DataFrame:
    """Materialized-aggregate maintenance: fold a new batch's partial
    counts into the stored (day, event_type) aggregate with a
    full-outer coalesce-sum — history is never rescanned. The merged
    result is definitionally equal to aggregating everything from
    scratch, which is exactly what the oracle checks."""
    cur = current.select("day", "event_type", F.col("cnt").alias("cur_cnt"))
    delta = daily_type_counts(batch_events).select(
        "day", "event_type", F.col("cnt").alias("new_cnt")
    )
    return cur.join(delta, ["day", "event_type"], "full_outer").select(
        "day",
        "event_type",
        (
            F.coalesce(F.col("cur_cnt"), F.lit(0))
            + F.coalesce(F.col("new_cnt"), F.lit(0))
        ).alias("cnt"),
    )


def feature_deciles(orders: DataFrame) -> DataFrame:
    """Quantile-bucketed feature summary: ntile(10) deciles of order
    value under a total order (cents, key — deterministic under price
    ties), aggregated to per-decile count / bounds in exact cents.

    No global ntile sort: the exact global rank comes from
    ranked_cumsum (range-bucketed two-pass — order grain grows with
    the corpus), and the decile is then SQL ntile's exact arithmetic
    on (rank, n): the first n % 10 buckets take ceil(n/10) rows, the
    rest floor(n/10). Byte-identical to the window form at any scale,
    with window state bounded at ~n/4096 rows. Ordering by integer
    cents is equivalent to ordering by the 2-decimal price; equal-cents
    rows are interchangeable for per-decile count/min/max."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per = orders.select(cents.alias("cents"), "o_orderkey")
    ranked = ranked_cumsum(per, "cents", "o_orderkey", descending=False)
    # ntile(10): q = n div 10, r = n mod 10; buckets 1..r hold q+1 rows
    decile = F.expr(
        "CASE WHEN rk <= (n % 10) * (n div 10 + 1) "
        "THEN (rk - 1) div (n div 10 + 1) + 1 "
        "ELSE (n % 10) + (rk - (n % 10) * (n div 10 + 1) - 1) "
        "div (n div 10) + 1 END"
    ).cast("bigint")
    return (
        ranked.select("cents", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


def variant_props_rollup(events: DataFrame) -> DataFrame:
    """Semi-structured props through Spark 4's VariantType: parse_json
    ONCE into the binary variant encoding, then typed ``variant_get``
    path extractions — the scale companion to json_props_rollup's
    get_json_object, which re-parses the string per access. On a wide
    props payload the single parse + binary field access is the
    production shape (and variant shredding pushes extraction into the
    scan). All-integer outputs, exact in both engines."""
    v = events.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


def pareto_frontier(part: DataFrame) -> DataFrame:
    """2-D skyline (Pareto frontier): parts where no other part is both
    cheaper-or-equal AND larger-or-equal with one inequality strict —
    minimize retail price, maximize size.

    The naive formulation is a quadratic NOT EXISTS self-join (that IS
    the DuckDB oracle). The scalable form used here is O(n log n) with
    NO join at all: collapse to distinct (price, size) points, sort by
    (price asc, size desc), and keep a point iff its size strictly
    exceeds the running max size over all preceding points. Ordering
    guarantees every preceding point has price < mine, or equal price
    with size >= mine — exactly the dominance candidates — so
    `cummax(size) < size` == "not dominated".

    Scale: skyline(union) == skyline(skylines), so the distinct-point
    aggregation (an ordinary partial-combining shuffle) already bounds
    what the single final window sees; for adversarial inputs you would
    additionally pre-filter each partition with the same cummax pass
    (skyline-of-skylines) before the global sort. Price is held as
    integer cents end-to-end — no float comparisons in the dominance
    logic.
    """
    pts = (
        part.select(
            F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
            F.col("p_size").cast("long").alias("part_size"),
            "p_partkey",
        )
        .groupBy("price_cents", "part_size")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        )
    )
    w = (
        Window.orderBy(F.col("price_cents").asc(), F.col("part_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("prev_max_size", F.max("part_size").over(w))
        .where(F.col("prev_max_size").isNull() | (F.col("prev_max_size") < F.col("part_size")))
        .select("price_cents", "part_size", "n_parts", "min_partkey")
    )


def mom_revenue_change(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue per order priority: absolute delta and
    percent change, integer-exact.

    Percent change is emitted as (10000 * cur) div prev - 10000 rather
    than (10000 * (cur - prev)) div prev: the numerator stays
    NON-NEGATIVE, where truncating (Spark ``div``) and flooring (DuckDB
    ``//``) division agree — a negative numerator would diverge by one
    unit between the engines. One shuffle on priority, one lag window.
    """
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100)), 0)
        .cast("long")
        .alias("revenue_cents")
    )
    w = Window.partitionBy("priority").orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    return monthly.select(
        "priority",
        "month",
        "revenue_cents",
        (F.col("revenue_cents") - prev).alias("delta_cents"),
        F.when(
            prev.isNotNull(),
            F.expr("10000 * revenue_cents") .cast("long"),
        ).alias("_num"),
        prev.alias("_prev"),
    ).select(
        "priority",
        "month",
        "revenue_cents",
        "delta_cents",
        F.when(
            F.col("_prev").isNotNull(),
            F.expr("_num div _prev") - 10000,
        ).alias("pct_change_bp"),
    )


def topk_stations_with_ties(trips: DataFrame, k: int = 3) -> DataFrame:
    """Monthly top-k start stations INCLUDING ties — ``rank()`` (gap
    semantics), not ``row_number``: a month where four stations tie for
    third returns six rows, which is what a leaderboard means. One
    shuffle for the counts, one month-partitioned window."""
    counts = trips.groupBy(
        F.date_format("starttime", "yyyy-MM").alias("month"),
        F.col("start_station_id").alias("station"),
    ).agg(F.count(F.lit(1)).alias("rides"))
    # rank by rides only — rank() must see ties, so no tiebreak column
    # in the window ordering
    wr = Window.partitionBy("month").orderBy(F.desc("rides"))
    return (
        counts.withColumn("rnk", F.rank().over(wr).cast("long"))
        .where(F.col("rnk") <= k)
        .select("month", "station", "rides", "rnk")
    )


def ab_lift(events: DataFrame) -> DataFrame:
    """Experiment readout: users split into deterministic variants
    (user_id parity — the hash-bucket assignment every experimentation
    system uses), conversion = did the user ever purchase. Emits per
    variant the exact counts and conversion in basis points, plus the
    B-vs-A lift in basis points — all integer arithmetic, one
    two-level aggregate (user grain, then variant grain).
    """
    per_user = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias(
            "converted"
        )
    )
    variants = (
        per_user.withColumn("variant", (F.col("user_id") % 2).cast("long"))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .withColumn(
            "conv_bp", F.expr("(10000 * n_converted) div n_users")
        )
    )
    a = variants.where(F.col("variant") == 0).select(
        F.col("conv_bp").alias("a_bp")
    )
    return variants.crossJoin(F.broadcast(a)).select(
        "variant",
        "n_users",
        "n_converted",
        "conv_bp",
        # non-negative numerator form: (1e4 * b) div a - 1e4
        (F.expr("(10000 * conv_bp) div a_bp") - 10000).alias("lift_bp"),
    )


def ivm_join_view(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Incremental maintenance of a JOIN view — the harder IVM case
    (merge_daily_counts above maintains a single-table aggregate).

    View: revenue cents + order count per (region, nation, year),
    i.e. ``revenue_by_nation``'s shape. Maintenance identity used:
    the view is an aggregate over fact JOIN dims, and aggregation
    distributes over fact deltas — so on new orders only the DELTA is
    joined to the dims (broadcast, no fact rescan) and the per-key
    partials ADD onto the stored view (full outer merge, coalesced).
    At 100 TB this is the difference between touching a day's delta and
    re-scanning years of orders; deletions work the same way with
    negated partials.

    This operator materializes the view from a deterministic "old" half
    (o_orderkey % 101 != 0), applies the remaining rows as the delta,
    and returns the maintained view — which the oracle checks against
    aggregating everything from scratch. The stored view is persisted
    (as a production MV would be) so the maintenance plan reads it, not
    its lineage.
    """
    key = ["region_name", "nation_name", "order_year"]

    def view(of: DataFrame) -> DataFrame:
        return (
            of.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(
                F.col("r_name").alias("region_name"),
                F.col("n_name").alias("nation_name"),
                F.year("o_orderdate").cast("bigint").alias("order_year"),
            )
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100))
                .cast("long")
                .alias("revenue_cents"),
                F.count(F.lit(1)).alias("order_cnt"),
            )
        )

    # localCheckpoint: eagerly materialized AND lineage-truncated — the
    # maintenance plan reads stored blocks, not the view's derivation;
    # blocks are GC-reclaimed (no persist leak across bench repeats)
    stored = view(
        orders.where(F.col("o_orderkey") % 101 != 0)
    ).localCheckpoint(eager=True)
    delta = view(orders.where(F.col("o_orderkey") % 101 == 0))
    s = stored.select(
        *key,
        F.col("revenue_cents").alias("s_rev"),
        F.col("order_cnt").alias("s_cnt"),
    )
    d = delta.select(
        *key,
        F.col("revenue_cents").alias("d_rev"),
        F.col("order_cnt").alias("d_cnt"),
    )
    return (
        s.join(d, key, "full_outer")
        .select(
            *key,
            (F.coalesce("s_rev", F.lit(0)) + F.coalesce("d_rev", F.lit(0))).alias(
                "revenue_cents"
            ),
            (F.coalesce("s_cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))).alias(
                "order_cnt"
            ),
        )
    )


def cube_distinct_users(events: DataFrame) -> DataFrame:
    """EXACT distinct counts under a CUBE — the hard grouping-sets
    case: count_distinct is not roll-up-able from finer cells (distinct
    sets overlap), so the engine must expand every row into all four
    grouping sets BEFORE the distinct aggregation (Expand x4, then a
    distinct-aware aggregate). cube_priority above covers additive
    measures; this covers the non-additive one. At 100 TB you'd swap in
    HLL sketches per cell (mergeable, one pass) — the exact form stays
    here for the oracle."""
    return (
        events.cube(
            F.dayofweek("ts").cast("bigint").alias("dow"),
            F.col("event_type"),
        )
        .agg(
            # grouping_id() must live inside the cube aggregate
            F.grouping_id().cast("bigint").alias("gid"),
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("dow", "event_type", "gid", "n_users", "n_events")
    )


def share_of_parent(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """BI contribution analysis: each nation's share of its region's
    revenue and of the global total, in basis points — percent-of-
    parent at two hierarchy levels from ONE aggregate + two window
    sums over the same rolled-up rows (no re-scan per level).
    """
    per_nation = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    region_total = F.sum("revenue_cents").over(
        Window.partitionBy("region_name")
    )
    global_total = F.sum("revenue_cents").over(
        Window.partitionBy()
    )
    return per_nation.select(
        "region_name",
        "nation_name",
        "revenue_cents",
        F.expr(
            "(10000 * revenue_cents) div sum(revenue_cents)"
            " over (partition by region_name)"
        ).alias("share_of_region_bp"),
        F.expr(
            "(10000 * revenue_cents) div sum(revenue_cents) over ()"
        ).alias("share_of_global_bp"),
    )


def purchase_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive
    calendar days with at least one purchase — the classic engagement
    streak, computed with the day_index - row_number() island trick
    (two windows over day-grain rows, no self-join, no recursion).

    Scale shape: events reduce to distinct (user, day) pairs first
    (one keyed agg), so the windows run over day-grain cardinality;
    both windows share the same user partitioning."""
    days = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "grp",
        F.datediff(F.col("day"), F.lit("1970-01-01"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("start_day"),
    )
    best = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("start_day")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("longest_streak_days"),
            F.col("start_day").cast("string").alias("streak_start"),
        )
    )


def rollup_cascade(events: DataFrame) -> DataFrame:
    """Continuous-aggregate hierarchy (the hypertable rollup pattern):
    hour -> day -> week, where EACH LEVEL AGGREGATES THE LEVEL BELOW —
    never re-scanning raw events. At 100 TB this is the only sane way
    to serve "weekly numbers": the hourly layer absorbs the raw scan
    once, the day/week layers reduce hour-grain (tiny) inputs, and a
    late-arriving hour re-aggregates one hour + its day + its week.

    Correctness is part of the contract: the weekly row carries the
    cascade-computed measures AND in-plan equality flags against a
    direct-from-raw recomputation (count + cents sums are associative,
    so the flags must be universally true; a non-associative measure
    slipped into the cascade would go red here). The oracle computes
    the direct path — the hash match proves cascade == direct.

    Cents quantize per ROW (round(value*100) before any sum) so both
    paths and both engines add exact integers in any order.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents")
    )
    daily = hourly.groupBy(
        "event_type", F.to_date("hour").alias("day")
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    weekly = daily.groupBy(
        "event_type", F.to_date(F.date_trunc("week", "day")).alias("week")
    ).agg(F.sum("n").cast("long").alias("n"), F.sum("cents").cast("long").alias("cents"))
    direct = events.groupBy(
        "event_type",
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
    ).agg(
        F.count(F.lit(1)).alias("dn"), F.sum(cents).alias("dcents")
    )
    return weekly.join(direct, ["event_type", "week"], "full_outer").select(
        "event_type",
        F.col("week").cast("string").alias("week"),
        F.col("n").alias("n_events"),
        F.col("cents").alias("value_cents"),
        (F.col("n") == F.col("dn")).alias("count_match"),
        (F.col("cents") == F.col("dcents")).alias("cents_match"),
    )


def ivm_agg_delta(orders: DataFrame) -> DataFrame:
    """Incremental aggregate maintenance under MIXED inserts AND
    deletes — the multiplicity algebra ivm_join_view's docstring
    promises, exercised: delta rows carry mult = +1 (insert) / -1
    (delete), partials are mult-weighted sums, and groups whose
    maintained count reaches ZERO are removed from the view (the
    classic IVM correctness detail — a count-0 group left behind
    resurrects as a phantom row on the next query).

    View: order count + revenue cents per (priority, year). Base =
    orders with key % 97 != 0 (localCheckpointed, as a stored MV);
    delta = inserts (key % 97 == 0) union deletes (key % 89 == 0, drawn
    from EITHER half — an order both inserted and deleted nets to
    multiplicity 0, exactly as the algebra dictates). The maintained
    view therefore equals aggregating orders where key % 89 != 0 from
    scratch — which is what the oracle computes, so the hash match
    proves the delta path.

    At 100 TB the delta join touches only delta-sized inputs and the
    stored view; avg derives from the maintained sums (never averaged
    averages). One full-outer merge on the view key.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    keyed = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        cents.alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    key = ["priority", "order_year"]
    base = keyed.where(F.col("k") % 97 != 0)
    stored = (
        base.groupBy(*key)
        .agg(
            F.count(F.lit(1)).alias("s_cnt"),
            F.sum("cents").alias("s_cents"),
        )
        .localCheckpoint(eager=True)
    )
    inserts = keyed.where(F.col("k") % 97 == 0).withColumn(
        "mult", F.lit(1).cast("long")
    )
    deletes = keyed.where(F.col("k") % 89 == 0).withColumn(
        "mult", F.lit(-1).cast("long")
    )
    partials = (
        inserts.unionByName(deletes)
        .groupBy(*key)
        .agg(
            F.sum("mult").alias("d_cnt"),
            F.sum(F.col("mult") * F.col("cents")).alias("d_cents"),
        )
    )
    merged = stored.join(partials, key, "full_outer").select(
        *key,
        (F.coalesce("s_cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (F.coalesce("s_cents", F.lit(0)) + F.coalesce("d_cents", F.lit(0)))
        .cast("long")
        .alias("revenue_cents"),
    )
    return merged.where(F.col("n_orders") > 0).withColumn(
        "avg_cents", F.expr("revenue_cents div n_orders")
    )


def nested_order_items(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Nested-data modeling round trip: collapse each order's line
    items into a SORTED array<struct> column (the document-style layout
    lakes use to avoid join-at-read), then answer per-order questions
    from the nested value with higher-order functions — no re-explode,
    no second shuffle.

    Determinism note: collect_list order is execution-dependent, so the
    array is sort_array'd over a struct whose leading fields (cents
    desc via negation, then partkey) form a TOTAL order — after that,
    element_at and HOF folds are engine-exact. Emits per order: item
    count, the priciest item's part key and cents (element 1 of the
    sorted array), and the total cents folded from the nested array
    with ``aggregate`` (exercising the nested path, not a flat sum).
    One shuffle on the join key; the nested build and every readout
    share it."""
    items = lineitem.select(
        F.col("l_orderkey").alias("okey"),
        F.struct(
            (-F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "neg_cents"
            ),
            F.col("l_partkey").alias("partkey"),
        ).alias("it"),
    )
    nested = items.groupBy("okey").agg(
        F.sort_array(F.collect_list("it")).alias("items")
    )
    return nested.join(
        orders.select(F.col("o_orderkey").alias("okey"), "o_orderpriority"),
        "okey",
    ).select(
        "okey",
        "o_orderpriority",
        F.size("items").cast("long").alias("n_items"),
        F.expr("items[0].partkey").alias("top_partkey"),
        F.expr("-items[0].neg_cents").alias("top_cents"),
        F.expr(
            "aggregate(items, CAST(0 AS BIGINT), (acc, x) -> acc - x.neg_cents)"
        ).alias("total_cents"),
    )


def uplift_by_segment(events: DataFrame, n_segments: int = 4) -> DataFrame:
    """Heterogeneous treatment effect readout — ab_lift's per-SEGMENT
    refinement: the same deterministic variant split, but conversion
    lift computed within each ACTIVITY TIER — users binned by total
    event count into n_segments equal-width tiers over [0, max], so
    segment 0 is genuinely the lightest users and segment n-1 the
    heaviest — because an experiment that is flat on average routinely
    hides opposite effects in light vs heavy users (the CATE-table
    shape every uplift analysis starts from).

    Exact integers throughout: tier width = ceil(max/n) from a 1-row
    max attach (broadcast of a single-row stat — the sanctioned
    crossJoin shape), segment = least(n_events div width, n-1);
    per (segment, variant) counts, conv_bp by truncating division,
    uplift_bp = treated conv relative to that SEGMENT's control
    (cross-multiplied, non-negative numerators). Two user-grain
    aggregates + one segment-grain join of a segment-count-bounded
    control table.
    """
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias(
            "converted"
        ),
    )
    stats = per_user.agg(F.max("n_events").alias("max_n"))
    seg = F.expr(
        f"least(n_events div greatest(1, "
        f"(max_n + {n_segments - 1}) div {n_segments}), "
        f"{n_segments - 1})"
    ).cast("long")
    cells = (
        per_user.crossJoin(F.broadcast(stats))
        .select(
            seg.alias("segment"),
            (F.col("user_id") % 2).cast("long").alias("variant"),
            "converted",
        )
        .groupBy("segment", "variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .withColumn("conv_bp", F.expr("(10000 * n_converted) div n_users"))
    )
    control = cells.where(F.col("variant") == 0).select(
        "segment", F.col("conv_bp").alias("control_bp")
    )
    return cells.join(F.broadcast(control), "segment").select(
        "segment",
        "variant",
        "n_users",
        "n_converted",
        "conv_bp",
        F.when(
            F.col("control_bp") > 0,
            F.expr("(10000 * conv_bp) div control_bp") - 10000,
        ).alias("uplift_bp"),
    )


def business_lead_time(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-to-first-shipment lead time in BUSINESS days — the SLA
    metric calendars get wrong by up to 2/7th: weekends don't count.
    Closed form, no calendar table: full weeks contribute 5 days each;
    the remainder days walk forward from the order date's weekday with
    a codegen filter over sequence(1, rem) (rem <= 6 elements — a
    bounded HOF, not an explode), counting non-weekend steps.

    One orderkey-keyed aggregate for the first shipment, one join, pure
    expressions after; per-priority rollup with mean in e2 (truncating
    div over non-negative ints)."""
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("ship_day")
    )
    j = orders.join(
        first_ship, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("d1"),
        "ship_day",
    )
    n = F.datediff("ship_day", "d1")
    # 0-based weekday of d1: 0=Sunday .. 6=Saturday (Spark dayofweek-1)
    # CASE-guard the remainder: sequence(1, 0) AUTO-DESCENDS to [1, 0]
    # in Spark (the jaccard_prefix lesson), which would count phantom
    # days for orders shipping an exact number of weeks later
    bd = F.expr(
        "(datediff(ship_day, d1) div 7) * 5 + "
        "CASE WHEN datediff(ship_day, d1) % 7 = 0 THEN 0 ELSE "
        "size(filter(sequence(1, datediff(ship_day, d1) % 7), "
        "i -> ((dayofweek(d1) - 1 + i) % 7) NOT IN (0, 6))) END"
    )
    per = j.where(n >= 0).select(
        "o_orderpriority", bd.cast("long").alias("bdays")
    )
    return per.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("bdays").cast("long").alias("total_bdays"),
    ).withColumn("mean_bdays_e2", F.expr("(100 * total_bdays) div n_orders"))


def prorate_order_total(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Largest-remainder proration: allocate each order's header total
    across its line items proportional to extended price so the
    per-line allocations sum EXACTLY to the order total — the invoice /
    revenue-recognition primitive naive `total * share` gets wrong
    (floor leaves pennies unallocated; round can overshoot). Hamilton's
    method: every line gets floor(t*w/W); the leftover deficit (< n
    lines) goes +1 apiece to the lines with the largest remainders,
    ties broken by line number.

    Scale: one orderkey equi-join plus two window passes partitioned by
    l_orderkey (group size = lines per order, catalog-bounded <= 7 in
    TPC-H shape) — no shuffle beyond the key. All arithmetic is exact
    BIGINT cents: t*w peaks ~3e15, far inside the long range; div/%
    over non-negative ints so Spark div == DuckDB //.
    """
    li = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("w"),
    )
    tot = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("t"),
    )
    wp = Window.partitionBy("l_orderkey")
    j = (
        li.join(tot, "l_orderkey")
        .withColumn("wsum", F.sum("w").over(wp))
        .withColumn("base", F.expr("(t * w) div wsum"))
        .withColumn("rem", F.expr("(t * w) % wsum"))
        .withColumn("deficit", F.col("t") - F.sum("base").over(wp))
    )
    rw = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber")
    )
    return (
        j.withColumn("rn", F.row_number().over(rw))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("w").alias("line_cents"),
            F.col("t").alias("order_cents"),
            (
                F.col("base")
                + (F.col("rn") <= F.col("deficit")).cast("long")
            ).alias("alloc_cents"),
        )
    )


def melt_event_counts(events: DataFrame) -> DataFrame:
    """Wide-to-long via the DataFrame ``unpivot``/``melt`` API — the
    programmatic complement to the SQL ``stack()`` form elsewhere in
    the surface (unpivot_event_counts): pivot the daily type counts
    wide, then melt them back to (day, metric, n) rows. Spark plans
    the melt as an Expand (one output row per value column per input
    row) — column-count-bounded multiplication over day-grain rows,
    never corpus-grain.

    Zero-count cells are dropped after the melt so the long form
    equals the direct (day, type) aggregate — losslessness visible in
    the hash.
    """
    day = F.to_date("ts").cast("string").alias("day")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"cnt_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    wide = events.groupBy(day).agg(*aggs)
    return (
        wide.unpivot(
            ids=["day"],
            values=[c for c in wide.columns if c.startswith("cnt_")],
            variableColumnName="metric",
            valueColumnName="n",
        )
        .where(F.col("n") > 0)
        .select("day", "metric", F.col("n").cast("long").alias("n"))
    )


def pivot_native(events: DataFrame) -> DataFrame:
    """The native ``groupBy().pivot()`` API with MULTIPLE aggregates
    per cell — the programmatic pivot the CASE-WHEN form
    (event_type_pivot) hand-rolls. Values are listed explicitly:
    an unlisted pivot triggers an extra distinct-scan job to discover
    them AND makes the output schema data-dependent — never do that
    at 100 TB; the enum is part of the contract.

    One pass: Spark compiles the pivot to the same conditional
    aggregates as the manual form (count + cents sum per type), so
    the plan is a single aggregate, no join, no extra shuffle.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.withColumn("cents", cents)
        .groupBy(F.to_date("ts").cast("string").alias("day"))
        .pivot(
            "event_type", ["click", "view", "purchase", "signup", "error"]
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )
    )


def map_rollup(events: DataFrame) -> DataFrame:
    """MapType round trip: per day build a map<event_type, count>
    with ``map_from_entries`` over a SORTED entry list (map key order
    is an implementation detail — sorting the entries makes the
    construction deterministic), then explode it back with
    ``map_entries`` and prove the relational content survived — the
    document-store column shape (nested_order_items' array<struct>
    sibling) exercised end to end.

    The collect_list is day-grain bounded (at most one entry per
    event type); n_keys rides along from ``map_keys``. Output is
    relational (day, event_type, n, n_keys) so the hash gate sees
    through the map.
    """
    daily = events.groupBy(
        F.to_date("ts").cast("string").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    # a NULL event_type cannot be a map key (NULL_MAP_KEY); untyped
    # rows fall out of the map shape by definition
    daily = daily.where(F.col("event_type").isNotNull())
    mapped = daily.groupBy("day").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("event_type", "n"))
            )
        ).alias("m")
    )
    return mapped.select(
        "day",
        F.size(F.map_keys("m")).cast("long").alias("n_keys"),
        F.explode(F.map_entries("m")).alias("e"),
    ).select(
        "day",
        F.col("e.key").alias("event_type"),
        F.col("e.value").cast("long").alias("n"),
        "n_keys",
    )


def diff_in_diff(events: DataFrame) -> DataFrame:
    """Difference-in-differences estimate of the deterministic A/B
    split's effect on purchase conversion, with the corpus midpoint as
    the "policy date" — the causal-inference workhorse when treatment
    wasn't randomized per-exposure: DiD = (T_post - T_pre) -
    (C_post - C_pre) cancels both the group baseline and the shared
    time trend. Groups are the ab_lift parity split; periods split at
    the median day (a 1-row stat attach).

    Exact integers: the four cell conversion rates in bp by
    truncating division, DiD as their integer combination — the full
    2x2 cell table rides along so the arithmetic is auditable.

    Scale: one user-grain aggregate per period membership, one 4-cell
    rollup; the midpoint stat broadcasts.
    """
    mid = events.agg(
        F.expr(
            "min(to_date(ts)) + CAST(datediff(max(to_date(ts)), "
            "min(to_date(ts))) div 2 AS INT)"
        ).alias("mid_day")
    )
    per = (
        events.crossJoin(F.broadcast(mid))
        .select(
            "user_id",
            (F.col("user_id") % 2).cast("long").alias("variant"),
            (F.to_date("ts") > F.col("mid_day"))
            .cast("long")
            .alias("post"),
            (F.col("event_type") == "purchase").cast("long").alias("p"),
        )
        .groupBy("user_id", "variant", "post")
        .agg(F.max("p").alias("converted"))
    )
    cells = per.groupBy("variant", "post").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    ).withColumn("conv_bp", F.expr("(10000 * n_conv) div n_users"))
    wide = cells.groupBy().pivot(
        "variant", [0, 1]
    ).agg(
        F.max(F.when(F.col("post") == 0, F.col("conv_bp"))).alias("pre"),
        F.max(F.when(F.col("post") == 1, F.col("conv_bp"))).alias("post"),
    )
    return wide.select(
        F.col("0_pre").cast("long").alias("control_pre_bp"),
        F.col("0_post").cast("long").alias("control_post_bp"),
        F.col("1_pre").cast("long").alias("treated_pre_bp"),
        F.col("1_post").cast("long").alias("treated_post_bp"),
        (
            (F.col("1_post") - F.col("1_pre"))
            - (F.col("0_post") - F.col("0_pre"))
        ).cast("long").alias("did_bp"),
    )


def date_dim(events: DataFrame) -> DataFrame:
    """Date-dimension generator — the warehouse staple: one row per
    calendar day spanning the data's own [min, max] range (derived,
    not hardcoded, so the dim always covers the facts), with the
    conformed attributes joins group by: epoch day index, ISO-ish
    day-of-week, epoch week, month, weekend flag. Generated with
    sequence + explode from a 1-row stat — no source table, no
    driver loop, and the spine is exactly as long as the calendar,
    never the corpus.
    """
    span = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    days = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    return days.select(
        F.col("day").cast("string").alias("day"),
        F.datediff("day", F.lit("1970-01-01"))
        .cast("long")
        .alias("epoch_day"),
        F.dayofweek("day").cast("long").alias("dow"),
        F.expr("datediff(day, DATE '1970-01-01') div 7")
        .cast("long")
        .alias("epoch_week"),
        F.month("day").cast("long").alias("month"),
        F.dayofweek("day").isin(1, 7).alias("is_weekend"),
    )


def ranked_cumsum(
    per: DataFrame,
    value_col: str,
    key_col: str,
    descending: bool = True,
    n_buckets: int = 4096,
) -> DataFrame:
    """Exact global (rank, running sum) over ENTITY-grain rows with
    bounded window state — the range-partitioned two-pass cumulative
    sum. A naive ``Window.orderBy(value)`` moves every row to ONE
    partition; per-customer / per-part grain grows with the corpus, so
    at 100 TB that single partition is the job. Instead:

    1. Driver-collected min/max scalars (the one legitimate collect:
       2 numbers) derive a value-range bucket id as a LITERAL
       expression — monotone in the value, so bucket order == global
       order and ties (same value) land in the same bucket; clamping
       into [0, n_buckets) keeps the id bounded even if the bounds
       were stale.
    2. Bucket-grain rollup (≤ n_buckets rows, value-domain-bounded)
       gets EXCLUSIVE prefix offsets (sum, count) plus grand totals via
       a tiny single-partition window — legitimate per the histogram-
       grain rule since its input is bounded.
    3. Offsets join back on bucket id (AQE broadcasts the ≤4k-row
       side; deliberately un-hinted so callers keep their one-hint
       budget) and the per-row window partitions BY BUCKET, so window
       state is ~n/n_buckets rows instead of n.

    Rank ties break ascending on key_col in both passes, making the
    global order total and the result byte-identical to the naive
    single-partition form. Returns per + (rk, cum, total, n).
    """
    vdir = F.desc(value_col) if descending else F.asc(value_col)
    bounds = per.agg(
        F.min(value_col).alias("_vmin"), F.max(value_col).alias("_vmax")
    ).first()
    vmin = 0 if bounds["_vmin"] is None else bounds["_vmin"]
    vmax = vmin if bounds["_vmax"] is None else bounds["_vmax"]
    width = max(1, (int(vmax) - int(vmin)) // n_buckets + 1)
    bucketed = per.withColumn(
        "_bkt",
        F.least(
            F.lit(n_buckets - 1),
            F.greatest(
                F.lit(0),
                ((F.col(value_col) - F.lit(vmin)) / F.lit(width)).cast(
                    "long"
                ),
            ),
        ),
    )
    bdir = F.desc("_bkt") if descending else F.asc("_bkt")
    prefix = Window.orderBy(bdir).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        bucketed.groupBy("_bkt")
        .agg(
            F.sum(value_col).alias("_bsum"),
            F.count(F.lit(1)).alias("_bcnt"),
        )
        .select(
            "_bkt",
            F.coalesce(F.sum("_bsum").over(prefix), F.lit(0)).alias(
                "_off_sum"
            ),
            F.coalesce(F.sum("_bcnt").over(prefix), F.lit(0)).alias(
                "_off_cnt"
            ),
            F.sum("_bsum").over(Window.partitionBy()).alias("total"),
            F.sum("_bcnt").over(Window.partitionBy()).alias("n"),
        )
    )
    inbkt = Window.partitionBy("_bkt").orderBy(vdir, F.asc(key_col))
    run = inbkt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return bucketed.join(offsets, "_bkt").select(
        *[F.col(c) for c in per.columns],
        (F.col("_off_cnt") + F.row_number().over(inbkt)).alias("rk"),
        (F.col("_off_sum") + F.sum(value_col).over(run)).alias("cum"),
        "total",
        "n",
    )


def pareto_8020(orders: DataFrame) -> DataFrame:
    """Revenue-concentration readout — the 80/20 question asked
    exactly: rank customers by total spend, walk the cumulative
    revenue share, and report (a) how many customers cover 80% of
    revenue and (b) what share the top 20% of customers hold. The
    Lorenz-curve companion to gini_spend: the scalar Gini says HOW
    concentrated, this says WHERE the mass sits.

    Integer-exact: spend in cents, shares by cross-multiplied
    comparisons against total cents and total customer count (no
    division until the final bp readouts). One customer-grain
    aggregate, then the ranked cumulative walk via ranked_cumsum —
    range-bucketed two-pass, so no window ever sees more than
    ~n_customers/4096 rows (the naive global window is the 100 TB
    anti-pattern this replaces).
    """
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    ranked = ranked_cumsum(per, "cents", "o_custkey", descending=True).select(
        "rk",
        F.col("cum").alias("cum_cents"),
        F.col("total").alias("total_cents"),
        F.col("n").alias("n_cust"),
    )
    return ranked.agg(
        F.max("n_cust").cast("long").alias("n_customers"),
        F.max("total_cents").cast("long").alias("total_cents"),
        # smallest prefix covering >= 80% of revenue
        F.min(
            F.when(
                5 * F.col("cum_cents") >= 4 * F.col("total_cents"),
                F.col("rk"),
            )
        ).cast("long").alias("customers_for_80pct"),
        # revenue share of the top 20% of customers (rank <= n/5)
        F.expr(
            "10000 * max(CASE WHEN 5 * rk <= n_cust THEN cum_cents END) "
            "div max(total_cents)"
        ).cast("long").alias("top20_share_bp"),
    )


def abc_classification(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    = the head up to 80% cumulative share, B to 95%, C the tail — the
    ops-planning rollup (stock A tightly, spot-check C). Same ranked
    cumulative-share machinery as pareto_8020, read out per class.

    Integer-exact classification by cross-multiplication (20*cum vs
    16*total, 20*cum vs 19*total); per-class part counts and revenue
    shares in bp. One part-grain aggregate, then the ranked cumulative
    walk via ranked_cumsum (range-bucketed two-pass — part grain grows
    with the catalog, so no global single-partition window) + a 3-row
    rollup.
    """
    per = lineitem.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("cents")
    )
    ranked = ranked_cumsum(
        per, "cents", "l_partkey", descending=True
    ).select("cents", "cum", "total")
    cls = ranked.select(
        "cents",
        F.when(5 * (F.col("cum") - F.col("cents")) < 4 * F.col("total"), "A")
        .when(
            20 * (F.col("cum") - F.col("cents")) < 19 * F.col("total"), "B"
        )
        .otherwise("C")
        .alias("abc"),
        "total",
    )
    return cls.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").cast("long").alias("class_cents"),
        F.expr("10000 * sum(cents) div max(total)")
        .cast("long")
        .alias("share_bp"),
    )


def price_index_laspeyres(lineitem: DataFrame) -> DataFrame:
    """Laspeyres price index between the corpus's first and second
    half (split at the median ship date) — "what does the OLD basket
    cost at NEW prices": index = sum(p1 * q0) / sum(p0 * q0) over
    parts traded in BOTH halves, with q0 the base-period quantity and
    p the per-unit price (extendedprice / quantity). The
    economics-grade inflation readout a naive average-price delta
    gets wrong by ignoring quantity weights.

    Exactness: per-part unit prices stay as (cents, qty) rational
    pairs — p = c/q is never a float; the numerator term p1*q0 =
    c1*q0/q1 is evaluated as the TRUNCATING integer (c1*q0) div q1
    per part (floor-per-term is the contract; at cents scale the
    truncation is < 1 cent per part), the denominator is exactly
    sum(c0). One floored-e4 double division at the very end. One
    part-half aggregate, the median-date 1-row stat, a part-keyed
    self-join of the two half tables.
    """
    mid = lineitem.agg(
        F.expr(
            "min(to_date(l_shipdate)) + CAST(datediff("
            "max(to_date(l_shipdate)), min(to_date(l_shipdate))) "
            "div 2 AS INT)"
        ).alias("mid_day")
    )
    halves = (
        lineitem.crossJoin(F.broadcast(mid))
        .select(
            "l_partkey",
            (F.to_date("l_shipdate") > F.col("mid_day"))
            .cast("long")
            .alias("h"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("c"),
            F.round("l_quantity").cast("long").alias("q"),
        )
        .groupBy("l_partkey", "h")
        .agg(F.sum("c").alias("c"), F.sum("q").alias("q"))
    )
    h0 = halves.where(F.col("h") == 0).select(
        "l_partkey", F.col("c").alias("c0"), F.col("q").alias("q0")
    )
    h1 = halves.where(F.col("h") == 1).select(
        "l_partkey", F.col("c").alias("c1"), F.col("q").alias("q1")
    )
    j = h0.join(h1, "l_partkey").where(
        (F.col("q0") > 0) & (F.col("q1") > 0)
    )
    # Laspeyres: sum over parts of (c1*q0) div q1, against sum(c0)
    agg = j.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.expr("(c1 * q0) div q1")).alias("num"),
        F.sum("c0").alias("den"),
    )
    return agg.where(F.col("den") > 0).select(
        F.col("n_parts").cast("long").alias("n_parts"),
        F.col("num").cast("long").alias("num"),
        F.col("den").cast("long").alias("den"),
        F.floor(
            F.lit(10000.0)
            * F.col("num").cast("double")
            / F.col("den").cast("double")
        ).cast("long").alias("index_e4"),
    )


def rapid_reorders(orders: DataFrame, window_days: int = 3) -> DataFrame:
    """Rapid-reorder audit: order pairs from the SAME customer within
    ``window_days`` — the accounts-payable double-charge triage list
    (a true duplicate shows up with amount_delta_bp = 0; a fat-finger
    reorder with a small delta). The join is equi-keyed on custkey;
    the date residual bounds candidates to each customer's local
    window, so the pair count is per-customer-burst bounded, never
    quadratic in the fact.

    Canonical pair order (earlier orderkey first) keeps each pair
    once. amount_delta_bp = |c1-c2| relative to the smaller amount,
    exact cross-multiplied integers.
    """
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("day"),
    )
    a = base.select(
        "o_custkey",
        F.col("o_orderkey").alias("k1"),
        F.col("cents").alias("c1"),
        F.col("day").alias("d1"),
    )
    b = base.select(
        "o_custkey",
        F.col("o_orderkey").alias("k2"),
        F.col("cents").alias("c2"),
        F.col("day").alias("d2"),
    )
    return (
        a.join(b, "o_custkey")
        .where(
            (F.col("k1") < F.col("k2"))
            & (F.abs(F.datediff("d2", "d1")) <= window_days)
        )
        .select(
            "o_custkey",
            "k1",
            "k2",
            F.abs(F.datediff("d2", "d1")).cast("long").alias("gap_days"),
            F.expr(
                "(10000 * abs(c1 - c2)) div greatest(least(c1, c2), 1)"
            ).alias("amount_delta_bp"),
        )
    )


def return_rate_by_discount(lineitem: DataFrame) -> DataFrame:
    """Return-rate lift by discount band — does discounting correlate
    with returns? Bands are exact integer percent points of the
    discount column; per band: line count, returned share in bp, and
    the lift vs the overall return rate (cross-multiplied integer
    comparison — lift_bp > 10000 means the band returns more than
    baseline). One scan, one band-grain aggregate, a 1-row overall
    stat attach.
    """
    base = lineitem.select(
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    bands = base.groupBy("disc_pct").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("ret").cast("long").alias("n_returned"),
    )
    overall = base.agg(
        F.count(F.lit(1)).alias("tn"),
        F.sum("ret").cast("long").alias("tr"),
    )
    return (
        bands.crossJoin(F.broadcast(overall))
        .where(F.col("tr") > 0)
        .select(
            "disc_pct",
            "n_lines",
            "n_returned",
            F.expr("(10000 * n_returned) div n_lines").alias("return_bp"),
            F.expr(
                "(10000 * n_returned * tn) div (n_lines * tr)"
            ).alias("lift_bp"),
        )
    )


def basket_entropy(lineitem: DataFrame, n_cats: int = 25) -> DataFrame:
    """Basket diversity: Shannon entropy of each order's category mix
    (part id mod ``n_cats``), rolled up by basket size — do bigger
    baskets actually diversify, or just repeat? Per-order entropy is
    a bounded HOF-style computation (baskets <= 7 lines): each
    category's -p*log2(p) term quantizes to millibits BEFORE the
    per-order sum (the module-wide float discipline), then orders
    aggregate by line count.

    Two keyed aggregates (order-category, order) + one size-grain
    rollup; no window, no explode beyond the scan.
    """
    oc = lineitem.select(
        F.col("l_orderkey").alias("ok"),
        (F.col("l_partkey") % n_cats).alias("cat"),
    ).groupBy("ok", "cat").agg(F.count(F.lit(1)).alias("c"))
    tot = Window.partitionBy("ok")
    terms = oc.select(
        "ok",
        "c",
        F.sum("c").over(tot).alias("t"),
    ).select(
        "ok",
        "t",
        F.floor(
            F.lit(-1000.0)
            * (F.col("c").cast("double") / F.col("t"))
            * F.log2(F.col("c").cast("double") / F.col("t"))
        ).cast("long").alias("mb"),
    )
    per_order = terms.groupBy("ok").agg(
        F.max("t").alias("n_items"),
        F.count(F.lit(1)).alias("n_cats"),
        F.sum("mb").alias("entropy_mb"),
    )
    return per_order.groupBy("n_items").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("sum(entropy_mb) div count(1)").alias("mean_entropy_mb"),
        F.expr("sum(n_cats) * 100 div count(1)").alias("mean_cats_e2"),
    )


def mix_rate_decomposition(orders: DataFrame) -> DataFrame:
    """Shift-share decomposition of revenue change between the order-
    date halves, per priority segment: how much of each segment's
    change came from VOLUME (more orders at the old average ticket),
    how much from RATE (old volume at a richer average ticket), and
    the interaction residual — the classic "why did revenue move"
    bridge, with the books forced to balance: mix + rate +
    interaction == delta EXACTLY, because the interaction is defined
    as the integer residual after the two truncating-division terms
    (the auditable-decomposition contract; no float ever enters).

        mix  = ((n1 - n0) * c0) div n0          (volume at old rate)
        rate = (c1 * n0 - c0 * n1) div n0       (rate at new volume)

    One (half, priority) aggregate + a priority-grain self-join of
    the two 5-row tables.
    """
    mid = orders.agg(
        F.expr(
            "min(to_date(o_orderdate)) + CAST(datediff("
            "max(to_date(o_orderdate)), min(to_date(o_orderdate))) "
            "div 2 AS INT)"
        ).alias("mid_day")
    )
    halves = (
        orders.crossJoin(F.broadcast(mid))
        .groupBy(
            "o_orderpriority",
            (F.to_date("o_orderdate") > F.col("mid_day"))
            .cast("long")
            .alias("h"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("c"),
        )
    )
    h0 = halves.where(F.col("h") == 0).select(
        "o_orderpriority", F.col("n").alias("n0"), F.col("c").alias("c0")
    )
    h1 = halves.where(F.col("h") == 1).select(
        "o_orderpriority", F.col("n").alias("n1"), F.col("c").alias("c1")
    )
    j = h0.join(h1, "o_orderpriority").where(F.col("n0") > 0)
    return j.select(
        "o_orderpriority",
        "n0",
        "n1",
        F.col("c0").cast("long").alias("c0"),
        F.col("c1").cast("long").alias("c1"),
        F.expr("((n1 - n0) * c0) div n0").alias("mix_cents"),
        F.expr("(c1 * n0 - c0 * n1) div n0").alias("rate_cents"),
        F.expr(
            "(c1 - c0) - (((n1 - n0) * c0) div n0)"
            " - ((c1 * n0 - c0 * n1) div n0)"
        ).alias("interaction_cents"),
    )


def repeat_purchase_curve(events: DataFrame, max_n: int = 10) -> DataFrame:
    """Repeat-purchase curve: of users who made an nth purchase, what
    share went on to an (n+1)th — the loyalty curve whose first step
    (1 -> 2) is where most businesses bleed. Exact integers: per-user
    purchase counts, survivors-at-n via a bounded explode over
    n = 1..max_n, retention bp by truncating division of adjacent
    survivor counts (computed via a 1-step lead over the bounded
    curve).

    One user-grain aggregate + one max_n-bounded explode + a
    max_n-row window.
    """
    pu = events.where(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.count(F.lit(1)).alias("np"))
    survivors = (
        pu.select(
            F.explode(
                F.expr(f"sequence(1, least(np, {max_n}))")
            ).alias("n")
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("users_at_n"))
    )
    w = Window.orderBy("n")
    return survivors.select(
        F.col("n").cast("long").alias("n"),
        F.col("users_at_n").cast("long").alias("users_at_n"),
        F.lead("users_at_n").over(w).cast("long").alias("users_at_next"),
    ).withColumn(
        "repeat_bp",
        F.expr(
            "CASE WHEN users_at_next IS NOT NULL "
            "THEN (10000 * users_at_next) div users_at_n END"
        ),
    )


def lorenz_deciles(orders: DataFrame) -> DataFrame:
    """Lorenz curve in decile points: customers ranked by spend
    ascending, cumulative revenue share at each population decile —
    the table behind gini_spend's scalar and pareto_8020's two
    readouts (perfect equality reads 1000, 2000, ...; the sag is the
    inequality). Decile membership by exact rank cross-multiplication
    (10 * rk <= d * n), share by truncating division against total
    cents.

    One customer-grain aggregate, then the ranked cumulative walk via
    ranked_cumsum (range-bucketed two-pass, ascending — customer grain
    grows with the corpus, so no global single-partition window) + a
    10-row rollup.
    """
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    ranked = ranked_cumsum(
        per, "cents", "o_custkey", descending=False
    ).select("rk", "cum", "total", "n")
    deciles = ranked.select(
        "rk",
        "cum",
        "total",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("d"),
    ).where(10 * F.col("rk") <= F.col("d") * F.col("n"))
    return deciles.groupBy("d").agg(
        F.max("rk").cast("long").alias("n_customers"),
        F.expr("(10000 * max(cum)) div max(total)").alias(
            "cum_share_bp"
        ),
    ).select(
        F.col("d").cast("long").alias("decile"),
        "n_customers",
        "cum_share_bp",
    )


def open_order_aging(orders: DataFrame) -> DataFrame:
    """Open-order aging buckets: orders still in status 'O' bucketed
    by 90-day age bands against the corpus's latest order date — the
    AR/fulfillment backlog table ("what's been sitting for two
    quarters?"). Data-derived horizon (1-row stat) keeps it
    non-vacuous at any span; exact integers, value in cents.
    """
    horizon = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("max_day")
    )
    return (
        orders.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.expr(
                "datediff(max_day, to_date(o_orderdate)) div 90"
            ).alias("age_band_90d"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("age_band_90d")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("open_cents"),
        )
    )


def hhi_by_nation(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation market — the antitrust scalar (HHI above ~2500 reads
    concentrated), emitted with its dual, the EFFECTIVE number of
    suppliers 1/sum(p^2) (a market of HHI 2500 behaves like 4 equal
    suppliers no matter how many exist on paper).

    Integer discipline: supplier shares in bp by truncating division
    against the nation total; hhi_e4 = sum(share_bp^2) div 10000
    (exact ints, 0..10000); effective_e2 = one floored double on the
    exact HHI. Supplier and nation are broadcast dims; the only
    corpus shuffle is the (nation, supplier) revenue aggregate.
    """
    rev = (
        lineitem.join(
            F.broadcast(supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    shares = rev.select(
        "n_name",
        F.expr(
            "(10000 * cents) div sum(cents) OVER (PARTITION BY n_name)"
        ).alias("share_bp"),
    )
    return shares.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.expr("sum(share_bp * share_bp) div 10000").alias("hhi_e4"),
    ).where(F.col("hhi_e4") > 0).select(
        "n_name",
        "n_suppliers",
        "hhi_e4",
        F.floor(F.lit(1_000_000.0) / F.col("hhi_e4"))
        .cast("long")
        .alias("effective_e2"),
    )


def alsobought_hitrate(lineitem: DataFrame, k: int = 3) -> DataFrame:
    """Offline recommender evaluation: train the also-bought top-k on
    the FIRST ship-date half, score hit-rate@k against the SECOND
    half's actual co-purchases — the held-out replay every
    recommendation change ships behind. A hit: a test-half basket
    pair (a, b) where b is in a's trained top-k.

    All-deterministic: the top-k uses the also_bought total order
    (votes desc, partner asc); halves split at the median ship date
    (1-row stat). Emits one row: trained parts, test pairs, hits,
    hitrate_bp. Joins are part-keyed; the test pair set is the usual
    basket-bounded self-join.
    """
    mid = lineitem.agg(
        F.expr(
            "min(to_date(l_shipdate)) + CAST(datediff("
            "max(to_date(l_shipdate)), min(to_date(l_shipdate))) "
            "div 2 AS INT)"
        ).alias("mid_day")
    )
    li = lineitem.crossJoin(F.broadcast(mid)).select(
        "l_orderkey",
        "l_partkey",
        (F.to_date("l_shipdate") > F.col("mid_day"))
        .cast("long")
        .alias("h"),
    )

    def pairs(h: int) -> DataFrame:
        b = li.where(F.col("h") == h).select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
        ).distinct()
        return (
            b.join(b.select("ok", F.col("p").alias("q")), "ok")
            .where(F.col("p") != F.col("q"))
            .select("p", "q")
        )

    train = (
        pairs(0)
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("p").orderBy(
        F.desc("votes"), F.asc("q")
    )
    # top is consumed twice (the hit join + the trained-parts count);
    # uncached, each consumer re-planned the quadratic basket self-join
    # and the rank window (plans/r16/alsobought_hitrate_before.txt), so
    # the tiny residue (<= parts x k rows) is cached. test is consumed
    # ONCE: a left join against top's unique (p, q) rows with a match
    # marker feeds n_test (count(1)) and n_hits (count(marker)) from a
    # single aggregate, and a single consumer needs no cache.
    top = cached(
        train.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("p", "q")
    )
    test = pairs(1).distinct()
    flagged = test.join(
        top.withColumn("hit", F.lit(1)), ["p", "q"], "left"
    )
    counts = flagged.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.count("hit").alias("n_hits"),
    ).crossJoin(
        top.select("p").distinct().agg(
            F.count(F.lit(1)).alias("n_trained_parts")
        )
    )
    return counts.where(F.col("n_test") > 0).select(
        F.col("n_trained_parts").cast("long").alias("n_trained_parts"),
        F.col("n_test").cast("long").alias("n_test_pairs"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr("(10000 * n_hits) div n_test").alias("hitrate_bp"),
    )


def coldstart_share(lineitem: DataFrame) -> DataFrame:
    """Cold-start exposure for the also-bought replay: how much of
    the SECOND half's activity lands on parts the FIRST half never
    saw — the recommender's blind spot (hit-rate can only be earned
    on warm parts; this is the ceiling's other side). Emits one row:
    warm/cold part counts in the test half, cold share of parts and
    of revenue in bp.

    Two half-distinct part sets, one anti-join, one revenue rollup —
    all part-keyed.
    """
    mid = lineitem.agg(
        F.expr(
            "min(to_date(l_shipdate)) + CAST(datediff("
            "max(to_date(l_shipdate)), min(to_date(l_shipdate))) "
            "div 2 AS INT)"
        ).alias("mid_day")
    )
    li = lineitem.crossJoin(F.broadcast(mid)).select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        (F.to_date("l_shipdate") > F.col("mid_day"))
        .cast("long")
        .alias("h"),
    )
    train_parts = li.where(F.col("h") == 0).select("l_partkey").distinct()
    test = li.where(F.col("h") == 1).groupBy("l_partkey").agg(
        F.sum("c").alias("cents")
    )
    flagged = test.join(
        train_parts.withColumn("warm", F.lit(1)), "l_partkey", "left"
    ).select(
        F.coalesce("warm", F.lit(0)).alias("warm"), "cents"
    )
    return flagged.agg(
        F.sum("warm").cast("long").alias("n_warm_parts"),
        F.sum(1 - F.col("warm")).cast("long").alias("n_cold_parts"),
        F.expr(
            "(10000 * sum(1 - warm)) div count(1)"
        ).alias("cold_part_bp"),
        F.expr(
            "(10000 * sum(CASE WHEN warm = 0 THEN cents ELSE 0 END)) "
            "div sum(cents)"
        ).alias("cold_revenue_bp"),
    )


def nation_assortment_overlap(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    top_k: int = 20,
) -> DataFrame:
    """Assortment similarity between nation markets: Jaccard of the
    part sets customers of each nation actually bought — which
    markets shop alike (the localization/planning signal: high
    overlap = shared catalog strategy works). Nation-pair output is
    enum-bounded (<= 300 pairs); the intersection comes from one
    part-keyed self-join of the (nation, part) distinct table, never
    a part-catalog cross product.

    Top-k pairs by Jaccard bp with a deterministic total order.
    """
    np_ = (
        lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(
            F.broadcast(customer),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("n_name").alias("nat"), "l_partkey")
        .distinct()
    )
    # The (nation, part) distinct table is consumed three times (sizes
    # + both sides of the part-keyed self-join), and its subtree is the
    # expensive part: the lineitem JOIN orders SortMergeJoin + distinct.
    # The optimizer plans FOUR copies of that subtree with zero
    # ReusedExchange (plans/r16/nation_assortment_before.txt). Cache the
    # small distinct residue (<= nations x parts rows, two columns)
    # instead — guide S2.4 loop-invariant reuse, same pattern as the
    # r15 graph-family caches. Interleaved A/B at sf0.1 (same session,
    # variant flipped per round, caches dropped before each cold run):
    # warm min 2.05-2.31 -> 1.25-1.40 s; cold first-run a wash
    # (2.14-2.32 plain vs 2.19-2.57 cached).
    np_ = cached(np_)
    sizes = np_.groupBy("nat").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        np_.join(
            np_.select(
                F.col("nat").alias("nat2"), "l_partkey"
            ),
            "l_partkey",
        )
        .where(F.col("nat") < F.col("nat2"))
        .groupBy("nat", "nat2")
        .agg(F.count(F.lit(1)).alias("both"))
    )
    j = (
        inter.join(F.broadcast(sizes), "nat")
        .join(
            F.broadcast(
                sizes.select(
                    F.col("nat").alias("nat2"), F.col("sz").alias("sz2")
                )
            ),
            "nat2",
        )
        .select(
            "nat",
            "nat2",
            F.col("both").cast("long").alias("n_shared"),
            F.expr(
                "(10000 * both) div (sz + sz2 - both)"
            ).alias("jaccard_bp"),
        )
    )
    return j.orderBy(
        F.desc("jaccard_bp"), F.asc("nat"), F.asc("nat2")
    ).limit(top_k)


def nation_rank_shift(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Nation revenue league table with the rank SHIFT between the
    order-date halves — which markets are climbing and which are
    sliding (the rank delta is the readout executives actually read;
    absolute revenue moves with seasonality, ranks mostly don't).
    Per-half revenue ranks are deterministic (cents desc, name asc);
    nations absent from a half rank last by convention of the
    full-outer coalesce to zero revenue.

    Enum-bounded output (25 rows); one fact aggregate per half over
    broadcast dims, two bounded rank windows.
    """
    mid = orders.agg(
        F.expr(
            "min(to_date(o_orderdate)) + CAST(datediff("
            "max(to_date(o_orderdate)), min(to_date(o_orderdate))) "
            "div 2 AS INT)"
        ).alias("mid_day")
    )
    rev = (
        orders.crossJoin(F.broadcast(mid))
        .join(
            F.broadcast(customer),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            (F.to_date("o_orderdate") > F.col("mid_day"))
            .cast("long")
            .alias("h"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    names = rev.select("n_name").distinct()
    full = (
        # broadcast the 2-row literal: un-hinted, the planner may pick a
        # CartesianProduct for this cross (harmless at 25x2 but violates
        # the repo-wide zero-CartesianProduct invariant)
        names.crossJoin(
            F.broadcast(
                names.sparkSession.createDataFrame([(0,), (1,)], "h long")
            )
        )
        .join(rev, ["n_name", "h"], "left")
        .select(
            "n_name", "h", F.coalesce("cents", F.lit(0)).alias("cents")
        )
    )
    w = Window.partitionBy("h").orderBy(
        F.desc("cents"), F.asc("n_name")
    )
    ranked = full.withColumn("rk", F.row_number().over(w))
    pre = ranked.where(F.col("h") == 0).select(
        "n_name",
        F.col("rk").alias("rank_pre"),
        F.col("cents").alias("cents_pre"),
    )
    post = ranked.where(F.col("h") == 1).select(
        "n_name",
        F.col("rk").alias("rank_post"),
        F.col("cents").alias("cents_post"),
    )
    return pre.join(post, "n_name").select(
        "n_name",
        F.col("rank_pre").cast("long").alias("rank_pre"),
        F.col("rank_post").cast("long").alias("rank_post"),
        (F.col("rank_pre") - F.col("rank_post"))
        .cast("long")
        .alias("rank_gain"),
        F.col("cents_pre").cast("long").alias("cents_pre"),
        F.col("cents_post").cast("long").alias("cents_post"),
    )


def customer_momentum(orders: DataFrame) -> DataFrame:
    """Fleet micro-regression: an OLS value-vs-time slope fitted PER
    CUSTOMER (thousands of tiny models in one aggregate — the
    sufficient-statistics pattern at its best: no iteration, no
    per-model job, one shuffle keyed by customer), rolled up to the
    portfolio readout: what share of fittable customers trend up vs
    down. Slope sign is decided by the EXACT integer numerator
    n*Sxy - Sx*Sy (no division, no float) — only the shares divide.

    x = days since the customer's first order, y = order cents;
    customers need >= 3 orders and x-variance > 0 to fit.
    """
    base = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    d0 = base.groupBy("o_custkey").agg(F.min("day").alias("d0"))
    xy = base.join(d0, "o_custkey").select(
        "o_custkey",
        F.datediff("day", "d0").cast("long").alias("x"),
        "y",
    )
    g = xy.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fit = g.where((F.col("n") >= 3) & (den > 0)).select(
        F.signum(num.cast("double")).cast("long").alias("s")
    )
    return fit.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.sum((F.col("s") > 0).cast("long")).cast("long").alias("n_up"),
        F.sum((F.col("s") < 0).cast("long"))
        .cast("long")
        .alias("n_down"),
    ).select(
        "n_fit",
        "n_up",
        "n_down",
        F.expr("(10000 * n_up) div n_fit").alias("rising_bp"),
        F.expr("(10000 * n_down) div n_fit").alias("falling_bp"),
    )


def quarterly_growth(orders: DataFrame) -> DataFrame:
    """Quarter-over-quarter revenue growth over the multi-year order
    axis: revenue per (year, quarter) with the QoQ delta in bp from a
    lag over the calendar-bounded quarter series — the board-deck
    table. Growth uses the non-negative-numerator percent form
    guarded for sign (cross-multiplied against the prior quarter) so
    the integer division is engine-identical.
    """
    q = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.quarter("o_orderdate").cast("long").alias("q"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents"),
    )
    w = Window.orderBy("y", "q")
    return q.select(
        "y",
        "q",
        "n_orders",
        F.col("cents").cast("long").alias("cents"),
        F.lag("cents").over(w).alias("prev_cents"),
    ).withColumn(
        "qoq_bp",
        F.expr(
            "CASE WHEN prev_cents > 0 THEN "
            "CASE WHEN cents >= prev_cents "
            "THEN (10000 * (cents - prev_cents)) div prev_cents "
            "ELSE -((10000 * (prev_cents - cents)) div prev_cents) "
            "END END"
        ),
    ).withColumn("prev_cents", F.col("prev_cents").cast("long"))


def month_seasonality(orders: DataFrame) -> DataFrame:
    """Month-of-year revenue seasonality index over the multi-year
    order history: each calendar month's share of annual-pattern
    revenue against the uniform 1/12 — the demand-planning curve
    (index above 10000 bp x 12 = a high month). Multi-year averaging
    is what separates seasonality from one-off events; this corpus
    spans ~7 order years, so every month aggregates many instances.

    One (month) aggregate + a 1-row total attach; index by exact
    cross-multiplication: idx_e4 = 12 * 10000 * month / total.
    """
    m = orders.groupBy(
        F.month("o_orderdate").cast("long").alias("m")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents"),
    )
    tot = Window.partitionBy()
    return m.select(
        "m",
        "n_orders",
        F.col("cents").cast("long").alias("cents"),
        F.expr(
            "(120000 * cents) div sum(cents) OVER ()"
        ).alias("index_bp"),
    )


def yoy_monthly_growth(orders: DataFrame) -> DataFrame:
    """Year-over-year growth at MONTH grain — the seasonality-proof
    growth readout (QoQ confounds season with trajectory; comparing
    January to last January cancels the seasonal term exactly).
    Self-join of the (year, month) revenue table on month with year
    shifted by one; sign-guarded truncating bp deltas.
    """
    m = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    prev = m.select(
        (F.col("y") + 1).alias("y"),
        "m",
        F.col("cents").alias("prev_cents"),
    )
    return (
        m.join(prev, ["y", "m"])
        .where(F.col("prev_cents") > 0)
        .select(
            "y",
            "m",
            F.col("cents").cast("long").alias("cents"),
            F.col("prev_cents").cast("long").alias("prev_cents"),
            F.expr(
                "CASE WHEN cents >= prev_cents "
                "THEN (10000 * (cents - prev_cents)) div prev_cents "
                "ELSE -((10000 * (prev_cents - cents)) div prev_cents) "
                "END"
            ).alias("yoy_bp"),
        )
    )


def customer_lifespan(orders: DataFrame) -> DataFrame:
    """Customer active-lifespan histogram: whole years between first
    and last order, with order-count evidence — the relationship-
    length distribution behind every LTV model's horizon assumption
    (a book of 5-year customers amortizes acquisition very
    differently from one of one-shots). One customer-grain reduction,
    one bounded histogram.
    """
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(
            "datediff(max(to_date(o_orderdate)), "
            "min(to_date(o_orderdate))) div 365"
        ).alias("span_years"),
    )
    tot = Window.partitionBy()
    return per.groupBy("span_years").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("n_orders").cast("long").alias("n_orders"),
    ).select(
        F.col("span_years").cast("long").alias("span_years"),
        "n_customers",
        "n_orders",
        F.expr(
            "(10000 * n_customers) div sum(n_customers) OVER ()"
        ).alias("share_bp"),
    )


def discount_by_basket_size(lineitem: DataFrame) -> DataFrame:
    """Discount-depth vs basket-size interaction: mean discount in bp
    per order-line-count band — is discounting driving bigger baskets
    or subsidizing small ones? (The promo-efficiency cross-tab;
    uniform discounts across bands mean the promo engine ignores
    basket economics.) Exact integers: discounts are whole percent
    points in this schema, so the mean in bp is a truncating
    division over exact sums.

    One orderkey aggregate for basket size, joined back line-grain,
    a 4-band rollup.
    """
    size = lineitem.groupBy(
        F.col("l_orderkey").alias("ok")
    ).agg(F.count(F.lit(1)).alias("n_lines"))
    band = (
        F.when(F.col("n_lines") <= 2, "1-2")
        .when(F.col("n_lines") <= 4, "3-4")
        .when(F.col("n_lines") <= 6, "5-6")
        .otherwise("7+")
    )
    j = lineitem.select(
        F.col("l_orderkey").alias("ok"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("d_bp"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
    ).join(size, "ok")
    return j.groupBy(band.alias("basket_band")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("sum(d_bp) div count(1)").alias("mean_discount_bp"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


def size_demand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Size-demand curve: shipped quantity per part size — which
    physical sizes actually move (the catalog-planning curve; a size
    with many SKUs but thin demand is assortment bloat). Per p_size:
    SKU count, shipped units, units per SKU in e2 — exact integers,
    broadcast part dim, one fact aggregate.
    """
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    per_size = j.groupBy(F.col("p_size").cast("long").alias("p_size")).agg(
        F.count_distinct("l_partkey").alias("n_skus"),
        F.sum(F.round("l_quantity").cast("long"))
        .cast("long")
        .alias("units"),
    )
    return per_size.select(
        "p_size",
        F.col("n_skus").cast("long").alias("n_skus"),
        "units",
        F.expr("(100 * units) div n_skus").alias("units_per_sku_e2"),
    )


def open_share_by_year(orders: DataFrame) -> DataFrame:
    """Order-status burn-down by vintage year: what share of each
    year's orders is still open — the fulfillment-debt curve (old
    vintages should be closed; an old year with open share is stuck
    inventory or a status pipeline that stopped updating). Per order
    year: counts by status and the open share in bp — one enum-
    bounded aggregate.
    """
    return orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("o_orderstatus") == "O").cast("long"))
        .cast("long")
        .alias("n_open"),
        F.sum((F.col("o_orderstatus") == "F").cast("long"))
        .cast("long")
        .alias("n_filled"),
    ).withColumn(
        "open_bp", F.expr("(10000 * n_open) div n_orders")
    )


def reorder_gap_by_cohort(orders: DataFrame) -> DataFrame:
    """Reorder-velocity trend: the lower-median first-to-second-order
    gap per FIRST-ORDER-YEAR cohort — are newer customers reordering
    faster than older vintages did? (The compounding question behind
    every retention investment; a shrinking median gap is the
    earliest LTV improvement signal.) Same rank-window + gap
    histogram machinery as reorder_latency, partitioned by cohort
    year; the median selection is the standard 2*cum >= tot.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    ranked = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.row_number().over(w).alias("rk"),
    ).where(F.col("rk") <= 2)
    gaps = (
        ranked.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.year(F.min("day")).cast("long").alias("cohort_y"),
            F.datediff(F.max("day"), F.min("day")).alias("gap_days"),
        )
        .where(F.col("n") == 2)
        .select("cohort_y", F.col("gap_days").cast("long").alias("g"))
    )
    hist = gaps.groupBy("cohort_y", "g").agg(
        F.count(F.lit(1)).alias("t")
    )
    cw = (
        Window.partitionBy("cohort_y")
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("cohort_y")
    r = hist.select(
        "cohort_y",
        "g",
        F.sum("t").over(cw).alias("cum"),
        F.sum("t").over(tot).alias("n"),
    )
    return (
        r.where(2 * F.col("cum") >= F.col("n"))
        .groupBy("cohort_y")
        .agg(
            F.min("g").cast("long").alias("median_gap_days"),
            F.max("n").cast("long").alias("n_repeat_customers"),
        )
    )


def lineposition_value(lineitem: DataFrame) -> DataFrame:
    """Order-entry position economics: line value and quantity by
    line NUMBER — do first lines carry the anchor item while later
    lines are add-ons? (The cross-sell placement signal; flat curves
    mean position carries no intent information.) Per l_linenumber:
    line count, mean value in cents, mean quantity in e2 — exact
    truncating means over an enum-bounded key.
    """
    return lineitem.groupBy(
        F.col("l_linenumber").cast("long").alias("line_no")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr(
            "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) "
            "div count(1)"
        ).alias("mean_cents"),
        F.expr(
            "(100 * sum(CAST(round(l_quantity) AS BIGINT))) "
            "div count(1)"
        ).alias("mean_qty_e2"),
    )


def dom_billing_cycle(orders: DataFrame) -> DataFrame:
    """Day-of-month ordering cycle: each calendar day-of-month's
    order-count index against the uniform expectation — the
    billing-cycle fingerprint (procurement that batches at month end
    shows a tail spike; consumer flows are flat). Uniform expectation
    accounts for day-of-month frequency differences (the 31st exists
    in only 7 of 12 months) by indexing against the day's actual
    occurrence share across the order-date span — both sides from
    the same aggregate, exact cross-multiplication.
    """
    per_day = orders.groupBy(
        F.dayofmonth("o_orderdate").cast("long").alias("dom")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    spine = (
        orders.agg(
            F.min(F.to_date("o_orderdate")).alias("d0"),
            F.max(F.to_date("o_orderdate")).alias("d1"),
        )
        .select(
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("day")
        )
        .groupBy(F.dayofmonth("day").cast("long").alias("dom"))
        .agg(F.count(F.lit(1)).alias("n_days"))
    )
    tot = Window.partitionBy()
    j = per_day.join(spine, "dom").select(
        "dom",
        "n_orders",
        "n_days",
        F.sum("n_orders").over(tot).alias("tot_orders"),
        F.sum("n_days").over(tot).alias("tot_days"),
    )
    # index = (n_orders / tot_orders) / (n_days / tot_days) in bp
    return j.select(
        "dom",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_days").cast("long").alias("n_days"),
        F.expr(
            "(10000 * n_orders * tot_days) div (tot_orders * n_days)"
        ).alias("index_bp"),
    )


def weekend_uplift(events: DataFrame) -> DataFrame:
    """Weekend value uplift per event type: mean transaction value on
    weekend days against weekdays, cross-multiplied to an integer
    uplift in bp — the staffing/pricing weekly rhythm at VALUE grain
    (dow_seasonality counts events; this weighs them). One
    conditional aggregate per type; uplift = 10000 * (we_sum *
    wd_cnt) div (wd_sum * we_cnt) - 10000, exact integers, guarded
    for empty sides.
    """
    base = events.select(
        "event_type",
        F.dayofweek(F.to_date("ts")).isin(1, 7).cast("long").alias("we"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = base.groupBy("event_type").agg(
        F.sum(F.when(F.col("we") == 1, F.col("cents"))).alias("we_sum"),
        F.count(F.when(F.col("we") == 1, 1)).alias("we_cnt"),
        F.sum(F.when(F.col("we") == 0, F.col("cents"))).alias("wd_sum"),
        F.count(F.when(F.col("we") == 0, 1)).alias("wd_cnt"),
    )
    return g.where(
        (F.col("we_cnt") > 0) & (F.col("wd_cnt") > 0) & (F.col("wd_sum") > 0)
    ).select(
        "event_type",
        F.col("we_cnt").cast("long").alias("weekend_n"),
        F.col("wd_cnt").cast("long").alias("weekday_n"),
        F.expr("we_sum div we_cnt").alias("weekend_mean_cents"),
        F.expr("wd_sum div wd_cnt").alias("weekday_mean_cents"),
        F.expr(
            "(10000 * we_sum * wd_cnt) div (wd_sum * we_cnt) - 10000"
        ).alias("uplift_bp"),
    )


def supplier_dependency(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Top-supplier dependency per nation market: the single largest
    supplier's revenue share — the key-man risk HHI's whole-
    distribution scalar can smooth over (a market can have a moderate
    HHI yet still hinge on one 40% supplier). Per nation: supplier
    count, top share in bp, and the top supplier's identity —
    deterministic argmax via (share, -suppkey) struct max.

    Broadcast dims, one corpus aggregate, nation-bounded windows.
    """
    rev = (
        lineitem.join(
            F.broadcast(supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    tot = Window.partitionBy("n_name")
    shares = rev.select(
        "n_name",
        "s_suppkey",
        F.expr(
            "(10000 * cents) div sum(cents) OVER (PARTITION BY n_name)"
        ).alias("share_bp"),
    )
    return shares.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.expr(
            "max(named_struct('s', share_bp, 'k', -s_suppkey)).s"
        ).cast("long").alias("top_share_bp"),
        (-F.expr(
            "max(named_struct('s', share_bp, 'k', -s_suppkey)).k"
        )).cast("long").alias("top_suppkey"),
    )


def hour_entropy(events: DataFrame) -> DataFrame:
    """Hour-of-day entropy per event type in millibits — how spread
    each activity is around the clock (log2(24) ~ 4.585 bits =
    uniform; low entropy = a scheduled job or a single-timezone
    audience). The circadian_profile's information-theoretic
    companion: R measures ONE peak's sharpness, entropy measures
    total concentration. Per-cell millibit terms over the bounded
    24 x |types| histogram, exact integer weighting (the
    markov_entropy_rate construction).
    """
    cells = events.groupBy(
        "event_type", F.hour("ts").cast("long").alias("h")
    ).agg(F.count(F.lit(1)).alias("nh"))
    totals = cells.groupBy("event_type").agg(
        F.sum("nh").alias("nt")
    )
    return (
        cells.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("nt").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_hours"),
            F.expr(
                "sum(nh * CAST(floor(1000.0 * log2(CAST(nt AS DOUBLE)"
                " / CAST(nh AS DOUBLE))) AS BIGINT)) div max(nt)"
            ).alias("entropy_mb"),
        )
    )


def priority_value_profile(orders: DataFrame) -> DataFrame:
    """Order-value profile per priority class: count, mean, and the
    lower-median by value-at-rank — does urgency correlate with
    ticket size? (If urgent orders are small, expedite costs are
    subsidizing trinkets.) Enum-bounded key; exact integer mean and
    histogram median.
    """
    base = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    hist = base.groupBy("o_orderpriority", "cents").agg(
        F.count(F.lit(1)).alias("t")
    )
    cw = (
        Window.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("o_orderpriority")
    r = hist.select(
        "o_orderpriority",
        "cents",
        "t",
        F.sum("t").over(cw).alias("cum"),
        F.sum("t").over(tot).alias("n"),
        F.sum(F.col("cents") * F.col("t")).over(tot).alias("s"),
    )
    return (
        r.where(2 * F.col("cum") >= F.col("n"))
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.expr("max(s) div max(n)").alias("mean_cents"),
            F.min("cents").cast("long").alias("median_cents"),
        )
    )
