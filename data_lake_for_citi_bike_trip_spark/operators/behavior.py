"""User-behavior analytics over the event stream: cohorts, funnels,
transition matrices.

The reference's analytics stop at star-schema rollups; these are the
product-analytics staples computed on the same `events` grain
(event_id, ts, user_id, event_type). All outputs are exact integer
counts / e4 ratios — nothing for an oracle to round differently.

Scale design (100 TB of events):

- every operator reduces to grouped aggregates and windows keyed on
  ``user_id`` — one hash partitioning carried across stages, no
  all-pairs anything. Per-user event counts are bounded in practice
  (thousands), so user windows don't skew.
- ``cohort_retention`` joins each user's activity back to a per-user
  first-seen day: the first-seen table is user-keyed (same partitioning
  as the activity scan — co-located join, no extra shuffle).
- ``funnel_counts`` is K sequential min-aggregates (K = #steps, a small
  constant); each stage is a user-keyed agg joined user-keyed. The
  step tables shrink monotonically, and AQE broadcasts them as soon as
  they fit.
- ``markov_transitions`` is one ``lead`` window + one small groupBy
  (|types|² rows out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .asof import join_carry_null_safe

#: Shared crossover for the raw-event user-window choosers below
#: (SOAK_r12 §4): the flagged operators' hot/flat ratios at a 30% bot
#: user all grow with input (user_paths 4.5x→7.0x, transition_latency
#: 2.8x→3.8x, visit_cadence 3.2x→4.0x from 8M→16M), same class as
#: sessionize. Threshold calibrated like SESSIONIZE_HOT_MIN_ROWS —
#: below it the extra stages cost more than the serialized sort.
USER_WINDOW_HOT_MIN_ROWS = 4_000_000


def _hot_user_width_us(events: DataFrame) -> float | None:
    """The sessionize auto-chooser gate for any raw-event user-keyed
    window in this module: one metadata-scale counting pass
    (``skew.hot_window_gate``) over (user_id, ts); returns the derived
    bucket width in MICROS when some user owns >=
    ``USER_WINDOW_HOT_MIN_ROWS`` events (None otherwise, or when the
    time span is degenerate). The threshold is read at CALL time so the
    module global stays the single tunable (and tests can lower it)."""
    from .skew import auto_bucket_width, hot_window_gate

    stats = events.select(
        F.col("user_id").alias("__k"),
        F.unix_micros("ts").cast("double").alias("__t"),
    )
    max_rows, span_us = hot_window_gate(stats)
    if max_rows >= USER_WINDOW_HOT_MIN_ROWS:
        return auto_bucket_width(events.sparkSession, span_us)
    return None


def _has_hot_user(events: DataFrame) -> bool:
    """Row-count-only form of the gate for plans that do not bucket by
    time (ADVICE r12: ``user_paths`` salts by event_id hash, so a whale
    whose events share ONE timestamp — degenerate span, width None —
    must still escape the single-task collect_list). Same
    ``hot_window_gate`` counting pass as ``_hot_user_width_us``; each
    call runs its own job."""
    from .skew import hot_window_gate

    stats = events.select(
        F.col("user_id").alias("__k"),
        F.unix_micros("ts").cast("double").alias("__t"),
    )
    max_rows, _ = hot_window_gate(stats)
    return max_rows >= USER_WINDOW_HOT_MIN_ROWS


def cohort_retention(events: DataFrame) -> DataFrame:
    """Classic retention triangle on daily cohorts: for each (first-seen
    day, day offset) how many distinct users were active — plus the
    cohort size and the retention rate in exact e4 basis points.

    Deterministic tie-free: first-seen day is a min over the user's own
    events; offsets are calendar-day diffs.
    """
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first_seen = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = days.join(first_seen, "user_id")
    cohort_sizes = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    tri = (
        joined.groupBy(
            "cohort_day", F.datediff("day", "cohort_day").alias("offset_days")
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )
    return (
        tri.join(F.broadcast(cohort_sizes), "cohort_day")
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.col("offset_days").cast("bigint").alias("offset_days"),
            "active_users",
            "cohort_users",
            F.expr("(10000 * active_users) div cohort_users").alias("retention_e4"),
        )
    )


def funnel_counts(events: DataFrame, steps: list[str] | None = None) -> DataFrame:
    """Ordered-funnel conversion: a user counts for step k only if their
    earliest step-k event occurs strictly AFTER the timestamp that
    qualified them for step k-1 (the standard "did the sequence happen
    in order" semantics, not mere set membership).

    Emits one row per step: (step_idx, step, users, conv_from_first_e4).
    """
    steps = steps or ["view", "click", "purchase"]
    reached: list[DataFrame] = []
    prev: DataFrame | None = None
    for idx, step in enumerate(steps):
        stage = events.where(F.col("event_type") == step).select(
            "user_id", F.col("ts").alias("step_ts")
        )
        if prev is not None:
            stage = stage.join(prev, "user_id").where(
                F.col("step_ts") > F.col("prev_ts")
            )
        cur = stage.groupBy("user_id").agg(F.min("step_ts").alias("prev_ts"))
        reached.append(
            cur.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit(idx + 1).cast("bigint").alias("step_idx"),
                F.lit(step).alias("step"),
                "users",
            )
        )
        prev = cur
    out = reached[0]
    for r in reached[1:]:
        out = out.unionByName(r)
    first = reached[0].select(F.col("users").alias("first_users"))
    return out.crossJoin(F.broadcast(first)).select(
        "step_idx",
        "step",
        "users",
        F.expr("(10000 * users) div first_users").alias("conv_from_first_e4"),
    )


def markov_transitions(
    events: DataFrame, auto_segment: bool = True
) -> DataFrame:
    """Per-user event-type transition matrix: counts of consecutive
    (from_type -> to_type) pairs in each user's timeline, with the
    per-from-type transition probability in exact e4 units.

    Ordering is made total (ts, event_id) so lead() is deterministic
    under timestamp ties. One user-window + one |types|²-sized groupBy.
    The lead window is the sessionize hot-key class; past the
    ``_hot_user_width_us`` gate the pairs come from the FUSED
    single-carry ``_transition_pairs_segmented`` (VERDICT r12 item 5:
    the generic ``_segmented_lookahead(k=1)`` paid collect_list/array
    machinery and two carry shuffles for one lead) — output-identical,
    bot-user sort parallelized across time buckets."""
    width_f = _hot_user_width_us(events) if auto_segment else None
    if width_f is not None:
        seq = _transition_pairs_segmented(events, max(int(width_f), 1))
    else:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        ).where(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("transitions")
    )
    return counts.select(
        "from_type",
        "to_type",
        "transitions",
        F.expr(
            "(10000 * transitions) div (sum(transitions) over"
            " (partition by from_type))"
        ).alias("prob_e4"),
    )


def cumulative_uniques(events: DataFrame) -> DataFrame:
    """Running distinct-user adoption curve per event type ("how many
    users have EVER clicked/purchased, by day") WITHOUT a quadratic
    daily re-distinct: each (user, type) reduces to a first-seen day
    (one keyed agg), days reduce to new-user counts, and a running sum
    over the tiny (type, day)-grain table finishes the job. The window
    partitions by event_type and orders ~one row per calendar day —
    thousands of rows at any corpus size — so the window stage is safe
    by construction.
    """
    firsts = events.groupBy("user_id", "event_type").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("first_day")
    )
    daily = firsts.groupBy("event_type", "first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        F.col("first_day").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


def user_gap_median(events: DataFrame) -> DataFrame:
    """Per-user median inter-event gap — the batch ``applyInPandas``
    (grouped-map) showcase: Arrow ships each user's rows to ONE numpy
    call; the group key partitioning is the same single exchange a
    groupBy would plan. Python is justified here as the escape-hatch
    pattern (rank-order statistics per group with custom logic), and
    the contract stays engine-exact by construction: gaps floor to
    whole seconds and the median is the LOWER-middle element
    ``sorted_gaps[(n-1)//2]`` — pure integer selection, nothing to
    round differently. Users with fewer than two events have no gap
    and drop out.

    At scale: state is one user's events in memory at a time (bounded
    per-user cardinality), and no driver collection anywhere.

    r15: formerly the ``applyInPandas`` grouped-map showcase — but the
    walk is pure rank-order selection over the sorted per-user series,
    fully expressible with JVM array expressions (sort_array +
    transform diff + element_at), so the Arrow round-trip of every
    event row through Python workers was pure overhead (guide §4.1:
    built-ins over UDFs — FlatMapGroupsInPandas removed from the
    plan). Identical arithmetic: gaps floor to whole seconds
    (non-negative after the sort, so ``div`` == ``//``), median is the
    LOWER-middle element ``gaps[(n-1)//2]``, users with fewer than two
    events drop. The grouped-map escape hatch remains showcased where
    Python is genuinely needed (capped_running_sum's
    decision-dependent state; cogroup_reconcile)."""
    agg = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    ).groupBy("user_id").agg(
        F.sort_array(F.collect_list("ts_us")).alias("ts")
    )
    gaps = agg.where(F.size("ts") >= 2).select(
        "user_id",
        F.expr(
            "sort_array(transform(sequence(2, size(ts)), i -> "
            "(element_at(ts, i) - element_at(ts, i - 1)) div 1000000))"
        ).alias("gaps"),
    )
    return gaps.select(
        "user_id",
        F.expr("CAST(size(gaps) AS BIGINT)").alias("n_gaps"),
        F.expr(
            "element_at(gaps, CAST((size(gaps) - 1) div 2 AS INT) + 1)"
        ).alias("median_gap_s"),
    )


def user_paths(
    events: DataFrame, max_len: int = 12, auto_segment: bool = True
) -> DataFrame:
    """Per-user ordered event-type path — the sequence-reconstruction
    primitive behind behavioral training data (next-event prediction,
    path clustering): events sorted by (ts, event_id) within the user,
    first ``max_len`` types joined into a path string.

    Ordered aggregation without an ORDER BY clause: collect structs,
    array_sort (total order — epoch micros then the unique event_id
    breaks ties), slice, transform. One shuffle on user_id; the sort
    is per-group in memory.

    A BOT USER breaks that memory bound: collect_list materializes the
    whale's entire history as ONE in-memory array in one task (SOAK_r12
    §4: 7x a flat corpus at a 30% user / 16M events, ratio growing).
    When the ``_has_hot_user`` gate fires, the plan switches to a
    two-phase salted top-K — per-(user, salt) partials keep only their
    local count + first ``max_len`` structs, the merge flattens
    salt-many short arrays — top-K is mergeable, so output is
    IDENTICAL and every array is bounded by rows/salt (partial) or
    salt*max_len (merge). The gate is row-count-only (ADVICE r12): the
    salted plan never buckets by time, so a degenerate time span (all
    whale events on one timestamp) must not force the single-task
    plan."""
    if auto_segment and _has_hot_user(events):
        return _user_paths_salted(events, max_len)
    return (
        events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.col("event_type").alias("et"),
                    )
                )
            ).alias("seq")
        )
        .select(
            "user_id",
            F.size("seq").cast("bigint").alias("n_events"),
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("seq", 1, max_len), lambda s: s.getField("et")
                ),
            ).alias("path"),
        )
    )


def _user_paths_salted(
    events: DataFrame, max_len: int, nsalt: int | None = None
) -> DataFrame:
    """Whale-parallel user_paths: per-(user, salt) partial top-K +
    count, then a per-user merge of salt-many ``max_len``-bounded
    arrays. The salt is a deterministic hash of the unique event_id
    (retries route identically); partial top-K is lossless because any
    global top-``max_len`` element is in its own salt group's local
    top-``max_len``."""
    if nsalt is None:
        spark = events.sparkSession
        try:
            nsalt = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            nsalt = spark.sparkContext.defaultParallelism
    part = (
        events.withColumn(
            "__s", F.pmod(F.xxhash64("event_id"), F.lit(nsalt)).cast("int")
        )
        .groupBy("user_id", "__s")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.unix_micros("ts").alias("us"),
                            F.col("event_id").alias("eid"),
                            F.col("event_type").alias("et"),
                        )
                    )
                ),
                1,
                max_len,
            ).alias("__seq"),
        )
    )
    return (
        part.groupBy("user_id")
        .agg(
            F.sum("__n").cast("bigint").alias("n_events"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("__seq"))), 1, max_len
            ).alias("seq"),
        )
        .select(
            "user_id",
            "n_events",
            F.concat_ws(
                ">", F.transform(F.col("seq"), lambda s: s.getField("et"))
            ).alias("path"),
        )
    )


def trailing_distinct_users(events: DataFrame, days: int = 7) -> DataFrame:
    """Distinct users over a TRAILING ``days``-day window ending on each
    active day — the sliding-window-distinct problem, which no plain
    window aggregate can express (count_distinct isn't frame-mergeable).

    Scalable exact form: collapse to distinct (user, day) pairs first
    (the only corpus-sized shuffle), then explode each pair into the
    ``days`` window-end days it contributes to, distinct again, and
    count per window end. Work is ``days ×`` the distinct-pair count —
    linear, never the quadratic day×day self-join. The sketch-based
    alternative (HLL per day + sliding union) trades exactness for a
    ``days ×`` smaller shuffle; this operator is the exact tier.

    Emits window ends that have at least one active user IN the window
    (explode covers ends up to days-1 after the last active day; ends
    are kept only if the end day itself is active — matching "per
    active day" reporting).
    """
    pairs = events.select(
        F.col("user_id"), F.to_date("ts").alias("day")
    ).distinct()
    active_days = pairs.select("day").distinct()
    covered = pairs.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), days - 1),
                F.expr("interval 1 day"),
            )
        ).alias("window_end"),
    ).distinct()
    return (
        covered.join(
            active_days.withColumnRenamed("day", "window_end"), "window_end"
        )
        .groupBy("window_end")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("window_end").cast("string").alias("window_end"), "n_users"
        )
    )


def peak_concurrency(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Peak number of SIMULTANEOUSLY open sessions per day — the
    capacity-planning metric — by the classic sweep line: sessionize,
    emit +1 at each session start and -1 at each end, order the marks,
    take the running sum's max per day.

    Exactness at the boundary: a session ending at instant t and one
    starting at t do NOT overlap (half-open [start, end)), so ends sort
    BEFORE starts at equal timestamps via the delta as a secondary sort
    key (-1 < +1).

    The sweep is the prefix-sum split it always promised: marks bucket
    by calendar DAY (bounded), a tiny single-partition window over the
    day-grain net-delta table computes each day's carried-in offset
    (sessions still open at midnight), and the per-mark running sum
    partitions BY DAY — no window ever holds more than one day of
    marks, instead of the whole corpus's 2x#sessions. Equal-us ties
    never straddle a day boundary (same us ⇒ same day), so the split
    is exact.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    sess = (
        events.select("user_id", "ts", "event_id")
        .withColumn("prev_us", F.unix_micros(F.lag("ts").over(w)))
        .withColumn(
            "new_sess",
            (
                F.col("prev_us").isNull()
                | (F.unix_micros("ts") - F.col("prev_us") > gap_us)
            ).cast("long"),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sess_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
    )
    marks = sess.select(
        F.col("start_us").alias("us"), F.lit(1).alias("delta")
    ).unionByName(
        # half-open: the end mark sits one microsecond after the last
        # event so single-instant sessions still count as open
        sess.select((F.col("end_us") + 1).alias("us"), F.lit(-1).alias("delta"))
    )
    marks = marks.withColumn(
        "day", F.date_format(F.timestamp_micros(F.col("us")), "yyyy-MM-dd")
    )
    carry = (
        marks.groupBy("day")
        .agg(F.sum("delta").alias("net"))
        .select(
            "day",
            F.coalesce(
                F.sum("net").over(
                    Window.orderBy("day").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("carried_in"),
        )
    )
    in_day = Window.partitionBy("day").orderBy("us", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = marks.join(carry, "day").withColumn(
        "open_now", F.col("carried_in") + F.sum("delta").over(in_day)
    )
    return sweep.groupBy("day").agg(
        F.max("open_now").cast("long").alias("peak_open_sessions")
    )


def near_dup_events(events: DataFrame, tolerance_s: int = 600) -> DataFrame:
    """Telemetry double-fire cleanup: an event is a NEAR-DUPLICATE when
    the same (user, type) fired within ``tolerance_s`` seconds of the
    previous occurrence — retry storms, client double-submits and rapid
    repeats, which exact-key dedup misses because the ids differ.

    Chain semantics via one lag window per (user, type): gap <=
    tolerance marks a duplicate of the chain's anchor (so a burst of n
    collapses to 1 kept + n-1 dups even when each gap is small but the
    total span exceeds the tolerance). Emits the per-key audit: events
    seen, duplicates flagged, and the kept count.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = tolerance_s * 1_000_000
    flagged = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) <= gap_us
        ).alias("is_dup"),
    )
    return flagged.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.coalesce(F.col("is_dup").cast("long"), F.lit(0)))
        .cast("long")
        .alias("n_dups"),
    ).where(F.col("n_dups") > 0)


def cep_sequence_matches(
    events: DataFrame,
    start_type: str,
    end_type: str,
    forbid_types: tuple[str, ...] = (),
    within_minutes: int = 60,
) -> DataFrame:
    """REUSABLE complex-event-processing matcher: per user, count
    occurrences of ``start_type`` followed by ``end_type`` within the
    window with NO intervening event of any ``forbid_types`` — the
    MATCH_RECOGNIZE family A B* C where B is "anything except the
    forbidden set". ``forbid=(start,)`` gives the classic
    non-overlapping "recovered after failure" shape;
    ``forbid=('error',)`` with other endpoints gives "conversion not
    interrupted by an error"; empty forbid is a plain windowed funnel.

    The negation falls out of ONE window function instead of a
    NOT EXISTS anti-join: union the start and forbidden events, order
    each user's rows by (ts, event_id) — a total order, so same-
    timestamp ties are deterministic — and take the min forbidden ts
    over the strictly-following frame. The match window for start S
    then ends at min(S + within, next_forbid). One shuffle on user_id
    for the window; the end-event probe is an interval join keyed on
    user (grid-bucketable at scale exactly like
    intervals.overlap_join).

    Output: user_id, n_matched_starts, n_end_events.
    """
    within_us = within_minutes * 60 * 1_000_000
    starts = events.where(F.col("event_type") == start_type).select(
        "user_id",
        F.col("event_id").alias("start_id"),
        F.unix_micros("ts").alias("s_us"),
    )
    if forbid_types:
        tagged = starts.select(
            "user_id",
            F.col("start_id").alias("eid"),
            F.col("s_us").alias("us"),
            F.lit("s").alias("tag"),
        ).unionByName(
            events.where(F.col("event_type").isin(list(forbid_types))).select(
                "user_id",
                F.col("event_id").alias("eid"),
                F.unix_micros("ts").alias("us"),
                F.lit("f").alias("tag"),
            )
        )
        # tag is the tiebreaker: when forbid includes the start type,
        # each start event appears twice (as 's' and 'f') with the same
        # (us, eid); 'f' < 's' puts the forbid copy BEFORE its start
        # copy, so a start never sees its own forbid in the strictly-
        # following frame (matching the classic lead(next_start) bound)
        w = (
            Window.partitionBy("user_id")
            .orderBy("us", "eid", "tag")
            .rowsBetween(1, Window.unboundedFollowing)
        )
        bounded = (
            tagged.withColumn(
                "next_f_us", F.min(F.when(F.col("tag") == "f", F.col("us"))).over(w)
            )
            .where(F.col("tag") == "s")
            .select(
                "user_id",
                F.col("eid").alias("start_id"),
                F.col("us").alias("s_us"),
                F.least(
                    F.col("us") + within_us,
                    F.coalesce(F.col("next_f_us"), F.lit(2**62)),
                ).alias("end_us"),
            )
        )
    else:
        bounded = starts.withColumn("end_us", F.col("s_us") + within_us)
    ends = events.where(F.col("event_type") == end_type).select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    matched = (
        bounded.join(ends, "user_id")
        .where(
            (F.col("p_us") > F.col("s_us")) & (F.col("p_us") <= F.col("end_us"))
        )
        .groupBy("user_id", "start_id")
        .agg(F.count(F.lit(1)).alias("n_ends"))
    )
    return matched.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matched_starts"),
        F.sum("n_ends").cast("long").alias("n_end_events"),
    )


def cep_error_recovery(events: DataFrame, within_minutes: int = 60) -> DataFrame:
    """The "recovered after failure" funnel — ERROR then PURCHASE
    within the window with no intervening ERROR — expressed through the
    reusable ``cep_sequence_matches`` builder (forbid = the start type
    itself, which reproduces the lead(next_error) window bound)."""
    return cep_sequence_matches(
        events,
        start_type="error",
        end_type="purchase",
        forbid_types=("error",),
        within_minutes=within_minutes,
    ).select(
        "user_id",
        F.col("n_matched_starts").alias("n_recovered_errors"),
        F.col("n_end_events").alias("n_recovery_purchases"),
    )


DEBOUNCE_SCHEMA = "user_id bigint, n_events bigint, n_kept bigint, kept_ids string"


def debounce_events(events: DataFrame, refractory_minutes: int = 120) -> DataFrame:
    """GREEDY debounce per user: keep an event only if at least
    ``refractory_minutes`` passed since the last KEPT event — the
    rate-limiter / alert-suppression semantics. This is genuinely
    outside window-function reach (each decision depends on the
    previous DECISION, not the previous row), so the batch form uses
    the sanctioned escape hatch — but as a single-pass Arrow-batched
    ``mapInPandas`` walk over hash-partitioned, JVM-sorted partitions
    (user rows are contiguous after repartition + sortWithinPartitions,
    and the walk carries O(1) per-user state across Arrow batch
    boundaries), NOT a per-group ``applyInPandas``: with millions of
    small user groups the per-group pandas-frame construction dominates
    (measured 6.0 s → here at sf0.1), while one sorted pass costs one
    shuffle plus a linear scan. The oracle replays the same greedy walk
    with a recursive CTE, so the escape-hatch logic itself is
    hash-checked.

    Emits per user: events seen, events kept, and the ordered kept ids
    (a deterministic '>' join — total order (ts, event_id)).
    """
    gap_us = refractory_minutes * 60 * 1_000_000

    def walk(batches):
        import pandas as pd

        out = {"user_id": [], "n_events": [], "n_kept": [], "kept_ids": []}
        uid = None
        n_ev = n_kept = 0
        kept: list[str] = []
        last = None

        def flush():
            if uid is not None:
                out["user_id"].append(uid)
                out["n_events"].append(n_ev)
                out["n_kept"].append(n_kept)
                out["kept_ids"].append(">".join(kept))

        for pdf in batches:
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            for u, eid, t in zip(pdf["user_id"], pdf["event_id"], us):
                if u != uid:
                    flush()
                    uid, n_ev, n_kept, kept, last = int(u), 0, 0, [], None
                n_ev += 1
                if last is None or t - last >= gap_us:
                    kept.append(str(int(eid)))
                    n_kept += 1
                    last = t
        flush()
        yield pd.DataFrame(out)

    return (
        events.select("user_id", "ts", "event_id")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(walk, schema=DEBOUNCE_SCHEMA)
    )


def last_touch_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    within_hours: int = 24,
) -> DataFrame:
    """Marketing-style LAST-TOUCH attribution: every purchase is
    credited to the channel (event_type) of the latest touch event
    strictly before it in the (ts, event_id) total order, provided the
    touch is within the lookback window; purchases with no qualifying
    touch are 'direct'.

    One window, one shuffle: union is avoided entirely — the frame
    ORDER BY (us, event_id) over ALL relevant events per user carries a
    null-unless-touch struct, and last(..., ignorenulls=True) over the
    strictly-preceding frame is the argmax-by-time touch. No per-pair
    interval join, so a user with p purchases and t touches costs
    p + t rows, not p*t.

    Output: channel, n_purchases, n_users (distinct purchasers whose
    last touch was that channel)."""
    within_us = within_hours * 3600 * 1_000_000
    rel = events.where(
        F.col("event_type").isin([*touch_types, "purchase"])
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
    )
    touch = F.when(
        F.col("event_type").isin(list(touch_types)),
        F.struct(F.col("us").alias("t_us"), F.col("event_type").alias("t_type")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = (
        rel.withColumn("lt", F.last(touch, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.when(
                F.col("lt").isNotNull()
                & (F.col("lt.t_us") >= F.col("us") - within_us),
                F.col("lt.t_type"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
        )
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


CAPPED_SUM_SCHEMA = (
    "user_id bigint, n_events bigint, final_balance bigint, "
    "n_sat_hi bigint, n_sat_lo bigint"
)


def capped_running_sum(events: DataFrame, cap: int = 100_000) -> DataFrame:
    """Bounded-inventory running balance per user: credits (non-purchase
    events add their cents) and debits (purchases subtract 3x cents)
    accumulate in event order, CLAMPED into [0, cap] at every step —
    the stock-level / token-bucket / credit-limit semantics.

    Like debounce, the clamp makes each step depend on the previous
    DECISION (a saturated balance forgets the overflow), which no
    window closed form expresses — cumsum-minus-running-min handles one
    bound (see cusum), not two. So this is the sanctioned escape hatch,
    in the same single-pass ``mapInPandas``-over-sorted-partitions form
    as debounce_events (per-group applyInPandas pays a pandas-frame
    construction per user; one JVM sort + linear walk does not), with
    O(1) per-user state carried across Arrow batch boundaries. The
    DELTAS are computed declaratively BEFORE the UDF (JVM cents
    quantization), and the oracle replays the same walk with a
    recursive CTE — the imperative logic itself is hash-checked.

    Emits per user: event count, final balance, and how many steps
    saturated at each bound (the overflow/underflow telemetry a real
    inventory system alerts on).
    """

    def walk(batches):
        import pandas as pd

        out = {
            "user_id": [],
            "n_events": [],
            "final_balance": [],
            "n_sat_hi": [],
            "n_sat_lo": [],
        }
        uid = None
        n_ev = bal = hi = lo = 0

        def flush():
            if uid is not None:
                out["user_id"].append(uid)
                out["n_events"].append(n_ev)
                out["final_balance"].append(bal)
                out["n_sat_hi"].append(hi)
                out["n_sat_lo"].append(lo)

        for pdf in batches:
            for u, d in zip(pdf["user_id"], pdf["delta"]):
                if u != uid:
                    flush()
                    uid, n_ev, bal, hi, lo = int(u), 0, 0, 0, 0
                n_ev += 1
                if d != d or d is None:  # NULL value -> NaN delta:
                    continue  # a valueless event moves no balance
                b = bal + int(d)
                if b > cap:
                    bal, hi = cap, hi + 1
                elif b < 0:
                    bal, lo = 0, lo + 1
                else:
                    bal = b
        flush()
        yield pd.DataFrame(out)

    cents = F.round(F.col("value") * 100).cast("long")
    delta = F.when(
        F.col("event_type") == "purchase", -3 * cents
    ).otherwise(cents)
    return (
        events.select("user_id", "ts", "event_id", delta.alias("delta"))
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(walk, schema=CAPPED_SUM_SCHEMA)
    )


def _quintile_cuts(base: DataFrame, col: str):
    """1-row frame of the four quintile cut VALUES for ``col`` —
    histogram-rank selection (value at rank ceil(k*n/5), lower-value
    convention) over the value-domain histogram, so no global sort of
    raw rows ever happens. The row is provably bounded: broadcast."""
    hist = base.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "v",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    aggs = [
        F.min(
            F.when(F.col("cum") >= F.expr(f"({k} * n + 4) div 5"), F.col("v"))
        ).alias(f"{col}_t{k}")
        for k in (1, 2, 3, 4)
    ]
    return cum.agg(*aggs)


def rfm_scores(events: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring — the
    classic marketing segmentation, exact and scale-safe: per user,
    days since last purchase (vs the corpus max day), purchase count,
    total cents; each dimension scores 1-5 by comparison against its
    QUINTILE CUT VALUES. The cuts come from histogram-rank selection
    (winsorized_stats' discipline), NOT a global rank window — ranking
    every user in one sort is the single-partition trap at 1e9 users;
    comparing against four broadcast thresholds is a map-side
    expression. Ties share a bucket (value-based semantics), so engines
    can't disagree on boundary users.

    recency is better when SMALL (score flips); frequency/monetary are
    better when large. Emits the three scores and the concatenated
    segment code. Plan: one user-grain aggregate, three value-domain
    histogram passes, three 1-row broadcasts, then codegen CASE logic.
    """
    purchases = events.where(F.col("event_type") == "purchase")
    per_user = purchases.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    maxd = per_user.agg(F.max("last_day").alias("corpus_max"))
    # materialized once (localCheckpoint): the user-grain frame feeds
    # FOUR consumers (three histogram passes + the scoring projection);
    # without it every consumer re-derives the aggregate from raw events
    base = per_user.crossJoin(F.broadcast(maxd)).select(
        "user_id",
        F.datediff("corpus_max", "last_day").cast("long").alias(
            "recency_days"
        ),
        "frequency",
        "monetary_cents",
    ).localCheckpoint(eager=True)

    def bucket(col: str):
        return sum(
            (F.col(col) > F.col(f"{col}_t{k}")).cast("long")
            for k in (1, 2, 3, 4)
        ) + 1

    cuts = (
        _quintile_cuts(base, "recency_days")
        .crossJoin(_quintile_cuts(base, "frequency"))
        .crossJoin(_quintile_cuts(base, "monetary_cents"))
    )
    out = base.crossJoin(F.broadcast(cuts))
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        (6 - bucket("recency_days")).alias("r"),
        bucket("frequency").alias("f"),
        bucket("monetary_cents").alias("m"),
    ).withColumn(
        "rfm_segment",
        F.concat_ws(
            "",
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


def funnel_time_quartiles(events: DataFrame) -> DataFrame:
    """Conversion LATENCY distribution: for every user who clicked then
    later purchased, the seconds from FIRST click to the first purchase
    at-or-after it, summarized by exact quartiles (histogram-free rank
    selection at user grain — funnels are user-bounded, so the sorted
    window is corpus-bounded by |converted users|, and at larger scale
    the same selection runs on a (latency, count) histogram exactly as
    feature_quartiles documents).

    One user-grain aggregate computes both marks (min click ts; min
    purchase ts at-or-after it via conditional min over the SAME pass —
    no join); non-converters drop out. Emits n plus p25/p50/p75 latency
    seconds, lower-index convention."""
    marks = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.unix_micros("ts"))
        ).alias("c0")
    )
    joined = events.join(marks, "user_id").groupBy("user_id").agg(
        F.max("c0").alias("c0"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.unix_micros("ts") >= F.col("c0")),
                F.unix_micros("ts"),
            )
        ).alias("p0"),
    )
    lat = joined.where(
        F.col("c0").isNotNull() & F.col("p0").isNotNull()
    ).select(F.expr("(p0 - c0) div 1000000").alias("s"))
    # histogram rank-selection (the reorder_latency idiom): the window
    # walks DISTINCT latency values (time-domain-bounded), never the
    # user-grain rows — value at rank (n-1)*q div 100 + 1 is the
    # smallest s whose cumulative count reaches that rank
    hist = lat.groupBy("s").agg(F.count(F.lit(1)).alias("t"))
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.select(
        "s",
        F.sum("t").over(w).alias("cum"),
        F.sum("t").over(Window.partitionBy()).alias("n"),
    )
    qs = {
        q: F.min(
            F.when(
                F.col("cum") >= F.expr(f"(n - 1) * {q} div 100") + 1,
                F.col("s"),
            )
        ).alias(f"p{q}_seconds")
        for q in (25, 50, 75)
    }
    return ranked.agg(
        F.max("n").alias("n_converted"), qs[25], qs[50], qs[75]
    )


def burst_max(events: DataFrame, window_seconds: int = 300) -> DataFrame:
    """Burstiness per user: the maximum number of events falling in ANY
    trailing ``window_seconds`` window — the rate-limit-sizing /
    bot-detection number (mean rates hide bursts; the max trailing
    count is the thing a limiter actually trips on).

    Exact and join-free: a RANGE frame over epoch seconds counts each
    event's trailing window, then one max per user. The frame is
    time-bounded (not row-bounded), so quiet gaps reset naturally. One
    shuffle on user_id; per-user window sort.
    """
    s = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(s)
        .rangeBetween(-(window_seconds * 1_000_000 - 1), Window.currentRow)
    )
    counted = events.select(
        "user_id", F.count(F.lit(1)).over(w).alias("trailing")
    )
    return counted.groupBy("user_id").agg(
        F.max("trailing").cast("long").alias("max_burst"),
        F.count(F.lit(1)).alias("n_events"),
    )


def path_trigrams(
    events: DataFrame, k: int = 20, auto_segment: bool = True
) -> DataFrame:
    """Top-k three-step behavior sequences — the order above
    markov_transitions' bigrams, where funnels actually live
    (view->click->purchase vs click->view->purchase are different
    stories a 2-gram model cannot tell apart).

    One user-keyed window pass carries two leads in the (ts, event_id)
    total order; trigram counts reduce map-side into a |types|^3-
    bounded cell table, and the top-k boundary is a TOTAL order
    (count desc, then the lexicographic triple) — deterministic in any
    engine. TakeOrderedAndProject handles the limit. Hot-key class:
    past the ``_hot_user_width_us`` gate the two leads come from
    ``_segmented_lookahead(k=2)``, output-identical."""
    width_f = _hot_user_width_us(events) if auto_segment else None
    if width_f is not None:
        led = (
            _segmented_lookahead(events, max(int(width_f), 1), 2)
            .select(
                F.col("__p").alias("t1"),
                F.col("__n1").alias("t2"),
                F.col("__n2").alias("t3"),
            )
            .where(F.col("t3").isNotNull())
        )
    else:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        led = events.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        ).where(F.col("t3").isNotNull())
    counts = led.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.orderBy(
        F.desc("n"), F.asc("t1"), F.asc("t2"), F.asc("t3")
    ).limit(k)


def position_attribution(events: DataFrame) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every click
    at or before a user's FIRST purchase shares that conversion's
    10000 bp of credit — 40% to the first touch, 40% to the last, the
    middle 20% split across interior touches — the marketing-mix
    answer single-touch attribution (last_touch above) biases toward
    closers. Exact integer contract: n=1 takes all 10000; n=2 splits
    5000/5000; n>=3 gives first/last 4000 each and each interior touch
    2000 div (n-2), with the integer remainder pinned to the EARLIEST
    interior touch so per-conversion credit sums to exactly 10000.

    Rolled up by the click's day-of-week (the channel proxy in this
    schema) — bounded 7-row output. Scale: one user-keyed equi-join of
    clicks to the 1-per-user first-purchase mark, one user-partitioned
    window pass (groups bounded by per-user click volume), one 7-key
    aggregate. Total order inside the window is (ts, event_id).
    """
    p0 = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p0"))
    )
    touches = (
        events.where(F.col("event_type") == "click")
        .join(p0, "user_id")
        .where(F.col("ts") <= F.col("p0"))
        .select("user_id", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = touches.select(
        "user_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id")
        ).alias("n"),
    )
    credit = F.expr(
        "CASE WHEN n = 1 THEN 10000 "
        "WHEN n = 2 THEN 5000 "
        "WHEN rn = 1 OR rn = n THEN 4000 "
        "ELSE 2000 div (n - 2) "
        "     + CASE WHEN rn = 2 THEN 2000 % (n - 2) ELSE 0 END END"
    )
    return (
        ranked.select(
            F.dayofweek("ts").cast("long").alias("click_dow"),
            credit.cast("long").alias("credit_bp"),
        )
        .groupBy("click_dow")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_bp").cast("long").alias("credit_bp_total"),
        )
    )


def ltv_cohort(events: DataFrame) -> DataFrame:
    """Cohort lifetime-value triangle: users grouped by FIRST-SEEN
    week, purchase revenue accumulated by cohort age in weeks — the
    curve that says whether newer cohorts monetize faster or slower
    than older ones (cohort_retention counts presence; this follows
    the money). cum_rev_cents is the running total down each cohort's
    age axis. Weekly grain because the cohort axis must be finer than
    the corpus time span to produce a triangle (a monthly cohort over
    a one-month corpus is a single vacuous cell — the scale-aware
    threshold lesson applied to grain).

    Scale: one user-grain first-seen aggregate joined back on user_id
    (the only corpus-sized shuffle), then a (cohort, age) aggregate
    and a window over ages — both calendar-bounded. Exact cents
    throughout; week index = epoch-days div 7, plain integers on both
    engines.
    """
    wk = lambda c: F.expr(  # noqa: E731 — epoch-week index
        f"datediff({c}, DATE '1970-01-01') div 7"
    ).cast("long")
    first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    ).select("user_id", wk("first_day").alias("cohort_w"))
    weekly = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn("w", wk("day"))
        .join(first, "user_id")
        .groupBy(
            "cohort_w", (F.col("w") - F.col("cohort_w")).alias("age_weeks")
        )
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.count_distinct("user_id").alias("n_buyers"),
        )
    )
    w = (
        Window.partitionBy("cohort_w")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return weekly.select(
        "cohort_w",
        "age_weeks",
        "n_buyers",
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
    )


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily new-vs-returning split: of each day's active users, how
    many are seen for the FIRST time — the growth-vs-retention
    decomposition every DAU chart hides. A user is new on exactly one
    day (their first), returning on every later active day.

    Two user-keyed aggregates (first day, daily presence) and one
    day-grain rollup — the join is on user_id only, no window needed.
    new_share_bp is a truncating division over non-negative counts.
    """
    first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    active = (
        events.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .join(first, "user_id")
    )
    return (
        active.groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                (F.col("day") == F.col("first_day")).cast("long")
            ).cast("long").alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).alias("n_returning"),
            F.expr("(10000 * n_new) div n_active").alias("new_share_bp"),
        )
    )


def inactivity_profile(events: DataFrame) -> DataFrame:
    """Inactivity histogram: every user bucketed by days since their
    LAST event, measured against the corpus's own latest day (a 1-row
    stat attach, the sanctioned broadcast) — the curve a churn
    threshold is READ FROM, rather than a fixed "7 days" screen that
    goes vacuous when the whole population is recently active (this
    corpus's max observed inactivity is 2 days; a histogram is
    non-vacuous at any scale or span, the scale-aware-threshold rule).

    Emits per days_inactive: user count and the cumulative share in
    bp from most-recent down — "X bp of users have been quiet <= d
    days". One user-grain aggregate, one broadcast stat, one
    day-domain histogram + a calendar-bounded cumulative window.
    """
    last = events.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day")
    )
    horizon = events.agg(F.max(F.to_date("ts")).alias("max_day"))
    hist = (
        last.crossJoin(F.broadcast(horizon))
        .groupBy(
            F.datediff(F.col("max_day"), F.col("last_day"))
            .cast("long")
            .alias("days_inactive")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return hist.select(
        "days_inactive",
        "n_users",
        F.expr(
            "10000 * sum(n_users) OVER (ORDER BY days_inactive "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "div sum(n_users) OVER ()"
        ).alias("cum_share_bp"),
    )


def decay_attribution(events: DataFrame, half_life_days: int = 1) -> DataFrame:
    """Time-decay multi-touch attribution — position_attribution's
    third sibling (last_touch: recency winner-take-all; U-shaped:
    position; decay: RECENCY-WEIGHTED): each click before the user's
    first purchase earns weight 2^(-age / half_life), so a click the
    day before the conversion outweighs one from a week earlier.

    Exactness: powers of two are EXACT integers — weight_num =
    shiftleft(1, CAP - min(age_units, CAP)) with CAP = 30 keeps every
    weight a BIGINT and the per-user share an exact integer division
    (w * 10000 div sum_w); no exp(), no floats anywhere. age_units =
    whole days (div by half_life).

    Scale: same two-aggregate + user-keyed-join shape as
    position_attribution; the weight is pure codegen; rollup by
    click day-of-week (bounded output).
    """
    p0 = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p0"))
    )
    touches = (
        events.where(F.col("event_type") == "click")
        .join(p0, "user_id")
        .where(F.col("ts") <= F.col("p0"))
        .select(
            "user_id",
            "ts",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), 30 - CAST(least("
                f"datediff(to_date(p0), to_date(ts)) div {half_life_days},"
                " 30) AS INT))"
            ).alias("w"),
        )
    )
    sums = touches.groupBy("user_id").agg(F.sum("w").alias("sw"))
    return (
        touches.join(sums, "user_id")
        .select(
            F.dayofweek("ts").cast("long").alias("click_dow"),
            F.expr("(10000 * w) div sw").alias("credit_bp"),
        )
        .groupBy("click_dow")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_bp").cast("long").alias("credit_bp_total"),
        )
    )


def conversion_by_session_ordinal(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Conversion rate by SESSION ORDINAL — do users buy in their
    first visit or their third? — the activation-funnel readout
    session-blind conversion rates hide. Sessions are the module's
    standard 30-minute-gap windows; the running new-session sum IS
    the ordinal, so no second ranking pass is needed; a session
    converts if it contains a purchase.

    One user-partitioned window chain (lag -> flag -> running sum),
    one (user, ordinal) aggregate, one ordinal-grain rollup. Exact
    integers; epoch-micros gap arithmetic (the sessionize
    convention).
    """
    ts_us = F.unix_micros("ts")
    base = events.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        (F.col("event_type") == "purchase").cast("long").alias("p"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    flagged = base.select(
        "user_id",
        "ts_us",
        "event_id",
        "p",
        F.when(
            gap.isNull() | (gap > gap_minutes * 60_000_000), 1
        ).otherwise(0).alias("new_session"),
    )
    sess = flagged.withColumn(
        "ordinal", F.sum("new_session").over(w).cast("long")
    )
    per = sess.groupBy("user_id", "ordinal").agg(
        F.max("p").alias("converted")
    )
    return per.groupBy("ordinal").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
    ).withColumn(
        "conv_bp", F.expr("(10000 * n_converted) div n_sessions")
    )


def segment_migration(events: DataFrame) -> DataFrame:
    """Spend-tertile migration matrix between the corpus halves — the
    customer-health transition table (how many high spenders slipped,
    how many entered): per half, users are cut into tertiles by spend
    against that half's OWN value-at-rank cut points (so the segments
    are relative, comparable across halves); users absent from a half
    take segment -1. Emits the full (seg_pre, seg_post, n_users)
    matrix — at most 4x4 rows.

    All-integer: spend in cents, cuts by the (n-1)*q div 100 + 1
    rank convention over each half's spend histogram, tertile by
    cut-comparison. Two user-half aggregates, two histogram-grain cut
    derivations (broadcast — 2 rows each), one full-outer user join.
    """
    mid = events.agg(
        F.expr(
            "min(to_date(ts)) + CAST(datediff(max(to_date(ts)), "
            "min(to_date(ts))) div 2 AS INT)"
        ).alias("mid_day")
    )
    spend = (
        events.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mid))
        .select(
            "user_id",
            (F.to_date("ts") > F.col("mid_day")).cast("long").alias("h"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("user_id", "h")
        .agg(F.sum("cents").alias("spend"))
    )

    def cuts(h: int) -> DataFrame:
        hist = (
            spend.where(F.col("h") == h)
            .groupBy("spend")
            .agg(F.count(F.lit(1)).alias("t"))
        )
        w = Window.orderBy("spend").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        ranked = hist.select(
            "spend",
            (F.sum("t").over(w) - F.col("t") + 1).alias("lo"),
            F.sum("t").over(w).alias("hi"),
            F.sum("t").over(Window.partitionBy()).alias("n"),
        )
        return (
            ranked.select(
                "spend",
                F.explode(F.array(F.lit(33), F.lit(66))).alias("q"),
                "lo",
                "hi",
                "n",
            )
            .where(
                (F.expr("(n - 1) * q div 100 + 1") >= F.col("lo"))
                & (F.expr("(n - 1) * q div 100 + 1") <= F.col("hi"))
            )
            .groupBy()
            .agg(
                F.min(F.when(F.col("q") == 33, F.col("spend"))).alias("c1"),
                F.min(F.when(F.col("q") == 66, F.col("spend"))).alias("c2"),
            )
        )

    def seg(h: int) -> DataFrame:
        return (
            spend.where(F.col("h") == h)
            .crossJoin(F.broadcast(cuts(h)))
            .select(
                "user_id",
                (
                    (F.col("spend") > F.col("c1")).cast("long")
                    + (F.col("spend") > F.col("c2")).cast("long")
                ).alias(f"seg_{h}"),
            )
        )

    j = seg(0).join(seg(1), "user_id", "full_outer")
    return (
        j.select(
            F.coalesce("seg_0", F.lit(-1)).alias("seg_pre"),
            F.coalesce("seg_1", F.lit(-1)).alias("seg_post"),
        )
        .groupBy("seg_pre", "seg_post")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def stickiness_ratio(events: DataFrame) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement-quality ratio (a
    product whose weekly users all show up daily reads 10000 bp;
    one that sees each user once a week reads ~1429): daily active
    users against the TRAILING-7-day distinct users, exact via the
    first-seen-in-window trick — a user counts toward WAU(d) once per
    window, which equals counting (user, day) pairs whose PREVIOUS
    active day is > 6 days back or absent.

    One distinct (user, day) reduction, one user-partitioned lag, two
    day-grain aggregates joined on the calendar — no 7x explode, no
    window re-scan per day.
    """
    pairs = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    w = Window.partitionBy("user_id").orderBy("day")
    # entries: days where the user STARTS a presence-window (no
    # activity in the prior 6 days); exits: first day beyond each
    # presence run. WAU(d) = sum over users of [d in any 7-day window
    # after an active day] — computed as entries minus expiries via
    # two day-grain prefix sums.
    flagged = pairs.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
    )
    # spans: for each active day, the user is "recently active" on
    # days [day, day+6]; overlapping per-user spans must be merged so
    # a user counts once. A span STARTS when prev active day is null
    # or > 6 days back; it ENDS 7 days after the last day of the run.
    starts = flagged.where(
        F.col("prev_day").isNull()
        | (F.datediff("day", "prev_day") > 6)
    ).select("user_id", F.col("day").alias("run_start"))
    # run end: the last day in the run = next start's predecessor;
    # compute via lead over starts joined back — simpler: a day ENDS a
    # run if the NEXT active day is > 6 days ahead or absent
    nxt = pairs.select(
        "user_id",
        "day",
        F.lead("day").over(w).alias("next_day"),
    )
    ends = nxt.where(
        F.col("next_day").isNull()
        | (F.datediff("next_day", "day") > 6)
    ).select("user_id", F.date_add(F.col("day"), 7).alias("expiry"))
    delta = (
        starts.groupBy(F.col("run_start").alias("day"))
        .agg(F.count(F.lit(1)).alias("d"))
        .unionByName(
            ends.groupBy(F.col("expiry").alias("day")).agg(
                (-F.count(F.lit(1))).alias("d")
            )
        )
        # spine: every DAU day must appear so the running sum has a
        # row to read even when no span starts/expires that day
        .unionByName(dau.select("day", F.lit(0).cast("long").alias("d")))
        .groupBy("day")
        .agg(F.sum("d").alias("d"))
    )
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wau = delta.select(
        "day", F.sum("d").over(cum).cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .where(F.col("wau") > 0)
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            "wau",
            F.expr("(10000 * dau) div wau").alias("stickiness_bp"),
        )
    )


def markov_entropy_rate(events: DataFrame) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain — the
    predictability scalar on top of markov_transitions' matrix:
    H = -sum_i pi_i sum_j p_ij log2 p_ij with the empirical state
    frequencies as pi. Near 0 bits, the next action is scripted; near
    log2(|types|), behavior is white noise — the one-number answer to
    "is there signal in the sequences?".

    Exactness: per-(i,j) conditional terms quantize to millibits via
    ONE shared double expression over exact transition counts, then
    the pi-weighted sum is exact integer cross-multiplication over
    bounded (|types|^2) cells: rate_mb = sum(n_i->j * term_mb) div
    total_transitions. One user-partitioned lead window + two
    bounded aggregates.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    cells = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nij"))
    rows_tot = cells.groupBy("a").agg(F.sum("nij").alias("ni"))
    total = cells.agg(F.sum("nij").alias("t"))
    return (
        cells.join(F.broadcast(rows_tot), "a")
        .crossJoin(F.broadcast(total))
        .agg(
            F.max("t").cast("long").alias("n_transitions"),
            F.count(F.lit(1)).alias("n_cells"),
            F.expr(
                "sum(nij * CAST(floor(1000.0 * log2(CAST(ni AS DOUBLE)"
                " / CAST(nij AS DOUBLE))) AS BIGINT)) div max(t)"
            ).alias("entropy_rate_mb"),
        )
    )


def transition_latency(
    events: DataFrame,
    bucket_width_minutes: float | None = None,
    auto_segment: bool = True,
) -> DataFrame:
    """Median dwell time per event-type TRANSITION — how long users
    sit between a click and the purchase it becomes, per (from, to)
    pair: markov_transitions says WHERE users go, this says HOW FAST
    (the slow transitions are the funnel's real bottlenecks). Lower
    median via the value-domain histogram per transition cell
    (enum^2-bounded partitions), gaps in exact whole seconds.

    One user-partitioned lead window + a (a, b, gap) histogram + the
    standard 2*cum >= tot median selection. The lead window is the
    sessionize hot-key class (SOAK_r12 §4: 3.8x a flat corpus at a
    30% bot user, growing); past the ``_hot_user_width_us`` gate the
    gaps come from per-(user, time-bucket) lead windows plus a
    NEXT-bucket-first-row carry (the forward twin of sessionize's
    prev-ts carry) — output-identical, whale sort parallelized.
    """
    width_us = None
    if bucket_width_minutes is not None:
        width_us = max(int(bucket_width_minutes * 60_000_000), 1)
    elif auto_segment:
        w_f = _hot_user_width_us(events)
        if w_f is not None:
            width_us = max(int(w_f), 1)
    if width_us is not None:
        gaps = _transition_gaps_segmented(events, width_us)
    else:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gaps = events.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
            (
                (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"))
                / F.lit(1_000_000)
            ).cast("long").alias("gap_s"),
        ).where(F.col("b").isNotNull())
    hist = gaps.groupBy("a", "b", "gap_s").agg(
        F.count(F.lit(1)).alias("t")
    )
    cw = (
        Window.partitionBy("a", "b")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("a", "b")
    ranked = hist.select(
        "a",
        "b",
        "gap_s",
        F.sum("t").over(cw).alias("cum"),
        F.sum("t").over(tot).alias("n"),
    )
    return (
        ranked.where(2 * F.col("cum") >= F.col("n"))
        .groupBy("a", "b")
        .agg(
            F.min("gap_s").cast("long").alias("median_gap_s"),
            F.max("n").cast("long").alias("n_transitions"),
        )
    )


def _segmented_lookahead(
    events: DataFrame, width_us: int, k: int
) -> DataFrame:
    """Whale-parallel NEXT-K payloads: attach each event's next ``k``
    event_types (per-user (ts_us, event_id) total order) as columns
    ``__n1..__nk`` — the generalized form of the transition/trigram
    lead windows.

    Per-(user, time-bucket) lead windows resolve successors inside the
    bucket; a row with only ``j < k`` in-bucket successors completes
    from a CARRY: per (user, bucket) the ordered first-``k`` rows
    (slice of array_sort(collect_list(struct))), then for each bucket
    the flatten-slice of the NEXT ``k`` occupied buckets' first-k
    arrays (every occupied bucket holds >= 1 row, so k bucket-rows
    always cover k successors; buckets are time-ranges, so the
    flatten order IS the global order). Carry tables are
    (user x occupied-bucket x k)-sized — metadata scale. The carry
    join is null-safe: NULL users and NULL-ts rows (NULL bucket,
    which sorts first — matching the single window's nulls-first
    order) survive exactly as in the plain plan."""
    ts_us = F.unix_micros("ts")
    base = events.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("__p"),
        ts_us.alias("ts_us"),
    ).withColumn(
        "__b", F.floor(F.col("ts_us") / F.lit(width_us)).cast("long")
    )
    w_local = Window.partitionBy("user_id", "__b").orderBy(
        "ts_us", "event_id"
    )
    w_bucket = Window.partitionBy("user_id", "__b")
    firsts = base.groupBy("user_id", "__b").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("ts_us"), F.col("event_id"), F.col("__p"))
                )
            ),
            1,
            k,
        ).alias("__fk")
    )
    w_next = (
        Window.partitionBy("user_id").orderBy("__b").rowsBetween(1, k)
    )
    cins = firsts.select(
        "user_id",
        "__b",
        # array_sort pins the cross-bucket order CONTRACTUALLY (ADVICE
        # r12): collect_list is documented order-non-deterministic even
        # over an ordered frame, and the flatten order must be the
        # global (ts_us, event_id) order. The structs are totally
        # ordered by their leading fields, and the NULL-ts bucket sorts
        # first in w_next so it never lands in a following frame — the
        # sort is a no-op on today's ordering, a guarantee tomorrow.
        F.slice(
            F.array_sort(F.flatten(F.collect_list("__fk").over(w_next))),
            1,
            k,
        ).alias("__carry"),
    )
    loc = base.select(
        "*",
        *[
            F.lead("__p", i).over(w_local).alias(f"__l{i}")
            for i in range(1, k + 1)
        ],
        F.row_number().over(w_local).alias("__rn"),
        F.count(F.lit(1)).over(w_bucket).alias("__cnt"),
    )
    j = F.col("__cnt") - F.col("__rn")  # in-bucket successors
    out = join_carry_null_safe(loc, cins, ["user_id", "__b"]).select(
        "user_id",
        "event_id",
        "ts_us",
        "__p",
        *[
            # gate on the successor COUNT, not payload nullness — a
            # genuinely-NULL event_type successor must stay NULL, not
            # be papered over by the carry
            # try_element_at: past-the-end (end of the user's
            # timeline) is NULL, and ANSI mode must not throw
            F.when(j >= i, F.col(f"__l{i}"))
            .otherwise(
                F.try_element_at("__carry", (F.lit(i) - j).cast("int"))
                .getField("__p")
            )
            .alias(f"__n{i}")
            for i in range(1, k + 1)
        ],
    )
    return out


def _transition_pairs_segmented(
    events: DataFrame, width_us: int
) -> DataFrame:
    """Hot-user-parallel (from_type, to_type) emission for
    markov_transitions (VERDICT r12 item 5): the generic
    ``_segmented_lookahead(k=1)`` pays collect_list/array machinery and
    two carry shuffles for ONE lead — this is the fused form, the same
    single min-struct carry ``_transition_gaps_segmented`` uses (each
    bucket's first row, led one bucket forward) but without the time
    columns markov never reads. Same null semantics as the plain plan:
    successor presence gated on the in-bucket row COUNT, NULL-typed
    successors stay NULL (filtered by the caller's isNotNull, exactly
    like lead()'s)."""
    ts_us = F.unix_micros("ts")
    base = events.select(
        "user_id", "event_id", "event_type", ts_us.alias("ts_us")
    ).withColumn(
        "__b", F.floor(F.col("ts_us") / F.lit(width_us)).cast("long")
    )
    w_local = Window.partitionBy("user_id", "__b").orderBy(
        "ts_us", "event_id"
    )
    firsts = base.groupBy("user_id", "__b").agg(
        F.min(
            F.struct(F.col("ts_us"), F.col("event_id"), F.col("event_type"))
        ).alias("__f")
    )
    w_next = Window.partitionBy("user_id").orderBy("__b")
    cins = firsts.select(
        "user_id", "__b", F.lead("__f").over(w_next).alias("__cin")
    )
    loc = base.select(
        "user_id",
        "__b",
        "event_type",
        F.lead("event_type").over(w_local).alias("__lb"),
        F.row_number().over(w_local).alias("__rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id", "__b")
        ).alias("__cnt"),
    )
    has_local = F.col("__rn") < F.col("__cnt")
    return (
        join_carry_null_safe(loc, cins, ["user_id", "__b"])
        .select(
            F.col("event_type").alias("from_type"),
            F.when(has_local, F.col("__lb"))
            .otherwise(F.col("__cin.event_type"))
            .alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
    )


def _transition_gaps_segmented(events: DataFrame, width_us: int) -> DataFrame:
    """Hot-user-parallel (a, b, gap_s) emission for transition_latency:
    lead within (user, time-bucket) windows; each bucket's LAST row
    takes its successor from the next occupied bucket's first row —
    a per-(user, bucket) ``min(struct(ts, event_id, type))`` carry
    table led one bucket forward (metadata-scale, user x occupied-
    bucket rows). Null-safe carry join so NULL users and NULL-ts rows
    survive exactly as the single window's NULL partitions do."""
    ts_us = F.unix_micros("ts")
    base = events.select(
        "user_id", "event_id", "event_type", ts_us.alias("ts_us")
    ).withColumn(
        "__b", F.floor(F.col("ts_us") / F.lit(width_us)).cast("long")
    )
    w_local = Window.partitionBy("user_id", "__b").orderBy(
        "ts_us", "event_id"
    )
    firsts = base.groupBy("user_id", "__b").agg(
        F.min(
            F.struct(
                F.col("ts_us"), F.col("event_id"), F.col("event_type")
            )
        ).alias("__f")
    )
    w_next = Window.partitionBy("user_id").orderBy("__b")
    cins = firsts.select(
        "user_id", "__b", F.lead("__f").over(w_next).alias("__cin")
    )
    loc = base.select(
        "*",
        F.lead("event_type").over(w_local).alias("__lb"),
        F.lead("ts_us").over(w_local).alias("__lt"),
        F.row_number().over(w_local).alias("__rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id", "__b")
        ).alias("__cnt"),
    )
    # gate on the successor COUNT (__rn < __cnt), never on payload
    # nullness: a NULL-typed or NULL-ts in-bucket successor must stay
    # the successor, not be papered over by the next bucket's carry
    has_local = F.col("__rn") < F.col("__cnt")
    return (
        join_carry_null_safe(loc, cins, ["user_id", "__b"])
        .select(
            F.col("event_type").alias("a"),
            F.when(has_local, F.col("__lb"))
            .otherwise(F.col("__cin.event_type")).alias("b"),
            (
                (
                    F.when(has_local, F.col("__lt"))
                    .otherwise(F.col("__cin.ts_us"))
                    - F.col("ts_us")
                )
                / F.lit(1_000_000)
            ).cast("long").alias("gap_s"),
        )
        .where(F.col("b").isNotNull())
    )


def bounce_rate(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Daily bounce rate: the share of sessions that contain exactly
    ONE event — the landing-page health metric (a rising bounce with
    flat traffic is a funnel entrance problem). Sessions are the
    module's standard 30-minute-gap windows; a session is dated by
    its first event's day.

    The usual lag -> flag -> running-sum session walk, one (user,
    session) reduction, one day-grain rollup; bp by truncating
    division.
    """
    ts_us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = events.select(
        "user_id", "event_id", ts_us.alias("ts_us")
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    sess = base.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(
            gap.isNull() | (gap > gap_minutes * 60_000_000), 1
        ).otherwise(0).alias("ns"),
    ).withColumn("sid", F.sum("ns").over(w))
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
    )
    return (
        per.groupBy(
            F.to_date(F.timestamp_micros(F.col("start_us")))
            .cast("string")
            .alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long"))
            .cast("long")
            .alias("n_bounced"),
        )
        .withColumn(
            "bounce_bp", F.expr("(10000 * n_bounced) div n_sessions")
        )
    )


def retention_by_acquisition_dow(events: DataFrame) -> DataFrame:
    """Week-1 retention by ACQUISITION day-of-week — does the weekday
    a user first shows up predict whether they come back within 7
    days? (The growth team's channel-timing lever: weekend-acquired
    cohorts often retain differently.) A user retains if they have
    any event on days [first+1, first+7].

    Two user-grain reductions (first day, any-return flag via one
    conditional aggregate over the same scan), one 7-row rollup —
    all exact integers.
    """
    first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    flagged = (
        events.select("user_id", F.to_date("ts").alias("day"))
        .join(first, "user_id")
        .groupBy("user_id", "d0")
        .agg(
            F.max(
                (
                    (F.datediff("day", "d0") >= 1)
                    & (F.datediff("day", "d0") <= 7)
                ).cast("long")
            ).alias("retained")
        )
    )
    return flagged.groupBy(
        F.dayofweek("d0").cast("long").alias("acq_dow")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("retained").cast("long").alias("n_retained"),
    ).withColumn(
        "retention_bp", F.expr("(10000 * n_retained) div n_users")
    )


def weekly_intensity(events: DataFrame) -> DataFrame:
    """Engagement-depth histogram: for each (user, epoch-week), how
    many distinct days were active — the 1..7 intensity distribution
    that separates daily-habit products from once-a-week ones (DAU
    and WAU alone can't tell those apart; this is the shape between
    them). Emits per n_active_days: user-week count and share in bp.

    One distinct (user, day) reduction, one (user, week) aggregate,
    one 7-row rollup.
    """
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    per_week = days.groupBy(
        "user_id",
        F.expr("datediff(day, DATE '1970-01-01') div 7").alias("wk"),
    ).agg(F.count(F.lit(1)).alias("n_active_days"))
    hist = per_week.groupBy("n_active_days").agg(
        F.count(F.lit(1)).alias("n_user_weeks")
    )
    tot = Window.partitionBy()
    return hist.select(
        F.col("n_active_days").cast("long").alias("n_active_days"),
        F.col("n_user_weeks").cast("long").alias("n_user_weeks"),
        F.expr(
            "(10000 * n_user_weeks) div sum(n_user_weeks) OVER ()"
        ).alias("share_bp"),
    )


def reorder_latency(orders: DataFrame) -> DataFrame:
    """First-to-second-order latency quartiles in days — the
    repeat-purchase clock (repeat_purchase_curve says HOW MANY come
    back; this says HOW LONG the business waits for them, which sets
    the remarketing window). Per customer: the gap between their
    first and second order dates; quartiles by the value-at-rank
    convention over the gap histogram. Customers with fewer than two
    orders contribute nothing (they have no gap).

    One customer-partitioned rank window to find the first two
    orders, one gap histogram, the standard rank-selection readout.
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
            F.datediff(F.max("day"), F.min("day")).alias("gap_days"),
        )
        .where(F.col("n") == 2)
        .select(F.col("gap_days").cast("long").alias("g"))
    )
    hist = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("t"))
    cw = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked2 = hist.select(
        "g",
        (F.sum("t").over(cw) - F.col("t") + 1).alias("lo"),
        F.sum("t").over(cw).alias("hi"),
        F.sum("t").over(Window.partitionBy()).alias("n"),
    )
    qs = ranked2.select(
        "g",
        "lo",
        "hi",
        "n",
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(75))).alias("q"),
    ).where(
        (F.expr("(n - 1) * q div 100 + 1") >= F.col("lo"))
        & (F.expr("(n - 1) * q div 100 + 1") <= F.col("hi"))
    )
    return qs.groupBy().agg(
        F.max("n").cast("long").alias("n_repeat_customers"),
        F.min(F.when(F.col("q") == 25, F.col("g")))
        .cast("long")
        .alias("p25_days"),
        F.min(F.when(F.col("q") == 50, F.col("g")))
        .cast("long")
        .alias("p50_days"),
        F.min(F.when(F.col("q") == 75, F.col("g")))
        .cast("long")
        .alias("p75_days"),
    )


def activation_depth(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Activation signal: conversion rate by FIRST-session depth —
    do users whose very first visit runs deep end up purchasing more?
    (The onboarding metric that decides whether to invest in the
    first-run experience.) First session = ordinal 1 of the standard
    30-minute walk; depth = its event count, banded 1/2-3/4-7/8+;
    a user converts if they EVER purchase.

    One session walk, one user-grain reduction carrying both the
    first-session depth and the global conversion flag, one 4-row
    band rollup.
    """
    ts_us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = events.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        (F.col("event_type") == "purchase").cast("long").alias("p"),
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    sess = base.select(
        "user_id",
        "ts_us",
        "event_id",
        "p",
        F.when(
            gap.isNull() | (gap > gap_minutes * 60_000_000), 1
        ).otherwise(0).alias("ns"),
    ).withColumn("sid", F.sum("ns").over(w))
    per_user = sess.groupBy("user_id").agg(
        F.sum(F.when(F.col("sid") == 1, 1).otherwise(0))
        .alias("first_depth"),
        F.max("p").alias("converted"),
    )
    band = (
        F.when(F.col("first_depth") <= 1, "1")
        .when(F.col("first_depth") <= 3, "2-3")
        .when(F.col("first_depth") <= 7, "4-7")
        .otherwise("8+")
    )
    return per_user.groupBy(band.alias("depth_band")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    ).withColumn(
        "conv_bp", F.expr("(10000 * n_converted) div n_users")
    )


def visit_cadence(
    events: DataFrame,
    gap_minutes: int = 30,
    bucket_width_minutes: float | None = None,
    auto_segment: bool = True,
) -> DataFrame:
    """Visit cadence: the lower-median gap BETWEEN a user's session
    starts, rolled into an hours-histogram — how often users come
    back when they do come back (stickiness says how many days; this
    says the rhythm within them). Session starts from the standard
    walk; inter-start gaps per user; the corpus-level histogram of
    per-user median gaps in whole hours.

    One session walk, one user-partitioned lag over session starts,
    per-user histogram median, bounded hour-band rollup.

    The RAW-EVENT lag is the sessionize hot-key class (SOAK_r12 §4:
    4x a flat corpus at a 30% bot user, growing); past the
    ``_hot_user_width_us`` gate the start flags come from
    per-(user, time-bucket) lag windows plus sessionize's prev-max-ts
    carry — output-identical. The SECOND window (lag over session
    starts) needs no protection at any scale: a user's start count is
    structurally bounded by span/gap (each start needs a
    ``gap_minutes`` quiet period before it — ~1440 starts max for a
    30-day span at 30 min), so no whale is possible there.
    """
    gap_us = gap_minutes * 60_000_000
    ts_us = F.unix_micros("ts")
    width_us = None
    if bucket_width_minutes is not None:
        width_us = max(int(bucket_width_minutes * 60_000_000), 1)
    elif auto_segment:
        w_f = _hot_user_width_us(events)
        if w_f is not None:
            width_us = max(int(w_f), 1)
    base = events.select("user_id", "event_id", ts_us.alias("ts_us"))
    if width_us is not None:
        base_b = base.withColumn(
            "__b", F.floor(F.col("ts_us") / F.lit(width_us)).cast("long")
        )
        w_local = Window.partitionBy("user_id", "__b").orderBy(
            "ts_us", "event_id"
        )
        outs = base_b.groupBy("user_id", "__b").agg(
            F.max("ts_us").alias("__maxts")
        )
        w_carry = (
            Window.partitionBy("user_id")
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prev_ts = outs.select(
            "user_id",
            "__b",
            F.max("__maxts").over(w_carry).alias("__prev_ts"),
        )
        prev = F.coalesce(
            F.lag("ts_us").over(w_local), F.col("__prev_ts")
        )
        starts = (
            join_carry_null_safe(base_b, prev_ts, ["user_id", "__b"])
            .select(
                "user_id",
                "ts_us",
                F.when(
                    prev.isNull() | ((F.col("ts_us") - prev) > gap_us), 1
                ).otherwise(0).alias("ns"),
            )
            .where(F.col("ns") == 1)
        )
    else:
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        gap = F.col("ts_us") - F.lag("ts_us").over(w)
        starts = base.select(
            "user_id",
            "ts_us",
            F.when(gap.isNull() | (gap > gap_us), 1)
            .otherwise(0).alias("ns"),
        ).where(F.col("ns") == 1)
    sw = Window.partitionBy("user_id").orderBy("ts_us")
    igaps = starts.select(
        "user_id",
        (
            (F.col("ts_us") - F.lag("ts_us").over(sw))
            / F.lit(3_600_000_000)
        ).cast("long").alias("gap_h"),
    ).where(F.col("gap_h").isNotNull())
    hist = igaps.groupBy("user_id", "gap_h").agg(
        F.count(F.lit(1)).alias("t")
    )
    cw = (
        Window.partitionBy("user_id")
        .orderBy("gap_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("user_id")
    med = (
        hist.select(
            "user_id",
            "gap_h",
            F.sum("t").over(cw).alias("cum"),
            F.sum("t").over(tot).alias("n"),
        )
        .where(2 * F.col("cum") >= F.col("n"))
        .groupBy("user_id")
        .agg(F.min("gap_h").alias("med_h"))
    )
    allw = Window.partitionBy()
    return med.groupBy("med_h").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.col("med_h").cast("long").alias("median_gap_hours"),
        "n_users",
        F.expr(
            "(10000 * n_users) div sum(n_users) OVER ()"
        ).alias("share_bp"),
    )
