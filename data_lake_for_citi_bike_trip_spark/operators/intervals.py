"""Batch interval-overlap join, grid-bucketed.

The batch sibling of ``streaming.pipeline.interval_join``: match every
left interval to every right interval it overlaps, WITHOUT the cross
product a naive theta-join plans. Both sides explode onto a fixed time
grid (an interval of g grid cells emits g rows), the join becomes an
equi-join on the cell id, and the exact overlap predicate filters the
candidates; pairs touching several shared cells dedupe on their ids.

Scale shape: shuffle is on the grid cell — pick ``grid_us`` near the
typical interval length so each interval lands in O(1) cells (a too-fine
grid multiplies rows; too coarse puts unrelated intervals in one cell).
Hot cells (an outage minute when everything overlaps) are AQE skew-join
territory; the overlap check is integer micros, engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: one hour in microseconds — the default grid cell.
HOUR_US = 3_600_000_000

#: Byte bound above which interval_union_length's auto gate fires the
#: segmented plan (VERDICT r12 item 2). The whale failure mode at 100x
#: is MEMORY, not seconds: the plain plan sorts a whale key's whole
#: history in ONE task's window buffer. 1 GiB is the conservative
#: per-task working-set budget on the common 4-cores/16 GB-executor
#: shape (WindowExec's row array spills past its threshold, but a
#: task spilling a multi-GiB partition is both memory-pressured and a
#: straggler by construction). Resolved at CALL time so tests can
#: lower it (the r12 def-time-default monkeypatch trap).
INTERVAL_UNION_HOT_BYTES = 1 << 30

#: estimated bytes per row in the plain plan's window sort, CALIBRATED
#: against measured task metrics (SOAK_r13 §3b): a 4.8M-row whale's
#: window task peaked at 0.44 GiB = 99 B/row (UnsafeRow 40 B payload +
#: sorter pages + the window exec's row-array overhead) — the naive
#: 48 B UnsafeRow figure under-counted 2.1x, which would fire the
#: memory gate LATE, the dangerous direction.
_INTERVAL_ROW_BYTES = 96


def overlap_join(
    left: DataFrame, right: DataFrame, grid_us: int = HOUR_US
) -> DataFrame:
    """Pairs (l_id, r_id) whose [start_us, end_us] intervals overlap.

    Inputs carry (l_id, l_start_us, l_end_us) / (r_id, r_start_us,
    r_end_us) with inclusive integer-micros bounds. Overlap is the
    closed-interval test ``l_start <= r_end AND r_start <= l_end``.
    """
    cell = lambda c: F.explode(  # noqa: E731 — local alias, used twice
        F.sequence(
            F.expr(f"{c}_start_us div {grid_us}"),
            F.expr(f"{c}_end_us div {grid_us}"),
        )
    ).alias("cell")
    lb = left.select("l_id", "l_start_us", "l_end_us", cell("l"))
    rb = right.select("r_id", "r_start_us", "r_end_us", cell("r"))
    return (
        lb.join(rb, "cell")
        .where(
            (F.col("l_start_us") <= F.col("r_end_us"))
            & (F.col("r_start_us") <= F.col("l_end_us"))
        )
        .select("l_id", "r_id")
        .distinct()
    )


def incident_exposure(events: DataFrame, value_floor: float = 200.0) -> DataFrame:
    """How many high-severity error incidents each user's daily activity
    window overlapped: user-day [first event, last event] intervals vs
    +/-15-minute windows around errors with ``value > value_floor``.

    Both interval sets derive from one events scan each (groupBy for the
    activity side, a filter for the incident side); the overlap is the
    grid join above; the result re-aggregates to (user_id, day,
    n_incidents) — counts, not pairs, cross the contract boundary.
    """
    ts_us = F.unix_micros(F.col("ts"))
    activity = events.groupBy(
        F.col("user_id"), F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.min(ts_us).alias("l_start_us"),
        F.max(ts_us).alias("l_end_us"),
    ).select(
        F.struct("user_id", "day").alias("l_id"), "l_start_us", "l_end_us"
    )
    incidents = events.where(
        (F.col("event_type") == "error") & (F.col("value") > value_floor)
    ).select(
        F.col("event_id").alias("r_id"),
        (ts_us - 900_000_000).alias("r_start_us"),
        (ts_us + 900_000_000).alias("r_end_us"),
    )
    return (
        overlap_join(activity, incidents)
        .groupBy("l_id")
        .agg(F.count(F.lit(1)).alias("n_incidents"))
        .select(
            F.col("l_id.user_id").alias("user_id"),
            F.col("l_id.day").alias("day"),
            "n_incidents",
        )
    )


def interval_union_length(
    events: DataFrame,
    dur_minutes: int = 5,
    bucket_width_minutes: float | None = None,
    auto_segment: bool = True,
) -> DataFrame:
    """Total TIME COVERED per user by the union of [ts, ts + dur)
    activity intervals — overlapping activity counted ONCE (the
    billing/utilization primitive; summing durations naively
    double-counts every overlap, which peak_concurrency shows but does
    not dedupe).

    Pure window algebra, no self-join: per user in start order, an
    interval opens a new ISLAND when its start exceeds the running max
    of all previous ends (strictly — back-to-back intervals merge);
    islands are numbered by a running sum of those breaks, and each
    island contributes max(end) - min(start). Two window passes over
    the same user partitioning, one aggregate. Exact epoch micros.

    The island walk is the sessionize hot-key class (one per-user
    window serializes a bot user). A SEGMENTED plan exists — the walk
    per (user, time-bucket) with two segmented-scan carries: the
    running max of ends (per-bucket max-e running-max'd over earlier
    buckets) and the island-id offset (sessionize's running sum of
    per-bucket break totals) — output-identical and identity-pinned.

    The auto gate is BYTE-based here, not row-count-based (VERDICT r12
    item 2): the r12 soak measured the segmented plan LOSING on
    wall-clock at both 16M (26.5 s vs 15.0 s plain, 30% hot user) and
    32M (44.4 s vs 38.5 s) — its two extra carry-join shuffles
    outweigh the parallelized sort on this operator's thin 4-long
    rows — but wall-time A/Bs at toy scale say nothing about the 100x
    failure mode, which is ONE task sorting a whale's whole history.
    So the gate fires on estimated whale-partition bytes from the same
    counting pass (max per-user rows x ``_INTERVAL_ROW_BYTES``)
    crossing ``INTERVAL_UNION_HOT_BYTES`` (1 GiB): below it the
    measured-faster plain plan always wins (16M-hot whale = 4.8M rows
    ~ 0.43 GiB at the task-metrics-calibrated 96 B/row, measured
    0.44 GiB — correctly plain, SOAK_r13 §3b); above it the segmented
    plan is the memory-safe choice regardless of toy-scale seconds.
    Explicit ``bucket_width_minutes`` still forces segmentation.
    """
    from .asof import join_carry_null_safe
    from .skew import auto_bucket_width, hot_window_gate

    dur_us = dur_minutes * 60 * 1_000_000
    base = events.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + dur_us).alias("e"),
        "event_id",
    )
    width_us = None
    if bucket_width_minutes is not None:
        width_us = max(int(bucket_width_minutes * 60_000_000), 1)
    elif auto_segment:
        stats = events.select(
            F.col("user_id").alias("__k"),
            F.unix_micros("ts").cast("double").alias("__t"),
        )
        max_rows, span = hot_window_gate(stats)
        if max_rows * _INTERVAL_ROW_BYTES > INTERVAL_UNION_HOT_BYTES:
            w_f = auto_bucket_width(events.sparkSession, span)
            if w_f is not None:
                width_us = max(int(w_f), 1)
    if width_us is not None:
        base_b = base.withColumn(
            "__b", F.floor(F.col("s") / F.lit(width_us)).cast("long")
        )
        w_local = Window.partitionBy("user_id", "__b").orderBy(
            "s", "event_id"
        )
        w_carry = (
            Window.partitionBy("user_id")
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        outs = base_b.groupBy("user_id", "__b").agg(
            F.max("e").alias("__maxe")
        )
        prev_e = outs.select(
            "user_id",
            "__b",
            F.max("__maxe").over(w_carry).alias("__prev_e"),
        )
        local_prev = F.max("e").over(
            w_local.rowsBetween(Window.unboundedPreceding, -1)
        )
        # greatest() skips NULLs (null only when BOTH are) — matching
        # the single window's "no prior rows at all" null exactly
        prev_max_e = F.greatest(local_prev, F.col("__prev_e"))
        flagged = join_carry_null_safe(
            base_b, prev_e, ["user_id", "__b"]
        ).withColumn(
            "new_island",
            F.when(
                prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
            ).otherwise(0),
        )
        totals = flagged.groupBy("user_id", "__b").agg(
            F.sum("new_island").alias("__bt")
        )
        offsets = totals.select(
            "user_id",
            "__b",
            F.coalesce(F.sum("__bt").over(w_carry), F.lit(0)).alias(
                "__off"
            ),
        )
        marked = join_carry_null_safe(
            flagged, offsets, ["user_id", "__b"]
        ).withColumn(
            "island",
            F.sum("new_island").over(
                w_local.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            + F.col("__off"),
        )
    else:
        w = Window.partitionBy("user_id").orderBy("s", "event_id")
        prev_max_e = F.max("e").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        marked = base.withColumn(
            "new_island",
            F.when(
                prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
            ).otherwise(0),
        ).withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    islands = marked.groupBy("user_id", "island").agg(
        F.min("s").alias("is_s"), F.max("e").alias("is_e")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("is_e") - F.col("is_s"))
        .cast("long")
        .alias("covered_us"),
    )
