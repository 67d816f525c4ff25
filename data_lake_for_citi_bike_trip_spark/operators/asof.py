"""As-of and range joins — operators the reference approximates with its
hour-bucket trick (SURVEY.md §2.3 J2) and that Spark lacks natively.

Implemented as compositions of built-in operators (no UDFs):

- ``asof_join``: the classic "latest right row at or before each left
  row" — union both sides tagged, one window pass per key, filter. One
  shuffle on the key; no range explosion.
- ``range_join_bucketed``: interval containment join without the O(n*m)
  broadcast-nested-loop trap: bucketize both sides to an equi-join on
  bucket id, then post-filter exact bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def join_carry_null_safe(
    big: DataFrame, carry: DataFrame, keys: list[str], how: str = "inner"
) -> DataFrame:
    """Inner equi-join on ``keys`` with NULL-safe equality (``<=>``),
    keeping the big side's copy of each key column.

    The segmented plans join their carry tables back on the window
    partition keys. ``Window.partitionBy`` groups NULL keys into a real
    partition, so a plain list-of-columns join (NULL never equals NULL)
    would silently DROP every NULL-key row — and every NULL-timestamp
    row, whose bucket id is NULL (ADVICE r11, medium). ``<=>`` keys
    hash like normal keys (NULL is one more bucket), so the join stays
    sort-merge / shuffled-hash / broadcast eligible and the plan shape
    is unchanged.

    The carry side must not share non-key column names with the big
    side (the segmented plans' carry columns are all ``__``-prefixed
    internals, so they never do).
    """
    aliased = carry.select(
        *[F.col(k).alias(f"__nsj_{k}") for k in keys],
        *[c for c in carry.columns if c not in keys],
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__nsj_{k}")) for k in keys]
    return big.join(aliased, cond, how).drop(*[f"__nsj_{k}" for k in keys])


#: Measured crossover for the automatic segmented-plan chooser
#: (SOAK_r12 re-measurement, local[32], 30% hot key): at 1.5M union
#: rows on one key the single window still won (3.5 s vs 4.5 s
#: segmented+gate); at 3M the segmented plan won 2.2x (2.9 s vs
#: 6.4 s) and is flat in input where the single window grows. The
#: threshold sits between the two measured points. At cluster scale
#: it is conservative-correct: a key past it only gets MORE
#: serialized in one task as data grows.
ASOF_HOT_MIN_ROWS = 2_000_000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
    bucket_width: float | None = None,
    auto_segment: bool = True,
) -> DataFrame:
    """Left as-of join per ``on`` key: for each left row, attach the most
    recent right row with ``right_ts <= left_ts`` (direction='backward')
    or the earliest right row with ``right_ts >= left_ts``
    (direction='forward').

    Union-tag-window strategy: concatenate both inputs ordered by time
    (ascending for backward, descending for forward), carry the last-seen
    right payload with ``last(..., ignorenulls)`` over a single
    key-partitioned window, keep left rows. Equivalent to a merge-asof but
    expressed so Spark plans exactly one exchange + sort either way.

    The SEGMENTED plan is chosen AUTOMATICALLY (VERDICT r11 item 1)
    when a metadata-scale per-key counting pass (run on every call,
    ``skew.hot_window_gate``) finds a key owning >= ``ASOF_HOT_MIN_ROWS``
    union rows — the measured single-task-sort crossover — with the
    bucket width derived from the observed time span
    (``skew.auto_bucket_width``). ``auto_segment=False`` skips the
    gate (job-free construction); an explicit ``bucket_width`` forces
    the segmented plan and also skips the gate.

    ``bucket_width`` opts into the SEGMENTED plan (VERDICT r10 item 7):
    the single key-partitioned window serializes a hot key — one task
    sorts that key's whole history, measured 2.4-2.6x a flat corpus at
    a 30% hot key (SOAK_r11). With a width, the window partitions by
    (key, floor(ts / width)) — a hot key's sort splits across its time
    buckets — and the cross-bucket carry is reconstructed segmented-scan
    style from a per-(key, bucket) carry-out table (metadata-scale:
    one row per key x occupied bucket, broadcast back). Output-identical
    to the single-window plan whenever timestamps are non-null and
    right rows are unique per (key, ts) (ties among identical (key, ts)
    right rows are arbitrary in BOTH plans). NULL join keys are kept:
    the carry joins are null-safe (``<=>``), grouping NULL keys into
    one partition exactly as ``Window.partitionBy`` does; NULL-ts rows
    are likewise kept (NULL bucket), though their attached values
    remain under the non-null-ts disclaimer above. Pick a width that yields
    tens-to-hundreds of buckets over the hot key's time span; flat
    corpora should keep the default single-window plan (fewer stages).
    All three directions support it (nearest runs the reconstruction
    both ways over one frame, then the closer-side choice).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    if bucket_width is None and auto_segment:
        # AUTOMATIC chooser (VERDICT r11 item 1): one
        # metadata-scale counting pass over (key, ts) of both sides
        # decides segmented-vs-single-window from the per-key row
        # histogram — the salted_candidates gate discipline applied to
        # the window class. No caller opt-in needed; auto_segment=False
        # restores a job-free construction for explain-only paths.
        from .skew import auto_bucket_width, hot_window_gate

        stats = left.select(
            F.col(on).alias("__k"), F.col(left_ts).cast("double").alias("__t")
        ).unionByName(
            right.select(
                F.col(on).alias("__k"),
                F.col(right_ts).cast("double").alias("__t"),
            )
        )
        max_rows, span = hot_window_gate(stats)
        if max_rows >= ASOF_HOT_MIN_ROWS:
            bucket_width = auto_bucket_width(left.sparkSession, span)
    if direction == "nearest":
        if bucket_width is not None:
            return _asof_nearest_segmented(
                left, right, on, left_ts, right_ts, right_cols,
                bucket_width,
            )
        return _asof_nearest(left, right, on, left_ts, right_ts, right_cols)
    if bucket_width is not None:
        return _asof_segmented(
            left, right, on, left_ts, right_ts, right_cols, direction,
            bucket_width,
        )
    lt = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    payload = [F.col(c).alias(f"__r_{c}") for c in right_cols]
    rt = (
        right.select(F.col(on), F.col(right_ts).alias("__ts"), *payload)
        .withColumn("__is_left", F.lit(0))
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # Right rows sort before left rows at identical timestamps so an exact
    # tie matches (<= / >= inclusive semantics). Only the time direction
    # flips between backward and forward.
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
    )
    return (
        carried.where(F.col("__is_left") == 1)
        .drop("__is_left", "__ts", *[f"__r_{c}" for c in right_cols])
    )


def _asof_segmented(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str,
    bucket_width: float,
) -> DataFrame:
    """Hot-key-parallel as-of: the union-tag frame windowed per
    (key, time-bucket) plus a segmented-scan carry between buckets.

    Three relations:
    1. ``local`` — the big union, windowed by (key, bucket): each row's
       last-seen (backward) / next-seen (forward) right payload WITHIN
       its bucket. The hot key's sort now splits across its buckets.
    2. ``outs`` — per (key, bucket) the bucket's carry-OUT: the payload
       of its extreme right row (max_by ts backward / min_by forward),
       each column independently with a null-masked ordering key so a
       NULL payload column never shadows an earlier non-null one —
       mirroring last(..., ignorenulls) per column.
    3. ``cins`` — carry-IN per (key, bucket): last non-null carry-out
       among strictly earlier (backward) / later (forward) buckets,
       one tiny window over the per-bucket table, seeded from the
       DISTINCT (key, bucket) set of the union so buckets containing
       only left rows still inherit.

    final = coalesce(local, carry-in), left rows kept. The big side
    moves once (the (key, bucket) exchange the window needs); cins is
    (key x occupied-bucket)-sized — tiny under hot keys — and joins
    back on the partitioning both sides already share.
    """
    backward = direction == "backward"
    lt = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    payload = [F.col(c).alias(f"__r_{c}") for c in right_cols]
    rt = (
        right.select(F.col(on), F.col(right_ts).alias("__ts"), *payload)
        .withColumn("__is_left", F.lit(0))
    )
    bucket = F.floor(F.col("__ts").cast("double") / F.lit(bucket_width)).cast(
        "long"
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True).withColumn(
        "__b", bucket
    )
    ts_order = F.col("__ts").asc() if backward else F.col("__ts").desc()
    w_local = (
        Window.partitionBy(on, "__b")
        .orderBy(ts_order, F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True)
            .over(w_local)
            .alias(f"__loc_{c}")
            for c in right_cols
        ],
    )
    pick = F.max_by if backward else F.min_by
    outs = (
        rt.withColumn("__b", bucket)
        .groupBy(on, "__b")
        .agg(
            *[
                pick(
                    F.col(f"__r_{c}"),
                    F.when(F.col(f"__r_{c}").isNotNull(), F.col("__ts")),
                ).alias(f"__out_{c}")
                for c in right_cols
            ]
        )
    )
    all_buckets = unioned.select(on, "__b").distinct()
    w_carry = (
        Window.partitionBy(on)
        .orderBy(F.col("__b").asc() if backward else F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cins = join_carry_null_safe(all_buckets, outs, [on, "__b"], "left").select(
        on,
        "__b",
        *[
            F.last(f"__out_{c}", ignorenulls=True)
            .over(w_carry)
            .alias(f"__cin_{c}")
            for c in right_cols
        ],
    )
    internals = (
        ["__is_left", "__ts", "__b"]
        + [f"__r_{c}" for c in right_cols]
        + [f"__loc_{c}" for c in right_cols]
        + [f"__cin_{c}" for c in right_cols]
    )
    # no broadcast hint: cins is (key x occupied-bucket)-sized — tiny for
    # hot-key corpora, but potentially large for many-key ones; let AQE
    # pick broadcast vs reusing the (key, bucket) exchange both sides
    # already share. NULL-safe join: NULL keys (and NULL-ts rows, whose
    # bucket is NULL) form a window partition in the single-window plan
    # and must survive the carry join too.
    return (
        join_carry_null_safe(local, cins, [on, "__b"])
        .where(F.col("__is_left") == 1)
        .select(
            "*",
            *[
                F.coalesce(F.col(f"__loc_{c}"), F.col(f"__cin_{c}")).alias(
                    f"asof_{c}"
                )
                for c in right_cols
            ],
        )
        .drop(*internals)
    )


def _asof_nearest_segmented(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    bucket_width: float,
) -> DataFrame:
    """Hot-key-parallel NEAREST as-of: ``_asof_segmented``'s
    (key, time-bucket) windows + segmented-scan carry applied in BOTH
    directions over one frame, then ``_asof_nearest``'s closer-side
    choice on the reconstructed carries. The right timestamp rides as
    a carried payload exactly as in the single-window nearest, so the
    per-row delta comparison — and the tie-keeps-backward contract —
    is unchanged. One (key, bucket) exchange and two in-partition
    sorts (asc, desc) for the big union; carry-outs/-ins are
    per-(key, bucket) aggregates windowed both ways."""
    carry = [*right_cols, "__rts"]
    lt = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    payload = [F.col(c).alias(f"__r_{c}") for c in right_cols] + [
        F.col(right_ts).alias("__r___rts")
    ]
    rt = right.select(F.col(on), F.col(right_ts).alias("__ts"), *payload).withColumn(
        "__is_left", F.lit(0)
    )
    bucket = F.floor(F.col("__ts").cast("double") / F.lit(bucket_width)).cast(
        "long"
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True).withColumn(
        "__b", bucket
    )
    wb_local = (
        Window.partitionBy(on, "__b")
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf_local = (
        Window.partitionBy(on, "__b")
        .orderBy(F.col("__ts").desc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True)
            .over(wb_local)
            .alias(f"__lb_{c}")
            for c in carry
        ],
        *[
            F.last(f"__r_{c}", ignorenulls=True)
            .over(wf_local)
            .alias(f"__lf_{c}")
            for c in carry
        ],
    )
    rb = rt.withColumn("__b", bucket)
    outs = rb.groupBy(on, "__b").agg(
        *[
            F.max_by(
                F.col(f"__r_{c}"),
                F.when(F.col(f"__r_{c}").isNotNull(), F.col("__ts")),
            ).alias(f"__ob_{c}")
            for c in carry
        ],
        *[
            F.min_by(
                F.col(f"__r_{c}"),
                F.when(F.col(f"__r_{c}").isNotNull(), F.col("__ts")),
            ).alias(f"__of_{c}")
            for c in carry
        ],
    )
    all_buckets = unioned.select(on, "__b").distinct()
    wb_carry = (
        Window.partitionBy(on)
        .orderBy(F.col("__b").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf_carry = (
        Window.partitionBy(on)
        .orderBy(F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cins = join_carry_null_safe(all_buckets, outs, [on, "__b"], "left").select(
        on,
        "__b",
        *[
            F.last(f"__ob_{c}", ignorenulls=True)
            .over(wb_carry)
            .alias(f"__cb_{c}")
            for c in carry
        ],
        *[
            F.last(f"__of_{c}", ignorenulls=True)
            .over(wf_carry)
            .alias(f"__cf_{c}")
            for c in carry
        ],
    )
    joined = join_carry_null_safe(local, cins, [on, "__b"]).where(
        F.col("__is_left") == 1
    )
    b_val = {
        c: F.coalesce(F.col(f"__lb_{c}"), F.col(f"__cb_{c}")) for c in carry
    }
    f_val = {
        c: F.coalesce(F.col(f"__lf_{c}"), F.col(f"__cf_{c}")) for c in carry
    }
    b_ts, f_ts = b_val["__rts"], f_val["__rts"]
    pick_forward = b_ts.isNull() | (
        f_ts.isNotNull() & ((f_ts - F.col("__ts")) < (F.col("__ts") - b_ts))
    )
    chosen = [
        F.when(pick_forward, f_val[c]).otherwise(b_val[c]).alias(f"asof_{c}")
        for c in right_cols
    ]
    internals = (
        ["__is_left", "__ts", "__b"]
        + [f"__r_{c}" for c in carry]
        + [f"__lb_{c}" for c in carry]
        + [f"__lf_{c}" for c in carry]
        + [f"__cb_{c}" for c in carry]
        + [f"__cf_{c}" for c in carry]
    )
    return joined.select("*", *chosen).drop(*internals)


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Nearest-neighbor as-of: per left row, the closer of the latest
    at-or-before and earliest at-or-after right rows (exact ties keep
    the backward match, pandas merge_asof semantics).

    Same union-tag frame as the directional passes, with BOTH carries
    evaluated over it: the two windows share one key partitioning, so
    Spark plans a single exchange and two in-partition sorts (asc then
    desc) — nearest costs one extra sort, not an extra shuffle. The
    right timestamp rides along as a carried payload so the closer-side
    choice is a per-row comparison of the two deltas.
    """
    carry = [*right_cols, "__rts"]
    lt = left.withColumn("__is_left", F.lit(1)).withColumn("__ts", F.col(left_ts))
    payload = [F.col(c).alias(f"__r_{c}") for c in right_cols] + [
        F.col(right_ts).alias("__r___rts")
    ]
    rt = right.select(F.col(on), F.col(right_ts).alias("__ts"), *payload).withColumn(
        "__is_left", F.lit(0)
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").desc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[F.last(f"__r_{c}", ignorenulls=True).over(wb).alias(f"__b_{c}") for c in carry],
        *[F.last(f"__r_{c}", ignorenulls=True).over(wf).alias(f"__f_{c}") for c in carry],
    )
    b_ts, f_ts = F.col("__b___rts"), F.col("__f___rts")
    pick_forward = b_ts.isNull() | (
        f_ts.isNotNull() & ((f_ts - F.col("__ts")) < (F.col("__ts") - b_ts))
    )
    chosen = [
        F.when(pick_forward, F.col(f"__f_{c}"))
        .otherwise(F.col(f"__b_{c}"))
        .alias(f"asof_{c}")
        for c in right_cols
    ]
    internals = (
        ["__is_left", "__ts"]
        + [f"__r_{c}" for c in carry]
        + [f"__b_{c}" for c in carry]
        + [f"__f_{c}" for c in carry]
    )
    return carried.where(F.col("__is_left") == 1).select("*", *chosen).drop(*internals)


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    point_id: str | list[str] | None = None,
) -> DataFrame:
    """Join points to containing [lo, hi) intervals via bucketization.

    Each interval is exploded to the buckets it overlaps (cheap when
    interval width ~ bucket_width); the join is then an equi-join on
    bucket id — shuffle-hash/broadcast eligible — with an exact range
    post-filter. Avoids BroadcastNestedLoopJoin, which dies at scale.

    ``point_id`` (a row-distinguishing column or column list on the
    points side, e.g. ``["l_orderkey", "l_linenumber"]``) routes the
    bucket join through ``skew.salted_candidates``: a HOT VALUE RANGE —
    many points and many overlapping intervals in one bucket — is an
    expected distribution shape (a popular price band), and a plain
    equi-join emits that bucket's points×intervals candidates inside a
    single task (AQE's skew split keys on input bytes and cannot see
    quadratic OUTPUT from a small hot bucket — the blind spot
    VERDICT r10 item 1 flags here, measured on the vector whale).
    ``salted_candidates`` is whale-gated twice over: with no hot bucket
    the plan IS the plain equi-join (one extra counting pass over the
    exploded intervals); with one, the hot bucket's emission scatters
    across the salt-span tasks. Pass ``point_id=None`` only when the
    caller KNOWS both sides' bucket histograms are flat.
    """
    p = points.withColumn(
        "__bucket", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    if point_id is None:
        joined = p.join(iv, "__bucket")
    else:
        from .skew import salted_candidates

        joined = salted_candidates(p, iv, "__bucket", point_id)
    return joined.where(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    ).drop("__bucket")
