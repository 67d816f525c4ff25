"""Skew handling for big joins and per-key windows.

Complements to AQE's runtime skew splitting:

- ``salted_join`` — static salting for *known* hot keys: the big side
  scatters each key across N sub-partitions (deterministic hash of a
  secondary column, never rand() — retries must route rows identically),
  the small side replicates N ways. Turns one straggler partition into N
  even ones at the cost of an N-times-larger build side.
- ``salted_candidates`` — the same scatter, applied only to keys whose
  per-key pair count says they are hot (similarity candidate joins).
- ``hot_window_gate`` / ``auto_bucket_width`` — decide whether a per-key
  window needs time-segmenting, and how wide its buckets are.
- ``key_skew_profile`` — the heavy hitters of a key, before choosing.

The engine's bucketed table (pay the shuffle once at write time) is
``sqlsurface.ensure_partsupp``.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import register


def hot_window_gate(stats_frame: DataFrame) -> tuple[int, float | None]:
    """Metadata-scale gate for per-key window operators (VERDICT r11
    item 1): does any window-partition key own enough rows that the
    single ``Window.partitionBy(key)`` sort serializes a whale into
    one task, and over what time span would a segmented plan bucket?

    ``stats_frame`` must have exactly two columns ``__k`` (the window
    key) and ``__t`` (the ordering value cast to double). One counting
    job — groupBy(__k) count + min/max (map-side partial, only
    (key, count, min, max) rows move) — returns
    ``(max_key_rows, span)`` where ``span`` is max-min of the WHOLE
    frame's non-null ``__t`` (None when no non-null values exist).
    The caller compares ``max_key_rows`` against its measured
    crossover and derives a bucket width from ``span``. The job runs
    on every call: the verdict is measured on the data as it is now.
    """
    row = (
        stats_frame.groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__t").alias("__mn"),
            F.max("__t").alias("__mx"),
        )
        .agg(
            F.max("__n").alias("max_rows"),
            F.min("__mn").alias("t_min"),
            F.max("__mx").alias("t_max"),
        )
        .first()
    )
    max_rows = int(row["max_rows"] or 0) if row is not None else 0
    span = None
    if row is not None and row["t_min"] is not None and row["t_max"] is not None:
        span = float(row["t_max"]) - float(row["t_min"])
    return max_rows, span


def auto_bucket_width(
    spark: SparkSession, span: float | None
) -> float | None:
    """Bucket width giving a whale key ~32x-parallelism time buckets
    over ``span``. Width-swept on the 8M/16M hot-30% corpora
    (SOAK_r12): more buckets monotonically helped both families up to
    ~1440 over a 30-day span at local[32] (sessionize 16M-hot: 512
    buckets 9.3 s, 1440 buckets 8.3 s; as-of 8M-hot: 64 buckets
    3.8 s, 360-720 buckets ~2.95 s) — the whale's per-bucket sorts
    shrink while the per-(key, bucket) carry table stays
    metadata-scale (keys x buckets rows). None when the span is
    missing or degenerate — segmentation cannot help a zero-width
    history."""
    if span is None or span <= 0:
        return None
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = spark.sparkContext.defaultParallelism
    return span / float(max(32 * nparts, 64))


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    salt_from: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the large side's hot keys scattered over
    ``buckets`` salt values derived from ``salt_from`` (a column that
    varies within a key, e.g. an event id)."""
    lg = large.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(buckets)).cast("int")
    )
    sm = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return lg.join(sm, [on, "__salt"], how).drop("__salt")


def salted_candidates(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    probe_id: Union[str, Column, Sequence[str]],
    salt: int = 16,
    whale_min: int = 256,
    broadcast_bytes: int = 256 << 20,
) -> DataFrame:
    """Inner equi-join on ``key`` whose pair EMISSION stays parallel
    when one key value is hot — the candidate-generation primitive for
    bucketed similarity joins (LSH sign buckets, Levenshtein blocks).

    The failure mode this fixes (measured, not hypothetical): a
    NEAR-identical whale — 30% of a corpus within epsilon of one
    vector — defeats the exact-duplicate collapse (every array
    distinct) and lands m rows on ONE bucket key. A plain equi-join
    then emits that bucket's m² candidate pairs inside a single task:
    AQE's skew split keys on INPUT partition bytes, and m rows of
    id+vector are kilobytes even when the pair output is quadratic
    (the same blind spot ``_salted_intra_pairs`` fixes for intra-group
    emission, one level up at the candidate join). 21k vectors with a
    7k whale took 229 s through the unsalted join and seconds salted.

    Mechanics: per-key PAIR-COUNT estimates (probe rows × build rows,
    the exact size of the key's emission) attach to both sides (the
    stats relation has one row per distinct shared key —
    bucket-enum-sized for sign buckets, AQE broadcasts it); the probe
    row takes ONE deterministic salt in [0, factor) hashed from
    ``probe_id``; the build row replicates once per salt value; the
    join keys on (key, salt). Every (probe, build) combination meets
    at exactly one salt — the probe's — so output equals the unsalted
    join exactly (order aside). Keys whose pair count stays under
    ``whale_min**2`` take factor 1 (explode emits one replica, no
    replication cost); hot keys scatter across ``salt`` tasks.

    WHALE-GATED twice over (VERDICT r10 items 1+3): the per-key factor
    gating above, and before any of it a METADATA-SCALE scalar gate —
    one counting pass per side answers "does any key's emission cross
    ``whale_min**2`` pairs?"; when the answer is no (the common,
    duplicate-free corpus) the function returns the PLAIN equi-join.
    The no-whale case therefore pays two counting passes (scan +
    map-side partial agg, only (key, count) rows move) and nothing
    else — no count-attach join on either side, no explode, and no
    round-robin repartition of the probe (previously an unconditional
    extra FULL-DATA pass of the dominant relation — at 100 TB, the
    probe side moved twice under sort-merge). The gate scalar is
    eager: the join strategy is decided when this function is CALLED,
    from the sides' actual key histograms, the same way AQE decides
    from runtime stats — callers hand in materializable inputs.

    Gating on the pair PRODUCT rather than the build count alone
    matters for asymmetric hots (VERDICT r10 item 1's hot value
    range): a bucket with 10⁶ points and only 40 overlapping
    intervals emits 4·10⁷ pairs in one task, yet never shows a hot
    BUILD count — the product sees it; conversely a 300-row build key
    probed by 3 rows is no whale and no longer pays replication.

    ``probe_id`` may be a single column name, a sequence of names (a
    composite row id, e.g. (l_orderkey, l_linenumber)), or a Column
    expression — anything that VARIES within a hot key; it seeds the
    deterministic per-row salt, so retries route rows identically.

    ``broadcast_bytes`` bounds the replicated-build broadcast fast
    path (estimated as build-plan bytes-per-row x exact replica rows
    from the gate stats): under it, the measured-fastest shape is a
    forced broadcast of the replicated build against a round-robin
    probe (gated on MEASURED bytes — not a blind hint, so it never
    force-broadcasts a corpus-sized relation); over it, both sides
    repartition by (key, salt) with a widened salt span and pinned
    partition count (coalesce-exempt) and the join hash-builds per
    partition. The 256 MB default is deliberately above Spark's 10 MB
    unhinted-join default: one bounded broadcast beats re-shuffling
    the (dominant) probe side, and executor memory budgets at this
    row width absorb it comfortably.

    Contract: ``probe`` and ``build`` must not share non-``key``
    column names; rows whose key is absent from the other side drop
    (inner-join semantics, same as the join this replaces).
    """
    if isinstance(probe_id, Column):
        id_cols = [probe_id]
    elif isinstance(probe_id, str):
        id_cols = [F.col(probe_id)]
    else:
        id_cols = [F.col(c) for c in probe_id]
    pair_min = whale_min * whale_min
    # Cache BEFORE the gate action so the scalar's passes also
    # materialize the per-key stats the whale path consumes twice.
    # In the no-whale path the cache is dropped on the spot (the
    # returned plan never references it); in the whale path it is
    # registered for session-level release_caches.
    kstats = (
        build.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .join(
            probe.groupBy(key).agg(F.count(F.lit(1)).alias("__pn")),
            key,
        )
        .select(key, "__bn", (F.col("__pn") * F.col("__bn")).alias("__pairs"))
        .cache()
    )
    row = kstats.agg(
        F.max("__pairs").alias("mp"),
        F.sum("__bn").alias("build_rows"),
        F.sum(
            F.when(F.col("__pairs") >= pair_min, F.col("__bn") * salt).otherwise(
                F.col("__bn")
            )
        ).alias("replica_rows"),
    ).first()
    max_pairs = row["mp"] if row is not None else None
    if max_pairs is None or max_pairs < pair_min:
        kstats.unpersist()
        return probe.join(build, key)
    register(kstats)
    try:
        nparts = int(
            probe.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):  # "auto" under some AQE setups
        nparts = probe.sparkSession.sparkContext.defaultParallelism
    # Strategy choice from the stats the gate already collected — the
    # operator-level analogue of AQE's size-based planning, but with
    # the number AQE cannot see (per-key OUTPUT pairs) plus an honest
    # byte estimate for the replicated build side (per-row bytes from
    # the build plan's own statistics x replica rows from kstats).
    # r10 left this choice to the planner's static estimates, which
    # happened to broadcast at test scale; caching the inputs made the
    # estimates accurate-and-large, flipping the pair join to a
    # sort-merge whose (key, salt) ENSURE_REQUIREMENTS exchange AQE
    # coalesced to ~8 tasks — the input-byte blind spot one exchange
    # later (measured 22.7 s broadcast vs 59.1 s coalesced SMJ on the
    # 7k-vector whale). Deciding here pins the measured-fast shape on
    # BOTH sides of the estimate.
    try:
        plan_str = build._jdf.queryExecution().optimizedPlan().toString()
        build_bytes = int(
            build._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # Spark's size estimate does NOT multiply through Generate
        # (explode) nodes — measured: a 51x row blowup keeps the same
        # byte estimate — so bytes-per-row computed against the
        # POST-explode row count (which the gate counts exactly)
        # understates width by the explode multiplier. For an exploded
        # build with a FIXED-WIDTH schema (the range join's
        # interval-bucket expansion: ids, bounds, bucket — all
        # numeric) the honest width needs no plan statistics at all:
        # schema defaultSize + row overhead x the EXACT post-explode
        # row count. Variable-width columns (strings, arrays, maps,
        # binary) have no trustworthy static width — those builds take
        # the wide-salt shape, safe at any size.
        if "Generate" in plan_str:
            # explicit width table: PySpark's Python type objects do
            # not expose the JVM's defaultSize
            fixed = {
                "boolean": 1, "byte": 1, "short": 2, "integer": 4,
                "long": 8, "float": 4, "double": 8, "date": 4,
                "timestamp": 8, "timestamp_ntz": 8, "decimal": 16,
            }
            names = [f.dataType.typeName() for f in build.schema]
            if any(n.split("(")[0] not in fixed for n in names):
                build_bytes = 1 << 62
            else:
                width = sum(fixed[n.split("(")[0]] for n in names) + 16
                # feed the normal comparison: bytes-per-row x exact
                # post-explode rows (build_rows divides back out below)
                build_bytes = width * max(int(row["build_rows"] or 1), 1)
    except Exception:  # stats unavailable -> assume big, take wide path
        build_bytes = 1 << 62
    build_rows = max(int(row["build_rows"] or 1), 1)
    replica_bytes = (build_bytes // build_rows) * int(row["replica_rows"])
    if replica_bytes <= broadcast_bytes:
        # BROADCAST shape (r10-measured): round-robin REPARTITION_BY_NUM
        # on the probe — coalesce-exempt AND even, so the quadratic
        # emission runs on every core (round-robin 27 s vs coalesced
        # 117 s vs by-key 104 s on the 7k-whale corpus); the replicated
        # build hashes once and ships to each core.
        factor = F.when(
            F.col("__pairs") >= pair_min, F.lit(salt)
        ).otherwise(F.lit(1))
        p = (
            probe.join(kstats, key)
            .withColumn("__s", F.pmod(F.xxhash64(*id_cols), factor))
            .drop("__bn", "__pairs")
            .repartition(nparts)
        )
        b = F.broadcast(
            build.join(kstats, key)
            .withColumn(
                "__s", F.explode(F.sequence(F.lit(0), factor - F.lit(1)))
            )
            .drop("__bn", "__pairs")
        )
        return p.join(b, [key, "__s"]).drop("__s")
    # WIDE-SALT shape for build sides too big to broadcast: the salt
    # span widens to 4*nparts so the hot key's (key, salt) hash slots
    # cover every partition with low balls-in-bins imbalance (A/B'd on
    # the 7k-whale corpus: 2*nparts 29.9 s vs 4*nparts 20.2 s — the
    # wider span costs 2x more whale-key build replicas but evens the
    # emission), and BOTH sides repartition explicitly by (key, salt)
    # with a pinned partition count — user-specified exchanges are
    # AQE-coalesce-exempt, so the input-small/output-huge salted
    # partitions cannot be re-merged.
    # The build side hints SHUFFLE_HASH: per-partition build replicas
    # are bounded (bn * wide_salt / nparts ~ 4 * bn rows), and hashing
    # them skips the two sort passes a sort-merge join would add.
    wide_salt = max(salt, 4 * nparts)
    factor = F.when(
        F.col("__pairs") >= pair_min, F.lit(wide_salt)
    ).otherwise(F.lit(1))
    p = (
        probe.join(kstats, key)
        .withColumn("__s", F.pmod(F.xxhash64(*id_cols), factor))
        .drop("__bn", "__pairs")
        .repartition(nparts, F.col(key), F.col("__s"))
    )
    b = (
        build.join(kstats, key)
        .withColumn(
            "__s", F.explode(F.sequence(F.lit(0), factor - F.lit(1)))
        )
        .drop("__bn", "__pairs")
        .repartition(nparts, F.col(key), F.col("__s"))
        .hint("SHUFFLE_HASH")
    )
    return p.join(b, [key, "__s"]).drop("__s")


def key_skew_profile(df: DataFrame, key: str, top_k: int = 20) -> DataFrame:
    """Heavy-hitter diagnosis for a join/agg key: the ``top_k`` hottest
    key values with their row share in exact basis points — the number
    you look at BEFORE deciding whether a join needs salting or AQE skew
    handling.

    One grouped count (partial map-side), a 1-row total attach, and a
    distributed top-k (orderBy+limit plans as TakeOrderedAndProject — no
    single-partition global sort)."""
    counts = df.groupBy(F.col(key).alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("key_value").cast("string").alias("key_value"),
            "n_rows",
            F.expr("(10000 * n_rows) div n_total").alias("share_e4"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key_value"))
        .limit(top_k)
    )
