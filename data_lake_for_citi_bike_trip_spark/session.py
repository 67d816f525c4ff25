"""SparkSession factory and runtime configuration.

Generalizes the reference's session builder (spark_elt_emr.py:4-16, which
sets only ``appName``) with the configuration a scale-out deployment needs:
pinned UTC session timezone (the hour-bucket join key in SURVEY.md §2.3 J2
is timezone-sensitive), AQE enabled for runtime re-planning (skew joins,
partition coalescing), and sane shuffle parallelism.

``get_session`` also fixes two construction-time settings of the JVM it
launches: the Tungsten page size (``PAGE_SIZE``) and a HotSpot compiler
policy (``JIT_POLICY``). Under ``local[N]`` the driver JVM is also the
executor, and C2-compiling code that runs too little to pay it back
costs CPU that a short process never earns back; the policy gives C2 one
thread and raises its thresholds. It is set only for a ``local`` master,
as ``spark.driver.defaultJavaOptions``: Spark prepends that to the
driver's options, while a ``--driver-java-options`` in
``PYSPARK_SUBMIT_ARGS`` replaces ``spark.driver.extraJavaOptions``. A
``defaultJavaOptions`` from ``spark-defaults.conf`` is replaced by it.

``configure_runtime`` is idempotent and safe to call on a session we did
not create (the driver hands us one); it only sets runtime-settable confs.
Such a session keeps its own JVM: its page size and compiler policy.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Tungsten memory page size. Every ``BytesToBytesMap`` allocates at
#: least one whole page, whatever its data size: the broadcast
#: ``UnsafeHashedRelation`` behind a string-keyed broadcast join (held in
#: storage memory until the broadcast is released), the
#: ``UnsafeFixedWidthAggregationMap`` of a hash aggregate and the
#: ``UnsafeExternalSorter`` of a sort. Spark's default derives the page
#: from heap / cores, capped at 64 MB: with this engine's 16g heap that is
#: 64 MB at 4 cores and 32 MB at 32, so a 100-row dim pinned 64 MB and
#: memory use depended on the core count. Dims and per-task maps here are
#: small; a record larger than a page gets a dedicated page, so the size
#: changes memory only, never results. 1, 2 and 4 MB sat at the same floor
#: of a {1, 2, 4, 8, 16, 64} MB sweep (CHANGES.md); 4 MB is the largest of
#: them, because a task addresses at most 8192 pages (32 GB at 4 MB).
#: Construction-time only: ``MemoryManager`` reads it when ``SparkEnv``
#: is built.
PAGE_SIZE = "4m"

#: HotSpot compiler policy of the driver JVM, which under ``local[N]``
#: is also the executor. Every query's whole-stage Java is compiled by
#: Janino and then by HotSpot, and in a short process much of C2's work
#: is on code that runs too little to pay it back. Policy: two compiler
#: threads, one C1 and one C2 (HotSpot picks 3 at 4 cores and 15 at 32),
#: and each of the four Tier4 (C2) thresholds at 3x HotSpot's default
#: (invocations 5000 -> 15000, minimum invocations 600 -> 1800,
#: invocations plus back-edges 15000 -> 45000, loop back-edges
#: 40000 -> 120000), so only code that stays hot is handed to C2. C1 is
#: untouched: C1-only made the sf0.1 compute cells 2-4x slower. On 4
#: cores, 10 order-alternated perfbench pairs: an ``elt_ingest`` pass's
#: CPU 99.4 -> 80.3 s median and its summed JIT time 54.2 -> 30.9 s. The
#: cost: ``text_repetition``'s sf0.1 first run in a fresh process is
#: about 0.9 s slower (warm runs the same); 10x thresholds slowed all
#: four compute cells, and 3x with HotSpot's thread count saved too
#: little CPU to measure (CHANGES.md).
#: Chosen on 4 cores; not measured at 32. Construction-time only, passed
#: as ``spark.driver.defaultJavaOptions`` (see the module docstring).
JIT_POLICY = (
    "-XX:CICompilerCount=2 "
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)

#: Runtime-settable confs applied to every session we touch.
RUNTIME_CONF: dict[str, str] = {
    # J2's hour-bucket epoch key must be timezone-stable (SURVEY.md §4).
    "spark.sql.session.timeZone": "UTC",
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark 4 rejects
    # it unless read as raw int64 nanos (we convert in sources.registry).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Newer driver testdata stores naive (isAdjustedToUTC=false) micros,
    # which Spark 4 would infer as TIMESTAMP_NTZ; our engine (and the
    # DuckDB oracle under a UTC session) uses instant semantics, so read
    # them as plain TIMESTAMP. With session TZ pinned to UTC the wall
    # values are identical either way.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. On by default in Spark 3.2+; pinned for determinism.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dims in this engine are small (covid ~735 rows, weather ~9k/yr in the
    # reference; nation/region/supplier here) — keep broadcast joins on.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Idempotent partitioned re-writes (fixes reference rerun-duplication,
    # SURVEY.md §2.12 #4).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def spread(df, multiplier: int = 1):
    """Repartition a small-but-CPU-heavy input to full parallelism —
    but ONLY if it is actually under-split.

    Single-file parquet tables arrive as ONE input split; per-row-expensive
    stages (shingling, hashing, vector math) would then run on one core.
    Shuffling the compact pre-explode rows is microseconds; the unlocked
    parallelism is the win.

    On a real multi-file/large dataset the input already has >= target
    splits, and an unconditional ``repartition`` would force a full
    shuffle of the corpus (and could *reduce* parallelism). The partition
    count check is metadata-only (physical planning, no job), so inputs
    that are already parallel pass through untouched.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        current = -1  # e.g. streaming plan — fall through to repartition
    if current >= target:
        # The split COUNT can lie (SOAK_r13 §4b): Spark slices a
        # parquet file into byte-range splits, but a split yields rows
        # only if a ROW GROUP starts inside it — a single-row-group
        # file reports 32 "partitions" with every row in one of them,
        # and the whole downstream pipeline runs on one core while
        # this check waves it through. When the scan has FEWER parquet
        # files than target, verify real splittability from the
        # footers (driver-side metadata read, bounded by target files;
        # many-file scans and non-parquet line formats stay trusted).
        # LIMITATION: a CACHED DataFrame hides its files
        # (inputFiles() == [] through InMemoryRelation), so the probe
        # cannot see through df.cache() — spread BEFORE caching, so
        # the cache itself is laid out in parallel.
        try:
            files = df.inputFiles()
        except Exception:
            files = []
        pq_files = [f for f in files if f.endswith(".parquet")]
        if pq_files and len(files) < target:
            groups = 0
            try:
                import pyarrow.parquet as _pq
                from urllib.parse import unquote, urlparse

                for f in pq_files:
                    u = urlparse(f)
                    if u.scheme not in ("file", ""):
                        return df  # remote stores: trust the planner
                    # inputFiles() returns URI-encoded paths — a space
                    # or %-char in the path must be unquoted or the
                    # footer read fails and the probe silently falls
                    # back to trusting the planner (the exact
                    # single-row-group case it exists to catch).
                    groups += _pq.ParquetFile(unquote(u.path)).num_row_groups
                    if groups >= target:
                        break
            except Exception:
                return df  # unreadable footer: keep the old behavior
            if groups + (len(files) - len(pq_files)) < target:
                return df.repartition(target)
        return df
    return df.repartition(target)


def ensure_active(spark: SparkSession) -> SparkSession:
    """Pin ``spark`` as the ACTIVE session, Python- and JVM-side.

    Spark resolves Python data sources (``DataSource.lookupDataSource``)
    through the *active* session's DataSourceManager — a per-session
    registry — not through the session the DataFrame belongs to. PySpark's
    ``createDataFrame`` sets the active session to its receiver and never
    restores it, so one ``createDataFrame`` on a ``newSession()`` clone
    permanently redirects every later format lookup to the clone's (empty)
    manager: ``write.format("jsondir")`` on the PARENT then dies with
    DATA_SOURCE_NOT_FOUND even though the parent registered the source.
    Pinning the session we are about to operate on closes that hole; it is
    exactly what Spark's own ``withActive`` does around every action, made
    durable for the py4j call sequences in between.
    """
    try:
        jspark = spark._jsparkSession  # classic mode only
        type(spark)._activeSession = spark
        getattr(
            spark._jvm, "org.apache.spark.sql.classic.SparkSession"
        ).setActiveSession(jspark)
    except Exception:
        # Connect mode (no _jsparkSession / JVM handle): sessions are
        # process-isolated, so there is no shared thread-local to fix.
        pass
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Construction-time confs (``PAGE_SIZE``, ``JIT_POLICY``, driver
    memory) cannot be applied here: a session the driver hands us keeps
    its own page size, Spark's heap-derived default unless its builder
    set one, and its JVM's own compiler policy."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not settable at runtime in this deployment — skip; the
            # builder path below sets it at construction time instead.
            pass
    return ensure_active(spark)


def get_session(
    app_name: str = "data-lake-for-citi-bike-trip-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a session configured for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
        builder = builder.master(master)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8))
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.ui.enabled", "false")
    # Construction-time-only (ContextCleaner reads it at startup): GC of a
    # superseded RDD deletes its reliable-checkpoint files — without this,
    # iterative ops using checkpoint() (connected_components) accumulate
    # one rdd-checkpoint dir per iteration on the distributed FS.
    builder = builder.config(
        "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
    )
    # local[N] runs executors inside the driver JVM: the driver heap IS
    # the executor heap. 8g across 32 task threads left explode-heavy
    # stages GC-bound (bench showed 2-4x run-to-run variance on the
    # tokenize/shingle queries). 16g is a ceiling, not a reservation: the
    # JVM commits heap as it grows, so on a 15 GiB host the working set
    # (not -Xmx) is what must fit, and pages sized to the data
    # (PAGE_SIZE) keep it small.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    )
    builder = builder.config("spark.buffer.pageSize", PAGE_SIZE)
    if (master or os.environ["SPARK_MASTER"]).startswith("local"):
        # Only where the driver JVM is the executor (see JIT_POLICY).
        # Replaces a defaultJavaOptions from spark-defaults.conf.
        builder = builder.config("spark.driver.defaultJavaOptions", JIT_POLICY)
    spark = builder.getOrCreate()
    # Register the engine's Python data sources up front so every session
    # we hand out can read/write them without a per-query register call
    # (per-query register remains idempotent and harmless). Lazy import:
    # sources.registry imports this module.
    try:
        from .sources import pydatasource

        pydatasource.register(spark)
        pydatasource.register_stream(spark)
        pydatasource.register_sink(spark)
    except Exception:
        # A deployment without the Python DataSource API (pre-4.0) still
        # gets a working session for everything else.
        pass
    return configure_runtime(spark)
