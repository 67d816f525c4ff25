"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship fact-table build at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
mirror for each (see data_lake_for_citi_bike_trip_spark/oracles.py for the
cross-engine parity rules).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark import caching, oracles
from data_lake_for_citi_bike_trip_spark.operators import (
    analytics,
    asof,
    dedup,
    multimodal,
    scd,
    setops,
    similarity,
    staging,
    star,
)
from data_lake_for_citi_bike_trip_spark.operators import corpus, search, skew, sqlsurface
from data_lake_for_citi_bike_trip_spark.operators import layout, profile
from data_lake_for_citi_bike_trip_spark.operators import behavior, geo, timeseries
from data_lake_for_citi_bike_trip_spark.operators import graph, linkage
from data_lake_for_citi_bike_trip_spark.operators import intervals
from data_lake_for_citi_bike_trip_spark.operators import text as text_ops
from data_lake_for_citi_bike_trip_spark.functions import vectors
from data_lake_for_citi_bike_trip_spark.sources.registry import load_table
from data_lake_for_citi_bike_trip_spark.sources.writers import write_table
from data_lake_for_citi_bike_trip_spark.plans import checks
from data_lake_for_citi_bike_trip_spark.streaming import pipeline as streaming
from data_lake_for_citi_bike_trip_spark.streaming import stateful

SF_SMOKE = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Query callables. Each loads only the tables it needs (column pruning and
# filter pushdown then reach the parquet scan per query).
# ---------------------------------------------------------------------------

#: Per-process private scratch roots for q_lake_roundtrip, keyed by sf tag.
#: mkdtemp gives a fresh 0700 directory per process — concurrent harness
#: runs (bench vs correctness) can't race overwrite-vs-read on a shared
#: predictable /tmp path, and there is no pre-creation/symlink surface.
#: Cached so repeat invocations in one process (bench min-of-3) reuse it.
_LAKE_TMP: dict[str, str] = {}


def _lake_tmp_root(tag: str) -> str:
    import atexit
    import shutil
    import tempfile

    if tag not in _LAKE_TMP:
        path = tempfile.mkdtemp(prefix=f"spark_graft_lake_{tag}_")
        # each root holds a full fact-table copy — reclaim it at process
        # exit rather than leaking one tree per process per sf tag
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _LAKE_TMP[tag] = path
    return _LAKE_TMP[tag]


def _staged(spark: SparkSession, sf_dir: str):
    events = staging.rebalanced(load_table(spark, sf_dir, "events"))
    return staging.trips(events), staging.covid(events), staging.weather(events)


def q_fact_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, covid, weather = _staged(spark, sf_dir)
    return star.fact_trips(trips, covid, weather)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second columnar format on the sink/source surface: write the
    orders table to ORC partitioned by orderstatus, read it back with a
    partition filter, aggregate. ORC ships in Spark's JVM (no extra
    package); predicate pushdown and partition pruning work exactly as
    for parquet, so the lake abstractions are format-portable. Output is
    integer/string-exact — the ORC hop cannot introduce drift."""
    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="spark_graft_orc_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(scratch, "orders_orc")
    (
        orders.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .orc(path)
    )
    # Read back under the writer's schema: inference would re-scan
    # footers (wasted IO at scale) and cannot work at all on an empty
    # table (zero data files — a legitimate state for a filtered
    # backfill); the declared partition column binds to the dir values.
    back = spark.read.schema(orders.schema).orc(path)
    return (
        back.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
            F.round(F.sum(F.round(F.col("o_totalprice") * 100)), 0)
            .cast("bigint")
            .alias("total_cents"),
        )
    )


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited JSON on the sink/source surface: write documents
    as gzipped JSONL (newlines in text must round-trip through JSON
    escaping), read back with a PINNED schema — at 100 TB, schema
    inference is a second scan of the corpus; production readers always
    pin — and aggregate. sum(length(text)) proves the payload survived
    the escaping hop byte-for-byte in length; min/max ids bound the
    key space."""
    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="spark_graft_jsonl_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(scratch, "docs_jsonl")
    docs.write.mode("overwrite").option("compression", "gzip").json(path)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum(F.length("text")).cast("bigint").alias("text_chars"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )


def q_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lake round-trip: write the fact table partitioned by
    (year, month) with dynamic partition overwrite (S8), read it back
    with a partition filter (directory-level pruning — asserted in
    tests/test_plans.py), aggregate per usertype. All output columns are
    integer/string-exact so the parquet hop cannot introduce drift."""
    import os

    trips, covid, weather = _staged(spark, sf_dir)
    fact = star.fact_trips(trips, covid, weather)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(_lake_tmp_root(tag), "fact")
    write_table(fact, path, partition_by=["year", "month"],
                mode="overwrite_partitions")
    # schema pinned to the writer's: no footer-inference scan, and an
    # empty fact (all rows filtered upstream) still reads as a typed
    # empty table instead of UNABLE_TO_INFER_SCHEMA
    lake = spark.read.schema(fact.schema).parquet(path)
    return (
        lake.where((F.col("year") == 2024) & (F.col("month") == 1))
        .groupBy("usertype")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            F.count_distinct("bikeid").alias("n_bikes"),
            F.min("start_epoch_us").alias("first_trip_us"),
            F.max("start_epoch_us").alias("last_trip_us"),
        )
    )


def q_dim_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return star.dim_time(trips)


def q_dim_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return star.dim_user_agg(trips)


def q_dim_bike(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return star.dim_bike(trips)


def q_dim_covid(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, covid, _ = _staged(spark, sf_dir)
    return star.dim_covid(covid)


def q_dim_weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, weather = _staged(spark, sf_dir)
    return star.dim_weather(weather)


def q_dim_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return star.dim_station(staging.stations(customer))


def q_dq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, covid, weather = _staged(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    return checks.dq_counts(
        {
            "trips": trips,
            "covid": covid,
            "weather": weather,
            "stations": staging.stations(customer),
        },
        null_checks={"null_trip_ids": (trips, "bikeid")},
    )


# -- analytics layer ---------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_top_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return analytics.top_stations(trips, k=10)


def q_rides_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return analytics.rides_per_hour(trips)


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.revenue_by_nation(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.event_type_pivot(load_table(spark, sf_dir, "events"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


def q_sessionize_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sessionize through the SEGMENTED plan (SOAK_r11): per-(user,
    day-bucket) windows + segmented-scan carries, so a bot user owning
    a corpus-scale share of events no longer serializes the session
    sort. Must emit exactly the single-window plan's sessions —
    driver-checked against the same DuckDB oracle."""
    return analytics.sessionize(
        load_table(spark, sf_dir, "events"), gap_minutes=30,
        bucket_width_minutes=24 * 60,
    )


def q_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("p_ts_us"),
        F.col("value").alias("p_value"),
    )
    joined = asof.asof_join(
        errors, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["p_ts_us", "p_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "asof_p_ts_us",
        "asof_p_value",
    )


def q_asof_purchase_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_asof_purchase through the SEGMENTED as-of plan (VERDICT r10
    item 7): the window partitions by (user, week bucket) with a
    segmented-scan carry, so a hot user's history sort parallelizes.
    Must emit exactly the single-window plan's rows — driver-checked
    against the same DuckDB ASOF JOIN oracle."""
    events = load_table(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("p_ts_us"),
        F.col("value").alias("p_value"),
    )
    joined = asof.asof_join(
        errors, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["p_ts_us", "p_value"],
        bucket_width=7 * 24 * 3600.0,  # one week of epoch seconds
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "asof_p_ts_us",
        "asof_p_value",
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each error event joined to the EARLIEST purchase at
    or after it (per user) — the mirror of q_asof_purchase."""
    events = load_table(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("p_ts_us"),
        F.col("value").alias("p_value"),
    )
    joined = asof.asof_join(
        errors, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["p_ts_us", "p_value"], direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "asof_p_ts_us",
        "asof_p_value",
    )


def q_range_price_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        (F.col("p_retailprice") - 5.0).alias("lo"),
        (F.col("p_retailprice") + 5.0).alias("hi"),
    )
    return asof.range_join_bucketed(
        lineitem, part, point_col="l_extendedprice", lo_col="lo", hi_col="hi",
        bucket_width=10.0, point_id=["l_orderkey", "l_linenumber"],
    ).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "p_partkey", "p_retailprice"
    )


def q_union_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    data = events.where(F.col("event_type").isin("view", "click")).select(
        "event_id", "event_type", "value", "user_id"
    )
    complement = events.where(F.col("event_type") == "signup").select(
        "event_id", "event_type"
    )
    return setops.union_backfill(data, complement)


def q_anti_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    return setops.anti_join_manifest(users, supplier, "user_id", "s_suppkey")


# -- LLM-pipeline extensions -------------------------------------------------

def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus re-keyed copies of every 10th doc (dedup targets)."""
    docs = load_table(spark, sf_dir, "documents")
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return docs.unionAll(copies)


def _embeddings_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings plus exactly-colinear copies (x2.0 is float-exact)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    return emb.unionAll(copies)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs_with_planted_dups(spark, sf_dir))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_docs(load_table(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=4)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped pipeline over embeddings: sign-bucket LSH cosine
    pairs -> connected components -> survivor per semantic cluster. The
    planted colinear copies must each collapse onto their original."""
    corpus = _embeddings_with_planted_dups(spark, sf_dir)
    # Reduced star-edge set: component-identical to the full pair set
    # but O(n) instead of O(n^2) edges per exact-duplicate cluster —
    # the clusters (the oracle-checked output) are unchanged.
    pairs = dedup.embedding_dup_edges_for_clustering(corpus, threshold=0.999)
    return dedup.dedup_clusters(corpus, pairs, id_col="vec_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters -> survivors: iterative min-label connected
    components over the minhash near-dup pairs, singletons included.
    Oracle is an independent WITH RECURSIVE transitive closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    return dedup.dedup_clusters(docs, pairs)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_dup_pairs(
        _embeddings_with_planted_dups(spark, sf_dir), threshold=0.999
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=10)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucket_topk(emb, emb.where(F.col("vec_id") < 50), k=5)


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.language_id(load_table(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.quality_score(load_table(spark, sf_dir, "documents"))


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_stats(load_table(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint(load_table(spark, sf_dir, "documents"))


def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.unigram_surprisal(load_table(spark, sf_dir, "documents"))


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram LM scoring per document; millibit terms
    quantize before the per-doc sum so aggregation order cannot
    matter."""
    return text_ops.bigram_surprisal(load_table(spark, sf_dir, "documents"))


def q_multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.payload_stats(load_table(spark, sf_dir, "documents"))


def q_multimodal_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode: JVM-assembled 24-bit BMP payloads ->
    Arrow-batched mapInPandas stdlib BMP parse -> dimensions. The oracle
    predicts width/height/bytes from the source columns independently,
    so a broken header builder OR a broken parser goes red."""
    media = multimodal.synthetic_bmp_table(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_images(media).select(
        "media_id",
        "n_bytes",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
    )


_NEW_SHARD_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard dedup: the src0-src4 shard arrives 'new' and is flagged
    against the already-ingested rest of the corpus (exact hash tier, then
    asymmetric banded-MinHash near tier) without recomputing any old x old
    pair."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("source").isin(*_NEW_SHARD_SOURCES))
    old = docs.where(~F.col("source").isin(*_NEW_SHARD_SOURCES))
    return dedup.incremental_dedup(old, new, threshold=0.5)


def q_stream_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC -> SCD1 upsert: drain the event feed through a
    foreachBatch latest-seq-wins parquet merge (ping-ponged state, replay
    idempotent) and emit the final per-user state — which the oracle pins
    as exactly the max-event_id row per user, independent of micro-batch
    boundaries."""
    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="spark_graft_upsert_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    sess = streaming.scoped_session(spark, 8)
    stream = streaming.stream_events(sess, sf_dir)
    state = streaming.stream_upsert_scd1(
        stream,
        state_path=os.path.join(scratch, "state"),
        checkpoint=os.path.join(scratch, "ckpt"),
        key="user_id",
        seq_col="event_id",
    )
    return state.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_stream_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GDPR erase into the ACID table through merge-on-read
    deletion vectors: the customer TxnTable takes one delete_where
    commit per micro-batch of erase requests (user_id %% 3 == 0 from
    the event stream) — DV sidecars only, no bucket rewrites — and the
    final read must equal source-minus-erased however the feed was
    batched (replay-idempotent by the anti-join's nature)."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    scratch = tempfile.mkdtemp(prefix="spark_graft_erase_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    sess = streaming.scoped_session(spark, 8)
    customer = load_table(sess, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    table = TxnTable.create(
        sess, os.path.join(scratch, "t"), current, key="c_custkey"
    )
    stream = streaming.stream_events(sess, sf_dir)
    requests = stream.where(F.col("user_id") % 3 == 0).select(
        F.col("user_id").alias("c_custkey")
    )
    final = streaming.stream_erase_to_txn(
        requests, table, os.path.join(scratch, "ckpt"), key_col="c_custkey"
    )
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("acctbal_cents").cast("long").alias("total_cents"),
    )


def q_stream_txn_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC drained into the ACID TxnTable: each micro-batch
    MERGEs with txn_id=batch_id (replay-skipped exactly-once), deletes
    travel as payload tombstones, and a staleness filter makes the
    result global latest-wins regardless of batching. Emits the visible
    (non-tombstoned) final state; the oracle pins it as the max-event_id
    row per user whose latest event is not a delete."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    scratch = tempfile.mkdtemp(prefix="spark_graft_txnmerge_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    sess = streaming.scoped_session(spark, 8)
    stream = streaming.stream_events(sess, sf_dir)
    changes = stream.select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.col("event_id").alias("last_seq"),
        F.concat(F.lit("ev_"), F.col("event_id").cast("string")).alias("name"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        (F.col("event_id") % 10 < 2).alias("is_deleted"),
    )
    state_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("last_seq", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("value_cents", T.LongType()),
            T.StructField("is_deleted", T.BooleanType()),
        ]
    )
    table = TxnTable.create(
        sess,
        os.path.join(scratch, "t"),
        sess.createDataFrame([], state_schema),
        key="user_id",
        n_buckets=8,
    )
    final = streaming.stream_merge_to_txn(
        changes,
        table,
        os.path.join(scratch, "ckpt"),
        key="user_id",
        seq_col="seq",
    )
    return final.where(~F.col("is_deleted")).select(
        "user_id", F.col("last_seq").alias("last_event_id"), "name", "value_cents"
    )


def q_multimodal_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL PNG decode: Arrow-batched stdlib PNG encode (zlib
    deflate + forward scanline filters, all five types cycling per row)
    -> full stdlib decode (inflate + per-scanline unfilter) -> per-image
    pixel sums. The oracle computes expected dims AND the exact pixel sum
    from the source columns alone, so a wrong filter inversion (the sum
    shifts) or a broken inflate path goes red."""
    media = multimodal.synthetic_png_table(load_table(spark, sf_dir, "documents"))
    return multimodal.png_pixel_stats(media).select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        "pixel_sum",
    )


def _scd2_inputs(spark: SparkSession, sf_dir: str):
    """Deterministic SCD2 scenario from customer: keys %3==0 change,
    %3==1 re-assert identically, %3==2 are absent from the batch; every
    10th key also arrives re-keyed as brand-new."""
    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        F.col("c_custkey").cast("string").alias("station_id"),
        F.col("c_nationkey").cast("bigint").alias("capacity"),
        F.lit(0).cast("bigint").alias("valid_from_us"),
        F.lit(scd.OPEN_END_US).alias("valid_to_us"),
    )
    changed = customer.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").cast("string").alias("station_id"),
        (F.col("c_nationkey") + 1).cast("bigint").alias("capacity"),
    )
    same = customer.where(F.col("c_custkey") % 3 == 1).select(
        F.col("c_custkey").cast("string").alias("station_id"),
        F.col("c_nationkey").cast("bigint").alias("capacity"),
    )
    new = customer.where(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 1000000).cast("string").alias("station_id"),
        F.lit(99).cast("bigint").alias("capacity"),
    )
    return current, changed.unionAll(same).unionAll(new)


def q_scd2_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    current, updates = _scd2_inputs(spark, sf_dir)
    return scd.scd2_apply(current, updates, "station_id", ["capacity"], batch_ts_us=1000)


def q_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the channel of
    the latest touch within 24 h (one preceding-frame window per user —
    no per-pair interval join)."""
    return behavior.last_touch_attribution(load_table(spark, sf_dir, "events"))


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF read through the SCD2 dimension: build scd2_stations
    (change batch committed at us=1000), probe half the orders at us=0
    and half at us=1500 via the interval-residual equi-join
    (operators/scd.py:point_in_time_join), and aggregate capacity per
    probe epoch. The oracle predicts both versions straight from the
    update rule, so a wrong interval bound (fanout, off-by-one at the
    boundary) shifts the sums."""
    from data_lake_for_citi_bike_trip_spark.operators import scd as scd_ops

    current, updates = _scd2_inputs(spark, sf_dir)
    dim = scd.scd2_apply(current, updates, "station_id", ["capacity"], batch_ts_us=1000)
    facts = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("station_id"),
        ((F.col("o_orderkey") % 2) * 1500).cast("bigint").alias("probe_us"),
    )
    j = scd_ops.point_in_time_join(facts, dim, "station_id", "probe_us", how="inner")
    return j.groupBy("probe_us").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("capacity").cast("long").alias("total_capacity"),
    )


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling end-to-end: JVM-assembled SVID containers ->
    Arrow-batched header parse + strided frame seek -> per-sampled-frame
    pixel sums; the oracle replays the generator formula per frame."""
    media = multimodal.synthetic_video_table(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_video_frames(media, stride=2)


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.session_window_agg(load_table(spark, sf_dir, "events"))


def q_unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.unpivot_event_counts(load_table(spark, sf_dir, "events"))


def q_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.stats_summary(load_table(spark, sf_dir, "lineitem"))


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return analytics.moving_average(trips)


def q_json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.json_props_rollup(load_table(spark, sf_dir, "events"))


def q_pysink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER: customer staged per partition
    by executor tasks, published by the driver's two-phase commit()
    (staged files become visible only on success — a failed task can
    never leave a half-written partition), then read back and
    aggregated. The oracle reads the parquet directly, so a hash match
    proves the sink round-trip lossless."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources import pydatasource

    pydatasource.register_sink(spark)
    scratch = tempfile.mkdtemp(prefix="spark_graft_pysink_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    cust.write.format("jsondir").option("path", scratch).mode("append").save()
    back = spark.read.schema(
        "c_custkey bigint, c_mktsegment string, cents bigint"
    ).json(os.path.join(scratch, "data"))
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


def q_pysource_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Arrow-batched, numpy-vectorized
    generation) read through the normal scan path and aggregated; the
    feed is deterministic integer arithmetic so DuckDB reproduces it
    from generate_series. sf_dir is unused — the source IS the data."""
    from data_lake_for_citi_bike_trip_spark.sources import pydatasource

    pydatasource.register(spark)
    feed = (
        spark.read.format("synth_events")
        .option("rows", "50000")
        .option("parts", "8")
        .load()
    )
    return feed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount_cents").alias("total_cents"),
        F.max("event_id").alias("max_event_id"),
    )


def q_variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-typed props extraction (parse once, typed paths) rolled
    up per event_type; integer-exact in both engines."""
    return analytics.variant_props_rollup(load_table(spark, sf_dir, "events"))


def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return analytics.mad_anomalies(trips)


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile.orders_profile(load_table(spark, sf_dir, "orders"))


def q_zorder_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout.zorder_sample(load_table(spark, sf_dir, "lineitem"))


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.blocked_levenshtein_pairs(load_table(spark, sf_dir, "documents"))


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC batch (key=o_custkey, seq=o_orderkey, op from key ranges)
    applied onto the customer snapshot via the generic MERGE operator."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    changes = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 < 2, "D")
        .when(F.col("o_orderkey") % 10 < 6, "U")
        .otherwise("I")
        .alias("op"),
        F.concat(F.lit("cdc_"), F.col("o_orderkey").cast("string")).alias("c_name"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("acctbal_cents"),
    )
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    return scd.apply_changes(current, changes, "c_custkey", "seq", "op")


def q_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two sequential CDC batches applied through the ACID TxnTable
    (sources/txn.py): create v1 from the customer snapshot, MERGE two
    deterministic order-derived change batches — each an atomic
    manifest-linked commit with bucket-granular copy-on-write — and
    return the v3 snapshot. The oracle mirrors the two merges as nested
    full-outer joins; the transactional machinery must be value-
    invisible."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )

    def batch(mod: int, prefix: str) -> DataFrame:
        return orders.where(F.col("o_orderkey") % 3 == mod).select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey").alias("seq"),
            F.when(F.col("o_orderkey") % 10 < 2, "D")
            .when(F.col("o_orderkey") % 10 < 6, "U")
            .otherwise("I")
            .alias("op"),
            F.concat(F.lit(prefix), F.col("o_orderkey").cast("string")).alias(
                "c_name"
            ),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("acctbal_cents"),
        )

    root = tempfile.mkdtemp(prefix="lake_merge_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = TxnTable.create(
        spark, os.path.join(root, "t"), current, key="c_custkey"
    )
    t.merge(spark, batch(0, "m1_"), "seq", "op")
    t.merge(spark, batch(1, "m2_"), "seq", "op")
    return t.read(spark)


def q_txn_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID-table point lookup through BUCKET PRUNING: build the
    bucketed customer TxnTable, then read_keys() maps each requested
    key to its hash bucket and scans only those bucket directories
    (sources/txn.py:read_keys — at 100 TB / 4096 buckets a 5-key lookup
    touches ~0.1% of the files). The oracle predicts the exact rows
    from the source table; a pruning bug that drops a bucket (or scans
    a stale manifest) goes red. The companion plan test asserts
    inputFiles() is a strict subset of the full scan's."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    root = tempfile.mkdtemp(prefix="txn_lookup_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = TxnTable.create(spark, os.path.join(root, "t"), current, key="c_custkey")
    return t.read_keys(spark, [1, 7, 19, 23, 42])


def q_txn_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE through deletion vectors: create the
    bucketed customer TxnTable, delete_where(custkey %% 7 == 0) commits
    ONLY per-bucket key sidecars (no bucket rewrite — the manifest's
    bucket map is asserted unchanged in-test), and the read subtracts
    them with a key anti-join. The query proves the read path: count +
    checksum of survivors, plus n_shadowed = 0 (no deleted key
    visible). Oracle: the source minus the keys."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    root = tempfile.mkdtemp(prefix="txn_dv_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = TxnTable.create(spark, os.path.join(root, "t"), current, key="c_custkey")
    t.delete_where(
        spark,
        customer.where(F.col("c_custkey") % 7 == 0).select("c_custkey"),
    )
    return t.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("acctbal_cents").cast("long").alias("total_cents"),
        F.count(F.when(F.col("c_custkey") % 7 == 0, 1)).alias("n_shadowed"),
    )


def q_txn_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between ACID-table versions as a queryable
    surface: create v1 from customer, apply one CDC merge, then
    changes(1, 2) — added/removed/changed with both payload versions,
    computed from the snapshots. The oracle replays the merge rule, so
    a wrong diff classification or a lost delete goes red."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    batch = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 < 2, "D")
        .when(F.col("o_orderkey") % 10 < 6, "U")
        .otherwise("I")
        .alias("op"),
        F.concat(F.lit("m1_"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "acctbal_cents"
        ),
    )
    root = tempfile.mkdtemp(prefix="txn_cdf_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = TxnTable.create(spark, os.path.join(root, "t"), current, key="c_custkey")
    t.merge(spark, batch, "seq", "op")
    return t.changes(spark, 1, 2)


def q_txn_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution as a queryable surface: a widening MERGE
    (evolve_schema=True) adds a segment column for every 10th customer;
    unaffected buckets are carried BY REFERENCE (never rewritten) and
    their rows read the new column as NULL via schema-on-read. The
    emitted fill/null split and the before/after column counts are
    predicted by the oracle from the update rule."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    root = tempfile.mkdtemp(prefix="txn_evolve_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = TxnTable.create(spark, os.path.join(root, "t"), current, key="c_custkey")
    n_before = len(t.read(spark).columns)
    batch = current.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit(1).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
        "c_name",
        "acctbal_cents",
        F.lit("vip").alias("segment"),
    )
    t.merge(spark, batch, "seq", "op", evolve_schema=True)
    latest = t.read(spark)
    return latest.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_before).cast("bigint").alias("n_cols_before"),
        F.lit(len(latest.columns)).cast("bigint").alias("n_cols_after"),
        F.count(F.when(F.col("segment").isNotNull(), 1)).alias(
            "n_segment_filled"
        ),
        F.count(F.when(F.col("segment").isNull(), 1)).alias("n_segment_null"),
    )


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour -> day -> week continuous-aggregate cascade with in-plan
    equality flags against the direct-from-raw weekly rollup."""
    return analytics.rollup_cascade(load_table(spark, sf_dir, "events"))


def q_purchase_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day purchase streak per user — the
    gaps-and-islands window trick over day-grain rows."""
    return analytics.purchase_streaks(load_table(spark, sf_dir, "events"))


def q_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience intersection/union via bitwise AND/OR of word
    bitmaps — set algebra without shuffling raw IDs; the precise
    counterpart to hll_overlap."""
    return profile.bitmap_overlap(load_table(spark, sf_dir, "events"))


def q_points_in_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofencing: integer ray-cast point-in-polygon over the station
    point field against three literal zones (one concave); broadcast
    edges, parity per (point, zone), per-zone rollup."""
    from data_lake_for_citi_bike_trip_spark.operators import geo

    return geo.points_in_zones(
        geo.station_points(load_table(spark, sf_dir, "customer"))
    )


def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry-vs-billing reconciliation through cogrouped pandas —
    both sides' rows per key in one Arrow-batched callable; full-outer
    key semantics."""
    from data_lake_for_citi_bike_trip_spark.operators import governance

    return governance.cogroup_reconcile(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "orders"),
    )


def q_arrow_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats via grouped applyInArrow (zero-copy
    Arrow tier, pyarrow.compute kernels)."""
    return similarity.arrow_label_stats(load_table(spark, sf_dir, "embeddings"))


def q_sql_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/DDL surface: CTAS into an external parquet table, a
    second slice via INSERT INTO, read back through spark.table — the
    managed-DDL path the path-based lake ops bypass."""
    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="spark_graft_ddl_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    name = f"ddl_nation_{tag}"
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_src")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} USING parquet LOCATION '{scratch}/t' AS "
        "SELECT * FROM nation_src WHERE n_nationkey < 20"
    )
    spark.sql(
        f"INSERT INTO {name} SELECT * FROM nation_src WHERE n_nationkey >= 20"
    )
    return spark.table(name).groupBy(
        F.col("n_regionkey").cast("long").alias("region")
    ).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_nationkey").alias("min_key"),
        F.max("n_nationkey").alias("max_key"),
    )


def q_nested_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-style nested modeling: line items collapsed into a
    sorted array<struct> per order, questions answered from the nested
    value via HOFs (no re-explode); relational oracle proves it."""
    return analytics.nested_order_items(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (nation, segment, balance-band)
    quasi-identifiers: exposure histogram + failing-class flags."""
    from data_lake_for_citi_bike_trip_spark.operators import governance

    return governance.k_anonymity(load_table(spark, sf_dir, "customer"))


def q_ooo_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingestion audit per event type: backward event-time
    steps in arrival order — the watermark-budget number."""
    return profile.ooo_audit(load_table(spark, sf_dir, "events"))


def q_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per categorical column with a contract-ordered
    float fold (sorted histogram, explicit seed) so both engines run
    the identical IEEE sequence."""
    return profile.entropy_profile(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "orders"),
    )


def q_seasonal_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week profile removal + 3x MAD residual flagging per event
    type, integer-exact end to end."""
    return timeseries.seasonal_residual_anomalies(
        load_table(spark, sf_dir, "events")
    )


def q_ivm_agg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance with mixed +1/-1 multiplicity
    deltas and zero-group removal; the oracle recomputes the final
    state from scratch."""
    return analytics.ivm_agg_delta(load_table(spark, sf_dir, "orders"))


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules with exact-bp support /
    confidence / lift over order baskets (basket-bounded pair join)."""
    return graph.assoc_rules(load_table(spark, sf_dir, "lineitem"))


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type: lag-7 predictor
    on the zero-filled spine, WAPE in exact basis points."""
    return timeseries.forecast_backtest(load_table(spark, sf_dir, "events"))


def q_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-bounded per-user inventory balance (clamped [0, cap]) —
    decision-dependent state in an Arrow grouped map, recursive-CTE
    oracle hash-checks the walk."""
    return behavior.capped_running_sum(load_table(spark, sf_dir, "events"))


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: selective name-digit blocking + purged
    (nation, balance-bucket) recovery blocks, Fellegi-Sunter-style
    integer agreement scores, threshold 45."""
    return linkage.link_customers(load_table(spark, sf_dir, "customer"))


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d x d covariance of the embedding space: per-row upper-triangle
    outer products in one codegen expression, reduced map-side to
    d(d+1)/2 exact BIGINT moment cells."""
    return similarity.embedding_covariance(
        load_table(spark, sf_dir, "embeddings")
    )


def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the window's halves per
    event type: global decile bins by histogram rank selection,
    Laplace-smoothed per-bin contributions as exact per-row doubles."""
    return profile.psi_value_drift(load_table(spark, sf_dir, "events"))


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V: chi-square normalized to [0,1] for cross-table
    comparability; integer chi2_e6 sum, one double sqrt."""
    return profile.cramers_v(load_table(spark, sf_dir, "events"))


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between click and purchase value
    distributions — shape test over the value histogram; exact
    cross-multiplied BIGINT max."""
    return profile.ks_test(load_table(spark, sf_dir, "events"))


def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase-spend concentration —
    tie-corrected rank formula on the spend histogram, exact integer
    numerator."""
    return profile.gini_spend(load_table(spark, sf_dir, "events"))


def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen over the event_type x day-of-week
    contingency table; per-cell contributions from exact BIGINT margins
    through one deterministic double expression."""
    return profile.chisq_independence(load_table(spark, sf_dir, "events"))


def q_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U on click-vs-purchase values, ranked over the
    value-domain histogram (never raw rows); doubled rank sums keep
    tie-averaged ranks integral."""
    return profile.rank_sum_test(load_table(spark, sf_dir, "events"))


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap |A and B| by inclusion-exclusion over three HLL
    sketches, bounded against the exact per-user flag rollup."""
    return profile.hll_overlap(load_table(spark, sf_dir, "events"))


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type mean: exact p05/p95 cut points by histogram
    rank selection, tails clamped, integer-cents arithmetic."""
    return profile.winsorized_stats(load_table(spark, sf_dir, "events"))


def q_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type multiple regression (intercept + trend + weekend) solved
    distributedly by the normal equations: one aggregate builds the 3x3
    Gram matrix as BIGINT sums, Cramer's rule emits exact-integer
    determinants and e6 coefficients."""
    return timeseries.ols_two_factor(load_table(spark, sf_dir, "events"))


def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-lag ACF (lags 1..7) of the zero-filled per-type daily
    series — seven leads in one window pass, exact integer moments."""
    return timeseries.autocorr_daily(load_table(spark, sf_dir, "events"))


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day lower-median of daily event counts per type —
    RANGE frame on the integer day index (gaps shorten the window),
    integer-exact selection."""
    return timeseries.rolling_median_daily(load_table(spark, sf_dir, "events"))


def q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features over REAL RIFF/PCM decodes: per-frame
    integer mean absolute amplitude + zero-crossing count (the VAD
    primitives); oracle replays the generator's sample stream per
    frame."""
    media = multimodal.synthetic_wav_table(load_table(spark, sf_dir, "documents"))
    return multimodal.audio_frame_features(media)


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over REAL PNG decodes: integer brightness
    mean (e2) + 4-bin intensity histogram per image; the oracle replays
    the generator formula closed-form."""
    media = multimodal.synthetic_png_table(load_table(spark, sf_dir, "documents"))
    return multimodal.image_features(media)


def q_image_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor 2x downsample over REAL PNG decodes (numpy
    strided view in one Arrow batch); the oracle replays which rows
    survive the stride closed-form."""
    media = multimodal.synthetic_png_table(load_table(spark, sf_dir, "documents"))
    return multimodal.image_downsample(media)


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF tier: 10%-trimmed mean of event values
    per (user, type) — bounded groups, the scale-safe grain for an
    order-dependent aggregate — integer-exact (cents in, floor-div e2
    out), oracle replays the sort/trim/div."""
    return profile.trimmed_mean_by_type(load_table(spark, sf_dir, "events"))


def q_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the top-20 users:
    depth x width bounded-state build, md5 hashes replayed by the
    oracle, one-sided guarantee flag hash-checked per row."""
    return profile.countmin_frequencies(load_table(spark, sf_dir, "events"))


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via bitmap-word aggregation
    (bit_or masks + popcount) — the mergeable, bounded-state alternative
    to count_distinct's shuffle-every-key plan."""
    return profile.bitmap_distinct(load_table(spark, sf_dir, "events"))


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over parts (min price, max size) — join-free cummax
    formulation checked against the oracle's quadratic NOT EXISTS."""
    return analytics.pareto_frontier(load_table(spark, sf_dir, "part"))


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE first-merge statistics: corpus-wide adjacent char-pair
    frequencies computed over the distinct-word vocabulary."""
    return text_ops.bpe_pair_stats(load_table(spark, sf_dir, "documents"))


def q_tfidf_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf document similarity through a term-keyed posting
    join (df-capped) — the lexical near-dup complement to the minhash
    and embedding tiers."""
    return search.tfidf_similar_pairs(load_table(spark, sf_dir, "documents"))


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM drift detector per station: the max(0, ...)
    recursion rewritten as two cumulative windows."""
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.cusum_changepoints(trips)


def q_multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio decode: Arrow-batched stdlib PCM-16 WAV
    encode (RIFF container) -> generic chunk-walking decode ->
    integer amplitude features; oracle replays the sample stream."""
    media = multimodal.synthetic_wav_table(load_table(spark, sf_dir, "documents"))
    return multimodal.wav_stats(media)


def q_geo_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density hotspots with 3x3 neighborhood smoothing — the
    cell-bounded companion to the radius pair join."""
    return geo.grid_hotspots(load_table(spark, sf_dir, "customer"))


def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every error event, with
    its following-hour purchases where they exist and NULL right columns
    where none can ever arrive (emitted at state eviction). The oracle
    mirrors both tiers: eager inner matches, plus null rows for
    unmatched errors whose horizon closed under the final GLOBAL
    watermark — min(max error ts, max purchase ts) - 2h, because each
    side's watermark operator sits after its event-type filter."""
    scoped = streaming.scoped_session(spark, 8)
    errors = streaming.stream_events(scoped, sf_dir).where(
        F.col("event_type") == "error"
    )
    purchases = streaming.stream_events(scoped, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = streaming.left_outer_interval_join(errors, purchases, on="user_id")
    out = joined.select(
        "l_event_id",
        F.unix_micros("l_ts").alias("l_ts_us"),
        "r_event_id",
        "r_value",
    )
    return streaming.run_available_now(out, "q_stream_left_join", "append")


def q_udtf_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) doing overlapping
    sliding-window chunking via a LATERAL join, Arrow-batched."""
    return corpus.sliding_chunks(load_table(spark, sf_dir, "documents"))


def q_stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom gap-sessionization in applyInPandasWithState (arbitrary
    per-key state across batches); single-batch drain == batch
    sessionization, so the oracle is the windowed-gap SQL."""
    stream = streaming.stream_events(streaming.scoped_session(spark, 8), sf_dir)
    updates = stateful.user_sessions(stream)
    return streaming.run_available_now(
        updates, "q_stream_user_sessions", "update"
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-postings exact phrase match ("table value"):
    adjacency as (doc, pos)-keyed equi-joins over per-term postings."""
    return search.phrase_search(load_table(spark, sf_dir, "documents"))


def q_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations from exact integer sufficient
    statistics in one aggregate pass (order-independent, hashable —
    unlike F.corr's float accumulators)."""
    return profile.corr_pairs(load_table(spark, sf_dir, "lineitem"))


def q_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per active day — exact sliding
    distinct via the days-x explode, not a day-x-day self-join."""
    return behavior.trailing_distinct_users(load_table(spark, sf_dir, "events"))


def q_feature_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority order-value quartiles by rank arithmetic."""
    return profile.feature_quartiles(load_table(spark, sf_dir, "orders"))


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction over the embeddings table
    (held-out query subset, deterministic tie-breaks)."""
    return similarity.knn_classify(load_table(spark, sf_dir, "embeddings"))


def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact truncated EWMA over the daily ride series:
    collect_list frame + indexed HOF weighting, rational milli-units."""
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.ewma_daily(trips)


def q_replica_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style bucket comparison against a deterministically
    corrupted replica: xor-folded digests expose exactly the divergent
    buckets without moving row data."""
    return setops.replica_diff_buckets(load_table(spark, sf_dir, "orders"))


def q_gdpr_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade with audit evidence across the raw
    fact, a per-user aggregate, and a day-level aggregate."""
    from data_lake_for_citi_bike_trip_spark.operators import governance

    return governance.gdpr_erase_audit(load_table(spark, sf_dir, "events"))


def q_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas per priority; percent change in
    the engine-agreeing non-negative-numerator integer form."""
    return analytics.mom_revenue_change(load_table(spark, sf_dir, "orders"))


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cohesion (avg/min member-to-centroid cosine)
    over exact integer centroid sums."""
    return similarity.label_centroid_cosine(
        load_table(spark, sf_dir, "embeddings")
    )


def q_tokenizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-vs-BPE-regex token count audit per document."""
    return text_ops.tokenizer_drift(load_table(spark, sf_dir, "documents"))


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous open sessions per day via the sweep-line over
    session start/end marks."""
    return behavior.peak_concurrency(load_table(spark, sf_dir, "events"))


def q_near_dup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry rapid-repeat audit: same (user, type) within 10 min of
    the previous occurrence, chain semantics."""
    return behavior.near_dup_events(load_table(spark, sf_dir, "events"))


def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly top-3 stations with rank() tie semantics."""
    trips, _, _ = _staged(spark, sf_dir)
    return analytics.topk_stations_with_ties(trips)


def q_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-variant A/B conversion readout with integer
    basis-point rates and lift."""
    return analytics.ab_lift(load_table(spark, sf_dir, "events"))


def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per station (ratio of means as one
    cross-multiplied integer division)."""
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.dow_seasonality(trips)


def q_stream_multibatch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch stateful streaming on the gate: events re-laid as 6
    files, drained 2 files per micro-batch through
    applyInPandasWithState running totals — final per-user totals equal
    the batch counts only if state truly carries across batches."""
    return stateful.multibatch_user_totals(spark, sf_dir)


def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view: delta-only dim join +
    partial-add merge onto the persisted stored view == from-scratch."""
    return analytics.ivm_join_view(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_mixture_deficit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-mass accounting vs configured mixture weights;
    deficit in exact tokens."""
    return corpus.mixture_deficit(load_table(spark, sf_dir, "documents"))


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupKFold-style leakage-free fold assignment (fold is a hash
    function of the group key)."""
    return corpus.group_split(load_table(spark, sf_dir, "documents"))


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source head-term L1 distance from the corpus distribution,
    integer basis points — the crawl-snapshot drift detector."""
    return text_ops.source_divergence(load_table(spark, sf_dir, "documents"))


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cosine between parity halves — the
    representation-shift check between snapshots."""
    return similarity.embedding_drift(load_table(spark, sf_dir, "embeddings"))


def q_stream_csv_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CSV source (explicit schema) drained to per-type
    counts — format portability of the streaming surface."""
    return streaming.stream_csv_counts(
        streaming.scoped_session(spark, 8), sf_dir
    )


def q_arrow_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (zero-copy RecordBatch) vector stats, integer-exact."""
    return similarity.arrow_vector_stats(load_table(spark, sf_dir, "embeddings"))


def q_cube_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users under a CUBE (non-additive measure through
    grouping sets)."""
    return analytics.cube_distinct_users(load_table(spark, sf_dir, "events"))


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (ppjoin-style candidate
    pruning) at Jaccard >= 0.6; oracle brute-forces all shared-token
    candidates so prefix losses go red."""
    return dedup.jaccard_prefix_join(load_table(spark, sf_dir, "documents"))


def q_stream_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming: interval join feeding a downstream
    tumbling-window count (two state stores, one query)."""
    scoped = streaming.scoped_session(spark, 8)
    counts = streaming.join_then_window(scoped, sf_dir)
    return streaming.run_available_now(counts, "q_stream_join_window", "append")


def q_pystream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING data source (Spark 4
    SimpleDataSourceStreamReader): offset-bounded micro-batches from a
    deterministic feed, drained and aggregated; oracle replays the
    arithmetic via generate_series."""
    from data_lake_for_citi_bike_trip_spark.sources import pydatasource

    scoped = streaming.scoped_session(spark, 8)
    pydatasource.register_stream(scoped)
    stream = (
        scoped.readStream.format("synth_events_stream")
        .option("rows", "10000")
        .option("batch_rows", "4000")
        .load()
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount_cents").cast("long").alias("total_cents"),
    )
    # availableNow stops a Simple stream reader after its FIRST offset
    # range; drain with a continuous trigger instead and stop once the
    # complete-mode state covers the whole (finite) feed — this is what
    # actually exercises multi-batch offset advancement (3 batches of
    # 4000/4000/2000).
    import time

    query = (
        agg.writeStream.format("memory")
        .queryName("q_pystream_agg")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            # DRIVER-side drain detection (r16): each progress entry is
            # emitted after its batch fully commits to the sink, so
            # summing numInputRows needs no Spark job — the old loop
            # ran a full aggregate job over the memory table per 0.3 s
            # poll. One confirming aggregate job still gates the return
            # (the hard correctness check the TimeoutError protects).
            read = sum(p["numInputRows"] for p in query.recentProgress)
            if read >= 10000:
                got = (
                    scoped.table("q_pystream_agg").agg(F.sum("n")).first()[0]
                )
                if got == 10000:
                    break
            time.sleep(0.05)
        else:
            raise TimeoutError("pystream feed never fully drained")
    finally:
        query.stop()
    return scoped.table("q_pystream_agg")


def q_cep_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-shaped pattern count: error followed by purchase
    within 1h with no intervening error."""
    return behavior.cep_error_recovery(load_table(spark, sf_dir, "events"))


def q_cep_click_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second CEP pattern through the reusable builder: click ->
    purchase within 30 min with no intervening ERROR — the forbidden
    set differs from the start type, exercising the union-window bound
    against a separate event stream."""
    return behavior.cep_sequence_matches(
        load_table(spark, sf_dir, "events"),
        start_type="click",
        end_type="purchase",
        forbid_types=("error",),
        within_minutes=30,
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust Theil-Sen trend per station: lower median of pairwise
    floor-slopes over the bounded per-key day grid."""
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.theil_sen_slope(trips)


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals (integer e6
    expectations, no logs at query time)."""
    return profile.benford_audit(load_table(spark, sf_dir, "orders"))


def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency mining on the staged trips: which
    should-be keys actually hold."""
    trips, _, _ = _staged(spark, sf_dir)
    return profile.fd_violations(trips)


def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-user debounce (decision-dependent state — grouped-map
    escape hatch, hash-checked against a recursive-CTE oracle)."""
    return behavior.debounce_events(load_table(spark, sf_dir, "events"))


def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level percent-of-parent contribution (nation within region,
    nation within global) from one rollup + window sums."""
    return analytics.share_of_parent(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_stream_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two streams drained as one plan."""
    return streaming.stream_union_counts(
        streaming.scoped_session(spark, 8), sf_dir
    )


def q_knn_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph computed inside sign-pattern LSH blocks — the
    scale path for the O(n^2) per-block primitive; exactly mirrored."""
    return similarity.blocked_mutual_knn(load_table(spark, sf_dir, "embeddings"))


def q_knn_blocked_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic recall readout of the blocked mutual-kNN graph vs
    the exact graph (both reproduced by the oracle), on the same
    deterministic 1-in-5 subsample as knn_multiprobe_recall: the exact
    baseline is quadratic, so at scale recall is only ever ESTIMATED on
    a sample; the production path (knn_blocked_pairs) stays
    full-corpus."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 5 == 0
    )
    return similarity.blocked_knn_recall(emb)


def q_knn_multiprobe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe blocked mutual-kNN: home bucket + one-bit-flip
    probes recover hyperplane-straddling pairs at (1+bits)x candidate
    cost; exactly mirrored by the oracle's probe-list SQL."""
    return similarity.blocked_mutual_knn_multiprobe(
        load_table(spark, sf_dir, "embeddings")
    )


def q_knn_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single- vs multi-probe recall against the exact graph in one
    deterministic row — the oracle reproduces both numbers, and the
    gate therefore proves multi_recall_bp >= single_recall_bp on this
    data rather than asserting it on faith. Measured on the
    deterministic 1-in-5 subsample (vec_id % 5 == 0): the exact-graph
    baseline is quadratic, so at scale recall is only ever ESTIMATED on
    a sample — the production path (knn_multiprobe_pairs) stays
    full-corpus."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 5 == 0
    )
    return similarity.blocked_knn_multiprobe_recall(emb)


def q_txn_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel as a queryable surface: build the lake_merge table
    (create + two CDC merges), then read EVERY committed version back
    through the manifest log and emit per-version row counts — the
    oracle replays the merge sequence to predict all three."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )

    def batch(mod: int, prefix: str) -> DataFrame:
        return orders.where(F.col("o_orderkey") % 3 == mod).select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey").alias("seq"),
            F.when(F.col("o_orderkey") % 10 < 2, "D")
            .when(F.col("o_orderkey") % 10 < 6, "U")
            .otherwise("I")
            .alias("op"),
            F.concat(F.lit(prefix), F.col("o_orderkey").cast("string")).alias(
                "c_name"
            ),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("acctbal_cents"),
        )

    root = tempfile.mkdtemp(prefix="txn_history_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = TxnTable.create(spark, os.path.join(root, "t"), current, key="c_custkey")
    t.merge(spark, batch(0, "m1_"), "seq", "op")
    t.merge(spark, batch(1, "m2_"), "seq", "op")
    # per-version counts are independent read jobs over committed,
    # immutable manifests — overlap them (guide §2.6) instead of paying
    # three sequential scheduler round-trips
    versions = t.versions()
    counts = similarity._overlap_jobs(
        *[lambda v=v: t.read(spark, v).count() for v in versions]
    )
    rows = list(zip(versions, counts))
    return spark.createDataFrame(rows, "version bigint, n_rows bigint")


def q_observed_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight DQ metrics via df.observe: the aggregates are collected
    during the write's own single pass (no second scan — the Spark-native
    form of the reference's separate check job). The metric values land
    on the driver BY DESIGN (that is the Observation API's contract);
    re-emitting them as a 1-row DataFrame makes the feature
    oracle-checkable."""
    from data_lake_for_citi_bike_trip_spark.plans import checks as C

    orders = load_table(spark, sf_dir, "orders")
    got = C.observed_write(
        orders,
        {
            "n_rows": F.count(F.lit(1)),
            "null_keys": F.count(F.when(F.col("o_orderkey").isNull(), 1)),
            "max_key": F.max("o_orderkey"),
            "total_cents": F.sum(F.round(F.col("o_totalprice") * 100)).cast(
                "long"
            ),
        },
    )
    return spark.createDataFrame(
        [(got["n_rows"], got["null_keys"], got["max_key"], got["total_cents"])],
        "n_rows bigint, null_keys bigint, max_key bigint, total_cents bigint",
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (3 iterations, e6 fixed point) over the
    customer<->supplier co-purchase graph derived from orders+lineitem;
    the oracle unrolls the identical floor-division arithmetic."""
    edges = graph.copurchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return graph.pagerank(edges, iters=3)


def q_also_bought(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket recommender surface: top-3 co-purchased partners
    per part, one basket one vote, deterministic rank order."""
    return graph.also_bought(load_table(spark, sf_dir, "lineitem"))


def q_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source (sources/readers.py:read_fixed_width):
    stage supplier as a fixed-width export (rpad'd slices), scan it
    back with the codegen substring/cast reader, and return the parsed
    rows — the oracle is the source table, so any slicing, trimming,
    or cast bug shifts values."""
    import atexit
    import shutil
    import tempfile

    from data_lake_for_citi_bike_trip_spark.sources.readers import (
        read_fixed_width,
    )

    sup = load_table(spark, sf_dir, "supplier")
    lines = sup.select(
        F.concat(
            F.rpad(F.col("s_suppkey").cast("string"), 10, " "),
            F.rpad(F.col("s_name"), 30, " "),
            F.rpad(F.col("s_nationkey").cast("string"), 6, " "),
            F.rpad(
                F.round(F.col("s_acctbal") * 100).cast("bigint").cast("string"),
                14,
                " ",
            ),
        ).alias("value")
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_fw_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    out = os.path.join(scratch, "supplier_fw")
    lines.write.mode("overwrite").text(out)
    return read_fixed_width(
        spark,
        out,
        [
            ("s_suppkey", 1, 10, "bigint"),
            ("s_name", 11, 30, "string"),
            ("s_nationkey", 41, 6, "bigint"),
            ("acctbal_cents", 47, 14, "bigint"),
        ],
    )


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (Pregel frontier expansion) from customer 1
    over the co-purchase graph: min hop distance within 3 hops; the
    oracle replays it with a UNION-distinct recursive CTE."""
    edges = graph.copurchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return graph.bfs_levels(edges, source=2, max_depth=3)


def q_business_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment lead time in BUSINESS days (closed-form
    weekday walk, no calendar table), rolled up per priority."""
    return analytics.business_lead_time(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavior sequences (one window pass, two
    leads, total-order top-k) — the funnel-grain above Markov
    bigrams."""
    return behavior.path_trigrams(load_table(spark, sf_dir, "events"))



def q_prorate_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration of each order's header total across
    its line items — allocations sum exactly to the total."""
    return analytics.prorate_order_total(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: 40/20/40 credit over each
    user's clicks before their first purchase, rolled up by click
    day-of-week."""
    return behavior.position_attribution(load_table(spark, sf_dir, "events"))


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for the mean order value: 32
    md5-seeded replicates in one scan, value-at-rank p05/p50/p95."""
    return profile.bootstrap_mean_ci(load_table(spark, sf_dir, "orders"))


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type over daily
    revenue, tie-corrected z in e6."""
    return timeseries.mann_kendall_trend(load_table(spark, sf_dir, "events"))



def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted lower median of extended price per return
    flag — histogram + cumulative-weight construction."""
    return profile.weighted_median_price(load_table(spark, sf_dir, "lineitem"))


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (bits, e9) between event type and weekday —
    per-cell floored contributions summed as integers."""
    return profile.mutual_information(load_table(spark, sf_dir, "events"))


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: distinct market segments per QI class, the
    homogeneity-attack screen after k-anonymity."""
    from data_lake_for_citi_bike_trip_spark.operators import governance

    return governance.l_diversity(load_table(spark, sf_dir, "customer"))


def q_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: purchase revenue by first-seen month and
    cohort age, with the cumulative curve."""
    return behavior.ltv_cohort(load_table(spark, sf_dir, "events"))


def q_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL multiset semantics over open vs
    urgent order custkeys, re-aggregated to visible multiplicities."""
    return sqlsurface.bag_setops(load_table(spark, sf_dir, "orders"))



def q_readability_lix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIX readability per source — words/sentences + 100*long/words,
    exact integer e2, HOF codegen per row."""
    return text_ops.readability_lix(load_table(spark, sf_dir, "documents"))


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into first-seen vs returning."""
    return behavior.new_vs_returning(load_table(spark, sf_dir, "events"))


def q_inactivity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days-since-last-event histogram with cumulative share — the
    curve churn thresholds are read from (non-vacuous at any span)."""
    return behavior.inactivity_profile(load_table(spark, sf_dir, "events"))


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label community propagation (3 synchronous rounds) over the
    every-4th-order co-part graph; community sizes."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 4 == 0
    )
    return graph.label_propagation(graph.copart_edges(li))


def q_melt_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot melted back to long via the DataFrame unpivot API;
    equals the direct (day, type) aggregate."""
    return analytics.melt_event_counts(load_table(spark, sf_dir, "events"))



def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope over the top-256 corpus terms:
    millibit log-log points, closed-form integer OLS."""
    return text_ops.zipf_slope(load_table(spark, sf_dir, "documents"))


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori frequent 3-itemsets: candidates from frequent pairs
    only (downward closure), support over order baskets."""
    return graph.frequent_triples(load_table(spark, sf_dir, "lineitem"))


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick categorical encoding with per-bucket collision
    visibility (md5-uniform, vocabulary-free)."""
    return corpus.feature_hash_encode(load_table(spark, sf_dir, "customer"))


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value in exact e2 cents."""
    return corpus.target_encode_loo(load_table(spark, sf_dir, "orders"))



def q_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit values and two aggregates per
    cell — one conditional-aggregate pass."""
    return analytics.pivot_native(load_table(spark, sf_dir, "events"))


def q_map_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round trip: sorted map_from_entries build, map_entries
    explode back — relational content preserved through the map."""
    return analytics.map_rollup(load_table(spark, sf_dir, "events"))


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the language-ID classifier
    against the labeled column, exact bp."""
    return text_ops.langid_confusion(load_table(spark, sf_dir, "documents"))


def q_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa in exact-rational form over the language-ID
    confusion margins."""
    return text_ops.langid_kappa(load_table(spark, sf_dir, "documents"))


def q_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily click and purchase
    counts — tie-averaged doubled ranks, integer sums."""
    return profile.spearman_daily(load_table(spark, sf_dir, "events"))



def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-drawn negative parts per order with the
    positives anti-joined away — contrastive-pair prep."""
    return corpus.negative_samples(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vs pooled decile cut points of document length —
    the quantile-normalization drift table."""
    return corpus.quantile_normalize(load_table(spark, sf_dir, "documents"))



def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the parity split x corpus-median
    period boundary; exact 2x2 cell table."""
    return analytics.diff_in_diff(load_table(spark, sf_dir, "events"))


def q_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date dimension spanning the data's own range."""
    return analytics.date_dim(load_table(spark, sf_dir, "events"))


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase risk table with censoring;
    survival as cumulative millibit logs."""
    return timeseries.kaplan_meier(load_table(spark, sf_dir, "events"))



def q_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers covering 80% of revenue and
    the top-20% share, exact rank arithmetic."""
    return analytics.pareto_8020(load_table(spark, sf_dir, "orders"))


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC part classification by cumulative revenue share (80/95
    split), integer cross-multiplied."""
    return analytics.abc_classification(load_table(spark, sf_dir, "lineitem"))


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index between the ship-date halves with exact
    rational per-part terms."""
    return analytics.price_index_laspeyres(
        load_table(spark, sf_dir, "lineitem")
    )



def q_ppr_from_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the minimum node of the co-purchase
    graph — integer Pregel, top-100 by seeded mass."""
    return graph.personalized_pagerank(
        graph.copurchase_edges(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
        )
    )


def q_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution with exact power-of-two weights and
    integer per-user shares."""
    return behavior.decay_attribution(load_table(spark, sf_dir, "events"))


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document, millibit idf, BIGINT
    ranking."""
    return text_ops.doc_keywords(load_table(spark, sf_dir, "documents"))



def q_days_of_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days-of-supply per part from bucketed partsupp stock vs
    observed shipment rate; reorder list (ascending)."""
    return sqlsurface.days_of_supply(spark, sf_dir)


def q_session_ordinal_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session ordinal (first visit vs later
    visits), 30-minute gap sessions."""
    return behavior.conversion_by_session_ordinal(
        load_table(spark, sf_dir, "events")
    )


def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-tertile migration matrix between corpus halves with
    absent users as segment -1."""
    return behavior.segment_migration(load_table(spark, sf_dir, "events"))



def q_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day via merged presence spans — exact
    trailing-7-day distinct without a 7x explode."""
    return behavior.stickiness_ratio(load_table(spark, sf_dir, "events"))


def q_mode_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode of value per event type (smallest-value tie
    break) via one histogram struct-max."""
    return profile.mode_per_type(load_table(spark, sf_dir, "events"))


def q_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two value histogram per type — constant relative
    resolution for heavy-tailed values."""
    return profile.log_histogram(load_table(spark, sf_dir, "events"))



def q_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edge churn between ship-date halves: stable /
    dropped / new edge counts and the edge Jaccard."""
    return graph.edge_churn(load_table(spark, sf_dir, "lineitem"))


def q_cv_slope_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-trend slope refitted per disjoint user fold with the
    cross-fold spread — trend-or-noise readout."""
    return timeseries.cv_slope_stability(load_table(spark, sf_dir, "events"))



def q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression of daily mean purchase value via the
    closed-form minimax identity — the unique PAVA solution,
    dependency-free over calendar-bounded cells."""
    return timeseries.isotonic_daily_fit(load_table(spark, sf_dir, "events"))



def q_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source: hapax share and type-token
    ratio in exact bp."""
    return text_ops.hapax_rate(load_table(spark, sf_dir, "documents"))


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 clumping terms by collection-over-document frequency."""
    return text_ops.term_burstiness(load_table(spark, sf_dir, "documents"))


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two HITS rounds over the directed customer->supplier graph;
    exact integer hub/authority, top-100."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(
            lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return graph.hits_scores(edges)



def q_rapid_reorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-customer order pairs within 3 days with relative amount
    delta — the double-charge triage list."""
    return analytics.rapid_reorders(load_table(spark, sf_dir, "orders"))


def q_return_rate_by_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate share and lift per discount percent band."""
    return analytics.return_rate_by_discount(
        load_table(spark, sf_dir, "lineitem")
    )


def q_basket_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-mix entropy per order (millibit terms), rolled up by
    basket size."""
    return analytics.basket_entropy(load_table(spark, sf_dir, "lineitem"))



def q_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding separation: mean cosine to own centroid vs
    best other centroid, exact integer construction."""
    return similarity.label_silhouette(
        load_table(spark, sf_dir, "embeddings")
    )


def q_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean of order value over 32 md5 buckets
    with the heavy-tail gap readout."""
    return profile.median_of_means(load_table(spark, sf_dir, "orders"))



def q_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on the parity split's conversion —
    pooled variance, exact counts, one floored-e6 double."""
    return profile.prop_ztest(load_table(spark, sf_dir, "events"))



def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman stratified-sample allocation across event types: N_h*S_h
    weights, Hamilton-rounded to a 1000-row budget."""
    return profile.neyman_allocation(load_table(spark, sf_dir, "events"))


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture population estimate from the corpus
    halves next to the observed distinct count."""
    return profile.capture_recapture(load_table(spark, sf_dir, "events"))


def q_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen vocabulary mass per source (P0 = N1/N in bp)
    with the frequency-of-frequencies head."""
    return text_ops.unseen_mass(load_table(spark, sf_dir, "documents"))



def q_mix_rate_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share revenue bridge per priority: volume, rate, and the
    exact integer interaction residual."""
    return analytics.mix_rate_decomposition(
        load_table(spark, sf_dir, "orders")
    )


def q_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of nth purchasers who reach n+1 — the loyalty curve."""
    return analytics.repeat_purchase_curve(load_table(spark, sf_dir, "events"))



def q_gmroi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GMROI per part off the bucketed partsupp: margin per cent of
    inventory, bottom-100 kill list."""
    return sqlsurface.gmroi(spark, sf_dir)



def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at population deciles — cumulative revenue share
    by ascending customer spend."""
    return analytics.lorenz_deciles(load_table(spark, sf_dir, "orders"))


def q_open_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog in 90-day age bands vs the latest order
    date."""
    return analytics.open_order_aging(load_table(spark, sf_dir, "orders"))


def q_style_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-class style fingerprint per source (upper/digit/punct/
    space shares in bp)."""
    return text_ops.style_profile(load_table(spark, sf_dir, "documents"))



def q_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl concentration of supplier revenue per nation with
    the effective-supplier dual."""
    return analytics.hhi_by_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )



def q_stream_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window value extremes per type (complete
    drain == batch tumbling mirror)."""
    stream = streaming.stream_events(
        streaming.scoped_session(spark, 8), sf_dir
    )
    result = streaming.windowed_minmax(
        stream, window="1 hour", watermark="2 hours"
    )
    return streaming.run_available_now(
        result, "q_stream_minmax", "complete"
    )


def q_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion of daily arrivals per type — Poisson reads
    1e4; above is bursty."""
    return timeseries.fano_factor(load_table(spark, sf_dir, "events"))


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail on the parity split (chi-square
    vs 50/50 with an integer-arithmetic flag)."""
    return profile.srm_check(load_table(spark, sf_dir, "events"))



def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail total reconciliation in relative-gap bands —
    the cross-table DQ audit."""
    return setops.order_total_reconciliation(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_linenumber_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order linenumber 1..n contiguity audit (duplicates / broken
    span / ok classes)."""
    return setops.linenumber_integrity(load_table(spark, sf_dir, "lineitem"))



def q_circadian_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular time-of-day statistics per type: resultant length
    (peak sharpness) and mean clock time — e6 unit vectors summed
    exactly."""
    return timeseries.circadian_profile(load_table(spark, sf_dir, "events"))


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain — sequence
    predictability in millibits."""
    return behavior.markov_entropy_rate(load_table(spark, sf_dir, "events"))



def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue move signs per type —
    momentum vs mean-reversion vs random."""
    return timeseries.runs_test(load_table(spark, sf_dir, "events"))


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation dial on mean-detrended daily
    counts (integral scaled residuals)."""
    return timeseries.durbin_watson(load_table(spark, sf_dir, "events"))


def q_dow_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANOVA share of daily-count variance explained by day-of-week —
    the weekly-seasonality strength."""
    return timeseries.dow_eta_squared(load_table(spark, sf_dir, "events"))



def q_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle label-centroid cosine matrix — which labels a
    classifier will confuse."""
    return similarity.centroid_matrix(load_table(spark, sf_dir, "embeddings"))


def q_single_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-count histogram with revenue exposure — the
    single-source procurement risk register."""
    return sqlsurface.single_source_parts(spark, sf_dir)



def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-exponent estimate over the co-part graph's top-100
    degrees — the is-skew-handling-needed number."""
    return graph.degree_powerlaw(
        graph.copart_edges(load_table(spark, sf_dir, "lineitem"))
    )


def q_alsobought_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out replay of the also-bought recommender: first-half
    top-3 vs second-half co-purchases, hit-rate in bp."""
    return analytics.alsobought_hitrate(load_table(spark, sf_dir, "lineitem"))



def q_transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median dwell seconds per event-type transition — the funnel's
    speed matrix next to markov_transitions' probabilities."""
    return behavior.transition_latency(load_table(spark, sf_dir, "events"))


def q_price_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cents-ending distribution per type: whole-dollar and .99
    shares plus the modal ending."""
    return profile.price_endings(load_table(spark, sf_dir, "events"))



def q_coldstart_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-half parts (and revenue) unseen in the training half —
    the recommender's cold-start ceiling."""
    return analytics.coldstart_share(load_table(spark, sf_dir, "lineitem"))


def q_nation_assortment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nation pairs by purchased-assortment Jaccard."""
    return analytics.nation_assortment_overlap(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )



def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily single-event-session share — the landing-page health
    metric off the standard session walk."""
    return behavior.bounce_rate(load_table(spark, sf_dir, "events"))


def q_nation_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation revenue league table with rank shifts between the
    order-date halves."""
    return analytics.nation_rank_shift(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )



def q_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate pass rate per labeled language — corpus-mix
    governance off the quality_score features."""
    return text_ops.quality_by_lang(load_table(spark, sf_dir, "documents"))


def q_revenue_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p95 day-over-day revenue down-move per type — historical
    value-at-risk in exact cents."""
    return timeseries.revenue_var(load_table(spark, sf_dir, "events"))



def q_brand_type_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand x type chi-square with Cramér's V over the part catalog
    (zero cells added analytically)."""
    return profile.brand_type_association(load_table(spark, sf_dir, "part"))



def q_customer_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer OLS slope signs rolled to portfolio shares —
    thousands of micro-models in one aggregate."""
    return analytics.customer_momentum(load_table(spark, sf_dir, "orders"))


def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL surface parity (both engines plan the identical
    aggregate)."""
    return sqlsurface.group_by_all_surface(spark, sf_dir)


def q_cost_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 parts by supplier cost dispersion — the negotiation
    list off the bucketed partsupp."""
    return sqlsurface.cost_spread(spark, sf_dir)



def q_retention_by_acq_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-1 retention by acquisition weekday — the channel-timing
    lever."""
    return behavior.retention_by_acquisition_dow(
        load_table(spark, sf_dir, "events")
    )


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content duplicate groups spanning sources — the
    train/eval leakage shape per source pair."""
    return dedup.cross_source_dups(load_table(spark, sf_dir, "documents"))



def q_weekly_intensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-days-per-user-week histogram — the engagement depth
    between DAU and WAU."""
    return behavior.weekly_intensity(load_table(spark, sf_dir, "events"))


def q_reorder_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-to-second-order gap quartiles — the remarketing
    window."""
    return behavior.reorder_latency(load_table(spark, sf_dir, "orders"))



def q_quarterly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue growth over the multi-year order
    axis with sign-guarded integer deltas."""
    return analytics.quarterly_growth(load_table(spark, sf_dir, "orders"))


def q_month_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year revenue index vs uniform 1/12 over ~7 order
    years — the demand-planning curve."""
    return analytics.month_seasonality(load_table(spark, sf_dir, "orders"))



def q_yoy_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-month year-over-year revenue growth — the seasonality-
    proof growth table."""
    return analytics.yoy_monthly_growth(load_table(spark, sf_dir, "orders"))


def q_customer_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-lifespan (whole years) histogram per customer — the LTV
    horizon evidence."""
    return analytics.customer_lifespan(load_table(spark, sf_dir, "orders"))



def q_activation_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion by first-session depth band — the onboarding
    investment signal."""
    return behavior.activation_depth(load_table(spark, sf_dir, "events"))


def q_spend_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers banded by order-value coefficient of variation —
    steady vs spiky spend."""
    return profile.spend_consistency(load_table(spark, sf_dir, "orders"))



def q_discount_by_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean discount depth per basket-size band — the promo-
    efficiency cross-tab."""
    return analytics.discount_by_basket_size(
        load_table(spark, sf_dir, "lineitem")
    )


def q_size_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped units per SKU by part size — the assortment-bloat
    curve."""
    return analytics.size_demand(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )



def q_open_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status burn-down per vintage year — fulfillment debt."""
    return analytics.open_share_by_year(load_table(spark, sf_dir, "orders"))


def q_reorder_gap_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median first-to-second-order gap per first-order-year cohort —
    the reorder-velocity trend."""
    return analytics.reorder_gap_by_cohort(
        load_table(spark, sf_dir, "orders")
    )



def q_error_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error per-mille with a 2x-median data-derived breach
    flag — the SLO tile."""
    return profile.error_rate_daily(load_table(spark, sf_dir, "events"))


def q_segment_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-mix drift between halves at event-type grain — the
    between-type companion to PSI."""
    return profile.segment_mix_drift(load_table(spark, sf_dir, "events"))



def q_lineposition_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line value and quantity by order-entry position — the
    cross-sell placement signal."""
    return analytics.lineposition_value(load_table(spark, sf_dir, "lineitem"))


def q_lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language x source coverage matrix with within-source shares."""
    return text_ops.lang_source_matrix(load_table(spark, sf_dir, "documents"))



def q_dom_billing_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-month order index against its calendar occurrence share
    — the billing-cycle fingerprint."""
    return analytics.dom_billing_cycle(load_table(spark, sf_dir, "orders"))


def q_chars_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared n_chars vs measured text length, banded — the
    metadata-drift audit."""
    return setops.chars_integrity(load_table(spark, sf_dir, "documents"))



def q_token_p90_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count P50/P90 per labeled language — the context-window
    planning table."""
    return text_ops.token_p90_by_lang(load_table(spark, sf_dir, "documents"))


def q_weekend_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend vs weekday mean transaction value per type,
    cross-multiplied integer uplift."""
    return analytics.weekend_uplift(load_table(spark, sf_dir, "events"))



def q_supplier_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-supplier revenue share per nation — key-man risk next to
    HHI's whole-distribution scalar."""
    return analytics.supplier_dependency(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_hour_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day entropy per type in millibits — total clock
    concentration next to circadian R."""
    return analytics.hour_entropy(load_table(spark, sf_dir, "events"))


def q_brand_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retail-price CV per brand with span evidence — catalog pricing
    discipline."""
    return profile.brand_price_dispersion(load_table(spark, sf_dir, "part"))


def q_visit_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-user median inter-session gaps in hours —
    the return rhythm."""
    return behavior.visit_cadence(load_table(spark, sf_dir, "events"))



def q_priority_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value mean and median per priority class — urgency vs
    ticket size."""
    return analytics.priority_value_profile(
        load_table(spark, sf_dir, "orders")
    )


def q_burst_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max events in any trailing 5-minute window per user (RANGE frame
    over epoch micros) — the rate-limit-sizing number."""
    return behavior.burst_max(load_table(spark, sf_dir, "events"))


def q_crosscorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation click->purchase at lags 0..7 over the
    shared zero-filled spine; lead-lag asymmetry is the
    direction-of-influence signal."""
    return timeseries.crosscorr_daily(load_table(spark, sf_dir, "events"))


def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats per document ([.!?]+ split, trim,
    drop empties) — document-structure signal in pure codegen."""
    return text_ops.sentence_stats(load_table(spark, sf_dir, "documents"))


def q_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming distinct via OR-mergeable bitmap words —
    batching-invisible state, popcounted after the drain."""
    return streaming.stream_bitmap_distinct(spark, sf_dir)


def q_extract_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all digit runs (9-digit cap, engine-stable
    chunking) reduced per document in codegen — log-parsing tier."""
    return text_ops.extract_numbers(load_table(spark, sf_dir, "documents"))


def q_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment conversion uplift (CATE table): deterministic
    variant split, lift vs each segment's own control, exact bp."""
    return analytics.uplift_by_segment(load_table(spark, sf_dir, "events"))


def q_funnel_time_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-click to first-at-or-after-purchase latency quartiles,
    value-at-rank selection over converted users."""
    return behavior.funnel_time_quartiles(load_table(spark, sf_dir, "events"))


def q_json_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read resilience: a JSONL feed where every 7th line is
    deterministically truncated mid-record; the PERMISSIVE reader must
    quarantine exactly those lines into the corrupt-record column (the
    _corrupt_record rescue pattern) while parsing the rest. Emits good
    / corrupt counts plus checksums of the surviving payload — the
    oracle predicts all of it from the documents table, so a reader
    that silently drops or mis-parses rows goes hash-red."""
    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="spark_graft_corrupt_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    path = os.path.join(scratch, "feed")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    line = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('", "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    feed = docs.select(
        F.when(
            F.col("doc_id") % 7 == 0, F.substring(line, 1, 15)
        ).otherwise(line).alias("value")
    )
    feed.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "doc_id bigint, lang string, n_chars bigint, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("doc_id").alias("n_good"),
        F.count("_bad").alias("n_corrupt"),
        F.sum("doc_id").cast("long").alias("good_id_sum"),
        F.sum("n_chars").cast("long").alias("good_chars_sum"),
    )


def q_tz_local_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-correct daily grouping: UTC event times bucketed by
    their America/New_York LOCAL date (the ops-dashboard semantics a
    naive to_date(ts) silently gets wrong by up to 5 hours)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.to_date(F.from_utc_timestamp("ts", "America/New_York")).alias(
            "ny_date"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    ).select(
        F.col("ny_date").cast("string").alias("ny_date"),
        "n_events",
        "n_users",
    )


def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with quintile cut values from histogram rank
    selection (no global sort); value-comparison buckets so boundary
    ties are engine-stable."""
    return behavior.rfm_scores(load_table(spark, sf_dir, "events"))


def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total time covered per user by the UNION of 5-minute activity
    intervals — overlaps counted once via window-only island algebra."""
    return intervals.interval_union_length(load_table(spark, sf_dir, "events"))


def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford from customer 1 over the min-quantity-
    weighted co-purchase graph: min cost over paths of <= 3 edges;
    oracle replays by recursive path enumeration."""
    edges = graph.copurchase_weighted_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return graph.sssp_weighted(edges, source=2, rounds=3)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the part co-occurrence (market-basket)
    graph of every 4th order; degree-oriented wedge-join formulation,
    integer-exact. The subgraph keeps the bench-scale wedge count
    bounded — the operator itself is general."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 4 == 0
    )
    return graph.triangle_count(graph.copart_edges(li))


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k=3, 3 synchronous rounds) over the
    part co-occurrence graph of every 4th order."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 4 == 0
    )
    return graph.kcore_peel(graph.copart_edges(li))


def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.gap_fill_daily(trips)


def q_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.interpolate_daily(trips)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return behavior.cohort_retention(load_table(spark, sf_dir, "events"))


def q_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-user event-type paths (first 12 events by ts,
    event_id) — sequence reconstruction for behavioral modeling."""
    return behavior.user_paths(load_table(spark, sf_dir, "events"))


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return behavior.funnel_counts(load_table(spark, sf_dir, "events"))


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return behavior.markov_transitions(load_table(spark, sf_dir, "events"))


def q_station_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geo.station_neighbor_pairs(load_table(spark, sf_dir, "customer"))


def q_knn_mutual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.mutual_knn_pairs(load_table(spark, sf_dir, "embeddings"))


def q_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming native session_window drain (complete mode): same
    logical plan and result as the batch session_window query."""
    stream = streaming.stream_events(streaming.scoped_session(spark, 8), sf_dir)
    result = streaming.session_counts(stream)
    return streaming.run_available_now(result, "q_stream_session_counts", "complete")


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skew.key_skew_profile(load_table(spark, sf_dir, "lineitem"), "l_partkey")


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK audit with deterministically thinned parents (%13 / %11 keys
    dropped) so each relationship exhibits real orphans; the full
    customer->nation edge stays clean."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o_thin = orders.where(F.col("o_orderkey") % 13 != 0)
    c_thin = customer.where(F.col("c_custkey") % 11 != 0)
    return checks.referential_orphans(
        [
            ("lineitem->orders", lineitem, "l_orderkey", o_thin, "o_orderkey"),
            ("orders->customer", orders, "o_custkey", c_thin, "c_custkey"),
            ("customer->nation", customer, "c_nationkey", nation, "n_nationkey"),
        ]
    )


def q_null_safe_gender_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return setops.null_safe_gender_rollup(trips)


def q_stream_sliding_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding windows in streaming (complete-mode drain):
    every event lands in exactly two epoch-aligned 1h/30min windows."""
    stream = streaming.stream_events(streaming.scoped_session(spark, 8), sf_dir)
    result = streaming.sliding_avg(stream, window="1 hour", slide="30 minutes")
    return streaming.run_available_now(result, "q_stream_sliding_sum", "complete")


def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.trend_slope(trips)


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.sample_per_group(load_table(spark, sf_dir, "documents"))


def q_moving_average_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    trips, _, _ = _staged(spark, sf_dir)
    return timeseries.moving_average_range_frame(trips)


def q_feature_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.feature_deciles(load_table(spark, sf_dir, "orders"))


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic snapshots derived from orders (key ranges drop
    rows on each side; %7 keys get a 100-cent price bump in the new
    snapshot), reconciled by the generic diff operator."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    old_s = orders.where(F.col("o_orderkey") % 20 != 0).select(
        "o_orderkey", cents.alias("cents")
    )
    new_s = orders.where(F.col("o_orderkey") % 30 != 0).select(
        "o_orderkey",
        (
            cents
            + F.when(F.col("o_orderkey") % 7 == 0, 100).otherwise(0)
        ).alias("cents"),
    )
    return scd.snapshot_diff(old_s, new_s, "o_orderkey", ["cents"])


def q_token_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_colocation_lift(load_table(spark, sf_dir, "documents"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same MinHash components as dedup_clusters, keep-highest-n_chars
    policy (doc_id tie-break) instead of min-id survivor."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    return dedup.dedup_keep_best(docs, pairs)


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the stored first-half aggregate
    merged with the second-half batch must equal aggregating the whole
    table from scratch (which is what the oracle computes)."""
    ev = load_table(spark, sf_dir, "events")
    current = analytics.daily_type_counts(ev.where(F.dayofmonth("ts") <= 15))
    batch = ev.where(F.dayofmonth("ts") > 15)
    return analytics.merge_daily_counts(current, batch)


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.window_funcs(load_table(spark, sf_dir, "orders"))


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.approx_percentile_check(load_table(spark, sf_dir, "lineitem"))


def q_scd1_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-1 latest-wins merge on customer: keys %5==0 arrive with a new
    mktsegment, keys > max arrive brand new; history is overwritten."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    changed = cust.where(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", "c_name", F.lit("RELOADED").alias("c_mktsegment")
    )
    new = cust.where(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_name",
        "c_mktsegment",
    )
    return scd.scd1_upsert(cust, changed.unionByName(new), "c_custkey")


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static salting correctness through the oracle gate: lineitem's
    3-value returnflag is a maximally hot join key; the salted join
    scatters each key over 16 sub-partitions and must produce EXACTLY the
    plain-join aggregate (which the oracle computes directly)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_quantity"
    )
    labels = li.select("l_returnflag").distinct().withColumn(
        "flag_label", F.concat(F.lit("flag_"), F.col("l_returnflag"))
    )
    joined = skew.salted_join(li, labels, on="l_returnflag",
                              salt_from="l_orderkey", buckets=16)
    return joined.groupBy("flag_label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function vector hygiene: per-row array reductions
    (dims, L2 norm, normalized first component, clipped mean) — all
    codegen expressions, deterministic per-row float math."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = vectors.as_double(F.col("embedding"))
    norm = vectors.norm(v)
    mean = F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size(v)
    return emb.select(
        "vec_id",
        F.size(v).cast("bigint").alias("dims"),
        F.round(norm, 6).alias("l2_norm"),
        F.round(v.getItem(0) / norm, 6).alias("unit_first"),
        F.round(mean, 6).alias("mean_component"),
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection of the HLL operator the oracle CAN check: exact count
    matches DuckDB's COUNT(DISTINCT); approx_ok (5% error bound on the
    engine-specific sketch) must be uniformly TRUE."""
    return analytics.approx_distinct_users(
        load_table(spark, sf_dir, "events")
    ).select("day", "exact_users", "approx_ok")


def q_hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour HLL sketches unioned to day-level distincts (the
    mergeable-sketch incremental pattern); oracle checks the exact
    column and expects the 5%-bound flag uniformly TRUE."""
    return profile.hll_incremental_distinct(load_table(spark, sf_dir, "events"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.pack_sequences(load_table(spark, sf_dir, "documents"))


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample (bottom-50 of
    md5-uniform div n_chars) — bit-reproducible weighted sampling."""
    return corpus.sample_weighted(load_table(spark, sf_dir, "documents"))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: per-language keep rates (en=100, de=50, fr/es=25,
    zh=10), hash-deterministic membership."""
    return corpus.sample_stratified(
        load_table(spark, sf_dir, "documents"),
        {"en": 100, "de": 50, "fr": 25, "es": 25, "zh": 10},
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search.bm25_topk(
        load_table(spark, sf_dir, "documents"), ["data", "hash", "vector"], k=10
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (terms data/hash/vector) fused with the
    exact cosine neighbors of embedding 3 via integer-e6 reciprocal
    rank fusion."""
    return search.hybrid_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        ["data", "hash", "vector"],
        query_vec_id=3,
    )


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.train_test_split(load_table(spark, sf_dir, "documents"))


def q_sample_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.sample_by_hash(load_table(spark, sf_dir, "documents"))


def q_corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.vocabulary(load_table(spark, sf_dir, "documents"), top_k=50)


def q_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact bob@example.com via https://ex.com/x?q=1")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return corpus.scrub_text(dirty)


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.length_histogram(load_table(spark, sf_dir, "documents"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.chunk_documents(load_table(spark, sf_dir, "documents"))


def q_llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.llm_prep_pipeline(load_table(spark, sf_dir, "documents"))


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-decontamination audit: word-5-gram overlap of every test
    doc against the train split's distinct gram set, e4 share."""
    return corpus.contamination_check(load_table(spark, sf_dir, "documents"))


def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsampling domain mixture: 2.5/1.3/0/0.75 epochs for src0-3,
    1.0 elsewhere — deterministic copies via sequence+explode."""
    return corpus.mixture_epochs(load_table(spark, sf_dir, "documents"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screen: duplicate-word / duplicate-
    trigram / top-bigram shares in integer basis points."""
    return text_ops.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of: each error joined to its temporally CLOSEST
    purchase (per user), ties to the earlier side — one exchange, two
    in-partition sorts."""
    events = load_table(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("p_ts_us"),
        F.col("value").alias("p_value"),
    )
    joined = asof.asof_join(
        errors, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["p_ts_us", "p_value"], direction="nearest",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "asof_p_ts_us",
        "asof_p_value",
    )


def q_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc repeated-chunk detector (substring-level boilerplate)."""
    return corpus.boilerplate_chunks(load_table(spark, sf_dir, "documents"))


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization, floor-exact arithmetic."""
    return similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))


def q_user_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch applyInPandas (grouped map): per-user integer median
    inter-event gap via one numpy call per user."""
    return behavior.user_gap_median(load_table(spark, sf_dir, "events"))


def q_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user curve: first-seen reduction + day-grain
    cumulative window."""
    return behavior.cumulative_uniques(load_table(spark, sf_dir, "events"))


def q_incident_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed batch interval-overlap join: user-day activity
    windows x +/-15min high-severity error incidents."""
    return intervals.incident_exposure(load_table(spark, sf_dir, "events"))


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join (stateless enrichment): event stream
    keyed onto the batch nation dim, per-nation counts, complete-mode
    drain equals the batch rollup."""
    scoped = streaming.scoped_session(spark, 8)
    stream = streaming.stream_events(scoped, sf_dir)
    dim = load_table(scoped, sf_dir, "nation")
    result = streaming.static_enrich(stream, dim)
    return streaming.run_available_now(result, "q_stream_static_enrich", "complete")


def q_stream_append_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed counts: only watermark-closed windows emit
    (window.end <= max event time - 2h). All rows arrive in the single
    availableNow batch, so nothing is late-dropped and each emitted
    window carries its exact final count — deterministic, hash-checked
    against the batch cutoff mirror."""
    stream = streaming.stream_events(streaming.scoped_session(spark, 8), sf_dir)
    result = streaming.windowed_counts(stream, window="1 hour", watermark="2 hours")
    return streaming.run_available_now(result, "q_stream_append_counts", "append")


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming drain: tumbling-window counts via
    Trigger.AvailableNow + memory sink, complete output mode (equivalent
    to the batch tumbling aggregation, hence oracle-checkable)."""
    stream = streaming.stream_events(streaming.scoped_session(spark, 8), sf_dir)
    result = streaming.windowed_counts(stream, window="1 hour", watermark="2 hours")
    return streaming.run_available_now(result, "q_stream_window_counts", "complete")


def q_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed trending top-k: streaming tumbling counts drained
    complete-mode, then ranked per window with a total order — the
    "what's hot each hour" surface. Oracle mirrors hourly counts +
    rank."""
    from pyspark.sql import Window as W

    stream = streaming.stream_events(streaming.scoped_session(spark, 8), sf_dir)
    agg = streaming.trending_topk(stream, window="1 hour", watermark="2 hours")
    drained = streaming.run_available_now(agg, "q_stream_trending", "complete")
    w = W.partitionBy("window_start_us").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        drained.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 2)
    )


def q_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): per-user
    running totals drained with availableNow; the max update per user is
    the final state == the batch count (oracle-checkable)."""
    stream = streaming.stream_events(streaming.scoped_session(spark, 8), sf_dir)
    updates = stateful.user_running_totals(stream)
    drained = streaming.run_available_now(updates, "q_stream_user_totals", "update")
    return drained.groupBy("user_id").agg(
        F.max("total_events").alias("total_events")
    )


def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (dropDuplicatesWithinWatermark) drained via
    availableNow; emits the deduped key set (deterministic — which
    physical row survives is arrival-order dependent, the key set is not).
    """
    stream = streaming.stream_events(_scoped_eager(spark), sf_dir)
    deduped = streaming.dedup_stream(stream, keys=["user_id", "event_type"])
    drained = streaming.run_available_now(
        deduped.select("user_id", "event_type"), "q_stream_dedup_keys", "append"
    )
    return drained.distinct()


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each error event matched to the same
    user's purchases within the following hour. Watermarks on BOTH sides
    + a two-sided time bound keep join state evictable; inner join emits
    eagerly, so the availableNow drain equals the batch join the oracle
    runs."""
    scoped = _scoped_eager(spark)
    errors = streaming.stream_events(scoped, sf_dir).where(
        F.col("event_type") == "error"
    )
    purchases = streaming.stream_events(scoped, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = streaming.interval_join(errors, purchases, on="user_id")
    out = joined.select(
        "l_event_id",
        "r_event_id",
        F.unix_micros("l_ts").alias("l_ts_us"),
        F.unix_micros("r_ts").alias("r_ts_us"),
        "r_value",
    )
    return streaming.run_available_now(out, "q_stream_interval_join", "append")


def _scoped_eager(spark: SparkSession) -> SparkSession:
    """Drain session for EAGER-emission streaming plans (inner
    stream-stream joins, within-watermark dedup): the trailing no-data
    micro-batch only evicts state for these — emission already happened
    on arrival — so it is skipped (scoped_session docs; ~0.7-1.1 s of
    planning + state-store commits per drain, measured r16). NEVER use
    for append-mode window aggregates or outer joins, whose rows are
    emitted BY that batch."""
    return streaming.scoped_session(spark, 8, no_data_batches=False)


def _ivf_index(spark: SparkSession, sf_dir: str) -> "similarity.IVFIndex":
    """IVF index (k-means + inverted-list assignment) built inside the
    calling query; ``build_ivf_index`` registers it through
    ``caching.cached``, so it is released with every other operator
    cache."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.build_ivf_index(emb, k=8, iters=2)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search against an index built in this query, run in
    EXHAUSTIVE-probe configuration (nprobe == centroid count): every
    inverted list is scanned through the same routing/candidate plan as
    the pruned path, so the result is exactly brute-force top-k and the
    query carries a full DuckDB oracle — closing the one rows-only gap
    in the contract. The PRUNED path (nprobe=4) stays recall-bounded by
    ann_ivf_recall below."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_search(
        _ivf_index(spark, sf_dir), emb.where(F.col("vec_id") < 10), k=10, nprobe=8
    )


def _pq_index(spark: SparkSession, sf_dir: str, lossless: bool):
    """(codebooks, codes) built inside the calling query. The codebooks
    go through ``caching.cached``: ``pq_search`` consumes them twice
    (its ``max(m)`` probe and the ADC join), and on the lossy path
    ``pq_encode``'s probe and assignment add two more. The codes have
    one consumer, the ADC join, so they stay uncached. Lossless: every
    subvector is its own codeword; lossy: 32 codewords per subspace."""
    emb = load_table(spark, sf_dir, "embeddings")
    if lossless:
        cb, codes = similarity.build_pq_lossless(emb, m=4)
        return caching.cached(cb), codes
    cb = caching.cached(similarity.build_pq_codebooks(emb, m=4, k=32, iters=2))
    return cb, similarity.pq_encode(emb, cb)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search in the LOSSLESS configuration
    (every distinct subvector is its own codeword): ADC cosine equals
    exact cosine computed in the same subspace-decomposed float order,
    so the full top-k carries a DuckDB oracle — the same
    exhaustive-configuration trick as ann_ivf_topk. The lossy path is
    recall-bounded by ann_pq_recall."""
    cb, codes = _pq_index(spark, sf_dir, lossless=True)
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_search(emb.where(F.col("vec_id") < 5), codes, cb, k=10)


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy PQ (32 codewords per 16-dim subspace, 2 Lloyd iterations):
    MEAN recall of PQ top-10 inside brute-force top-50 must clear 0.3 —
    measured 0.45-0.65 across sf0.001/0.01/0.1 on the near-random
    synthetic embeddings (vs ~0.025 for random guessing, so a broken
    codebook/assignment goes red with ~18x margin). Aggregate rather
    than per-query because distance concentration makes individual
    queries noisy. Oracle expects one TRUE row."""
    cb, codes = _pq_index(spark, sf_dir, lossless=False)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    pq = similarity.pq_search(queries, codes, cb, k=10)
    bf50 = similarity.cosine_topk(emb, queries, k=50)
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    hits = pq.join(bf50, ["q_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    # 1-row stat attach (same pattern as the corpus-stats crossJoins)
    return nq.crossJoin(hits).select(
        "n_queries",
        (F.col("hits") >= 3 * F.col("n_queries")).alias("recall_ok"),
    )


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall asserted through the oracle gate: per-query hit count
    against the (independently oracle-verified) brute-force top-k, with
    recall_ok = recall >= 0.5. The oracle expects TRUE for every query id,
    so an IVF regression (bad centroids, broken routing) goes red even
    though k-means itself is not SQL-expressible. Observed per-query
    recall is 0.6-1.0 at sf0.001/0.01/0.1 (nprobe=4 of 8 lists)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    ivf = similarity.ivf_search(_ivf_index(spark, sf_dir), queries, k=10, nprobe=4)
    bf = similarity.cosine_topk(emb, queries, k=10)
    hits = (
        bf.join(ivf, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        queries.select(F.col("vec_id").alias("q_id"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            (F.coalesce(F.col("hits"), F.lit(0)) * 10 >= F.lit(5 * 10)).alias(
                "recall_ok"
            ),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_fact_trips(spark, SF_SMOKE)


def _driver_rounds() -> tuple[dict[str, int], set[str]]:
    """One pass over the CORRECTNESS_r*.json artifacts the driver writes
    next to this file; returns ``(green, reds)``:

    - ``green``: query -> latest round with a green driver-gate row. A
      row is green iff it errored nowhere and no recorded comparison
      (rows/schema/hash) failed — rows-only checks (hash_match null for
      non-SQL ops) count.
    - ``reds``: queries with a recorded driver FAIL (any non-green row)
      and no green row in the SAME or a LATER round — the worst
      bookkeeping state: an uncontradicted driver red (VERDICT r07
      item 1).

    Self-maintaining: each round's artifact automatically reorders the
    gate rotation in :func:`queries`. Unreadable or malformed artifacts
    and rows are skipped."""
    import glob
    import json
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    green: dict[str, int] = {}
    red: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            latest = green if ok else red
            latest[name] = max(latest.get(name, 0), rnd)
    return green, {n for n, r in red.items() if r > green.get(n, 0)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries whose LATEST driver row is a FAIL first (uncontradicted
    reds — re-certify these before anything else), then queries with NO
    driver row at all (new work), then the already-green rest ordered by
    how long ago their latest green row landed (least-recently-checked
    first). The driver's gate samples only the first 50 entries, so this
    ordering guarantees every query earns a fresh row within ceil(n/50)
    rounds and past reds never wait behind never-checked ones.

    fact_trips is no longer pinned to slot 0: it is exercised every
    round by entry() anyway, and with 8 green driver rows it would only
    displace a never-checked query from the 50-entry sample window.

    Within the never-checked tier, the ANN/KNN recall family sorts
    first: they are the only LLM-pipeline pillar queries without a
    driver row (VERDICT r08 item 5), so they must not be the ones that
    fall outside the 50-entry window when the pool exceeds it."""
    allq = _all_queries()
    green, reds = _driver_rounds()
    pillar = {
        "knn_blocked_pairs",
        "knn_blocked_recall",
        "knn_multiprobe_pairs",
        "knn_multiprobe_recall",
        "ann_pq_recall",
    }
    names = sorted(
        allq,
        key=lambda n: (
            n not in reds,
            green.get(n, 0),
            n not in pillar,
            list(allq).index(n),
        ),
    )
    return {n: allq[n] for n in names}


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "fact_trips": q_fact_trips,
        "dim_time": q_dim_time,
        "dim_user_agg": q_dim_user_agg,
        "dim_bike": q_dim_bike,
        "dim_covid": q_dim_covid,
        "dim_weather": q_dim_weather,
        "dim_station": q_dim_station,
        "lake_roundtrip": q_lake_roundtrip,
        "dq_counts": q_dq_counts,
        "pricing_summary": q_pricing_summary,
        "top_stations": q_top_stations,
        "rides_per_hour": q_rides_per_hour,
        "revenue_by_nation": q_revenue_by_nation,
        "event_type_pivot": q_event_type_pivot,
        "sessionize": q_sessionize,
        "sessionize_segmented": q_sessionize_segmented,
        "asof_purchase": q_asof_purchase,
        "asof_purchase_segmented": q_asof_purchase_segmented,
        "asof_forward": q_asof_forward,
        "range_price_match": q_range_price_match,
        "union_backfill": q_union_backfill,
        "anti_users": q_anti_users,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash_docs": q_dedup_simhash_docs,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding": q_dedup_embedding,
        "dedup_clusters": q_dedup_clusters,
        "semantic_dedup": q_semantic_dedup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "text_language_id": q_text_language_id,
        "text_quality": q_text_quality,
        "text_token_stats": q_text_token_stats,
        "text_fingerprint": q_text_fingerprint,
        "text_surprisal": q_text_surprisal,
        "multimodal_payload_stats": q_multimodal_payload_stats,
        "multimodal_decode_dims": q_multimodal_decode_dims,
        "multimodal_png_pixels": q_multimodal_png_pixels,
        "dedup_incremental": q_dedup_incremental,
        "stream_scd1_upsert": q_stream_scd1_upsert,
        "stream_txn_merge": q_stream_txn_merge,
        "stream_erase": q_stream_erase,
        "scd2_stations": q_scd2_stations,
        "session_window": q_session_window,
        "unpivot_event_counts": q_unpivot_event_counts,
        "stats_summary": q_stats_summary,
        "moving_average": q_moving_average,
        "json_props_rollup": q_json_props_rollup,
        "mad_anomalies": q_mad_anomalies,
        "profile_orders": q_profile_orders,
        "zorder_sample": q_zorder_sample,
        "dedup_levenshtein": q_dedup_levenshtein,
        "cdc_merge": q_cdc_merge,
        "lake_merge": q_lake_merge,
        "txn_point_lookup": q_txn_point_lookup,
        "txn_delete_vectors": q_txn_delete_vectors,
        "graph_pagerank": q_graph_pagerank,
        "graph_bfs": q_graph_bfs,
        "also_bought": q_also_bought,
        "fixed_width_roundtrip": q_fixed_width_roundtrip,
        "ann_pq_topk": q_ann_pq_topk,
        "orc_roundtrip": q_orc_roundtrip,
        "hll_incremental_distinct": q_hll_incremental_distinct,
        "variant_props_rollup": q_variant_props_rollup,
        "pysource_agg": q_pysource_agg,
        "hybrid_rrf": q_hybrid_rrf,
        "graph_triangles": q_graph_triangles,
        "user_paths": q_user_paths,
        "sample_weighted": q_sample_weighted,
        "observed_dq": q_observed_dq,
        "bitmap_distinct": q_bitmap_distinct,
        "countmin_freq": q_countmin_freq,
        "trimmed_mean": q_trimmed_mean,
        "image_features": q_image_features,
        "audio_frames": q_audio_frames,
        "rolling_median": q_rolling_median,
        "ols_two_factor": q_ols_two_factor,
        "autocorr_daily": q_autocorr_daily,
        "chisq_independence": q_chisq_independence,
        "embedding_covariance": q_embedding_covariance,
        "rollup_cascade": q_rollup_cascade,
        "record_linkage": q_record_linkage,
        "capped_running_sum": q_capped_running_sum,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "image_downsample": q_image_downsample,
        "assoc_rules": q_assoc_rules,
        "ivm_agg_delta": q_ivm_agg_delta,
        "entropy_profile": q_entropy_profile,
        "seasonal_residual_anomalies": q_seasonal_residual_anomalies,
        "bigram_surprisal": q_bigram_surprisal,
        "pysink_roundtrip": q_pysink_roundtrip,
        "ooo_audit": q_ooo_audit,
        "nested_order_items": q_nested_order_items,
        "k_anonymity": q_k_anonymity,
        "cogroup_reconcile": q_cogroup_reconcile,
        "points_in_zones": q_points_in_zones,
        "bitmap_overlap": q_bitmap_overlap,
        "null_safe_join": sqlsurface.null_safe_join,
        "sssp_weighted": q_sssp_weighted,
        "interval_union": q_interval_union,
        "rfm_scores": q_rfm_scores,
        "json_corrupt_audit": q_json_corrupt_audit,
        "tz_local_daily": q_tz_local_daily,
        "uplift_by_segment": q_uplift_by_segment,
        "funnel_time_quartiles": q_funnel_time_quartiles,
        "try_arithmetic": sqlsurface.try_arithmetic,
        "extract_numbers": q_extract_numbers,
        "stream_bitmap_distinct": q_stream_bitmap_distinct,
        "sentence_stats": q_sentence_stats,
        "crosscorr_daily": q_crosscorr_daily,
        "burst_max": q_burst_max,
        "prorate_order_total": q_prorate_order_total,
        "position_attribution": q_position_attribution,
        "bootstrap_ci": q_bootstrap_ci,
        "mann_kendall": q_mann_kendall,
        "weighted_median": q_weighted_median,
        "mutual_information": q_mutual_information,
        "l_diversity": q_l_diversity,
        "ltv_cohort": q_ltv_cohort,
        "bag_setops": q_bag_setops,
        "readability_lix": q_readability_lix,
        "new_vs_returning": q_new_vs_returning,
        "inactivity_profile": q_inactivity_profile,
        "label_propagation": q_label_propagation,
        "melt_event_counts": q_melt_event_counts,
        "zipf_slope": q_zipf_slope,
        "frequent_triples": q_frequent_triples,
        "feature_hash": q_feature_hash,
        "target_encode_loo": q_target_encode_loo,
        "pivot_native": q_pivot_native,
        "map_rollup": q_map_rollup,
        "langid_confusion": q_langid_confusion,
        "langid_kappa": q_langid_kappa,
        "spearman_daily": q_spearman_daily,
        "negative_samples": q_negative_samples,
        "quantile_normalize": q_quantile_normalize,
        "diff_in_diff": q_diff_in_diff,
        "date_dim": q_date_dim,
        "kaplan_meier": q_kaplan_meier,
        "pareto_8020": q_pareto_8020,
        "abc_classification": q_abc_classification,
        "price_index": q_price_index,
        "ppr_from_seed": q_ppr_from_seed,
        "decay_attribution": q_decay_attribution,
        "doc_keywords": q_doc_keywords,
        "days_of_supply": q_days_of_supply,
        "session_ordinal_conv": q_session_ordinal_conv,
        "segment_migration": q_segment_migration,
        "stickiness_ratio": q_stickiness_ratio,
        "mode_per_type": q_mode_per_type,
        "log_histogram": q_log_histogram,
        "edge_churn": q_edge_churn,
        "cv_slope_stability": q_cv_slope_stability,
        "isotonic_fit": q_isotonic_fit,
        "hapax_rate": q_hapax_rate,
        "term_burstiness": q_term_burstiness,
        "hits_scores": q_hits_scores,
        "rapid_reorders": q_rapid_reorders,
        "return_rate_by_discount": q_return_rate_by_discount,
        "basket_entropy": q_basket_entropy,
        "label_silhouette": q_label_silhouette,
        "median_of_means": q_median_of_means,
        "prop_ztest": q_prop_ztest,
        "neyman_allocation": q_neyman_allocation,
        "capture_recapture": q_capture_recapture,
        "unseen_mass": q_unseen_mass,
        "mix_rate_decomposition": q_mix_rate_decomposition,
        "repeat_purchase_curve": q_repeat_purchase_curve,
        "gmroi": q_gmroi,
        "lorenz_deciles": q_lorenz_deciles,
        "open_order_aging": q_open_order_aging,
        "style_profile": q_style_profile,
        "hhi_by_nation": q_hhi_by_nation,
        "stream_minmax": q_stream_minmax,
        "fano_factor": q_fano_factor,
        "srm_check": q_srm_check,
        "order_reconciliation": q_order_reconciliation,
        "linenumber_integrity": q_linenumber_integrity,
        "circadian_profile": q_circadian_profile,
        "markov_entropy_rate": q_markov_entropy_rate,
        "runs_test": q_runs_test,
        "durbin_watson": q_durbin_watson,
        "dow_eta_squared": q_dow_eta_squared,
        "centroid_matrix": q_centroid_matrix,
        "single_source_parts": q_single_source_parts,
        "degree_powerlaw": q_degree_powerlaw,
        "alsobought_hitrate": q_alsobought_hitrate,
        "transition_latency": q_transition_latency,
        "price_endings": q_price_endings,
        "coldstart_share": q_coldstart_share,
        "nation_assortment": q_nation_assortment,
        "bounce_rate": q_bounce_rate,
        "nation_rank_shift": q_nation_rank_shift,
        "quality_by_lang": q_quality_by_lang,
        "revenue_var": q_revenue_var,
        "brand_type_assoc": q_brand_type_assoc,
        "customer_momentum": q_customer_momentum,
        "group_by_all": q_group_by_all,
        "cost_spread": q_cost_spread,
        "retention_by_acq_dow": q_retention_by_acq_dow,
        "cross_source_dups": q_cross_source_dups,
        "weekly_intensity": q_weekly_intensity,
        "reorder_latency": q_reorder_latency,
        "quarterly_growth": q_quarterly_growth,
        "month_seasonality": q_month_seasonality,
        "yoy_monthly": q_yoy_monthly,
        "customer_lifespan": q_customer_lifespan,
        "activation_depth": q_activation_depth,
        "spend_consistency": q_spend_consistency,
        "discount_by_basket": q_discount_by_basket,
        "size_demand": q_size_demand,
        "open_share_by_year": q_open_share_by_year,
        "reorder_gap_by_cohort": q_reorder_gap_by_cohort,
        "error_rate_daily": q_error_rate_daily,
        "segment_mix_drift": q_segment_mix_drift,
        "lineposition_value": q_lineposition_value,
        "lang_source_matrix": q_lang_source_matrix,
        "dom_billing_cycle": q_dom_billing_cycle,
        "chars_integrity": q_chars_integrity,
        "token_p90_by_lang": q_token_p90_by_lang,
        "weekend_uplift": q_weekend_uplift,
        "supplier_dependency": q_supplier_dependency,
        "hour_entropy": q_hour_entropy,
        "brand_price_dispersion": q_brand_price_dispersion,
        "visit_cadence": q_visit_cadence,
        "priority_value_profile": q_priority_value_profile,
        "business_lead_time": q_business_lead_time,
        "ks_test": q_ks_test,
        "gini_spend": q_gini_spend,
        "cramers_v": q_cramers_v,
        "psi_value_drift": q_psi_value_drift,
        "path_trigrams": q_path_trigrams,
        "arrow_label_stats": q_arrow_label_stats,
        "sql_ddl_roundtrip": q_sql_ddl_roundtrip,
        "forecast_backtest": q_forecast_backtest,
        "rank_sum_test": q_rank_sum_test,
        "hll_overlap": q_hll_overlap,
        "winsorized_stats": q_winsorized_stats,
        "purchase_streaks": q_purchase_streaks,
        "txn_schema_evolution": q_txn_schema_evolution,
        "txn_cdf": q_txn_cdf,
        "pareto_frontier": q_pareto_frontier,
        "bpe_pairs": q_bpe_pairs,
        "tfidf_similar": q_tfidf_similar,
        "cusum_changepoints": q_cusum_changepoints,
        "multimodal_wav_stats": q_multimodal_wav_stats,
        "geo_hotspots": q_geo_hotspots,
        "stream_left_join": q_stream_left_join,
        "udtf_sliding_chunks": q_udtf_sliding_chunks,
        "stream_user_sessions": q_stream_user_sessions,
        "phrase_search": q_phrase_search,
        "corr_pairs": q_corr_pairs,
        "window_distinct": q_window_distinct,
        "feature_iqr": q_feature_iqr,
        "knn_classify": q_knn_classify,
        "ewma_daily": q_ewma_daily,
        "replica_diff": q_replica_diff,
        "gdpr_erase": q_gdpr_erase,
        "kcore_peel": q_kcore_peel,
        "mom_change": q_mom_change,
        "label_centroids": q_label_centroids,
        "tokenizer_drift": q_tokenizer_drift,
        "peak_concurrency": q_peak_concurrency,
        "near_dup_events": q_near_dup_events,
        "topk_with_ties": q_topk_with_ties,
        "ab_lift": q_ab_lift,
        "dow_seasonality": q_dow_seasonality,
        "stream_multibatch_totals": q_stream_multibatch_totals,
        "ivm_join": q_ivm_join,
        "mixture_deficit": q_mixture_deficit,
        "group_split": q_group_split,
        "source_divergence": q_source_divergence,
        "embedding_drift": q_embedding_drift,
        "stream_csv_counts": q_stream_csv_counts,
        "arrow_vector_stats": q_arrow_vector_stats,
        "cube_distinct": q_cube_distinct,
        "jaccard_prefix": q_jaccard_prefix,
        "stream_join_window": q_stream_join_window,
        "pystream_agg": q_pystream_agg,
        "cep_recovery": q_cep_recovery,
        "cep_click_conversion": q_cep_click_conversion,
        "last_touch": q_last_touch,
        "scd2_point_in_time": q_scd2_point_in_time,
        "multimodal_video_frames": q_multimodal_video_frames,
        "theil_sen": q_theil_sen,
        "benford_audit": q_benford_audit,
        "fd_violations": q_fd_violations,
        "debounce_events": q_debounce_events,
        "share_of_parent": q_share_of_parent,
        "stream_union_counts": q_stream_union_counts,
        "knn_blocked_pairs": q_knn_blocked_pairs,
        "knn_blocked_recall": q_knn_blocked_recall,
        "knn_multiprobe_pairs": q_knn_multiprobe_pairs,
        "knn_multiprobe_recall": q_knn_multiprobe_recall,
        "txn_history": q_txn_history,
        "ann_pq_recall": q_ann_pq_recall,
        "incremental_agg": q_incremental_agg,
        "window_funcs": q_window_funcs,
        "approx_percentile": q_approx_percentile,
        "scd1_customers": q_scd1_customers,
        "skew_salted_agg": q_skew_salted_agg,
        "vector_norms": q_vector_norms,
        "grouping_sets_orders": sqlsurface.grouping_sets_orders,
        "approx_distinct_users": q_approx_distinct_users,
        "train_test_split": q_train_test_split,
        "sample_by_hash": q_sample_by_hash,
        "sample_stratified": q_sample_stratified,
        "pack_sequences": q_pack_sequences,
        "bm25_topk": q_bm25_topk,
        "corpus_vocabulary": q_corpus_vocabulary,
        "scrub_text": q_scrub_text,
        "length_histogram": q_length_histogram,
        "chunk_documents": q_chunk_documents,
        "llm_prep_pipeline": q_llm_prep_pipeline,
        "stream_window_counts": q_stream_window_counts,
        "stream_trending": q_stream_trending,
        "stream_user_totals": q_stream_user_totals,
        "stream_dedup_keys": q_stream_dedup_keys,
        "stream_interval_join": q_stream_interval_join,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_recall": q_ann_ivf_recall,
        "rollup_revenue": sqlsurface.rollup_revenue,
        "cube_priority": sqlsurface.cube_priority,
        "intersect_users": sqlsurface.intersect_users,
        "except_parts": sqlsurface.except_parts,
        "exists_big_spenders": sqlsurface.exists_big_spenders,
        "above_average_orders": sqlsurface.above_average_orders,
        "cte_monthly_top_segment": sqlsurface.cte_monthly_top_segment,
        "tpch_shipping_priority": sqlsurface.tpch_shipping_priority,
        "gap_fill_daily": q_gap_fill_daily,
        "interpolate_daily": q_interpolate_daily,
        "cohort_retention": q_cohort_retention,
        "funnel_counts": q_funnel_counts,
        "markov_transitions": q_markov_transitions,
        "station_neighbors": q_station_neighbors,
        "knn_mutual_pairs": q_knn_mutual_pairs,
        "feature_deciles": q_feature_deciles,
        "snapshot_diff": q_snapshot_diff,
        "token_colocation": q_token_colocation,
        "dedup_keep_best": q_dedup_keep_best,
        "stream_session_counts": q_stream_session_counts,
        "key_skew_profile": q_key_skew_profile,
        "referential_orphans": q_referential_orphans,
        "null_safe_gender_rollup": q_null_safe_gender_rollup,
        "moving_average_range": q_moving_average_range,
        "stream_sliding_sum": q_stream_sliding_sum,
        "sample_per_group": q_sample_per_group,
        "trend_slope": q_trend_slope,
        "tpch_order_priority": sqlsurface.tpch_order_priority,
        "tpch_forecast_revenue": sqlsurface.tpch_forecast_revenue,
        "tpch_local_supplier_volume": sqlsurface.tpch_local_supplier_volume,
        "tpch_volume_shipping": sqlsurface.tpch_volume_shipping,
        "tpch_returned_items": sqlsurface.tpch_returned_items,
        "tpch_priority_shipping": sqlsurface.tpch_priority_shipping,
        "tpch_promo_effect": sqlsurface.tpch_promo_effect,
        "tpch_large_orders": sqlsurface.tpch_large_orders,
        "tpch_discounted_revenue": sqlsurface.tpch_discounted_revenue,
        "contamination_check": q_contamination_check,
        "mixture_epochs": q_mixture_epochs,
        "text_repetition": q_text_repetition,
        "tpch_market_share": sqlsurface.tpch_market_share,
        "tpch_customer_distribution": sqlsurface.tpch_customer_distribution,
        "tpch_min_cost_supplier": sqlsurface.tpch_min_cost_supplier,
        "tpch_important_stock": sqlsurface.tpch_important_stock,
        "tpch_supplier_relation": sqlsurface.tpch_supplier_relation,
        "tpch_promo_stock_suppliers": sqlsurface.tpch_promo_stock_suppliers,
        "tpch_waiting_suppliers": sqlsurface.tpch_waiting_suppliers,
        "tpch_product_profit": sqlsurface.tpch_product_profit,
        "tpch_top_supplier": sqlsurface.tpch_top_supplier,
        "tpch_small_quantity_revenue": sqlsurface.tpch_small_quantity_revenue,
        "tpch_inactive_customers": sqlsurface.tpch_inactive_customers,
        "cumulative_uniques": q_cumulative_uniques,
        "incident_exposure": q_incident_exposure,
        "stream_static_enrich": q_stream_static_enrich,
        "lateral_topk": sqlsurface.lateral_topk,
        "boilerplate_chunks": q_boilerplate_chunks,
        "quantize_int8": q_quantize_int8,
        "asof_nearest": q_asof_nearest,
        "user_gap_median": q_user_gap_median,
        "stream_append_counts": q_stream_append_counts,
        "not_in_null_semantics": sqlsurface.not_in_null_semantics,
        "recursive_hierarchy": sqlsurface.recursive_hierarchy,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "fact_trips": oracles.FACT_TRIPS,
        "dim_time": oracles.DIM_TIME,
        "dim_user_agg": oracles.DIM_USER_AGG,
        "dim_bike": oracles.DIM_BIKE,
        "dim_covid": oracles.DIM_COVID,
        "dim_weather": oracles.DIM_WEATHER,
        "dim_station": oracles.DIM_STATION,
        "lake_roundtrip": oracles.LAKE_ROUNDTRIP,
        "dq_counts": oracles.DQ_COUNTS,
        "pricing_summary": oracles.PRICING_SUMMARY,
        "top_stations": oracles.TOP_STATIONS,
        "rides_per_hour": oracles.RIDES_PER_HOUR,
        "revenue_by_nation": oracles.REVENUE_BY_NATION,
        "event_type_pivot": oracles.EVENT_TYPE_PIVOT,
        "sessionize": oracles.SESSIONIZE,
        "sessionize_segmented": oracles.SESSIONIZE,
        "asof_purchase": oracles.ASOF_PURCHASE,
        "asof_purchase_segmented": oracles.ASOF_PURCHASE,
        "asof_forward": oracles.ASOF_FORWARD,
        "range_price_match": oracles.RANGE_PRICE_MATCH,
        "union_backfill": oracles.UNION_BACKFILL,
        "anti_users": oracles.ANTI_USERS,
        "dedup_exact": oracles.DEDUP_EXACT,
        "dedup_minhash": oracles.DEDUP_MINHASH,
        "dedup_simhash_docs": oracles.DEDUP_SIMHASH_DOCS,
        "dedup_simhash_pairs": oracles.DEDUP_SIMHASH_PAIRS,
        "dedup_ngram_jaccard": oracles.DEDUP_NGRAM_JACCARD,
        "dedup_embedding": oracles.DEDUP_EMBEDDING,
        "dedup_clusters": oracles.DEDUP_CLUSTERS,
        "semantic_dedup": oracles.SEMANTIC_DEDUP,
        "ann_cosine_topk": oracles.ANN_COSINE_TOPK,
        "ann_lsh_topk": oracles.ANN_LSH_TOPK,
        "text_language_id": oracles.TEXT_LANGUAGE_ID,
        "text_quality": oracles.TEXT_QUALITY,
        "text_token_stats": oracles.TEXT_TOKEN_STATS,
        "text_fingerprint": oracles.TEXT_FINGERPRINT,
        "text_surprisal": oracles.TEXT_SURPRISAL,
        "multimodal_payload_stats": oracles.MULTIMODAL_PAYLOAD_STATS,
        "multimodal_decode_dims": oracles.MULTIMODAL_DECODE_DIMS,
        "multimodal_png_pixels": oracles.MULTIMODAL_PNG_PIXELS,
        "dedup_incremental": oracles.DEDUP_INCREMENTAL,
        "stream_scd1_upsert": oracles.STREAM_SCD1_UPSERT,
        "stream_txn_merge": oracles.STREAM_TXN_MERGE,
        "stream_erase": oracles.STREAM_ERASE,
        "scd2_stations": oracles.SCD2_STATIONS,
        "session_window": oracles.SESSION_WINDOW,
        "unpivot_event_counts": oracles.UNPIVOT_EVENT_COUNTS,
        "stats_summary": oracles.STATS_SUMMARY,
        "moving_average": oracles.MOVING_AVERAGE,
        "json_props_rollup": oracles.JSON_PROPS_ROLLUP,
        "mad_anomalies": oracles.MAD_ANOMALIES,
        "profile_orders": oracles.PROFILE_ORDERS,
        "zorder_sample": oracles.ZORDER_SAMPLE,
        "dedup_levenshtein": oracles.DEDUP_LEVENSHTEIN,
        "cdc_merge": oracles.CDC_MERGE,
        "lake_merge": oracles.LAKE_MERGE,
        "txn_point_lookup": oracles.TXN_POINT_LOOKUP,
        "txn_delete_vectors": oracles.TXN_DELETE_VECTORS,
        "graph_pagerank": oracles.GRAPH_PAGERANK,
        "graph_bfs": oracles.GRAPH_BFS_LEVELS,
        "also_bought": oracles.ALSO_BOUGHT,
        "fixed_width_roundtrip": oracles.FIXED_WIDTH_ROUNDTRIP,
        "ann_pq_topk": oracles.ANN_PQ_TOPK,
        "orc_roundtrip": oracles.ORC_ROUNDTRIP,
        "hll_incremental_distinct": oracles.HLL_INCREMENTAL_DISTINCT,
        "variant_props_rollup": oracles.VARIANT_PROPS_ROLLUP,
        "pysource_agg": oracles.PYSOURCE_AGG,
        "hybrid_rrf": oracles.HYBRID_RRF,
        "graph_triangles": oracles.GRAPH_TRIANGLES,
        "user_paths": oracles.USER_PATHS,
        "sample_weighted": oracles.SAMPLE_WEIGHTED,
        "observed_dq": oracles.OBSERVED_DQ,
        "bitmap_distinct": oracles.BITMAP_DISTINCT,
        "countmin_freq": oracles.COUNTMIN_FREQUENCIES,
        "trimmed_mean": oracles.TRIMMED_MEAN,
        "image_features": oracles.IMAGE_FEATURES,
        "audio_frames": oracles.AUDIO_FRAME_FEATURES,
        "rolling_median": oracles.ROLLING_MEDIAN_DAILY,
        "ols_two_factor": oracles.OLS_TWO_FACTOR,
        "autocorr_daily": oracles.AUTOCORR_DAILY,
        "chisq_independence": oracles.CHISQ_INDEPENDENCE,
        "embedding_covariance": oracles.EMBEDDING_COVARIANCE,
        "rollup_cascade": oracles.ROLLUP_CASCADE,
        "record_linkage": oracles.RECORD_LINKAGE,
        "capped_running_sum": oracles.CAPPED_RUNNING_SUM,
        "jsonl_roundtrip": oracles.JSONL_ROUNDTRIP,
        "image_downsample": oracles.IMAGE_DOWNSAMPLE,
        "assoc_rules": oracles.ASSOC_RULES,
        "ivm_agg_delta": oracles.IVM_AGG_DELTA,
        "recursive_hierarchy": oracles.RECURSIVE_HIERARCHY,
        "entropy_profile": oracles.ENTROPY_PROFILE,
        "seasonal_residual_anomalies": oracles.SEASONAL_RESIDUAL_ANOMALIES,
        "bigram_surprisal": oracles.BIGRAM_SURPRISAL,
        "pysink_roundtrip": oracles.PYSINK_ROUNDTRIP,
        "ooo_audit": oracles.OOO_AUDIT,
        "nested_order_items": oracles.NESTED_ORDER_ITEMS,
        "k_anonymity": oracles.K_ANONYMITY,
        "cogroup_reconcile": oracles.COGROUP_RECONCILE,
        "points_in_zones": oracles.POINTS_IN_ZONES,
        "bitmap_overlap": oracles.BITMAP_OVERLAP,
        "null_safe_join": oracles.NULL_SAFE_JOIN,
        "sssp_weighted": oracles.SSSP_WEIGHTED,
        "interval_union": oracles.INTERVAL_UNION_LENGTH,
        "rfm_scores": oracles.RFM_SCORES,
        "json_corrupt_audit": oracles.JSON_CORRUPT_AUDIT,
        "tz_local_daily": oracles.TZ_LOCAL_DAILY,
        "uplift_by_segment": oracles.UPLIFT_BY_SEGMENT,
        "funnel_time_quartiles": oracles.FUNNEL_TIME_QUARTILES,
        "try_arithmetic": oracles.TRY_ARITHMETIC,
        "extract_numbers": oracles.EXTRACT_NUMBERS,
        "stream_bitmap_distinct": oracles.STREAM_BITMAP_DISTINCT,
        "sentence_stats": oracles.SENTENCE_STATS,
        "crosscorr_daily": oracles.CROSSCORR_DAILY,
        "burst_max": oracles.BURST_MAX,
        "prorate_order_total": oracles.PRORATE_ORDER_TOTAL,
        "position_attribution": oracles.POSITION_ATTRIBUTION,
        "bootstrap_ci": oracles.BOOTSTRAP_MEAN_CI,
        "mann_kendall": oracles.MANN_KENDALL,
        "weighted_median": oracles.WEIGHTED_MEDIAN_PRICE,
        "mutual_information": oracles.MUTUAL_INFORMATION,
        "l_diversity": oracles.L_DIVERSITY,
        "ltv_cohort": oracles.LTV_COHORT,
        "bag_setops": oracles.BAG_SETOPS,
        "readability_lix": oracles.READABILITY_LIX,
        "new_vs_returning": oracles.NEW_VS_RETURNING,
        "inactivity_profile": oracles.INACTIVITY_PROFILE,
        "label_propagation": oracles.LABEL_PROPAGATION,
        "melt_event_counts": oracles.MELT_EVENT_COUNTS,
        "zipf_slope": oracles.ZIPF_SLOPE,
        "frequent_triples": oracles.FREQUENT_TRIPLES,
        "feature_hash": oracles.FEATURE_HASH_ENCODE,
        "target_encode_loo": oracles.TARGET_ENCODE_LOO,
        "pivot_native": oracles.PIVOT_NATIVE,
        "map_rollup": oracles.MAP_ROLLUP,
        "langid_confusion": oracles.LANGID_CONFUSION,
        "langid_kappa": oracles.LANGID_KAPPA,
        "spearman_daily": oracles.SPEARMAN_DAILY,
        "negative_samples": oracles.NEGATIVE_SAMPLES,
        "quantile_normalize": oracles.QUANTILE_NORMALIZE,
        "diff_in_diff": oracles.DIFF_IN_DIFF,
        "date_dim": oracles.DATE_DIM,
        "kaplan_meier": oracles.KAPLAN_MEIER,
        "pareto_8020": oracles.PARETO_8020,
        "abc_classification": oracles.ABC_CLASSIFICATION,
        "price_index": oracles.PRICE_INDEX_LASPEYRES,
        "ppr_from_seed": oracles.PPR_FROM_SEED,
        "decay_attribution": oracles.DECAY_ATTRIBUTION,
        "doc_keywords": oracles.DOC_KEYWORDS,
        "days_of_supply": oracles.DAYS_OF_SUPPLY,
        "session_ordinal_conv": oracles.CONVERSION_BY_SESSION_ORDINAL,
        "segment_migration": oracles.SEGMENT_MIGRATION,
        "stickiness_ratio": oracles.STICKINESS_RATIO,
        "mode_per_type": oracles.MODE_PER_TYPE,
        "log_histogram": oracles.LOG_HISTOGRAM,
        "edge_churn": oracles.EDGE_CHURN,
        "cv_slope_stability": oracles.CV_SLOPE_STABILITY,
        "isotonic_fit": oracles.ISOTONIC_DAILY_FIT,
        "hapax_rate": oracles.HAPAX_RATE,
        "term_burstiness": oracles.TERM_BURSTINESS,
        "hits_scores": oracles.HITS_SCORES,
        "rapid_reorders": oracles.RAPID_REORDERS,
        "return_rate_by_discount": oracles.RETURN_RATE_BY_DISCOUNT,
        "basket_entropy": oracles.BASKET_ENTROPY,
        "label_silhouette": oracles.LABEL_SILHOUETTE,
        "median_of_means": oracles.MEDIAN_OF_MEANS,
        "prop_ztest": oracles.PROP_ZTEST,
        "neyman_allocation": oracles.NEYMAN_ALLOCATION,
        "capture_recapture": oracles.CAPTURE_RECAPTURE,
        "unseen_mass": oracles.UNSEEN_MASS,
        "mix_rate_decomposition": oracles.MIX_RATE_DECOMPOSITION,
        "repeat_purchase_curve": oracles.REPEAT_PURCHASE_CURVE,
        "gmroi": oracles.GMROI,
        "lorenz_deciles": oracles.LORENZ_DECILES,
        "open_order_aging": oracles.OPEN_ORDER_AGING,
        "style_profile": oracles.STYLE_PROFILE,
        "hhi_by_nation": oracles.HHI_BY_NATION,
        "stream_minmax": oracles.STREAM_MINMAX,
        "fano_factor": oracles.FANO_FACTOR,
        "srm_check": oracles.SRM_CHECK,
        "order_reconciliation": oracles.ORDER_TOTAL_RECONCILIATION,
        "linenumber_integrity": oracles.LINENUMBER_INTEGRITY,
        "circadian_profile": oracles.CIRCADIAN_PROFILE,
        "markov_entropy_rate": oracles.MARKOV_ENTROPY_RATE,
        "runs_test": oracles.RUNS_TEST,
        "durbin_watson": oracles.DURBIN_WATSON,
        "dow_eta_squared": oracles.DOW_ETA_SQUARED,
        "centroid_matrix": oracles.CENTROID_MATRIX,
        "single_source_parts": oracles.SINGLE_SOURCE_PARTS,
        "degree_powerlaw": oracles.DEGREE_POWERLAW,
        "alsobought_hitrate": oracles.ALSOBOUGHT_HITRATE,
        "transition_latency": oracles.TRANSITION_LATENCY,
        "price_endings": oracles.PRICE_ENDINGS,
        "coldstart_share": oracles.COLDSTART_SHARE,
        "nation_assortment": oracles.NATION_ASSORTMENT_OVERLAP,
        "bounce_rate": oracles.BOUNCE_RATE,
        "nation_rank_shift": oracles.NATION_RANK_SHIFT,
        "quality_by_lang": oracles.QUALITY_BY_LANG,
        "revenue_var": oracles.REVENUE_VAR,
        "brand_type_assoc": oracles.BRAND_TYPE_ASSOCIATION,
        "customer_momentum": oracles.CUSTOMER_MOMENTUM,
        "group_by_all": oracles.GROUP_BY_ALL_SURFACE,
        "cost_spread": oracles.COST_SPREAD,
        "retention_by_acq_dow": oracles.RETENTION_BY_ACQ_DOW,
        "cross_source_dups": oracles.CROSS_SOURCE_DUPS,
        "weekly_intensity": oracles.WEEKLY_INTENSITY,
        "reorder_latency": oracles.REORDER_LATENCY,
        "quarterly_growth": oracles.QUARTERLY_GROWTH,
        "month_seasonality": oracles.MONTH_SEASONALITY,
        "yoy_monthly": oracles.YOY_MONTHLY_GROWTH,
        "customer_lifespan": oracles.CUSTOMER_LIFESPAN,
        "activation_depth": oracles.ACTIVATION_DEPTH,
        "spend_consistency": oracles.SPEND_CONSISTENCY,
        "discount_by_basket": oracles.DISCOUNT_BY_BASKET_SIZE,
        "size_demand": oracles.SIZE_DEMAND,
        "open_share_by_year": oracles.OPEN_SHARE_BY_YEAR,
        "reorder_gap_by_cohort": oracles.REORDER_GAP_BY_COHORT,
        "error_rate_daily": oracles.ERROR_RATE_DAILY,
        "segment_mix_drift": oracles.SEGMENT_MIX_DRIFT,
        "lineposition_value": oracles.LINEPOSITION_VALUE,
        "lang_source_matrix": oracles.LANG_SOURCE_MATRIX,
        "dom_billing_cycle": oracles.DOM_BILLING_CYCLE,
        "chars_integrity": oracles.CHARS_INTEGRITY,
        "token_p90_by_lang": oracles.TOKEN_P90_BY_LANG,
        "weekend_uplift": oracles.WEEKEND_UPLIFT,
        "supplier_dependency": oracles.SUPPLIER_DEPENDENCY,
        "hour_entropy": oracles.HOUR_ENTROPY,
        "brand_price_dispersion": oracles.BRAND_PRICE_DISPERSION,
        "visit_cadence": oracles.VISIT_CADENCE,
        "priority_value_profile": oracles.PRIORITY_VALUE_PROFILE,
        "business_lead_time": oracles.BUSINESS_LEAD_TIME,
        "ks_test": oracles.KS_TEST,
        "gini_spend": oracles.GINI_SPEND,
        "cramers_v": oracles.CRAMERS_V,
        "psi_value_drift": oracles.PSI_VALUE_DRIFT,
        "path_trigrams": oracles.PATH_TRIGRAMS,
        "arrow_label_stats": oracles.ARROW_LABEL_STATS,
        "sql_ddl_roundtrip": oracles.SQL_DDL_ROUNDTRIP,
        "forecast_backtest": oracles.FORECAST_BACKTEST,
        "rank_sum_test": oracles.RANK_SUM_TEST,
        "hll_overlap": oracles.HLL_OVERLAP,
        "winsorized_stats": oracles.WINSORIZED_STATS,
        "purchase_streaks": oracles.PURCHASE_STREAKS,
        "txn_schema_evolution": oracles.TXN_SCHEMA_EVOLUTION,
        "txn_cdf": oracles.TXN_CDF,
        "pareto_frontier": oracles.PARETO_FRONTIER,
        "bpe_pairs": oracles.BPE_PAIRS,
        "tfidf_similar": oracles.TFIDF_SIMILAR,
        "cusum_changepoints": oracles.CUSUM_CHANGEPOINTS,
        "multimodal_wav_stats": oracles.MULTIMODAL_WAV_STATS,
        "geo_hotspots": oracles.GEO_HOTSPOTS,
        "stream_left_join": oracles.STREAM_LEFT_JOIN,
        "udtf_sliding_chunks": oracles.UDTF_SLIDING_CHUNKS,
        "stream_user_sessions": oracles.STREAM_USER_SESSIONS,
        "phrase_search": oracles.PHRASE_SEARCH,
        "corr_pairs": oracles.CORR_PAIRS,
        "window_distinct": oracles.WINDOW_DISTINCT,
        "feature_iqr": oracles.FEATURE_IQR,
        "knn_classify": oracles.KNN_CLASSIFY,
        "ewma_daily": oracles.EWMA_DAILY,
        "replica_diff": oracles.REPLICA_DIFF,
        "gdpr_erase": oracles.GDPR_ERASE,
        "kcore_peel": oracles.KCORE_PEEL,
        "mom_change": oracles.MOM_CHANGE,
        "label_centroids": oracles.LABEL_CENTROIDS,
        "tokenizer_drift": oracles.TOKENIZER_DRIFT,
        "peak_concurrency": oracles.PEAK_CONCURRENCY,
        "near_dup_events": oracles.NEAR_DUP_EVENTS,
        "topk_with_ties": oracles.TOPK_WITH_TIES,
        "ab_lift": oracles.AB_LIFT,
        "dow_seasonality": oracles.DOW_SEASONALITY,
        "stream_multibatch_totals": oracles.STREAM_USER_TOTALS,
        "ivm_join": oracles.IVM_JOIN,
        "mixture_deficit": oracles.MIXTURE_DEFICIT,
        "group_split": oracles.GROUP_SPLIT,
        "source_divergence": oracles.SOURCE_DIVERGENCE,
        "embedding_drift": oracles.EMBEDDING_DRIFT,
        "stream_csv_counts": oracles.STREAM_CSV_COUNTS,
        "arrow_vector_stats": oracles.ARROW_VECTOR_STATS,
        "cube_distinct": oracles.CUBE_DISTINCT,
        "jaccard_prefix": oracles.JACCARD_PREFIX,
        "stream_join_window": oracles.STREAM_JOIN_WINDOW,
        "pystream_agg": oracles.PYSTREAM_AGG,
        "cep_recovery": oracles.CEP_RECOVERY,
        "cep_click_conversion": oracles.CEP_CLICK_CONVERSION,
        "last_touch": oracles.LAST_TOUCH_ATTRIBUTION,
        "scd2_point_in_time": oracles.SCD2_POINT_IN_TIME,
        "multimodal_video_frames": oracles.MULTIMODAL_VIDEO_FRAMES,
        "theil_sen": oracles.THEIL_SEN,
        "benford_audit": oracles.BENFORD_AUDIT,
        "fd_violations": oracles.FD_VIOLATIONS,
        "debounce_events": oracles.DEBOUNCE_EVENTS,
        "share_of_parent": oracles.SHARE_OF_PARENT,
        "stream_union_counts": oracles.STREAM_UNION_COUNTS,
        "knn_blocked_pairs": oracles.KNN_BLOCKED_PAIRS,
        "knn_blocked_recall": oracles.KNN_BLOCKED_RECALL,
        "knn_multiprobe_pairs": oracles.KNN_MULTIPROBE_PAIRS,
        "knn_multiprobe_recall": oracles.KNN_MULTIPROBE_RECALL,
        "txn_history": oracles.TXN_HISTORY,
        "ann_pq_recall": oracles.ANN_PQ_RECALL,
        "incremental_agg": oracles.INCREMENTAL_AGG,
        "window_funcs": oracles.WINDOW_FUNCS,
        "approx_percentile": oracles.APPROX_PERCENTILE,
        "scd1_customers": oracles.SCD1_CUSTOMERS,
        "skew_salted_agg": oracles.SKEW_SALTED_AGG,
        "vector_norms": oracles.VECTOR_NORMS,
        "grouping_sets_orders": oracles.GROUPING_SETS_ORDERS,
        "approx_distinct_users": oracles.APPROX_DISTINCT_USERS,
        "train_test_split": oracles.TRAIN_TEST_SPLIT,
        "sample_by_hash": oracles.SAMPLE_BY_HASH,
        "sample_stratified": oracles.CORPUS_SAMPLE_STRATIFIED,
        "pack_sequences": oracles.CORPUS_PACK_SEQUENCES,
        "bm25_topk": oracles.BM25_TOPK,
        "corpus_vocabulary": oracles.CORPUS_VOCABULARY,
        "scrub_text": oracles.SCRUB_TEXT,
        "length_histogram": oracles.LENGTH_HISTOGRAM,
        "chunk_documents": oracles.CHUNK_DOCUMENTS,
        "llm_prep_pipeline": oracles.LLM_PREP_PIPELINE,
        "stream_window_counts": oracles.STREAM_WINDOW_COUNTS,
        "stream_trending": oracles.STREAM_TRENDING_TOPK,
        "stream_user_totals": oracles.STREAM_USER_TOTALS,
        "stream_dedup_keys": oracles.STREAM_DEDUP_KEYS,
        "stream_interval_join": oracles.STREAM_INTERVAL_JOIN,
        # ann_ivf_topk runs the IVF plan in exhaustive-probe configuration
        # (nprobe == centroid count), so its result is exactly brute-force
        # top-k — fully oracle-checkable; the pruned nprobe=4 path is
        # recall-bounded by ann_ivf_recall
        "ann_ivf_topk": oracles.ANN_IVF_TOPK,
        "ann_ivf_recall": oracles.ANN_IVF_RECALL,
        "rollup_revenue": oracles.ROLLUP_REVENUE,
        "cube_priority": oracles.CUBE_PRIORITY,
        "intersect_users": oracles.INTERSECT_USERS,
        "except_parts": oracles.EXCEPT_PARTS,
        "exists_big_spenders": oracles.EXISTS_BIG_SPENDERS,
        "above_average_orders": oracles.ABOVE_AVERAGE_ORDERS,
        "cte_monthly_top_segment": oracles.CTE_MONTHLY_TOP_SEGMENT,
        "tpch_shipping_priority": oracles.TPCH_SHIPPING_PRIORITY,
        "gap_fill_daily": oracles.GAP_FILL_DAILY,
        "interpolate_daily": oracles.INTERPOLATE_DAILY,
        "cohort_retention": oracles.COHORT_RETENTION,
        "funnel_counts": oracles.FUNNEL_COUNTS,
        "markov_transitions": oracles.MARKOV_TRANSITIONS,
        "station_neighbors": oracles.STATION_NEIGHBORS,
        "knn_mutual_pairs": oracles.KNN_MUTUAL_PAIRS,
        "feature_deciles": oracles.FEATURE_DECILES,
        "snapshot_diff": oracles.SNAPSHOT_DIFF,
        "token_colocation": oracles.TOKEN_COLOCATION,
        "dedup_keep_best": oracles.DEDUP_KEEP_BEST,
        "stream_session_counts": oracles.STREAM_SESSION_COUNTS,
        "key_skew_profile": oracles.KEY_SKEW_PROFILE,
        "referential_orphans": oracles.REFERENTIAL_ORPHANS,
        "null_safe_gender_rollup": oracles.NULL_SAFE_GENDER_ROLLUP,
        "moving_average_range": oracles.MOVING_AVERAGE_RANGE,
        "stream_sliding_sum": oracles.STREAM_SLIDING_SUM,
        "sample_per_group": oracles.SAMPLE_PER_GROUP,
        "trend_slope": oracles.TREND_SLOPE,
        "tpch_order_priority": oracles.TPCH_ORDER_PRIORITY,
        "tpch_forecast_revenue": oracles.TPCH_FORECAST_REVENUE,
        "tpch_local_supplier_volume": oracles.TPCH_LOCAL_SUPPLIER_VOLUME,
        "tpch_volume_shipping": oracles.TPCH_VOLUME_SHIPPING,
        "tpch_returned_items": oracles.TPCH_RETURNED_ITEMS,
        "tpch_priority_shipping": oracles.TPCH_PRIORITY_SHIPPING,
        "tpch_promo_effect": oracles.TPCH_PROMO_EFFECT,
        "tpch_large_orders": oracles.TPCH_LARGE_ORDERS,
        "tpch_discounted_revenue": oracles.TPCH_DISCOUNTED_REVENUE,
        "contamination_check": oracles.CONTAMINATION_CHECK,
        "mixture_epochs": oracles.MIXTURE_EPOCHS,
        "text_repetition": oracles.TEXT_REPETITION,
        "tpch_market_share": oracles.TPCH_MARKET_SHARE,
        "tpch_customer_distribution": oracles.TPCH_CUSTOMER_DISTRIBUTION,
        "tpch_min_cost_supplier": oracles.TPCH_MIN_COST_SUPPLIER,
        "tpch_important_stock": oracles.TPCH_IMPORTANT_STOCK,
        "tpch_supplier_relation": oracles.TPCH_SUPPLIER_RELATION,
        "tpch_promo_stock_suppliers": oracles.TPCH_PROMO_STOCK_SUPPLIERS,
        "tpch_waiting_suppliers": oracles.TPCH_WAITING_SUPPLIERS,
        "tpch_product_profit": oracles.TPCH_PRODUCT_PROFIT,
        "tpch_top_supplier": oracles.TPCH_TOP_SUPPLIER,
        "tpch_small_quantity_revenue": oracles.TPCH_SMALL_QUANTITY_REVENUE,
        "tpch_inactive_customers": oracles.TPCH_INACTIVE_CUSTOMERS,
        "cumulative_uniques": oracles.CUMULATIVE_UNIQUES,
        "incident_exposure": oracles.INCIDENT_EXPOSURE,
        "stream_static_enrich": oracles.STREAM_STATIC_ENRICH,
        "lateral_topk": oracles.LATERAL_TOPK,
        "boilerplate_chunks": oracles.BOILERPLATE_CHUNKS,
        "quantize_int8": oracles.QUANTIZE_INT8,
        "asof_nearest": oracles.ASOF_NEAREST,
        "user_gap_median": oracles.USER_GAP_MEDIAN,
        "stream_append_counts": oracles.STREAM_APPEND_COUNTS,
        "not_in_null_semantics": oracles.NOT_IN_NULL_SEMANTICS,
    }
