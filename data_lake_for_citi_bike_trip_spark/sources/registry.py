"""Testdata table registry.

Loads the driver's synthetic parquet tables (TESTDATA.md) and registers
them as temp views, normalizing the one storage quirk: ``events.ts`` is
parquet TIMESTAMP(NANOS), which Spark 4 only reads as int64 nanos under
``spark.sql.legacy.parquet.nanosAsLong`` — we convert to a proper
TimestampType with exact integer arithmetic (``div``, not float division:
epoch-nanos overflow double's 53-bit mantissa).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import on_release
from ..session import configure_runtime

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (id(session), sf_dir, name) -> (session, DataFrame). Plan-handle memo,
#: NOT a result cache: the DataFrame is an immutable lazy plan and every
#: action still computes from the parquet files. What it saves is
#: spark.read.parquet's per-call schema-inference pass (~90 ms of footer
#: job + listing per call, measured r15 — x ~550 load_table calls per
#: bench board). The stored session reference is compared by IDENTITY on
#: hit, so a recycled id() can never return another session's plan;
#: testdata files are immutable for the life of a session. Consumer:
#: cross-query reuse on the cold board pass (``bench.py``) and in
#: perfbench's ``queries`` pass (one session, data caches dropped
#: between queries) — measured at sf0.01 over all 384 contract
#: queries: 454 hits, 13 misses. Cleared by caching.release_caches.
_DF_MEMO: dict = {}
on_release(_DF_MEMO.clear)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_runtime(spark)
    key = (id(spark), sf_dir, name)
    hit = _DF_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _DF_MEMO[key] = (spark, df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """createOrReplaceTempView per table (SURVEY.md §2.1 S7)."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
