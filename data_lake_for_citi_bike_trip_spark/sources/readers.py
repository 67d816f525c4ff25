"""Staging readers (SURVEY.md §2.1 S1-S7).

The reference reads gzipped CSV with ``header=True`` and no schema
(spark_elt_emr.py:30-59) and normalizes headers driver-side with
``df.toDF(*renamed)`` (:33-34, :56-57). We keep the rename normalizers but
take explicit schemas so the scan prunes columns and pushes filters — on a
1000-executor cluster an inferSchema pass is a wasted full read of the
input, and all-string columns block predicate pushdown entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def normalize_headers(df: DataFrame, *, lowercase: bool = False) -> DataFrame:
    """Spaces->underscores (and optionally lowercase) on all column names.

    Mirrors the reference's header fixes for the trips feed ("birth year"
    -> "birth_year", spark_elt_emr.py:33-34) and the covid feed (uppercase
    -> lowercase, :56-57), as a reusable normalizer.
    """
    renamed = [
        (c.replace(" ", "_").lower() if lowercase else c.replace(" ", "_"))
        for c in df.columns
    ]
    return df.toDF(*renamed)


def read_staging_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    *,
    lowercase: bool = False,
) -> DataFrame:
    """CSV scan (gzip transparent, glob ok) with header + normalization.

    With ``schema=None`` this reproduces the reference's all-string
    behavior (legacy string mode, SURVEY.md §1.3); with a schema, Spark
    skips inference and the scan is single-pass.

    Note: the schema applies *positionally* when the file's headers differ
    from the schema names only by normalization, so we read raw first and
    rename, then cast if a typed schema was requested.
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        # Names in our schemas are post-normalization; read all-string then
        # cast, so header quirks ("birth year") don't break resolution.
        raw = reader.csv(path)
        raw = normalize_headers(raw, lowercase=lowercase)
        # Schema fields absent from the file become typed NULL columns so
        # the declared contract schema is ALWAYS honored — a misspelled or
        # missing header yields visible NULLs downstream, never a silently
        # narrower frame.
        from pyspark.sql import functions as F

        cols = []
        for field in schema.fields:
            if field.name in raw.columns:
                cols.append(raw[field.name].cast(field.dataType).alias(field.name))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        return raw.select(*cols)
    return normalize_headers(reader.csv(path), lowercase=lowercase)


def read_staging_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON scan (spark_elt_emr.py:39-41) with an explicit schema so the
    inference pass is skipped."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
) -> DataFrame:
    """Fixed-width text scan — the mainframe-export format the staging
    layer of a lake still meets: ``colspecs`` is (name, start_1based,
    width, spark_type) per field; each field is a substring slice of
    the line, trimmed, then cast. The slicing/casting is pure codegen
    over a ``spark.read.text`` scan (one column in, N out — column
    pruning applies to the OUTPUT projection, and the text scan itself
    is splittable by line like any CSV). Whitespace-trimmed empty
    fields become NULL via the cast, matching CSV null semantics."""
    from pyspark.sql import functions as F

    df = spark.read.text(path)
    return df.select(
        *[
            F.nullif(F.trim(F.substring("value", start, width)), F.lit(""))
            .cast(dtype)
            .alias(name)
            for name, start, width, dtype in colspecs
        ]
    )
