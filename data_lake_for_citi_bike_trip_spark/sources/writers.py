"""Partitioned parquet sink matrix (SURVEY.md §2.1 S8-S10).

The reference writes the fact and time dims ``mode="append"`` partitioned
by (year, month) and the user dim ``mode="overwrite"`` partitioned by
(usertype, birth_year); remaining dims are unpartitioned overwrites
(spark_elt_emr.py:82-185). ``mode="append"`` on a monthly pipeline with
retries duplicates partitions (SURVEY.md §2.12 #4) — the scale-safe
equivalent is *dynamic partition overwrite*: rewrite exactly the
partitions present in this batch, leave the rest untouched, rerunnable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet with the engine's layout rules.

    mode:
      - "overwrite"            — full snapshot refresh (dims).
      - "append"               — blind append (reference-compatible; avoid).
      - "overwrite_partitions" — dynamic partition overwrite: idempotent
        incremental load (requires
        spark.sql.sources.partitionOverwriteMode=dynamic, set by session).

    Codec and file sizes are the session's defaults (snappy parquet; AQE
    coalescing keeps partitions from fragmenting into many small files).
    """
    writer = df.write.format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if mode == "overwrite_partitions":
        writer = writer.mode("overwrite")
    else:
        writer = writer.mode(mode)
    writer.save(path)

