"""Lake layout behavior: partition pruning, Z-ordered file skipping."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import staging, star
from data_lake_for_citi_bike_trip_spark.plans.explain import formatted_plan
from data_lake_for_citi_bike_trip_spark.sources.registry import load_table
from data_lake_for_citi_bike_trip_spark.sources.writers import write_table


def _write_fact(spark, sf_dir, path):
    events = load_table(spark, sf_dir, "events")
    fact = star.fact_trips(
        staging.trips(events), staging.covid(events), staging.weather(events)
    )
    write_table(fact, path, partition_by=["year", "month"])
    return fact


def test_partition_pruning_on_written_lake(spark, sf_dir, tmp_path):
    path = str(tmp_path / "fact")
    _write_fact(spark, sf_dir, path)
    lake = spark.read.parquet(path)
    one_month = lake.where((F.col("year") == 2024) & (F.col("month") == 1))
    plan = formatted_plan(one_month)
    # the filter must prune at the directory level, not post-scan
    assert "PartitionFilters" in plan
    assert "year#" in plan.split("PartitionFilters")[1][:200]
    assert one_month.count() == lake.count()  # testdata is all 2024-01


def test_zorder_write_enables_file_skipping(spark, sf_dir, tmp_path):
    """Z-ordered files cover compact key rectangles: a narrow range on
    either interleaved column prunes most files, while the same data
    written round-robin leaves every file a candidate."""
    from data_lake_for_citi_bike_trip_spark.operators import layout

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zpath = str(tmp_path / "li_z")
    rpath = str(tmp_path / "li_r")
    # 64 files = 6 z-prefix bits (b7 a7 b6 a6 b5 a5). A range covering the
    # bottom ~2% of orderkey pins a's top 3 bits to 0, so only the 2^3
    # prefixes where b's bits vary stay feasible — ~8/64 files. (With few
    # files a one-column predicate can only halve per interleaved prefix
    # bit; that's the physics of Z-order, not a defect.)
    layout.zorder_write(li, "l_orderkey", "l_partkey", zpath, n_files=64)
    li.repartition(64).write.mode("overwrite").parquet(rpath)

    zidx = layout.file_skipping_index(
        spark.read.parquet(zpath), ["l_orderkey", "l_partkey"]
    )
    ridx = layout.file_skipping_index(
        spark.read.parquet(rpath), ["l_orderkey", "l_partkey"]
    )
    n_rows = li.count()
    assert sum(r.n_rows for r in zidx.collect()) == n_rows
    lo, hi = 0, 99  # ~2% of the orderkey domain at sf0.001
    z_files = layout.prune_files(zidx, "l_orderkey", lo, hi)
    r_files = layout.prune_files(ridx, "l_orderkey", lo, hi)
    assert len(r_files) >= 60  # round-robin: ~every file overlaps
    assert len(z_files) <= 16  # clustered: the range lives in few files

    # pruning is sound: scanning only the pruned file list returns
    # exactly the rows the full scan returns
    full = (
        spark.read.parquet(zpath)
        .where(f"l_orderkey between {lo} and {hi}")
        .count()
    )
    pruned = (
        spark.read.parquet(*[f"{zpath}/{f}" for f in z_files])
        .where(f"l_orderkey between {lo} and {hi}")
        .count()
    )
    assert pruned == full > 0


def test_zvalue_locality(spark):
    """Morton codes of near points differ less than far points on average
    (sanity of the interleave order), and zvalue is a bijection over the
    quantized grid."""
    from data_lake_for_citi_bike_trip_spark.operators import layout
    from pyspark.sql import functions as F

    grid = spark.range(256).select(
        (F.col("id") % 16).alias("a"), F.expr("id div 16").alias("b")
    )
    z = grid.select(layout.zvalue(F.col("a"), F.col("b"), bits=4).alias("z"))
    vals = sorted(r.z for r in z.collect())
    assert vals == list(range(256))
