"""End-to-end reference-ELT test on reference-shaped staging fixtures
(FIXTURES.md §1-4): gzipped CSVs with the real feeds' header quirks and a
single-line JSON weather array, through run_elt to partitioned parquet.
"""

from __future__ import annotations

import datetime
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.pipelines import elt

TRIP_HEADERS = (
    "tripduration,starttime,stoptime,start station id,start station name,"
    "start station latitude,start station longitude,end station id,"
    "end station name,end station latitude,end station longitude,bikeid,"
    "usertype,birth year,gender"
)


def _hour(day: int, hour: int, month: int = 1) -> datetime.datetime:
    return datetime.datetime(2020, month, day, hour, 0, 0)


@pytest.fixture(scope="module")
def staging_paths(tmp_path_factory):
    root = tmp_path_factory.mktemp("staging")

    # trips: two months; mixed-digit-length bikeids; NULL gender/birth year;
    # duplicate (starttime, bikeid); hours 10 (1 obs), 11 (2 obs), 12 (0 obs)
    trips = [root / "trips", root / "stations", root / "covids", root / "weathers"]
    for d in trips:
        d.mkdir()
    rows = []
    for i in range(30):
        month = 1 if i < 20 else 2
        ts = _hour(1 + i % 3, 10 + i % 3, month).replace(minute=i % 60)
        bike = ["9981", "16214", "777"][i % 3]
        birth = "" if i % 13 == 0 else str(1950 + i % 40)
        gender = "" if i % 10 == 0 else str(i % 3)
        rows.append(
            f"{300 + i},{ts} ,{ts},{i % 5},S{i % 5},40.7,-74.0,{(i * 7) % 5},"
            f"E{(i * 7) % 5},40.8,-74.1,{bike},Subscriber,{birth},{gender}".replace(
                f"{ts} ", f"{ts}"
            )
        )
    rows.append(rows[0])  # exact duplicate trip (md5 id collision path)
    with gzip.open(root / "trips" / "202001-trips.csv.gz", "wt") as f:
        f.write(TRIP_HEADERS + "\n" + "\n".join(rows) + "\n")

    station_header = (
        ",station_id,external_id,name,short_name,region_id,legacy_id,"
        "station_type,lat,lon,capacity,has_kiosk,"
        "electric_bike_surcharge_waiver,eightd_has_key_dispenser,rental_methods"
    )
    station_rows = [
        f"{i},{sid},ext-{sid},Station {sid},69{i}.01,71,{sid},classic,40.76,"
        f"-73.99,55,True,False,False,\"['KEY', 'CREDITCARD']\""
        for i, sid in enumerate(["72", "9981", "116"])
    ]
    station_rows.append(station_rows[0])  # duplicate snapshot row
    with gzip.open(root / "stations" / "stations.csv.gz", "wt") as f:
        f.write(station_header + "\n" + "\n".join(station_rows) + "\n")

    covid_header = (
        ",DATE_OF_INTEREST,CASE_COUNT,PROBABLE_CASE_COUNT,BX_CASE_COUNT,"
        "BX_PROBABLE_CASE_COUNT,BK_CASE_COUNT,BK_PROBABLE_CASE_COUNT,"
        "MN_CASE_COUNT,MN_PROBABLE_CASE_COUNT,QN_CASE_COUNT,"
        "QN_PROBABLE_CASE_COUNT,SI_CASE_COUNT,SI_PROBABLE_CASE_COUNT,INCOMPLETE"
    )
    # only January days -> February trips get NULL covid_id
    covid_rows = [
        f"{i},01/{d:02d}/2020,0,0,1,0,2,0,3,0,4,0,5,0,0" for i, d in enumerate((1, 2, 3))
    ]
    with gzip.open(root / "covids" / "covid.csv.gz", "wt") as f:
        f.write(covid_header + "\n" + "\n".join(covid_rows) + "\n")

    # weather: obs at hourstart-540 (the :51-past-previous-hour quirk);
    # hour 11 duplicated (fan-out); hour 12 missing entirely (NULL weather_id)
    obs = []
    for day in (1, 2, 3):
        for month in (1, 2):
            for hour, n in ((10, 1), (11, 2)):
                epoch = int(_hour(day, hour, month).replace(tzinfo=datetime.timezone.utc).timestamp()) - 540
                for j in range(n):
                    obs.append(
                        {
                            "valid_time_gmt": epoch,
                            "temp": 39 + day + j,
                            "dewPt": 29,
                            "rh": 67,
                            "day_ind": "N",
                            "wspd": 10,
                            "gust": None if j == 0 else 25,
                            "pressure": 30.04,
                            "precip_hrly": 0.0,
                            "wx_phrase": "Fair",
                        }
                    )
    with open(root / "weathers" / "day1.json", "w") as f:
        json.dump(obs, f)

    return {
        "trips": str(root / "trips" / "*.csv.gz"),
        "stations": str(root / "stations" / "*.csv.gz"),
        "covid": str(root / "covids" / "*.csv.gz"),
        "weather": str(root / "weathers" / "*.json"),
    }


def test_elt_end_to_end(spark, staging_paths, tmp_path):
    out = str(tmp_path / "lake")
    tables = elt.run_elt(spark, staging_paths, out)

    fact = spark.read.parquet(os.path.join(out, "bikeshare_fact_table"))
    n_trips = 31
    # hour-11 trips fan out against the duplicated observation
    assert fact.count() > n_trips
    # missing covid month / missing weather hour surface as NULLs
    assert fact.where(F.col("covid_id").isNull()).count() > 0
    assert fact.where(F.col("weather_id").isNull()).count() > 0
    assert fact.where(F.col("id").isNull()).count() == 0
    # partitioned layout on disk
    assert os.path.isdir(os.path.join(out, "bikeshare_fact_table", "year=2020", "month=1"))
    assert os.path.isdir(os.path.join(out, "bikeshare_fact_table", "year=2020", "month=2"))
    assert os.path.isdir(
        os.path.join(out, "dim_user_agg_table", "usertype=Subscriber")
    )

    # weather joined rows carry the -540s observation timestamps
    matched = fact.where(F.col("weather_id").isNotNull()).select("weather_id")
    stamps = [(r.weather_id.minute, r.weather_id.second) for r in matched.collect()]
    assert set(stamps) == {(51, 0)}  # :51:00 past the previous hour (-540 s)

    # station dim: duplicate collapsed, lexicographic order, sic alias
    station = spark.read.parquet(os.path.join(out, "dim_station"))
    ids = [r.station_id for r in station.orderBy("station_id").collect()]
    assert ids == sorted(ids) and len(ids) == 3
    assert "longtitude" in station.columns

    # reference DQ suite passes against the written lake
    results = elt.reference_checks(spark, out)
    assert all(passed for _, _, passed in results)


def test_elt_rerun_is_idempotent(spark, staging_paths, tmp_path):
    out = str(tmp_path / "lake2")
    elt.run_elt(spark, staging_paths, out)
    n1 = spark.read.parquet(os.path.join(out, "bikeshare_fact_table")).count()
    elt.run_elt(spark, staging_paths, out)  # reference append would duplicate
    n2 = spark.read.parquet(os.path.join(out, "bikeshare_fact_table")).count()
    assert n1 == n2


def test_elt_legacy_string_mode(spark, staging_paths, tmp_path):
    out = str(tmp_path / "lake3")
    tables = elt.run_elt(spark, staging_paths, out, legacy_string_mode=True)
    fact_types = dict(tables["bikeshare_fact_table"].dtypes)
    assert fact_types["duration"] == "string"  # all-string CSV accident preserved
    bikes = [r.bike_id for r in tables["dim_bike_table"].collect()]
    assert bikes == sorted(bikes)  # '16214' < '777' < '9981' lexicographic
    assert bikes[0] == "16214" and bikes[-1] == "9981"


def test_elt_null_propagating_user_key(spark, staging_paths, tmp_path):
    out = str(tmp_path / "lake4")
    tables = elt.run_elt(spark, staging_paths, out)
    dim = tables["dim_user_agg_table"]
    nulls = dim.where(F.col("gender").isNull() | F.col("birth_year").isNull())
    assert nulls.count() > 0
    assert nulls.where(F.col("user_agg_id").isNotNull()).count() == 0


def test_elt_incremental_monthly_load(spark, staging_paths, tmp_path_factory):
    """The production cadence: each month's run writes only that month's
    partitions (dynamic overwrite); earlier months survive untouched."""
    import gzip

    root = tmp_path_factory.mktemp("inc")
    out = str(root / "lake")

    def month_feed(month: int, n: int) -> str:
        d = root / f"trips_m{month}"
        d.mkdir()
        # hour pinned to 10 (single weather obs) so row counts are 1:1
        rows = [
            f"{300 + i},2020-{month:02d}-0{1 + i % 3} 10:0{i % 6}:00.00,"
            f"2020-{month:02d}-01 11:00:00,1,S,40.7,-74.0,2,E,40.8,-74.1,"
            f"{900 + i},Subscriber,1990,{i % 3}"
            for i in range(n)
        ]
        with gzip.open(d / "t.csv.gz", "wt") as f:
            f.write(TRIP_HEADERS + "\n" + "\n".join(rows) + "\n")
        return str(d / "*.csv.gz")

    base = dict(staging_paths)
    elt.run_elt(spark, {**base, "trips": month_feed(1, 10)}, out)
    fact1 = spark.read.parquet(os.path.join(out, "bikeshare_fact_table"))
    assert {r.month for r in fact1.select("month").distinct().collect()} == {1}
    m1_rows = fact1.count()

    # month 2 arrives; month 1 partition must be untouched
    elt.run_elt(spark, {**base, "trips": month_feed(2, 7)}, out)
    fact2 = spark.read.parquet(os.path.join(out, "bikeshare_fact_table"))
    months = {r.month: r.cnt for r in fact2.groupBy("month").agg(F.count("*").alias("cnt")).collect()}
    assert set(months) == {1, 2}
    assert months[1] == m1_rows
    assert months[2] == 7


def test_read_staging_csv_missing_schema_field_is_typed_null(spark, tmp_path):
    from pyspark.sql import types as T

    from data_lake_for_citi_bike_trip_spark.sources import readers

    p = tmp_path / "narrow.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("missing_col", T.DoubleType()),
        ]
    )
    out = readers.read_staging_csv(spark, str(p), schema)
    # the declared contract schema is always honored
    assert out.columns == ["a", "b", "missing_col"]
    assert dict(out.dtypes)["missing_col"] == "double"
    rows = out.collect()
    assert len(rows) == 2 and all(r.missing_col is None for r in rows)


def test_elt_observed_metrics_match_written_counts(spark, staging_paths, tmp_path):
    """df.observe on the write pass collects per-table rows + fact NULL-id
    counts with ZERO extra jobs — the observed numbers must equal what a
    re-read (the reference's separate check job) would count."""
    out = str(tmp_path / "lake_obs")
    metrics: dict = {}
    elt.run_elt(spark, staging_paths, out, metrics=metrics)
    assert set(metrics) == set(elt.schemas.OUTPUT_LAYOUT)
    for name in metrics:
        reread = spark.read.parquet(os.path.join(out, name)).count()
        assert metrics[name]["rows"] == reread, name
    assert metrics["bikeshare_fact_table"]["null_ids"] == 0


def test_fixed_width_reader_trims_casts_and_nulls(spark, tmp_path):
    """Slice boundaries, whitespace trim, type cast, and empty->NULL."""
    from data_lake_for_citi_bike_trip_spark.sources.readers import (
        read_fixed_width,
    )

    p = tmp_path / "fw.txt"
    p.write_text(
        "42        alpha     7    \n"
        "          beta      -3   \n"  # empty key -> NULL
        "7         gamma          \n"  # empty last field -> NULL
    )
    rows = read_fixed_width(
        spark,
        str(p),
        [("k", 1, 10, "bigint"), ("name", 11, 10, "string"), ("v", 21, 5, "bigint")],
    ).collect()
    got = {(r.k, r.name, r.v) for r in rows}
    assert got == {(42, "alpha", 7), (None, "beta", -3), (7, "gamma", None)}


def test_pysink_two_phase_commit_roundtrip(spark, sf_dir, tmp_path):
    """The python sink stages per task and publishes only on commit():
    after save(), data/ holds every row and _staging/ is gone."""
    import os

    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.sources import pydatasource
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    pydatasource.register_sink(spark)
    path = str(tmp_path / "sink")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.write.format("jsondir").option("path", path).mode("append").save()
    assert not os.path.exists(os.path.join(path, "_staging")) or not os.listdir(
        os.path.join(path, "_staging")
    )
    back = spark.read.schema("n_nationkey bigint, n_name string").json(
        os.path.join(path, "data")
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in nation.collect()
    )


def test_pysink_overwrite_clears_previous_save(spark, sf_dir, tmp_path):
    """mode('overwrite') must replace the previous save's data/, not
    silently merge with it (the stale-part-file hazard): after an
    append of 25 nations then an overwrite with 5 regions, data/ holds
    exactly the 5 region rows."""
    import os

    from data_lake_for_citi_bike_trip_spark.sources import pydatasource
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    pydatasource.register_sink(spark)
    path = str(tmp_path / "sink_ow")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("name")
    )
    nation.write.format("jsondir").option("path", path).mode("append").save()
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k"), F.col("r_name").alias("name")
    )
    region.write.format("jsondir").option("path", path).mode(
        "overwrite"
    ).save()
    back = spark.read.schema("k bigint, name string").json(
        os.path.join(path, "data")
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in region.collect()
    )


def test_pysink_failed_overwrite_keeps_previous_save(spark, sf_dir, tmp_path):
    """The two-phase property behind overwrite (pydatasource.py:215):
    the old data/ is cleared only at COMMIT time, so a job that dies
    mid-write aborts with the previous save fully visible — never a
    half-cleared directory."""
    import os

    import pytest

    from data_lake_for_citi_bike_trip_spark.sources import pydatasource
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    pydatasource.register_sink(spark)
    path = str(tmp_path / "sink_fail")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("name")
    )
    nation.write.format("jsondir").option("path", path).mode("append").save()
    before = sorted(
        tuple(r)
        for r in spark.read.schema("k bigint, name string")
        .json(os.path.join(path, "data"))
        .collect()
    )

    @F.udf("bigint")
    def boom(k):
        raise RuntimeError("mid-write failure")

    doomed = nation.select(boom(F.col("k")).alias("k"), "name")
    with pytest.raises(Exception):
        doomed.write.format("jsondir").option("path", path).mode(
            "overwrite"
        ).save()
    after = sorted(
        tuple(r)
        for r in spark.read.schema("k bigint, name string")
        .json(os.path.join(path, "data"))
        .collect()
    )
    assert after == before
