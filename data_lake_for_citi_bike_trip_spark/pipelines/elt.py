"""The reference ELT, rebuilt Spark-first (spark_elt_emr.py:1-206).

End-to-end: four staging sources (trips/stations CSV.gz, covid CSV.gz,
weather JSON) -> seven star-schema parquet tables with the reference's
exact column lists, key expressions, and write layout. A user of the
reference can point this at the same staging bucket and get the same
tables.

Divergences from the reference (each deliberate, SURVEY.md §2.12):
- ``dim_time`` emits ``start_time`` (the reference's ``dat`` column is an
  AnalysisException as written — bug #1).
- fact/time-dim incremental loads use dynamic partition overwrite instead
  of blind append (rerun idempotency — bug #4).
- no global ORDER BY before partitioned writes: file order is not a
  query-visible property and the range exchange is wasted work at scale.
- ``legacy_string_mode=True`` reproduces the reference's all-string CSV
  runtime types (no inferSchema — SURVEY.md §1.3) including lexicographic
  ``ORDER BY bike_id``; the default is typed schemas so filters push down.

Semantics preserved exactly: md5/concat surrogate keys (NULL-propagating,
spark_elt_emr.py:64,72), the -540 s hour-bucket weather alignment (:79),
left-join multiplicity and NULL keys for missing dim rows (:76-79), the
``lat``->``longtitude`` (sic) station rename (:175-176), CASE WHEN gust
NULL default (:156), US-format covid date parse (:73,131).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..functions.keys import hour_bucket_epoch, user_agg_id
from ..plans import checks
from ..sources.readers import read_staging_csv, read_staging_json
from ..sources.writers import write_table


def load_staging(
    spark: SparkSession, input_paths: dict[str, str], *, legacy_string_mode: bool = False
) -> dict[str, DataFrame]:
    """Read the four staging feeds (spark_elt_emr.py:29-59) and register
    the reference's temp views."""
    trips_schema = None if legacy_string_mode else schemas.TRIPS_TYPED
    staged = {
        "events_log_table": read_staging_csv(
            spark, input_paths["trips"], trips_schema
        ),
        "stations_log_table": read_staging_csv(
            spark, input_paths["stations"], schemas.STATIONS_LEGACY_STRING
        ),
        "covids_log_table": read_staging_csv(
            spark, input_paths["covid"], schemas.COVID_LEGACY_STRING, lowercase=True
        ),
        "weathers_log_table": read_staging_json(
            spark, input_paths["weather"], schemas.WEATHER
        ),
    }
    for name, df in staged.items():
        df.createOrReplaceTempView(name)
    return staged


def fact_table(
    trips: DataFrame, covid: DataFrame, weather: DataFrame
) -> DataFrame:
    """bikeshare_fact_table (spark_elt_emr.py:62-83): 2 computed-key left
    joins + surrogate keys. Covid (~735 rows/yr) and weather (~9k/yr) are
    broadcast — the fact pipeline shuffles only at the write."""
    starttime_ts = F.to_timestamp(F.col("starttime"))
    c = covid.select(
        F.to_date("date_of_interest", "MM/dd/yyyy").alias("covid_id")
    ).distinct()
    w = weather.select(
        F.col("valid_time_gmt").alias("weather_key"),
        F.timestamp_seconds(F.col("valid_time_gmt")).alias("weather_id"),
    )
    return (
        trips.join(F.broadcast(c), F.to_date(starttime_ts) == F.col("covid_id"), "left")
        .join(
            F.broadcast(w),
            hour_bucket_epoch(starttime_ts) == F.col("weather_key"),
            "left",
        )
        .select(
            F.md5(F.concat(F.col("starttime").cast("string"), F.col("bikeid"))).alias("id"),
            starttime_ts.alias("start_time"),
            F.col("tripduration").alias("duration"),
            "start_station_id",
            "end_station_id",
            "bikeid",
            "usertype",
            user_agg_id(
                F.col("usertype"),
                F.col("gender").cast("string"),
                F.col("birth_year").cast("string"),
            ).alias("user_agg_id"),
            "covid_id",
            "weather_id",
            F.year(starttime_ts).alias("year"),
            F.month(starttime_ts).alias("month"),
        )
    )


def dim_time_table(trips: DataFrame) -> DataFrame:
    """dim_time_table (spark_elt_emr.py:86-105; `dat` bug fixed)."""
    t = trips.select(F.to_timestamp("starttime").alias("start_time")).distinct()
    return t.select(
        "start_time",
        F.minute("start_time").alias("minute"),
        F.hour("start_time").alias("hour"),
        F.dayofmonth("start_time").alias("day"),
        F.weekofyear("start_time").alias("week"),
        F.dayofweek("start_time").alias("weekday"),
        F.year("start_time").alias("year"),
        F.month("start_time").alias("month"),
    )


def dim_user_agg_table(trips: DataFrame) -> DataFrame:
    """dim_user_agg_table (spark_elt_emr.py:108-117)."""
    return trips.select(
        user_agg_id(
            F.col("usertype"),
            F.col("gender").cast("string"),
            F.col("birth_year").cast("string"),
        ).alias("user_agg_id"),
        "usertype",
        "gender",
        "birth_year",
    ).distinct()


def dim_bike_table(trips: DataFrame) -> DataFrame:
    """dim_bike_table (spark_elt_emr.py:120-126). With legacy strings the
    ORDER BY is lexicographic ('16214' < '9981') — preserved, not a bug,
    in legacy mode."""
    return trips.select(F.col("bikeid").alias("bike_id")).distinct().orderBy("bike_id")


def dim_covid_table(covid: DataFrame) -> DataFrame:
    """dim_covid_table (spark_elt_emr.py:129-145): US date parse + borough
    counts projection."""
    return covid.select(
        F.to_date("date_of_interest", "MM/dd/yyyy").alias("covid_id"),
        F.col("bx_case_count"),
        F.col("bx_probable_case_count"),
        F.col("bk_case_count"),
        F.col("bk_probable_case_count"),
        F.col("mn_case_count"),
        F.col("mn_probable_case_count"),
        F.col("qn_case_count"),
        F.col("qn_probable_case_count"),
        F.col("si_case_count"),
        F.col("si_probable_case_count"),
        F.col("incomplete"),
    )


def dim_weather_table(weather: DataFrame) -> DataFrame:
    """dim_weather_table (spark_elt_emr.py:148-163) with the reference's
    renames — including day_ind->wind (its mislabel, kept for parity)."""
    return weather.select(
        F.timestamp_seconds(F.col("valid_time_gmt")).alias("weather_id"),
        F.col("temp").alias("temperature"),
        F.col("dewPt").alias("dew_point"),
        F.col("rh").alias("humidity"),
        F.col("day_ind").alias("wind"),
        F.col("wspd").alias("wind_speed"),
        F.coalesce(F.col("gust"), F.lit(0)).alias("gust"),
        F.col("pressure"),
        F.col("precip_hrly").alias("precip"),
        F.col("wx_phrase").alias("condition"),
    )


def dim_station_table(stations: DataFrame) -> DataFrame:
    """dim_station (spark_elt_emr.py:166-185): DISTINCT snapshot with the
    reference's aliases (incl. 'longtitude', sic) + lexicographic sort."""
    return stations.select(
        "station_id",
        "external_id",
        "name",
        "short_name",
        "region_id",
        "legacy_id",
        "station_type",
        F.col("lat").alias("latitude"),
        F.col("lon").alias("longtitude"),
        "capacity",
        "has_kiosk",
        "electric_bike_surcharge_waiver",
        "eightd_has_key_dispenser",
        "rental_methods",
    ).distinct().orderBy("station_id")


def run_elt(
    spark: SparkSession,
    input_paths: dict[str, str],
    output_root: str,
    *,
    legacy_string_mode: bool = False,
    metrics: dict | None = None,
) -> dict[str, DataFrame]:
    """Full ELT: staging reads -> 7 tables -> partitioned parquet writes
    (layout per schemas.OUTPUT_LAYOUT) -> returns the built DataFrames.

    Pass ``metrics={}`` to instrument every write with ``df.observe``
    (Spark's Observation API): per-table row counts and fact-side NULL
    surrogate-key counts are collected ON the write pass itself — zero
    extra jobs, unlike the reference's separate spark_check_emr.py
    re-read — and deposited into the dict as
    ``{table: {"rows": n, ...}}``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    staged = load_staging(spark, input_paths, legacy_string_mode=legacy_string_mode)
    trips = staged["events_log_table"]
    covid = staged["covids_log_table"]
    weather = staged["weathers_log_table"]
    stations = staged["stations_log_table"]

    tables = {
        "bikeshare_fact_table": fact_table(trips, covid, weather),
        "dim_time_table": dim_time_table(trips),
        "dim_user_agg_table": dim_user_agg_table(trips),
        "dim_bike_table": dim_bike_table(trips),
        "dim_covid_table": dim_covid_table(covid),
        "dim_weather_table": dim_weather_table(weather),
        "dim_station": dim_station_table(stations),
    }
    observations: dict[str, Observation] = {}
    for name, df in tables.items():
        partition_by, mode = schemas.OUTPUT_LAYOUT[name]
        if metrics is not None:
            obs = Observation(name)
            exprs = [F.count(F.lit(1)).alias("rows")]
            if name == "bikeshare_fact_table":
                exprs.append(
                    F.sum(F.col("id").isNull().cast("long")).alias("null_ids")
                )
            df = df.observe(obs, *exprs)
            observations[name] = obs
        write_table(
            df, os.path.join(output_root, name), partition_by=partition_by, mode=mode
        )
    if metrics is not None:
        for name, obs in observations.items():
            metrics[name] = obs.get
    return tables


def reference_checks(spark: SparkSession, output_root: str) -> list:
    """The reference's 7 DQ assertions (spark_check_emr.py:63-85): fact id
    never NULL + all tables non-empty, evaluated over the written parquet.
    Each table is read once; the two fact checks share one pass."""
    tables = {
        name: spark.read.parquet(os.path.join(output_root, name))
        for name in schemas.OUTPUT_LAYOUT
    }
    check_list = [
        checks.no_nulls("fact_id_is_null", tables["bikeshare_fact_table"], "id")
    ]
    for name, df in tables.items():
        check_list.append(checks.not_empty(f"{name}_is_empty", df))
    return checks.run_checks(check_list)
