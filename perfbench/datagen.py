"""Seeded Citi-Bike-shaped ELT staging feeds for the benchmark.

:func:`write_staging` writes one gzipped trips CSV per month (split over
several part files) with the real feed's header quirks, a stations
CSV.gz with a duplicate snapshot row, a covid CSV.gz with US dates, and
the weather feed as a single-line JSON array. It also gives the
per-table row counts ``pipelines.elt.run_elt`` must observe.

The same seed gives byte-identical files: gzip headers carry no mtime
and no file name, and every value comes from one ``numpy`` generator.
"""

from __future__ import annotations

import datetime
import gzip
import hashlib
import io
import json
import os

import numpy as np

TRIP_HEADER = (
    "tripduration,starttime,stoptime,start station id,start station name,"
    "start station latitude,start station longitude,end station id,"
    "end station name,end station latitude,end station longitude,bikeid,"
    "usertype,birth year,gender"
)
STATION_HEADER = (
    ",station_id,external_id,name,short_name,region_id,legacy_id,"
    "station_type,lat,lon,capacity,has_kiosk,"
    "electric_bike_surcharge_waiver,eightd_has_key_dispenser,rental_methods"
)
COVID_HEADER = (
    ",DATE_OF_INTEREST,CASE_COUNT,PROBABLE_CASE_COUNT,BX_CASE_COUNT,"
    "BX_PROBABLE_CASE_COUNT,BK_CASE_COUNT,BK_PROBABLE_CASE_COUNT,"
    "MN_CASE_COUNT,MN_PROBABLE_CASE_COUNT,QN_CASE_COUNT,"
    "QN_PROBABLE_CASE_COUNT,SI_CASE_COUNT,SI_PROBABLE_CASE_COUNT,INCOMPLETE"
)
STAGING_YEAR = 2020


def _gzip_bytes(text: str) -> bytes:
    """gzip with a fixed header (no mtime, no name): same text, same bytes."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, filename="") as f:
        f.write(text.encode())
    return buf.getvalue()


def _put(path: str, data: bytes) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


class Staging:
    """Staged feeds on disk plus what loading them must produce.

    ``paths[m]`` are ``run_elt`` input paths for month ``m`` alone and
    ``paths["all"]`` for every month; ``input_bytes`` is the staged
    bytes, ``trips[m]`` the trip rows of month ``m``, and ``digest`` a
    sha256 over every file. :meth:`expected_for` gives the per-table row
    counts one ``run_elt(..., metrics={})`` over some months observes.
    """

    def __init__(self, root, paths, input_bytes, trips, keys, fixed, digest):
        self.root = root
        self.paths = paths
        self.input_bytes = input_bytes
        self.trips = trips
        self.trip_rows = sum(trips.values())
        self.months = sorted(trips)
        self._keys = keys
        self._fixed = fixed
        self.digest = digest

    def expected_for(self, months) -> dict[str, int]:
        def distinct(kind: str) -> int:
            return len(set().union(*(self._keys[m][kind] for m in months)))

        return {
            "bikeshare_fact_table": sum(self.trips[m] for m in months),
            "dim_time_table": distinct("starts"),
            "dim_user_agg_table": distinct("users"),
            "dim_bike_table": distinct("bikes"),
            **self._fixed,
        }


def write_staging(
    root: str,
    seed: int,
    months: int,
    trips_per_month: int,
    parts: int = 1,
    stations: int = 200,
) -> Staging:
    """Write the four staging feeds under ``root``; each month's trips go
    to ``parts`` gzip files (gzip is unsplittable: one file, one task).

    Every hour of the staged months has exactly one weather observation
    (stamped :51 past the previous hour, as the real feed is) and every
    day one covid row, so each trip matches one of each and the fact
    table keeps one row per trip. Start times are distinct, so the md5
    trip ids never collide; one trip in the first month has an empty
    gender and birth year, so the NULL-propagating user key runs.
    """
    rng = np.random.default_rng([seed, 2])
    files: list[tuple[str, bytes]] = []

    station_ids = np.sort(rng.choice(np.arange(72, 72 + 40 * stations), stations, replace=False))
    rows = []
    for i, sid in enumerate(station_ids.tolist()):
        rows.append(
            f"{i},{sid},ext-{sid},Station {sid},{6900 + i}.01,71,{sid},classic,"
            f"{40.70 + rng.random() * 0.1:.6f},{-74.0 + rng.random() * 0.1:.6f},"
            f"{int(rng.integers(10, 80))},True,False,False,\"['KEY', 'CREDITCARD']\""
        )
    rows.append(rows[0])  # duplicate snapshot row: dim_station collapses it
    files.append(("stations/stations.csv.gz", _gzip_bytes(STATION_HEADER + "\n" + "\n".join(rows) + "\n")))

    covid_days = []
    day = datetime.date(STAGING_YEAR, 1, 1)
    while day.month <= months and day.year == STAGING_YEAR:
        covid_days.append(day)
        day += datetime.timedelta(days=1)
    rows = [
        f"{i},{d:%m/%d/%Y},{c},0,{c // 5},0,{c // 4},0,{c // 3},0,{c // 6},0,{c // 9},0,0"
        for i, (d, c) in enumerate(zip(covid_days, rng.integers(0, 500, len(covid_days)).tolist()))
    ]
    files.append(("covids/covid.csv.gz", _gzip_bytes(COVID_HEADER + "\n" + "\n".join(rows) + "\n")))

    obs = []
    hours = len(covid_days) * 24
    base = int(datetime.datetime(STAGING_YEAR, 1, 1, tzinfo=datetime.timezone.utc).timestamp())
    temps = rng.integers(20, 90, hours).tolist()
    for h in range(hours):
        obs.append({
            "valid_time_gmt": base + h * 3600 - 540,
            "temp": temps[h],
            "dewPt": 29,
            "rh": 67,
            "day_ind": "D" if 6 <= h % 24 < 18 else "N",
            "wspd": 10,
            "gust": None if h % 3 else 25,
            "pressure": 30.04,
            "precip_hrly": 0.0,
            "wx_phrase": "Fair",
        })
    files.append(("weathers/weather.json", json.dumps(obs).encode()))

    trips: dict[int, int] = {}
    keys: dict[int, dict[str, set]] = {}
    for m in range(1, months + 1):
        days = (datetime.date(STAGING_YEAR + (m == 12), m % 12 + 1, 1)
                - datetime.date(STAGING_YEAR, m, 1)).days
        n = trips_per_month
        starts_s = rng.choice(days * 86_400, n, replace=False)  # distinct
        bikes = rng.integers(10000, 40000, n)
        durations = rng.integers(60, 3600, n)
        starts_st = rng.choice(station_ids, n)
        ends_st = rng.choice(station_ids, n)
        subscriber = rng.random(n) < 0.8
        births = rng.integers(1940, 2005, n)
        genders = rng.integers(0, 3, n)
        lines = []
        users: set = set()
        starts: set = set()
        for j in range(n):
            st = datetime.datetime(STAGING_YEAR, m, 1) + datetime.timedelta(
                seconds=int(starts_s[j])
            )
            sp = st + datetime.timedelta(seconds=int(durations[j]))
            utype = "Subscriber" if subscriber[j] else "Customer"
            birth, gender = str(births[j]), str(genders[j])
            if m == 1 and j == 0:
                birth, gender = "", ""
            users.add((utype, gender, birth))
            starts.add(st)
            s1, s2 = int(starts_st[j]), int(ends_st[j])
            lines.append(
                f"{durations[j]},{st:%Y-%m-%d %H:%M:%S}.0000,{sp:%Y-%m-%d %H:%M:%S}.0000,"
                f"{s1},Station {s1},40.7,-74.0,{s2},Station {s2},40.8,-74.1,"
                f"{bikes[j]},{utype},{birth},{gender}"
            )
        for p in range(parts):
            body = "\n".join(lines[p::parts])
            files.append((f"trips/{STAGING_YEAR}{m:02d}-citibike-tripdata-{p + 1}.csv.gz",
                          _gzip_bytes(TRIP_HEADER + "\n" + body + "\n")))
        trips[m] = n
        keys[m] = {"starts": starts, "users": users, "bikes": set(bikes.tolist())}

    digest = hashlib.sha256()
    total_bytes = 0
    for rel, data in files:
        total_bytes += _put(os.path.join(root, rel), data)
        digest.update(rel.encode())
        digest.update(data)

    def paths(trip_glob: str) -> dict[str, str]:
        return {
            "trips": os.path.join(root, "trips", trip_glob),
            "stations": os.path.join(root, "stations", "*.csv.gz"),
            "covid": os.path.join(root, "covids", "*.csv.gz"),
            "weather": os.path.join(root, "weathers", "*.json"),
        }

    all_paths = {m: paths(f"{STAGING_YEAR}{m:02d}-*.csv.gz") for m in trips}
    all_paths["all"] = paths("*.csv.gz")
    fixed = {
        "dim_covid_table": len(covid_days),
        "dim_weather_table": len(obs),
        "dim_station": len(station_ids),
    }
    return Staging(root, all_paths, total_bytes, trips, keys, fixed, digest.hexdigest())
