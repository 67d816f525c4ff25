"""The benchmark's workloads: pinned operation lists, seeded order, and
the verification of every operation's output.

Operation lists are pinned here by name and resolved through
``__spark_entry__._all_queries()`` — never ``queries()``, whose order
rotates with the correctness artifacts on disk. Within a workload the
order comes only from the seed.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

from datagen import write_staging

#: Short queries: star dimensions and data-quality counts, TPC-H-shaped
#: SQL and a rollup, where per-query fixed cost (load_table, plan build,
#: Catalyst, job launch) dominates. Multi-second members are left out to
#: fit the run's time budget: fact_trips (rebuilt by every run_elt in
#: elt_ingest), lake_roundtrip (a write path) and the TPC-H shapes over
#: the materialised partsupp table (3 to 5 s each when cold).
SHORT_QUERIES = [
    "dim_time", "dim_weather", "dq_counts", "rides_per_hour",
    "tpch_shipping_priority", "tpch_market_share", "rollup_revenue",
]

#: Many jobs per query: PageRank's iteration loop over cached()
#: materialisations, and n-gram Jaccard dedup. dedup_clusters (71 jobs)
#: is left out: alone it took 4 to 12 s, the widest spread of any
#: operation, on a 4-core host shared with other machines.
ITERATIVE = ["graph_pagerank", "dedup_ngram_jaccard"]

#: Vector and media operators that cross the Python/Arrow boundary:
#: int8 quantisation (operators.similarity) and pandas/Arrow UDFs over
#: images (operators.multimodal).
VECTOR = ["quantize_int8", "image_features", "multimodal_png_pixels"]

#: Query families of the ``queries`` workload; each record gives the
#: wall and CPU seconds of every family, so that a change which helps
#: one family and costs another shows.
FAMILIES = {"short": SHORT_QUERIES, "iterative": ITERATIVE, "vector": VECTOR}

#: Lake-writing contract query run after the ELT steps: a streamed merge
#: into the transactional table (micro-batches and txn commits).
ELT_LAKE_QUERIES = ["stream_txn_merge"]

#: ELT steps, in their fixed dependency order.
ELT_STEPS = ["elt_backfill", "elt_rerun_month", "elt_reference_checks"]

WORKLOADS = {
    "elt_ingest": ELT_STEPS + ELT_LAKE_QUERIES,
    "queries": SHORT_QUERIES + ITERATIVE + VECTOR,
}

#: Scale factor of the contract tables (sf0.01: 60k lineitem).
SF = 0.01
#: The contract tables: a copy of the fixed sf0.01 testdata the repo's
#: oracle gate runs on. They are the same in every run; the run's seed
#: drives the ELT staging and the operation order.
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: Staged months, and gzip part files per month: the backfill reads
#: ``months * parts`` unsplittable files, at least one per core.
STAGING_MONTHS = 2
TRIPS_PER_MONTH = 2000


def contract_queries() -> list[str]:
    """Every contract query name a workload runs."""
    return [n for ops in WORKLOADS.values() for n in ops if n not in ELT_STEPS]


def ordered(workload: str, seed: int) -> list[str]:
    """The workload's operations in the order ``seed`` gives. ELT steps
    depend on each other, so they keep their order and lead. Query
    families keep their order (short, iterative, vector) and the seed
    shuffles the operations within each: the first operations of a pass
    run on a JVM that is still compiling, and that cost then falls on a
    short query whichever the seed picks."""
    rng = random.Random(seed)
    out = [n for n in WORKLOADS[workload] if n in ELT_STEPS]
    for names in [ELT_LAKE_QUERIES, *FAMILIES.values()]:
        block = [n for n in names if n in WORKLOADS[workload]]
        rng.shuffle(block)
        out += block
    return out


def check_oracle():
    """``tools/check_oracle.py``, the oracle gate's canonical comparison.
    Importing it edits sys.path and reads sys.argv; both are restored."""
    saved_path, saved_argv = list(sys.path), sys.argv
    sys.argv = sys.argv[:1]
    try:
        from tools import check_oracle as module
    finally:
        sys.path[:], sys.argv = saved_path, saved_argv
    return module


class Inputs:
    """Inputs of one workload: the fixed contract tables, and for
    ``elt_ingest`` seeded staging feeds under ``root``."""

    def __init__(self, workload: str, root: str, seed: int, cpus: int):
        self.tables = TABLES
        self.lake = os.path.join(root, "lake")
        self.staging = None
        if workload == "elt_ingest":
            parts = max(1, -(-cpus // STAGING_MONTHS))
            self.staging = write_staging(
                os.path.join(root, "staging"), seed, STAGING_MONTHS,
                TRIPS_PER_MONTH, parts=parts,
            )

    def reset_lake(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)


class Runner:
    """Runs and verifies operations. ``run`` is the timed part and
    returns a value that ``verify`` checks outside the timed region."""

    def __init__(self, spark, inputs: Inputs):
        import duckdb

        import __spark_entry__

        from data_lake_for_citi_bike_trip_spark.pipelines import elt

        self.spark = spark
        self.inputs = inputs
        self.queries = __spark_entry__._all_queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.elt = elt
        self.canon = check_oracle()
        self.con = duckdb.connect()
        for t in self.canon.TABLES:
            path = os.path.join(inputs.tables, f"{t}.parquet")
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
        self.ingested_rows = 0
        self.ingest_s = 0.0

    def run(self, name: str) -> tuple[float, object]:
        """Run operation ``name``. Returns the time at which building
        ended, for the build/action split, and what ``verify`` checks.
        A query is built, then executed by collecting its rows, so the
        action includes moving them to Python: executing it a second
        time, into the noop sink as ``bench.py`` does, would double the
        run's length."""
        st = self.inputs.staging
        if name in ("elt_backfill", "elt_rerun_month"):
            if name == "elt_backfill":
                months, paths = st.months, st.paths["all"]
            else:
                months = st.months[-1:]
                paths = st.paths[months[0]]
            metrics: dict = {}
            self.elt.run_elt(self.spark, paths, self.inputs.lake, metrics=metrics)
            return time.perf_counter(), (months, metrics)
        if name == "elt_reference_checks":
            results = self.elt.reference_checks(self.spark, self.inputs.lake)
            return time.perf_counter(), results
        df = self.queries[name](self.spark, self.inputs.tables)
        built = time.perf_counter()
        return built, (df.columns, [tuple(r) for r in df.collect()])

    def verify(self, name: str, out, seconds: float) -> str | None:
        """None when ``out`` is correct, else a one-line reason."""
        st = self.inputs.staging
        if name in ("elt_backfill", "elt_rerun_month"):
            months, metrics = out
            want = st.expected_for(months)
            got = {t: m["rows"] for t, m in metrics.items()}
            if got != want:
                return f"observed rows {got} != generated {want}"
            if metrics["bikeshare_fact_table"].get("null_ids") != 0:
                return "NULL fact ids"
            fact = self.spark.read.parquet(
                os.path.join(self.inputs.lake, "bikeshare_fact_table")
            ).count()
            if fact != st.trip_rows:
                return f"fact rows {fact} != staged trips {st.trip_rows}"
            self.ingested_rows += sum(st.trips[m] for m in months)
            self.ingest_s += seconds
            return None
        if name == "elt_reference_checks":
            failed = [c for c, _, ok in out if not ok]
            if len(out) != 8 or failed:
                return f"reference checks failed: {failed} of {len(out)}"
            return None
        cols, rows = out
        res = self.con.execute(self.oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"schema {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if self.canon.canon_rows(cols, rows) != self.canon.canon_rows(ocols, orows):
            return "values differ from the oracle"
        return None


def lake_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
