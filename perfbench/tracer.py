"""Traced-run instrumentation, all of it from outside the program.

- Layer spans: wrappers around the public functions of the repo's
  modules, installed by :func:`install` into every module that holds a
  reference to them and removed by :func:`uninstall`. A span's self time
  is its duration minus the time of the spans it caused on its thread
  (a foreachBatch callback runs on another thread and is not subtracted).
- Spark's own event log (uncompressed, enabled through session config)
  gives jobs, stages, tasks and task metrics; :func:`parse_event_log`
  reads it and :func:`attribute` assigns each job to the operation whose
  time window holds its submission. Operations run one at a time, so
  jobs from operator pool threads and stream execution threads land on
  the right operation, which a thread-local job group would lose.
- A ``StreamingQueryListener`` records each micro-batch's ``durationMs``.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "data_lake_for_citi_bike_trip_spark"

#: layer name -> (module, names); names None means every public function
#: the module defines, a class name means that class's methods.
LAYERS = {
    "session.get_session": (f"{PKG}.session", ["get_session"]),
    "sources.load_table": (f"{PKG}.sources.registry", ["load_table"]),
    "sources.read_staging": (
        f"{PKG}.sources.readers", ["read_staging_csv", "read_staging_json"]
    ),
    "sources.write_table": (f"{PKG}.sources.writers", ["write_table"]),
    "sources.txn": (f"{PKG}.sources.txn", ["TxnTable"]),
    "sources.txn.publish": (f"{PKG}.sources.txn", ["_publish"]),
    "pipelines.elt.run_elt": (f"{PKG}.pipelines.elt", ["run_elt"]),
    "plans.checks": (f"{PKG}.plans.checks", None),
    "streaming.pipeline": (
        f"{PKG}.streaming.pipeline",
        ["stream_events", "run_available_now", "stream_to_lake", "stream_upsert_scd1",
         "stream_merge_to_txn", "stream_erase_to_txn"],
    ),
    "operators.graph": (f"{PKG}.operators.graph", None),
    "operators.dedup": (f"{PKG}.operators.dedup", None),
    "operators.similarity": (f"{PKG}.operators.similarity", None),
    "operators.multimodal": (f"{PKG}.operators.multimodal", None),
    "operators.star": (f"{PKG}.operators.star", None),
    "operators.analytics": (f"{PKG}.operators.analytics", None),
    "operators.sqlsurface": (f"{PKG}.operators.sqlsurface", None),
    "caching.cached": (f"{PKG}.caching", ["cached"]),
    "caching.release": (f"{PKG}.caching", ["release_data_caches", "release_caches"]),
}

_LOCAL = threading.local()
_LOCK = threading.Lock()
_ENABLED = False
#: (layer, start, end, self seconds) in perf_counter time
SPANS: list[tuple[str, float, float, float]] = []
#: bytes each write_table call left on disk
WRITTEN_BYTES: list[int] = []
_PATCHES: list[tuple[object, str, object]] = []
#: perf_counter() + EPOCH_OFFSET == time.time()
EPOCH_OFFSET = time.time() - time.perf_counter()


def _call(layer, fn, args, kwargs):
    stack = getattr(_LOCAL, "stack", None)
    if stack is None:
        stack = _LOCAL.stack = []
    child = [0.0]
    stack.append(child)
    t0 = time.perf_counter()
    try:
        return fn(*args, **kwargs)
    finally:
        t1 = time.perf_counter()
        stack.pop()
        if stack:
            stack[-1][0] += t1 - t0
        with _LOCK:
            SPANS.append((layer, t0, t1, t1 - t0 - child[0]))
        if layer == "sources.write_table":
            WRITTEN_BYTES.append(_bytes_since(args[1] if len(args) > 1 else kwargs["path"], t0))


def _wrap(fn, layer):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not _ENABLED:
            return fn(*args, **kwargs)
        return _call(layer, fn, args, kwargs)

    return traced


def _is_plain_function(obj, module_name: str) -> bool:
    # UDF objects carry evalType; wrapping them would change what ships
    # to Python workers
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module_name
        and not hasattr(obj, "evalType")
    )


def _targets():
    for layer, (mod_name, names) in LAYERS.items():
        mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
        if names is None:
            names = [
                n for n, v in vars(mod).items()
                if not n.startswith("_") and _is_plain_function(v, mod_name)
            ]
        for name in names:
            obj = getattr(mod, name)
            if inspect.isclass(obj):
                for meth, fn in list(vars(obj).items()):
                    if (meth == "_commit" or not meth.startswith("_")) and inspect.isfunction(fn):
                        yield layer, obj, meth, fn
            else:
                yield layer, mod, name, obj


def install() -> None:
    """Wrap every layer function, in every module that references it."""
    global _ENABLED
    targets = list(_targets())  # imports every layer module first
    holders = [
        m for n, m in list(sys.modules.items())
        if m is not None and (n == PKG or n.startswith(PKG + ".") or n == "__spark_entry__")
    ]
    for layer, owner, name, fn in targets:
        wrapped = _wrap(fn, layer)
        if inspect.isclass(owner):
            _PATCHES.append((owner, name, fn))
            setattr(owner, name, wrapped)
        else:
            _replace(holders, fn, wrapped)
    _replace(holders, *_listening_clone_factory())
    _ENABLED = True


def _replace(holders, fn, replacement) -> None:
    for mod in holders:
        for attr, val in list(vars(mod).items()):
            if val is fn:
                _PATCHES.append((mod, attr, fn))
                setattr(mod, attr, replacement)


def uninstall() -> None:
    global _ENABLED
    _ENABLED = False
    while _PATCHES:
        owner, name, fn = _PATCHES.pop()
        setattr(owner, name, fn)


def reset() -> None:
    SPANS.clear()
    WRITTEN_BYTES.clear()
    BATCHES.clear()
    _LISTENING.clear()


def _bytes_since(path: str, t0: float) -> int:
    since = t0 + EPOCH_OFFSET - 1.0  # file mtimes have coarse resolution
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

#: (epoch seconds, batch id, durationMs dict, input rows)
BATCHES: list[tuple[float, int, dict, int]] = []
_LISTENING: set = set()
_LISTENER = None


def _listener():
    global _LISTENER
    if _LISTENER is None:
        from pyspark.sql.streaming import StreamingQueryListener

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with _LOCK:
                    BATCHES.append(
                        (time.time(), p.batchId, dict(p.durationMs), p.numInputRows)
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        _LISTENER = ProgressListener()
    return _LISTENER


def listen(spark) -> None:
    """Attach the progress listener to ``spark`` (streams report to the
    session that started them; drains run on session clones)."""
    key = id(spark._jsparkSession)
    if key not in _LISTENING:
        _LISTENING.add(key)
        spark.streams.addListener(_listener())


def _listening_clone_factory():
    """Streams register with the StreamingQueryManager of the session
    clone a drain is built on, before any drain function sees the query:
    so the listener is attached where the clones are made."""
    from data_lake_for_citi_bike_trip_spark.streaming import pipeline

    orig = pipeline.scoped_session

    @functools.wraps(orig)
    def scoped(*args, **kwargs):
        clone = orig(*args, **kwargs)
        if _ENABLED:
            listen(clone)
        return clone

    return orig, scoped


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

ARROW_SENT = "data sent to Python workers"
ARROW_RECEIVED = "data returned from Python workers"


def parse_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs, stage->job map, tasks and stream progress of one app."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    progress = 0
    # checksums (".*") and the rolling log's empty status marker skipped
    paths = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if app_id in f and not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"], "end": None,
                        "stages": len(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
                elif kind.endswith("QueryProgressEvent"):
                    progress += 1
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks,
            "progress_events": progress}


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}

    def num(v) -> int:
        try:
            return int(v)
        except (TypeError, ValueError):
            return 0

    return {
        "stage": ev["Stage ID"],
        "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "arrow_sent": num(acc.get(ARROW_SENT)),
        "arrow_received": num(acc.get(ARROW_RECEIVED)),
    }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(log: dict, ops: list[dict]) -> dict:
    """Assign every job (and its stages' tasks) to the operation whose
    ``[start_ms, end_ms]`` window holds its submission; jobs outside
    every window belong to the harness (warm-up, verification)."""
    windows = sorted((op["start_ms"], op["end_ms"], i) for i, op in enumerate(ops))

    def owner(t_ms: float):
        for s, e, i in windows:
            if s <= t_ms <= e:
                return i
        return None

    job_op = {jid: owner(j["submit"]) for jid, j in log["jobs"].items()}
    per_op = [defaultdict(float) for _ in ops]
    harness = defaultdict(float)
    intervals: list[list] = [[] for _ in ops]
    for jid, j in log["jobs"].items():
        i = job_op[jid]
        acc = harness if i is None else per_op[i]
        acc["jobs"] += 1
        acc["stages"] += j["stages"]
        if i is not None:
            end = j["end"] if j["end"] is not None else ops[i]["end_ms"]
            intervals[i].append((max(j["submit"], ops[i]["start_ms"]), min(end, ops[i]["end_ms"])))
    for t in log["tasks"]:
        i = job_op.get(log["stage_job"].get(t["stage"]))
        acc = harness if i is None else per_op[i]
        acc["tasks"] += 1
        acc["failed_tasks"] += t["failed"]
        for k in ("run_ms", "cpu_ms", "gc_ms", "spill", "shuffle_read",
                  "shuffle_write", "arrow_sent", "arrow_received"):
            acc[k] += t[k]
    for i, op in enumerate(ops):
        wall_ms = op["end_ms"] - op["start_ms"]
        per_op[i]["driver_gap_ms"] = wall_ms - _union_ms(intervals[i])
    return {"per_op": [dict(p) for p in per_op], "harness": dict(harness)}


def layer_totals() -> dict:
    """Per-layer call count and self time over the spans recorded since
    the last :func:`reset`."""
    out: dict[str, float] = defaultdict(float)
    for layer, _, _, self_s in SPANS:
        out[f"{layer}.calls"] += 1
        out[f"{layer}.self_s"] += self_s
    return dict(out)


def op_layer_jobs(spans, ops: list[dict], per_op: list[dict]) -> dict:
    """Jobs of the operations that entered each layer. Operators build
    plans lazily, so their jobs run after their spans have closed."""
    out: dict[str, float] = defaultdict(float)
    for layer in {s[0] for s in spans}:
        for op, acc in zip(ops, per_op):
            if any(s[0] == layer and op["start_ms"] <= (s[1] + EPOCH_OFFSET) * 1000 <= op["end_ms"]
                   for s in spans):
                out[layer] += acc.get("jobs", 0)
    return dict(out)


def layer_jobs(spans, log: dict) -> dict:
    """Jobs submitted while a span of each layer was open: for layers
    that run their own actions, such as the eager data-quality checks."""
    by_layer: dict[str, list] = defaultdict(list)
    for layer, t0, t1, _ in spans:
        by_layer[layer].append(((t0 + EPOCH_OFFSET) * 1000, (t1 + EPOCH_OFFSET) * 1000))
    return {
        layer: sum(
            1 for j in log["jobs"].values()
            if any(s <= j["submit"] <= e for s, e in windows)
        )
        for layer, windows in by_layer.items()
    }
