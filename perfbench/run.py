"""The repo benchmark: one workload per process, cold operations, every
output verified.

Usage (from the repository root)::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads are named in ``workloads.WORKLOADS``. A run sets up once,
cold: from process start it builds the session, stages the inputs and
loads the contract queries and their oracles. It then runs complete
passes over the workload's operations, in the order the seed gives:
one, and more while the next fits in ``--seconds``. Before each
operation the operator caches are dropped, outside the timed region. A
query operation is timed from the call of its query function until its
rows are collected to Python (``bench.py`` executes into the noop sink
instead, so here the action also moves the result to the driver); the
rows are then verified outside the timed region. Load is a closed loop
with one client on ``local[cpus]``, under the program's own session
settings (driver heap included).

``--trace 0`` prints the end-to-end metrics: ``setup_s``, ``cpu_s`` (CPU
seconds the process tree spent inside the operations of a pass) and
``peak_live_heap_mb`` (the most JVM heap still in use after a full
collection run between operations). ``setup_s`` is the median of two
cold set-ups, each from process start to the first operation: this
process's own and, after its passes, one in a fresh process
(``--probe``) that stops there. Wall time (``wall_s``, the sum of
operation times), latency percentiles, ingest rates and ``peak_rss_mb``
(the summed peak RSS of the Python driver, the JVM and the Python
workers) are in the record but not bounded: on a shared host, time
taken by other machines spreads the times two to three times as widely
as CPU seconds, and the JVM grows its heap on the collector's schedule.
``--trace 1`` runs one traced pass (layer wrappers, Spark event log,
streaming listener) and prints the per-layer metrics; it then runs the
first quarter of the pass untraced, traced and untraced again on the
warmed JVM and reports the traced time over the mean untraced time as
the tracing overhead.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The full record (per-operation times, CPU
seconds, JIT compile milliseconds, live heap and errors, latency
percentiles with their sample count, per-family pass times and, when
traced, per-operation Spark metrics), stamped with cpus, Spark
version, sf and seed, goes to
``perfbench/results/``; ``compare.py`` compares two sets of records.
Scratch inputs and lakes live under ``perfbench/.work/`` and are
removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_lake_for_citi_bike_trip_spark"
#: cold set-ups in fresh processes, besides the run's own; each costs
#: a JVM start, so more would not fit the run's time budget
PROBES = 1
#: time Spark's ContextCleaner gets to drop what a collection freed
CLEANER_WAIT_S = 0.25
#: the environment the run started with, handed to the probes
BASE_ENV = dict(os.environ)

sys.path[:0] = [ROOT, HERE]

from workloads import WORKLOADS  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set up, print the set-up time and exit: one cold set-up for setup_s
    p.add_argument("--probe", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def since_exec_s() -> float:
    """Seconds from this process's exec to ``T_START`` (interpreter
    start-up), from the start time the kernel records, in clock ticks."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / hz
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - started - (time.perf_counter() - T_START))


#: interpreter start-up before ``T_START``: set-up times count from exec
PRE_START_S = since_exec_s()


def configure_env(work: str, cpus: int, event_log: str | None = None) -> None:
    """Keep every file the run writes under ``work``, and turn Spark's
    event log on (``event_log``) for the first context; must run before
    the JVM starts (Python workers inherit this environment)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update(event_log_conf(event_log))
    args = ["--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}")]
    for key, value in confs.items():
        args += ["--conf", shlex.quote(f"{key}={value}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp


def event_log_conf(log_dir: str) -> dict[str, str]:
    """An uncompressed Spark event log under ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    }


def set_event_log(spark_jvm, log_dir: str | None) -> None:
    """Turn Spark's event log on (``log_dir``) or off for the next
    SparkContext: SparkConf reads ``spark.*`` JVM system properties."""
    system = spark_jvm.java.lang.System
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        for key, value in event_log_conf(log_dir).items():
            system.setProperty(key, value)
    else:
        system.setProperty("spark.eventLog.enabled", "false")


def _tree_pids() -> list[int]:
    """This process and its descendants: the Python driver, the JVM and
    the Python workers."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += children.get(pid, [])
    return pids


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over the process tree."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def live_heap_mb(spark) -> float:
    """The JVM heap the program keeps live: used heap right after a full
    collection. Run between operations, while an operation's caches are
    still held; the garbage it leaves is not counted. Python garbage is
    collected first: py4j proxies in it pin their JVM objects. Blocks of
    unreachable broadcasts and RDDs stay in the block manager until
    Spark's ContextCleaner thread removes them, which it does only after
    a collection has found them, so the heap is collected twice."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(CLEANER_WAIT_S)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def compile_ms(spark) -> int:
    """Milliseconds the JVM's JIT compilers have spent so far."""
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean().getTotalCompilationTime()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) the process tree has used, counting
    exited children its processes have reaped; time the hypervisor gave
    to other machines (steal) is not in it."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    def __init__(self, args, work: str, cpus: int):
        self.args = args
        self.work = work
        self.cpus = cpus
        #: the traced run's event log, on from the first context
        self.event_log = os.path.join(work, "eventlog") if args.trace else None
        self.spark = None
        self.inputs = None
        self.runner = None

    # -- set-up ------------------------------------------------------------

    def start_session(self, event_log: str | None = None) -> None:
        """Build the session, or stop it and build a new SparkContext on
        the running JVM with the event log on (``event_log``) or off."""
        from pyspark import SparkContext

        from data_lake_for_citi_bike_trip_spark import session

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if SparkContext._jvm is not None:
            set_event_log(SparkContext._jvm, event_log)
        self.spark = session.get_session(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self) -> dict[str, float]:
        """The run's one set-up, cold: build the session, stage the
        inputs and load the queries and their oracles. Returns the
        seconds from process start to the end of each phase."""
        from workloads import Inputs, Runner

        marks = {}

        def mark(phase):
            marks[phase] = time.perf_counter() - T_START + PRE_START_S

        self.start_session()
        mark("session")
        self.inputs = Inputs(self.args.workload, os.path.join(self.work, "inputs"),
                             self.args.seed, self.cpus)
        mark("inputs")
        self.runner = Runner(self.spark, self.inputs)
        mark("runner")
        return marks

    # -- passes ------------------------------------------------------------

    def run_pass(self, order, sample_cache: bool = False) -> list[dict]:
        from data_lake_for_citi_bike_trip_spark import caching
        from tracer import EPOCH_OFFSET

        runner = self.runner
        runner.spark = self.spark
        self.inputs.reset_lake()
        ops = []
        for name in order:
            caching.release_data_caches()
            self.spark.catalog.clearCache()
            jit0 = compile_ms(self.spark)
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            error = None
            try:
                built, out = runner.run(name)
            except Exception as exc:  # counted in failed, never fatal
                out, error = None, f"{type(exc).__name__}: {str(exc)[:300]}"
            t1 = time.perf_counter()
            cpu1 = tree_cpu_s()
            jit1 = compile_ms(self.spark)
            if error:
                built = t1
            op = {
                "name": name,
                "seconds": t1 - t0,
                "cpu_s": cpu1 - cpu0,
                "jit_ms": jit1 - jit0,
                "build_s": built - t0,
                "action_s": t1 - built,
                "start_ms": (t0 + EPOCH_OFFSET) * 1000.0,
                "end_ms": (t1 + EPOCH_OFFSET) * 1000.0,
            }
            if sample_cache:
                infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                op["cached_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
            op["live_heap_mb"] = live_heap_mb(self.spark)
            if error is None:
                try:
                    error = runner.verify(name, out, op["seconds"])
                except Exception as exc:
                    error = f"verify {type(exc).__name__}: {str(exc)[:300]}"
            op["verify_s"] = time.perf_counter() - t1
            op["error"] = error
            if error:
                print(f"# {name}: FAILED {error}", file=sys.stderr)
            ops.append(op)
        return ops

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def pass_wall(ops: list[dict]) -> float:
    return sum(op["seconds"] for op in ops)


def probe_setup(args) -> float:
    """One cold set-up in a fresh process: its seconds from process
    start to the first operation."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--probe"]
    proc = subprocess.run(cmd, env=BASE_ENV, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=150)
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"]


def untraced(bench: Bench) -> tuple[dict, list[dict], dict]:
    from workloads import FAMILIES, lake_bytes, ordered

    setup = bench.setup()
    runner = bench.runner
    order = ordered(bench.args.workload, bench.args.seed)
    ops: list[dict] = []
    walls, cpus = [], []
    t0 = time.perf_counter()
    while True:
        p = bench.run_pass(order)
        ops += p
        walls.append(pass_wall(p))
        cpus.append(sum(op["cpu_s"] for op in p))
        elapsed = time.perf_counter() - t0
        if elapsed + elapsed / len(walls) > bench.args.seconds:
            break  # the next pass would not fit
    metrics = {
        "setup_s": {"value": setup["runner"], "unit": "s"},
        "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
        "peak_live_heap_mb": {"value": max(op["live_heap_mb"] for op in ops), "unit": "MB"},
    }
    # Latency percentiles of a few heterogeneous operations rest on one or
    # two samples each, so they are recorded here rather than bounded.
    lat = sorted(op["seconds"] for op in ops)
    st = bench.inputs.staging
    extra = {
        "setup_phases_s": setup,
        "peak_rss_mb": tree_peak_rss_mb(),
        "wall_s": statistics.median(walls),
        "pass_walls_s": walls,
        "pass_cpu_s": cpus,
        # per query family, summed over the passes
        "families": {
            family: {
                "wall_s": pass_wall(fam),
                "cpu_s": sum(op["cpu_s"] for op in fam),
            }
            for family, names in FAMILIES.items()
            if (fam := [op for op in ops if op["name"] in names])
        },
        "latency_samples": len(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
        "failed_frac": sum(1 for op in ops if op["error"]) / len(ops),
        "ingest_rows_per_s": runner.ingested_rows / runner.ingest_s if st else None,
        "stored_bytes_per_input_byte": (
            lake_bytes(bench.inputs.lake) / st.input_bytes if st else None),
    }
    return metrics, ops, extra


def traced(bench: Bench) -> tuple[dict, list[dict], dict]:
    import tracer
    from workloads import lake_bytes, ordered

    import __spark_entry__  # noqa: F401  (loads every layer module)

    tracer.install()
    bench.setup()  # the event log is on from the first context
    setup_spans = [s for s in tracer.SPANS if s[0] == "session.get_session"]
    tracer.reset()
    runner = bench.runner
    order = ordered(bench.args.workload, bench.args.seed)
    tracer.listen(bench.spark)
    ops = bench.run_pass(order, sample_cache=True)
    ingest_rows, ingest_s = runner.ingested_rows, runner.ingest_s
    written = sum(tracer.WRITTEN_BYTES)
    stored = lake_bytes(bench.inputs.lake)
    batches = list(tracer.BATCHES)
    app_id = bench.spark.sparkContext.applicationId
    layers = tracer.layer_totals()
    spans = tracer.SPANS[:]
    tracer.uninstall()
    bench.spark.stop()  # flushes the event log
    bench.spark = None
    log = tracer.parse_event_log(bench.event_log, app_id)
    attr = tracer.attribute(log, ops)
    layer_jobs = tracer.layer_jobs(spans, log)
    op_jobs = tracer.op_layer_jobs(spans, ops, attr["per_op"])

    # overhead: the first quarter of the pass untraced, traced, untraced
    # again, all on the warmed JVM; the untraced baseline is the mean of
    # the two, so warm-up that continues across passes does not count
    part = order[: max(1, len(order) // 4)]
    untraced_walls = []
    for traced_pass in (False, True, False):
        bench.start_session(os.path.join(bench.work, "eventlog2") if traced_pass else None)
        if traced_pass:
            tracer.install()
            tracer.listen(bench.spark)
            t_wall = pass_wall(bench.run_pass(part))
            tracer.uninstall()
        else:
            untraced_walls.append(pass_wall(bench.run_pass(part)))
    u_wall = statistics.mean(untraced_walls)

    per_op = attr["per_op"]

    def total(key):
        return float(sum(p.get(key, 0) for p in per_op))

    def share(layer):
        """Self time as a share of the traced pass, comparable across
        workloads; the seconds are in the record's ``layers``."""
        return layers.get(f"{layer}.self_s", 0.0) / wall

    def phase_share(phase):
        trigger = sum(b[2].get("triggerExecution", 0) for b in batches)
        return sum(b[2].get(phase, 0) for b in batches) / trigger if trigger else 0.0

    wall = pass_wall(ops)
    st = bench.inputs.staging
    run_ms = total("run_ms")
    metrics = {
        "session.get_session_s": (setup_spans[0][3], "s"),
        "sources.load_table.calls": (layers.get("sources.load_table.calls", 0), "count"),
        "sources.load_table.self_frac": (share("sources.load_table"), "frac"),
        "query.build_s": (sum(op["build_s"] for op in ops), "s"),
        "query.action_s": (sum(op["action_s"] for op in ops), "s"),
        "spark.jobs": (total("jobs"), "count"),
        "spark.stages": (total("stages"), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.driver_gap_s": (total("driver_gap_ms") / 1000.0, "s"),
        "sources.read_staging.self_frac": (share("sources.read_staging"), "frac"),
        "sources.write_table.calls": (layers.get("sources.write_table.calls", 0), "count"),
        "sources.write_table.self_frac": (share("sources.write_table"), "frac"),
        "sources.write_table.bytes": (written, "bytes"),
        "sources.txn.commits": (layers.get("sources.txn.publish.calls", 0), "count"),
        "sources.txn.self_frac": (share("sources.txn") + share("sources.txn.publish"), "frac"),
        "pipelines.elt.run_elt.self_frac": (share("pipelines.elt.run_elt"), "frac"),
        "plans.checks.self_frac": (share("plans.checks"), "frac"),
        "plans.checks.jobs": (layer_jobs.get("plans.checks", 0), "count"),
        "elt.ingest_rows_per_s": (ingest_rows / ingest_s if ingest_s else 0.0, "rows/s"),
        "elt.stored_bytes_per_input_byte": (stored / st.input_bytes if st else 0.0, "ratio"),
        "streaming.pipeline.self_frac": (share("streaming.pipeline"), "frac"),
        "streaming.batches": (len(batches), "count"),
        **{f"streaming.{ph}_frac": (phase_share(ph), "frac")
           for ph in ("addBatch", "queryPlanning", "walCommit", "commitOffsets")},
        "operators.graph.self_frac": (share("operators.graph"), "frac"),
        "operators.graph.jobs": (op_jobs.get("operators.graph", 0), "count"),
        "operators.dedup.self_frac": (share("operators.dedup"), "frac"),
        "operators.dedup.jobs": (op_jobs.get("operators.dedup", 0), "count"),
        "caching.cached.calls": (layers.get("caching.cached.calls", 0), "count"),
        "caching.release.self_s": (layers.get("caching.release.self_s", 0.0), "s"),
        "caching.peak_cached_bytes": (max(op["cached_bytes"] for op in ops), "bytes"),
        "spark.shuffle_write_bytes": (total("shuffle_write"), "bytes"),
        "spark.shuffle_read_bytes": (total("shuffle_read"), "bytes"),
        "operators.similarity.self_frac": (share("operators.similarity"), "frac"),
        "operators.multimodal.self_frac": (share("operators.multimodal"), "frac"),
        "arrow.bytes_to_python": (total("arrow_sent"), "bytes"),
        "arrow.bytes_from_python": (total("arrow_received"), "bytes"),
        "spark.executor_run_ms": (run_ms, "ms"),
        "spark.executor_cpu_ms": (total("cpu_ms"), "ms"),
        "spark.gc_frac": (total("gc_ms") / run_ms if run_ms else 0.0, "frac"),
        "spark.spill_bytes": (total("spill"), "bytes"),
        "spark.core_busy_frac": (run_ms / (wall * 1000.0 * bench.cpus), "frac"),
        "operators.star.self_frac": (share("operators.star"), "frac"),
        "operators.analytics.self_frac": (share("operators.analytics"), "frac"),
        "operators.sqlsurface.self_frac": (share("operators.sqlsurface"), "frac"),
        "spark.failed_tasks": (total("failed_tasks"), "count"),
        "tracing.overhead_frac": (t_wall / u_wall - 1.0, "frac"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    extra = {
        # every job lands in an operation or the harness between them
        "event_log_jobs": len(log["jobs"]),
        "jobs_in_ops": total("jobs"),
        "jobs_in_harness": attr["harness"].get("jobs", 0),
        "event_log_progress_events": log["progress_events"],
        "listener_batches": len(batches),
        "traced_wall_s": wall,
        "overhead_passes_s": {"untraced": untraced_walls, "traced": t_wall},
        "per_op_spark": per_op,
        "layers": layers,
    }
    return metrics, ops, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, PKG))):
        print(f"error: {ROOT} holds no {PKG} package and __spark_entry__.py; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = Bench(args, work, cpus)
    configure_env(work, cpus, bench.event_log)

    try:
        if args.probe:
            setup_s = bench.setup()["runner"]
        else:
            metrics, ops, extra = (traced if args.trace else untraced)(bench)
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch is still there
    if args.probe:
        print(json.dumps({"setup_s": setup_s}))
        return 0
    if not args.trace:
        # the run's own set-up and the probes', each in a process of its
        # own, with no other run's JVM alive
        extra["setups_s"] = [metrics["setup_s"]["value"]]
        extra["setups_s"] += [probe_setup(args) for _ in range(PROBES)]
        metrics["setup_s"]["value"] = statistics.median(extra["setups_s"])

    import pyspark

    from workloads import SF

    failed = sum(1 for op in ops if op["error"])
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "spark_version": pyspark.__version__,
        "sf": SF, "ts": time.time(), "ops": ops, **extra, **result,
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(
        HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "cpus", "spark_version", "sf")}
                     | {"latency_samples": extra.get("latency_samples"), "record": path}),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
