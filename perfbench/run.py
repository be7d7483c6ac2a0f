"""Run one workload of the bytehub_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload retrieve --seed 1 --seconds 10 --trace 0

Workloads: retrieve and ingest (see workloads.py and BENCHMARK.json). The
run starts a Spark session on ``local[nproc]``, builds the workload's inputs
from the seed several times (the median build is part of ``setup_s``), warms
every op type, measures whole passes of a closed loop until ``--seconds``
have passed, then checks every answer kept during the window.

Output: a ``{"detail": ...}`` line with sample counts, the workload's own
figures and contention telemetry, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the per-layer ones,
measured by the instrumentation in tracing.py. ``--smoke`` shrinks every input.

Everything the run writes goes under ``.bench_work/`` (removed at exit) and
``.bench_out/`` (span dumps of traced runs) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "jobs_per_op": "count", "tasks_per_op": "count",
    "stored_bytes_per_user_byte": "ratio", "setup_s": "s",
}
BUILDS = 2  # set-ups per run; setup_s takes their median


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_out"),
                    help="where a traced run writes its spans and layer table")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run and its JVM write inside ``work``; let the
    Python workers import the program and the benchmark."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=" + os.path.join(work, "tmp")
    sys.path[:0] = [ROOT, HERE]


# ---------------------------------------------------------------------------
# process tree: CPU time, peak RSS and shutdown
# ---------------------------------------------------------------------------


def _tree(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _peak_rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


class CpuMeter:
    """CPU time of the run's process tree (this process, the JVM, the Python
    workers), user + system, in ms. A process or thread that has exited
    keeps its last reading, so the total never falls when a Python worker
    ends. The JVM's JIT compiler threads and its code-cache sweeper are
    left out: they keep compiling Spark's own code for minutes after start,
    in bursts that depend on how long the JVM has run, not on the op being
    measured. So are threads passed to ``skip_thread``."""

    def __init__(self):
        self.tick_ms = 1000.0 / os.sysconf("SC_CLK_TCK")
        self.procs: dict[tuple, int] = {}  # (pid, start time) -> ticks last read
        self.jit: dict[tuple, int] = {}  # (pid, tid) -> ticks last read
        self.skipped: dict[int, int] = {}  # tid in this process -> ticks last read

    @staticmethod
    def _stat(path):
        """(command name, start time, user + system ticks) of a /proc stat file."""
        with open(path) as f:
            head, tail = f.read().rsplit(")", 1)
        fields = tail.split()
        return head.split("(", 1)[1], fields[19], int(fields[11]) + int(fields[12])

    def skip_thread(self, tid: int) -> None:
        self.skipped[tid] = 0

    def __call__(self) -> float:
        for t in self.skipped:
            try:
                self.skipped[t] = self._stat(f"/proc/self/task/{t}/stat")[2]
            except OSError:
                pass
        for p in _tree(os.getpid()):
            try:
                comm, start, ticks = self._stat(f"/proc/{p}/stat")
                self.procs[(p, start)] = ticks
                if comm == "java":
                    for t in os.listdir(f"/proc/{p}/task"):
                        name, _, ticks = self._stat(f"/proc/{p}/task/{t}/stat")
                        if name.startswith(JIT_THREADS):
                            self.jit[(p, t)] = ticks
            except (OSError, IndexError, ValueError):
                continue
        skipped = sum(self.jit.values()) + sum(self.skipped.values())
        return (sum(self.procs.values()) - skipped) * self.tick_ms

    def jit_ms(self) -> float:
        """CPU time of the JIT threads up to the last call, in ms."""
        return sum(self.jit.values()) * self.tick_ms


class SpeedProbe(threading.Thread):
    """Samples how fast the host runs code while the window is measured:
    every ``PERIOD`` s, the CPU time of a fixed pure-Python loop on this
    thread. On a shared host the loop's time moves up to 2.5x with the load
    of other tenants, which steal ticks do not fully show; the result sits
    next to the steal ticks in the run's telemetry. The meter leaves this thread's
    own CPU time out."""

    PERIOD = 0.1
    LOOP = 50_000

    def __init__(self, meter: CpuMeter):
        super().__init__(daemon=True)
        self.meter = meter
        self.halt = threading.Event()
        self.samples: list[float] = []

    def run(self) -> None:
        self.meter.skip_thread(threading.get_native_id())
        while not self.halt.wait(self.PERIOD):
            t0 = time.thread_time()
            x = 0
            for i in range(self.LOOP):
                x += i * i
            self.samples.append((time.thread_time() - t0) * 1000.0)

    def stop(self) -> float:
        """Ends the sampling; returns the median loop time in ms."""
        self.halt.set()
        self.join()
        return statistics.median(self.samples)


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _spark_work(spark, first_job: int) -> tuple[int, int]:
    """(jobs, tasks run) of the Spark jobs from ``first_job`` on, read from
    Spark's status tracker once its listener bus has caught up."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    status = spark.sparkContext.statusTracker()
    jobs = range(first_job, _next_job(spark))
    tasks = 0
    for j in jobs:
        job = status.getJobInfo(j)
        for s in job.stageIds if job else ():
            stage = status.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks


def _stop(spark, pids) -> None:
    """Stop Spark, end the JVM, and wait for every process the run started."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    rest = [p for p in pids if p != os.getpid()]
    while rest and time.time() < deadline:
        rest = [p for p in rest if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in rest:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------


class Context:
    def __init__(self, spark, work, seed, smoke, tracer, to_pandas):
        self.spark, self.work, self.seed, self.smoke = spark, work, seed, smoke
        self.tracer = tracer
        self.to_pandas = to_pandas
        self.cpu_ms = CpuMeter()
        self.python_nodes = 0

    def count_python_nodes(self, df) -> None:
        if self.tracer.enabled:
            import tracing as tr

            self.python_nodes += tr.python_nodes(df)


def _geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bytehub_spark")):
        print(f"no bytehub_spark package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work) -> int:
    import bench
    import workloads
    import tracing as tr

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    from bytehub_spark.session import get_spark
    telemetry = {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "steal_ticks_before": bench._steal_ticks(),
        "loadavg_before": os.getloadavg(),
    }
    tracer = tr.Tracer(bool(args.trace))
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        conf.update(tr.event_log_conf(os.path.join(work, "events")))

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    pids = _tree(os.getpid())
    frame_cls = type(spark.range(0))
    to_pandas = frame_cls.toPandas  # the benchmark's own action, never traced
    try:
        ctx = Context(spark, work, args.seed, args.smoke, tracer, to_pandas)
        if args.trace:
            _instrument(tracer, frame_cls)
        w = workloads.WORKLOADS[args.workload](ctx)
        builds = []
        for _ in range(1 if args.smoke else BUILDS):
            t0 = time.perf_counter()
            w.build()
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t0
        codegen = tr.Codegen(spark) if args.trace else None

        errors, ops_failed, n_ops = [], 0, 0
        w.cpu = {}
        probe = SpeedProbe(ctx.cpu_ms)
        probe.start()
        ctx.cpu_ms()
        jit0 = ctx.cpu_ms.jit_ms()
        job0 = _next_job(spark)
        win0 = time.time()
        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        while time.perf_counter() < deadline:
            try:
                for op, ms in w.step():
                    w.samples.setdefault(op, []).append(ms)
                    n_ops += 1
            except Exception as e:  # an op that raises counts as failed
                ops_failed += 1
                n_ops += 1
                errors.append(repr(e)[:300])
                if ops_failed > 20:
                    break
        window_s = time.perf_counter() - t0
        win1 = time.time()
        ctx.cpu_ms()
        jit_ms = ctx.cpu_ms.jit_ms() - jit0
        layer_extra = codegen.read() if codegen else {}
        layer_extra.update(w.layer())
        probe_ms = probe.stop()
        n_jobs, n_tasks = _spark_work(spark, job0)
        peak_rss = _peak_rss_mb(_tree(os.getpid()))

        t0 = time.perf_counter()
        checked, wrong, reasons = w.check()
        check_s = time.perf_counter() - t0
        detail = w.detail()
        pids = _tree(os.getpid())
    finally:
        t0 = time.perf_counter()
        _stop(spark, pids)
        stop_s = time.perf_counter() - t0

    attempted = n_ops
    failed = ops_failed + min(wrong, attempted)
    detail["fail_ratio"] = failed / max(1, attempted)
    # JVM heap growth follows GC timing, so the peak varies ~20% run to
    # run: a per-layer figure, not a bounded end-to-end one
    detail["peak_rss_mb"] = peak_rss
    # Times are per-layer figures. On a shared host the same op's wall and
    # CPU time move 3-4x with other tenants' load within minutes (see
    # perfbench/README.md), which no run length averages out; the bounded
    # end-to-end metrics are the work each op costs Spark and the space the
    # store takes, which repeat exactly for a seed.
    lat = {op: statistics.median(w.samples[op]) for op in w.latency_ops if w.samples.get(op)}
    detail["latency_ms"] = _geomean(lat.values())
    detail["ops_per_s"] = n_ops / window_s
    detail["op_cpu_ms"] = _geomean(statistics.median(v) for v in w.cpu.values() if v)
    e2e = {
        "jobs_per_op": n_jobs / max(1, n_ops),
        "tasks_per_op": n_tasks / max(1, n_ops),
        "stored_bytes_per_user_byte": detail["stored_bytes_per_user_byte"],
        "setup_s": session_s + statistics.median(builds) + warm_s,
    }
    telemetry.update(
        steal_ticks_after=bench._steal_ticks(), loadavg_after=os.getloadavg(),
        probe_ms=probe_ms,
    )
    telemetry["steal_ticks_delta"] = (
        telemetry["steal_ticks_after"] - telemetry["steal_ticks_before"]
        if telemetry["steal_ticks_before"] is not None
        and telemetry["steal_ticks_after"] is not None else None
    )
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "window_s": window_s, "ops": n_ops, "checked": checked, "wrong": wrong,
        "samples": {op: len(v) for op, v in w.samples.items()},
        "samples_ms": w.samples,
        "cpu_ms": w.cpu,
        "jit_cpu_ms": jit_ms,
        "p50_ms": {op: statistics.median(v) for op, v in w.samples.items()},
        "p90_ms": {op: workloads.pct(v, 90) for op, v in w.samples.items()},
        "workload_metrics": detail,
        "setup": {"session_s": session_s, "builds_s": builds, "warm_s": warm_s,
                  "warm_ms": w.warm_ms},
        "check_s": check_s, "stop_s": stop_s,
        "end_to_end": e2e,
        "telemetry": telemetry,
        "errors": (errors + reasons)[:10],
    }
    if args.trace:
        import layers

        metrics, by_op = layers.per_layer(tracer, w, ctx, os.path.join(work, "events"),
                                          win0, win1, session_s, detail, layer_extra)
        os.makedirs(args.out, exist_ok=True)
        stem = os.path.join(args.out, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as f:
            json.dump({**info, "per_layer": metrics,
                       "per_op_type": by_op}, f, indent=1, default=str)
        units = layers.UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    print(json.dumps({"detail": info}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _instrument(tracer, frame_cls) -> None:
    """Wrap the public functions of each bytehub_spark module."""
    import tracing as tr

    import __spark_entry__ as entry

    from bytehub_spark import core, timeseries
    from bytehub_spark.catalog import Catalog
    from bytehub_spark.storage import SparkStorage

    tracer.wrap_public(Catalog, "catalog")
    tracer.wrap_public(core.FeatureStore, "core")
    tracer.wrap_public(SparkStorage, "storage", skip=("open", "write", "compact"))
    for fn in ("dedup_latest", "time_travel", "locf", "resample", "align",
               "time_grid", "time_bounds", "first_row", "last_row"):
        tracer.wrap(timeseries, fn, f"timeseries.{fn}")
    tracer.wrap(entry, "load_table", "sources.load_table")
    tracer.wrap(frame_cls, "toPandas", "arrow.topandas")

    def around_open(rec, args, kwargs, call):
        self, name = args[0], args[1] if len(args) > 1 else kwargs["name"]
        rec[6] = {"hit": self._open_cache.get(name) is not None}
        return call()

    def around_files(rec, args, kwargs, call):
        self, name = args[0], args[1] if len(args) > 1 else kwargs["name"]
        before = tr.dir_files(self.feature_path(name))
        out = call()
        after = tr.dir_files(self.feature_path(name))
        new = {p: s for p, s in after.items() if p not in before and p.endswith(".parquet")}
        rec[6] = {"files": len(new), "bytes": sum(new.values())}
        return out

    tracer.wrap(SparkStorage, "open", "storage.open", around_open)
    tracer.wrap(SparkStorage, "write", "storage.write", around_files)
    tracer.wrap(SparkStorage, "compact", "storage.compact", around_files)


if __name__ == "__main__":
    sys.exit(main())
