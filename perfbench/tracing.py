"""Traced-run instrumentation, recorded from outside the program.

* Spans: the benchmark wraps the public functions of each ``bytehub_spark``
  module (and its own calls into them) so every call records a span with a
  name, start, end, parent and the request id of the op it belongs to.
  Spans stay in memory and are written out when the run ends.
* Spark counters: an event log written under the run's work directory and
  parsed here (jobs, stages, task metrics), ``CodegenMetrics`` read through
  the JVM gateway, and executed-plan strings.

A layer's self time is the time its spans cover minus the part covered by
their child spans. Untraced runs install nothing: ``Tracer(False)`` hands
out no-op spans.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import glob
import itertools
import json
import os
import re
import threading
import time
from collections import defaultdict

PY_NODE_RE = re.compile(r"\b\w*(?:InPandas|InArrow|EvalPython|AggregatePython|WindowPython)\w*")
HUGE_METHOD_BYTES = 8000  # HotSpot's HugeMethodLimit: larger methods never JIT


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [id, parent, rid, name, t0, t1, attrs]
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: list | None = None  # innermost span of the client thread
        self._rid = 0
        self.op_kinds: dict[int, str] = {}

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        rec = [next(self._ids), parent[0] if parent else 0,
               parent[2] if parent else self._rid, name, time.time(), None, None]
        stack.append(rec)
        main = threading.current_thread() is threading.main_thread()
        if main:
            self._root = rec
        try:
            yield rec
        finally:
            rec[5] = time.time()
            stack.pop()
            if main:
                self._root = stack[-1] if stack else None
            with self._lock:
                self.spans.append(rec)

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def op(self, kind: str):
        """Root span of one request; its spans share a new request id."""
        if not self.enabled:
            return contextlib.nullcontext()
        self._rid += 1
        self.op_kinds[self._rid] = kind
        return self._span(f"op.{kind}")

    # -- wrapping the program's public functions ---------------------------

    def wrap(self, owner, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` with a version that records span ``name``.
        ``around(args, kwargs, call)`` may measure extra attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self._span(name) as rec:
                if around is None:
                    return fn(*args, **kwargs)
                return around(rec, args, kwargs, lambda: fn(*args, **kwargs))

        setattr(owner, attr, traced)

    def wrap_public(self, owner, layer: str, skip=()) -> None:
        for attr, val in list(vars(owner).items()):
            if attr.startswith("_") or attr in skip or not callable(val):
                continue
            if isinstance(val, (staticmethod, classmethod, type)):
                continue
            self.wrap(owner, attr, f"{layer}.{attr}")

    # -- analysis --------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> self time in ms (duration minus the union of child
        intervals clipped to the span)."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s[1]].append(s)
        out = {}
        for s in self.spans:
            t0, t1 = s[4], s[5]
            iv = sorted((max(c[4], t0), min(c[5], t1)) for c in kids[s[0]])
            covered, cur0, cur1 = 0.0, None, None
            for a, b in iv:
                if b <= a:
                    continue
                if cur1 is None or a > cur1:
                    if cur1 is not None:
                        covered += cur1 - cur0
                    cur0, cur1 = a, b
                else:
                    cur1 = max(cur1, b)
            if cur1 is not None:
                covered += cur1 - cur0
            out[s[0]] = max(0.0, (t1 - t0) - covered) * 1000.0
        return out

    def owner_of(self, t: float):
        """Innermost span covering epoch time ``t``: of the spans open at
        ``t``, the one that started last. Call ``index()`` first."""
        i = bisect.bisect_right(self._starts, t)
        while i > 0:
            i -= 1
            s = self._sorted[i]
            if s[5] >= t:
                return s
        return None

    def index(self) -> None:
        self._sorted = sorted(self.spans, key=lambda s: s[4])
        self._starts = [s[4] for s in self._sorted]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s[0], "parent": s[1], "rid": s[2], "name": s[3],
                    "start": s[4], "end": s[5], **(s[6] or {}),
                }) + "\n")


# ---------------------------------------------------------------------------
# Spark's own counters
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs with submission time (epoch s) and summed task metrics."""
    jobs, stage_job, metrics = {}, {}, defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"job": jid, "t": ev["Submission Time"] / 1000.0,
                                 "stages": len(ev.get("Stage IDs", []))}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = metrics[ev["Stage ID"]]
                    acc["tasks"] += 1
                    acc["executor_run_ms"] += m.get("Executor Run Time", 0)
                    acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, acc in metrics.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            for k, v in acc.items():
                job[k] = job.get(k, 0) + v
    return sorted(jobs.values(), key=lambda j: j["t"])


class Codegen:
    """Deltas of Spark's process-wide ``CodegenMetrics`` histograms."""

    def __init__(self, spark):
        cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.compile = cm.METRIC_COMPILATION_TIME()
        self.method = cm.METRIC_GENERATED_METHOD_BYTECODE_SIZE()
        self.c0 = self._compile_total()
        self.m0 = self.method.getCount()

    def _compile_total(self) -> float:
        snap = self.compile.getSnapshot()
        return snap.getMean() * self.compile.getCount()

    def read(self) -> dict:
        sizes = list(self.method.getSnapshot().getValues())
        return {
            "codegen.methods": self.method.getCount() - self.m0,
            "codegen.compile_ms": self._compile_total() - self.c0,
            "codegen.max_method_bytes": max(sizes) if sizes else 0,
            "codegen.fallbacks": sum(1 for s in sizes if s > HUGE_METHOD_BYTES),
        }


def python_nodes(df) -> int:
    """``*InPandas``/``ArrowEvalPython``-style nodes in the executed plan."""
    return len(PY_NODE_RE.findall(df._jdf.queryExecution().executedPlan().toString()))


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def partition_file_counts(path: str) -> list[int]:
    """Data files per partition directory under a namespace."""
    counts = []
    for root, _dirs, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n and os.path.basename(root).startswith("partition="):
            counts.append(n)
    return counts
