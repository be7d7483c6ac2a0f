"""The workloads. Each is a closed loop with one client thread:

* ``build()`` makes the inputs from the seed and sets up what the loop
  needs (a store, event files, operator tables). The runner calls it
  several times and reports the median as part of ``setup_s``; the loop
  uses the last build.
* ``warm()`` runs every op type, untimed, so caches fill, lazy set-up
  finishes and the JIT settles before the measured window.
* ``step()`` issues one round of requests and returns
  ``[(op_type, ms), ...]``.
* ``check()`` compares every answer kept during the window with an oracle
  and returns ``(checked, failed_ops, reasons)``; it runs after the window.
* ``detail()`` returns the workload's own figures (see BENCHMARK.json).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

import gen
import oracle


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def pct(values, q) -> float:
    """The ``q``-th percentile, 0 for no values."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def stored_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _d, files in os.walk(path) for f in files)


def user_bytes(frame: pd.DataFrame) -> int:
    """Payload the user handed over: 8 bytes per timestamp and float, the
    JSON text of a serialized value."""
    n, value = len(frame), frame["value"]
    stamps = sum(c in frame for c in ("time", "created_time"))
    return 8 * stamps * n + (int(value.str.len().sum()) if value.dtype == object else 8 * n)


def _concurrently(first, *rest) -> None:
    """Run warm-up steps side by side (Spark runs their jobs concurrently):
    ``first`` on the calling thread, which holds the active Spark session,
    the rest on their own threads. Re-raises the first failure."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(rest)) as ex:
        futs = [ex.submit(fn) for fn in rest]
        first()
        for fut in futs:
            fut.result()


class Workload:
    name = ""
    latency_ops: tuple = ()  # op types whose medians make ``latency_ms``

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed
        self.smoke = ctx.smoke
        self.samples: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}  # op type -> CPU ms per op
        self.warm_ms: dict[str, float] = {}  # first (cold) run of each op type
        self.builds = 0

    def _dir(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def store(self, k):
        from bytehub_spark import FeatureStore

        fs = FeatureStore(self._dir(f"catalog{k}.db"), spark=self.spark)
        fs.create_namespace(self.name, url=self._dir(f"store{k}"))
        return fs

    def start(self) -> tuple:
        return self.ctx.cpu_ms(), time.perf_counter()

    def stop(self, op: str, t0: tuple) -> float:
        """Records the CPU time of ``op`` since ``start()``; returns its wall ms."""
        ms = _ms(t0[1])
        self.cpu.setdefault(op, []).append(self.ctx.cpu_ms() - t0[0])
        return ms

    def action(self, df) -> pd.DataFrame:
        """The user's action on a lazily built frame: collect to pandas."""
        with self.tr.span("core.exec"):
            out = self.ctx.to_pandas(df)
        self.ctx.count_python_nodes(df)
        return out

    def layer(self) -> dict:
        """Layer figures only the workload itself can see."""
        return {}


# ---------------------------------------------------------------------------
# retrieve
# ---------------------------------------------------------------------------


class Retrieve(Workload):
    """Read-only mix over a bitemporal store built in setup."""

    name = "retrieve"
    latency_ops = gen.RETRIEVE_OPS + gen.OPERATOR_QUERIES

    def build(self) -> None:
        k = self.builds = self.builds + 1
        if k == 1:
            self.ops = OperatorSlice(self)
        self.ops.build(k)
        self.inp = gen.store_inputs(self.seed, self.smoke)
        fs = self.fs = self.store(k)
        fs.create_feature("retrieve/deep", partition="date")
        fs.save_dataframe(self.inp["deep"], "retrieve/deep")
        self.shallow = [f"retrieve/f{i}" for i in range(gen.N_SHALLOW)]
        for name, frame in zip(self.shallow, self.inp["shallow"]):
            fs.create_feature(name, partition="year")
            fs.save_dataframe(frame, name)
        self.requests = gen.retrieve_requests(self.seed, self.smoke)
        self.answers = []

    def _run(self, op, frm, to):
        fs = self.fs
        if op == "last":
            return fs.last(self.shallow)
        kw = {}
        if op in ("ranged", "travel"):
            feats = "retrieve/deep"
            if op == "travel":
                kw["time_travel"] = gen.TRAVEL
        elif op == "resampled":
            feats, kw["freq"] = "retrieve/deep", "1h"
        elif op == "wide":
            feats, kw["freq"] = self.shallow, "1h"
        else:  # align: the shallow features on the union of their times, no freq
            feats = self.shallow
        return self.action(fs.load_dataframe(feats, from_date=frm, to_date=to, **kw))

    def warm(self) -> None:
        """Every op type once before the window, on the windows the passes
        ask for, so memos and caches hold what the passes use; groups of ops
        run side by side."""
        windows = gen.retrieve_windows(self.seed, self.smoke)

        def store_ops(ops):
            for op in ops:
                t0 = time.perf_counter()
                self._run(op, *windows[op])
                self.warm_ms[op] = _ms(t0)

        def queries():
            for q in gen.OPERATOR_QUERIES:
                t0 = time.perf_counter()
                self.ops.collect(q)
                self.warm_ms[q] = _ms(t0)
            for q in gen.OPERATOR_QUERIES:
                self.ops.run(q)

        _concurrently(lambda: store_ops(("align",)), lambda: store_ops(("wide", "last")),
                      lambda: store_ops(("ranged", "travel")),
                      lambda: store_ops(("resampled",)), queries)
        self.ops.runs = dict.fromkeys(gen.OPERATOR_QUERIES, 0)

    def step(self):
        """One pass: every store op type once, in a seeded order, then each
        operator query once."""
        samples = []
        for op, frm, to in next(self.requests):
            with self.tr.op(op):
                t0 = self.start()
                out = self._run(op, frm, to)
                samples.append((op, self.stop(op, t0)))
            self.answers.append((op, frm, to, out))
        return samples + [(q, self.ops.run(q)) for q in gen.OPERATOR_QUERIES]

    def check(self):
        deep = self.inp["deep"].assign(feature="retrieve/deep")
        shallow = pd.concat(
            [f.assign(feature=n, created_time=gen.START)
             for n, f in zip(self.shallow, self.inp["shallow"])]
        )
        orc = oracle.StoreOracle(pd.concat([deep, shallow], ignore_index=True))
        failed, reasons = 0, []
        for op, frm, to, got in self.answers:
            if op == "last":
                bad = oracle.check_last(got, orc.last(self.shallow))
            elif op in ("ranged", "travel"):
                want = orc.ranged("retrieve/deep", frm, to,
                                  travel_min=-30 if op == "travel" else None)
                bad = oracle.compare(got, want.rename(columns={"value": "retrieve/deep"}))
            elif op == "resampled":
                bad = oracle.compare(got, orc.resampled(["retrieve/deep"], frm, to, 60))
            elif op == "wide":
                bad = oracle.compare(got, orc.resampled(self.shallow, frm, to, 60))
            else:
                parts = [orc.ranged(f, frm, to).set_index("time")["value"].rename(f)
                         for f in self.shallow]
                bad = oracle.compare(got, pd.concat(parts, axis=1).reset_index())
            if bad:
                failed += 1
                reasons.append(f"{op} {frm}..{to}: {bad}")
        orc.close()
        checked, f, r = self.ops.check()
        return len(self.answers) + checked, failed + f, reasons + r

    def detail(self) -> dict:
        s = self.samples
        reads = [v for op in gen.RETRIEVE_OPS for v in s.get(op, [])]
        out = {f"{op}_p50_ms": pct(s.get(op, []), 50) for op in gen.RETRIEVE_OPS}
        out["read_p90_ms"] = pct(reads, 90)
        out["battery_s"] = sum(pct(s.get(q, []), 50) for q in gen.OPERATOR_QUERIES) / 1000.0
        user = sum(user_bytes(x) for x in [self.inp["deep"], *self.inp["shallow"]])
        out["stored_bytes_per_user_byte"] = stored_bytes(self._dir(f"store{self.builds}")) / user
        return out


# ---------------------------------------------------------------------------
# ingest (with the streaming write path)
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Bitemporal appends, corrections, backfills and compaction, each
    followed by a read-after-write ``last`` and short ranged read; and, once
    per window, an ``availableNow`` replay of an events table with a fixed
    file split through ``stream_into_feature`` plus a bounded-driver-state
    monitor (Count-Min) and a distributed-state monitor (cohort retention).
    """

    name = "ingest"
    latency_ops = ("save", "last", "read", "batch")
    FEATURES = [f"h{i}" for i in range(gen.N_INGEST)] + ["s"]
    PIPELINES = ("ingest", "cms", "retention")

    def build(self) -> None:
        k = self.builds = self.builds + 1
        init = gen.ingest_initial(self.seed, self.smoke)
        fs = self.fs = self.store(k)
        self.log = {f: [] for f in self.FEATURES}  # feature -> frames written
        self.heads = {}
        for f in self.FEATURES:
            fs.create_feature(f"ingest/{f}", partition="date", serialized=f == "s")
            fs.save_dataframe(init[f], f"ingest/{f}")
            self._log(f, init[f])
            self.heads[f] = init[f]["time"].max()
        self.events = gen.events_frame(self.seed + 3, 2_000 if self.smoke else 6_000)
        self.src = self._dir(f"events{k}")
        gen.write_event_files(self.events, self.src, gen.STREAM_FILES)
        self.requests = gen.ingest_requests(self.seed, self.smoke, self.heads)
        self.n_replays = 0
        self._reset()

    def _reset(self) -> None:
        self.answers, self.replays = [], []
        self.saved_rows, self.save_ms = 0, 0.0
        self.stream_ms, self.result_ms, self.state_rows = 0.0, [], []
        self.progress = []  # (triggerExecution ms, addBatch ms) per micro-batch

    def _log(self, f, frame) -> None:
        frame = frame[["time", "created_time", "value"]].copy()
        if f == "s":
            frame["value"] = frame["value"].map(json.dumps)
        frame["seq"] = self._logged(f) + np.arange(len(frame))
        self.log[f].append(frame)

    def _logged(self, f) -> int:
        return sum(len(x) for x in self.log[f])

    def _reads(self, f, frm, to, out):
        name = f"ingest/{f}"
        with self.tr.op("last"):
            t0 = self.start()
            last = self.fs.last(name)
            out.append(("last", self.stop("last", t0)))
        with self.tr.op("read"):
            t0 = self.start()
            got = self.action(self.fs.load_dataframe(name, from_date=frm, to_date=to))
            out.append(("read", self.stop("read", t0)))
        self.answers.append((f, frm, to, self._logged(f), last, got))

    def _write(self):
        req = next(self.requests)
        f, op = req["feature"], req["op"]
        name = f"ingest/{f}"
        out = []
        if op == "compact":
            with self.tr.op("compact"):
                t0 = self.start()
                self.fs.compact_feature(name)
                out.append(("compact", self.stop("compact", t0)))
            to = self.heads[f]
            frm = to - gen.INGEST_STEP * 50
        else:
            frame = req["frame"]
            arg = self.spark.createDataFrame(frame) if op == "append_spark" else frame
            kind = "backfill" if op == "backfill" else "save"
            with self.tr.op(kind):
                t0 = self.start()
                self.fs.save_dataframe(arg, name)
                ms = self.stop(kind, t0)
            out.append((kind, ms))
            self.save_ms += ms
            self.saved_rows += len(frame)
            self._log(f, frame)
            to = frame["time"].max()
            frm = frame["time"].min() if op == "backfill" else to - gen.INGEST_STEP * 50
        self._reads(f, frm, to, out)
        return out

    def _replay(self):
        from bytehub_spark import streaming as st

        self.n_replays += 1
        r = self.n_replays
        feat = f"ingest/stream{r}"
        self.fs.create_feature(feat, partition="date")
        got, out = {}, []
        replay = self.start()
        for p in self.PIPELINES:
            ck = self._dir(f"ckpt{self.builds}-{r}-{p}")
            events = st.stream_events(self.spark, self.src, max_files=1)
            with self.tr.op(f"stream_{p}"):
                t0 = time.perf_counter()
                with self.tr.span(f"streaming.{p}"):
                    mon = None
                    if p == "ingest":
                        q = st.stream_into_feature(events, self.fs, feat, ck)
                    elif p == "cms":
                        q, mon = st.stream_cms(events, ck)
                    else:
                        q, mon = st.stream_retention(events, ck)
                    q.awaitTermination()
                self.stream_ms += _ms(t0)
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                if mon is not None:
                    t1 = time.perf_counter()
                    with self.tr.span("streaming.result"):
                        got[p] = self.ctx.to_pandas(mon.result())
                    self.result_ms.append(_ms(t1))
                    self.state_rows.append(len(mon.cells) if p == "cms" else mon.state.count())
            for prog in q.recentProgress:
                d = _progress(prog)["durationMs"]
                self.progress.append((d.get("triggerExecution", 0), d.get("addBatch", 0)))
                out.append(("batch", float(d.get("triggerExecution", 0))))
        self.stop("replay", replay)
        self.replays.append((feat, got))
        return out

    def warm(self) -> None:
        """One replay, side by side with every write kind once."""
        def writes():
            for _ in gen.INGEST_KINDS:
                self._write()

        _concurrently(self._replay, writes)
        self._reset()

    def step(self):
        """One pass: a replay, then one write of each kind with its reads."""
        out = self._replay()
        for _ in gen.INGEST_KINDS:
            out += self._write()
        return out

    def check(self):
        failed, reasons = 0, []
        num = oracle.StoreOracle(pd.concat(
            [x.assign(feature=f"ingest/{f}") for f in self.FEATURES if f != "s"
             for x in self.log[f]], ignore_index=True))
        ser = oracle.StoreOracle(pd.concat(
            [x.assign(feature="ingest/s") for x in self.log["s"]], ignore_index=True))
        for f, frm, to, upto, last, got in self.answers:
            name = f"ingest/{f}"
            orc = ser if f == "s" else num
            bad = oracle.check_last(last, orc.last([name], upto=upto), serialized={"ingest/s"})
            if not bad:
                want = orc.ranged(name, frm, to, upto=upto)
                bad = oracle.compare(got, want.rename(columns={"value": name}))
            if bad:  # the last and the read of this round
                failed += 2
                reasons.append(f"{name} {frm}..{to}: {bad}")
        num.close()
        ser.close()
        checked = 2 * len(self.answers)
        if self.replays:
            f, r = self._check_replays()
            checked += 3 * len(self.replays)
            failed += f
            reasons += r
        return checked, failed, reasons

    def _check_replays(self):
        """The stored feature and each monitor equal their batch twins."""
        from bytehub_spark.operators import events_ops, sketches
        from bytehub_spark.streaming.ingest import EVENTS_SCHEMA

        batch = self.spark.read.schema(EVENTS_SCHEMA).parquet(self.src)
        twins = {
            "cms": self.ctx.to_pandas(sketches.cms_build(batch.select("user_id"), "user_id", 4, 256)),
            "retention": self.ctx.to_pandas(events_ops.retention_cohorts(batch, 8)),
        }
        store = pd.DataFrame({"time": self.events["ts"], "value": self.events["value"]})
        failed, reasons = 0, []
        for feat, got in self.replays:
            stored = self.ctx.to_pandas(self.fs.load_dataframe(feat))
            checks = [(p, got[p], twins[p]) for p in ("cms", "retention")]
            checks.append(("store", stored, store.rename(columns={"value": feat})))
            for label, g, w in checks:
                bad = oracle.compare(g, w)
                if bad:  # every micro-batch of that pipeline
                    failed += gen.STREAM_FILES
                    reasons.append(f"{feat} {label}: {bad}")
        return failed, reasons

    def detail(self) -> dict:
        s = self.samples
        user = sum(user_bytes(x) for f in self.FEATURES for x in self.log[f])
        user += len(self.replays) * 24 * len(self.events)
        trig = [t for t, _ in self.progress]
        return {
            "save_p50_ms": pct(s.get("save", []), 50),
            "save_rows_per_s": self.saved_rows / (self.save_ms / 1000.0) if self.save_ms else 0.0,
            "last_p50_ms": pct(s.get("last", []), 50),
            "read_p90_ms": pct(s.get("last", []) + s.get("read", []), 90),
            "stored_bytes_per_user_byte": stored_bytes(self._dir(f"store{self.builds}")) / user,
            "stream_events_per_s": len(self.events) * len(self.PIPELINES) * len(self.replays)
            / (self.stream_ms / 1000.0) if self.stream_ms else 0.0,
            "batch_p50_ms": pct(trig, 50),
        }

    def layer(self) -> dict:
        trig = [t for t, _ in self.progress]
        return {
            "streaming.batches": float(len(trig)),
            "streaming.trigger_ms": pct(trig, 50),
            "streaming.add_batch_ms": pct([a for _, a in self.progress], 50),
            "streaming.state_rows": float(np.mean(self.state_rows)) if self.state_rows else 0.0,
            "streaming.monitor_result_ms": pct(self.result_ms, 50),
        }


def _progress(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


# ---------------------------------------------------------------------------
# operator queries (run inside the retrieve workload)
# ---------------------------------------------------------------------------


class OperatorSlice:
    """A fixed slice of the ``bench.BENCH_QUERIES`` battery over generated
    tables. Each query is materialized through the noop sink, with
    ``release_scratch()`` after it. Its tables fit the hot-table cache."""

    def __init__(self, w: Workload):
        import bench
        import __spark_entry__ as entry

        missing = [q for q in gen.OPERATOR_QUERIES if q not in bench.BENCH_QUERIES]
        if missing:
            raise RuntimeError(f"not in bench.BENCH_QUERIES: {missing}")
        self.w = w
        self.queries = entry.queries()
        self.runs = dict.fromkeys(gen.OPERATOR_QUERIES, 0)
        self.answers: dict[str, pd.DataFrame] = {}

    def build(self, k: int) -> None:
        self.sf = self.w._dir(f"sf{k}")
        gen.write_tables(gen.operator_tables(self.w.seed, self.w.smoke), self.sf)

    def run(self, q: str) -> float:
        from bytehub_spark.plans.scratch import release_scratch

        tr = self.w.tr
        with tr.op(q):
            t0 = self.w.start()
            with tr.span(f"operators.{q.split('_')[0]}"):
                df = self.queries[q](self.w.spark, self.sf)
                df.write.format("noop").mode("overwrite").save()
            ms = self.w.stop(q, t0)
            self.w.ctx.count_python_nodes(df)
            with tr.span("plans.release_scratch"):
                release_scratch()
        self.runs[q] += 1
        return ms

    def collect(self, q: str) -> None:
        """Run ``q`` once collecting its answer, for ``check()``."""
        from bytehub_spark.plans.scratch import release_scratch

        self.answers[q] = self.w.ctx.to_pandas(self.queries[q](self.w.spark, self.sf))
        release_scratch()

    def check(self):
        """Each query's collected answer against its ``oracle_sql()``
        answer in DuckDB; a wrong query fails every timed run of it."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        failed, reasons = 0, []
        for q in gen.OPERATOR_QUERIES:
            got = self.answers[q]
            bad = oracle.compare(got, con.execute(oracles[q]).df())
            if bad:
                failed += self.runs[q]
                reasons.append(f"{q}: {bad}")
        con.close()
        return sum(self.runs.values()), failed, reasons


WORKLOADS = {w.name: w for w in (Retrieve, Ingest)}
