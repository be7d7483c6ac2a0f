"""Per-layer metrics of a traced run, named after bytehub_spark's modules.

Unless noted, a figure is a mean per op of the measured window (ops are
the timed requests: one retrieve read, one operator query, one ingest save,
read or compaction, one streaming micro-batch), so runs with different op
counts compare. Run-level figures: ``session.start_ms``, the
``storage.files_per_partition_*`` counts at the end of the window,
``codegen.max_method_bytes`` and ``codegen.fallbacks`` (methods over
HotSpot's 8,000-byte JIT limit), the ``streaming.*`` medians and the
workload figures. Layers a workload does not reach report 0.
"""

from __future__ import annotations

from collections import defaultdict

import gen
import tracing

FAMILIES = tuple(dict.fromkeys(q.split("_")[0] for q in gen.OPERATOR_QUERIES))
WORKLOAD_METRICS = {
    "ranged_p50_ms": "ms", "travel_p50_ms": "ms", "resampled_p50_ms": "ms",
    "wide_p50_ms": "ms", "align_p50_ms": "ms", "last_p50_ms": "ms",
    "read_p90_ms": "ms", "save_p50_ms": "ms", "save_rows_per_s": "1/s",
    "stream_events_per_s": "1/s",
    "batch_p50_ms": "ms", "battery_s": "s", "fail_ratio": "ratio", "peak_rss_mb": "MB",
    "latency_ms": "ms", "ops_per_s": "1/s", "op_cpu_ms": "ms",
}
SPARK = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
         "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
UNITS = {
    **WORKLOAD_METRICS,
    "session.start_ms": "ms",
    "catalog.calls": "count", "catalog.ms": "ms",
    "storage.open_calls": "count", "storage.open_hit_ratio": "ratio",
    "storage.open_ms": "ms", "storage.list_ms": "ms", "storage.write_ms": "ms",
    "storage.files_written": "count", "storage.bytes_written": "bytes",
    "storage.files_per_partition_max": "count", "storage.files_per_partition_mean": "count",
    "storage.compact_ms": "ms", "storage.compact_bytes_rewritten": "bytes",
    "timeseries.build_ms": "ms", "timeseries.eager_jobs": "count",
    "core.build_ms": "ms", "core.build_jobs": "count", "core.exec_ms": "ms",
    **{f"spark.{k}": ("count" if k in ("jobs", "stages", "tasks")
                      else "bytes" if k.endswith("bytes") else "ms") for k in SPARK},
    "codegen.methods": "count", "codegen.compile_ms": "ms",
    "codegen.max_method_bytes": "bytes", "codegen.fallbacks": "count",
    "arrow.pandas_nodes": "count", "arrow.topandas_ms": "ms",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.state_rows": "count",
    "streaming.monitor_result_ms": "ms",
    **{f"operators.{f}.{k}": ("ms" if k == "ms" else "count")
       for f in FAMILIES for k in ("ms", "jobs")},
    "sources.load_ms": "ms", "plans.scratch_release_ms": "ms",
}
LIST_CALLS = {"storage.list_partitions", "storage.partition_file_counts", "storage.ls",
              "storage.exists"}

def per_layer(tracer, w, ctx, event_dir, win0, win1, session_s, detail, extra):
    """Returns (metrics named as in ``UNITS``, Spark counters per op type)."""
    spans = [s for s in tracer.spans if s[4] >= win0 and s[5] <= win1]
    ops = [s for s in spans if s[3].startswith("op.")]
    n = max(1, len(ops))
    self_ms = tracer.self_times()
    by_name = defaultdict(list)
    for s in spans:
        by_name[s[3]].append(s)

    def ms(pred) -> float:
        return sum(self_ms[s[0]] for s in spans if pred(s[3])) / n

    def count(pred) -> float:
        return sum(1 for s in spans if pred(s[3])) / n

    def attr(name, key) -> float:
        return sum((s[6] or {}).get(key, 0) for s in by_name[name]) / n

    # Spark jobs: each belongs to the innermost span open at its submission
    tracer.index()
    jobs = [j for j in tracing.parse_event_log(event_dir) if win0 <= j["t"] <= win1]
    rid_kind = tracer.op_kinds
    per_kind = defaultdict(lambda: defaultdict(float))
    layer_jobs = defaultdict(float)
    for j in jobs:
        owner = tracer.owner_of(j["t"])
        kind = rid_kind.get(owner[2], "none") if owner else "none"
        layer_jobs[owner[3] if owner else "none"] += 1
        acc = per_kind[kind]
        acc["jobs"] += 1
        for k in SPARK[1:]:
            acc[k] += j.get(k, 0)
    n_kind = defaultdict(int)
    for s in ops:
        n_kind[s[3][3:]] += 1
    by_op = {k: {m: v / max(1, n_kind[k]) for m, v in acc.items()}
             for k, acc in per_kind.items()}

    def jobs_in(pred) -> float:
        return sum(v for name, v in layer_jobs.items() if pred(name)) / n

    opens = by_name["storage.open"]
    counts = tracing.partition_file_counts(w._dir(f"store{w.builds}"))
    out = {k: float(detail.get(k, 0.0)) for k in WORKLOAD_METRICS}
    out.update({
        "session.start_ms": session_s * 1000.0,
        "catalog.calls": count(lambda x: x.startswith("catalog.")),
        "catalog.ms": ms(lambda x: x.startswith("catalog.")),
        "storage.open_calls": len(opens) / n,
        "storage.open_hit_ratio": (sum(1 for s in opens if (s[6] or {}).get("hit")) / len(opens))
        if opens else 0.0,
        "storage.open_ms": ms(lambda x: x == "storage.open"),
        "storage.list_ms": ms(lambda x: x in LIST_CALLS),
        "storage.write_ms": ms(lambda x: x == "storage.write"),
        "storage.files_written": attr("storage.write", "files"),
        "storage.bytes_written": attr("storage.write", "bytes"),
        "storage.files_per_partition_max": float(max(counts, default=0)),
        "storage.files_per_partition_mean": sum(counts) / len(counts) if counts else 0.0,
        "storage.compact_ms": ms(lambda x: x == "storage.compact"),
        "storage.compact_bytes_rewritten": attr("storage.compact", "bytes"),
        "timeseries.build_ms": ms(lambda x: x.startswith("timeseries.")),
        "timeseries.eager_jobs": jobs_in(lambda x: x.startswith("timeseries.")),
        "core.build_ms": ms(lambda x: x.startswith("core.") and x != "core.exec"),
        "core.build_jobs": jobs_in(lambda x: x.startswith("core.") and x != "core.exec"),
        "core.exec_ms": ms(lambda x: x == "core.exec"),
        "arrow.pandas_nodes": ctx.python_nodes / n,
        "arrow.topandas_ms": ms(lambda x: x == "arrow.topandas"),
        "sources.load_ms": ms(lambda x: x.startswith("sources.")),
        "plans.scratch_release_ms": ms(lambda x: x.startswith("plans.")),
    })
    total = defaultdict(float)
    for acc in per_kind.values():
        for k, v in acc.items():
            total[k] += v
    out.update({f"spark.{k}": total[k] / n for k in SPARK})
    for k in ("codegen.methods", "codegen.compile_ms"):
        extra[k] = extra[k] / n
    out.update({k: float(v) for k, v in extra.items()})
    for fam in FAMILIES:
        qs = [q for q in gen.OPERATOR_QUERIES if q.split("_")[0] == fam]
        runs = [v for q in qs for v in w.samples.get(q, [])]
        out[f"operators.{fam}.ms"] = sum(runs) / len(runs) if runs else 0.0
        out[f"operators.{fam}.jobs"] = (
            sum(per_kind[q]["jobs"] for q in qs) / max(1, sum(n_kind[q] for q in qs))
        )
    return {k: out.get(k, 0.0) for k in UNITS}, by_op
