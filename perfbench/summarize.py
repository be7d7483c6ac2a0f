"""Summarize saved benchmark outputs: per workload and metric, the median,
quartiles and spread (interquartile distance over the median) of each
end-to-end metric, and the tracing overhead (traced over untraced, minus
one, for the end-to-end metrics, ``op_cpu_ms`` and ``latency_ms``) where a
traced run of one of the seeds exists.

    python3 perfbench/summarize.py DIR [DIR ...]

Each file ``<workload>-<seed>.out`` (untraced) or ``<workload>-<seed>.trace.out``
(traced) in DIR holds the stdout of one run.py call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _lines(path):
    with open(path) as f:
        lines = [json.loads(x) for x in f if x.startswith("{")]
    return (lines[-2]["detail"], lines[-1]) if len(lines) >= 2 else (None, None)


def summarize(dirs) -> dict:
    runs: dict[str, list] = {}
    traced: dict[str, dict] = {}
    for d in dirs:
        for path in sorted(glob.glob(os.path.join(d, "*.out"))):
            detail, result = _lines(path)
            if detail is None:
                continue
            if path.endswith(".trace.out"):
                traced.setdefault(detail["workload"], {})[detail["seed"]] = detail
            else:
                runs.setdefault(detail["workload"], []).append((detail, result))
    out = {}
    for w, rs in sorted(runs.items()):
        row = {"runs": len(rs), "failed": sum(r["failed"] for _, r in rs),
               "correct": all(r["correct"] for _, r in rs), "metrics": {}}
        for m in rs[0][1]["metrics"]:
            vals = [r["metrics"][m]["value"] for _, r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            row["metrics"][m] = {"median": med, "q1": q1, "q3": q3,
                                 "spread": (q3 - q1) / med if med else 0.0}
        for d, _ in rs:
            t = traced.get(w, {}).get(d["seed"])
            if t:
                # the same seed traced and untraced; times also follow the
                # host's speed, so both runs' probe readings go with them
                pairs = [(t["end_to_end"], d["end_to_end"], m) for m in d["end_to_end"]]
                pairs += [(t["workload_metrics"], d["workload_metrics"], m)
                          for m in ("op_cpu_ms", "latency_ms")]
                row["tracing_overhead"] = {m: a[m] / b[m] - 1 for a, b, m in pairs}
                row["probe_ms"] = {"traced": t["telemetry"]["probe_ms"],
                                   "untraced": d["telemetry"]["probe_ms"]}
        out[w] = row
    return out


if __name__ == "__main__":
    print(json.dumps(summarize(sys.argv[1:]), indent=1))
