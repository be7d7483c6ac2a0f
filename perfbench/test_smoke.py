"""The benchmark's own tests: smoke-sized runs of every workload, traced and
untraced, with all answer checks on; plus the pure-Python parts.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import oracle  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload, trace, tmp_path):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--smoke", "--out", str(tmp_path))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    assert result["attempted"] >= 1
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert os.path.exists(tmp_path / f"{workload}-seed7.spans.jsonl")


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "retrieve", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_compare():
    a = pd.DataFrame({"time": pd.to_datetime(["2023-01-01", "2023-01-02"]), "v": [1.0, 2.0]})
    assert oracle.compare(a, a.iloc[::-1]) is None
    assert oracle.compare(a, a.assign(v=[1.0, 2.5])) is not None
    assert oracle.compare(a, a.iloc[:1]) is not None


def test_store_oracle():
    t = pd.to_datetime(["2023-01-01 00:00", "2023-01-01 01:00", "2023-01-01 01:00"])
    rows = pd.DataFrame({
        "feature": "f", "time": t,
        "created_time": pd.to_datetime(["2023-01-01 00:00", "2023-01-01 01:00", "2023-01-01 05:00"]),
        "value": [1.0, 2.0, 3.0], "seq": [0, 1, 2],
    })
    orc = oracle.StoreOracle(rows)
    assert orc.ranged("f", t[0], t[1])["value"].tolist() == [1.0, 3.0]
    assert orc.ranged("f", t[0], t[1], travel_min=0)["value"].tolist() == [1.0, 2.0]
    assert orc.ranged("f", t[0], t[1], travel_min=-30).empty
    assert orc.ranged("f", t[0], t[1], upto=2)["value"].tolist() == [1.0, 2.0]
    grid = orc.resampled(["f"], "2023-01-01 00:30", "2023-01-01 01:30", 30)
    assert grid["f"].tolist() == [1.0, 3.0, 3.0]
    assert orc.last(["f"]) == {"f": 3.0}
    orc.close()


def test_self_time_subtracts_children():
    tr = tracing.Tracer(True)
    tr.spans = [
        [1, 0, 1, "op.x", 0.0, 1.0, None],
        [2, 1, 1, "core.a", 0.1, 0.5, None],
        [3, 1, 1, "core.b", 0.4, 0.6, None],  # overlaps core.a
    ]
    st = tr.self_times()
    assert st[1] == pytest.approx(500.0)
    assert st[2] == pytest.approx(400.0)
    tr.index()
    assert tr.owner_of(0.45)[3] == "core.b"
    assert tr.owner_of(0.8)[3] == "op.x"
