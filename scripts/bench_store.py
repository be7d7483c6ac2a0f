"""Feature-store scale benchmark: the library surface end-to-end at
multi-million-row, multi-year scale (not the per-operator testdata bench).

Builds a throwaway store with one deep feature (N rows over ~2 years of
daily Hive partitions) and K shallow features, then measures the hot
paths a production consumer hits:

- save            bitemporal append throughput (rows/s)
- load_ranged     1-month slice of the deep feature (partition pruning)
- load_resampled  1-month hourly LOCF grid
- load_wide       K features aligned on one hourly grid (long-format
                  plan: one exchange on the grid cell, dedup + one
                  aggregate per series in place, then the answer-sized
                  fill)
- load_wide_open  the K features over their whole history, hourly, each
                  on its own default grid (one grid per window, then
                  aligned on the union of the grid times)
- load_mixed      the deep feature and a string feature on one hourly
                  grid (one value column per value type)
- load_transform  a transform summing two shallow features, hourly
- last            point lookups across all features (one batched job
                  set: the K features share a value type)
- time_travel     ranged read at created_time <= time - 1h

Next to each timing, ``spark`` records the Spark jobs and tasks of one
call of that op (its last repetition), read from Spark's status tracker.

Usage: python scripts/bench_store.py [n_rows] [k_features]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from bytehub_spark import FeatureStore
from bytehub_spark.session import get_spark


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _spark_work(spark, first_job: int) -> dict:
    """Jobs and tasks run of the Spark jobs from ``first_job`` on, once
    the listener bus has caught up."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    status = spark.sparkContext.statusTracker()
    jobs = range(first_job, _next_job(spark))
    tasks = 0
    for j in jobs:
        job = status.getJobInfo(j)
        for s in job.stageIds if job else ():
            stage = status.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
    return {"jobs": len(jobs), "tasks": tasks}


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("bytehub_store_bench")
    work = tempfile.mkdtemp(prefix="store_bench_")
    fs = FeatureStore(os.path.join(work, "cat.db"), spark=spark)
    fs.create_namespace("bench", url=os.path.join(work, "store"))

    timings: dict[str, float] = {}
    work_per_op: dict[str, dict] = {}

    # deep feature: n_rows spread over ~2 years (≈730 daily partitions)
    fs.create_feature("bench/deep", partition="date")
    step_s = int(2 * 365 * 24 * 3600 / n_rows) or 1
    deep = (
        spark.range(n_rows)
        .selectExpr(
            f"timestamp'2022-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*{step_s}) as time",
            "timestamp'2024-06-01 00:00:00' as created_time",
            "cast(id % 1000 as double) / 7.0 as value",
        )
    )
    t0, j0 = time.time(), _next_job(spark)
    fs.save_dataframe(deep, "bench/deep")
    timings["save_rows_per_sec"] = round(n_rows / (time.time() - t0), 0)
    work_per_op["save"] = _spark_work(spark, j0)

    # K shallow features sharing a weekly-ish cadence
    idx = pd.date_range("2022-01-01", "2023-12-31", freq="6h")
    rng = np.random.RandomState(0)
    for i in range(k):
        fs.create_feature(f"bench/f{i}", partition="date")
        fs.save_dataframe(
            pd.DataFrame({"time": idx, "value": rng.randn(len(idx))}),
            f"bench/f{i}",
        )
    fs.create_feature("bench/s", partition="date")
    fs.save_dataframe(
        pd.DataFrame({"time": idx, "value": [f"s{j % 97}" for j in range(len(idx))]}),
        "bench/s",
    )

    @fs.transform("bench/sum", from_features=["bench/f0", "bench/f1"])
    def _sum(df):
        return df["bench/f0"] + df["bench/f1"]

    def timed(label, fn, reps=2):
        best = float("inf")
        for _ in range(reps):
            t0, j0 = time.time(), _next_job(spark)
            fn()
            best = min(best, time.time() - t0)
            work_per_op[label] = _spark_work(spark, j0)
        timings[label] = round(best, 2)

    noop = lambda df: df.write.format("noop").mode("overwrite").save()
    timed(
        "load_ranged",
        lambda: noop(
            fs.load_dataframe("bench/deep", from_date="2023-03-01", to_date="2023-04-01")
        ),
    )
    timed(
        "load_resampled",
        lambda: noop(
            fs.load_dataframe(
                "bench/deep", from_date="2023-03-01", to_date="2023-04-01", freq="1h"
            )
        ),
    )
    timed(
        "load_wide",
        lambda: noop(
            fs.load_dataframe(
                [f"bench/f{i}" for i in range(k)],
                from_date="2023-03-01",
                to_date="2023-04-01",
                freq="1h",
            )
        ),
    )
    timed(
        "load_wide_open",
        lambda: noop(fs.load_dataframe([f"bench/f{i}" for i in range(k)], freq="1h")),
    )
    month = dict(from_date="2023-03-01", to_date="2023-04-01", freq="1h")
    timed("load_mixed", lambda: noop(fs.load_dataframe(["bench/deep", "bench/s"], **month)))
    timed("load_transform", lambda: noop(fs.load_dataframe("bench/sum", **month)))
    timed("last", lambda: fs.last([f"bench/f{i}" for i in range(k)]))
    timed(
        "time_travel",
        lambda: noop(
            fs.load_dataframe(
                "bench/deep",
                from_date="2023-03-01",
                to_date="2023-04-01",
                time_travel="-1h",
            )
        ),
    )

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "feature-store surface at scale (seconds; save in rows/s)",
                "n_rows_deep": n_rows,
                "k_features": k,
                "timings": timings,
                "spark": work_per_op,
            }
        )
    )


if __name__ == "__main__":
    main()
