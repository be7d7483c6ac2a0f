"""Streaming throughput benchmark: events/s through the streaming surface.

Measures five pipelines over the testdata events table replayed as a
file-source stream (availableNow, so runs are finite and comparable):

- ingest:    stream_into_feature — micro-batch appends into the bitemporal
             store (the write path a production feed would use)
- windowed:  watermarked tumbling-window aggregation
- sessionize: applyInPandasWithState gap sessions (custom stateful op)
- retention_monitor: stream_retention — a Monitor with distributed state
             (one bitmask row per user)
- cms_monitor: stream_cms — a Monitor with bounded in-process state
             (<= depth*width Count-Min counters)

Each pipeline's Spark jobs and tasks (its micro-batches plus, for the
monitors, one result()) are read from the status tracker
(``session.spark_work``) and printed next to its events/s.

Usage: python scripts/bench_streaming.py [sf_dir]
Prints ONE JSON line {"metric": ..., "events_per_sec": {...},
"spark_jobs": {...}, "spark_tasks": {...}, ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bytehub_spark import FeatureStore
from bytehub_spark import streaming as st
from bytehub_spark.session import get_spark, spark_work
from bytehub_spark.sources import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("bytehub_stream_bench")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    src_dir = os.path.join(work, "events_src")
    n_events = load_table(spark, sf_dir, "events").count()
    # replay source: 8 files so availableNow forms several micro-batches
    load_table(spark, sf_dir, "events").repartition(8).write.parquet(src_dir)

    rates: dict[str, float] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, int] = {}

    def run(label: str, pipeline) -> None:
        t0 = time.time()
        jobs[label], tasks[label], _ = spark_work(spark, pipeline)
        rates[label] = round(n_events / (time.time() - t0), 1)

    def events():
        return st.stream_events(spark, src_dir, max_files=2)

    def ckpt(name: str) -> str:
        return os.path.join(work, f"ckpt_{name}")

    def to_noop(df, name: str):
        return (
            df.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt(name))
            .trigger(availableNow=True)
            .start()
        )

    def monitor(attach, name: str):
        def pipeline():
            q, mon = attach(events(), ckpt(name))
            q.awaitTermination(600)
            mon.result().write.format("noop").mode("overwrite").save()

        return pipeline

    # 1. ingest into the feature store (foreachBatch bitemporal appends)
    fs = FeatureStore(os.path.join(work, "cat.db"), spark=spark)
    fs.create_namespace("bench", url=os.path.join(work, "store"))
    fs.create_feature("bench/value", partition="date")
    run("ingest", lambda: st.stream_into_feature(
        events(), fs, "bench/value", ckpt("ingest")
    ).awaitTermination(600))
    # 2. watermarked windowed aggregation
    run("windowed", lambda: to_noop(
        st.windowed_event_stats(events()), "win"
    ).awaitTermination(600))
    # 3. stateful sessionization
    run("sessionize", lambda: to_noop(
        st.sessionize(events(), gap_minutes=120), "sess"
    ).awaitTermination(600))
    # 4. foreachBatch frame-state monitor (cohort retention — one bitmask
    # row per user, committed as a parquet snapshot per epoch;
    # representative of the monitor family)
    run("retention_monitor", monitor(st.stream_retention, "ret"))
    # 5. bounded-driver-state sketch monitor (Count-Min — state is
    # <= depth*width ints no matter the key cardinality; representative
    # of the r11 sketch-monitor pair)
    run("cms_monitor", monitor(st.stream_cms, "cms"))

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "streaming throughput (events/s, availableNow replay)",
                "n_events": n_events,
                "events_per_sec": rates,
                "spark_jobs": jobs,
                "spark_tasks": tasks,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
