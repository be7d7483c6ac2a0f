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

Usage: python scripts/bench_streaming.py [sf_dir]
Prints ONE JSON line {"metric": ..., "events_per_sec": {...}, ...}.
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
from bytehub_spark.session import get_spark
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

    def finish(label: str, t0: float, n: int) -> None:
        dt = time.time() - t0
        rates[label] = round(n / dt, 1)

    # 1. ingest into the feature store (foreachBatch bitemporal appends)
    fs = FeatureStore(os.path.join(work, "cat.db"), spark=spark)
    fs.create_namespace("bench", url=os.path.join(work, "store"))
    fs.create_feature("bench/value", partition="date")
    t0 = time.time()
    q = st.stream_into_feature(
        st.stream_events(spark, src_dir, max_files=2),
        fs,
        "bench/value",
        os.path.join(work, "ckpt_ingest"),
    )
    q.awaitTermination(600)
    finish("ingest", t0, n_events)

    # 2. watermarked windowed aggregation
    t0 = time.time()
    q = (
        st.windowed_event_stats(st.stream_events(spark, src_dir, max_files=2))
        .writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", os.path.join(work, "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    finish("windowed", t0, n_events)

    # 3. stateful sessionization
    t0 = time.time()
    q = (
        st.sessionize(st.stream_events(spark, src_dir, max_files=2), gap_minutes=120)
        .writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", os.path.join(work, "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    finish("sessionize", t0, n_events)

    # 4. foreachBatch distributed-state monitor (cohort retention — one
    # bitmask row per user; representative of the monitor family)
    t0 = time.time()
    q, mon = st.stream_retention(
        st.stream_events(spark, src_dir, max_files=2),
        os.path.join(work, "ckpt_ret"),
    )
    q.awaitTermination(600)
    mon.result().write.format("noop").mode("overwrite").save()
    finish("retention_monitor", t0, n_events)

    # 5. bounded-driver-state sketch monitor (Count-Min — state is
    # <= depth*width ints no matter the key cardinality; representative
    # of the r11 sketch-monitor pair)
    t0 = time.time()
    q, cmon = st.stream_cms(
        st.stream_events(spark, src_dir, max_files=2),
        os.path.join(work, "ckpt_cms"),
    )
    q.awaitTermination(600)
    cmon.result().write.format("noop").mode("overwrite").save()
    finish("cms_monitor", t0, n_events)

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "streaming throughput (events/s, availableNow replay)",
                "n_events": n_events,
                "events_per_sec": rates,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
