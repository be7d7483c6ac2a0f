# Run with: SPARK_DRIVER_MEMORY=48g PYTHONPATH=/root/repo python scripts/scale_r14ops100m.py
# Corpus: python scripts/gen_scale_corpora.py ev100m  (/tmp/sf100_stream100m)
"""Round-14 operators at 100M events (the sketch-at-birth convention,
r13's scale_r13ops100m.py): grouped KMV batch build + estimate, the
GroupedKmvMonitor replay, and weighted_sample at cap 150 — each with
an exactness assertion so the number only counts if the answer is
right.

- kmv_sketch(group_col=) + kmv_estimate at k=256 over 100M events /
  5 event types: state <= 5*256 hashes; per-group est vs exact
  countDistinct within the ~1/sqrt(k-2) law (x4 slack).
- GroupedKmvMonitor over a 20-file replay: stream == batch hash-for-
  hash (the idempotent bottom-k merge at scale).
- weighted_sample (cap=150) over 100M rows with weights spanning
  [1, 200]: the check is the pure-integer replay on the selected rows
  + the zero-exchange plan shape.
"""
import os
import shutil
import time

from pyspark.sql import functions as F

from bytehub_spark import streaming as st
from bytehub_spark.operators import curation, sketches
from bytehub_spark.operators.hashing import int_mix
from bytehub_spark.session import get_spark

SRC_PARQUET = "/tmp/sf100_stream100m/events.parquet"
K = 256

spark = get_spark("r14ops_100m")
ev = spark.read.parquet(SRC_PARQUET)
n = ev.count()
print(f"events: {n:,}", flush=True)
keyed = ev.where(F.col("user_id").isNotNull())


def steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


# ---- grouped KMV batch build + estimate ----
s0, t0 = steal(), time.time()
sk = sketches.kmv_sketch(keyed, "user_id", K, group_col="event_type")
est = {
    r["event_type"]: r["est_distinct"]
    for r in sketches.kmv_estimate(sk, K, ["event_type"]).collect()
}
wall = time.time() - t0
state = sk.count()
print(
    f"grouped kmv_sketch+estimate k={K}: {wall:.1f}s = "
    f"{n / wall:,.0f} ev/s, state {state} hashes (bound "
    f"{len(est) * K}), steal {steal() - s0}",
    flush=True,
)
exact = {
    r["event_type"]: r["x"]
    for r in keyed.groupBy("event_type")
    .agg(F.countDistinct("user_id").alias("x"))
    .collect()
}
for g, e in sorted(est.items(), key=str):
    rel = abs(e - exact[g]) / exact[g]
    print(f"  {g}: est {e:,} exact {exact[g]:,} rel_err {rel:.3%}")
    assert rel <= 4 / (K - 2) ** 0.5, (g, e, exact[g])
print("  all groups within 4/sqrt(k-2)")

# ---- GroupedKmvMonitor over a 20-file replay ----
work = "/tmp/r14ops_work"
shutil.rmtree(work, ignore_errors=True)
src = os.path.join(work, "ev_src")
os.makedirs(work)
ev.repartition(20).write.option(
    "parquet.block.size", 8 * 1024 * 1024
).parquet(src)
s0, t0 = steal(), time.time()
stream = (
    spark.readStream.schema(spark.read.parquet(src).schema)
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
)
q, mon = st.stream_kmv_by_group(stream, os.path.join(work, "ck"), k=K)
if not q.awaitTermination(3600):
    q.stop()
    raise SystemExit("stream did not drain within 3600s")
wall = time.time() - t0
print(
    f"GroupedKmvMonitor k={K}: {n / wall:,.0f} ev/s ({wall:.1f}s, "
    f"20 batches, steal {steal() - s0})",
    flush=True,
)
got = sorted(map(tuple, mon.result().collect()))
want = sorted(
    map(
        tuple,
        sk.select(F.col("event_type").cast("string"), "h").collect(),
    )
)
assert got == want, "grouped kmv stream != batch"
print("  stream == batch EXACT (hash level)")

# ---- weighted_sample at 100M ----
rows = ev.select(
    F.col("event_id").alias("doc_id"),
    (1 + F.col("event_id") % 200).cast("int").alias("w"),
)
s0, t0 = steal(), time.time()
top = curation.weighted_sample(rows, 100, "w", "doc_id", cap=150)
sel = top.collect()
wall = time.time() - t0
plan = top._jdf.queryExecution().executedPlan().toString()
assert "TakeOrderedAndProject" in plan and "Exchange" not in plan
print(
    f"weighted_sample cap=150: {wall:.1f}s = "
    f"{n / wall:,.0f} rows/s, zero exchanges, steal {steal() - s0}",
    flush=True,
)
from bytehub_spark.operators.curation import WSAMPLE_SEED

for r in sel:
    w_eff = max(min(r["weight"], 150), 1)
    pri = max(
        int_mix(r["doc_id"], WSAMPLE_SEED + d) for d in range(1, w_eff + 1)
    )
    assert (r["w_eff"], r["priority"]) == (w_eff, pri), r
print(f"  top-100 priorities replay exactly in pure python")

shutil.rmtree(work, ignore_errors=True)
