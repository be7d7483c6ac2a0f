"""Spark work of the snapshot-committed monitor state, on a replay the
size of the ingest benchmark's (6,000 events over 21 days and 200
users, two files, one per micro-batch): a ``stream_retention`` pass runs
one job per micro-batch, ``result()`` and ``state.count()`` one job each,
and gives ``events_ops.retention_cohorts``' answer also when nothing
fits one task; a ``stream_cms`` ``result()`` is one task; recording a
batch's metrics runs no Spark job. Scd2 and CurationFunnel batches run
no empty-batch pre-check job, and empty batches (first and middle)
leave their answers as the replay without them gives."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from bytehub_spark import streaming as st
from bytehub_spark.operators import events_ops
from bytehub_spark.streaming.ingest import EVENTS_SCHEMA

DOCS_SCHEMA = "doc_id long, text string"

N_FILES = 2
# a one-byte advisory size sends every merge to the exchange side
WIDE_SIDE = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1",
    "spark.sql.shuffle.partitions": "4",
}


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    rng = np.random.default_rng(4)
    n, days = 6_000, 21
    us = np.sort(rng.choice(days * 86_400 * 1_000_000, n, replace=False))
    ev = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(us, unit="us")).astype(
            "datetime64[us]"
        ),
        "user_id": rng.integers(0, 200, n).astype("int64"),
        "event_type": rng.choice(["view", "click", "purchase"], n),
        "value": rng.gamma(1.0, 50.0, n),
        "props": "{}",
    })
    src = tmp_path_factory.mktemp("events")
    for i, part in enumerate(np.array_split(np.arange(n), N_FILES)):
        ev.iloc[part].to_parquet(src / f"part-{i:03d}.parquet", index=False)
    return str(src)


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory):
    """400 documents in two files: repeated texts (exact duplicates),
    shared word sets (near duplicates) and every eleventh text NULL."""
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    docs = pd.DataFrame({
        "doc_id": np.arange(400, dtype="int64"),
        "text": [
            " ".join(words[(i * k) % 8] for k in range(1, 6 + i % 4)) if i % 11 else None
            for i in range(400)
        ],
    })
    src = tmp_path_factory.mktemp("docs")
    for i, part in enumerate(np.array_split(np.arange(400), N_FILES)):
        docs.iloc[part].to_parquet(src / f"part-{i:03d}.parquet", index=False)
    return str(src)


def _batches(spark, src, schema):
    """(the files of ``src`` as one frame each, an empty frame)."""
    files = [os.path.join(src, f) for f in sorted(os.listdir(src))]
    frames = [spark.read.schema(schema).parquet(f) for f in files]
    return frames, frames[0].limit(0)


def _fed(mon, batches):
    """``mon`` after ``batches``, each processed as the next epoch."""
    for batch in batches:
        mon.process_batch(batch, mon.n_batches)
    return mon


def _replay(spark, attach, src, ckpt):
    q, mon = attach(st.stream_events(spark, src, max_files=1), ckpt)
    try:
        assert q.awaitTermination(600)
    finally:
        q.stop()
    assert mon.n_batches == N_FILES
    return mon


@pytest.mark.parametrize("tier", ["one_task", "wide"])
def test_retention_pass_jobs(spark, spark_work, session_conf, events_dir, tmp_path, tier):
    if tier == "wide":
        session_conf(WIDE_SIDE)
    want = events_ops.retention_cohorts(
        spark.read.schema(EVENTS_SCHEMA).parquet(events_dir), 8
    ).toPandas()
    batches, _ = spark_work(
        lambda: _replay(spark, st.stream_retention, events_dir, str(tmp_path / "ck"))
    )
    mon = spark_work.result
    result, _ = spark_work(lambda: mon.result().toPandas())
    pd.testing.assert_frame_equal(spark_work.result, want)
    counted, _ = spark_work(mon.state.count)
    assert spark_work.result == 200
    if tier == "one_task":
        assert batches <= N_FILES, f"{batches} Spark jobs for {N_FILES} micro-batches"
        assert (result, counted) == (1, 1)


def test_count_min_result_is_one_task(spark, spark_work, events_dir, tmp_path):
    mon = _replay(spark, st.stream_cms, events_dir, str(tmp_path / "ck"))
    assert spark_work(lambda: mon.result().toPandas()) == (1, 1)
    assert len(spark_work.result) == len(mon.cells)


def test_batch_metrics_are_read_from_the_listing(spark, spark_work, events_dir, tmp_path):
    mon = _replay(spark, st.stream_retention, events_dir, str(tmp_path / "ck"))
    assert [m["epoch"] for m in mon.metrics] == list(range(N_FILES))
    for m in mon.metrics:
        assert m["state_files"] >= 1 and m["state_bytes"] > 0 and m["batch_ms"] > 0
    snap = os.path.join(str(tmp_path / "ck"), "monitor_state", str(N_FILES - 1), "state")
    assert mon.metrics[-1]["state_bytes"] == sum(
        os.path.getsize(os.path.join(snap, f)) for f in os.listdir(snap) if f.endswith(".parquet")
    )
    assert spark_work(lambda: mon._state_size(spark)) == (0, 0)
    assert spark_work.result == (mon.metrics[-1]["state_files"], mon.metrics[-1]["state_bytes"])


# Spark jobs per non-empty batch (first, second): one fewer than with the
# isEmpty() pre-check each batch used to open with (Scd2 3 and 9,
# CurationFunnel 11 and 12)
BATCH_JOBS = {st.Scd2Monitor: (2, 8), st.CurationFunnelMonitor: (10, 11)}


@pytest.mark.parametrize("cls", list(BATCH_JOBS), ids=lambda c: c.__name__)
def test_batches_run_no_empty_check(spark, spark_work, events_dir, docs_dir, cls):
    src, schema = (
        (events_dir, EVENTS_SCHEMA) if cls is st.Scd2Monitor else (docs_dir, DOCS_SCHEMA)
    )
    batches, _ = _batches(spark, src, schema)
    mon = cls()
    jobs = []
    for epoch, batch in enumerate(batches):
        jobs.append(spark_work(lambda: mon.process_batch(batch, epoch))[0])
    assert all(j <= most for j, most in zip(jobs, BATCH_JOBS[cls])), jobs


def test_scd2_empty_batches_change_nothing(spark, events_dir):
    batches, empty = _batches(spark, events_dir, EVENTS_SCHEMA)
    mon = _fed(st.Scd2Monitor(), [empty])
    with pytest.raises(RuntimeError, match="before any micro-batch"):
        mon.result()
    got = _fed(mon, [batches[0], empty, batches[1]]).result().toPandas()
    want = events_ops.scd2_history(
        spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    ).toPandas()
    pd.testing.assert_frame_equal(got, want)
    plain = _fed(st.Scd2Monitor(), batches)  # held: its state dir lives with it
    pd.testing.assert_frame_equal(got, plain.result().toPandas())


def test_curation_funnel_empty_batches_are_zero_rows(spark, docs_dir):
    batches, empty = _batches(spark, docs_dir, DOCS_SCHEMA)
    plain = _fed(st.CurationFunnelMonitor(), batches)
    rows = plain.result().toPandas().values.tolist()
    mon = _fed(st.CurationFunnelMonitor(), [empty, batches[0], empty, batches[1]])
    got = mon.result().toPandas().values.tolist()
    assert got == [
        [0, 0, 0, 0, 0], [1, *rows[0][1:]], [2, 0, 0, 0, 0], [3, *rows[1][1:]]
    ]
    assert rows[0][1] == 200 and rows[0][4] > 0  # the batches are not trivial
