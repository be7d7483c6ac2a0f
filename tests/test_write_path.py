"""Small writes and stream micro-batches run as one Spark task: a save,
a compaction or a monitor batch whose input fits one task (``ts.narrow``,
and for a write at most ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
bytes) runs as one job with no exchange and still writes one file per
partition; a write past that budget, or of a frame without a size
estimate, keeps its exchange and writes the same files, and every write
reads back equal."""

import datetime as dt

import pandas as pd
import pytest

from bytehub_spark import streaming as st
from bytehub_spark.streaming.ingest import EVENTS_SCHEMA, CountMinMonitor

# a one-byte budget: no write fits one task, every write keeps its exchange
EXCHANGE_SIDE = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1"}
DAYS = pd.date_range("2024-01-01", periods=21 * 24, freq="1h")


def _files(fs, name) -> dict[str, int]:
    """Parquet data files per partition of feature ``name``."""
    return fs._storage("test").partition_file_counts(name.split("/")[1])


def _frame(times, value, created="2024-02-01"):
    return pd.DataFrame({
        "time": times,
        "created_time": pd.Timestamp(created),
        "value": [float(value + i) for i in range(len(times))],
    })


@pytest.mark.parametrize("kind", ["pandas", "spark"])
def test_a_small_save_is_one_task(fs, spark, spark_work, kind):
    """20 rows over 20 days: one job of one task, one file per day."""
    fs.create_feature("test/a", partition="date")
    pdf = _frame(pd.date_range("2024-01-01", periods=20, freq="25h"), 0)
    df = pdf if kind == "pandas" else spark.createDataFrame(pdf)
    assert spark_work(lambda: fs.save_dataframe(df, "test/a")) == (1, 1)
    assert sorted(set(_files(fs, "test/a").values())) == [1]
    got = fs.load_pandas("test/a")["test/a"]
    assert got.tolist() == pdf["value"].tolist()


def _writes(fs, spark_work):
    """A 21-day batch, two corrections of three days and a compaction of
    them: (jobs of each write, files per partition after each, the
    final load)."""
    fs.create_feature("test/a", partition="date")
    jobs, files = [], []
    for frame in (
        _frame(DAYS, 0),
        _frame(DAYS[24:96:8], 100, created="2024-02-02"),
        _frame(DAYS[24:96:8], 200, created="2024-02-03"),
    ):
        jobs.append(spark_work(lambda: fs.save_dataframe(frame, "test/a"))[0])
        files.append(_files(fs, "test/a"))
    compacted = spark_work(lambda: fs.compact_feature("test/a"))
    assert spark_work.result == {"partitions": 3, "files_before": 9, "files_after": 3}
    jobs.append(compacted[0])
    files.append(_files(fs, "test/a"))
    return jobs, files, fs.load_pandas("test/a")


def test_writes_in_one_task_write_what_the_exchange_writes(
    fs, fs_factory, spark_work, session_conf
):
    """The batch, the corrections and the compaction each run one job
    (the exchange side: two, a shuffle-map job and the write), and both
    sides leave one file per partition after the batch and the
    compaction, three in each corrected partition between, and load
    equal."""
    one_task = _writes(fs, spark_work)
    session_conf(EXCHANGE_SIDE)
    exchange = _writes(fs_factory(), spark_work)
    assert one_task[0] == [1, 1, 1, 1]
    assert all(j >= 2 for j in exchange[0]), exchange[0]
    assert one_task[1] == exchange[1]
    batch, _, corrected, compacted = one_task[1]
    assert len(batch) == 21 and set(batch.values()) == {1}
    assert sorted(corrected.values()) == [1] * 18 + [3] * 3
    assert compacted == batch
    pd.testing.assert_frame_equal(one_task[2], exchange[2])
    assert len(one_task[2]) == len(DAYS)


def test_a_frame_without_a_size_estimate_keeps_the_exchange(fs, spark, spark_work):
    """Python rows (an RDD-backed frame, sized at
    spark.sql.defaultSizeInBytes): the write keeps its exchange and still
    writes one file per partition."""
    fs.create_feature("test/a", partition="date")
    rows = [(dt.datetime(2024, 1, 1 + i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "time timestamp, value double")
    jobs, _ = spark_work(lambda: fs.save_dataframe(df, "test/a"))
    assert jobs >= 2, jobs
    assert _files(fs, "test/a") == {f"2024-01-0{1 + i}": 1 for i in range(5)}
    assert fs.load_pandas("test/a")["test/a"].tolist() == [float(i) for i in range(5)]


def _events(spark, src, n_files=2, rows=40):
    """``n_files`` parquet files of events, one micro-batch each."""
    t0 = dt.datetime(2024, 3, 1)
    for f in range(n_files):
        batch = [
            (f * rows + i, t0 + dt.timedelta(minutes=f * rows + i), i % 7, "click", float(i), None)
            for i in range(rows)
        ]
        spark.createDataFrame(batch, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    return st.stream_events(spark, src, max_files=1)


def test_a_stream_micro_batch_is_one_job(fs, spark, spark_work, tmp_path, monkeypatch):
    """stream_into_feature: each micro-batch's append is one job."""
    events = _events(spark, str(tmp_path / "src"))
    fs.create_feature("test/s", partition="date")
    per_batch = []
    save = fs.save_dataframe

    def counted(df, name):
        per_batch.append(spark_work(lambda: save(df, name)))

    monkeypatch.setattr(fs, "save_dataframe", counted)
    q = st.stream_into_feature(events, fs, "test/s", str(tmp_path / "ck"))
    q.awaitTermination()
    assert q.exception() is None
    assert per_batch == [(1, 1), (1, 1)]
    assert len(fs.load_pandas("test/s")) == 80


def test_a_count_min_batch_is_one_job(spark, spark_work, tmp_path):
    """A micro-batch read from one parquet file: one job of one task; a
    frame of Python rows (no size estimate) keeps its exchange; both
    fold into the same cells."""
    _events(spark, str(tmp_path / "src"), n_files=1)
    batch = spark.read.parquet(str(tmp_path / "src"))
    rows = spark.createDataFrame(batch.collect(), EVENTS_SCHEMA)
    narrow, wide = CountMinMonitor(), CountMinMonitor()
    assert spark_work(lambda: narrow.process_batch(batch, 0)) == (1, 1)
    jobs, _ = spark_work(lambda: wide.process_batch(rows, 0))
    assert jobs >= 2, jobs
    assert narrow.cells == wide.cells and sum(narrow.cells.values()) == 4 * 40
