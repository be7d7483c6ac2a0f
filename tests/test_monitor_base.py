"""The ``Monitor`` base-class contract, pinned across all 19 ``stream_*``
attach functions (17 monitor classes; the Count-Min and HLL monitors run
once ungrouped and once with ``group_col="event_type"``): every
``stream_*`` attach equals feeding the same files through
``process_batch``; additive monitors skip a re-delivered epoch;
``result()`` before any micro-batch raises one uniform error. The
monitors whose state is Spark frames resume from their state snapshot
after a restart and keep at most two snapshots; after a crash between a
snapshot's write and its rename they process the torn epoch once, and
after a crash past the rename they skip the epoch the snapshot holds."""

from __future__ import annotations

import os
import re
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import SF_SMOKE
from bytehub_spark import streaming as st
from bytehub_spark.sources import load_table

# the sf0.1 tables sit next to the smoke-scale ones
SF = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
N_FILES = 3
ID_COL = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}

GATE_RULES = [
    (0, "not_null", "lang"),
    (1, "unique", "doc_id"),
    (2, "range", "n_chars", 1, 100_000),
    (3, "like", "lang", "__"),
]


def _reference(spark):
    return load_table(spark, SF, "embeddings").where(F.col("vec_id") % 2 == 0)


def _weighted(df):
    return df.select("doc_id", (1 + F.col("n_chars") % 8).alias("w"))


def _by_type(spark):
    return {"group_col": "event_type"}


# (stream_* function, monitor class, source table, kwargs(spark), prep)
CASES = [
    ("stream_lateness_monitor", st.LatenessMonitor, "events", None, None),
    ("stream_funnel_monitor", st.FunnelMonitor, "events", None, None),
    ("stream_active_users", st.ActiveUsersMonitor, "events", None, None),
    ("stream_kmv_distinct", st.KMVDistinctMonitor, "documents", None, None),
    ("stream_retention", st.RetentionMonitor, "events", None, None),
    ("stream_transitions", st.TransitionMonitor, "events", None, None),
    ("stream_bloom_filter", st.BloomFilterMonitor, "documents", None, None),
    (
        "stream_embedding_drift",
        st.EmbeddingDriftMonitor,
        "embeddings",
        lambda spark: {"reference": _reference(spark)},
        None,
    ),
    (
        "stream_quality_gate",
        st.QualityGateMonitor,
        "documents",
        lambda spark: {"rules": GATE_RULES},
        None,
    ),
    ("stream_histogram", st.HistogramMonitor, "events", None, None),
    (
        "stream_band_plan",
        st.BandPlanMonitor,
        "events",
        lambda spark: {"keys": ["event_type"]},
        None,
    ),
    ("stream_scd2", st.Scd2Monitor, "events", None, None),
    (
        "stream_curation_funnel",
        st.CurationFunnelMonitor,
        "documents",
        None,
        None,
    ),
    ("stream_cms", st.CountMinMonitor, "events", None, None),
    ("stream_hll_distinct", st.HllDistinctMonitor, "events", None, None),
    ("stream_hll_by_group", st.HllDistinctMonitor, "events", _by_type, None),
    ("stream_cms_by_group", st.CountMinMonitor, "events", _by_type, None),
    ("stream_kmv_by_group", st.GroupedKmvMonitor, "events", None, None),
    (
        "stream_weighted_sample",
        st.WeightedSampleMonitor,
        "documents",
        lambda spark: {"k": 25},
        _weighted,
    ),
]


def _case_id(case):
    """The monitor class, plus the group column of a grouped case."""
    _, cls, _, kwargs, _ = case
    return f"{cls.__name__}-event_type" if kwargs is _by_type else cls.__name__


CASE_IDS = [_case_id(c) for c in CASES]

# merges that add counts or sums, or extend runs: a re-delivered epoch
# would be counted twice
ADDITIVE = {
    "LatenessMonitor",
    "TransitionMonitor",
    "EmbeddingDriftMonitor",
    "QualityGateMonitor",
    "HistogramMonitor",
    "BandPlanMonitor",
    "Scd2Monitor",
    "CountMinMonitor",
    "CurationFunnelMonitor",
}
ADDITIVE_CASES = [c for c in CASES if c[1].__name__ in ADDITIVE]


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """table -> (source dir, schema, files in arrival order): each table
    split by id mod 3 into one parquet file per micro-batch, with
    strictly increasing mtimes so the file source's arrival order is
    fixed."""
    out = {}
    root = tmp_path_factory.mktemp("monitor_sources")
    for table, id_col in ID_COL.items():
        df = load_table(spark, SF, table)
        src = str(root / table)
        files = []
        for i in range(N_FILES):
            df.where(F.col(id_col) % N_FILES == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            new = sorted(
                f
                for f in os.listdir(src)
                if f.endswith(".parquet") and os.path.join(src, f) not in files
            )
            assert len(new) == 1
            path = os.path.join(src, new[0])
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
            files.append(path)
        out[table] = (src, df.schema, files)
    return out


def _monitor(spark, case):
    _, cls, _, kwargs, _ = case
    return cls(**(kwargs(spark) if kwargs else {}))


def _batches(spark, sources, case):
    _, _, table, _, prep = case
    _, schema, files = sources[table]
    frames = [spark.read.schema(schema).parquet(f) for f in files]
    return [prep(f) for f in frames] if prep else frames


def _table(res) -> pd.DataFrame:
    pdf = res if isinstance(res, pd.DataFrame) else res.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _stream(spark, sources, case, src, ckpt, monitor=None):
    """Run the case's availableNow query over ``src`` to its end; returns
    (the monitor, the exception the query failed with, or None)."""
    fn, cls, table, kwargs, prep = case
    stream = (
        spark.readStream.schema(sources[table][1])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if prep:
        stream = prep(stream)
    if monitor is None:
        q, monitor = getattr(st, fn)(
            stream, ckpt, **(kwargs(spark) if kwargs else {})
        )
    else:
        q, _ = monitor.attach(stream, ckpt)
    try:
        finished = q.awaitTermination(600)
    except Exception as e:  # the query failed: a crashed stream
        return monitor, e
    finally:
        q.stop()
    assert finished and isinstance(monitor, cls)
    return monitor, None


@pytest.fixture(scope="module")
def direct(spark, sources):
    """``direct(case)``: the case's monitor fed every file in arrival
    order through process_batch, as a table — the reference a stream
    must equal, computed once per case."""
    tables = {}

    def table(case) -> pd.DataFrame:
        key = _case_id(case)
        if key not in tables:
            mon = _monitor(spark, case)
            for i, b in enumerate(_batches(spark, sources, case)):
                mon.process_batch(b, i)
            tables[key] = _table(mon.result())
        return tables[key]

    return table


@pytest.mark.parametrize("case", CASES, ids=CASE_IDS)
def test_attach_equals_process_batch(spark, sources, tmp_path, case):
    """stream_*(3-file availableNow source) == the same monitor fed the
    same files in the same order through process_batch."""
    fn, cls, table, kwargs, prep = case
    src, schema, files = sources[table]
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if prep:
        stream = prep(stream)
    q, streamed = getattr(st, fn)(
        stream, str(tmp_path / "ckpt"), **(kwargs(spark) if kwargs else {})
    )
    try:
        assert q.awaitTermination(600)
    finally:
        q.stop()
    assert isinstance(streamed, cls)
    assert streamed.n_batches == N_FILES

    direct = _monitor(spark, case)
    for i, b in enumerate(_batches(spark, sources, case)):
        direct.process_batch(b, i)
    pd.testing.assert_frame_equal(
        _table(streamed.result()), _table(direct.result())
    )


@pytest.mark.parametrize(
    "case", ADDITIVE_CASES, ids=[_case_id(c) for c in ADDITIVE_CASES]
)
def test_additive_monitor_skips_replayed_epoch(spark, sources, case):
    """foreachBatch re-delivers an uncommitted epoch under the same
    epoch_id after a restart: feeding it twice equals feeding it once."""
    assert case[1].ADDITIVE
    b0, b1 = _batches(spark, sources, case)[:2]
    once, twice = _monitor(spark, case), _monitor(spark, case)
    once.process_batch(b0, 0)
    once.process_batch(b1, 1)
    twice.process_batch(b0, 0)
    twice.process_batch(b0, 0)  # re-delivery
    twice.process_batch(b1, 1)
    assert once.n_batches == twice.n_batches == 2
    pd.testing.assert_frame_equal(
        _table(twice.result()), _table(once.result())
    )


def test_only_additive_monitors_declare_the_law():
    assert {c[1].__name__ for c in CASES if c[1].ADDITIVE} == ADDITIVE
    assert len(CASES) == 19
    assert len({c[1] for c in CASES}) == 17
    assert len(ADDITIVE) == 9


@pytest.mark.parametrize("case", CASES, ids=CASE_IDS)
def test_result_before_any_batch_raises(spark, case):
    mon = _monitor(spark, case)
    msg = f"{type(mon).__name__}.result() before any micro-batch was processed"
    with pytest.raises(RuntimeError, match=re.escape(msg)):
        mon.result()


# monitors whose state is Spark frames: committed as a snapshot per epoch
FRAME_CASES = [c for c in CASES if c[1].STATE or c[1].PARTS]
FRAME_IDS = [_case_id(c) for c in FRAME_CASES]


def _arrive(sources, case, dst, i):
    """File ``i`` of the case's table lands in the source ``dst``, with
    its mtime, so the arrival order stays fixed."""
    os.makedirs(dst, exist_ok=True)
    shutil.copy2(sources[case[2]][2][i], dst)


def _snapshots(ckpt) -> list[str]:
    return sorted(set(os.listdir(os.path.join(ckpt, "monitor_state"))) - {"parts"})


@pytest.mark.parametrize("case", FRAME_CASES, ids=FRAME_IDS)
def test_restart_resumes_from_the_snapshot(spark, sources, direct, tmp_path, case):
    """A monitor on a checkpoint processes the first file; a new instance
    on the same checkpoint resumes from its snapshot and processes the
    rest: the result equals the batch twin's, and at most the newest two
    snapshots remain."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _arrive(sources, case, src, 0)
    first, error = _stream(spark, sources, case, src, ckpt)
    assert error is None and first.n_batches == 1
    for i in range(1, N_FILES):
        _arrive(sources, case, src, i)
    second, error = _stream(spark, sources, case, src, ckpt)
    assert error is None
    assert second is not first and second.n_batches == N_FILES
    assert [m["epoch"] for m in second.metrics] == list(range(1, N_FILES))
    pd.testing.assert_frame_equal(_table(second.result()), direct(case))
    assert _snapshots(ckpt) == [str(N_FILES - 2), str(N_FILES - 1)]


@pytest.mark.parametrize("case", FRAME_CASES, ids=FRAME_IDS)
def test_torn_commit_reprocesses_the_batch_once(
    spark, sources, direct, tmp_path, monkeypatch, case
):
    """A crash between a snapshot's write and its rename leaves
    ``<epoch>.tmp``: the restarted monitor loads the previous epoch,
    and Spark's re-delivery of the torn epoch is processed exactly
    once."""
    from bytehub_spark.streaming import snapshots

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for i in range(2):
        _arrive(sources, case, src, i)
    renames = []
    rename = snapshots._rename

    def crash_on_the_second(fs, tmp, final):
        renames.append(final.getName())
        if len(renames) == 2:
            raise RuntimeError("driver lost")
        rename(fs, tmp, final)

    monkeypatch.setattr(snapshots, "_rename", crash_on_the_second)
    _, error = _stream(spark, sources, case, src, ckpt)
    monkeypatch.setattr(snapshots, "_rename", rename)
    assert error is not None and renames == ["0", "1"]
    assert _snapshots(ckpt) == ["0", "1.tmp"]
    for i in range(2, N_FILES):
        _arrive(sources, case, src, i)
    restarted, error = _stream(spark, sources, case, src, ckpt, _monitor(spark, case))
    assert error is None and restarted.n_batches == N_FILES
    assert [m["epoch"] for m in restarted.metrics] == list(range(1, N_FILES))
    pd.testing.assert_frame_equal(_table(restarted.result()), direct(case))


@pytest.mark.parametrize("case", FRAME_CASES, ids=FRAME_IDS)
def test_a_committed_epoch_is_not_processed_again(
    spark, sources, direct, tmp_path, monkeypatch, case
):
    """A crash after a snapshot's rename, before Spark records the epoch
    as done: Spark re-delivers the epoch, and the restarted monitor,
    whose snapshot holds it, skips it whatever its merge law."""
    from bytehub_spark.streaming import snapshots

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for i in range(2):
        _arrive(sources, case, src, i)
    prunes = []
    prune = snapshots.prune

    def crash_on_the_second(*args):
        prunes.append(args)
        if len(prunes) == 2:
            raise RuntimeError("driver lost")
        prune(*args)

    monkeypatch.setattr(snapshots, "prune", crash_on_the_second)
    _, error = _stream(spark, sources, case, src, ckpt)
    monkeypatch.setattr(snapshots, "prune", prune)
    assert error is not None and _snapshots(ckpt) == ["0", "1"]
    for i in range(2, N_FILES):
        _arrive(sources, case, src, i)
    restarted, error = _stream(spark, sources, case, src, ckpt, _monitor(spark, case))
    assert error is None and restarted.n_batches == N_FILES
    assert [m["epoch"] for m in restarted.metrics] == list(range(2, N_FILES))
    pd.testing.assert_frame_equal(_table(restarted.result()), direct(case))
