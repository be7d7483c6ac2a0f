"""The ``Monitor`` base-class contract, pinned across all 19 ``stream_*``
attach functions (17 monitor classes; the Count-Min and HLL monitors run
once ungrouped and once with ``group_col="event_type"``): every
``stream_*`` attach equals feeding the same files through
``process_batch``; additive monitors skip a re-delivered epoch;
``result()`` before any micro-batch raises one uniform error."""

from __future__ import annotations

import os
import re

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
