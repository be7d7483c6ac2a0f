"""The event operators on the store's kernels: ``ts_align_ffill``
(``events_ops.align_ffill_types`` on ``ts.align``) against a pandas model,
and ``ts_resample_locf`` against its DuckDB oracle where a user's newest
row is null."""

from datetime import datetime, timedelta

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from bytehub_spark.operators import events_ops

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, "
    "props string"
)
T0 = datetime(2024, 3, 1)


def _events(spark, path, seed=3):
    """Random events over 30 hours (a fifth of the values null) plus a
    click hour whose newest value is null after a non-null one, read from
    parquet (a file scan, sized by Spark at plan time)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(240):
        ts = T0 + timedelta(minutes=int(rng.integers(0, 30 * 60)))
        value = None if rng.random() < 0.2 else float(rng.normal())
        kind = ("click", "purchase", "view")[int(rng.integers(0, 3))]
        rows.append((i, ts, int(rng.integers(0, 5)), kind, value, None))
    rows += [
        (1000, T0 + timedelta(hours=31, minutes=10), 1, "click", 2.0, None),
        (1001, T0 + timedelta(hours=31, minutes=50), 1, "click", None, None),
        (1002, T0 + timedelta(hours=32, minutes=5), 1, "purchase", 4.0, None),
    ]
    pdf = pd.DataFrame(rows, columns=[f.split()[0] for f in SCHEMA.split(", ")])
    spark.createDataFrame(rows, SCHEMA).write.parquet(str(path))
    return pdf, spark.read.parquet(str(path))


def _model(pdf, types):
    """Per type, each hour's newest value (null kept), outer-joined on the
    union of the hours and forward-filled; a type with no rows is null."""
    ev = pdf[pdf["event_type"].isin(types)].assign(time=pdf["ts"].dt.floor("h"))
    hourly = ev.sort_values(["ts", "event_id"]).drop_duplicates(
        ["event_type", "time"], keep="last"
    )
    wide = hourly.pivot(index="time", columns="event_type", values="value")
    wide = wide.reindex(columns=list(types)).sort_index().ffill()
    wide.columns = [f"{t}_value" for t in types]
    return wide.reset_index()


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize("advisory", [None, "1"])
def test_align_ffill_types_matches_the_model(spark, tmp_path, advisory):
    """The null newest click hour carries the click before it, "refund"
    has no rows: a null column. The one-bucket plan builds without a
    Spark job; a one-byte advisory size takes the many-bucket side."""
    pdf, events = _events(spark, tmp_path / "events")
    types = ("click", "purchase", "refund")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key, None)
    if advisory is not None:
        spark.conf.set(key, advisory)
    try:
        j0 = _next_job(spark)
        out = events_ops.align_ffill_types(events, types)
        built = _next_job(spark) - j0
        got = out.toPandas()
    finally:
        spark.conf.unset(key) if saved is None else spark.conf.set(key, saved)
    if advisory is None:
        assert built == 0, f"{built} Spark job(s) while building the plan"
    want = _model(pdf, types)
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    null_hour = want["time"] == pd.Timestamp(T0 + timedelta(hours=31))
    assert want.loc[null_hour, "click_value"].iloc[0] != 2.0
    assert got["refund_value"].isna().all()


def test_resample_locf_oracle_carries_past_a_null_newest_row(spark):
    """Values 1.0, null, 3.0 at 00:10, 01:10, 02:10: at 02:00 both the
    operator and its DuckDB oracle carry 1.0 past the null newest row."""
    rows = [
        (1, T0 + timedelta(minutes=10), 7, "click", 1.0, None),
        (2, T0 + timedelta(hours=1, minutes=10), 7, "click", None, None),
        (3, T0 + timedelta(hours=2, minutes=10), 7, "click", 3.0, None),
    ]
    got = events_ops.resample_locf(spark.createDataFrame(rows, SCHEMA), "1h").toPandas()
    events = pd.DataFrame(rows, columns=[f.split()[0] for f in SCHEMA.split(", ")])
    con = duckdb.connect()
    con.register("events", events)
    want = con.execute(entry.oracle_sql()["ts_resample_locf"]).df()
    got, want = (
        f.sort_values(["user_id", "time"]).reset_index(drop=True) for f in (got, want)
    )
    assert list(got["time"]) == list(want["time"])
    assert got["value"].tolist()[1:] == want["value"].tolist()[1:] == [1.0, 1.0]
    assert got["value"].isna().iloc[0] and want["value"].isna().iloc[0]
