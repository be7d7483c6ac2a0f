"""The keyed resample (``ts.resample`` with ``partition_by``) against a
pandas model: per key, the newest version per time, then
``reindex(union(grid)).ffill()`` onto the grid. Random keys, duplicate
(key, time) versions, null newest versions, rows before the grid, on grid
points and past the last one, keys with no row on the grid, null times;
plus the Spark work of ``events_ops.resample_locf`` and its empty case."""

import time
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from bytehub_spark import timeseries as ts
from bytehub_spark.operators import events_ops
from bytehub_spark.plans.inspect import executed_plan

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
SCHEMA = "key long, time timestamp, ver long, value double"
LO = datetime(2021, 1, 2)


def model(rows: pd.DataFrame, lo, hi, freq: str) -> pd.DataFrame:
    """Per key of ``rows`` (key, time, ver, value): the highest ``ver`` per
    time, forward-filled onto the grid lo, lo + freq, ... <= hi. Every key
    gets the whole grid."""
    grid = pd.date_range(lo, hi, freq=freq.replace("d", "D"))
    newest = (
        rows.dropna(subset=["time"])
        .sort_values(["key", "time", "ver"])
        .drop_duplicates(["key", "time"], keep="last")  # null newest kept
    )
    out = []
    for key in sorted(rows["key"].unique()):
        s = newest[newest["key"] == key].set_index("time")["value"]
        filled = s.reindex(s.index.union(grid)).ffill().reindex(grid)
        out.append(pd.DataFrame({"key": key, "time": grid, "value": filled.to_numpy()}))
    return pd.concat(out, ignore_index=True)


def make_rows(n_keys, n, span_h, seed):
    """``n`` random rows on ``n_keys`` keys, times on the half hour from
    30 h before the grid to 30 h after its end, some duplicated with a
    newer version (about a third of those null), one with a null time; key
    ``n_keys`` has rows only past the grid, key ``n_keys + 1`` only a
    null time."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        t = LO + timedelta(minutes=30 * int(rng.integers(-60, 2 * span_h + 61)))
        rows.append((int(rng.integers(0, n_keys)), t, i, float(rng.normal())))
        if rng.random() < 0.3:  # a newer version of (key, time)
            value = None if rng.random() < 0.3 else float(rng.normal())
            rows.append((rows[-1][0], t, n + i, value))
    rows += [
        (int(rng.integers(0, n_keys)), None, 3 * n, 1.0),
        (n_keys, LO + timedelta(hours=span_h + 1), 3 * n + 1, 2.0),
        (n_keys, None, 3 * n + 2, 3.0),
        (n_keys + 1, None, 3 * n + 3, 4.0),
    ]
    return rows


keyed_strategy = st.builds(
    lambda n_keys, n, span_h, seed: (n_keys, n, span_h, seed),
    n_keys=st.integers(min_value=1, max_value=4),
    n=st.integers(min_value=1, max_value=40),
    span_h=st.integers(min_value=0, max_value=60),
    seed=st.integers(min_value=0, max_value=10_000),
)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["key", "time"]).reset_index(drop=True)


def _assert_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert len(got) == len(want)
    assert got["key"].tolist() == want["key"].tolist()
    assert (got["time"].to_numpy() == want["time"].to_numpy()).all()
    a, b = got["value"].to_numpy(dtype=float), want["value"].to_numpy(dtype=float)
    assert (np.isnan(a) == np.isnan(b)).all()
    np.testing.assert_allclose(a[~np.isnan(a)], b[~np.isnan(b)])


@pytest.mark.parametrize("freq", ["1h", "5h", "1d"])
@given(spec=keyed_strategy)
@settings(**SETTINGS)
def test_keyed_resample_matches_pandas(spark, freq, spec):
    rows = make_rows(*spec)
    hi = LO + timedelta(hours=spec[2])
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = ts.resample(
        sdf, LO, hi, freq, value_cols=["value"], partition_by=["key"], created_col="ver"
    )
    assert got.columns == ["key", "time", "value"]
    want = model(pd.DataFrame(rows, columns=["key", "time", "ver", "value"]), LO, hi, freq)
    _assert_equal(_sorted(got.toPandas()), want)


def _events(spark, n_users=12, n=400, seed=3):
    """An events-shaped table: duplicate (user_id, ts) rows with distinct
    event_ids, ts on the quarter hour over about four days."""
    rng = np.random.default_rng(seed)
    ts_ = [LO + timedelta(minutes=15 * int(m)) for m in rng.integers(0, 400, n)]
    pdf = pd.DataFrame({
        "event_id": rng.permutation(n).astype("int64"),
        "ts": ts_,
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "value": rng.normal(size=n),
    })
    sdf = spark.createDataFrame(pdf).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return pdf, sdf


def test_resample_locf_matches_the_model(spark):
    pdf, events = _events(spark)
    lo, hi = pdf["ts"].min().floor("h"), pdf["ts"].max()
    rows = pdf.rename(columns={"user_id": "key", "ts": "time", "event_id": "ver"})
    got = events_ops.resample_locf(events, "1h").withColumnRenamed("user_id", "key")
    _assert_equal(_sorted(got.toPandas()), model(rows, lo, hi, "1h"))


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_resample_locf_runs_one_keyed_exchange(spark):
    """The bounds collect and one plan with one hash exchange on user_id:
    at most 4 Spark jobs (the persist, key list and cross join form ran
    6 here), and no cartesian product."""
    _, events = _events(spark)
    events = events.cache()
    events.count()
    events_ops.resample_locf(events, "1h").write.format("noop").mode("overwrite").save()
    j0 = _next_job(spark)
    out = events_ops.resample_locf(events, "1h")
    out.write.format("noop").mode("overwrite").save()
    jobs = _next_job(spark) - j0
    events.unpersist()
    assert 0 < jobs <= 4, f"{jobs} Spark jobs"
    plan = executed_plan(out)
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan


def test_resample_locf_of_no_timed_event_is_empty(spark):
    """No grid without a ts: an empty (user_id, time, value) frame (the
    key list and cross join form raised on the null bounds)."""
    _, events = _events(spark)
    for empty in (events.limit(0), events.withColumn("ts", F.lit(None).cast("timestamp_ntz"))):
        out = events_ops.resample_locf(empty, "1h")
        assert out.columns == ["user_id", "time", "value"]
        assert dict(out.dtypes)["time"] == "timestamp"
        assert out.count() == 0


def test_resample_locf_grid_ignores_the_driver_time_zone(spark, monkeypatch):
    """The grid bounds are instants: a driver outside UTC gets the same
    answer (naive bounds read in its zone shifted the grid)."""
    _, events = _events(spark)

    def answer():
        out = events_ops.resample_locf(events, "1h").withColumnRenamed("user_id", "key")
        return _sorted(out.toPandas())

    want = answer()
    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    try:
        got = answer()
    finally:
        monkeypatch.undo()
        time.tzset()
    _assert_equal(got, want)
