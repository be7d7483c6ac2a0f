"""Property-based checks (hypothesis) of the timeseries kernel against
pandas oracles — random series shapes, duplicate timestamps, random
ranges/freqs. Mirrors the reference's randomized-input oracle style
(SURVEY §5) with systematic shrinking."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from bytehub_spark import timeseries as ts

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


series_strategy = st.builds(
    lambda n, step_h, seed: (n, step_h, seed),
    n=st.integers(min_value=1, max_value=40),
    step_h=st.sampled_from([1, 6, 24]),
    seed=st.integers(min_value=0, max_value=10_000),
)


def make_series(n, step_h, seed):
    rng = np.random.default_rng(seed)
    times = pd.date_range("2021-01-01", periods=n, freq=f"{step_h}h")
    # random subset, keep at least one point
    keep = rng.random(n) < 0.7
    keep[rng.integers(0, n)] = True
    return pd.DataFrame({"time": times[keep], "value": rng.normal(size=keep.sum())})


@pytest.mark.parametrize("freq", ["1h", "5h", "1d"])
@given(spec=series_strategy)
@settings(**SETTINGS)
def test_resample_matches_pandas(spark, freq, spec):
    pdf = make_series(*spec)
    sdf = spark.createDataFrame(pdf)
    lo, hi = pdf["time"].min(), pdf["time"].max()
    out = (
        ts.resample(sdf, lo, hi, freq)
        .toPandas()
        .sort_values("time")
        .reset_index(drop=True)
    )
    grid = pd.date_range(lo, hi, freq=freq.replace("d", "D"))
    s = pdf.set_index("time")["value"]
    exp = s.reindex(s.index.union(grid)).ffill().reindex(grid)
    assert len(out) == len(exp)
    np.testing.assert_allclose(out["value"].to_numpy(), exp.to_numpy())


@given(
    n=st.integers(min_value=1, max_value=60),
    dup_every=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_dedup_latest_matches_pandas(spark, n, dup_every, seed):
    rng = np.random.default_rng(seed)
    base = pd.date_range("2021-01-01", periods=n, freq="h")
    times = base.repeat(1 + (np.arange(n) % dup_every == 0))
    pdf = pd.DataFrame(
        {
            "time": times,
            "created_time": pd.Timestamp("2021-06-01")
            + pd.to_timedelta(rng.permutation(len(times)), unit="m"),
            "value": rng.normal(size=len(times)),
        }
    )
    out = (
        ts.dedup_latest(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("time")
        .reset_index(drop=True)
    )
    exp = (
        pdf.sort_values(["time", "created_time"])
        .groupby("time", as_index=False)
        .last()
    )
    assert len(out) == len(exp)
    np.testing.assert_allclose(out["value"].to_numpy(), exp["value"].to_numpy())


@given(
    n=st.integers(min_value=2, max_value=50),
    null_frac=st.floats(min_value=0.0, max_value=0.9),
    ranges=st.integers(min_value=2, max_value=8),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_two_pass_locf_matches_pandas_ffill(spark, n, null_frac, ranges, seed):
    """``ts.align`` of one series over ``ranges`` > 1 time buckets, so
    ``locf``'s pass 2 carries values across buckets, against pandas."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2021-01-01", periods=n, freq="h"),
            "value": np.where(
                rng.random(n) < null_frac, np.nan, rng.normal(size=n)
            ),
        }
    )
    rows = spark.createDataFrame(pdf).select(
        F.lit("value").alias(ts.SERIES_COL),
        "time",
        F.lit(None).cast("timestamp").alias(ts.CREATED_COL),
        "value",
    )
    lo, hi = pdf["time"].min(), pdf["time"].max()
    out = ts.align(rows, {"value": "value"}, lo, hi, ranges).toPandas()
    assert list(out["time"]) == list(pdf["time"])
    exp = pdf["value"].ffill()
    a, b = out["value"].to_numpy(), exp.to_numpy()
    assert (np.isnan(a) == np.isnan(b)).all()
    np.testing.assert_allclose(a[~np.isnan(a)], b[~np.isnan(b)])


bitemporal_strategy = st.builds(
    lambda n_appends, n_times, tt, seed: (n_appends, n_times, tt, seed),
    n_appends=st.integers(min_value=1, max_value=4),
    n_times=st.integers(min_value=2, max_value=15),
    tt=st.sampled_from([None, "-30min", "-2h", "1h"]),
    seed=st.integers(min_value=0, max_value=10_000),
)


@given(spec=bitemporal_strategy)
@settings(**SETTINGS)
def test_bitemporal_load_matches_pandas_model(fs_factory, spec):
    """Full load path (appends -> dedup -> time travel -> range) vs an
    independent pandas model of the reference semantics
    (dask.py:119-122 time travel, dask.py:156-165 dedup)."""
    n_appends, n_times, tt, seed = spec
    fs = fs_factory()
    rng = np.random.default_rng(seed)
    times = pd.date_range("2021-03-01", periods=n_times, freq="1h")
    fs.create_feature("test/prop_bt")
    frames = []
    for k in range(n_appends):
        keep = rng.random(n_times) < 0.8
        keep[rng.integers(0, n_times)] = True
        f = pd.DataFrame(
            {
                "time": times[keep],
                "created_time": times[keep] + pd.Timedelta(minutes=int(rng.integers(0, 180))),
                "value": rng.normal(size=keep.sum()),
            }
        )
        fs.save_dataframe(f, "test/prop_bt")
        frames.append(f)

    lo = times[int(rng.integers(0, n_times))]
    hi = times[int(rng.integers(0, n_times))]
    if hi < lo:
        lo, hi = hi, lo
    got = fs.load_pandas("test/prop_bt", from_date=lo, to_date=hi, time_travel=tt)

    # pandas model: time travel filter, then latest created_time per time,
    # then inclusive range slice
    allf = pd.concat(frames, ignore_index=True)
    if tt is not None:
        allf = allf[allf["created_time"] <= allf["time"] + pd.Timedelta(tt)]
    allf = allf.sort_values(["time", "created_time"]).groupby("time").last()
    exp = allf.loc[(allf.index >= lo) & (allf.index <= hi), "value"]

    assert len(got) == len(exp)
    if len(exp):
        np.testing.assert_allclose(
            got["test/prop_bt"].to_numpy(), exp.to_numpy(), rtol=1e-12
        )
