"""Resampling + multi-feature alignment vs the pandas oracle.

Oracle semantics (reference tests/test_featurestore.py:405-491):
expected = pd.concat([...], axis=1).resample(freq).ffill().ffill()
restricted to [from_date, to_date]; non-contiguous series carry forward
across gaps; to_date < from_date clamps to from_date.
"""

import numpy as np
import pandas as pd

rng = np.random.default_rng(7)


def save_series(fs, name, idx, values):
    fs.create_feature(name)
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": values}), name)


def pandas_oracle(series: dict, from_date, to_date, freq):
    """Independent pandas recomputation of grid+LOCF semantics."""
    grid = pd.date_range(from_date, to_date, freq=freq)
    out = {}
    for name, s in series.items():
        aligned = s.reindex(s.index.union(grid)).ffill()
        out[name] = aligned.reindex(grid)
    return pd.DataFrame(out, index=grid)


def test_downsample_2d(fs):
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = rng.normal(size=10)
    save_series(fs, "test/r1", idx, vals)
    out = fs.load_pandas("test/r1", from_date="2021-01-01",
                         to_date="2021-01-10", freq="2d")
    exp = pandas_oracle({"test/r1": pd.Series(vals, index=idx)},
                        "2021-01-01", "2021-01-10", "2D")
    assert len(out) == len(exp)
    np.testing.assert_allclose(out["test/r1"].values, exp["test/r1"].values)
    assert (out.index == exp.index).all()


def test_upsample_10min(fs):
    idx = pd.date_range("2021-01-01", periods=5, freq="h")
    vals = rng.normal(size=5)
    save_series(fs, "test/r2", idx, vals)
    out = fs.load_pandas("test/r2", from_date="2021-01-01 00:00",
                         to_date="2021-01-01 04:00", freq="10min")
    exp = pandas_oracle({"test/r2": pd.Series(vals, index=idx)},
                        "2021-01-01 00:00", "2021-01-01 04:00", "10min")
    np.testing.assert_allclose(out["test/r2"].values, exp["test/r2"].values)
    assert len(out) == 25


def test_multifeature_mixed_freq_alignment(fs):
    idx_a = pd.date_range("2021-01-01", periods=10, freq="D")
    idx_b = pd.date_range("2021-01-01", periods=240, freq="h")
    va, vb = rng.normal(size=10), rng.normal(size=240)
    save_series(fs, "test/ma", idx_a, va)
    save_series(fs, "test/mb", idx_b, vb)

    out = fs.load_pandas(["test/ma", "test/mb"], from_date="2021-01-01",
                         to_date="2021-01-10", freq="6h")
    exp = pandas_oracle(
        {"test/ma": pd.Series(va, index=idx_a), "test/mb": pd.Series(vb, index=idx_b)},
        "2021-01-01", "2021-01-10", "6h",
    )
    np.testing.assert_allclose(out["test/ma"].values, exp["test/ma"].values)
    np.testing.assert_allclose(out["test/mb"].values, exp["test/mb"].values)


def test_gap_carry_forward(fs):
    """Non-contiguous series: LOCF across the gap; seed before from_date."""
    idx_early = pd.date_range("2021-01-01", periods=5, freq="D")
    idx_late = pd.date_range("2021-01-10", periods=37, freq="D")
    ve, vl = rng.normal(size=5), rng.normal(size=37)
    save_series(fs, "test/g1", idx_early, ve)
    save_series(fs, "test/g2", idx_late, vl)

    out = fs.load_pandas(["test/g1", "test/g2"], from_date="2021-01-04",
                         to_date="2021-01-20", freq="1d")
    exp = pandas_oracle(
        {"test/g1": pd.Series(ve, index=idx_early),
         "test/g2": pd.Series(vl, index=idx_late)},
        "2021-01-04", "2021-01-20", "1D",
    )
    # g1 stops at 01-05 → carried forward to 01-20
    np.testing.assert_allclose(out["test/g1"].values, exp["test/g1"].values)
    # g2 starts at 01-10 → NaN before (no seed exists)
    assert out["test/g2"].isna().sum() == exp["test/g2"].isna().sum()
    np.testing.assert_allclose(
        out["test/g2"].dropna().values, exp["test/g2"].dropna().values
    )


def test_seed_before_range(fs):
    """from_date between data points: grid start takes the prior value."""
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = np.arange(10.0)
    save_series(fs, "test/s1", idx, vals)
    out = fs.load_pandas("test/s1", from_date="2021-01-03 12:00",
                         to_date="2021-01-05", freq="1d")
    # grid: 01-03 12:00, 01-04 12:00 → values from 01-03 (2.0), 01-04 (3.0)
    np.testing.assert_allclose(out["test/s1"].values, [2.0, 3.0])


def test_to_before_from_clamps(fs):
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    save_series(fs, "test/c1", idx, np.arange(10.0))
    out = fs.load_pandas("test/c1", from_date="2021-01-05",
                         to_date="2021-01-02", freq="1d")
    assert len(out) == 1
    np.testing.assert_allclose(out["test/c1"].values, [4.0])


def test_default_range_no_freq(fs):
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = rng.normal(size=10)
    save_series(fs, "test/d1", idx, vals)
    out = fs.load_pandas("test/d1")
    assert len(out) == 10
    np.testing.assert_allclose(out["test/d1"].values, vals)


def test_empty_feature(fs):
    fs.create_feature("test/e1")
    out = fs.load_pandas("test/e1")
    assert len(out) == 0
    # empty + freq + explicit range → grid of nulls (ref :524-547)
    out = fs.load_pandas("test/e1", from_date="2021-01-01",
                         to_date="2021-01-05", freq="1d")
    assert len(out) == 5
    assert out["test/e1"].isna().all()


def test_wide_alignment_pivot_path(fs):
    """k = 10 numeric features on the one read plan (``ts.align``: one
    exchange, one aggregate per series) equal pandas outer-concat + ffill,
    with a flat (non-growing) exchange count and no join chain."""
    from bytehub_spark import plans
    from bytehub_spark import timeseries as tsm

    idx = pd.date_range("2021-01-01", periods=30, freq="D")
    names = []
    for i in range(10):
        nm = f"test/w{i}"
        fs.create_feature(nm)
        # each feature observes a different sparse subset
        sub = idx[i % 3 :: 3]
        fs.save_dataframe(
            pd.DataFrame({"time": sub, "value": np.arange(len(sub)) + i * 100.0}), nm
        )
        names.append(nm)
    wide = fs.load_dataframe(names)
    pdf = wide.toPandas().set_index("time").sort_index()
    # oracle: pandas outer-concat + ffill (the reference's semantics)
    frames = {
        nm: fs.load_pandas(nm)[nm] for nm in names
    }
    exp = pd.concat(frames.values(), axis=1, join="outer").ffill()
    exp.columns = list(frames.keys())
    got = pdf[list(frames.keys())]
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, check_freq=False, check_names=False
    )
    # strategy check: one aggregate, not a 9-join chain
    plan = plans.executed_plan(wide)
    assert plan.count("SortMergeJoin") <= 2
