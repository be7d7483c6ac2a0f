"""The long-format multi-feature resample fast path must be byte-equivalent
to the generic per-feature path (scan → dedup → resample → align) for every
argument shape it claims, and must fall back cleanly when preconditions
don't hold (mixed value types, transforms, open-ended range)."""

import numpy as np
import pandas as pd
import pytest

from bytehub_spark.core import FeatureStore


def _build(fs, k=4, with_empty=True):
    rng = np.random.RandomState(11)
    names = []
    for i in range(k):
        name = f"test/f{i}"
        fs.create_feature(name, partition="date")
        idx = pd.date_range("2024-01-01", periods=300, freq="7h") + pd.Timedelta(
            minutes=5 * i
        )
        keep = rng.rand(len(idx)) > 0.3
        fs.save_dataframe(
            pd.DataFrame({"time": idx[keep], "value": rng.randn(keep.sum())}), name
        )
        names.append(name)
    if with_empty:
        fs.create_feature("test/empty", partition="date")
        # record the type so the fast path engages despite no data
        fs.catalog.set_value_schema("test", "empty", '"double"')
        names.append("test/empty")
    return names


def _both_paths(fs, feats, monkeypatch, **kwargs):
    fast = fs.load_dataframe(feats, **kwargs).toPandas().set_index("time").sort_index()
    monkeypatch.setattr(
        FeatureStore, "_load_long_format", lambda self, *a, **k: None
    )
    slow = fs.load_dataframe(feats, **kwargs).toPandas().set_index("time").sort_index()
    monkeypatch.undo()
    return fast, slow


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(from_date="2024-01-10", to_date="2024-02-10", freq="1h"),
        dict(from_date="2024-01-10", to_date="2024-02-10", freq="1d"),
        # to < from clamps to a single grid point
        dict(from_date="2024-02-10", to_date="2024-01-10", freq="1h"),
        # with time travel (created_time from save-time: everything filtered)
        dict(
            from_date="2024-01-10", to_date="2024-02-10", freq="1h",
            time_travel="-1min",
        ),
    ],
)
def test_fast_path_matches_generic(fs, monkeypatch, kwargs):
    feats = _build(fs)
    fast, slow = _both_paths(fs, feats, monkeypatch, **kwargs)
    assert list(fast.columns) == list(slow.columns)
    pd.testing.assert_frame_equal(fast, slow, check_like=True)


def test_fast_path_engages_and_fallbacks(fs, monkeypatch):
    feats = _build(fs, k=2, with_empty=False)
    used = {}
    orig = FeatureStore._load_long_format

    def spy(self, *a, **k):
        r = orig(self, *a, **k)
        used["engaged"] = r is not None
        return r

    monkeypatch.setattr(FeatureStore, "_load_long_format", spy)
    fs.load_dataframe(feats, from_date="2024-01-10", to_date="2024-02-10", freq="1h")
    assert used["engaged"]
    # open-ended range -> generic path
    fs.load_dataframe(feats, freq="1h")
    assert not used["engaged"]
    # no freq, explicit range, k >= 2 -> the aligned long-format plan
    fs.load_dataframe(feats, from_date="2024-01-10", to_date="2024-02-10")
    assert used["engaged"]
    # no freq, explicit range, one feature -> the ranged long-format plan
    fs.load_dataframe(feats[0], from_date="2024-01-10", to_date="2024-02-10")
    assert used["engaged"]
    # mixed value types -> generic path
    fs.create_feature("test/s", partition="date")
    fs.save_dataframe(
        pd.DataFrame(
            {"time": pd.date_range("2024-01-01", periods=5, freq="1d"), "value": ["a"] * 5}
        ),
        "test/s",
    )
    fs.load_dataframe(
        feats + ["test/s"], from_date="2024-01-10", to_date="2024-02-10", freq="1h"
    )
    assert not used["engaged"]


def test_value_schema_recorded_on_save(fs):
    fs.create_feature("test/v", partition="date")
    assert fs.catalog.get_feature("test", "v")["value_schema"] is None
    fs.save_dataframe(
        pd.DataFrame(
            {"time": pd.date_range("2024-01-01", periods=3, freq="1d"), "value": [1.0, 2.0, 3.0]}
        ),
        "test/v",
    )
    meta = fs.catalog.get_feature("test", "v")
    assert meta["value_schema"] == '"double"'
    # version not bumped by the bookkeeping write
    assert meta["version"] == 1


def test_value_schema_self_heals_on_read(fs, spark, tmp_path):
    """A rebuilt catalog over existing datasets has no recorded value
    types; the first multi-feature load's prepass records them (and the
    fast path can engage in that same call)."""
    feats = _build(fs, k=2, with_empty=False)
    rebuilt = FeatureStore(":memory:", spark=spark)
    rebuilt.create_namespace("test", url=str(tmp_path / "featurestore"))
    for f in feats:
        rebuilt.create_feature(f, partition="date")
    assert rebuilt.catalog.get_feature("test", "f0")["value_schema"] is None
    out = rebuilt.load_dataframe(
        feats, from_date="2024-01-10", to_date="2024-02-10", freq="1d"
    ).toPandas()
    assert len(out) == 32
    assert rebuilt.catalog.get_feature("test", "f0")["value_schema"] == '"double"'
