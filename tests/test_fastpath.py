"""Every store load shape — gridded, aligned, ranged, open-range and
mixed-type — equals the pandas model of the reference semantics
(``read_model``), which stands in for the per-feature generic path the
long-format plans replaced; and the value type a load needs is recorded
on save or on the first read."""

import numpy as np
import pandas as pd
import pytest

from bytehub_spark.core import FeatureStore
from read_model import assert_matches, loaded, model


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
        # typed, but without data
        fs.catalog.set_value_schema("test", "empty", '"double"')
        names.append("test/empty")
    return names


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
def test_fast_path_matches_generic(fs, kwargs):
    feats = _build(fs)
    got = loaded(fs.load_dataframe(feats, **kwargs))
    assert list(got.columns) == feats
    assert_matches(got, model(fs, feats, **kwargs))


def test_fast_path_engages_and_fallbacks(fs):
    """Each load shape that once fell back to the per-feature path (open
    range, mixed value types) equals the model, as do the shapes the
    long-format plans always served."""
    feats = _build(fs, k=2, with_empty=False)
    rng = dict(from_date="2024-01-10", to_date="2024-02-10")

    def pin(features, **kw):
        assert_matches(
            loaded(fs.load_dataframe(features, **kw)), model(fs, features, **kw)
        )

    pin(feats, **rng, freq="1h")
    # open-ended range: each feature on its own default grid
    pin(feats, freq="1h")
    # no freq, explicit range, k >= 2 -> the aligned long-format plan
    pin(feats, **rng)
    # no freq, explicit range, one feature -> the ranged long-format plan
    pin(feats[0], **rng)
    # mixed value types: one value column per type
    fs.create_feature("test/s", partition="date")
    fs.save_dataframe(
        pd.DataFrame(
            {"time": pd.date_range("2024-01-01", periods=5, freq="1d"), "value": ["a"] * 5}
        ),
        "test/s",
    )
    pin(feats + ["test/s"], **rng, freq="1h")


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
    types; the first multi-feature load's prepass records them."""
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
