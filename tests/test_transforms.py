"""Transform DAGs — reference scenarios tests/test_featurestore.py:627-695:
register via decorator, chaining, cycle detection, last() through a
transform."""

import numpy as np
import pandas as pd
import pytest

from bytehub_spark import TransformError

rng = np.random.default_rng(13)


def test_transform_and_chaining(fs):
    fs.create_feature("test/raw1")
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = rng.integers(0, 100, size=10).astype("int64")
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": vals}), "test/raw1")

    @fs.transform("test/squared", from_features=["test/raw1"])
    def squared(df):
        return df ** 2

    out = fs.load_pandas("test/squared")
    np.testing.assert_array_equal(out["test/squared"].values, vals**2)

    # chained transform (transform of transform)
    @fs.transform("test/combined", from_features=["test/raw1", "test/squared"])
    def combined(df):
        return df["test/raw1"] + df["test/squared"]

    out = fs.load_pandas("test/combined")
    np.testing.assert_array_equal(out["test/combined"].values, vals + vals**2)

    # last() flows through the DAG
    last = fs.last("test/combined")
    assert last["test/combined"] == vals[-1] + vals[-1] ** 2


def test_transform_cycle_detection(fs):
    fs.create_feature("test/cyc_src")
    idx = pd.date_range("2021-01-01", periods=3, freq="D")
    fs.save_dataframe(
        pd.DataFrame({"time": idx, "value": [1.0, 2.0, 3.0]}), "test/cyc_src")

    @fs.transform("test/cyc_a", from_features=["test/cyc_src"])
    def cyc_a(df):
        return df + 1

    @fs.transform("test/cyc_b", from_features=["test/cyc_a"])
    def cyc_b(df):
        return df + 1

    # rewire a to depend on b → cycle
    fs.update_feature(
        "test/cyc_a",
        transform={
            "format": "cloudpickle",
            "function": fs.catalog.get_feature("test", "cyc_a")["transform"]["function"],
            "args": ["test/cyc_b"],
        },
    )
    with pytest.raises(TransformError):
        fs.load_pandas("test/cyc_b")


def test_transform_with_resample(fs):
    fs.create_feature("test/rs_raw")
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = np.arange(10.0)
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": vals}), "test/rs_raw")

    @fs.transform("test/rs_double", from_features=["test/rs_raw"])
    def doubled(df):
        return df * 2

    out = fs.load_pandas("test/rs_double", from_date="2021-01-01",
                         to_date="2021-01-10", freq="2d")
    np.testing.assert_allclose(out["test/rs_double"].values,
                               np.array([0.0, 2.0, 4.0, 6.0, 8.0]) * 2)


def test_transforms_disabled():
    from bytehub_spark import FeatureStore
    import shutil, tempfile

    tmp = tempfile.mkdtemp()
    try:
        fs2 = FeatureStore(":memory:", enable_transforms=False)
        fs2.create_namespace("t2", url=f"{tmp}/store")
        fs2.create_feature("t2/x")

        @fs2.transform("t2/y", from_features=["t2/x"])
        def y(df):
            return df

        with pytest.raises(TransformError):
            fs2.load_dataframe("t2/y")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_output_type_is_recorded_on_the_first_load(fs, spark_work):
    """The first load samples the function for its output type and
    records it; a later build runs no Spark job. Registering a new
    function with another output type clears the record: the next load
    samples again and gets the new type."""
    fs.create_feature("test/src")
    idx = pd.date_range("2021-01-01", periods=5, freq="D")
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": np.arange(5.0)}), "test/src")

    @fs.transform("test/label", from_features=["test/src"])
    def label(df):
        return df["test/src"] * 2

    def build():
        return spark_work(
            lambda: fs.load_dataframe("test/label", from_date=idx[0], to_date=idx[-1])
        )

    first, _ = build()
    assert first > 0  # the type sample
    assert fs.catalog.get_feature("test", "label")["value_schema"] == '"double"'
    assert build() == (0, 0)
    assert spark_work.result.toPandas()["test/label"].tolist() == [0.0, 2.0, 4.0, 6.0, 8.0]

    @fs.transform("test/label", from_features=["test/src"])
    def label_text(df):
        return df["test/src"].map(lambda v: f"v{v:.0f}")

    assert fs.catalog.get_feature("test", "label")["value_schema"] is None
    again, _ = build()
    assert again > 0
    assert fs.catalog.get_feature("test", "label")["value_schema"] == '"string"'
    assert build() == (0, 0)
    assert spark_work.result.toPandas()["test/label"].tolist() == [f"v{i}" for i in range(5)]
