"""One save path for pandas and Spark frames: each frame shape the store
accepts — `value` + a name, an "ns/name" column, the wide form, with and
without `created_time`, serialized dict and scalar payloads — saved as a
pandas or as a Spark frame loads back equal to what was saved."""

import pandas as pd
import pyarrow as pa
import pytest

IDX = pd.date_range("2024-01-01", periods=4, freq="7h")
DOUBLES = [1.5, 2.0, -3.25, 4.0]
STRINGS = ["a", "b", None, "d"]
DICTS = [{"x": float(i), "y": s} for i, s in enumerate("pqrs")]

# shape: (features created {name: create kwargs}, payload columns, the
# name passed to save_dataframe, expected {feature: loaded values})
SHAPES = {
    "value_and_name": ({"test/a": {}}, {"value": DOUBLES}, "test/a", {"test/a": DOUBLES}),
    "ns_name_column": ({"test/a": {}}, {"test/a": DOUBLES}, None, {"test/a": DOUBLES}),
    "wide": (
        {"test/a": {}, "test/b": {}},
        {"test/a": DOUBLES, "test/b": STRINGS},
        None,
        {"test/a": DOUBLES, "test/b": STRINGS},
    ),
    "serialized_dict": (
        {"test/s": {"serialized": True}}, {"value": DICTS}, "test/s", {"test/s": DICTS},
    ),
    "serialized_scalar": (
        {"test/s": {"serialized": True}}, {"test/s": STRINGS}, None, {"test/s": STRINGS},
    ),
}


@pytest.mark.parametrize("created", [True, False], ids=["created_time", "no_created_time"])
@pytest.mark.parametrize("shape", list(SHAPES))
@pytest.mark.parametrize("kind", ["pandas", "spark"])
def test_saved_frame_loads_back_equal(fs, spark, kind, shape, created):
    features, payload, name, want = SHAPES[shape]
    for feature, kwargs in features.items():
        fs.create_feature(feature, partition="date", **kwargs)
    pdf = pd.DataFrame({"time": IDX, **payload})
    if created:
        pdf.insert(1, "created_time", IDX + pd.Timedelta(minutes=5))
    # Arrow keeps a dict payload a struct (createDataFrame's own pandas
    # inference would make it a map of mixed value types)
    df = pdf if kind == "pandas" else spark.createDataFrame(pa.Table.from_pandas(pdf))
    fs.save_dataframe(df, name)
    for feature, values in want.items():
        got = fs.load_pandas(feature)[feature]
        pd.testing.assert_series_equal(
            got, pd.Series(values, index=IDX.rename("time"), name=feature),
            check_dtype=False, check_freq=False,
        )
