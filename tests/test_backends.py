"""Storage backend selection at the FeatureStore level: a namespace's
``meta["backend"]`` accepts only ``parquet`` (any case, or unset), the
one data plane (``storage.SparkStorage``). Any other value is refused
with a ``ValidationError`` naming it, on the namespace's first save or
load, so a namespace made for another table format never reads or
writes plain parquet."""

import pandas as pd
import pytest

from bytehub_spark import FeatureStore
from bytehub_spark.exceptions import ValidationError
from bytehub_spark.storage import SparkStorage


def _store(spark, tmp_path, kinds):
    fs = FeatureStore(":memory:", spark=spark)
    for i, backend in enumerate(kinds):
        meta = {} if backend is None else {"backend": backend}
        fs.create_namespace(f"n{i}", url=str(tmp_path / f"n{i}"), description="", meta=meta)
        fs.create_feature(f"n{i}/f")
    return fs


def _frame():
    idx = pd.date_range("2021-01-01", periods=3, freq="D")
    return pd.DataFrame({"time": idx, "value": [1.0, 2.0, 3.0]})


def test_default_backend_is_parquet(spark, tmp_path):
    fs = _store(spark, tmp_path, [None, "parquet", "PARQUET"])
    for i in range(3):
        assert type(fs._storage(f"n{i}")) is SparkStorage
        fs.save_dataframe(_frame(), f"n{i}/f")
        assert fs.load_pandas(f"n{i}/f")[f"n{i}/f"].tolist() == [1.0, 2.0, 3.0]


def test_unknown_backend_rejected(spark, tmp_path):
    kinds = ["delta", "orc", "Delta"]
    fs = _store(spark, tmp_path, kinds)
    for i, backend in enumerate(kinds):
        with pytest.raises(ValidationError, match=repr(backend)):
            fs.save_dataframe(_frame(), f"n{i}/f")
        with pytest.raises(ValidationError, match=repr(backend)):
            fs.load_pandas(f"n{i}/f")


def test_namespace_meta_selects_backend(spark, tmp_path):
    """The refusal follows the namespace: in one store, the parquet
    namespace saves and loads while the delta one raises and leaves no
    data behind."""
    fs = _store(spark, tmp_path, ["parquet", "delta"])
    fs.save_dataframe(_frame(), "n0/f")
    with pytest.raises(ValidationError, match="'delta'"):
        fs.save_dataframe(_frame(), "n1/f")
    assert len(fs.load_pandas("n0/f")) == 3
    assert not (tmp_path / "n1").exists()
