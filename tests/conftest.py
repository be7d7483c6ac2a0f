import os
import shutil

import pytest

from bytehub_spark import FeatureStore
from bytehub_spark import session
from bytehub_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="bytehub_spark_tests")
    yield s


@pytest.fixture()
def session_conf(spark):
    """Sets session confs; the test's end restores them."""
    saved = {}

    def apply(confs):
        for k, v in confs.items():
            saved.setdefault(k, spark.conf.get(k, None))
            spark.conf.set(k, v)

    yield apply
    for k, v in saved.items():
        spark.conf.unset(k) if v is None else spark.conf.set(k, v)


@pytest.fixture()
def spark_work(spark):
    """``spark_work(fn)`` calls ``fn`` and returns (Spark jobs, tasks run)
    of the jobs it started (``session.spark_work``); ``fn``'s return value
    is kept as ``spark_work.result``."""

    def work(fn):
        jobs, tasks, work.result = session.spark_work(spark, fn)
        return jobs, tasks

    return work


@pytest.fixture()
def fs(spark, tmp_path):
    """Fresh store: in-memory catalog + tmp data dir with one namespace."""
    store = FeatureStore(":memory:", spark=spark)
    store.create_namespace("test", url=str(tmp_path / "featurestore"), description="t")
    yield store
    shutil.rmtree(tmp_path / "featurestore", ignore_errors=True)


@pytest.fixture()
def fs_factory(spark, tmp_path):
    """Factory of fresh stores — for hypothesis tests, where each example
    needs its own catalog/data dir (a plain fixture would leak state
    across shrink attempts)."""
    import itertools

    counter = itertools.count()

    def make():
        i = next(counter)
        store = FeatureStore(":memory:", spark=spark)
        store.create_namespace("test", url=str(tmp_path / f"fsf_{i}"), description="t")
        return store

    return make
