"""One read plan for every load: open ranges, mixed value types,
transforms, last() of a transform and sql() views all equal the pandas
model of the reference semantics (``read_model``); a feature requested
twice, or two features sharing one SQL view name, are refused; sql()
views end with their call; and the shapes that once took the
per-feature join fold run few Spark jobs."""

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import AnalysisException

from bytehub_spark.exceptions import ValidationError
from read_model import assert_matches, loaded, model

T = pd.Timestamp
RANGE = dict(from_date="2024-01-05", to_date="2024-01-12")
DOUBLES = [f"test/f{i}" for i in range(4)]


def _store(fs):
    """Four doubles of different phase, start and end (f0 has a late
    correction), a string, a serialized feature and two transforms."""
    rng = np.random.RandomState(5)
    for i, name in enumerate(DOUBLES):
        fs.create_feature(name, partition="date")
        idx = pd.date_range("2024-01-01", periods=60, freq="5h") + pd.Timedelta(
            minutes=7 * i, hours=11 * i
        )
        fs.save_dataframe(
            pd.DataFrame({"time": idx, "created_time": idx, "value": rng.randn(60)}), name
        )
    fs.save_dataframe(
        pd.DataFrame({
            "time": [T("2024-01-06 00:00")],
            "created_time": [T("2024-01-20")],
            "value": [None],
        }).astype({"value": "float64"}),
        "test/f0",
    )
    fs.create_feature("test/s", partition="date")
    sidx = pd.date_range("2024-01-02", periods=20, freq="13h")
    fs.save_dataframe(
        pd.DataFrame({"time": sidx, "value": [f"v{j}" for j in range(20)]}), "test/s"
    )
    fs.create_feature("test/j", partition="date", serialized=True)
    jidx = pd.date_range("2024-01-03", periods=6, freq="1d")
    fs.save_dataframe(
        pd.DataFrame({"time": jidx, "value": [{"k": [j]} for j in range(6)]}), "test/j"
    )

    @fs.transform("test/sum", from_features=["test/f0", "test/f1"])
    def _sum(df):
        return df["test/f0"] + df["test/f1"]

    @fs.transform("test/gap", from_features=["test/f2"])
    def _gap(df):  # null at every grid point of hour 3
        return df["test/f2"].where(df.index.hour != 3)


def _pin(fs, feats, **kw):
    got = loaded(fs.load_dataframe(feats, **kw))
    want = model(fs, feats, **kw)
    assert_matches(got, want)
    return got


OPEN = {
    "open": {},
    "from_only": {"from_date": "2024-01-05"},
    "to_only": {"to_date": "2024-01-09"},
}


@pytest.mark.parametrize("freq", ["1h", "1d", None])
@pytest.mark.parametrize("bounds", sorted(OPEN))
def test_open_range_features_of_different_phase_and_end(fs, bounds, freq):
    _store(fs)
    got = _pin(fs, DOUBLES, freq=freq, **OPEN[bounds])
    if freq and bounds == "open":
        # each feature keeps its own grid: f1's first point is its own min
        first = got["test/f1"].first_valid_index()
        assert first == T("2024-01-01 11:07")


@pytest.mark.parametrize("freq", ["1h", None])
def test_to_date_only_load_of_a_feature_starting_after_it(fs, freq):
    _store(fs)
    # f3 starts 2024-01-02 09:21: its window clamps to its first row
    got = _pin(fs, "test/f3", to_date="2024-01-01", freq=freq)
    assert list(got.index) == [T("2024-01-02 09:21")]
    got = _pin(fs, ["test/f0", "test/f3"], to_date="2024-01-01", freq=freq)
    assert T("2024-01-02 09:21") in got.index


@pytest.mark.parametrize("kw", [dict(RANGE, freq="3h"), RANGE, {"freq": "1d"}, {}])
def test_mixed_value_types_with_a_serialized_feature(fs, kw):
    _store(fs)
    feats = ["test/f0", "test/s", "test/j", "test/f1"]
    got = _pin(fs, feats, **kw)
    assert got["test/s"].dropna().map(type).eq(str).all()
    decoded = fs.load_pandas(feats, **kw)["test/j"].dropna()
    assert len(decoded) and all(isinstance(v, dict) for v in decoded)


@pytest.mark.parametrize("kw", [dict(RANGE, freq="2h"), RANGE, {"freq": "1d"}, {}])
def test_transform_plus_stored_features(fs, kw):
    _store(fs)
    _pin(fs, ["test/sum", "test/f2"], **kw)
    _pin(fs, ["test/f3", "test/sum", "test/s"], **kw)


def test_one_transform_keeps_a_null_at_a_grid_point(fs):
    _store(fs)
    got = _pin(fs, "test/gap", **RANGE, freq="1h")
    at3 = got.index.hour == 3
    assert at3.any() and got["test/gap"][at3].isna().all()
    assert got["test/gap"][~at3].notna().all()
    # with a second feature the load carries the transform forward
    both = _pin(fs, ["test/gap", "test/f2"], **RANGE, freq="1h")
    assert both["test/gap"].notna().all()


def test_transform_of_a_transform(fs):
    _store(fs)

    @fs.transform("test/twice", from_features=["test/sum"])
    def _twice(df):
        return df * 2

    _pin(fs, "test/twice", **RANGE, freq="2h")
    _pin(fs, ["test/twice", "test/gap"], **RANGE)


def test_last_of_a_transform(fs):
    _store(fs)
    got = fs.last(["test/sum", "test/gap", "test/f0"])
    for name in ("test/sum", "test/gap"):
        newest = model(fs, name, last_only=True)[name]
        assert got[name] == pytest.approx(newest.iloc[-1])
    assert got["test/f0"] == model(fs, "test/f0")["test/f0"].iloc[-1]


@pytest.mark.parametrize("kw", [dict(RANGE, freq="2h"), RANGE, {}])
def test_sql_views_equal_single_loads(fs, kw):
    _store(fs)
    for name in ("test/f0", "test/s", "test/sum"):
        view = name.replace("/", "_")
        got = fs.sql(f"select time, value from {view} order by time", [name], **kw)
        assert_matches(loaded(got).rename(columns={"value": name}), model(fs, name, **kw))
    joined = fs.sql(
        "select count(*) as n from test_f0 join test_f1 using (time)",
        ["test/f0", "test/f1"], **kw,
    ).collect()[0]["n"]
    f0, f1 = model(fs, "test/f0", **kw), model(fs, "test/f1", **kw)
    assert joined == len(f0.index.intersection(f1.index))


@pytest.mark.parametrize("kw", [{}, dict(RANGE, freq="1h")])
def test_a_feature_requested_twice_is_refused(fs, kw):
    _store(fs)
    with pytest.raises(ValidationError, match="test/f0"):
        fs.load_dataframe(["test/f0", "test/f1", "test/f0"], **kw)
    with pytest.raises(ValidationError, match="test/f0"):
        fs.sql("select 1", ["test/f0", "test/f0"], **kw)


def test_two_features_sharing_a_sql_view_name_are_refused(fs):
    for name, value in (("test/a-b", 1.0), ("test/a_b", 2.0)):
        fs.create_feature(name, partition="date")
        fs.save_dataframe(pd.DataFrame({"time": [T("2024-01-01")], "value": [value]}), name)
    with pytest.raises(ValidationError, match="test/a-b.*test/a_b"):
        fs.sql("select avg(value) from test_a_b", ["test/a-b", "test/a_b"])
    # each alone keeps its own view
    assert fs.sql("select avg(value) as v from test_a_b", ["test/a-b"]).collect()[0]["v"] == 1.0


def test_sql_views_do_not_outlive_the_call(fs):
    """A call's views are gone once it returns: a later call cannot read a
    view it did not list, and the frame the first call returned still
    collects."""
    for name, n in (("test/a", 1), ("test/b", 2)):
        fs.create_feature(name, partition="date")
        times = pd.date_range("2024-01-01", periods=n, freq="12h")
        fs.save_dataframe(pd.DataFrame({"time": times, "value": 1.0}), name)
    got = fs.sql(
        "select count(*) as n from test_b", ["test/b"],
        from_date="2024-01-01", to_date="2024-01-02",
    )
    with pytest.raises(AnalysisException, match="test_b"):
        fs.sql("select count(*) from test_b", ["test/a"])
    assert got.collect()[0]["n"] == 2
    assert fs.sql("select count(*) as n from test_a", ["test/a"]).collect()[0]["n"] == 1


# a one-byte advisory size sends every load to the many-range side
WIDE_SIDE = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1",
    "spark.sql.shuffle.partitions": "4",
}


@pytest.mark.parametrize("freq", ["1h", None])
def test_all_transform_open_range_answer_ignores_the_bucket_span(fs, session_conf, freq):
    """Such a load knows no span for align's buckets; its answer on
    many ranges equals the one-range answer and the model."""
    _store(fs)
    feats = ["test/sum", "test/gap"]
    one = _pin(fs, feats, freq=freq)
    session_conf(WIDE_SIDE)
    many = loaded(fs.load_dataframe(feats, freq=freq))
    pd.testing.assert_frame_equal(one, many)


# Spark jobs to run each load once built (memos warm), as measured on
# this store at local[4]; the per-feature join fold ran 4-19. And the
# jobs to build it: an open bound's bounds prepass is one job of one task
# when its scans fit one (``ts.narrow``: open_single, was 2 jobs of 8
# tasks), else 2 with its exchange (the four doubles' 54 files, at
# spark.sql.files.openCostInBytes each, exceed the advisory size); a
# transform records its output type on its first load, so a later build
# samples nothing (was 2-3 sample jobs).
EXEC_JOBS = {
    "mixed_freq": (["test/f0", "test/f1", "test/s"], dict(RANGE, freq="1h"), 3),
    "mixed_align": (["test/f0", "test/f1", "test/s"], RANGE, 2),
    "open_wide_freq": (DOUBLES, {"freq": "1h"}, 6),
    "open_align": (DOUBLES, {}, 2),
    "from_only_align": (DOUBLES, {"from_date": "2024-01-05"}, 2),
    "open_single": ("test/f0", {}, 2),
    "transform_freq": ("test/sum", dict(RANGE, freq="1h"), 3),
    "transform": ("test/sum", RANGE, 2),
    "transform_and_stored_freq": (["test/sum", "test/f2"], dict(RANGE, freq="1h"), 6),
}
BUILD_JOBS = {
    "mixed_freq": 0,
    "mixed_align": 0,
    "open_wide_freq": 2,
    "open_align": 2,
    "from_only_align": 2,
    "open_single": 1,
    "transform_freq": 0,
    "transform": 0,
    "transform_and_stored_freq": 0,
}


@pytest.mark.parametrize("shape", sorted(EXEC_JOBS))
def test_execution_jobs_of_the_former_fallback_shapes(fs, spark_work, shape):
    _store(fs)
    feats, kw, limit = EXEC_JOBS[shape]
    fs.load_dataframe(feats, **kw).toPandas()  # open() memos warm
    built, build_tasks = spark_work(lambda: fs.load_dataframe(feats, **kw))
    assert built == BUILD_JOBS[shape], f"{shape}: {built} Spark jobs to build the load"
    if built < 2:
        assert build_tasks == built, f"{shape}: {build_tasks} tasks to build the load"
    jobs, _ = spark_work(spark_work.result.toPandas)
    assert 0 < jobs <= limit, f"{shape}: {jobs} Spark jobs to run the load"
