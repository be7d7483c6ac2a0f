"""Store read path: building a load with explicit from/to launches no Spark
job (the LOCF seed is part of the plan), running a ranged, gridded or
aligned load costs a bounded number of jobs (one job of one task for a
load whose pruned scans fit one, else one keyed exchange, one partition
for a small load, also beside a never-saved feature), the seed scan reads
two listed partitions, the one read plan matches hand-computed answers,
the pandas model of the reference semantics (``read_model``, which stands
in for the per-feature generic path the plan replaced) and its own
one-partition and wide (many-range) sides, a load looks each feature up in
the catalog once, last() runs one collect per stored value type, a refused
Hadoop rename fails loudly and the os and Hadoop listings agree without
scanning data."""

import json
import os
import shutil

import pandas as pd
import pytest

from bytehub_spark import timeseries as ts
from bytehub_spark.exceptions import StorageError
from bytehub_spark.storage import SparkStorage, _rename
from read_model import assert_matches, loaded, model

T = pd.Timestamp


def _save(fs, name, rows, **create):
    """rows: (time, created_time, value) triples, saved in the given order."""
    if fs.catalog.get_feature(*name.split("/")) is None:
        fs.create_feature(name, partition="date", **create)
    fs.save_dataframe(
        pd.DataFrame(
            {
                "time": [T(t) for t, _, _ in rows],
                "created_time": [T(c) for _, c, _ in rows],
                "value": [v for _, _, v in rows],
            }
        ),
        name,
    )


# ---------------------------------------------------------------------------
# loud rename failures
# ---------------------------------------------------------------------------


class _StubFs:
    def __init__(self, ok):
        self.ok, self.calls = ok, []

    def rename(self, src, dst):
        self.calls.append((src, dst))
        return self.ok


def test_rename_raises_when_hadoop_returns_false():
    fs = _StubFs(False)
    with pytest.raises(StorageError, match="Failed to rename a to b"):
        _rename(fs, "a", "b")
    assert fs.calls == [("a", "b")]


def test_rename_passes_when_hadoop_returns_true():
    fs = _StubFs(True)
    _rename(fs, "a", "b")
    assert fs.calls == [("a", "b")]


def test_exists_through_hadoop_matches_the_local_check(fs, spark_work):
    # exists, ls, list_partitions and partition_file_counts answer alike
    # through the os listing local stores take and the Hadoop listing
    # object-store URLs take, and neither runs a Spark job
    _save(fs, "test/d", [("2024-01-01", "2024-01-01", 1.0), ("2024-01-03", "2024-01-03", 2.0)])
    _save(fs, "test/d", [("2024-01-01", "2024-01-02", 3.0)])
    storage = fs._storage("test")
    os.makedirs(storage.feature_path("hollow"))
    os.makedirs(storage.feature_path("d") + "__compacting")  # a work dir, not a dataset
    # an empty partition dir, as a failed write may leave: listed, no files
    os.makedirs(os.path.join(storage.feature_path("d"), "partition=2024-01-02"))
    names = ["missing", "hollow", "d"]

    def listings():
        return {
            "exists": [storage.exists(n) for n in names],
            "ls": storage.ls(),
            "list_partitions": [storage.list_partitions(n, reverse=True) for n in names],
            "partition_file_counts": [storage.partition_file_counts(n) for n in names],
        }

    local = listings()
    storage._is_local = False  # the branch object-store URLs take
    jobs, _ = spark_work(listings)
    remote = spark_work.result
    assert jobs == 0  # listing calls, no schema-inference job
    assert remote == local == {
        "exists": [False, True, True],
        "ls": ["d", "hollow"],
        "list_partitions": [[], [], ["2024-01-03", "2024-01-02", "2024-01-01"]],
        "partition_file_counts": [{}, {}, {"2024-01-01": 2, "2024-01-02": 0, "2024-01-03": 1}],
    }


# ---------------------------------------------------------------------------
# zero build jobs
# ---------------------------------------------------------------------------


def _doubles(fs, k=3, partition="date"):
    names = [f"test/f{i}" for i in range(k)]
    idx = pd.date_range("2024-01-01", periods=40, freq="9h")
    for i, name in enumerate(names):
        fs.create_feature(name, partition=partition)
        fs.save_dataframe(
            pd.DataFrame(
                {"time": idx, "created_time": idx, "value": [float(j + i) for j in range(40)]}
            ),
            name,
        )
    return names


RANGE = dict(from_date="2024-01-05", to_date="2024-01-10")


@pytest.mark.parametrize(
    "shape",
    ["ranged", "time_travel", "freq", "wide_fast_path", "generic_align"],
)
def test_building_an_explicit_range_load_runs_no_job(fs, spark_work, monkeypatch, shape):
    names = _doubles(fs)
    feats, kw = {
        "ranged": (names[0], {}),
        "time_travel": (names[0], {"time_travel": "1d"}),
        "freq": (names[0], {"freq": "1h"}),
        "wide_fast_path": (names, {"freq": "1h"}),
        # the shape that once took the per-feature join fold
        "generic_align": (names, {}),
    }[shape]
    grids = []
    orig = ts.resample_long

    def spy(*a, **k):
        grids.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(ts, "resample_long", spy)
    built, _ = spark_work(lambda: fs.load_dataframe(feats, **RANGE, **kw))
    ran, _ = spark_work(spark_work.result.toPandas)
    assert built == 0, f"{shape}: {built} Spark job(s) while building the plan"
    assert ran > 0  # the action itself runs the plan
    if shape == "wide_fast_path":
        assert grids == [1]  # one grid for the k features of one window


def test_last_is_one_collect_per_value_type(fs, spark, spark_work, monkeypatch):
    names = _doubles(fs)
    _save(fs, "test/s1", [("2024-01-02", "2024-01-02", "x")])
    _save(fs, "test/s2", [("2024-01-03", "2024-01-03", "y")])
    frame_cls = type(spark.range(1))
    orig = frame_cls.collect
    collects = []

    def spy(self):
        collects.append(1)
        return orig(self)

    monkeypatch.setattr(frame_cls, "collect", spy)

    def jobs(feats):
        collects.clear()
        n, _ = spark_work(lambda: fs.last(feats))
        return spark_work.result, n, len(collects)

    fs.last(names)  # open() memos warm, as in a steady read loop
    fs.last(["test/s1", "test/s2"])
    _, one_jobs, one_collects = jobs(names[:1])
    out, k_jobs, k_collects = jobs(names)
    assert out == {"test/f0": 39.0, "test/f1": 40.0, "test/f2": 41.0}
    assert (one_collects, k_collects) == (1, 1)
    assert k_jobs == one_jobs > 0  # k features of one type: one job set
    out, _, two_collects = jobs(names + ["test/s1", "test/s2"])
    assert two_collects == 2  # double, string
    assert out["test/s1"] == "x" and out["test/s2"] == "y"


# ---------------------------------------------------------------------------
# in-plan seed: hand-computed grids, the read plan and the model
# ---------------------------------------------------------------------------

GRID = pd.DatetimeIndex(
    ["2024-02-20 00:00", "2024-02-20 02:00", "2024-02-20 04:00", "2024-02-20 06:00"],
    name="time",
)
LOAD = dict(from_date="2024-02-20 00:00", to_date="2024-02-20 06:00", freq="2h")


def _deep_seed(fs):
    # a's seed sits 50 empty daily partitions before from_date
    _save(fs, "test/a", [
        ("2024-01-01 00:00", "2024-01-01 00:00", 1.0),
        ("2024-02-20 03:00", "2024-02-20 03:00", 2.0),
    ])
    _save(fs, "test/b", [
        ("2024-01-31 12:00", "2024-01-31 12:00", 10.0),
        ("2024-02-20 05:00", "2024-02-20 05:00", 20.0),
    ])
    return {}, {"test/a": [1.0, 1.0, 2.0, 2.0], "test/b": [10.0, 10.0, 10.0, 20.0]}


def _at_from(fs):
    # a row exactly at from_date is the seed and wins over the earlier one
    _save(fs, "test/a", [
        ("2024-02-19 00:00", "2024-02-19 00:00", 4.0),
        ("2024-02-20 00:00", "2024-02-20 00:00", 5.0),
    ])
    _save(fs, "test/b", [("2024-02-19 22:00", "2024-02-19 22:00", 30.0)])
    return {}, {"test/a": [5.0] * 4, "test/b": [30.0] * 4}


def _corrected(fs):
    # two versions at the seed time; the correction (later created_time)
    # is written FIRST, so write order cannot decide
    _save(fs, "test/a", [("2024-02-19 12:00", "2024-02-25 00:00", 8.0)])
    _save(fs, "test/a", [("2024-02-19 12:00", "2024-02-19 12:00", 7.0)])
    _save(fs, "test/b", [
        ("2024-02-18 00:00", "2024-02-18 00:00", 3.0),
        ("2024-02-18 00:00", "2024-02-18 01:00", 6.0),
    ])
    return {}, {"test/a": [8.0] * 4, "test/b": [6.0] * 4}


def _travel_fallback(fs):
    # as of time + 1h: a's newest row before from (known a day late) and a
    # late correction of the older row are both invisible
    _save(fs, "test/a", [
        ("2024-02-19 00:00", "2024-02-19 00:00", 1.0),
        ("2024-02-19 00:00", "2024-02-23 00:00", 9.0),
        ("2024-02-19 20:00", "2024-02-20 20:00", 2.0),
        ("2024-02-20 04:00", "2024-02-20 04:30", 3.0),
    ])
    _save(fs, "test/b", [
        ("2024-02-18 00:00", "2024-02-18 00:00", 11.0),
        ("2024-02-19 23:00", "2024-02-19 23:30", 12.0),
    ])
    return (
        {"time_travel": "1h"},
        {"test/a": [1.0, 1.0, 3.0, 3.0], "test/b": [12.0] * 4},
    )


def _struct(fs):
    _save(fs, "test/a", [
        ("2024-02-10 00:00", "2024-02-10 00:00", {"x": 1.0, "y": "p"}),
        ("2024-02-20 02:00", "2024-02-20 02:00", {"x": 2.0, "y": "q"}),
    ])
    _save(fs, "test/b", [("2024-02-01 00:00", "2024-02-01 00:00", {"x": 3.0, "y": "r"})])
    p, q, r = {"x": 1.0, "y": "p"}, {"x": 2.0, "y": "q"}, {"x": 3.0, "y": "r"}
    return {}, {"test/a": [p, q, q, q], "test/b": [r] * 4}


def _serialized(fs):
    _save(fs, "test/a", [
        ("2024-02-10 00:00", "2024-02-10 00:00", {"k": [1, 2]}),
        ("2024-02-20 06:00", "2024-02-20 06:00", {"k": []}),
    ], serialized=True)
    _save(fs, "test/b", [("2024-02-19 00:00", "2024-02-19 00:00", "s")], serialized=True)
    old, new = json.dumps({"k": [1, 2]}), json.dumps({"k": []})
    return {}, {"test/a": [old, old, old, new], "test/b": [json.dumps("s")] * 4}


SEED_CASES = {
    "deep_seed": _deep_seed,
    "at_from": _at_from,
    "corrected": _corrected,
    "travel_fallback": _travel_fallback,
    "struct": _struct,
    "serialized": _serialized,
}


def _plain(v):
    return v.asDict() if hasattr(v, "asDict") else v


@pytest.mark.parametrize("path", ["fast", "generic"])
@pytest.mark.parametrize("case", sorted(SEED_CASES))
def test_seed_matches_hand_computed_grid(fs, case, path):
    """``fast``: the read plan; ``generic``: the pandas model that stands
    in for the former per-feature path."""
    kw, want = SEED_CASES[case](fs)

    def load(feats):
        if path == "generic":
            return model(fs, feats, **LOAD, **kw)
        return loaded(fs.load_dataframe(feats, **LOAD, **kw))

    got = load(["test/a", "test/b"])
    assert list(got.index) == list(GRID)
    for col, values in want.items():
        assert [_plain(v) for v in got[col]] == values, col
    # each feature alone agrees
    for col, values in want.items():
        assert [_plain(v) for v in load(col)[col]] == values, col


def test_ranged_load_without_freq_drops_the_seed(fs):
    _at_from(fs)
    _save(fs, "test/a", [("2024-02-20 07:00", "2024-02-20 07:00", 6.0)])
    got = fs.load_pandas(
        "test/a", from_date="2024-02-19 12:00", to_date="2024-02-20 06:00"
    )
    assert list(got.index) == [T("2024-02-20 00:00")]
    assert list(got["test/a"]) == [5.0]


# ---------------------------------------------------------------------------
# the seed scan reads two listed partitions (all of them under time travel)
# ---------------------------------------------------------------------------


def _bound_deep(fs):
    _deep_seed(fs)  # 50 days without a partition between seed and from
    return {}, [1.0, 1.0, 2.0, 2.0], ["2024-02-20", "2024-01-01"]


def _bound_at_from(fs):
    _at_from(fs)  # the seed is from_date's own row
    return {}, [5.0] * 4, ["2024-02-20", "2024-02-19"]


def _bound_null_newest(fs):
    # the newest version of the newest row before from is null: the seed
    # is that null, not the older value one partition further back
    _save(fs, "test/a", [
        ("2024-02-18 06:00", "2024-02-18 06:00", 1.0),
        ("2024-02-19 12:00", "2024-02-19 12:00", 2.0),
        ("2024-02-19 12:00", "2024-02-19 13:00", None),
        ("2024-02-20 03:00", "2024-02-20 03:00", 3.0),
    ])
    return {}, [None, None, 3.0, 3.0], ["2024-02-20", "2024-02-19"]


def _bound_travel(fs):
    # as of time + 1h every row of 2024-02-19 is unknown: the seed comes
    # from 2024-02-17, read from the whole history
    _save(fs, "test/a", [
        ("2024-02-17 06:00", "2024-02-17 06:00", 1.0),
        ("2024-02-19 08:00", "2024-02-25 00:00", 2.0),
        ("2024-02-19 09:00", "2024-02-25 00:00", 2.5),
        ("2024-02-20 03:00", "2024-02-20 03:00", 3.0),
    ])
    return {"time_travel": "1h"}, [1.0, 1.0, 3.0, 3.0], None


def _bound_year(fs):
    fs.create_feature("test/a", partition="year")
    _save(fs, "test/a", [
        ("2022-06-01 00:00", "2022-06-01 00:00", 1.0),
        ("2024-02-20 03:00", "2024-02-20 03:00", 2.0),
    ])
    return {}, [1.0, 1.0, 2.0, 2.0], ["2024", "2022"]


def _bound_failed_write(fs):
    # a failed write left empty partition dirs between seed and from
    _save(fs, "test/a", [
        ("2024-02-10 00:00", "2024-02-10 00:00", 4.0),
        ("2024-02-20 05:00", "2024-02-20 05:00", 6.0),
    ])
    root = fs._storage("test").feature_path("a")
    for day in ("2024-02-19", "2024-02-15"):
        os.makedirs(os.path.join(root, f"partition={day}"))
    return {}, [4.0, 4.0, 4.0, 6.0], ["2024-02-20", "2024-02-10"]


def _bound_stale_memo(fs):
    # a writer that skipped invalidate() added a partition between seed and
    # from after the open() frame was memoized: the seed partitions come
    # from that frame's file index, so its own older partition stays in
    _save(fs, "test/a", [
        ("2024-02-10 00:00", "2024-02-10 00:00", 4.0),
        ("2024-02-20 05:00", "2024-02-20 05:00", 6.0),
    ])
    fs.load_dataframe("test/a", **LOAD).toPandas()  # memoizes the open() frame
    root = fs._storage("test").feature_path("a")
    shutil.copytree(os.path.join(root, "partition=2024-02-10"),
                    os.path.join(root, "partition=2024-02-15"))
    return {}, [4.0, 4.0, 4.0, 6.0], ["2024-02-20", "2024-02-10"]


BOUND_CASES = {
    "deep": _bound_deep,
    "at_from": _bound_at_from,
    "null_newest": _bound_null_newest,
    "travel_hides_partition": _bound_travel,
    "year": _bound_year,
    "failed_write_dir": _bound_failed_write,
    "stale_memo": _bound_stale_memo,
}


@pytest.mark.parametrize("case", sorted(BOUND_CASES))
def test_seed_scan_reads_two_listed_partitions(fs, monkeypatch, case):
    kw, want, parts = BOUND_CASES[case](fs)
    listed = []
    orig = SparkStorage.seed_partitions

    def spy(self, *a):
        listed.append(orig(self, *a))
        return listed[-1]

    monkeypatch.setattr(SparkStorage, "seed_partitions", spy)
    got = loaded(fs.load_dataframe("test/a", **LOAD, **kw))
    assert listed == ([] if parts is None else [parts])
    assert list(got.index) == list(GRID)
    assert [None if pd.isna(v) else v for v in got["test/a"]] == want
    assert_matches(got, model(fs, "test/a", **LOAD, **kw))


# ---------------------------------------------------------------------------
# batched last() == the per-feature last_row answers
# ---------------------------------------------------------------------------


def test_last_matches_per_feature_last_row(fs):
    _save(fs, "test/d", [
        ("2024-01-01", "2024-01-01", 1.0),
        ("2024-01-03", "2024-01-09", 4.0),  # correction written first
        ("2024-01-03", "2024-01-03", 3.0),
    ])
    _save(fs, "test/d2", [("2023-12-31", "2023-12-31", 9.0)])
    _save(fs, "test/s", [
        ("2024-01-02", "2024-01-02", {"a": 1}),
        ("2024-01-05", "2024-01-05", {"a": [2, 3]}),
    ], serialized=True)
    _save(fs, "test/st", [
        ("2024-01-02", "2024-01-02", {"x": 1.0, "y": "p"}),
        ("2024-01-04", "2024-01-04", {"x": 2.0, "y": "q"}),
    ])
    fs.create_feature("test/e", partition="date")
    # a failed write's empty newest partition dir: last() and the
    # transform's newest-partition load both pass over it
    os.makedirs(os.path.join(fs._storage("test").feature_path("d"), "partition=2024-02-01"))

    @fs.transform("test/t", from_features=["test/d"])
    def doubled(df):
        return df * 2

    feats = ["test/d", "test/s", "test/st", "test/e", "test/t", "test/d2"]
    got = fs.last(feats)

    want = {}
    for name in feats:  # the model's newest-partition load, last row
        newest = model(fs, name, last_only=True)[name]
        val = newest.iloc[-1] if len(newest) else None
        if fs.catalog.get_feature(*name.split("/"))["serialized"] and isinstance(val, str):
            val = json.loads(val)
        want[name] = val
    assert {k: _plain(v) for k, v in got.items()} == want
    assert got["test/d"] == 4.0 and got["test/t"] == 8.0 and got["test/e"] is None
    assert got["test/s"] == {"a": [2, 3]} and got["test/d2"] == 9.0
    assert _plain(got["test/st"]) == {"x": 2.0, "y": "q"}


# ---------------------------------------------------------------------------
# execution jobs: one task, else one keyed exchange per load
# ---------------------------------------------------------------------------

# the read plan's three widths (``ts.plan_ranges``) and the session confs
# that force each: the defaults give one task to these small loads; an
# open cost per file above the advisory size leaves one partition (the
# pruned bytes still fit); a one-byte advisory size, many partitions
ONE_PARTITION_SIDE = {"spark.sql.files.openCostInBytes": str(1 << 30)}
WIDE_SIDE = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1",
    "spark.sql.shuffle.partitions": "4",
}
TIERS = {"one_task": ({}, ts.ONE_TASK), "one_partition": (ONE_PARTITION_SIDE, 1),
         "wide": (WIDE_SIDE, 4)}


def _widths(monkeypatch) -> list:
    """The widths ``ts.plan_ranges`` returns from now on."""
    widths = []
    orig = ts.plan_ranges

    def spy(*a, **k):
        widths.append(orig(*a, **k))
        return widths[-1]

    monkeypatch.setattr(ts, "plan_ranges", spy)
    return widths


@pytest.mark.parametrize(
    "shape,limit",
    [("ranged", 2), ("travel", 2), ("resampled", 3), ("wide", 3), ("align", 2),
     ("never_saved", 2), ("never_saved_freq", 3)],
)
def test_execution_jobs_per_load(fs, spark_work, monkeypatch, session_conf, shape, limit):
    """One job when the load fits one task (one yearly file per feature:
    every load here, seeds included); at most ``limit`` on one partition,
    its keyed exchange plus a grid's seed aggregate."""
    names = _doubles(fs, k=4, partition="year")
    # created, never saved: its empty scan must not make the plan wide
    fs.create_feature("test/never", partition="date")
    feats, kw = {
        "ranged": (names[0], {}),
        "travel": (names[0], {"time_travel": "1h"}),
        "resampled": (names[0], {"freq": "1h"}),
        "wide": (names, {"freq": "1h"}),
        "align": (names, {}),
        "never_saved": ([names[0], "test/never"], {}),
        "never_saved_freq": ([names[0], "test/never"], {"freq": "1h"}),
    }[shape]
    load = lambda: fs.load_dataframe(feats, **RANGE, **kw)  # noqa: E731
    widths = _widths(monkeypatch)

    def run(tier):
        session_conf(TIERS[tier][0])
        load().toPandas()  # open() memos warm, as in a steady read loop
        jobs, _ = spark_work(load().toPandas)
        return widths[-1], jobs

    assert run("one_task") == (ts.ONE_TASK, 1), shape
    width, jobs = run("one_partition")
    assert width == 1 and 0 < jobs <= limit, f"{shape}: {jobs} Spark jobs to run the load"


# ---------------------------------------------------------------------------
# the read plan == hand-computed answers == the model
# ---------------------------------------------------------------------------


def _both(fs, feats, **kw):
    """(the read plan's answer, the model's); pandas frames indexed by
    time, the answer checked equal to the model."""
    got, want = loaded(fs.load_dataframe(feats, **kw)), model(fs, feats, **kw)
    assert_matches(got, want)
    return got, want


def test_null_newest_version_carries_previous_time(fs):
    # 02:00's newest version is null: the grid and the union axis carry
    # 01:30's value (same grid cell), not the older non-null version of 02:00
    _save(fs, "test/a", [
        ("2024-02-20 01:00", "2024-02-20 01:00", 1.0),
        ("2024-02-20 01:30", "2024-02-20 01:30", 1.5),
        ("2024-02-20 02:00", "2024-02-20 02:00", 2.0),
        ("2024-02-20 02:00", "2024-02-20 05:00", None),
        ("2024-02-20 03:30", "2024-02-20 03:30", 4.0),
    ])
    _save(fs, "test/b", [("2024-02-20 02:30", "2024-02-20 02:30", 9.0)])
    rng = dict(from_date="2024-02-20 00:00", to_date="2024-02-20 04:00")
    grid, modelled = _both(fs, ["test/a", "test/b"], freq="1h", **rng)
    nan = float("nan")
    want = pd.DataFrame(
        {"test/a": [nan, 1.0, 1.5, 1.5, 4.0], "test/b": [nan, nan, nan, 9.0, 9.0]},
        index=pd.date_range("2024-02-20", periods=5, freq="1h", name="time"),
    )
    pd.testing.assert_frame_equal(grid, want, check_freq=False)
    assert_matches(modelled, want)
    aligned, modelled = _both(fs, ["test/a", "test/b"], **rng)
    want = pd.DataFrame(
        {"test/a": [1.0, 1.5, 1.5, 1.5, 4.0], "test/b": [nan, nan, nan, 9.0, 9.0]},
        index=pd.DatetimeIndex(
            ["2024-02-20 01:00", "2024-02-20 01:30", "2024-02-20 02:00",
             "2024-02-20 02:30", "2024-02-20 03:30"], name="time",
        ),
    )
    pd.testing.assert_frame_equal(aligned, want)
    assert_matches(modelled, want)


def test_row_at_from_on_the_aligned_plan(fs):
    # without freq the row at from_date is on the axis, the seed before it
    # is not (the gridded plans are pinned by the at_from seed case)
    _at_from(fs)
    aligned, _ = _both(
        fs, ["test/a", "test/b"], from_date=LOAD["from_date"], to_date=LOAD["to_date"],
    )
    assert list(aligned.index) == [T("2024-02-20 00:00")]
    assert list(aligned["test/a"]) == [5.0] and aligned["test/b"].isna().all()


@pytest.mark.parametrize("freq", ["1h", None])
def test_empty_feature_in_a_wide_load_is_a_null_column(fs, freq):
    _deep_seed(fs)
    # typed but without a row up to to_date, and created but never saved
    _save(fs, "test/late", [("2024-03-01 00:00", "2024-03-01 00:00", 1.0)])
    fs.create_feature("test/never", partition="date")
    rng = dict(from_date="2024-02-20 00:00", to_date="2024-02-20 06:00", freq=freq)
    got, _ = _both(fs, ["test/a", "test/late", "test/b"], **rng)
    assert got["test/late"].isna().all() and len(got) == (7 if freq else 2)
    assert list(got["test/a"].dropna()) == ([1.0] * 3 + [2.0] * 4 if freq else [2.0, 2.0])
    # an untyped (never saved) feature reads as a null double column
    got, _ = _both(fs, ["test/a", "test/never"], **rng)
    assert got["test/never"].isna().all() and got["test/never"].dtype == "float64"


@pytest.mark.parametrize("freq", ["2h", None])
def test_mixed_value_types_on_one_plan(fs, freq):
    _deep_seed(fs)
    _save(fs, "test/s", [
        ("2024-02-19 00:00", "2024-02-19 00:00", "x"),
        ("2024-02-20 03:00", "2024-02-20 03:00", "y"),
    ])
    got, _ = _both(
        fs, ["test/a", "test/s"],
        from_date=LOAD["from_date"], to_date=LOAD["to_date"], freq=freq,
    )
    if freq:
        assert list(got["test/a"]) == [1.0, 1.0, 2.0, 2.0]
        assert list(got["test/s"]) == ["x", "x", "y", "y"]
    else:
        assert list(got.index) == [T("2024-02-20 03:00")]
        assert list(got["test/a"]) == [2.0] and list(got["test/s"]) == ["y"]


@pytest.mark.parametrize("freq", ["2h", None])
def test_feature_names_with_dots(fs, freq):
    _save(fs, "test/a.v1", [
        ("2024-02-19 00:00", "2024-02-19 00:00", 1.0),
        ("2024-02-20 03:00", "2024-02-20 03:00", 2.0),
    ])
    _save(fs, "test/b.c.d", [("2024-02-20 05:00", "2024-02-20 05:00", 3.0)])
    got, _ = _both(
        fs, ["test/a.v1", "test/b.c.d"],
        from_date=LOAD["from_date"], to_date=LOAD["to_date"], freq=freq,
    )
    assert list(got.columns) == ["test/a.v1", "test/b.c.d"]
    if freq:
        assert list(got["test/a.v1"]) == [1.0, 1.0, 2.0, 2.0]
        assert list(got["test/b.c.d"].fillna(0.0)) == [0.0, 0.0, 0.0, 3.0]
    else:
        assert list(got["test/a.v1"]) == [2.0, 2.0]
        assert list(got["test/b.c.d"].fillna(0.0)) == [0.0, 3.0]


def test_bucketed_fill_equals_one_bucket(fs, monkeypatch):
    # 16 cells in buckets of 5: bucket 1 (cells 5-9) holds no value of
    # either series, so its values come from bucket 0 through the prefix
    _save(fs, "test/a", [
        ("2024-02-19 22:00", "2024-02-19 22:00", 1.0),
        ("2024-02-20 03:00", "2024-02-20 03:00", 2.0),
        ("2024-02-20 12:30", "2024-02-20 12:30", 3.0),
    ])
    _save(fs, "test/b", [
        ("2024-02-20 01:00", "2024-02-20 01:00", 10.0),
        ("2024-02-20 02:00", "2024-02-20 02:00", None),
        ("2024-02-20 14:00", "2024-02-20 14:00", 20.0),
    ])
    kw = dict(from_date="2024-02-20 00:00", to_date="2024-02-20 15:30", freq="1h")
    feats = ["test/a", "test/b"]
    one = fs.load_dataframe(feats, **kw).toPandas()
    monkeypatch.setattr(ts, "DEFAULT_ROWS_PER_RANGE", 5)
    many = fs.load_dataframe(feats, **kw).toPandas()
    pd.testing.assert_frame_equal(one, many)
    assert list(many["time"]) == list(pd.date_range("2024-02-20", periods=16, freq="1h"))
    assert list(many["test/a"]) == [1.0] * 3 + [2.0] * 10 + [3.0] * 3
    assert list(many["test/b"].fillna(0.0)) == [0.0] + [10.0] * 13 + [20.0] * 2


def _width_store(fs):
    _save(fs, "test/a", [
        ("2024-02-19 22:00", "2024-02-19 22:00", 1.0),
        ("2024-02-20 01:00", "2024-02-20 01:00", 2.0),
        ("2024-02-20 02:00", "2024-02-20 02:00", 3.0),
        ("2024-02-20 02:00", "2024-02-20 04:00", None),  # newest version null
        ("2024-02-20 05:30", "2024-02-20 05:30", 5.0),
    ])
    # a correction written first, known 2h late (hidden by time travel)
    _save(fs, "test/b", [("2024-02-20 03:00", "2024-02-20 05:00", 31.0)])
    _save(fs, "test/b", [
        ("2024-02-20 00:30", "2024-02-20 00:30", 10.0),
        ("2024-02-20 03:00", "2024-02-20 03:00", 30.0),
    ])
    _save(fs, "test/s", [
        ("2024-02-20 01:00", "2024-02-20 01:00", {"k": [1]}),
        ("2024-02-20 04:00", "2024-02-20 04:00", {"k": []}),
    ], serialized=True)


WIDTH_CASES = {
    "ranged": ("test/b", {}),
    "travel": ("test/b", {"time_travel": "30min"}),
    "resampled": ("test/a", {"freq": "1h"}),
    "wide": (["test/a", "test/b"], {"freq": "1h"}),
    "align": (["test/a", "test/b"], {}),
    "serialized": ("test/s", {}),
    "null_newest": ("test/a", {}),
}


@pytest.mark.parametrize("case", sorted(WIDTH_CASES))
def test_many_ranges_equal_one_range(fs, spark_work, monkeypatch, session_conf, case):
    """One task, one partition and many ranges give one answer."""
    _width_store(fs)
    feats, kw = WIDTH_CASES[case]
    widths = _widths(monkeypatch)

    def load(tier):
        session_conf(TIERS[tier][0])
        built, _ = spark_work(lambda: fs.load_dataframe(
            feats, from_date="2024-02-20 00:00", to_date="2024-02-20 06:00", **kw
        ))
        assert built == 0, "a Spark job while building the plan"
        jobs, _ = spark_work(spark_work.result.toPandas)
        return spark_work.result, jobs

    (one, jobs), (part, _), (many, _) = (load(t) for t in TIERS)
    assert widths == [w for _, w in TIERS.values()]
    assert jobs == 1  # the one-task plan
    assert len(one) > 1
    pd.testing.assert_frame_equal(one, part)
    pd.testing.assert_frame_equal(one, many)
    if case == "null_newest":  # no fill without freq
        got = one.set_index("time")["test/a"]
        assert list(got.index) == [T(t) for t in ("2024-02-20 01:00", "2024-02-20 02:00",
                                                  "2024-02-20 05:30")]
        assert got.iloc[0] == 2.0 and pd.isna(got.iloc[1]) and got.iloc[2] == 5.0


def test_narrow_window_is_judged_on_its_pruned_files(fs, spark, monkeypatch, session_conf):
    """A two-day window of a 30-day feature fits one task (one partition
    past one task's file budget) under an advisory size below the whole
    dataset's bytes, which is what Spark's plan-time estimate reads for
    it: both widths read the pruned scan."""
    _save(fs, "test/a", [
        (t, t, float(i)) for i, t in enumerate(pd.date_range("2024-01-01", periods=120, freq="6h"))
    ])
    root = fs._storage("test").feature_path("a")
    total = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
        if f.endswith(".parquet")
    )
    window = dict(from_date="2024-01-10 00:00", to_date="2024-01-11 12:00")
    want = model(fs, "test/a", **window)
    session_conf({
        "spark.sql.files.openCostInBytes": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(total // 2),
    })
    widths = _widths(monkeypatch)
    df = fs.load_dataframe("test/a", **window)
    scans = fs._storage("test").scan("a", **window)
    estimate = scans._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert estimate > total // 2  # the estimate alone would plan it wide
    assert widths == [ts.ONE_TASK]
    assert_matches(loaded(df), want)
    # past one task's file budget, the one-partition side reads the same
    # pruned bytes
    session_conf({"spark.sql.files.openCostInBytes": str(total)})
    df = fs.load_dataframe("test/a", **window)
    assert widths == [ts.ONE_TASK, 1]
    assert_matches(loaded(df), want)


@pytest.mark.parametrize("freq", ["45s", "7min", "5h", "1d", "1w"])
def test_projected_grid_equals_time_grid(fs, spark, freq):
    _save(fs, "test/a", [("2024-02-19 00:00", "2024-02-19 00:00", 1.0)])
    frm, to = "2024-01-31 13:17:05", "2024-03-09 08:00:01"
    if freq == "45s":
        to = "2024-01-31 15:02:59"
    got = fs.load_dataframe("test/a", from_date=frm, to_date=to, freq=freq).toPandas()
    want = ts.time_grid(spark, frm, to, freq).toPandas()
    assert len(want) > 2 and want["time"].iloc[-1] < T(to)  # an off-grid `to`
    assert list(got["time"]) == list(want["time"])


def _catalog_spy(fs, monkeypatch):
    calls = []
    orig = fs.catalog.get_feature

    def spy(nsp, nm):
        calls.append((nsp, nm))
        return orig(nsp, nm)

    monkeypatch.setattr(fs.catalog, "get_feature", spy)
    return calls


@pytest.mark.parametrize("shape", ["wide", "align", "mixed", "open_range", "pandas"])
def test_one_catalog_lookup_per_feature_per_load(fs, monkeypatch, shape):
    names = _doubles(fs)
    _save(fs, "test/s", [("2024-01-02", "2024-01-02", "x")])
    feats, kw = {
        "wide": (names, dict(RANGE, freq="1h")),
        "align": (names, RANGE),
        "mixed": (names + ["test/s"], dict(RANGE, freq="1h")),
        "open_range": (names + ["test/s"], {"freq": "1d"}),
        "pandas": (names, dict(RANGE, freq="1h")),
    }[shape]
    calls = _catalog_spy(fs, monkeypatch)
    if shape == "pandas":
        fs.load_pandas(feats, **kw)
    else:
        fs.load_dataframe(feats, **kw)
    assert sorted(calls) == sorted(tuple(f.split("/")) for f in feats)


def test_request_times_ignore_the_driver_time_zone(fs, monkeypatch):
    """A naive request time is a UTC instant (the session zone) wherever
    the driver runs: saved and read with TZ=Asia/Tokyo, hourly values
    0..47 give 06:00..09:00 with 6..9, and the default created_time is
    the current UTC time."""
    import time

    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    try:
        fs.create_feature("test/a", partition="date")
        hours = pd.date_range("2024-01-01", periods=48, freq="h")
        before = pd.Timestamp.now(tz="UTC").tz_localize(None)
        fs.save_dataframe(pd.DataFrame({"time": hours, "value": range(48)}), "test/a")
        kw = dict(from_date="2024-01-01 06:00", to_date="2024-01-01 09:00")
        grid = fs.load_pandas("test/a", freq="1h", **kw)
        ranged = fs.load_pandas("test/a", **kw)
        created = fs._storage("test").export("a").toPandas()["created_time"]
    finally:
        monkeypatch.undo()
        time.tzset()
    want = pd.date_range("2024-01-01 06:00", periods=4, freq="h")
    assert list(grid.index) == list(want)
    assert list(grid["test/a"]) == [6.0, 7.0, 8.0, 9.0]
    assert list(ranged.index) == list(want)
    assert created.min() >= before - pd.Timedelta(seconds=1)
    assert created.max() <= pd.Timestamp.now(tz="UTC").tz_localize(None)
