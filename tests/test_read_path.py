"""Store read path: building a load with explicit from/to launches no Spark
job (the LOCF seed is part of the plan), the in-plan seed matches
hand-computed grids on both the long-format fast path and the generic
per-feature path, last() runs one collect per stored value type, and a
refused Hadoop rename fails loudly."""

import json

import pandas as pd
import pytest

from bytehub_spark import timeseries as ts
from bytehub_spark.core import FeatureStore
from bytehub_spark.exceptions import StorageError
from bytehub_spark.storage import _rename

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


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


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


# ---------------------------------------------------------------------------
# zero build jobs
# ---------------------------------------------------------------------------


def _three_doubles(fs):
    names = [f"test/f{i}" for i in range(3)]
    idx = pd.date_range("2024-01-01", periods=40, freq="9h")
    for i, name in enumerate(names):
        fs.create_feature(name, partition="date")
        fs.save_dataframe(
            pd.DataFrame({"time": idx, "value": [float(j + i) for j in range(40)]}),
            name,
        )
    return names


RANGE = dict(from_date="2024-01-05", to_date="2024-01-10")


@pytest.mark.parametrize(
    "shape",
    ["ranged", "time_travel", "freq", "wide_fast_path", "generic_align"],
)
def test_building_an_explicit_range_load_runs_no_job(fs, spark, monkeypatch, shape):
    names = _three_doubles(fs)
    feats, kw = {
        "ranged": (names[0], {}),
        "time_travel": (names[0], {"time_travel": "1d"}),
        "freq": (names[0], {"freq": "1h"}),
        "wide_fast_path": (names, {"freq": "1h"}),
        "generic_align": (names, {}),
    }[shape]
    if shape == "wide_fast_path":
        engaged = []
        orig = FeatureStore._load_long_format

        def spy(self, *a, **k):
            out = orig(self, *a, **k)
            engaged.append(out is not None)
            return out

        monkeypatch.setattr(FeatureStore, "_load_long_format", spy)
    j0 = _next_job(spark)
    df = fs.load_dataframe(feats, **RANGE, **kw)
    j1 = _next_job(spark)
    df.toPandas()
    j2 = _next_job(spark)
    assert j1 - j0 == 0, f"{shape}: {j1 - j0} Spark job(s) while building the plan"
    assert j2 > j1  # the action itself runs the plan
    if shape == "wide_fast_path":
        assert engaged == [True]


def test_last_is_one_collect_per_value_type(fs, spark, monkeypatch):
    names = _three_doubles(fs)
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
        j0 = _next_job(spark)
        out = fs.last(feats)
        return out, _next_job(spark) - j0, len(collects)

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
# in-plan seed: hand-computed grids, fast path and generic path
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
def test_seed_matches_hand_computed_grid(fs, monkeypatch, case, path):
    kw, want = SEED_CASES[case](fs)
    engaged = []
    if path == "generic":
        monkeypatch.setattr(FeatureStore, "_load_long_format", lambda self, *a, **k: None)
    else:
        orig = FeatureStore._load_long_format

        def spy(self, *a, **k):
            out = orig(self, *a, **k)
            engaged.append(out is not None)
            return out

        monkeypatch.setattr(FeatureStore, "_load_long_format", spy)
    got = (
        fs.load_dataframe(["test/a", "test/b"], **LOAD, **kw)
        .toPandas()
        .set_index("time")
        .sort_index()
    )
    assert engaged == ([True] if path == "fast" else [])
    assert list(got.index) == list(GRID)
    for col, values in want.items():
        assert [_plain(v) for v in got[col]] == values, col
    # each feature alone (always the generic per-feature path) agrees
    for col, values in want.items():
        one = fs.load_dataframe(col, **LOAD, **kw).toPandas().set_index("time").sort_index()
        assert [_plain(v) for v in one[col]] == values, col


def test_ranged_load_without_freq_drops_the_seed(fs):
    _at_from(fs)
    _save(fs, "test/a", [("2024-02-20 07:00", "2024-02-20 07:00", 6.0)])
    got = fs.load_pandas(
        "test/a", from_date="2024-02-19 12:00", to_date="2024-02-20 06:00"
    )
    assert list(got.index) == [T("2024-02-20 00:00")]
    assert list(got["test/a"]) == [5.0]


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

    @fs.transform("test/t", from_features=["test/d"])
    def doubled(df):
        return df * 2

    feats = ["test/d", "test/s", "test/st", "test/e", "test/t", "test/d2"]
    got = fs.last(feats)

    want = {}
    for name in feats:
        nsp, nm = name.split("/")
        rows = ts.last_row(
            fs._load_feature(nsp, nm, None, None, None, None, callers=[], last_only=True)
        ).collect()
        val = rows[0]["value"] if rows else None
        if fs.catalog.get_feature(nsp, nm)["serialized"] and isinstance(val, str):
            val = json.loads(val)
        want[name] = val
    assert got == want
    assert got["test/d"] == 4.0 and got["test/t"] == 8.0 and got["test/e"] is None
    assert got["test/s"] == {"a": [2, 3]} and got["test/d2"] == 9.0
    assert _plain(got["test/st"]) == {"x": 2.0, "y": "q"}
