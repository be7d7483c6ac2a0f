"""A pandas model of the store's read semantics: the reference answer of
the read-path tests (``test_fastpath.py``, ``test_read_path.py``,
``test_one_read_path.py``).

It reads every stored version of a feature (all rows, all created_times)
and applies the reference rules one by one (_storage/dask.py:119-191,
_timeseries.py:11-26):

- window: each explicit bound, else the feature's own min/max time;
  ``to < from`` clamps to ``from``;
- time travel: keep ``created_time <= time + delta``;
- the newest created_time per time (a null newest version stays null);
- no freq: the rows in the window;
- freq: a grid from the window's start every ``freq``; each grid point
  takes the last non-null value at or before it, starting from the seed
  (the newest time at or before an explicit ``from_date``), i.e.
  ``reindex(union).ffill()`` as ``resample(freq).ffill()`` does;
- a transform: its arguments loaded by the same model, then the function;
- k >= 2 features: outer concat on time plus ``ffill``; one feature (or
  one transform) is returned unfilled;
- ``last_only``: a feature's newest partition only (``last()`` of a
  transform).
"""

from __future__ import annotations

import pandas as pd

from bytehub_spark.utils import deserialize_fn


def _raw(fs, name: str) -> pd.DataFrame:
    """Every stored version of ``name``: time, created_time, value, partition."""
    nsp, nm = name.split("/", 1)
    base = fs._storage(nsp).open(nm)
    if base is None:  # never saved: reads as double
        return pd.DataFrame({
            "time": pd.Series(dtype="datetime64[ns]"),
            "created_time": pd.Series(dtype="datetime64[ns]"),
            "value": pd.Series(dtype=float),
            "partition": pd.Series(dtype=object),
        })
    return base.toPandas()


def _series(fs, name, from_date, to_date, freq, time_travel, last_only) -> pd.Series:
    meta = fs.catalog.get_feature(*name.split("/", 1))
    if meta["transform"]:
        args = meta["transform"]["args"]
        inputs = model(fs, args, from_date, to_date, freq, time_travel, last_only)
        out = deserialize_fn(meta["transform"]["function"])(inputs[args])
        return out if isinstance(out, pd.Series) else out.iloc[:, 0]
    raw = _raw(fs, name)
    if last_only:
        raw = raw[raw["partition"] == raw["partition"].max()]
    lo = pd.Timestamp(from_date) if from_date is not None else raw["time"].min()
    hi = pd.Timestamp(to_date) if to_date is not None else raw["time"].max()
    if pd.isna(lo) or pd.isna(hi):  # an open bound of a feature without data
        return pd.Series([], index=pd.DatetimeIndex([]), dtype=float)
    hi = max(hi, lo)
    if time_travel:
        raw = raw[raw["created_time"] <= raw["time"] + pd.Timedelta(time_travel)]
    newest = (
        raw.sort_values(["time", "created_time"])
        .drop_duplicates("time", keep="last")
        .set_index("time")["value"]
    )
    start = lo
    if freq is not None and from_date is not None:
        start = newest.index[newest.index <= lo].max()  # the seed's time
        start = lo if pd.isna(start) else start
    rows = newest[(newest.index >= start) & (newest.index <= hi)]
    if freq is None:
        return rows
    grid = pd.date_range(lo, hi, freq=pd.Timedelta(freq))
    return rows.reindex(rows.index.union(grid)).ffill().reindex(grid)


def model(fs, features, from_date=None, to_date=None, freq=None, time_travel=None,
          last_only=False) -> pd.DataFrame:
    """The expected answer of ``fs.load_dataframe(features, ...)``: a frame
    indexed by time, one column per feature."""
    names = [features] if isinstance(features, str) else list(features)
    series = [
        _series(fs, n, from_date, to_date, freq, time_travel, last_only).rename(n)
        for n in names
    ]
    wide = pd.concat(series, axis=1).sort_index()
    if len(names) > 1:
        wide = wide.ffill()
    wide.index.name = "time"
    return wide


def loaded(df) -> pd.DataFrame:
    """A lazy load's answer as the model shapes it."""
    return df.toPandas().set_index("time")


def _plain(df: pd.DataFrame) -> pd.DataFrame:
    return df.astype(object).where(df.notna(), None)


def assert_matches(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Equal answers: same times in the same order, same columns, equal
    values, every null as None; dtypes may differ (pandas widens)."""
    pd.testing.assert_frame_equal(
        _plain(got), _plain(want), check_dtype=False, check_freq=False,
        check_index_type=False,
    )
