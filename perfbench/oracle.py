"""Answer checks: DuckDB oracles over the generated rows, and frame
comparison.

Each check returns ``None`` when the program's answer is right and a short
reason when it is wrong. Checks run after the measured window, so they never
count toward a latency.
"""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pandas as pd

TOL = 1e-9


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Same columns, same row count, same values in any row order (floats
    to ``TOL``, relative)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    got, want = _norm(got), _norm(want)
    for c in want.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(b) or pd.api.types.is_float_dtype(a):
            av = pd.to_numeric(a, errors="coerce").to_numpy(dtype="float64")
            bv = pd.to_numeric(b, errors="coerce").to_numpy(dtype="float64")
            close = np.isclose(av, bv, rtol=TOL, atol=TOL) | (np.isnan(av) & np.isnan(bv))
            if not close.all():
                i = int(np.argmin(close))
                return f"{c}[{i}]: {av[i]!r} != {bv[i]!r}"
        elif pd.api.types.is_datetime64_any_dtype(b):
            if not (pd.to_datetime(a).astype("datetime64[us]").to_numpy()
                    == pd.to_datetime(b).astype("datetime64[us]").to_numpy()).all():
                return f"{c}: timestamps differ"
        elif not a.astype(str).equals(b.astype(str)):
            i = int((a.astype(str) != b.astype(str)).to_numpy().argmax())
            return f"{c}[{i}]: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def _ts(t) -> str:
    return pd.Timestamp(t).strftime("%Y-%m-%d %H:%M:%S.%f")


class StoreOracle:
    """DuckDB over bitemporal rows ``(feature, time, created_time, value)``.

    The latest ``created_time`` per (feature, time) wins, after an optional
    time-travel filter ``created_time <= time + delta``.
    """

    def __init__(self, rows: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("raw", rows)

    def close(self) -> None:
        self.con.close()

    def _latest(self, travel_min: int | None, features: list[str], upto: int | None = None) -> str:
        where = [f"feature IN ({', '.join(repr(f) for f in features)})"]
        if travel_min is not None:
            where.append(f"created_time <= time + INTERVAL '{travel_min} minutes'")
        if upto is not None:  # append-only log: the first ``upto`` rows
            where.append(f"seq < {upto}")
        return (
            "SELECT feature, time, value FROM raw WHERE "
            + " AND ".join(where)
            + " QUALIFY row_number() OVER "
            "(PARTITION BY feature, time ORDER BY created_time DESC) = 1"
        )

    def ranged(self, feature, frm, to, travel_min=None, upto=None) -> pd.DataFrame:
        return self.con.execute(
            f"SELECT time, value FROM ({self._latest(travel_min, [feature], upto)}) "
            f"WHERE time BETWEEN TIMESTAMP '{_ts(frm)}' AND TIMESTAMP '{_ts(to)}' "
            "ORDER BY time"
        ).df()

    def resampled(self, features, frm, to, freq_min: int) -> pd.DataFrame:
        """Grid ``frm..to`` (inclusive) carrying each feature's latest value
        at or before each grid point; one column per feature."""
        long = self.con.execute(
            f"WITH d AS ({self._latest(None, features)}), "
            "g AS (SELECT unnest(generate_series("
            f"TIMESTAMP '{_ts(frm)}', TIMESTAMP '{_ts(to)}', "
            f"INTERVAL {freq_min} MINUTE)) AS time), "
            f"f AS (SELECT unnest([{', '.join(repr(f) for f in features)}]) AS feature), "
            "gf AS (SELECT * FROM g CROSS JOIN f) "
            "SELECT gf.time, gf.feature, d.value FROM gf ASOF LEFT JOIN d "
            "ON gf.feature = d.feature AND gf.time >= d.time"
        ).df()
        wide = long.pivot(index="time", columns="feature", values="value")
        return wide.reset_index()[["time", *features]]

    def last(self, features, upto=None) -> dict:
        df = self.con.execute(
            f"SELECT feature, arg_max(value, time) AS value FROM "
            f"({self._latest(None, features, upto)}) GROUP BY feature"
        ).df()
        got = dict(zip(df["feature"], df["value"]))
        return {f: got.get(f) for f in features}


def check_last(got: dict, want: dict, serialized: set = frozenset()) -> str | None:
    for f, w in want.items():
        g = got.get(f)
        if f in serialized and w is not None:
            w = json.loads(w)
            if g != w:
                return f"last {f}: {g!r} != {w!r}"
        elif g is None or w is None:
            if g is not w:
                return f"last {f}: {g!r} != {w!r}"
        elif not np.isclose(float(g), float(w), rtol=TOL, atol=TOL):
            return f"last {f}: {g!r} != {w!r}"
    return None
