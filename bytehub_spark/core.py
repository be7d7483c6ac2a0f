"""FeatureStore facade: the reference's public API re-expressed on Spark.

API parity target: /root/reference/bytehub/_base.py:61-260 (method names &
semantics) and core.py (CoreFeatureStore behavior). Every load builds ONE
lazy DataFrame plan (``FeatureStore._read_plan``) — scan (Catalyst pushdown
+ Hive partition pruning) → time-travel predicate → bitemporal dedup window
→ resample/align LOCF — executed only at the caller's action. A load whose
partition-pruned scans fit one task runs as one Spark job of one task,
with no exchange; a larger one shuffles its rows once, into one partition
when the pruned scans' bytes fit one.

Query lifecycle parity map (SURVEY.md §3.1):
  seed lookup        core._seed_rows (in-plan)    [dask.py:142-148]
  pushdown scan      storage.scan                 [dask.py:85-106]
  default range      core._read_plan windows      [dask.py:150-155]
                     (core._bounds_prepass: one
                     collect for every feature)
  plan width         timeseries.plan_ranges       (no reference step)
  time travel        timeseries.time_travel       [dask.py:119-122]
  dedup              timeseries.dedup_latest      [dask.py:156-165]
                     (inside ranged_long / resample_long / align)
  resample/slice     timeseries.resample_long,    [dask.py:169-191]
                     timeseries.ranged_long (one series, no freq)
  alias + align      core.load_dataframe →        [core.py:275-276]
                     timeseries.align (with locf, the
                     ts_align_ffill operator's kernel too)
"""

from __future__ import annotations

import json
from functools import reduce
from typing import Any, Callable, Iterator, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import timeseries as ts
from .catalog import Catalog
from .exceptions import (
    MissingFeatureException,
    TransformError,
    ValidationError,
)
from .storage import SparkStorage
from .timeseries import _qcol
from .utils import (
    deserialize_fn,
    join_name,
    serialize_fn,
    split_name,
    unpack_feature_list,
)

ENVELOPE_COLS = {ts.TIME_COL, ts.CREATED_COL}


def _value_type(meta: dict | None) -> T.DataType | None:
    """Catalog-recorded Spark type of a feature's stored value column
    (written by the save path); None when never saved / pre-migration."""
    if not meta or not meta.get("value_schema"):
        return None
    try:
        return T._parse_datatype_json_string(meta["value_schema"])
    except Exception:
        return None


def _seed_rows(upto: DataFrame, time_travel: str | None, values, ranges: int) -> DataFrame:
    """LOCF seed (J3) as part of the read plan: per series, the newest
    long-format row at or before ``from_date`` in its latest version, from
    a scan pruned to ``time <= from_date`` (and, without time travel, to
    ``SparkStorage.seed_partitions``); ``values`` are the load's value
    columns. Unioned into the ranged scan ahead of the dedup window, so a
    grid point before the first ranged row carries the seed's value; a
    seed exactly at ``from_date`` duplicates a ranged row and the dedup
    window drops the copy. One mergeable aggregate instead of an eager
    max(time) job per load; in the load's one task at ``ts.ONE_TASK``."""
    if ranges == ts.ONE_TASK:
        upto = upto.coalesce(1)
    if time_travel:
        upto = ts.time_travel(upto, time_travel)
    latest = F.max_by(
        F.struct(ts.TIME_COL, ts.CREATED_COL, *values),
        F.struct(ts.TIME_COL, ts.CREATED_COL),
    )
    return (
        upto.groupBy(ts.SERIES_COL)
        .agg(latest.alias("__seed"))
        .where(F.col("__seed").isNotNull())  # a global agg of 0 rows
        .select(ts.SERIES_COL, "__seed.*")
    )


def _union(frames) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), frames)


def _tagged(frame: DataFrame, values: dict, cols: dict, types: dict, created) -> DataFrame:
    """Long-format rows (``__series``, time, created_time, one column per
    value type) of ``frame``: series n's value is the column ``values[n]``,
    put in its type's column ``cols[n]``; ``types`` maps each value column
    of the load to its type. One series is a projection; more explode one
    row of ``frame`` into a row per series."""
    def row(name):
        return [F.lit(name).alias(ts.SERIES_COL)] + [
            (values[name] if c == cols[name] else F.lit(None).cast(t)).alias(c)
            for c, t in types.items()
        ]

    envelope = [F.col(ts.TIME_COL), created.alias(ts.CREATED_COL)]
    if len(values) == 1:
        series, *vals = row(*values)
        return frame.select(series, *envelope, *vals)
    rows = F.explode(F.array(*[F.struct(*row(name)) for name in values]))
    return frame.select(*envelope, rows.alias("__row")).select(
        ts.TIME_COL, ts.CREATED_COL, "__row.*"
    )


def _names(pairs) -> list[str]:
    """The "ns/name" of each requested feature; a feature requested twice
    would make two columns of one name."""
    names = [join_name(*p) for p in pairs]
    for name in names:
        if names.count(name) > 1:
            raise ValidationError(f"Feature {name} is requested more than once")
    return names


def _window(bounds, from_date, to_date) -> tuple:
    """A feature's window: each explicit bound, else the feature's own
    min/max time from ``bounds``; ``to < from`` clamps to ``from``
    (dask.py:154-155), so a load ending before a feature's first row still
    returns that row. None for the open bound of a feature without data."""
    lo = from_date if from_date is not None else bounds[0]
    hi = to_date if to_date is not None else bounds[1]
    lo, hi = (None if t is None else ts.instant(t) for t in (lo, hi))
    if lo is not None and hi is not None and hi < lo:
        hi = lo
    return lo, hi


class FeatureStore:
    """Spark-native feature store (core/local mode).

    ``connection_string`` is a sqlite path (or ':memory:') holding the
    metadata catalog; the data plane lives at each namespace's ``url``.
    """

    def __init__(
        self,
        connection_string: str = "bytehub.db",
        spark: SparkSession | None = None,
        enable_transforms: bool = True,
    ):
        if connection_string.startswith("sqlite:///"):
            connection_string = connection_string[len("sqlite:///"):]
        self.catalog = Catalog(connection_string)
        self._spark = spark
        self.enable_transforms = enable_transforms
        self._storages: dict[str, SparkStorage] = {}

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from .session import get_spark

            self._spark = get_spark()
        return self._spark

    # ------------------------------------------------------------------
    # Namespace CRUD (§2.11)
    # ------------------------------------------------------------------

    def create_namespace(self, name: str, url: str, **kwargs) -> None:
        self.catalog.create_namespace(name, url, **kwargs)

    def list_namespaces(self, **kwargs) -> pd.DataFrame:
        rows = self.catalog.list_namespaces(
            name=kwargs.get("name"), regex=kwargs.get("regex")
        )
        cols = ["name", "description", "url", "storage_options", "meta", "version"]
        return pd.DataFrame(rows, columns=cols)

    def update_namespace(self, name: str, **kwargs) -> None:
        self.catalog.update_namespace(name, **kwargs)

    def delete_namespace(self, name: str) -> None:
        self.catalog.delete_namespace(name)

    def clean_namespace(self, name: str) -> list[str]:
        """GC: delete stored datasets with no catalog entry (anti-join J4)."""
        storage = self._storage(name)
        in_catalog = {f["name"] for f in self.catalog.list_features(namespace=name)}
        orphans = [d for d in storage.ls() if d not in in_catalog]
        for d in orphans:
            storage.delete(d)
        return orphans

    # ------------------------------------------------------------------
    # Feature CRUD (§2.11)
    # ------------------------------------------------------------------

    def create_feature(
        self, name: str, namespace: str | None = None, **kwargs
    ) -> None:
        nsp, nm = split_name(name, namespace)
        if nsp is None:
            raise ValidationError("create_feature requires a namespace")
        self.catalog.create_feature(nsp, nm, **kwargs)

    def list_features(self, **kwargs) -> pd.DataFrame:
        nsp, nm = (None, None)
        if kwargs.get("name"):
            nsp, nm = split_name(kwargs["name"], kwargs.get("namespace"))
        else:
            nsp = kwargs.get("namespace")
        rows = self.catalog.list_features(
            namespace=nsp, name=nm, regex=kwargs.get("regex")
        )
        if kwargs.get("friendly", True):
            for r in rows:
                r["transform"] = bool(r["transform"])
        cols = [
            "namespace", "name", "description", "partition",
            "serialized", "transform", "meta", "version",
        ]
        return pd.DataFrame(rows, columns=cols)

    def update_feature(self, name: str, namespace: str | None = None, **kwargs) -> None:
        nsp, nm = split_name(name, namespace)
        self.catalog.update_feature(nsp, nm, **kwargs)

    def delete_feature(
        self, name: str, namespace: str | None = None, delete_data: bool = False
    ) -> None:
        nsp, nm = split_name(name, namespace)
        self.catalog.delete_feature(nsp, nm)
        if delete_data:
            self._storage(nsp).delete(nm)

    def clone_feature(
        self, name: str, namespace: str | None = None, from_name: str | None = None,
        from_namespace: str | None = None,
    ) -> None:
        """Metadata clone + data copy (unless transform) — core.py:194-208."""
        src_ns, src_nm = split_name(from_name, from_namespace)
        dst_ns, dst_nm = split_name(name, namespace)
        src = self.catalog.clone_feature(src_ns, src_nm, dst_ns, dst_nm)
        if not src["transform"]:
            self._storage(src_ns).copy(src_nm, dst_nm, self._storage(dst_ns))

    # ------------------------------------------------------------------
    # Read path
    # ------------------------------------------------------------------

    def load_dataframe(
        self,
        features: Any,
        from_date=None,
        to_date=None,
        freq: str | None = None,
        time_travel: str | None = None,
    ) -> DataFrame:
        """Wide frame: `time` + one column per feature named "ns/name".

        Returns a LAZY Spark DataFrame ordered by time.
        """
        pairs = unpack_feature_list(features)
        return self._read_plan(
            pairs, self._metas(pairs), from_date, to_date, freq, time_travel
        )

    def _metas(self, pairs) -> dict[tuple, dict | None]:
        """The catalog entry of every feature of a load: one lookup each,
        passed down to every later step of the load."""
        return {p: self.catalog.get_feature(*p) for p in dict.fromkeys(pairs)}

    def _read_plan(
        self, pairs, metas, from_date, to_date, freq, time_travel,
        callers=(), last_only=False,
    ) -> DataFrame:
        """The one plan of every load: ``time`` + one column per feature,
        ordered by time.

        Each feature keeps its own window: the explicit bound, else its
        own min/max time (``_bounds_prepass``: one collect for the whole
        load; with both bounds given the build runs no Spark job), with
        ``to < from`` clamped to ``from`` (``_window``). With ``last_only``
        (``last()`` of a transform) a stored feature's window is its
        newest partition holding a data file. A transform loads its
        arguments through this same builder (``_load_transform``) and
        enters as one more series. The load is

            union of the k slim scans, each tagged with its series name,
            pruned to its window, one value column per value type
              → n = ts.plan_ranges(scans, seed scans)  (one task, one
                    partition or wide, from the pruned scans' files and
                    bytes; no Spark job)
              → one time-travel predicate
              → no freq: ts.ranged_long (k = 1: one range exchange on
                    time, dedup + sort in place) or ts.align (one range
                    exchange on time buckets, dedup + fill in place)
              → freq, per distinct window: ∪ one seed aggregate
                    groupBy(series) over the scans pruned to
                    time <= from and, without time travel, to two listed
                    partitions (SparkStorage.seed_partitions) [_seed_rows]
                    (explicit from_date only),
                    then ts.resample_long (one exchange on the grid cell,
                    dedup in place, then the answer-sized fill); one
                    window is the answer, more (and transforms) meet in
                    ts.align on the union of their grid times

        Each runs in one task with no exchange when the pruned scans fit
        one, else shuffles its rows once, on a key that already orders the
        answer, into one partition when their bytes fit one (see "Store
        read plan" in timeseries). Measured on the retrieve benchmark
        (4 shallow features, 1 deep; seed 1, local[4]) in Spark jobs, the
        former per-feature join fold → n = shuffle partitions → n = 1 →
        one task: ranged 4 → 3 → 2 → 1, time travel 4 → 3 → 2 → 1,
        resampled 9 → 4 → 3 → 1, wide 8 → 4 → 3 → 1, align 13 → 5 → 2 → 1.

        A load of one transform is its output, unfilled: a null the
        function returns at a grid point stays null.
        """
        names = _names(pairs)
        for pair, name in zip(pairs, names):
            if metas[pair] is None:
                raise MissingFeatureException(f"Feature {name} does not exist")
            if name in callers:  # U3 cycle detection (_model.py:194-197)
                raise TransformError(f"Recursive transform: cycle at {name}")
        bounds = {} if last_only else self._bounds_prepass(pairs, metas, from_date, to_date)
        outputs = {
            name: self._load_transform(
                metas[pair], from_date, to_date, freq, time_travel,
                [*callers, name], last_only,
            )
            for pair, name in zip(pairs, names)
            if metas[pair]["transform"]
        }
        if len(names) == 1 and outputs:
            out = outputs[names[0]].orderBy(ts.TIME_COL)
            return out.select(ts.TIME_COL, F.col(ts.VALUE_COL).alias(names[0]))
        stored = {name: pair for pair, name in zip(pairs, names) if name not in outputs}
        windows = {
            name: _window(bounds.get(pair, (None, None)), from_date, to_date)
            for name, pair in stored.items()
        }

        def scan(name, lo, hi, seed=False) -> DataFrame:
            nsp, nm = stored[name]
            meta, storage = metas[nsp, nm], self._storage(nsp)
            base = self._open_recorded(nsp, nm, meta)
            if base is not None and (last_only or (seed and not time_travel)):
                # travel can hide whole partitions: its seed reads them all
                upto = None if last_only else hi
                parts = storage.seed_partitions(nm, upto, meta["partition"])
                base = base.where(F.col("partition").isin(parts))
            return storage.scan(
                nm, from_date=lo, to_date=hi, scheme=meta["partition"], base=base,
                value_type=_value_type(meta),
            )

        scans = {name: scan(name, *windows[name]) for name in stored}
        # one value column per value type (a never-saved feature reads as
        # double, like storage.scan's empty frame); one type keeps `value`
        types = {name: _value_type(metas[pair]) or T.DoubleType() for name, pair in stored.items()}
        types.update({name: out.schema[ts.VALUE_COL].dataType for name, out in outputs.items()})
        distinct = list(dict.fromkeys(types[n].json() for n in names))
        cols = {
            n: ts.VALUE_COL if len(distinct) == 1 else f"__value{distinct.index(types[n].json())}"
            for n in names
        }
        vtypes = {cols[n]: types[n] for n in names}
        no_created = F.lit(None).cast("timestamp")

        def tagged(name, frame) -> DataFrame:
            return _tagged(frame, {name: F.col(ts.VALUE_COL)}, cols, vtypes, F.col(ts.CREATED_COL))

        def travelled(frame) -> DataFrame:
            return ts.time_travel(frame, time_travel) if time_travel else frame

        ranged = {name: tagged(name, scans[name]) for name in stored}
        extra = [
            _tagged(out, {name: F.col(ts.VALUE_COL)}, cols, vtypes, no_created)
            for name, out in outputs.items()
        ]
        groups: dict[tuple, list[str]] = {}
        for name in stored:
            groups.setdefault(windows[name] if freq else None, []).append(name)
        # the seed scans of each grid window after an explicit from_date
        uptos = {
            window: _union(tagged(n, scan(n, None, window[0], seed=True)) for n in group)
            for window, group in groups.items()
            if from_date is not None and window is not None and None not in window
        }
        ranges = ts.plan_ranges(
            _union([*ranged.values(), *extra]), _union(uptos.values()) if uptos else None
        )
        if freq is None and len(names) == 1:
            return ts.ranged_long(travelled(ranged[names[0]]), names[0], ranges)
        parts = []
        for window, group in groups.items():
            rows = travelled(_union(ranged[n] for n in group))
            if window is None or None in window:  # no freq, or no data
                parts.append(rows)
                continue
            lo, hi = window
            if window in uptos:
                seeds = _seed_rows(uptos[window], time_travel, list(vtypes), ranges)
                rows = rows.unionByName(seeds)
            grid = ts.resample_long(rows, {n: cols[n] for n in group}, lo, hi, freq, ranges)
            if len(groups) == 1 and not outputs:
                return grid
            parts.append(_tagged(grid, {n: _qcol(n) for n in group}, cols, vtypes, no_created))
        # the span only balances align's buckets
        known = [w for w in windows.values() if None not in w]
        known = known or [_window((0, 0), from_date, to_date)]
        span = min(w[0] for w in known), max(w[1] for w in known)
        return ts.align(_union(parts + extra), cols, *span, ranges)

    def load_pandas(
        self,
        features: Any,
        from_date=None,
        to_date=None,
        freq: str | None = None,
        time_travel: str | None = None,
    ) -> pd.DataFrame:
        """Reference-shaped result: pandas frame indexed by time; serialized
        feature values decoded back to Python objects."""
        pairs = unpack_feature_list(features)
        metas = self._metas(pairs)
        pdf = self._read_plan(
            pairs, metas, from_date, to_date, freq, time_travel
        ).toPandas()
        pdf = pdf.set_index(ts.TIME_COL)
        for pair, meta in metas.items():
            if meta and meta["serialized"]:
                col = join_name(*pair)
                pdf[col] = pdf[col].map(
                    lambda s: json.loads(s) if isinstance(s, str) else s
                )
        return pdf

    def materialize(
        self,
        source: str,
        dest: str,
        freq: str,
        from_date=None,
        to_date=None,
        partition: str = "date",
    ) -> None:
        """Persist a resampled rollup of ``source`` as feature ``dest`` —
        the hypertable/materialized-view pattern: downstream reads hit the
        small regular-grid rollup instead of re-running grid+LOCF over raw
        history. dest is created if missing; rows append bitemporally, so
        re-materializing is an ordinary versioned update."""
        nsp, nm = split_name(dest)
        if self.catalog.get_feature(nsp, nm) is None:
            self.create_feature(dest, partition=partition)
        rolled = self.load_dataframe(
            source, from_date=from_date, to_date=to_date, freq=freq
        )
        src_col = [c for c in rolled.columns if c != ts.TIME_COL][0]
        self.save_dataframe(
            rolled.select(ts.TIME_COL, F.col(src_col).alias(ts.VALUE_COL)), dest
        )

    def compact_feature(self, name: str, max_files_per_partition: int = 1) -> dict:
        """Rewrite a feature's fragmented partitions into target-sized
        files (storage.compact). Pure reorganization — bitemporal reads
        are byte-identical before/after; run it off the write path like
        a Delta OPTIMIZE."""
        nsp, nm = split_name(name)
        meta = self.catalog.get_feature(nsp, nm)
        if meta is None:
            raise MissingFeatureException(f"No such feature {name!r}")
        # opened with the recorded type: the rewrite runs no inference job
        self._open_recorded(nsp, nm, meta)
        return self._storage(nsp).compact(nm, max_files_per_partition)

    def sql(
        self,
        query: str,
        features: Any,
        from_date=None,
        to_date=None,
        freq: str | None = None,
        time_travel: str | None = None,
    ) -> DataFrame:
        """Run Spark SQL over features registered as temp views.

        Each feature's (deduped, optionally resampled/time-traveled) series
        becomes a view named from "ns/name" with non-identifier characters
        mapped to "_" (prod/price -> prod_price), columns (time, value).
        Two features whose names map to one view name are refused. The
        views live only while Spark analyses ``query``: the call drops
        them before it returns, so a later call cannot read them. A
        Spark-native capability with no reference equivalent: ad-hoc SQL
        over bitemporally-resolved series, still one lazy plan.
        """
        import re as _re

        pairs = unpack_feature_list(features)
        metas = self._metas(pairs)
        views: dict[str, tuple] = {}
        for pair, name in zip(pairs, _names(pairs)):
            view = _re.sub(r"[^A-Za-z0-9_]", "_", name)
            if view in views:
                raise ValidationError(
                    f"Features {views[view][1]} and {name} both map to SQL view {view}"
                )
            views[view] = pair, name
        try:
            for view, (pair, name) in views.items():
                sdf = self._read_plan(
                    [pair], {pair: metas[pair]}, from_date, to_date, freq, time_travel
                )
                sdf = sdf.select(ts.TIME_COL, _qcol(name).alias(ts.VALUE_COL))
                sdf.createOrReplaceTempView(view)
            return self.spark.sql(query)
        finally:
            for view in views:
                self.spark.catalog.dropTempView(view)

    def last(self, features: Any) -> dict[str, Any]:
        """Latest value per feature (None when empty) — core.py:315-331.

        Stored features are grouped by recorded value type, and each group
        is ONE collect: the union of the members' newest-partition scans,
        tagged with the request index, under one `groupBy(i)` whose
        `max_by(value, (time, created_time))` is the latest version of the
        newest row. k features of one type cost one job set, not k: one
        job of one task when their scans fit one (``ts.narrow``). The
        newest partition is the newest holding a data file
        (``SparkStorage.seed_partitions``).
        A transform feature is one load of the builder over its leaves'
        newest partitions, then the function."""
        pairs = unpack_feature_list(features)
        vals: dict[int, Any] = {}
        groups: dict[str, list[DataFrame]] = {}
        metas = []
        for i, (nsp, nm) in enumerate(pairs):
            meta = self.catalog.get_feature(nsp, nm)
            if meta is None:
                raise MissingFeatureException(f"Feature {nsp}/{nm} does not exist")
            metas.append(meta)
            if meta["transform"]:
                pair = (nsp, nm)
                rows = ts.last_row(
                    self._read_plan(
                        [pair], {pair: meta}, None, None, None, None, last_only=True
                    )
                ).collect()
                vals[i] = rows[0][join_name(*pair)] if rows else None
                continue
            base = self._open_recorded(nsp, nm, meta)
            parts = self._storage(nsp).seed_partitions(nm)
            if base is None or not parts:
                continue  # no data: None
            newest = base.where(F.col("partition") == parts[0]).select(
                F.lit(i).alias("__i"), ts.TIME_COL, ts.CREATED_COL, ts.VALUE_COL
            )
            # the memoized base frame caches its schema: no analysis call
            vt = base.schema[ts.VALUE_COL].dataType.json()
            groups.setdefault(vt, []).append(newest)
        latest = F.max_by(ts.VALUE_COL, F.struct(ts.TIME_COL, ts.CREATED_COL))
        for scans in groups.values():
            frame = ts.narrow(_union(scans))  # one task, no exchange, when it fits
            for row in frame.groupBy("__i").agg(latest.alias("v")).collect():
                vals[row["__i"]] = row["v"]
        out = {}
        for i, (pair, meta) in enumerate(zip(pairs, metas)):
            val = vals.get(i)
            if meta["serialized"] and isinstance(val, str):
                val = json.loads(val)
            out[join_name(*pair)] = val
        return out

    # -- internal ------------------------------------------------------

    def _open_recorded(self, nsp: str, nm: str, meta: dict):
        """open() with the catalog-recorded value type; when the catalog
        predates the dataset (rebuilt catalog over existing data), record
        the inferred type so every later read skips inference and the
        long-format fast path can engage — self-healing bookkeeping. The
        recorded type is also written into ``meta``, the load's copy."""
        storage = self._storage(nsp)
        vt = _value_type(meta)
        base = storage.open(nm, value_type=vt)
        if vt is None and base is not None and ts.VALUE_COL in base.columns:
            meta["value_schema"] = base.schema[ts.VALUE_COL].dataType.json()
            self.catalog.set_value_schema(nsp, nm, meta["value_schema"])
        return base

    def _storage(self, namespace: str) -> SparkStorage:
        # setdefault keeps one SparkStorage per namespace even when
        # _bounds_prepass's pool opens features concurrently (two would
        # split the open() memo)
        st = self._storages.get(namespace)
        if st is None:
            nsrow = self.catalog.get_namespace(namespace)
            if nsrow is None:
                raise MissingFeatureException(f"Namespace {namespace!r} does not exist")
            # parquet is the only data plane: a namespace made for another
            # table format must fail here, not read or write plain parquet
            backend = (nsrow.get("meta") or {}).get("backend")
            if backend is not None and str(backend).lower() != "parquet":
                raise ValidationError(
                    f"Namespace {namespace!r} requests storage backend "
                    f"{backend!r}; only 'parquet' is supported"
                )
            st = self._storages.setdefault(
                namespace,
                SparkStorage(self.spark, nsrow["url"], nsrow.get("storage_options") or {}),
            )
        return st

    def _bounds_prepass(self, pairs, metas, from_date, to_date) -> dict[tuple, tuple]:
        """Default-range time bounds of every stored feature of a load
        that omits ``from_date`` or ``to_date``, in one collect.

        Each feature contributes ONE scan of slim `(i, time)` rows, pruned
        to its oldest and newest partition holding a data file
        (``SparkStorage.bound_partitions``, from the ``open()`` memo's file
        index); the scans union (narrow — no per-branch query stage) into
        a single `groupBy(i)` computing min/max, regardless of k: one
        Spark job of one task, with no exchange, when the scans fit one
        (``ts.narrow``), else one shuffle and 2-3 scheduler jobs under AQE.
        With both bounds given it runs no job. Transform features are
        skipped (their leaves load recursively with their own ranges).
        """
        stored = [p for p in metas if metas[p] is not None and not metas[p]["transform"]]
        # open() builds a fresh parquet file index per feature; warm all
        # memos concurrently so k features pay ~max not ~sum. On a
        # 16-feature store (730 daily partitions each, local[4]) the pool
        # opened the cold features in 0.52-0.97 s against 1.56-1.88 s
        # serially (four runs each) — keep it. Spark handles concurrent
        # job submission; _storage() is idempotent under races
        # (setdefault).
        if len(stored) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(stored))) as ex:
                list(
                    ex.map(lambda p: self._open_recorded(*p, metas[p]), stored)
                )
        if from_date is not None and to_date is not None:
            return {}
        # empty dataset: bounds are definitionally null, and so are those
        # of a feature whose scan matched no rows (no group below)
        bounds: dict[tuple, tuple] = {p: (None, None) for p in stored}
        branches = []
        for i, (nsp, nm) in enumerate(pairs):
            if (nsp, nm) not in bounds:
                continue  # _read_plan raises / loads the transform
            meta = metas[nsp, nm]
            base = self._open_recorded(nsp, nm, meta)
            if base is not None:
                storage = self._storage(nsp)
                base = base.where(F.col("partition").isin(storage.bound_partitions(nm)))
                sdf = storage.scan(nm, scheme=meta["partition"], base=base)
                branches.append(sdf.select(F.lit(i).alias("__i"), F.col(ts.TIME_COL)))
        if branches:
            # µs since the epoch: a collected timestamp is a naive datetime
            # in the driver's time zone, a naive request time a UTC instant
            aggs = [F.unix_micros(f(ts.TIME_COL)) for f in (F.min, F.max)]
            rows = ts.narrow(_union(branches))  # one task, no exchange, when it fits
            for i, *us in rows.groupBy("__i").agg(*aggs).collect():
                bounds[pairs[i]] = tuple(
                    None if t is None else pd.Timestamp(t, unit="us", tz="UTC") for t in us
                )
        return bounds

    # ------------------------------------------------------------------
    # Transforms (U1–U4)
    # ------------------------------------------------------------------

    def transform(
        self, name: str, namespace: str | None = None,
        from_features: Sequence[str] = (), **kwargs
    ) -> Callable:
        """Decorator registering a virtual feature (core.py:220-244)."""
        def decorator(fn: Callable) -> Callable:
            payload = {
                "format": "cloudpickle",
                "function": serialize_fn(fn),
                "args": list(from_features),
            }
            nsp, nm = split_name(name, namespace)
            existing = self.catalog.get_feature(nsp, nm)
            if existing is None:
                self.catalog.create_feature(
                    nsp, nm, transform=payload, **kwargs
                )
            else:
                self.catalog.update_feature(nsp, nm, transform=payload)
            return fn

        return decorator

    def _load_transform(
        self, meta: dict, from_date, to_date, freq, time_travel,
        callers: list[str], last_only: bool = False,
    ) -> DataFrame:
        """A transform's output (time, value): its arguments as one load of
        ``_read_plan`` (one argument unfilled, more carried forward on the
        union of their times), then the function per batch. The output
        type is sampled (2-3 Spark jobs) only until it is recorded."""
        if not self.enable_transforms:
            raise TransformError(
                "Transforms are disabled on this store (enable_transforms=False)"
            )
        payload = meta["transform"]
        fn = deserialize_fn(payload["function"])
        args: list[str] = payload["args"]

        pairs = [split_name(full) for full in args]
        wide = self._read_plan(
            pairs, self._metas(pairs), from_date, to_date, freq, time_travel,
            callers, last_only,
        )

        # The output type: the one recorded in the transform's catalog
        # entry (no Spark job), else fn's output on a driver-side sample,
        # recorded once the sample shows a value (transform() clears it)
        value_type = _value_type(meta)
        if value_type is None:
            sample = wide.limit(100).toPandas().set_index(ts.TIME_COL)
            sample = sample[args] if args else sample
            try:
                sample_out = fn(sample)
            except Exception as e:
                raise TransformError(f"Transform function failed on sample: {e}") from e
            if isinstance(sample_out, pd.DataFrame):
                if sample_out.shape[1] != 1:
                    raise TransformError(
                        "Transform must return a single column "
                        f"(got {sample_out.shape[1]})"
                    )
                out_dtype = sample_out.iloc[:, 0]
            elif isinstance(sample_out, pd.Series):
                out_dtype = sample_out
            else:
                raise TransformError(
                    "Transform must return a pandas DataFrame or Series"
                )
            value_type = _pandas_dtype_to_spark(out_dtype)
            if out_dtype.notna().any():
                meta["value_schema"] = value_type.json()
                self.catalog.set_value_schema(
                    meta["namespace"], meta["name"], meta["value_schema"]
                )

        out_schema = T.StructType(
            [
                T.StructField(ts.TIME_COL, T.TimestampType()),
                T.StructField(ts.VALUE_COL, value_type),
            ]
        )

        arg_list = list(args)

        def apply_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if len(pdf) == 0:
                    continue
                frame = pdf.set_index(ts.TIME_COL)[arg_list]
                res = fn(frame)
                if isinstance(res, pd.Series):
                    res = res.to_frame(ts.VALUE_COL)
                res.columns = [ts.VALUE_COL]
                res = res.reset_index()
                res.columns = [ts.TIME_COL, ts.VALUE_COL]
                yield res

        # Transforms run per-batch (parity with the reference's dask
        # map_partitions contract: elementwise / same-index functions).
        return wide.mapInPandas(apply_fn, schema=out_schema)

    # ------------------------------------------------------------------
    # Write path
    # ------------------------------------------------------------------

    def save_dataframe(
        self, df: Any, name: str | None = None, namespace: str | None = None
    ) -> None:
        """Save a pandas or Spark frame (core.py:278-313).

        Single-feature form: columns {time?, created_time?, value} + explicit
        name; or the payload column itself named "ns/name". Wide form: k
        feature-named columns, each saved as its own feature (unpivot).
        Every target is checked against the catalog before any is written.
        """
        is_pandas = isinstance(df, pd.DataFrame)
        if is_pandas and isinstance(df.index, pd.DatetimeIndex):
            if ts.TIME_COL in df.columns:
                raise ValidationError(
                    "Ambiguous time: both DatetimeIndex and 'time' column present"
                )
            df = df.reset_index().rename(columns={df.index.name or "index": ts.TIME_COL})
        elif not (is_pandas or isinstance(df, DataFrame)):
            raise ValidationError(
                f"save_dataframe expects a pandas or Spark DataFrame, got {type(df)}"
            )
        if ts.TIME_COL not in df.columns:
            raise ValidationError("save requires a 'time' column (or a pandas DatetimeIndex)")
        payload = [c for c in df.columns if c not in ENVELOPE_COLS]
        if not payload:
            raise ValidationError("No value column to save")
        if payload == [ts.VALUE_COL]:
            if name is None:
                raise ValidationError(
                    "Column named 'value' requires an explicit feature name"
                )
            targets = {ts.VALUE_COL: split_name(name, namespace)}
        else:  # each payload column is a feature, "ns/name" or named in namespace
            targets = {c: split_name(c, None if "/" in c else namespace) for c in payload}
        metas = {}
        for col, (nsp, nm) in targets.items():
            metas[col] = self.catalog.get_feature(nsp, nm)
            if metas[col] is None:
                raise MissingFeatureException(f"Feature {nsp}/{nm} does not exist")

        has_created = ts.CREATED_COL in df.columns
        for col, (nsp, nm) in targets.items():
            if is_pandas:
                value = df[col].map(json.dumps) if metas[col]["serialized"] else df[col]
                pdf = pd.DataFrame({
                    ts.TIME_COL: pd.to_datetime(df[ts.TIME_COL]),
                    # naive times are UTC too
                    ts.CREATED_COL: pd.to_datetime(df[ts.CREATED_COL]) if has_created
                    else pd.Timestamp.now(tz="UTC"),
                    ts.VALUE_COL: value,
                })
                # pyarrow inference mirrors the reference's schema derivation
                # (dask.py:66-69): dict payloads become structs, not strings.
                sdf = self.spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False))
            else:
                value = _qcol(col)
                if metas[col]["serialized"]:
                    if isinstance(df.schema[col].dataType, (T.StructType, T.ArrayType, T.MapType)):
                        value = F.to_json(value)
                    else:
                        value = F.pandas_udf(
                            lambda s: s.map(lambda v: json.dumps(v) if v is not None else None),
                            T.StringType(),
                        )(value)
                created = F.col(ts.CREATED_COL) if has_created else F.current_timestamp()
                sdf = df.select(
                    ts.TIME_COL, created.alias(ts.CREATED_COL), value.alias(ts.VALUE_COL)
                )
            self._write_feature(nsp, nm, metas[col], sdf.select(
                *[F.col(c).cast("timestamp").alias(c) for c in (ts.TIME_COL, ts.CREATED_COL)],
                ts.VALUE_COL,
            ))

    def _write_feature(self, nsp: str, nm: str, meta: dict, sdf: DataFrame) -> None:
        """Append + catalog bookkeeping: the first successful save records
        the stored value type so later reads use an explicit schema (no
        parquet inference job) and later appends guard against evolution
        without opening the dataset."""
        vt = _value_type(meta)
        self._storage(nsp).write(
            nm, sdf, scheme=meta["partition"], known_value_type=vt
        )
        if vt is None:
            self.catalog.set_value_schema(
                nsp, nm, sdf.schema[ts.VALUE_COL].dataType.json()
            )


def _pandas_dtype_to_spark(series: pd.Series) -> T.DataType:
    """Infer a Spark type for a transform's output column."""
    import numpy as np

    dt = series.dtype
    if pd.api.types.is_float_dtype(dt):
        return T.DoubleType()
    if pd.api.types.is_integer_dtype(dt):
        return T.LongType()
    if pd.api.types.is_bool_dtype(dt):
        return T.BooleanType()
    if pd.api.types.is_datetime64_any_dtype(dt):
        return T.TimestampType()
    if dt == object and len(series):
        v = series.dropna()
        if len(v):
            first = v.iloc[0]
            if isinstance(first, str):
                return T.StringType()
            if isinstance(first, (int, np.integer)):
                return T.LongType()
            if isinstance(first, (float, np.floating)):
                return T.DoubleType()
    return T.DoubleType()


def _not_implemented_tasks(self, *a, **kw):
    """Scheduled tasks are a reference roadmap item that raises
    NotImplementedError there too (_base.py:250-260) — kept for API parity."""
    raise NotImplementedError("Tasks are not available in bytehub_spark")


FeatureStore.create_task = _not_implemented_tasks
FeatureStore.update_task = _not_implemented_tasks
FeatureStore.delete_task = _not_implemented_tasks
FeatureStore.list_tasks = _not_implemented_tasks
