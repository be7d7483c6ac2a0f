"""FeatureStore facade: the reference's public API re-expressed on Spark.

API parity target: /root/reference/bytehub/_base.py:61-260 (method names &
semantics) and core.py (CoreFeatureStore behavior). The read path builds ONE
lazy DataFrame plan — scan (Catalyst pushdown + Hive partition pruning) →
time-travel predicate → bitemporal dedup window → resample/align LOCF —
executed only at the caller's action. A ranged load of stored features of
one value type shuffles its rows once, into one partition when Spark's
plan-time estimate says the scans are small (``_load_long_format``).

Query lifecycle parity map (SURVEY.md §3.1):
  seed lookup        core._seed_rows (in-plan)    [dask.py:142-148]
  pushdown scan      storage.scan                 [dask.py:85-106]
  default range      core._load_feature           [dask.py:150-155]
  plan width         timeseries.plan_ranges       (no reference step)
  time travel        timeseries.time_travel       [dask.py:119-122]
  dedup              timeseries.dedup_latest      [dask.py:156-165]
                     (inside ranged_long / resample_long / align_long
                     on the long-format plans)
  resample/slice     timeseries.resample_long,    [dask.py:169-191]
                     timeseries.ranged_long (one series, no freq)
  alias + align      core.load_dataframe →        [core.py:275-276]
                     timeseries.align_long (one value type, explicit
                     range) or timeseries.align (generic path)
"""

from __future__ import annotations

import json
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


def _seed_rows(upto: DataFrame, time_travel: str | None, keys=()) -> DataFrame:
    """LOCF seed (J3) as part of the read plan: per series (``keys``), the
    newest row at or before ``from_date`` in its latest version, from a
    scan pruned to ``time <= from_date``. Unioned into the ranged scan
    ahead of the dedup window, so a grid point before the first ranged
    row carries the seed's value; a seed exactly at ``from_date``
    duplicates a ranged row and the dedup window drops the copy. One
    mergeable aggregate instead of an eager max(time) job per load."""
    if time_travel:
        upto = ts.time_travel(upto, time_travel)
    latest = F.max_by(
        F.struct(ts.TIME_COL, ts.CREATED_COL, ts.VALUE_COL),
        F.struct(ts.TIME_COL, ts.CREATED_COL),
    )
    return (
        upto.groupBy(*keys)
        .agg(latest.alias("__seed"))
        .where(F.col("__seed").isNotNull())  # a global agg of 0 rows
        .select(*keys, "__seed.*")
    )


def _grid(df: DataFrame, from_date, to_date, freq: str, ranges: int) -> DataFrame:
    """One series' (time, created_time, value) rows, all versions, on the
    LOCF grid: ``ts.resample_long`` with k = 1, as (time, value)."""
    tagged = df.withColumn(ts.SERIES_COL, F.lit(ts.VALUE_COL))
    return ts.resample_long(tagged, [ts.VALUE_COL], from_date, to_date, freq, ranges)


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
        return self._load(pairs, self._metas(pairs), from_date, to_date, freq, time_travel)

    def _metas(self, pairs) -> dict[tuple, dict | None]:
        """The catalog entry of every feature of a load: one lookup each,
        passed down to every later step of the load."""
        return {p: self.catalog.get_feature(*p) for p in dict.fromkeys(pairs)}

    def _load(self, pairs, metas, from_date, to_date, freq, time_travel) -> DataFrame:
        # With from_date or to_date omitted: ONE Spark job for every
        # feature's default-range time bounds instead of one per feature
        # (a k-branch union collected once). With both given the build
        # runs no Spark job at all; the LOCF seed is part of the plan.
        bounds = self._bounds_prepass(pairs, metas, from_date, to_date)

        fast = self._load_long_format(pairs, metas, from_date, to_date, freq, time_travel)
        if fast is not None:
            return fast

        def one(pair) -> DataFrame:
            nsp, nm = pair
            sdf = self._load_feature(
                nsp, nm, from_date, to_date, freq, time_travel, callers=[],
                bounds=bounds.get(pair), meta=metas[pair],
            )
            return sdf.select(
                ts.TIME_COL, F.col(ts.VALUE_COL).alias(join_name(nsp, nm))
            )

        if len(pairs) > 1:
            # remaining per-feature plan construction (e.g. transform DAG
            # loads) still runs its own driver work; overlap it — k
            # features cost ~max not ~sum. The catalog is lock-backed.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(pairs))) as ex:
                frames = list(ex.map(one, pairs))
        else:
            frames = [one(pairs[0])]
        out = ts.align(
            frames,
            ffill=len(frames) > 1,
            range_hint=self._range_hint(from_date, to_date, bounds),
        )
        return out.orderBy(ts.TIME_COL)

    def _load_long_format(
        self, pairs, metas, from_date, to_date, freq, time_travel
    ) -> DataFrame | None:
        """A ranged load of stored features of one value type as ONE
        long-format plan: gridded (``freq``), aligned (no ``freq``, k >= 2)
        or ranged (no ``freq``, k = 1).

        The generic path builds k independent pipelines (scan → dedup
        window → LOCF each), aligns them with a fold of outer joins and
        sorts the result: per feature a dedup exchange, then a two-pass
        LOCF (bucket seeds, a single-partition prefix, a broadcast) and a
        range exchange with its sampling job for the final orderBy. When
        the caller gave an explicit [from, to] and every feature is a
        stored series of the SAME value type, the whole load is:

            union of k slim scans (tagged with the series name)
              → n = ts.plan_ranges(scans)  (plan-time size estimate)
              → one time-travel predicate
              ∪ one seed aggregate  groupBy(series) over the k scans
                                    pruned to time <= from  [_seed_rows]
                                    (with freq only)
              → ts.resample_long (freq): one exchange on the grid cell,
                    dedup + pivot in place, then the answer-sized fill
              → ts.align_long (no freq): one range exchange on time
                    buckets, dedup + pivot + fill in place
              → ts.ranged_long (no freq, k = 1): one range exchange on
                    time, dedup + sort in place

        Each shuffles its rows once, on a key that already orders the
        answer, regardless of k (the seed aggregate's exchange carries
        one partial row per feature per scan task), into one partition
        when the scans are small (see "Store read plan" in timeseries),
        and building the plan launches no Spark job. Measured on the
        retrieve benchmark (4 shallow features, 1 deep; seed 1, local[4])
        in Spark jobs, generic path → n = shuffle partitions → n = 1:
        ranged 4 → 3 → 2, time travel 4 → 3 → 2, resampled 9 → 4 → 3,
        wide 8 → 4 → 3, align 13 → 5 → 2.

        Returns None when preconditions don't hold (open-ended range,
        transforms, mixed/unknown value types) — caller falls back to the
        generic per-feature path, whose join fold reuses each feature's
        dedup exchange on time (a range exchange per feature would not
        co-partition with it).
        """
        if from_date is None or to_date is None:
            # per-feature default grids (each its own min/max) — generic path
            return None
        if any(m is None or m["transform"] for m in metas.values()):
            return None
        vts = {(_value_type(m) or T.DataType()).json() for m in metas.values()}
        if len(vts) != 1 or _value_type(next(iter(metas.values()))) is None:
            return None

        if pd.Timestamp(to_date) < pd.Timestamp(from_date):
            to_date = from_date  # clamp (dask.py:154-155)

        names = [join_name(*p) for p in pairs]

        def tagged(lo, hi) -> DataFrame:
            branches = []
            for (nsp, nm), full in zip(pairs, names):
                meta = metas[nsp, nm]
                storage = self._storage(nsp)
                vt = _value_type(meta)
                sdf = storage.scan(
                    nm,
                    from_date=lo,
                    to_date=hi,
                    scheme=meta["partition"],
                    base=storage.open(nm, value_type=vt),
                    value_type=vt,
                )
                branches.append(
                    sdf.select(
                        F.lit(full).alias(ts.SERIES_COL),
                        F.col(ts.TIME_COL),
                        F.col(ts.CREATED_COL),
                        F.col(ts.VALUE_COL),
                    )
                )
            unioned = branches[0]
            for b in branches[1:]:
                unioned = unioned.unionByName(b)
            return unioned

        ranged = tagged(from_date, to_date)
        ranges = ts.plan_ranges(ranged)
        if time_travel:
            ranged = ts.time_travel(ranged, time_travel)
        if freq is None and len(pairs) == 1:
            return ts.ranged_long(ranged, names[0], ranges)
        if freq is None:
            return ts.align_long(ranged, names, from_date, to_date, ranges)
        seeds = _seed_rows(tagged(None, from_date), time_travel, keys=[ts.SERIES_COL])
        return ts.resample_long(
            ranged.unionByName(seeds), names, from_date, to_date, freq, ranges
        )

    @staticmethod
    def _range_hint(from_date, to_date, bounds: dict[tuple, tuple]):
        """Overall (lo, hi) time span of a load, from explicit args and/or
        the prepass bounds — lets align()'s LOCF derive bucket bounds
        arithmetically instead of running an eager approxQuantile job that
        executes the whole join plan during construction. None when the
        span is unknown (e.g. all-transform loads with omitted range)."""
        if from_date is not None and to_date is not None:
            return (from_date, to_date)
        mns = [b[0] for b in bounds.values() if b[0] is not None]
        mxs = [b[1] for b in bounds.values() if b[1] is not None]
        lo = from_date if from_date is not None else (min(mns) if mns else None)
        hi = to_date if to_date is not None else (max(mxs) if mxs else None)
        if lo is None or hi is None:
            return None
        if pd.Timestamp(hi) < pd.Timestamp(lo):
            hi = lo  # clamp, mirroring the per-feature to<from clamp
        return (lo, hi)

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
        pdf = self._load(
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
        if self.catalog.get_feature(nsp, nm) is None:
            raise MissingFeatureException(f"No such feature {name!r}")
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
        A Spark-native capability with no reference equivalent: ad-hoc
        SQL over bitemporally-resolved series, still one lazy plan.
        """
        import re as _re

        for nsp, nm in unpack_feature_list(features):
            sdf = self._load_feature(
                nsp, nm, from_date, to_date, freq, time_travel, callers=[]
            )
            view = _re.sub(r"[^A-Za-z0-9_]", "_", join_name(nsp, nm))
            sdf.createOrReplaceTempView(view)
        return self.spark.sql(query)

    def last(self, features: Any) -> dict[str, Any]:
        """Latest value per feature (None when empty) — core.py:315-331.

        Stored features are grouped by recorded value type, and each group
        is ONE collect: the union of the members' newest-partition scans,
        tagged with the request index, under one `groupBy(i)` whose
        `max_by(value, (time, created_time))` is the latest version of the
        newest row. k features of one type cost one job set, not k.
        Transform features load per feature (last_only leaves, aligned,
        then the function)."""
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
                rows = ts.last_row(
                    self._load_feature(
                        nsp, nm, None, None, None, None, callers=[], last_only=True
                    )
                ).collect()
                vals[i] = rows[0][ts.VALUE_COL] if rows else None
                continue
            base = self._open_recorded(nsp, nm, meta)
            parts = self._storage(nsp).list_partitions(nm, reverse=True)
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
            unioned = scans[0]
            for b in scans[1:]:
                unioned = unioned.unionByName(b)
            for row in unioned.groupBy("__i").agg(latest.alias("v")).collect():
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
        # setdefault keeps one SparkStorage per namespace even under the
        # threaded multi-feature load (two would split the open() memo)
        st = self._storages.get(namespace)
        if st is None:
            nsrow = self.catalog.get_namespace(namespace)
            if nsrow is None:
                raise MissingFeatureException(f"Namespace {namespace!r} does not exist")
            from .backends import make_storage

            st = self._storages.setdefault(
                namespace,
                make_storage(
                    self.spark,
                    nsrow["url"],
                    nsrow.get("storage_options") or {},
                    (nsrow.get("meta") or {}).get("backend"),
                ),
            )
        return st

    def _bounds_prepass(self, pairs, metas, from_date, to_date) -> dict[tuple, tuple]:
        """Default-range time bounds of every stored feature of a load
        that omits ``from_date`` or ``to_date``, in one collect.

        Each feature contributes ONE scan of slim `(i, time)` rows; the
        scans union (narrow — no per-branch query stage) into a single
        `groupBy(i)` computing min/max, so the prepass is one shuffle and
        2-3 scheduler jobs under AQE regardless of k. With both bounds
        given it runs no job. Transform features are skipped (their leaves
        load recursively with their own ranges).
        """
        stored = [p for p in metas if metas[p] is not None and not metas[p]["transform"]]
        # open() builds a fresh parquet file index per feature (~0.5s of
        # driver+listing latency each); warm all memos concurrently so k
        # features pay ~max not ~sum. Spark handles concurrent job
        # submission; _storage() is idempotent under races (setdefault).
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
                continue  # _load_feature raises / dispatches later
            meta = metas[nsp, nm]
            base = self._open_recorded(nsp, nm, meta)
            if base is not None:
                sdf = self._storage(nsp).scan(nm, scheme=meta["partition"], base=base)
                branches.append(sdf.select(F.lit(i).alias("__i"), F.col(ts.TIME_COL)))
        if branches:
            allrows = branches[0]
            for b in branches[1:]:
                allrows = allrows.unionByName(b)
            aggs = [F.min(ts.TIME_COL).alias("mn"), F.max(ts.TIME_COL).alias("mx")]
            for row in allrows.groupBy("__i").agg(*aggs).collect():
                bounds[pairs[row["__i"]]] = (row["mn"], row["mx"])
        return bounds

    def _load_feature(
        self,
        namespace: str,
        name: str,
        from_date,
        to_date,
        freq: str | None,
        time_travel: str | None,
        callers: list[str],
        last_only: bool = False,
        bounds: tuple | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """Single feature -> DataFrame(time, value). Dispatches transforms.
        ``meta``: the load's catalog entry, when the caller has it."""
        meta = meta or self.catalog.get_feature(namespace, name)
        if meta is None:
            raise MissingFeatureException(f"Feature {namespace}/{name} does not exist")
        full = join_name(namespace, name)
        if full in callers:  # U3 cycle detection (_model.py:194-197)
            raise TransformError(f"Recursive transform: cycle at {full}")
        if meta["transform"]:
            return self._load_transform(
                meta, from_date, to_date, freq, time_travel,
                callers=[*callers, full], last_only=last_only,
            )

        storage = self._storage(namespace)
        scheme = meta["partition"]
        vt = _value_type(meta)
        # ONE partition-discovery pass per load: every scan below filters
        # this shared frame (a fresh spark.read per scan re-lists the whole
        # dataset — multi-second on a daily-partitioned multi-year feature)
        base = self._open_recorded(namespace, name, meta)

        if last_only:
            parts = storage.list_partitions(name, reverse=True)
            if not parts or base is None:
                # canonical empty frame
                return storage.scan(name, base=base, value_type=vt)
            df = base.where(F.col("partition") == parts[0]).drop("partition")
            return ts.dedup_latest(df)

        # default range = data min/max (dask.py:150-155)
        eff_from, eff_to = from_date, to_date
        if eff_from is None or eff_to is None:
            if bounds is not None:
                mn, mx = bounds
            else:
                mn, mx = ts.time_bounds(
                    storage.scan(name, scheme=scheme, base=base, value_type=vt)
                )
            if eff_from is None:
                eff_from = mn
            if eff_to is None:
                eff_to = mx
        if eff_from is None and eff_to is None:
            # open range over a feature with no data at all
            return storage.scan(name, scheme=scheme, base=base, value_type=vt)
        if eff_to is not None and eff_from is not None:
            if pd.Timestamp(eff_to) < pd.Timestamp(eff_from):
                eff_to = eff_from  # clamp (dask.py:154-155)

        df = storage.scan(
            name, from_date=eff_from, to_date=eff_to, scheme=scheme, base=base,
            value_type=vt,
        )
        if time_travel:
            df = ts.time_travel(df, time_travel)
        if freq is None:
            return ts.dedup_latest(df).drop(ts.CREATED_COL)
        ranges = ts.plan_ranges(df)
        # seed (J3, dask.py:142-148): the last point at/before an EXPLICIT
        # from_date, so LOCF has a value at the range boundary. An omitted
        # from_date defaults to the data minimum, which no row precedes;
        # without freq the reference slices the seed away (.loc[from:to]).
        if from_date is not None:
            upto = storage.scan(
                name, to_date=from_date, scheme=scheme, base=base, value_type=vt
            )
            df = df.unionByName(_seed_rows(upto, time_travel))
        return _grid(df, eff_from, eff_to, freq, ranges)

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
        if not self.enable_transforms:
            raise TransformError(
                "Transforms are disabled on this store (enable_transforms=False)"
            )
        payload = meta["transform"]
        fn = deserialize_fn(payload["function"])
        args: list[str] = payload["args"]

        inputs: list[DataFrame] = []
        for full in args:
            nsp, nm = split_name(full)
            sdf = self._load_feature(
                nsp, nm, from_date, to_date, freq, time_travel,
                callers=callers, last_only=last_only,
            )
            inputs.append(
                sdf.select(ts.TIME_COL, F.col(ts.VALUE_COL).alias(full))
            )
        wide = ts.align(
            inputs,
            ffill=len(inputs) > 1,
            range_hint=(from_date, to_date)
            if from_date is not None and to_date is not None
            else None,
        )

        # Infer output type by applying fn to a small driver-side sample
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
        feature-named columns → split into per-feature saves (unpivot).
        """
        if isinstance(df, pd.DataFrame):
            self._save_pandas(df, name, namespace)
        elif isinstance(df, DataFrame):
            self._save_spark(df, name, namespace)
        else:
            raise ValidationError(
                f"save_dataframe expects a pandas or Spark DataFrame, got {type(df)}"
            )

    def _save_pandas(self, pdf: pd.DataFrame, name, namespace) -> None:
        pdf = pdf.copy()
        if isinstance(pdf.index, pd.DatetimeIndex):
            if ts.TIME_COL in pdf.columns:
                raise ValidationError(
                    "Ambiguous time: both DatetimeIndex and 'time' column present"
                )
            pdf = pdf.reset_index().rename(columns={pdf.index.name or "index": ts.TIME_COL})
        if ts.TIME_COL not in pdf.columns:
            raise ValidationError("save requires a 'time' column or DatetimeIndex")

        payload_cols = [c for c in pdf.columns if c not in ENVELOPE_COLS and c != ts.TIME_COL]
        if not payload_cols:
            raise ValidationError("No value column to save")
        if len(payload_cols) > 1 or (payload_cols[0] != ts.VALUE_COL and "/" in payload_cols[0]):
            # wide form: each column is a feature
            for col in payload_cols:
                sub_cols = [ts.TIME_COL] + ([ts.CREATED_COL] if ts.CREATED_COL in pdf.columns else [])
                sub = pdf[sub_cols + [col]].rename(columns={col: ts.VALUE_COL})
                nsp, nm = split_name(col, namespace if "/" not in col else None)
                self._save_pandas(sub, nm, nsp)
            return

        col = payload_cols[0]
        if col != ts.VALUE_COL:
            nsp, nm = split_name(col, namespace)
            pdf = pdf.rename(columns={col: ts.VALUE_COL})
        else:
            if name is None:
                raise ValidationError(
                    "Column named 'value' requires an explicit feature name"
                )
            nsp, nm = split_name(name, namespace)
        meta = self.catalog.get_feature(nsp, nm)
        if meta is None:
            raise MissingFeatureException(f"Feature {nsp}/{nm} does not exist")

        if ts.CREATED_COL not in pdf.columns:
            pdf[ts.CREATED_COL] = pd.Timestamp.now()
        pdf[ts.TIME_COL] = pd.to_datetime(pdf[ts.TIME_COL])
        pdf[ts.CREATED_COL] = pd.to_datetime(pdf[ts.CREATED_COL])
        pdf = pdf[[ts.TIME_COL, ts.CREATED_COL, ts.VALUE_COL]]

        if meta["serialized"]:
            pdf[ts.VALUE_COL] = pdf[ts.VALUE_COL].map(json.dumps)

        # pyarrow inference mirrors the reference's schema derivation
        # (dask.py:66-69): dict payloads become structs, not strings.
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        sdf = self.spark.createDataFrame(table)
        sdf = sdf.withColumn(ts.TIME_COL, F.col(ts.TIME_COL).cast("timestamp"))
        sdf = sdf.withColumn(ts.CREATED_COL, F.col(ts.CREATED_COL).cast("timestamp"))
        self._write_feature(nsp, nm, meta, sdf)

    def _save_spark(self, sdf: DataFrame, name, namespace) -> None:
        payload_cols = [c for c in sdf.columns if c not in ENVELOPE_COLS and c != ts.TIME_COL]
        if ts.TIME_COL not in sdf.columns:
            raise ValidationError("save requires a 'time' column")
        if not payload_cols:
            raise ValidationError("No value column to save")
        if len(payload_cols) > 1 or (payload_cols[0] != ts.VALUE_COL and "/" in payload_cols[0]):
            for col in payload_cols:
                keep = [ts.TIME_COL] + ([ts.CREATED_COL] if ts.CREATED_COL in sdf.columns else [])
                sub = sdf.select(*keep, _qcol(col).alias(ts.VALUE_COL))
                nsp, nm = split_name(col, namespace if "/" not in col else None)
                self._save_spark(sub, nm, nsp)
            return

        col = payload_cols[0]
        if col != ts.VALUE_COL:
            nsp, nm = split_name(col, namespace)
            sdf = sdf.withColumnRenamed(col, ts.VALUE_COL)
        else:
            if name is None:
                raise ValidationError(
                    "Column named 'value' requires an explicit feature name"
                )
            nsp, nm = split_name(name, namespace)
        meta = self.catalog.get_feature(nsp, nm)
        if meta is None:
            raise MissingFeatureException(f"Feature {nsp}/{nm} does not exist")

        if ts.CREATED_COL not in sdf.columns:
            sdf = sdf.withColumn(ts.CREATED_COL, F.current_timestamp())
        sdf = sdf.withColumn(ts.TIME_COL, F.col(ts.TIME_COL).cast("timestamp"))
        sdf = sdf.withColumn(ts.CREATED_COL, F.col(ts.CREATED_COL).cast("timestamp"))

        if meta["serialized"]:
            vt = sdf.schema[ts.VALUE_COL].dataType
            if isinstance(vt, (T.StructType, T.ArrayType, T.MapType)):
                sdf = sdf.withColumn(ts.VALUE_COL, F.to_json(ts.VALUE_COL))
            else:
                enc = F.pandas_udf(
                    lambda s: s.map(lambda v: json.dumps(v) if v is not None else None),
                    T.StringType(),
                )
                sdf = sdf.withColumn(ts.VALUE_COL, enc(F.col(ts.VALUE_COL)))

        self._write_feature(
            nsp, nm, meta, sdf.select(*[ts.TIME_COL, ts.CREATED_COL, ts.VALUE_COL])
        )

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
