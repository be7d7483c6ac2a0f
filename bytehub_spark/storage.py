"""Data plane: one Hive-partitioned Parquet dataset per feature.

Layout (parity with /root/reference/bytehub/_storage/dask.py:35-36,62-83):

    {namespace.url}/feature/{name}/partition=<p>/part-*.snappy.parquet

Schema envelope is pinned:  time TIMESTAMP, created_time TIMESTAMP,
value <T>, partition STRING — appends never overwrite (bitemporal MVCC);
reads resolve the latest created_time per time (timeseries.dedup_latest).

Scale design:
- the `partition` column is a Hive partition dir → Catalyst static partition
  pruning; read() derives partition predicates from the time range so scans
  at 100 TB touch only the needed days/years.
- time-range predicates are pushed to the parquet row-group stats.
- appends write through `partitionBy("partition")` so ingest is append-only,
  one file per touched partition per append (`_write_partitioned`): a
  write that fits one task (its scan by `ts.narrow`'s rule, its bytes
  under AQE's one-partition size) runs as one task with no exchange,
  which sorts by partition and so writes one file per partition too (a
  20-row save: one Spark job, was a shuffle-map job and a write job);
  a larger one shuffles on `partition` and writes in parallel. compact()
  rewrites partitions that many appends fragmented, swapping them in by
  directory renames (a table format — Delta/Iceberg, `backends.py` — does
  it ACID when its jars are on the classpath).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import timeseries as ts
from .exceptions import StorageError, ValidationError

ENVELOPE = (ts.TIME_COL, ts.CREATED_COL, ts.VALUE_COL)
PARTITION_COL = "partition"


def partition_expr(scheme: str):
    """time -> partition value; 'date' → 'yyyy-MM-dd', 'year' → 'yyyy'.

    Strings in both cases so range predicates compare lexicographically
    (ISO dates sort correctly as strings). Parity: dask.py:52-60.
    """
    if scheme == "date":
        return F.date_format(F.col(ts.TIME_COL), "yyyy-MM-dd")
    if scheme == "year":
        return F.date_format(F.col(ts.TIME_COL), "yyyy")
    raise ValidationError(f"Unknown partition scheme {scheme!r}")


def partition_bound(value, scheme: str) -> str:
    v = ts.instant(value)
    return v.strftime("%Y-%m-%d") if scheme == "date" else v.strftime("%Y")


def partitioned(df: DataFrame, scheme: str) -> DataFrame:
    """The (time, created_time, value) rows of ``df`` with the derived
    ``partition`` column: what every backend appends."""
    for c in (ts.TIME_COL, ts.VALUE_COL):
        if c not in df.columns:
            raise ValidationError(f"save requires a {c!r} column")
    return df.select(*ENVELOPE).withColumn(PARTITION_COL, partition_expr(scheme))


def _schema(value_type: T.DataType) -> T.StructType:
    """The stored envelope (time, created_time, value) of a value type."""
    return T.StructType(
        [
            T.StructField(ts.TIME_COL, T.TimestampType()),
            T.StructField(ts.CREATED_COL, T.TimestampType()),
            T.StructField(ts.VALUE_COL, value_type),
        ]
    )


def _rename(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports most failures (missing source,
    existing destination, a store that refuses) by returning False, not
    by raising; a swap step that silently did nothing would leave the
    next step deleting the only copy. Raise instead."""
    if not fs.rename(src, dst):
        raise StorageError(f"Failed to rename {src} to {dst}")


# fsspec-style credential names (what the reference accepts in a
# namespace's storage_options: _storage/dask.py:15-16, _model.py:87) →
# s3a Hadoop conf suffixes. Unknown keys pass through verbatim when they
# look like Hadoop keys (contain a '.'), else as fs.<scheme>.<key>.
_FSSPEC_TO_S3A = {
    "key": "access.key",
    "username": "access.key",
    "secret": "secret.key",
    "password": "secret.key",
    "token": "session.token",
    "endpoint_url": "endpoint",
}


class SparkStorage:
    """Parquet read/write for one namespace's features."""

    def __init__(
        self, spark: SparkSession, url: str, storage_options: dict | None = None
    ):
        self.spark = spark
        parsed = urlparse(url)
        if parsed.scheme in ("", "file"):
            self.base = parsed.path or url
        else:
            # s3a://, gs://, abfs:// … — handed to Hadoop FS connectors as-is
            self.base = url
        self._is_local = parsed.scheme in ("", "file")
        # memoized open() frames; every mutation through this object
        # invalidates (external writers bypass this — same staleness
        # contract as any cached file index; call invalidate() to refresh)
        self._open_cache: dict = {}
        # (open() frame, its partitions holding a data file), kept while
        # that frame is the memo: _indexed_partitions
        self._partitions_cache: dict = {}
        # per-namespace credentials/conf reach the Hadoop connectors here
        # (reference threads storage_options into every fsspec call); s3a
        # options scope per-bucket (fs.s3a.bucket.<bucket>.*) so two
        # namespaces on different buckets never clobber each other.
        self.applied_conf: dict[str, str] = {}
        for k, v in (storage_options or {}).items():
            self.applied_conf[self._conf_key(k, parsed)] = str(v)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in self.applied_conf.items():
            hconf.set(k, v)

    @staticmethod
    def _conf_key(key: str, parsed) -> str:
        scheme = parsed.scheme or "file"
        if scheme in ("s3", "s3a", "s3n"):
            suffix = _FSSPEC_TO_S3A.get(key, key if "." in key else key)
            if key in _FSSPEC_TO_S3A or "." not in key:
                return f"fs.s3a.bucket.{parsed.netloc}.{suffix}"
            return key  # full Hadoop key given explicitly
        if "." in key:
            return key
        return f"fs.{scheme}.{key}"

    # ------------------------------------------------------------------

    def feature_path(self, name: str) -> str:
        return os.path.join(self.base, "feature", name)

    def _fs(self, path: str):
        """(Hadoop FileSystem, Path) of ``path``: the data plane's one
        handle on the Hadoop file system (renames, deletes, non-local
        listings)."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jpath

    def _entries(self, path: str) -> list[tuple[str, bool]] | None:
        """(name, is_dir) of each entry of directory ``path``; None when it
        is missing. Driver-side listing, no data scan.

        Local paths list through os, not the Hadoop FileSystem: over py4j,
        list_partitions of a 16-feature store (730 daily partitions each,
        local[4]) took 3.8-4.2 s against 16-22 ms through os.scandir
        (three runs), and partition_file_counts of two of those features
        4.2 s against 43 ms. Keep both branches. scandir's entries carry
        their type, so ``is_dir`` costs no stat per entry."""
        if self._is_local:
            if not os.path.isdir(path):
                return None
            with os.scandir(path) as it:
                return [(e.name, e.is_dir()) for e in it]
        fs, jpath = self._fs(path)
        if not fs.exists(jpath):
            return None
        return [(st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(jpath)]

    def _partition_dirs(self, path: str) -> list[str]:
        """The ``partition=<p>`` directory names under ``path``."""
        return [
            n for n, is_dir in self._entries(path) or ()
            if is_dir and n.startswith(f"{PARTITION_COL}=")
        ]

    def exists(self, name: str) -> bool:
        return (name, True) in (self._entries(os.path.join(self.base, "feature")) or ())

    def ls(self) -> list[str]:
        """Feature datasets present on storage (S3 listing for GC).

        Compaction work dirs (``<name>__compacting`` / ``<name>__retiring``)
        are transient siblings, not datasets — excluded.
        """
        return sorted(
            n for n, is_dir in self._entries(os.path.join(self.base, "feature")) or ()
            if is_dir and not n.endswith(("__compacting", "__retiring"))
        )

    def list_partitions(self, name: str, reverse: bool = False) -> list[str]:
        """Sorted `partition=` values for a feature (dask.py:38-50)."""
        return sorted(
            (d.split("=", 1)[1] for d in self._partition_dirs(self.feature_path(name))),
            reverse=reverse,
        )

    def partition_file_counts(self, name: str) -> dict[str, int]:
        """Data-file count per Hive partition."""
        root = self.feature_path(name)
        return {
            d.split("=", 1)[1]: sum(
                n.endswith(".parquet") for n, _ in self._entries(os.path.join(root, d)) or ()
            )
            for d in self._partition_dirs(root)
        }

    def seed_partitions(self, name: str, upto=None, scheme: str = "date") -> list[str]:
        """The partitions that can hold a feature's newest row at or before
        ``upto`` (its newest row at all when None): ``upto``'s own and the
        newest earlier one holding a data file (the newest holding one,
        when None), from ``_indexed_partitions``.

        Exact when every version is visible: a write creates a partition
        directory only for rows it writes, every row of an earlier
        partition is older than any row of a later one, and all versions
        of a time share its partition. A partition holding only zero-row
        files (no write here makes one) would hide the older ones. Time
        travel can hide every row of a partition, so it needs the whole
        history."""
        parts = self._indexed_partitions(name)
        if upto is None:
            return parts[-1:]
        own = partition_bound(upto, scheme)
        return [own, *[p for p in parts if p < own][-1:]]

    def bound_partitions(self, name: str) -> list[str]:
        """The oldest and the newest partition holding a data file, from
        ``_indexed_partitions``: they hold a feature's earliest and latest
        row, with every version visible (``seed_partitions``' argument),
        so its min and max time read no other partition."""
        parts = self._indexed_partitions(name)
        return parts[:1] + parts[-1:]

    def _indexed_partitions(self, name: str) -> list[str]:
        """Sorted partitions holding a data file in the file index of the
        memoized ``open()`` frame, the one every scan reads: a
        ``partition=`` directory without a data file (as a failed write may
        leave) is not one, and a frame memoized before a write that skipped
        ``invalidate()`` keeps what it holds. Once per memoized frame, from
        the index's file list in one string: no listing, no Spark job."""
        base = self.open(name)
        cached = self._partitions_cache.get(name)
        if cached is None or cached[0] is not base:
            files = []
            if base is not None:
                wrap = self.spark._jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray
                files = wrap(base._jdf.inputFiles()).mkString("\n").split("\n")
            dirs = {unquote(f.rsplit("/", 2)[-2]) for f in files if f.count("/") > 1}
            cached = base, sorted(
                d.split("=", 1)[1] for d in dirs if d.startswith(f"{PARTITION_COL}=")
            )
            self._partitions_cache[name] = cached
        return cached[1]

    # ------------------------------------------------------------------
    # S2 — append sink
    # ------------------------------------------------------------------

    def _write_partitioned(self, df: DataFrame, mode: str, path: str) -> None:
        """``df`` (with its ``partition`` column) as Hive-partitioned
        parquet at ``path``, one file per partition.

        A write that fits one task runs in one, ``coalesce(1)``: its scan
        fits one task (``ts.narrow``) and its bytes are at most what AQE
        would coalesce the exchange's output into one partition anyway
        (``spark.sql.adaptive.coalescePartitions.minPartitionSize``, 1 MB,
        under ``parallelismFirst``, the default; else the advisory size),
        so no write parallelism is lost. The one task sorts its rows by
        partition before writing, so it too writes one file per partition:
        a 20-row save is one Spark job of one task, not a shuffle-map job
        and a write job. A frame without a size estimate (an RDD-backed
        one) keeps the exchange.

        Any larger write shuffles on ``partition``: without that every
        task writes a sliver into every partition dir — a daily-partitioned
        multi-year series exploded into ~80k tiny files (measured: 40s
        save / 14s ranged load at 600k rows; 4s / <1s after).
        maxRecordsPerFile re-splits genuinely large partitions."""
        spark = df.sparkSession
        parallelism_first = ts._sqlconf(spark, "COALESCE_PARTITIONS_PARALLELISM_FIRST")
        budget = ts._sqlconf(
            spark,
            "COALESCE_PARTITIONS_MIN_PARTITION_SIZE" if parallelism_first
            else "ADVISORY_PARTITION_SIZE_IN_BYTES",
        )
        df = ts.narrow(df, budget)
        if not ts._coalesced(df):
            df = df.repartition(F.col(PARTITION_COL))
        (
            df.write.mode(mode)
            .option("maxRecordsPerFile", 5_000_000)
            .partitionBy(PARTITION_COL)
            .parquet(path)
        )

    def write(
        self,
        name: str,
        df: DataFrame,
        scheme: str = "date",
        known_value_type: T.DataType | None = None,
    ) -> None:
        """Append rows (time, created_time, value) as Hive-partitioned parquet.

        Schema-evolution guard (parity with parquet-append failure for
        non-serialized features, tests/test_featurestore.py:494-521): an
        append whose `value` type differs from the existing dataset raises.
        ``known_value_type`` is the catalog-recorded type of the existing
        dataset — when supplied the guard compares against it directly
        instead of opening the dataset (one less file-index build + schema
        inference per append).
        """
        out = partitioned(df, scheme)
        if known_value_type is not None:
            old_t = known_value_type
        else:
            existing = self.schema(name)
            old_t = None if existing is None else existing[ts.VALUE_COL].dataType
        if old_t is not None:
            new_t = df.schema[ts.VALUE_COL].dataType
            if old_t != new_t:
                raise StorageError(
                    f"Schema mismatch appending to feature {name!r}: "
                    f"existing value type {old_t.simpleString()}, "
                    f"incoming {new_t.simpleString()} (use serialized=True "
                    f"for evolving schemas)"
                )
        try:
            self._write_partitioned(out, "append", self.feature_path(name))
        except Exception as e:  # report the feature path (fixes ref bug dask.py:83)
            raise StorageError(
                f"Failed to write feature dataset at {self.feature_path(name)}: {e}"
            ) from e
        self.invalidate(name)  # the cached file index no longer sees all files

    def compact(self, name: str, max_files_per_partition: int = 1) -> dict:
        """Rewrite fragmented partitions into target-sized files.

        Every bitemporal append adds at least one file per touched
        partition, so a hot feature accumulates thousands of small files
        per partition dir over time — each one a scan task + a footer read
        at 100 TB. Compaction is pure reorganization: rows (and therefore
        every bitemporal read) are unchanged.

        Only partitions above ``max_files_per_partition`` are rewritten:
        compacted data is staged next to the dataset, then swapped in
        per-partition by renaming the live dir ASIDE (into a ``__retiring``
        sibling outside the dataset root, so readers never list both
        copies), renaming the staged dir in, and only then deleting the
        retired copy. The unreadable window is thus two directory renames,
        not a recursive delete, and no step loses rows: a crash anywhere
        leaves either the live or the retired copy intact, and the next
        compact() (or ``recover_compaction()``) restores/cleans orphans.
        True no-window atomicity needs a table format (Delta/Iceberg) —
        see the backend seam. Returns {partitions, files_before,
        files_after}.
        """
        self.recover_compaction(name)
        counts = self.partition_file_counts(name)
        frag = sorted(p for p, n in counts.items() if n > max_files_per_partition)
        if not frag:
            return {"partitions": 0, "files_before": 0, "files_after": 0}
        files_before = sum(counts[p] for p in frag)
        root = self.feature_path(name)
        staging, retiring = root + "__compacting", root + "__retiring"
        self._write_partitioned(
            self.open(name).where(F.col(PARTITION_COL).isin(frag)), "overwrite", staging
        )
        fs, retiring_dir = self._fs(retiring)
        fs.mkdirs(retiring_dir)
        for p in frag:
            live, staged, retired = (
                self._fs(os.path.join(d, f"{PARTITION_COL}={p}"))[1]
                for d in (root, staging, retiring)
            )
            if not fs.exists(staged):
                # all files in this partition held zero rows — nothing was
                # staged; leave the live dir untouched (pure-reorg invariant)
                continue
            _rename(fs, live, retired)
            _rename(fs, staged, live)
            fs.delete(retired, True)
        fs.delete(self._fs(staging)[1], True)
        fs.delete(retiring_dir, True)
        self.invalidate(name)
        after_counts = self.partition_file_counts(name)
        files_after = sum(after_counts.get(p, 0) for p in frag)
        return {
            "partitions": len(frag),
            "files_before": files_before,
            "files_after": files_after,
        }

    def recover_compaction(self, name: str) -> dict:
        """Restore/clean orphans from a compact() interrupted mid-swap.

        - a retired copy whose live dir is MISSING is renamed back (the
          crash hit between rename-aside and rename-in: the retired copy
          is the only copy);
        - a retired copy whose live dir exists is deleted (the swap
          completed; only the cleanup was lost);
        - a leftover staging dir is deleted (it is partial or already
          swapped; the next compact rewrites it from live data).

        Idempotent and cheap (directory listings only); compact() runs it
        first, so recovery needs no separate operational step.
        """
        root = self.feature_path(name)
        retiring = root + "__retiring"
        fs, retiring_dir = self._fs(retiring)
        restored = cleaned = 0
        for d in self._partition_dirs(retiring):
            retired, live = (self._fs(os.path.join(r, d))[1] for r in (retiring, root))
            if fs.exists(live):
                fs.delete(retired, True)
                cleaned += 1
            else:
                _rename(fs, retired, live)
                restored += 1
        fs.delete(retiring_dir, True)
        if fs.delete(self._fs(root + "__compacting")[1], True):
            cleaned += 1
        if restored:
            self.invalidate(name)
        return {"restored": restored, "cleaned": cleaned}

    def schema(self, name: str) -> T.StructType | None:
        try:
            df = self.open(name)
            return None if df is None else df.schema
        except Exception:
            return None

    # ------------------------------------------------------------------
    # S1 — scan with pushdown + partition pruning
    # ------------------------------------------------------------------

    def open(
        self, name: str, value_type: T.DataType | None = None
    ) -> DataFrame | None:
        """Raw partitioned frame, or None if the dataset doesn't exist.

        Each spark.read.parquet builds a fresh file index — on a
        daily-partitioned multi-year feature that's a multi-second
        partition-discovery pass (measured 4s on 2.5k dirs). Callers that
        scan twice (seed lookup + main range) should open ONCE and pass
        the frame to scan(base=...) so discovery is paid once. (At
        production scale a metastore/Delta table makes discovery
        incremental; plain-parquet portability keeps this the default.)

        ``value_type`` (catalog-recorded) switches the read to an explicit
        schema, skipping the footer-reading schema-inference job (~0.3-1s
        per feature) — the partition column is pinned STRING either way,
        matching what write() derives and keeping range predicates
        lexicographic.
        """
        cached = self._open_cache.get(name)
        if cached is not None:
            return cached
        if not self.exists(name):
            return None
        if value_type is not None:
            schema = _schema(value_type).add(PARTITION_COL, T.StringType())
            df = self.spark.read.schema(schema).parquet(self.feature_path(name))
        else:
            df = self.spark.read.parquet(self.feature_path(name))
        self._open_cache[name] = df
        return df

    def invalidate(self, name: str | None = None) -> None:
        if name is None:
            self._open_cache.clear()
        else:
            self._open_cache.pop(name, None)

    def scan(
        self,
        name: str,
        from_date=None,
        to_date=None,
        scheme: str = "date",
        value_type: T.DataType | None = None,
        base: DataFrame | None = None,
    ) -> DataFrame:
        """Raw ranged scan (inclusive bounds); returns the canonical envelope.

        Derives `partition` predicates from the time bounds so Catalyst
        prunes Hive partitions *and* pushes the time filters to row-group
        stats. Empty/missing datasets return a 0-row frame with the
        canonical schema (parity: dask.py:108-114), ``ts.empty``: sized
        at 0 bytes, so a never-saved feature does not make
        ``ts.plan_ranges`` plan the whole load wide.
        """
        df = base if base is not None else self.open(name)
        if df is None:
            return ts.empty(self.spark, _schema(value_type or T.DoubleType()))
        if from_date is not None:
            df = df.where(
                (F.col(ts.TIME_COL) >= F.lit(ts.instant(from_date)).cast("timestamp"))
                & (F.col(PARTITION_COL) >= partition_bound(from_date, scheme))
            )
        if to_date is not None:
            df = df.where(
                (F.col(ts.TIME_COL) <= F.lit(ts.instant(to_date)).cast("timestamp"))
                & (F.col(PARTITION_COL) <= partition_bound(to_date, scheme))
            )
        return df.drop(PARTITION_COL)

    # ------------------------------------------------------------------
    # S5/S6 — export / import / copy / delete
    # ------------------------------------------------------------------

    def export(self, name: str) -> DataFrame:
        """Raw dataset including the partition column (dask.py:279-287)."""
        if not self.exists(name):
            raise StorageError(f"No data for feature {name!r}")
        return self.spark.read.parquet(self.feature_path(name))

    def import_(self, name: str, df: DataFrame) -> None:
        cols = set(df.columns)
        if not {ts.TIME_COL, ts.VALUE_COL, PARTITION_COL} <= cols:
            raise ValidationError("import requires time/value/partition columns")
        self._write_partitioned(df, "append", self.feature_path(name))
        self.invalidate(name)

    def copy(self, from_name: str, to_name: str, dest: "SparkStorage") -> None:
        if self.exists(from_name):
            dest.import_(to_name, self.export(from_name))

    def delete(self, name: str) -> None:
        """Remove a feature's dataset: one recursive Hadoop delete, local or
        not (only listings take the os branch, for speed)."""
        self.invalidate(name)
        fs, path = self._fs(self.feature_path(name))
        fs.delete(path, True)
