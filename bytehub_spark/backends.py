"""Pluggable table-format backends for the namespace data plane.

BASELINE.md's stated architecture is "DataFrame ops + Delta/Iceberg
tables"; this container ships no Delta/Iceberg jars (verified: pyspark
jars dir has neither), so plain Hive-partitioned Parquet
(`storage.SparkStorage`) is the default and only runnable backend here.
This module is the SEAM: a namespace opts into a table format via
``meta={"backend": "delta"}`` and every read/write/compact routes through
the format's ACID path when its jars are on the classpath — with a loud,
actionable error when they are not (never a silent parquet fallback,
which would corrupt expectations about atomicity).

Why a table format is the right 100 TB endgame for the append-heavy
bitemporal layout:
- appends become ACID commits — the compact()/reader race the parquet
  path narrows with rename-aside swaps (storage.py) disappears entirely
  (OPTIMIZE rewrites are snapshot-isolated);
- the transaction log replaces per-query file listing — open() on a
  multi-year daily-partitioned feature stops paying the multi-second
  directory walk that storage.py:open() memoizes around;
- time travel (`VERSION AS OF`) gives the created_time-less variant of
  the bitemporal query for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .exceptions import StorageError, ValidationError
from .storage import PARTITION_COL, SparkStorage, partitioned


def delta_available(spark: SparkSession) -> bool:
    """True when the Delta Lake runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.spark.sql.delta.DeltaLog")
        return True
    except Exception:
        return False


def make_storage(
    spark: SparkSession,
    url: str,
    storage_options: dict | None = None,
    backend: str | None = None,
) -> SparkStorage:
    """Storage for one namespace; ``backend`` comes from namespace meta."""
    backend = (backend or "parquet").lower()
    if backend == "parquet":
        return SparkStorage(spark, url, storage_options)
    if backend == "delta":
        if not delta_available(spark):
            raise StorageError(
                "Namespace requests backend='delta' but no Delta Lake jars "
                "are on the Spark classpath. Install delta-spark and start "
                "the session with spark.sql.extensions="
                "io.delta.sql.DeltaSparkSessionExtension and "
                "spark.sql.catalog.spark_catalog="
                "org.apache.spark.sql.delta.catalog.DeltaCatalog, or drop "
                "the backend override to use the parquet data plane."
            )
        return DeltaStorage(spark, url, storage_options)
    raise ValidationError(f"Unknown storage backend {backend!r}")


class DeltaStorage(SparkStorage):
    """Delta-backed data plane: same layout contract as SparkStorage
    (one dataset per feature, partitioned on the derived ``partition``
    column) with ACID appends and snapshot-isolated compaction.

    Only reachable when ``delta_available()`` — every method assumes the
    Delta runtime is present.
    """

    def exists(self, name: str) -> bool:
        try:
            fs, log = self._fs(self.feature_path(name) + "/_delta_log")
            return fs.exists(log)
        except Exception:
            return False

    def write(self, name, df, scheme="date", known_value_type=None):
        (
            partitioned(df, scheme)
            .repartition(F.col(PARTITION_COL))
            .write.format("delta")
            .mode("append")
            .option("mergeSchema", "false")  # same schema guard semantics
            .partitionBy(PARTITION_COL)
            .save(self.feature_path(name))
        )
        self.invalidate(name)

    def open(self, name, value_type=None) -> DataFrame | None:
        cached = self._open_cache.get(name)
        if cached is not None:
            return cached
        if not self.exists(name):
            return None
        df = self.spark.read.format("delta").load(self.feature_path(name))
        self._open_cache[name] = df
        return df

    def compact(self, name: str, max_files_per_partition: int = 1) -> dict:
        """OPTIMIZE: snapshot-isolated small-file compaction — no swap
        window at all (readers pin the pre-commit snapshot)."""
        from delta.tables import DeltaTable  # import-gated: jars verified

        before = self.partition_file_counts(name)
        DeltaTable.forPath(self.spark, self.feature_path(name)).optimize(
        ).executeCompaction()
        self.invalidate(name)
        after = self.partition_file_counts(name)
        frag = [p for p, n in before.items() if n > max_files_per_partition]
        return {
            "partitions": len(frag),
            "files_before": sum(before.get(p, 0) for p in frag),
            "files_after": sum(after.get(p, 0) for p in frag),
        }

    def recover_compaction(self, name: str) -> dict:
        return {"restored": 0, "cleaned": 0}  # ACID: no orphans possible
