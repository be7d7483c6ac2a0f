"""Monitor state snapshots: parquet files, one commit per epoch.

A monitor that keeps its state as Spark frames writes them under its
state root (``{checkpoint}/monitor_state`` for an attached monitor):

    <epoch>.tmp/<frame>/          being written: one parquet directory per
    <epoch>.tmp/_meta.json        state frame, then the metadata
    <epoch>/                      committed: the .tmp directory renamed once
    parts/<frame>/<epoch>/        an append-only frame's additions of one
                                  epoch, listed by every later snapshot

Readers take only complete snapshots (names without the ``.tmp``
suffix), so a crash between the write and the rename leaves the previous
epoch in force. Each frame is read back with the schema ``_meta.json``
records, so the read runs no schema-inference job, and through
``ts.narrow``: a file scan carries its measured size, so a small state
merges in one task.

Every call goes through the Hadoop ``FileSystem`` of the root, so the
root may be any path Spark's checkpoints can use.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import timeseries as ts
from ..storage import _rename

META = "_meta.json"
PARTS = "parts"


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def newest(spark: SparkSession, root: str) -> tuple[str, dict] | None:
    """(path, metadata) of the newest complete snapshot under ``root``
    (the highest epoch without the ``.tmp`` suffix); None when there is
    none."""
    fs, jroot = _fs(spark, root)
    if not fs.exists(jroot):
        return None
    names = [s.getPath().getName() for s in fs.listStatus(jroot) if s.isDirectory()]
    epochs = [int(n) for n in names if n.isdigit()]
    if not epochs:
        return None
    path = f"{root}/{max(epochs)}"
    fs, jmeta = _fs(spark, f"{path}/{META}")
    stream = fs.open(jmeta)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return path, json.loads(bytes(raw).decode("utf-8"))


def commit(
    spark: SparkSession, root: str, name: str, frames: dict[str, DataFrame], meta: dict
) -> str:
    """Write ``frames`` and ``meta`` under ``<name>.tmp``, then rename it
    to ``<name>`` once; returns the committed path. A snapshot of the same
    name (an epoch processed again by a direct caller) is replaced."""
    path = f"{root}/{name}"
    fs, jtmp = _fs(spark, f"{path}.tmp")
    fs.delete(jtmp, True)  # a torn commit of this epoch
    for frame, df in frames.items():
        df.write.parquet(f"{path}.tmp/{frame}")
    out = fs.create(_fs(spark, f"{path}.tmp/{META}")[1], True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    jpath = _fs(spark, path)[1]
    fs.delete(jpath, True)
    _rename(fs, jtmp, jpath)
    return path


def write_part(spark: SparkSession, root: str, frame: str, name: str, df: DataFrame) -> list:
    """Write one epoch's additions to an append-only frame (again, when the
    epoch is processed again); returns the part's entry for the snapshot
    metadata, [name, files, bytes]."""
    path = f"{root}/{PARTS}/{frame}/{name}"
    df.write.mode("overwrite").parquet(path)
    return [name, *size(spark, f"{path}/*.parquet")]


def part_paths(root: str, frame: str, parts: list) -> list[str]:
    """The directories of an append-only frame's listed ``parts``."""
    return [f"{root}/{PARTS}/{frame}/{p[0]}" for p in parts]


def read(spark: SparkSession, paths: list[str], schema: str) -> DataFrame:
    """The frame written at ``paths`` with its recorded ``schema`` (JSON),
    through ``ts.narrow``: one scan of every path, listed on the driver."""
    struct = T.StructType.fromJson(json.loads(schema))
    return ts.narrow(spark.read.schema(struct).parquet(*paths))


def size(spark: SparkSession, pattern: str) -> tuple[int, int]:
    """(files, bytes) matching the glob ``pattern``: one driver-side
    listing, no Spark job."""
    fs, jpattern = _fs(spark, pattern)
    statuses = fs.globStatus(jpattern) or ()
    return len(statuses), sum(s.getLen() for s in statuses)


def prune(spark: SparkSession, root: str, keep: set[str]) -> None:
    """Delete every snapshot under ``root`` but the paths in ``keep``, torn
    ``.tmp`` ones included."""
    fs, jroot = _fs(spark, root)
    for status in fs.listStatus(jroot):
        name = status.getPath().getName()
        if name != PARTS and f"{root}/{name}" not in keep:
            fs.delete(status.getPath(), True)


def prune_parts(spark: SparkSession, root: str, parts: dict[str, list]) -> None:
    """Delete every part that ``parts`` (a snapshot's listing) does not
    hold: what a torn commit wrote."""
    for frame, listed in parts.items():
        fs, jdir = _fs(spark, f"{root}/{PARTS}/{frame}")
        names = {p[0] for p in listed}
        for status in fs.listStatus(jdir) if fs.exists(jdir) else ():
            if status.getPath().getName() not in names:
                fs.delete(status.getPath(), True)
