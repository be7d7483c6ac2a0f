"""Checkpoint helper for iterative DataFrame algorithms.

Spark 3.4+ propagates the origin plan's ESTIMATED STATISTICS into the
LogicalRDD that ``localCheckpoint`` produces (``originStats``). That is
normally helpful — but in an iterative loop whose body self-joins the
checkpointed frame (connected components' pointer jumping),
SizeInBytesOnlyStatsPlanVisitor estimates a join as the
PRODUCT of its children's sizeInBytes, so the propagated BigInt roughly
SQUARES every iteration. The numbers stay mathematically finite but
their digit count doubles per round, and by ~iteration 15 Catalyst
spends its time doing Toom-Cook multiplication on million-digit
integers (observed on a 50k-vertex label table: 0.7 s/iter flat through
iter 13, then 3.5 s, 8.7 s, 21 s, 57 s, 153 s — pure driver-side
planning, constant data).

``eager_checkpoint`` truncates BOTH lineage and stats: it materializes
the local checkpoint, then rewraps the checkpointed ``RDD[InternalRow]``
in a fresh LogicalRDD with no origin stats, so every iteration replans
from session-default leaf estimates in O(1). Zero data movement — the
rewrap reuses the exact JVM RDD the checkpoint produced. Falls back to
the plain checkpoint if the internal constructor ever disappears.

Streaming monitor state no longer comes through here. Each epoch's
state is written as a parquet snapshot and read back as a file scan
(``streaming.snapshots``): the files cut the lineage, and a scan carries
its measured size, not a propagated estimate, so the squaring cannot
occur and a small state is planned as one task. Streaming keeps one
pin, made once: ``EmbeddingDriftMonitor``'s reference sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=True) + reset propagated plan statistics."""
    ck = df.localCheckpoint(eager=True)
    try:
        spark = df.sparkSession
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        fresh = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(fresh, spark)
    except Exception:  # internal API moved: keep correctness, lose speed
        return ck
