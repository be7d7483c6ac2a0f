"""Timeseries kernel operators (Spark-first).

These are the dataflow building blocks of the reference engine
(SURVEY.md §2), re-expressed as Spark DataFrame plans:

- dedup_latest   (A1)  latest created_time per event time   [_storage/dask.py:156-165]
- time_travel    (P2)  created_time <= time + delta         [_storage/dask.py:119-122]
- locf           (J1 core) last-observation-carried-forward over time buckets
- time_grid      (J2)  regular timestamp grid via sequence()
- resample       (J2)  keyed grid + as-of LOCF              [_storage/dask.py:169-188]
- align          (J1)  k-series outer join on time + ffill  [_timeseries.py:11-26]
- first_row/last_row (A2/A3)                                [_storage/dask.py:196-221]

Scale notes
-----------
A global ``Window.orderBy("time")`` (no partitionBy) collapses to ONE task —
correct but a straggler at 100 TB. ``locf`` therefore fills rows that its
caller has bucketed by time range (``__pid``) in two passes:

  pass 1: forward-fill WITHIN each bucket via a per-bucket window —
          buckets run in parallel.
  pass 2: each bucket's last non-null per column (one row per bucket) is
          prefix-scanned by a window over that tiny frame and broadcast-
          joined back; leading nulls coalesce to the prior buckets' seed.
          One bucket skips it.

Both passes are declarative DataFrame plans — no driver collect of seeds,
no pandas round-trip (map/struct payloads stay JVM-side). ``align`` and
``resample_long`` fill through ``locf``; they serve the feature store's
loads (below) and, for ``align``, the ``ts_align_ffill`` operator, whose
hourly rows per event type enter as tagged long-format series.
``resample`` serves the ``ts_resample_locf`` operator (``events_ops``).
A naive request time is a UTC instant (``instant``), whatever the
driver process's time zone.

Keyed resample. ``resample`` grids one series per key (e.g. per user) in
one plan with one hash exchange, ``repartition(keys)`` (one partition when
there is no key), or none, ``coalesce(1)``, when its input fits one task
(``narrow``); every later step runs in place. The dedup window on
(keys, time) keeps each time's newest version; each row gets an integer
grid cell as in ``resample_long`` (0 at or before from_date, rows past the
last grid point in one cell no grid row reads); ``groupBy(keys, cell)``
keeps each cell's newest non-null value; ``groupBy(keys)`` gathers a key's
cells into a map and ``explode(sequence(0, G))`` makes its grid rows, so a
key with no row in range still gets the whole grid; a per-key window
ordered by cell fills them. No key list, cross join or union with the
grid, and no range-sampling job.

Store read plan. Every feature-store load (``core.FeatureStore._read_plan``)
takes k tagged long-format series (``__series``, time, created_time and
one value column per distinct value type of the load: just ``value``
when they share one) and shuffles their rows at most ONCE, on a key that
already orders the answer, into n partitions. Each series aggregates from its
own value column with one ``max_by``/``first`` over
``when(__series = name, ...)``, so a load may mix value types:

- Width. ``plan_ranges`` measures the load's ranged and LOCF seed scans
  once, runs no Spark job and adds no setting: the partition-pruned file
  bytes and file count of each physical file scan
  (``FileSourceScanExec.selectedPartitions``, read from the memoized file
  index; planning them costs about 20-28 ms on the driver), against
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (the size AQE
  coalesces into about one partition):
  - one task (``ONE_TASK``) when the bytes plus files x
    ``spark.sql.files.openCostInBytes`` fit. The exchange is then
    ``coalesce(1)``, and so is the input of the seed aggregate below it:
    one partition satisfies every later window, aggregate and sort, so
    the load is one Spark job of one task.
  - else n = 1 when the bytes fit. At n = 1 the exchange is a single
    partition: no range-sampling job, and every later window, aggregate
    and sort (and, for the grid, the fill) runs in place.
  - else n = ``spark.sql.shuffle.partitions``.
  Spark's plan-time estimate (``optimizedPlan().stats().sizeInBytes``)
  is not used: for these path-based reads it is NOT partition-pruned but
  the whole dataset's file bytes (the retrieve benchmark's deep feature:
  466,172 B for a 4-day window and for the full scan alike, where the
  pruned scans are 5 files / 126,152 B and 21 files / 524,444 B). The
  seed scan reads two listed partitions per series
  (``SparkStorage.seed_partitions``; all of them under time travel), so
  it adds at most two files per series.
- ``ranged_long`` (one series, no freq): ``repartitionByRange(n, time)``
  (``coalesce(1)`` in one task, as every exchange below); the dedup
  window and ``orderBy(time)`` reuse it.
- ``resample_long`` (freq set; the series of one window): each row gets
  an integer grid cell (0 at or before from_date, else
  ``ceil((time - from) / step)`` in µs; rows past the last grid point are
  dropped). The rows, the LOCF seeds and one null row per cell meet in
  ``repartition(n, __cell)``; the dedup window and ``groupBy(__cell)``
  (each cell's newest non-null value per series) run in place. The
  grouped frame has one row per grid point, so it is answer-sized: it is
  range-partitioned on ``__pid = __cell // DEFAULT_ROWS_PER_RANGE`` and
  filled by the two-pass buckets above. ``DEFAULT_ROWS_PER_RANGE`` bounds
  the rows one fill task holds; a grid of at most that many points is one
  bucket, where Spark runs no range-sampling job and pass 2 is skipped,
  and at n = 1 it needs no second exchange either: the one partition
  already holds the answer. The final ``orderBy(__pid, __cell)`` is
  satisfied by that partitioning and costs only a local sort.
- ``align`` (k >= 2 without freq, or series on different grids):
  rows get n arithmetic time buckets ``__pid`` over the load's span, go
  through one ``repartitionByRange(n, __pid)``, and the dedup window, the
  ``groupBy(__pid, time)`` aggregate, the two-pass fill (pass 1 only at
  n = 1) and ``orderBy(__pid, time)`` all run in place. The span only
  balances the buckets; rows outside it land in the first or last one.

Wider than 1, each exchange keeps ``spark.sql.shuffle.partitions`` that
AQE may coalesce.

Writes take the same one-task rule (``storage._write_partitioned``, with
``narrow``'s ``budget``): a write runs as one task, ``coalesce(1)``, when
its scan fits one and its bytes are at most what AQE would coalesce the
write's exchange into one partition anyway
(``spark.sql.adaptive.coalescePartitions.minPartitionSize``, 1 MB, under
the default ``parallelismFirst``; else the advisory size). The one task
sorts by partition before it writes, so the file count is the
exchange's: one file per partition. Measured on the ingest benchmark
(seed 1, local[4], jobs/stages/tasks per op): save and backfill 2/3/5 →
1/1/1, compact 2/3/4 → 1/1/1. Monitor micro-batches take ``narrow`` too
(``streaming.Monitor``).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .utils import freq_to_interval, parse_freq, parse_timedelta_interval

TIME_COL = "time"
CREATED_COL = "created_time"
VALUE_COL = "value"
SERIES_COL = "__series"  # series tag of the long-format store loads

# Rows per bucket of the answer-sized fill in ``resample_long``: the knob
# that sizes its tasks (set so one bucket's rows fit in executor RAM).
DEFAULT_ROWS_PER_RANGE = 2_000_000


def _qcol(name: str) -> Column:
    """Column ref safe for names containing '.' (valid in feature names)."""
    return F.col(f"`{name}`")


def instant(t) -> pd.Timestamp:
    """Request time ``t`` as a UTC instant: a naive time is read in UTC,
    the session zone ``get_spark`` sets, never in the driver's zone
    (``F.lit`` of a naive datetime would read it in the latter)."""
    t = pd.Timestamp(t)
    return t.tz_localize("UTC") if t.tzinfo is None else t.tz_convert("UTC")


def _micros(t) -> int:
    """µs since the epoch of ``instant(t)``."""
    return instant(t).value // 1000


def _shuffle_partitions(spark: SparkSession) -> int:
    return max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))


# ``plan_ranges``' width of a load whose scans fit one task: no exchange,
# ``coalesce(1)`` (see "Store read plan")
ONE_TASK = 0


def _sqlconf(spark: SparkSession, entry: str) -> int:
    sqlconf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    return spark._jsparkSession.sessionState().conf().getConf(getattr(sqlconf, entry)())


def _input_size(df: DataFrame) -> tuple[int, int] | None:
    """(bytes, files) read by ``df``: the partition-pruned file bytes and
    file count of each file scan, plus the size estimate of every other
    leaf (a cached frame, a local or empty relation); None when a leaf has
    no estimate. Reads each file scan's ``selectedPartitions`` from the
    physical plan (the memoized file index, pruned by the partition
    filters): no Spark job, about 20-28 ms on the driver."""
    nbytes = files = 0
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            listing = leaf.selectedPartitions()
            nbytes += listing.totalFileSize()
            files += listing.totalNumberOfFiles()
        else:
            link = leaf.logicalLink()
            if not link.isDefined():
                return None
            nbytes += int(link.get().stats().sizeInBytes())
    return nbytes, files


def plan_ranges(
    scans: DataFrame, seeds: DataFrame | None = None, budget: int | None = None
) -> int:
    """Width of a store read plan over its ranged ``scans`` and LOCF
    ``seeds`` scans, from one measurement of what they read
    (``_input_size``) against ``spark.sql.adaptive.advisoryPartitionSizeInBytes``:
    ``ONE_TASK`` when the bytes plus files x
    ``spark.sql.files.openCostInBytes`` fit it (and the bytes fit
    ``budget``, when given), else 1 when the bytes fit it, else
    ``spark.sql.shuffle.partitions``. See "Store read plan"."""
    spark = scans.sparkSession
    size = _input_size(scans if seeds is None else scans.unionByName(seeds))
    if size is not None:
        nbytes, files = size
        advisory = _sqlconf(spark, "ADVISORY_PARTITION_SIZE_IN_BYTES")
        if nbytes + files * _sqlconf(spark, "FILES_OPEN_COST_IN_BYTES") <= advisory and (
            budget is None or nbytes <= budget
        ):
            return ONE_TASK
        if nbytes <= advisory:
            return 1
    return _shuffle_partitions(spark)


def _coalesced(df: DataFrame) -> bool:
    """True when ``df`` is one partition already: a ``coalesce(1)`` under
    steps of one input that do not repartition."""
    node = df._jdf.queryExecution().logical()
    while node.children().size() == 1:
        name = node.nodeName()
        if name in ("Repartition", "RepartitionByExpression", "RebalancePartitions"):
            return name == "Repartition" and node.numPartitions() == 1 and not node.shuffle()
        node = node.children().head()
    return False


def narrow(df: DataFrame, budget: int | None = None) -> DataFrame:
    """``df`` in one task with no exchange, ``coalesce(1)``, when what it
    reads fits one (``plan_ranges`` gives ``ONE_TASK``; with ``budget``,
    its bytes must also fit that many); else ``df`` unchanged, also when
    it is one partition already (``_coalesced``: not measured again). A
    single partition satisfies every later window, aggregate and sort."""
    if _coalesced(df) or plan_ranges(df, budget=budget) != ONE_TASK:
        return df
    return df.coalesce(1)


def empty(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """A 0-row frame of ``schema`` (a DDL string or a ``StructType``) that
    the optimizer knows is empty: a projection of ``range(0)`` under a
    false filter, which it plans as an empty local relation, sized at 0
    bytes, that unions and outer joins drop. A frame built from Python rows
    (``createDataFrame``) is sized at ``spark.sql.defaultSizeInBytes``, so
    ``plan_ranges`` plans whatever reads it wide."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
    ).where(F.lit(False))


def _exchange(df: DataFrame, ranges: int, col: str, by_range=False) -> DataFrame:
    """``df`` in the width ``plan_ranges`` gave: one task, no exchange, at
    ``ONE_TASK`` (``coalesce(1)``: a single partition satisfies every later
    window, aggregate and sort); shuffled on ``col`` into one partition at
    1 (no range-sampling job, and every later step runs in place); else
    into ``spark.sql.shuffle.partitions``, left unnumbered because AQE
    coalesces no exchange given a partition count."""
    if ranges == ONE_TASK:
        return df.coalesce(1)
    width = (1, col) if ranges == 1 else (col,)
    return df.repartitionByRange(*width) if by_range else df.repartition(*width)


# ---------------------------------------------------------------------------
# A1 — bitemporal dedup: keep the most recently ingested row per event time
# ---------------------------------------------------------------------------

def dedup_latest(
    df: DataFrame,
    time_col: str = TIME_COL,
    created_col: str = CREATED_COL,
    partition_by: Sequence[str] = (),
    tiebreak: str | None = None,
) -> DataFrame:
    """Latest ``created_col`` wins per (partition_by..., time_col).

    Globally correct (shuffle-based window), unlike the reference's
    per-partition dask shortcut which relies on index divisions
    (_storage/dask.py:156-165). Ties on created_time break on ``tiebreak``
    (descending) when provided, else arbitrarily.
    """
    order = [F.col(created_col).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*partition_by, time_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# P2 — time travel: what did we know as of event-time + delta
# ---------------------------------------------------------------------------

def time_travel(
    df: DataFrame,
    delta: str,
    time_col: str = TIME_COL,
    created_col: str = CREATED_COL,
) -> DataFrame:
    """Keep rows with ``created_time <= time + delta`` (delta e.g. '-15min').

    A row-vs-row theta predicate — no join needed (_storage/dask.py:119-122).
    """
    interval = parse_timedelta_interval(delta)
    return df.where(
        F.col(created_col) <= F.col(time_col) + F.expr(interval)
    )


# ---------------------------------------------------------------------------
# LOCF — last observation carried forward
# ---------------------------------------------------------------------------

def locf(
    parted: DataFrame, cols: Sequence[str], sort_cols: Sequence[str], carry=True
) -> DataFrame:
    """Forward-fill ``cols`` of rows bucketed by ``__pid`` (buckets ordered
    like ``sort_cols``) by the two-pass fill (see module docstring), which
    avoids the single-task global window; keeps ``__pid``. Without
    ``carry`` only pass 1 runs: right when there is one bucket."""
    # pass 1 (declarative, no driver collect): fill WITHIN each bucket via a
    # per-bucket window — buckets run in parallel, each a bounded task.
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = parted
    for c in cols:
        filled = filled.withColumn(c, F.last(_qcol(c), ignorenulls=True).over(w_in))
    if not carry:
        return filled

    # pass 2: seed each bucket with the last non-null value of PRIOR buckets.
    # Per-bucket last non-nulls (max_by ignores rows whose ordering key is
    # NULL, i.e. null values) prefix-scanned by a window over the tiny
    # one-row-per-bucket frame, then broadcast-joined back. Everything stays
    # JVM-side — no pandas round-trip, so map/struct payloads are preserved
    # and the plan is one shuffle + one broadcast.
    order_expr = F.struct(*[F.col(c) for c in sort_cols])
    seeds = parted.groupBy("__pid").agg(
        *[
            F.max_by(_qcol(c), F.when(_qcol(c).isNotNull(), order_expr)).alias(c)
            for c in cols
        ]
    )
    w_prev = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )  # single-task window, but over <= num_parts rows
    seed_cols = [f"__seed_{i}" for i in range(len(cols))]
    prefix = seeds.select(
        "__pid",
        *[
            F.last(_qcol(c), ignorenulls=True).over(w_prev).alias(s)
            for c, s in zip(cols, seed_cols)
        ],
    )
    out = filled.join(F.broadcast(prefix), "__pid", "left")
    for c, s in zip(cols, seed_cols):
        out = out.withColumn(c, F.coalesce(_qcol(c), F.col(s)))
    return out.drop(*seed_cols)


# ---------------------------------------------------------------------------
# J2 — resample to a regular grid with as-of (LOCF) semantics
# ---------------------------------------------------------------------------

def time_grid(spark: SparkSession, start, end, freq: str) -> DataFrame:
    """Regular grid [start..end] stepping by freq, as a 1-col DataFrame.

    ``sequence()`` is evaluated JVM-side; the explode distributes rows.
    """
    interval = freq_to_interval(freq)
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(instant(start)).cast("timestamp"),
                    F.lit(instant(end)).cast("timestamp"),
                    F.expr(interval),
                )
            ).alias(TIME_COL)
        )
    )


def resample(
    df: DataFrame,
    from_date,
    to_date,
    freq: str,
    value_cols: Sequence[str] | None = None,
    time_col: str = TIME_COL,
    partition_by: Sequence[str] = (),
    created_col: str | None = None,
) -> DataFrame:
    """pandas ``resample(freq).ffill()`` per key of ``partition_by`` (one
    series when it is empty): (keys..., ``time_col``, value_cols...).

    Grid point g = from_date + i * step (i = 0..G, the last point at or
    before to_date) takes the key's latest non-null value with time <= g
    (inclusive: a row exactly at g wins), in the newest version per time:
    highest ``created_col`` when given, else ``df`` holds one row per
    (keys, time). A time whose newest version is null carries the previous
    time's value. Every key of ``df`` gets the whole grid, nulls before
    its first value, even when none of its rows is in range. One hash
    exchange on the keys, none when ``df`` fits one task; see "Keyed
    resample" in the module docstring.
    """
    keys = list(partition_by)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in df.columns if c not in (time_col, created_col, *keys)
    ]
    step = parse_freq(freq)[2] * 1_000_000
    t0 = _micros(from_date)
    last = max(0, (_micros(to_date) - t0) // step)  # cells 0..last
    # rows at or before from_date land in cell 0, rows past the last grid
    # point in cell last + 1, which no grid row reads; a null time gives a
    # null max_by key below, so its row adds nothing but its key
    cell = F.least(
        F.lit(last + 1),
        F.greatest(
            F.lit(0),
            F.expr(
                f"(unix_micros(CAST(`{time_col}` AS TIMESTAMP)) - {t0} + {step - 1})"
                f" div {step}"
            ),
        ),
    )
    rows = narrow(df)
    if not _coalesced(rows):
        rows = df.repartition(*keys) if keys else df.repartition(1)
    if created_col is not None:
        rows = dedup_latest(rows, time_col, created_col, partition_by=keys)
    newest = [
        F.max_by(c, F.when(F.col(c).isNotNull(), F.col(time_col))).alias(c)
        for c in value_cols
    ]
    grids = (
        rows.groupBy(*keys, cell.alias("__cell"))
        .agg(*newest)
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__cell", F.struct(*value_cols)))
            ).alias("__cells")
        )
        .select(
            *keys,
            "__cells",
            F.explode(F.expr(f"sequence(0L, {last}L)")).alias("__cell"),
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grids.select(
        *keys,
        F.timestamp_micros(F.lit(t0) + F.col("__cell") * step).alias(time_col),
        *[
            F.last(F.col("__cells")[F.col("__cell")][c], ignorenulls=True)
            .over(w)
            .alias(c)
            for c in value_cols
        ],
    )


def resample_long(
    df: DataFrame, cols: dict[str, str], from_date, to_date, freq: str, ranges: int
) -> DataFrame:
    """``resample`` of k tagged series at once, as one wide frame:
    ``time`` + one column per series of ``cols``, ordered by time.

    ``df`` holds long-format rows (``__series``, time, created_time and the
    value columns), all versions: the ranged rows plus, per series, any
    seed at or before ``from_date``. ``cols`` maps each series name to its
    value column. Grid point g takes each series' latest non-null value
    with time <= g, in its newest version per time (a time whose newest
    version is null carries the previous time's value, as ``resample``'s
    LOCF does). One exchange brings the rows to their grid cell, in
    ``ranges`` partitions (``plan_ranges``); see "Store read plan" in the
    module docstring.
    """
    spark = df.sparkSession
    step = parse_freq(freq)[2] * 1_000_000
    t0 = _micros(from_date)
    last = max(0, (_micros(to_date) - t0) // step)  # cells 0..last
    per = DEFAULT_ROWS_PER_RANGE
    n = last // per + 1
    cell = F.greatest(
        F.lit(0), F.expr(f"(unix_micros({TIME_COL}) - {t0} + {step - 1}) div {step}")
    )
    values = list(dict.fromkeys(cols.values()))
    rows = df.select(SERIES_COL, TIME_COL, CREATED_COL, *values, cell.alias("__cell"))
    schema = df.schema
    grid = spark.range(0, last + 1, 1, n).select(
        F.lit(None).cast("string").alias(SERIES_COL),
        F.lit(None).cast("timestamp").alias(TIME_COL),
        F.lit(None).cast("timestamp").alias(CREATED_COL),
        *[F.lit(None).cast(schema[c].dataType).alias(c) for c in values],
        F.col("id").alias("__cell"),
    )
    cells = _exchange(rows.where(F.col("__cell") <= last).unionByName(grid), ranges, "__cell")
    newest = [
        F.max_by(c, F.when(_of(name) & F.col(c).isNotNull(), F.col(TIME_COL))).alias(name)
        for name, c in cols.items()
    ]
    wide = (
        dedup_latest(cells, partition_by=["__cell", SERIES_COL])
        .groupBy("__cell")
        .agg(*newest)
        .withColumn("__pid", F.expr(f"__cell div {per}"))
    )
    if ranges > 1 or n > 1:  # else one partition already holds the answer
        wide = wide.repartitionByRange(n, "__pid")
    filled = locf(wide, list(cols), ["__cell"], carry=n > 1)
    return filled.orderBy("__pid", "__cell").select(
        F.timestamp_micros(F.lit(t0) + F.col("__cell") * step).alias(TIME_COL),
        *[_qcol(c) for c in cols],
    )


def _of(name: str) -> Column:
    """True on the long-format rows of series ``name``."""
    return F.col(SERIES_COL) == F.lit(name)


def ranged_long(df: DataFrame, name: str, ranges: int) -> DataFrame:
    """One series' ranged rows (time, created_time, value; all versions)
    as (time, ``name``): the newest version per time, nulls kept, ordered
    by time. One range exchange on time in ``ranges`` partitions
    (``plan_ranges``); the dedup window and the sort run in place."""
    latest = dedup_latest(_exchange(df, ranges, TIME_COL, by_range=True))
    return latest.orderBy(TIME_COL).select(TIME_COL, F.col(VALUE_COL).alias(name))


# ---------------------------------------------------------------------------
# J1 — multi-feature alignment: full outer join on time + forward fill
# ---------------------------------------------------------------------------

def align(
    df: DataFrame, cols: dict[str, str], from_date, to_date, ranges: int
) -> DataFrame:
    """Outer join of k tagged series on time plus forward fill
    (_timeseries.py:11-26): ``time`` (the union of the series' times) +
    one column per series of ``cols``, each carried forward, ordered by
    time.

    ``df`` holds long-format rows (``__series``, time, created_time and the
    value columns), all versions, each within its series' window; ``cols``
    maps each series name to its value column. One range exchange on
    ``ranges`` arithmetic time buckets over [from_date, to_date]
    (``plan_ranges``); see "Store read plan" in the module docstring.
    """
    t0 = _micros(from_date)
    buckets = max(1, ranges)
    step = max(1, (_micros(to_date) - t0) // buckets)
    # bucket i holds (t0 + i*step, t0 + (i+1)*step]; the ends take the rest
    pid = F.expr(
        f"least({buckets - 1}, greatest(0, (unix_micros({TIME_COL}) - {t0 + 1}) div {step}))"
    )
    firsts = [
        F.first(F.when(_of(name), F.col(c)), ignorenulls=True).alias(name)
        for name, c in cols.items()
    ]
    wide = (
        dedup_latest(
            _exchange(df.withColumn("__pid", pid), ranges, "__pid", by_range=True),
            partition_by=["__pid", SERIES_COL],
        )
        .groupBy("__pid", TIME_COL)
        .agg(*firsts)
    )
    filled = locf(wide, list(cols), [TIME_COL], carry=ranges > 1)
    return filled.orderBy("__pid", TIME_COL).select(TIME_COL, *[_qcol(c) for c in cols])


# ---------------------------------------------------------------------------
# A2/A4 — first/last row, min/max of the time axis
# ---------------------------------------------------------------------------

def first_row(df: DataFrame, time_col: str = TIME_COL):
    return df.orderBy(F.col(time_col).asc()).limit(1)


def last_row(df: DataFrame, time_col: str = TIME_COL):
    return df.orderBy(F.col(time_col).desc()).limit(1)


def time_bounds(df: DataFrame, time_col: str = TIME_COL):
    """(min, max) of the time axis as python values (None, None) if empty.
    No store load calls it (``core._bounds_prepass`` collects every
    feature's bounds at once); ``perfbench/run.py`` traces it by name."""
    row = df.agg(
        F.min(time_col).alias("mn"), F.max(time_col).alias("mx")
    ).collect()[0]
    return row["mn"], row["mx"]
