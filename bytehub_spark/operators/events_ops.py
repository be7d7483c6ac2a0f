"""Feature-store kernel operators applied to the `events` table.

Each function here is a SURVEY.md §2 operator expressed over the driver's
events table (ts → time, value → payload, user_id/event_type → series key),
returning a DataFrame whose columns are aliased for the DuckDB oracle.

Scale notes are inline; every op is shuffle-minimal: windows partition by
series key (parallel across keys), grids come from sequence() (no driver
loop), the LOCF resample is the engine's keyed resample (one hash
exchange on the key), and alignment is the store's aligned kernel
(``ts.align``, one range exchange on time buckets).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import timeseries as ts

# per-group row count above which quantile ops should stop buffering the
# full group in one sort-based percentile() aggregation buffer and fall
# back to the deterministic sample (the "auto" breakpoint mode)
QUANTILE_SAMPLE_THRESHOLD = 5_000_000


def lcg_sample_pred(id_col: str, sample_mod: int, seed: int = 0) -> str:
    """Engine-portable deterministic ~1/``sample_mod`` row sampler: two
    LCG rounds mod the Mersenne prime 2^31-1 on the BIGINT id (the
    epoch_shuffle idiom), keep rows where the hash ≡ 0 mod sample_mod.
    The id is reduced mod the prime FIRST so arbitrary-magnitude ids
    (15-digit doc ids) never overflow the `A*x` BIGINT product — every
    intermediate stays < 2^62. No rand(): content-keyed, so re-runs,
    engines, and incremental appends all select the same rows, which is
    what lets the DuckDB oracle replay a "sampled" quantile exactly.
    """
    from .hashing import MINHASH_PRIME, PLANE_A, PLANE_C

    m = MINHASH_PRIME
    s = f"((({id_col}) % {m} + {seed} * 1000003) % {m})"
    h1 = f"(({PLANE_A} * {s} + {PLANE_C}) % {m})"
    h2 = f"(({PLANE_A} * {h1} + {PLANE_C}) % {m})"
    return f"({h2}) % {sample_mod} = 0"


def dedup_latest_per_key(events: DataFrame) -> DataFrame:
    """A1 analogue: latest row per (user_id, event_type), event_id tiebreak.

    One shuffle on the key; row_number window is per-key → parallel.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


def with_created_time(events: DataFrame) -> DataFrame:
    """Synthesize a deterministic bitemporal ingest time:
    created_time = ts + (event_id % 7) minutes."""
    return events.withColumn(
        "created_time",
        F.col("ts") + F.make_dt_interval(mins=(F.col("event_id") % 7)),
    )


def time_travel_summary(events: DataFrame) -> DataFrame:
    """P2: keep rows known as of event-time + 3min; aggregate per type.

    The time-travel predicate is row-vs-row (created_time <= ts + Δ): no
    join, fully pushed into the scan stage.
    """
    tt = ts.time_travel(
        with_created_time(events), "3min", time_col="ts", created_col="created_time"
    )
    return tt.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    ).orderBy("event_type")


def resample_locf(events: DataFrame, freq: str = "1h") -> DataFrame:
    """J2: per-user regular grid with LOCF as-of semantics.

    The grid runs from the hour of the first ``ts`` to the last ``ts``
    (one small bounds collect); every user gets all of it. ``ts.resample``
    then makes one plan with one hash exchange on ``user_id``: the dedup
    (latest ``event_id`` per user and ``ts``), the per-cell newest value,
    each user's grid rows and the fill all run in place. No timed row:
    no grid, an empty frame.
    """
    # as µs since the epoch: a collected timestamp is a naive datetime in
    # the driver's time zone, a naive request time a UTC instant
    instant = F.col("ts").cast("timestamp")
    t0, t1 = events.agg(
        F.unix_micros(F.date_trunc("hour", F.min(instant))),
        F.unix_micros(F.max(instant)),
    ).collect()[0]
    rows = events.select("user_id", F.col("ts").alias("time"), "value", "event_id")
    if t0 is None:
        return rows.select("user_id", F.col("time").cast("timestamp"), "value").limit(0)
    return ts.resample(
        rows,
        pd.Timestamp(t0, unit="us"),
        pd.Timestamp(t1, unit="us"),
        freq,
        value_cols=["value"],
        partition_by=["user_id"],
        created_col="event_id",  # deterministic tiebreak: latest event wins
    )


def align_ffill_types(events: DataFrame, types=("click", "purchase")) -> DataFrame:
    """J1: two series (hourly latest value per type) aligned on the union
    hour axis, each carried forward: the store's aligned kernel
    ``ts.align`` over long-format rows, one per (type, hour) from one
    ``groupBy``, tagged ``<type>_value``. Its buckets' span is collected
    only when ``ts.plan_ranges`` gives more than one; it steers no answer.
    """
    hour = F.date_trunc("hour", F.col("ts"))
    rows = (
        events.where(F.col("event_type").isin(*types))
        .groupBy("event_type", hour.alias(ts.TIME_COL))
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias(ts.VALUE_COL))
        .select(
            F.concat("event_type", F.lit("_value")).alias(ts.SERIES_COL),
            ts.TIME_COL,
            F.lit(None).cast("timestamp").alias(ts.CREATED_COL),
            ts.VALUE_COL,
        )
    )
    ranges = ts.plan_ranges(rows)
    span = (0, 0)
    if ranges > 1:
        us = events.agg(F.unix_micros(F.min(hour)), F.unix_micros(F.max(hour))).collect()[0]
        span = tuple(pd.Timestamp(0 if t is None else t, unit="us") for t in us)
    cols = {f"{t}_value": ts.VALUE_COL for t in types}
    return ts.align(rows, cols, *span, ranges)


def seed_lookup(events: DataFrame, cutoff: str) -> DataFrame:
    """J3: last value at/before a range boundary, per user."""
    return (
        events.where(F.col("ts") <= F.lit(pd.Timestamp(cutoff)).cast("timestamp"))
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("seed_ts"),
            F.max_by("value", F.struct("ts", "event_id")).alias("seed_value"),
        )
        .orderBy("user_id")
    )


def last_per_key(events: DataFrame) -> DataFrame:
    """A3: latest value per user (max_by over full history)."""
    return (
        events.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.max_by("value", F.struct("ts", "event_id")).alias("last_value"),
        )
        .orderBy("user_id")
    )


def time_bounds_per_type(events: DataFrame) -> DataFrame:
    """A4: min/max of the time axis (+count) per series."""
    return (
        events.groupBy("event_type")
        .agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


def topk_per_key(events: DataFrame, k: int = 3) -> DataFrame:
    """O-ops: top-k rows by value per event_type (deterministic tiebreak)."""
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("event_type", "rank", "event_id", "value")
        .orderBy("event_type", "rank")
    )


def range_scan(events: DataFrame, lo: str, hi: str, min_value: float) -> DataFrame:
    """P1/S1: ranged scan with projection — predicates reach the parquet
    row-group stats (verify via .explain → PushedFilters)."""
    return events.where(
        (F.col("ts") >= F.lit(pd.Timestamp(lo)).cast("timestamp"))
        & (F.col("ts") < F.lit(pd.Timestamp(hi)).cast("timestamp"))
        & (F.col("value") > min_value)
    ).select("event_id", "ts", "user_id", "value")


def partition_derivation(events: DataFrame) -> DataFrame:
    """F1: derive Hive partition values (yyyy-MM-dd) from event time."""
    return (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("partition"))
        .agg(F.count("*").alias("n"))
        .orderBy("partition")
    )


def json_extract_props(events: DataFrame) -> DataFrame:
    """F4: JSON payload decode — sum of props.k per event_type."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("k").alias("n_with_k"))
        .orderBy("event_type")
    )


def purchases_with_last_click(events: DataFrame) -> DataFrame:
    """Generic as-of join demo: each purchase gets the user's latest
    prior-or-simultaneous click value (operators.asof.asof_join)."""
    from .asof import asof_join

    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("time"), "event_id", "value"
    )
    clicks = ts.dedup_latest(
        events.where(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("time"),
            F.col("value").alias("click_value"), "event_id",
        ),
        time_col="time",
        created_col="event_id",
        partition_by=["user_id"],
    ).select("user_id", "time", "click_value")
    joined = asof_join(purchases, clicks, time_col="time", by=["user_id"])
    return joined.select("user_id", "time", "event_id", "value", "click_value_right")


def first_touch_attribution(events: DataFrame, lookback: str = "1 day") -> DataFrame:
    """First-touch attribution: each purchase is credited to the user's
    EARLIEST click within the lookback window before it — the complement
    of the as-of join (purchases_with_last_click credits the LATEST).
    Only attributed purchases are returned (inner window join).

    Scale shape: both sides hash-partition on user_id, the range
    predicate rides the sort-merge join as a join filter, and the
    first-click pick is a row_number window partitioned by purchase id
    (ties by click id — deterministic). The attribution lag is an
    epoch-double difference, microsecond-exact cross-engine.
    """
    p = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
    )
    c = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
    )
    w = Window.partitionBy("p_id").orderBy(
        F.col("c_ts").asc(), F.col("c_id").asc()
    )
    lag_s = F.col("p_ts").cast("double") - F.col("c_ts").cast("double")
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("p_id").alias("purchase_id"),
            F.col("p_ts").alias("purchase_ts"),
            F.col("p_value").alias("purchase_value"),
            F.col("c_id").alias("first_click_id"),
            F.col("c_ts").alias("first_click_ts"),
            lag_s.alias("attribution_lag_s"),
        )
        .orderBy("purchase_id")
    )


def level_shifts(
    events: DataFrame, w: int = 5, threshold: float = 20.0
) -> DataFrame:
    """Level-shift (changepoint) detection: for each event in a user's
    ordered series, compare the mean of the ``w`` values BEFORE it with
    the mean of the ``w`` values starting AT it; flag positions where the
    level jumps by more than ``threshold``. The window-expressible
    changepoint detector (CUSUM's nonlinear recursion cannot run in a
    window; symmetric rolling means can, and catch the same step
    changes).

    Exactness: both rolling sums are exact integer sums of 1e-6-quantized
    values over deterministic (ts, event_id)-ordered row frames, means
    divide by the constant w — bit-exact cross-engine. Only positions
    with both frames full are scored (no partial-window noise).

    Scale shape: one shuffle on user_id; both frames ride the same sort
    (rows-frame windows, partitioned — no global collapse); output is
    flagged rows only.
    """
    q = F.round(F.col("value") * F.lit(1e6)).cast("decimal(20,0)")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_pre = (
        Window.partitionBy("user_id").orderBy(*order).rowsBetween(-w, -1)
    )
    w_post = (
        Window.partitionBy("user_id").orderBy(*order).rowsBetween(0, w - 1)
    )
    pre_mean = F.sum(q).over(w_pre).cast("double") / F.lit(float(w) * 1e6)
    post_mean = F.sum(q).over(w_post).cast("double") / F.lit(float(w) * 1e6)
    d = (
        events.withColumn("__nb", F.count("*").over(w_pre))
        .withColumn("__na", F.count("*").over(w_post))
        .withColumn("__pre", pre_mean)
        .withColumn("__post", post_mean)
    )
    shift = F.col("__post") - F.col("__pre")
    return (
        d.where(
            (F.col("__nb") == w)
            & (F.col("__na") == w)
            & (F.abs(shift) > threshold)
        )
        .select(
            "user_id",
            "event_id",
            "ts",
            F.col("__pre").alias("pre_mean"),
            F.col("__post").alias("post_mean"),
            shift.alias("shift"),
        )
        .orderBy("user_id", "event_id")
    )


def user_activity_profile(events: DataFrame) -> DataFrame:
    """Per-user lifetime profile: first/last seen, active-day count,
    event count, exact total value — the user dimension a warehouse
    derives from the event stream (and the input to churn/LTV models).

    One map-side-combined shuffle on user_id; distinct active days go
    through Spark's two-level partial distinct aggregate. Total value is
    the 1e-6-quantized exact decimal sum.
    """
    q = F.round(F.col("value") * F.lit(1e6)).cast("decimal(20,0)")
    return (
        events.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.count_distinct(F.to_date("ts")).alias("n_active_days"),
            F.count("*").alias("n_events"),
            (F.sum(q).cast("double") / F.lit(1e6)).alias("total_value"),
        )
        .orderBy("user_id")
    )


def rollup_counts(events: DataFrame) -> DataFrame:
    """Hypertable-style rollup: counts and sums at (event_type, day),
    (event_type), and grand-total grain in ONE pass (partial aggregation
    handles all grouping sets map-side; no per-grain rescan)."""
    return (
        events.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            "value",
        )
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("day").asc_nulls_first()
        )
    )


def moving_avg_per_user(events: DataFrame, window_rows: int = 3) -> DataFrame:
    """Trailing moving average per user over the last N events (analytic
    window; parallel across user keys)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(window_rows - 1), 0)
    )
    # explicit sum/count (not avg): both engines then compute the same
    # double division of an exact decimal sum — bit-identical results
    msum = F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double")
    mcnt = F.count("*").over(w).cast("double")
    return (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "value",
            (msum / mcnt).alias("mavg"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


def funnel_conversion(events: DataFrame, within: str = "1 hour") -> DataFrame:
    """Daily click→purchase funnel: per click, did the same user purchase
    within the attribution window; aggregated to (day, n_clicks,
    n_converted, cvr).

    The existence check is a LEFT SEMI interval join keyed on user_id —
    no fan-out on multi-purchase users, state bounded by the window at
    streaming scale. Counts are integers and cvr one double division —
    exact cross-engine.
    """
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    converted = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") > F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr(f"INTERVAL {within}")),
        "left_semi",
    ).select("event_id")
    flagged = clicks.join(
        converted.withColumn("converted", F.lit(1)), "event_id", "left"
    )
    return (
        flagged.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.sum(F.coalesce(F.col("converted"), F.lit(0))).alias("n_converted"),
        )
        .withColumn(
            "cvr", F.col("n_converted").cast("double") / F.col("n_clicks")
        )
        .orderBy("day")
    )


def retention_cohorts(events: DataFrame, max_weeks: int = 8) -> DataFrame:
    """Weekly cohort retention matrix: users are bucketed by the ISO week
    of their first event (the cohort), and each cell counts how many of a
    cohort's users were active ``week_offset`` weeks later — the standard
    product-analytics retention triangle.

    Scale shape: (1) per-user min-week agg (map-side combine on user_id),
    (2) events joined to the cohort table on user_id — both sides hash-
    partition on user_id so the join is co-partitioned with (1)'s output,
    (3) distinct-user count per (cohort_week, week_offset) — Spark plans
    count_distinct as a two-level partial aggregate, no single-task
    collapse. Nothing here is corpus-order-sensitive: every output is an
    integer count. The cohort table is per-user (large), NOT broadcast —
    at 100 TB the user dimension is billions of rows.
    """
    wk = F.date_trunc("week", F.col("ts"))
    cohorts = events.groupBy("user_id").agg(
        F.min(wk).alias("__cohort")
    )
    return (
        events.select("user_id", wk.alias("__week"))
        .join(cohorts, "user_id")
        .select(
            "user_id",
            "__cohort",
            (
                F.datediff(F.col("__week"), F.col("__cohort")) / 7
            ).cast("int").alias("week_offset"),
        )
        .where(F.col("week_offset") <= max_weeks)
        # Monday-midnight TIMESTAMP, not DATE: date maps to pandas
        # object dtype (vs duckdb's datetime64) and breaks hash gating
        .groupBy(
            F.col("__cohort").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def rollup_pyramid(events: DataFrame) -> DataFrame:
    """Multi-resolution rollup pyramid (continuous-aggregate cascade):
    minute buckets from raw events, hour buckets from the MINUTE level,
    day buckets from the HOUR level — the TimescaleDB/Druid hypertable
    rollup pattern. Returns all three unioned with a ``resolution`` tag.

    The cascade is the scale point: each coarser level aggregates the
    previous level's partials (mergeable aggregates: count-sum, sum-sum,
    min-min, max-max), so the hour and day shuffles move bucket rows, not
    raw events — shuffle volume shrinks ~60x per level. On an incremental
    pipeline only the finest level ever re-reads raw data; refreshing a
    day re-reads 24 hour-rows.

    Exactness: value sums are 1e-6-quantized decimal integers end-to-end
    through the cascade (associative integer addition — the cascaded sum
    EQUALS the direct per-level sum, which is what the oracle computes),
    cast to double once in the final projection.
    """
    q = F.round(F.col("value") * F.lit(1e6)).cast("decimal(20,0)")
    l1 = (
        events.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(q).alias("__s"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )

    def up(df: DataFrame, unit: str) -> DataFrame:
        return df.groupBy(
            F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"),
            "event_type",
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__s").alias("__s"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )

    # persist the intermediate levels: Catalyst has no cross-branch CSE,
    # so without this each union branch would re-aggregate from raw
    # events — exactly the rescan the cascade exists to avoid. (The
    # stored/incremental form writes each level as a table instead.)
    from ..plans.scratch import scratch_persist

    l1 = scratch_persist(l1)
    l2 = scratch_persist(up(l1, "hour"))
    l3 = up(l2, "day")

    def fin(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"),
            "bucket_ts",
            "event_type",
            "n_events",
            (F.col("__s").cast("double") / F.lit(1e6)).alias("sum_value"),
            "min_value",
            "max_value",
        )

    return (
        fin(l1, "1m")
        .unionByName(fin(l2, "1h"))
        .unionByName(fin(l3, "1d"))
        .orderBy("resolution", "bucket_ts", "event_type")
    )


def ohlc_bars(events: DataFrame, unit: str = "hour") -> DataFrame:
    """OHLC bars: open/high/low/close + volume per (time bucket,
    event_type) — the financial-tick aggregation every timeseries store
    ships. Open/close are the first/last values by (ts, event_id) — the
    event_id tiebreak makes bars deterministic when two ticks share a
    timestamp (common at exchange feeds' granularity).

    Scale shape: ONE shuffle on (bucket, event_type); both row_number
    windows share that partitioning (asc + desc order over the same
    exchange — Spark reuses it), and the final groupBy is map-side
    combined on the already-co-partitioned data. Volume is the
    1e-6-quantized exact decimal sum (order-independent, engine-exact).
    """
    b = F.date_trunc(unit, F.col("ts"))
    ev = events.select(
        b.alias("bucket_ts"), "event_type", "ts", "event_id", "value"
    )
    w_asc = Window.partitionBy("bucket_ts", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_desc = Window.partitionBy("bucket_ts", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    q = F.round(F.col("value") * F.lit(1e6)).cast("decimal(20,0)")
    return (
        ev.withColumn("__ra", F.row_number().over(w_asc))
        .withColumn("__rd", F.row_number().over(w_desc))
        .groupBy("bucket_ts", "event_type")
        .agg(
            F.max(F.when(F.col("__ra") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("__rd") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_ticks"),
            (F.sum(q).cast("double") / F.lit(1e6)).alias("volume"),
        )
        .orderBy("bucket_ts", "event_type")
    )


def gap_report(events: DataFrame, threshold_s: float = 21600.0) -> DataFrame:
    """Data-gap detection: per-user pairs of consecutive events further
    apart than ``threshold_s`` seconds — the monitoring query behind
    "sensor went dark" alerts and backfill planning.

    Scale shape: one shuffle on user_id for the lag window (partitioned —
    no global collapse), then a narrow filter; output is gaps only.
    Gap seconds are epoch-double differences (microsecond-exact:
    ts_us / 1e6 is the same correctly-rounded double in every engine —
    the sessionize gap rule, here surfaced as a value).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.col("ts").cast("double") - F.col("__prev").cast("double")
    return (
        events.withColumn("__prev", F.lag("ts").over(w))
        .where(F.col("__prev").isNotNull() & (gap > threshold_s))
        .select(
            "user_id",
            F.col("__prev").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            gap.alias("gap_seconds"),
        )
        .orderBy("user_id", "gap_start")
    )


def zscore_outliers(events: DataFrame, n_sigma: float = 3.0) -> DataFrame:
    """Per-user anomaly flags: events more than n_sigma population standard
    deviations from the user's mean.

    Two-pass as one plan: per-key moments (decimal sums → exact), broadcast
    back onto the rows. Every float op after the exact sums (divide, sqrt,
    subtract) is IEEE correctly-rounded with identical operand order in the
    oracle, so flags and z-scores hash-match bit-for-bit. greatest(var, 0)
    guards the catastrophic-cancellation negative.
    """
    moments = events.groupBy(F.col("user_id").alias("m_uid")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s1"),
        F.sum(
            (F.col("value") * F.col("value")).cast("decimal(28,8)")
        ).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))
    sd = F.sqrt(var)
    z = (F.col("value") - mean) / sd
    return (
        events.join(F.broadcast(moments), F.col("user_id") == F.col("m_uid"))
        .where((F.col("n") > 1) & (sd > 0.0) & (F.abs(z) > n_sigma))
        .select("user_id", "event_id", "ts", "value", z.alias("zscore"))
        .orderBy("user_id", "event_id")
    )


def seasonal_baseline(events: DataFrame) -> DataFrame:
    """(bt, bh, base_mean, base_std) hour-of-day baseline per event type —
    the static side of seasonal anomaly detection, shared by the batch
    operator below and streaming.stream_anomaly_filter (where it rides in
    as a broadcast static frame against the live stream)."""
    hod = F.hour(F.col("ts"))
    q = F.round(F.col("value") * F.lit(1e6)).cast("decimal(20,0)")
    base = (
        events.groupBy(
            F.col("event_type").alias("bt"), hod.alias("bh")
        )
        .agg(
            F.count("*").alias("__n"),
            F.sum(q).alias("__s"),
            F.sum(q * q).alias("__sq"),
        )
    )
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    sq = F.col("__sq").cast("double")
    return base.select(
        "bt",
        "bh",
        (s / (n * F.lit(1e6))).alias("base_mean"),
        (F.sqrt((sq - s * s / n) / n) / F.lit(1e6)).alias("base_std"),
    )


def seasonal_anomaly(events: DataFrame, n_sigma: float = 3.0) -> DataFrame:
    """Seasonality-aware anomaly detection: build an hour-of-day baseline
    (mean/std of value per (event_type, hour-of-day)) and flag events
    deviating more than ``n_sigma`` sigma from THEIR hour's baseline —
    the de-seasonalized version of zscore_outliers (a 2am spike is judged
    against 2am traffic, not the daily mean).

    Exactness: baseline mean/std derive from 1e-6-quantized exact integer
    sums (see dim_stats) with fixed double expression shapes; the flag
    compares |v - mean| against n_sigma * std via the same correctly-
    rounded ops on both engines. Events in (event_type, hour) groups with
    a single row have std 0 and are never flagged (their deviation is 0).

    Scale shape: the baseline is a 24 x |event_types| row table — ONE
    map-side-combined shuffle to build, broadcast back to the event scan;
    flagging is a narrow filter. Output: anomalous rows only.
    """
    hod = F.hour(F.col("ts"))
    base = seasonal_baseline(events)
    dev = F.abs(F.col("value") - F.col("base_mean"))
    return (
        events.join(
            F.broadcast(base),
            (F.col("event_type") == F.col("bt")) & (hod == F.col("bh")),
        )
        .where(dev > F.lit(n_sigma) * F.col("base_std"))
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            "base_mean",
            "base_std",
        )
        .orderBy("event_id")
    )


def value_quantiles(events: DataFrame, sample_mod: int | None = None) -> DataFrame:
    """Exact percentiles per event type (sort-based percentile(), linear
    interpolation — same semantics as DuckDB quantile_cont).

    Scale note: sort-based ``percentile`` buffers one GROUP's values in
    a single aggregation buffer — fine per event type at any bench
    scale, a reducer-memory ceiling when one group holds billions of
    rows. ``sample_mod=k`` switches to the deterministic LCG row sample
    (``lcg_sample_pred`` on event_id, ~1/k of rows) — same breakpoints
    ±DKW sampling error, bounded buffer, still engine-replayable (the
    sample is a pure integer predicate, not rand()).
    ``rfm_breakpoint_audit`` measures the est-vs-exact delta of exactly
    this mechanism."""
    src = events
    if sample_mod is not None:
        src = events.where(F.expr(lcg_sample_pred("event_id", sample_mod)))
    return (
        src.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .orderBy("event_type")
    )


def value_histogram(events: DataFrame, lo: float = 0.0, hi: float = 100.0,
                    n_buckets: int = 10) -> DataFrame:
    """Fixed-width value histogram per event type (width_bucket — one
    shuffle, integer counts, exact cross-engine)."""
    return _value_histogram_unsorted(events, lo, hi, n_buckets).orderBy(
        "event_type", "bucket"
    )


def _value_histogram_unsorted(
    events: DataFrame, lo: float, hi: float, n_buckets: int
) -> DataFrame:
    """value_histogram without the output sort — the composable core
    (histogram_quantile_brackets builds windows on top and must not
    embed a mid-plan global sort: a total order that feeds further
    computation is an extra full-data range exchange)."""
    return (
        events.select(
            "event_type",
            F.width_bucket(F.col("value"), F.lit(lo), F.lit(hi), F.lit(n_buckets)).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
    )


def value_quantiles_approx(events: DataFrame, accuracy: int = 10000) -> DataFrame:
    """Scale path for value_quantiles: percentile_approx (Greenwald-Khanna
    sketch, mergeable map-side — no global sort). accuracy trades memory
    for error bound (~1/accuracy relative rank error)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, accuracy).alias("p50"),
            F.percentile_approx("value", 0.95, accuracy).alias("p95"),
            F.percentile_approx("value", 0.99, accuracy).alias("p99"),
        )
        .orderBy("event_type")
    )


def decayed_user_score(
    events: DataFrame,
    half_life_hours: int = 12,
    max_halvings: int = 40,
) -> DataFrame:
    """Exponentially time-decayed engagement score per user: each event
    contributes value * 0.5^(age / half_life), ages bucketed to whole
    half-lives (the decay curve a ranking/freshness feature actually
    ships: recent events dominate, month-old events contribute ~nothing).

    Engine-exact by construction: the reference time is max(ts) over the
    table (broadcast scalar, one map-side-combined agg), ages are epoch-
    second arithmetic, and the weight is pow(0.5, k) for integer
    k <= max_halvings — a plain exponent decrement, every product
    value * 2^-k is an EXACT double. The only order-sensitive step, the
    per-user sum, runs over contributions quantized to integer 1e-10
    units via floor(contrib * 1e10) — multiply and floor are correctly
    rounded on identical inputs in both engines (no double->decimal
    cast, whose half-way tie handling differs between them), and the
    BIGINT sum is exact under any aggregation order. The score is
    emitted both as the exact scaled integer and as sum/1e10 (int64->
    double conversion + one division: correctly rounded in both).

    One shuffle on user_id; the scalar max is a broadcast — scales.
    """
    ref = events.agg(F.max("ts").alias("_ref"))
    bucket = F.least(
        F.floor(
            (F.col("_ref").cast("double") - F.col("ts").cast("double"))
            / F.lit(3600.0 * half_life_hours)
        ),
        F.lit(max_halvings),
    )
    contrib = F.floor(
        F.col("value") * F.pow(F.lit(0.5), bucket) * F.lit(1e10)
    )
    return (
        events.crossJoin(F.broadcast(ref))
        .select("user_id", contrib.alias("_c"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_c").alias("score_e10"),
        )
        .withColumn(
            "decayed_score",
            F.col("score_e10").cast("double") / F.lit(1e10),
        )
        .orderBy("user_id")
    )


def distinct_users_sketch(events: DataFrame, max_rel_err: float = 0.05) -> DataFrame:
    """Distinct-user counts per event type, both ways: the exact
    count(distinct) (a full shuffle of the key space) and the HyperLogLog++
    sketch (approx_count_distinct — fixed-size, mergeable map-side, the
    only viable plan at 100 TB key cardinalities), with the sketch's
    relative error asserted against the exact answer.

    The sketch value itself is deterministic for a given dataset but not
    engine-portable, so the gated output is (exact count, sketch-within-
    bound flag) — the invariant-summary pattern: a flag flip means the
    sketch register width or hashing regressed, not noise.
    """
    rel_err = (
        F.abs(
            F.approx_count_distinct("user_id", 0.02).cast("double")
            - F.countDistinct("user_id").cast("double")
        )
        / F.countDistinct("user_id").cast("double")
    )
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            (rel_err <= F.lit(max_rel_err)).alias("sketch_ok"),
        )
        .orderBy("event_type")
    )


def top_user_paths(events: DataFrame, prefix_len: int = 5, k: int = 20) -> DataFrame:
    """Top-k user journeys: each user's first ``prefix_len`` events (by
    time, event_id tie-break) joined into a path string, then the most
    common paths ranked — the product-analytics "what do new users do
    first" query.

    One shuffle to assemble per-user sequences (array_sort of structs —
    a grouped aggregate, no window), one |paths|-sized count, and a
    global top-k that moves only k rows per partition. Ordering inside
    array_sort is total (ts, event_id), so the path set is deterministic
    and exactly replayable in SQL.
    """
    seq = F.array_join(
        F.slice(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            1,
            prefix_len,
        ),
        ">",
    )
    paths = (
        events.groupBy("user_id")
        .agg(seq.alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_users"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition heap,
    # driver merges k rows — no partition-less window over the full path
    # table); rank is then a window over only the k survivors
    topk = paths.orderBy(F.col("n_users").desc(), F.col("path").asc()).limit(k)
    w = Window.orderBy(F.col("n_users").desc(), F.col("path").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("rank", "path", "n_users")
        .orderBy("rank")
    )


def data_quality_audit(events: DataFrame) -> DataFrame:
    """Deequ-style data-contract validation in ONE aggregation pass:
    null counts and distinct cardinalities per column, duplicate-key
    count, range-rule and set-membership violation counts — the checks a
    pipeline runs before promoting a partition. Everything is a single
    groupless agg (map-side combined, one reduce task's worth of output)
    unpivoted to (rule, n) rows; integer outputs — exact cross-engine.
    """
    known = ("click", "view", "purchase", "signup", "error")
    agg = events.agg(
        F.count("*").alias("n_rows"),
        *[
            F.count_if(F.col(c).isNull()).alias(f"null_{c}")
            for c in ("event_id", "ts", "user_id", "event_type", "value", "props")
        ],
        F.countDistinct("event_id").alias("d_event_id"),
        F.countDistinct("user_id").alias("d_user_id"),
        F.countDistinct("event_type").alias("d_event_type"),
        F.count_if(F.col("value") < 0).alias("v_value_lt_0"),
        F.count_if(F.col("value") > 1000).alias("v_value_gt_1000"),
        F.count_if(~F.col("event_type").isin(*known)).alias("v_type_unknown"),
        (F.count("*") - F.countDistinct("event_id")).alias("v_dup_event_id"),
    )
    pairs = [
        ("rows:total", "n_rows"),
        ("null:event_id", "null_event_id"),
        ("null:ts", "null_ts"),
        ("null:user_id", "null_user_id"),
        ("null:event_type", "null_event_type"),
        ("null:value", "null_value"),
        ("null:props", "null_props"),
        ("distinct:event_id", "d_event_id"),
        ("distinct:user_id", "d_user_id"),
        ("distinct:event_type", "d_event_type"),
        ("violation:value_lt_0", "v_value_lt_0"),
        ("violation:value_gt_1000", "v_value_gt_1000"),
        ("violation:event_type_unknown", "v_type_unknown"),
        ("violation:duplicate_event_id", "v_dup_event_id"),
    ]
    stacked = F.explode(
        F.array(
            *[
                F.struct(F.lit(rule).alias("rule"), F.col(c).alias("n"))
                for rule, c in pairs
            ]
        )
    ).alias("kv")
    return (
        agg.select(stacked)
        .select(F.col("kv.rule").alias("rule"), F.col("kv.n").cast("long").alias("n"))
        .orderBy("rule")
    )


def churn_labels(events: DataFrame, horizon_days: int = 7) -> DataFrame:
    """Training-label builder: per user, activity summary + a churn label
    (no events in the corpus's final ``horizon_days``). The label
    boundary derives from max(ts) over the table (broadcast scalar), so
    the op is one user-keyed aggregation + a broadcast — the standard
    label-generation shape for churn models, leak-free by construction
    (features use only pre-cutoff data would be the caller's slice).

    Integer/timestamp outputs — exact cross-engine.
    """
    ref = events.agg(F.max("ts").alias("_ref"))
    return (
        events.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.countDistinct(F.date_trunc("day", F.col("ts"))).alias("n_active_days"),
            (
                F.max("ts")
                < F.max("_ref") - F.make_dt_interval(days=F.lit(horizon_days))
            ).alias("churned"),
        )
        .orderBy("user_id")
    )


def mad_outliers(events: DataFrame, n_mads: float = 3.0) -> DataFrame:
    """Robust outlier counts per event type: median absolute deviation
    instead of stddev — one flooded value can't drag the threshold the
    way it inflates a z-score's sigma. Exact sort-based percentile()
    twice (value median, then |value - median| median), broadcast back,
    integer flag counts.

    Two aggregation passes over the type-keyed partials + one broadcast
    join — the same shape as value_quantiles, scales with the key count.
    """
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = events.join(F.broadcast(med), "event_type")
    mad = (
        with_med.groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    flagged = with_med.join(F.broadcast(mad), "event_type").withColumn(
        "is_outlier",
        F.abs(F.col("value") - F.col("med")) > F.lit(n_mads) * F.col("mad"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("is_outlier")).alias("n_outliers"),
            F.max("med").alias("median"),
            F.max("mad").alias("mad"),
        )
        .orderBy("event_type")
    )


def value_drift(
    events: DataFrame,
    split_ts: str = "2024-01-16",
    lo: float = 0.0,
    hi: float = 500.0,
    n_buckets: int = 10,
) -> DataFrame:
    """Distribution-drift monitor: chi-square distance between the value
    histograms of the reference window (ts < split) and the current
    window (ts >= split), per event type — the PSI-style check a feature
    pipeline runs before trusting fresh data, expressed without
    transcendentals (chi2 = sum (p-q)^2/(p+q) needs no log, so it stays
    engine-exact: correctly-rounded divisions on identical operands,
    per-bucket terms floor-quantized to 1e-12 and integer-summed).

    One scan, one (type, bucket, window) aggregation, a per-type rollup —
    all map-side-combined. Scales with |types| x buckets.
    """
    split = F.lit(pd.Timestamp(split_ts)).cast("timestamp")
    counts = (
        events.select(
            "event_type",
            F.width_bucket(F.col("value"), F.lit(lo), F.lit(hi), F.lit(n_buckets)).alias(
                "bucket"
            ),
            (F.col("ts") < split).alias("is_ref"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count_if(F.col("is_ref")).alias("n_ref"),
            F.count_if(~F.col("is_ref")).alias("n_cur"),
        )
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    # a window with no rows at all for a type (e.g. a brand-new event
    # type has t_ref = 0) contributes probability 0 in that window
    p = F.when(
        F.col("t_ref") > 0,
        F.col("n_ref").cast("double") / F.col("t_ref").cast("double"),
    ).otherwise(F.lit(0.0))
    q = F.when(
        F.col("t_cur") > 0,
        F.col("n_cur").cast("double") / F.col("t_cur").cast("double"),
    ).otherwise(F.lit(0.0))
    term = F.when(
        (p + q) > F.lit(0.0),
        F.floor((p - q) * (p - q) / (p + q) * F.lit(1e12)),
    ).otherwise(F.lit(0))
    return (
        counts.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("t_ref").alias("n_ref"),
            F.max("t_cur").alias("n_cur"),
            F.sum(term).alias("_q"),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            (F.col("_q").cast("double") / F.lit(1e12)).alias("chi2"),
        )
        .orderBy("event_type")
    )


def weekly_growth(events: DataFrame) -> DataFrame:
    """Week-over-week growth dashboard: weekly event counts and distinct
    users per type, with the ratio to the previous ISO week (lag window
    per type — parallel across types). Growth is one correctly-rounded
    division of exact integers; weeks with no predecessor emit NULL.
    """
    weekly = (
        events.groupBy(
            F.date_trunc("week", F.col("ts")).alias("week"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(w)
    return (
        weekly.withColumn(
            "wow_growth",
            F.when(
                prev.isNotNull(),
                F.col("n_events").cast("double") / prev.cast("double"),
            ),
        )
        .orderBy("event_type", "week")
    )


def lateness_audit(
    events: DataFrame,
    shard_size: int = 1 << 20,
    arrival_col: str = "event_id",
    prior_max_us: int | None = None,
) -> DataFrame:
    """Out-of-order-arrival audit for watermark sizing: treating
    ``arrival_col`` (default event_id) as the arrival/ingest order and ts
    as event time, an event is LATE
    when some earlier-arriving event already carried a larger ts. Reports,
    per event_type, how many events were late and by how much (max, and
    counts beyond 1-minute / 1-hour thresholds) — exactly the histogram a
    streaming deployment reads to size `withWatermark` so late data is
    neither dropped nor state unbounded.

    Scale shape (two-pass range-sharded running max — same pattern as
    pack_sequences' prefix sum, no partition-less window over the data):
    pass 1 computes the running max WITHIN each contiguous event_id shard
    (window partitioned by shard → parallel); pass 2 reduces each shard to
    one row, takes a prefix max over the tiny #shards-row table, and
    broadcasts those offsets back. max is associative, so the result is
    independent of shard_size.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    arr = F.col(arrival_col)
    sharded = events.select(
        arr.alias("__arr"),
        "event_type",
        us.alias("__us"),
        F.floor(arr / F.lit(shard_size)).alias("__shard"),
    )
    w_in = (
        Window.partitionBy("__shard")
        .orderBy("__arr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = sharded.withColumn("__pre_in", F.max("__us").over(w_in))
    shard_tops = sharded.groupBy("__shard").agg(F.max("__us").alias("__top"))
    w_sh = (
        Window.orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_tops.withColumn("__pre_sh", F.max("__top").over(w_sh)).select(
        "__shard", "__pre_sh"
    )
    # greatest() skips NULLs: first-shard rows have no cross-shard prefix,
    # first-row-in-shard has no intra prefix — either alone still counts.
    # prior_max_us floors the prefix with history that arrived BEFORE this
    # frame (the streaming monitor's carried state) — cummax is associative,
    # so chunked processing with the floor equals one global pass.
    pre_parts = [F.col("__pre_in"), F.col("__pre_sh")]
    if prior_max_us is not None:
        pre_parts.append(F.lit(int(prior_max_us)))
    pre = F.greatest(*pre_parts)
    lateness = F.when(pre > F.col("__us"), pre - F.col("__us")).otherwise(
        F.lit(0)
    )
    return (
        intra.join(F.broadcast(offsets), "__shard")
        .withColumn("__late_us", lateness)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("__late_us") > 0).cast("int")).alias("n_late"),
            F.max("__late_us").alias("max_late_us"),
            F.sum((F.col("__late_us") > 60_000_000).cast("int")).alias(
                "n_late_gt_1m"
            ),
            F.sum((F.col("__late_us") > 3_600_000_000).cast("int")).alias(
                "n_late_gt_1h"
            ),
        )
        .orderBy("event_type")
    )


def event_pmi(events: DataFrame) -> DataFrame:
    """Pointwise mutual information between hour-of-day and event_type in
    bits — the association-mining table behind "errors cluster at 03:00,
    purchases at 20:00" dashboards. PMI = log2(N·c_xy / (c_x·c_y))
    computed as plog2(c_xy) + plog2(N) − plog2(c_x) − plog2(c_y) with the
    engine-portable piecewise-linear log2 (text.plog2 — bit-length plus an
    exact power-of-two mantissa division), floor-quantized to micro-bits
    so the value is exact integer arithmetic cross-engine.

    Scale shape: one map-side-combined count on the (hour, type) pair —
    at most 24×|types| result rows — with the two marginals and the grand
    total derived from tiny aggregates and broadcast-joined back. One
    shuffle over pair keys; everything downstream is driver-scale.
    """
    from .text import plog2

    pairs = events.select(
        F.hour("ts").alias("hour"), "event_type"
    )
    c_xy = pairs.groupBy("hour", "event_type").agg(F.count("*").alias("c_xy"))
    c_x = pairs.groupBy("hour").agg(F.count("*").alias("c_x"))
    c_y = pairs.groupBy("event_type").agg(F.count("*").alias("c_y"))
    n = pairs.agg(F.count("*").alias("c_n"))
    pmi_bits = (
        plog2(F.col("c_xy"))
        + plog2(F.col("c_n"))
        - plog2(F.col("c_x"))
        - plog2(F.col("c_y"))
    )
    return (
        c_xy.join(F.broadcast(c_x), "hour")
        .join(F.broadcast(c_y), "event_type")
        .crossJoin(F.broadcast(n))
        .select(
            "hour",
            "event_type",
            "c_xy",
            F.floor(pmi_bits * F.lit(1e6)).cast("long").alias("pmi_ubits"),
        )
        .orderBy("hour", "event_type")
    )


def basket_pmi(events: DataFrame, bucket_hours: int = 6) -> DataFrame:
    """Market-basket association between event types: a basket is one
    (user, ``bucket_hours``-hour window); for each unordered type pair,
    the co-occurrence support (baskets containing BOTH) and the PMI lift
    in micro-bits — the "users who error also purchase within the same
    session-window" miner. PMI uses the engine-portable piecewise-linear
    log2 (text.plog2), so every value is exact integer arithmetic
    cross-engine.

    Scale shape: collapse to distinct (user, bucket, type) first — one
    map-side-combined aggregation, the corpus never self-joins at full
    size; the within-basket pair join fans out #types-bounded per basket
    (like source_overlap_matrix); marginals are tiny broadcast joins.
    """
    from .text import plog2

    bucket_us = bucket_hours * 3_600_000_000
    baskets = events.select(
        "user_id",
        F.expr(
            f"div(unix_micros(cast(ts as timestamp)), {bucket_us})"
        ).alias("bucket"),
        "event_type",
    ).distinct()
    n_b = baskets.select("user_id", "bucket").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    c_t = baskets.groupBy("event_type").agg(F.count("*").alias("c_t"))
    a = baskets.select("user_id", "bucket", F.col("event_type").alias("type_a"))
    b = baskets.select("user_id", "bucket", F.col("event_type").alias("type_b"))
    c_ab = (
        a.join(b, ["user_id", "bucket"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("c_ab"))
    )
    pmi = (
        plog2(F.col("c_ab"))
        + plog2(F.col("n_baskets"))
        - plog2(F.col("c_a"))
        - plog2(F.col("c_b"))
    )
    return (
        c_ab.join(
            F.broadcast(c_t.select(F.col("event_type").alias("type_a"),
                                   F.col("c_t").alias("c_a"))),
            "type_a",
        )
        .join(
            F.broadcast(c_t.select(F.col("event_type").alias("type_b"),
                                   F.col("c_t").alias("c_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_b))
        .select(
            "type_a",
            "type_b",
            "c_ab",
            F.floor(pmi * F.lit(1e6)).cast("long").alias("pmi_ubits"),
        )
        .orderBy("type_a", "type_b")
    )


DEBOUNCE_SCHEMA = (
    "user_id long, ts timestamp, event_id long, value double"
)


def debounce(events: DataFrame, cooldown_us: int = 600_000_000) -> DataFrame:
    """Cooldown suppression (alert throttling / trigger sampling): keep an
    event only if it is at least ``cooldown_us`` after the last KEPT event
    of the same user; the first event of each user is always kept. Which
    events survive depends on which earlier events survived — an
    inherently sequential per-key scan no window function can express,
    so this is the canonical applyInPandas escape hatch (SURVEY §2.10):
    ONE shuffle on the key, then an O(n_k) pass per key with bounded
    state (one scalar), parallel across keys. Ordering inside a key is
    (ts, event_id) so replays are deterministic.

    The DuckDB oracle replays the same semantics with a recursive CTE
    (next kept = first row >= last kept + cooldown), so the full kept
    set is value-exact cross-engine.
    """
    import pandas as pd

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].astype("int64") // 1000
        keep = []
        last = None
        for t in ts_us:
            if last is None or t >= last + cooldown_us:
                keep.append(True)
                last = t
            else:
                keep.append(False)
        return pdf.loc[keep, ["user_id", "ts", "event_id", "value"]]

    return (
        events.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_id", "value",
        )
        .groupBy("user_id")
        .applyInPandas(scan, schema=DEBOUNCE_SCHEMA)
        .orderBy("user_id", "ts")
    )


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    horizon_hours: int | None = None,
) -> DataFrame:
    """Ordered multi-step funnel: a user reaches step i at the EARLIEST
    event of ``steps[i]`` strictly after their step-(i-1) time (the
    classic strictly-increasing-timestamps funnel — a later 'view' never
    matches an earlier 'click'). With ``horizon_hours`` the whole chain
    must complete within that window of the step-1 time.

    Output: one row per step with reached-user counts and integer
    conversion rates (ppm of step 1, ppm of previous step).

    Scale shape: one min-aggregation per step, all keyed on user_id —
    the same shuffle key every stage, so AQE/co-partitioning reuses the
    exchange; no windows, no ordering of the raw event stream. Earliest-
    after-t is min(ts WHERE ts > t), an ordinary aggregate — not a
    sequential scan — so the whole funnel is expressible declaratively.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    ev = events.select("user_id", "event_type", "ts")
    stage = (
        ev.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    counts = funnel_count(stage, 1, steps[0])
    for i, s in enumerate(steps[1:], start=2):
        joined = ev.where(F.col("event_type") == s).join(stage, "user_id")
        cond = F.col("ts") > F.col(f"t{i - 1}")
        if horizon_hours is not None:
            cond = cond & (
                F.col("ts")
                <= F.col("t1") + F.expr(f"INTERVAL {horizon_hours} HOURS")
            )
        keep = [f"t{j}" for j in range(1, i)]
        stage = (
            joined.where(cond)
            .groupBy("user_id", *keep)
            .agg(F.min("ts").alias(f"t{i}"))
        )
        counts = counts.unionByName(funnel_count(stage, i, s))
    from ..plans.scratch import scratch_persist

    # len(steps) rows, but consumed three times (itself + the step-1
    # scalar + the shifted previous-step frame); without the persist the
    # whole per-step aggregation chain re-ran per consumer (r14 opt:
    # 22 jobs/43 stages -> measured below)
    return funnel_table(scratch_persist(counts))


def funnel_count(df: DataFrame, i: int, step: str) -> DataFrame:
    """(step, event_type, n_users): one row counting the rows of ``df``
    (one per user that reached step ``i``) — the per-step count of
    ``funnel`` and of streaming.FunnelMonitor's state."""
    return df.agg(
        F.lit(i).cast("int").alias("step"),
        F.lit(step).alias("event_type"),
        F.count("*").alias("n_users"),
    )


def funnel_table(counts: DataFrame) -> DataFrame:
    """``funnel``'s output from its per-step counts (the union of the
    funnel_count rows): integer conversion rates as ppm of step 1 and
    ppm of the previous step, sorted by step. ``counts`` is read three
    times (itself, the step-1 scalar, the shifted previous-step frame),
    so a caller whose counts are costly to recompute persists them."""
    first = counts.where(F.col("step") == 1).select(
        F.col("n_users").alias("n_first")
    )
    prev = counts.select(
        (F.col("step") + 1).alias("step"), F.col("n_users").alias("n_prev")
    )
    return (
        counts.join(F.broadcast(first))
        .join(F.broadcast(prev), "step", "left")
        .select(
            "step",
            "event_type",
            "n_users",
            F.coalesce(
                F.expr("(n_users * 1000000) div nullif(n_first, 0)"), F.lit(0)
            ).alias("ppm_of_first"),
            F.coalesce(
                F.expr("(n_users * 1000000) div nullif(n_prev, 0)"),
                F.lit(1_000_000),
            ).alias("ppm_of_prev"),
        )
        .orderBy("step")
    )


def linear_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click", "signup"),
    lookback_hours: int = 24,
) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit of
    credit EQUALLY across all of the user's touch events (view/click/
    signup) in the lookback window before it; per-channel totals answer
    "which channel actually carries conversions" — the complement of
    first-touch (earliest wins) and as-of (latest wins) attribution.

    Credit is integer ppm via floor division (1e6 div n_touches), so
    totals are exact cross-engine; the sub-ppm remainder per conversion
    is deliberately dropped rather than assigned tie-break-ambiguously.

    Scale shape: one user-keyed join carries the window predicate as a
    join filter (pair volume bounded by per-user activity × lookback,
    never |events|²); the per-purchase touch count and the channel
    rollup share the purchase-id shuffle.
    """
    p = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    t = events.where(F.col("event_type").isin(*touch_types)).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    j = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_hours} HOURS")
        ),
    )
    n_per = j.groupBy("p_id").agg(F.count("*").alias("n_touches"))
    credited = j.join(n_per, "p_id").withColumn(
        "credit_ppm", F.expr("1000000 div n_touches")
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.countDistinct("p_id").alias("n_conversions_touched"),
            F.sum("credit_ppm").alias("total_credit_ppm"),
        )
        .orderBy("channel")
    )


def active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU / rolling WAU / stickiness per day. The sliding distinct is
    computed with the day-explode trick: each (user, active-day) row
    claims membership in the ``window_days`` windows it participates in
    (one explode ×window_days), turning "distinct users over a sliding
    window" into a plain keyed distinct-count — no self-join of day
    ranges, no window over the raw stream, state ∝ users·days not
    events. Early days have naturally partial windows (standard WAU
    semantics). Stickiness is integer ppm (DAU/WAU — the DAU/MAU-style
    engagement ratio).
    """
    return active_users_from_days(active_days(events), window_days)


def active_days(events: DataFrame) -> DataFrame:
    """The distinct (user_id, day) activity set — ``active_users``'s
    input and streaming.ActiveUsersMonitor's state (merged by union +
    distinct, so any batching gives the same set)."""
    return (
        events.select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )


def active_users_from_days(days: DataFrame, window_days: int) -> DataFrame:
    """``active_users``'s table from a distinct (user_id, day) set."""
    dau = days.groupBy("day").agg(F.count("*").alias("dau"))
    membership = (
        days.select(
            "user_id",
            F.explode(
                F.expr(
                    f"sequence(day, day + INTERVAL {window_days - 1} DAYS, "
                    "INTERVAL 1 DAY)"
                )
            ).alias("wday"),
        )
        .distinct()
        .groupBy("wday")
        .agg(F.count("*").alias("wau"))
    )
    return (
        dau.join(membership, dau.day == membership.wday)
        .select(
            "day",
            "dau",
            "wau",
            F.expr("(dau * 1000000) div wau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    for each user, order events by (ts, event_id) and pair each event
    type with the NEXT one; count every (prev, next) transition and
    report its probability conditioned on prev in integer ppm — the
    behavioural model behind next-action prediction, funnel design, and
    bot detection (bots have near-deterministic rows; humans don't).

    One lead() window partitioned by user (parallel across users — never
    a global window), one (prev, next) count, and a prev-marginal
    broadcast join for the conditional. floor-div ppm keeps every value
    integer — exact cross-engine. At 100 TB the per-user window is
    bounded by a user's own history, and the output is |event types|^2
    rows — tiny.
    """
    return transition_table(transition_counts(events))


def transition_counts(events: DataFrame) -> DataFrame:
    """(prev, next, n): counts of each user's consecutive event-type
    pairs in (ts, event_id) order — ``event_transitions``'s counts and
    streaming.TransitionMonitor's per-batch state (counts add)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            F.col("event_type").alias("prev"),
            F.lead("event_type").over(w).alias("next"),
        )
        .where(F.col("next").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count("*").alias("n"))
    )


def transition_table(counts: DataFrame) -> DataFrame:
    """``event_transitions``'s table from (prev, next, n) counts: each
    count with its probability given prev in integer ppm, sorted."""
    marg = counts.groupBy("prev").agg(F.sum("n").alias("n_prev"))
    return (
        counts.join(F.broadcast(marg), "prev")
        .select(
            "prev",
            "next",
            "n",
            F.expr("(n * 1000000) div n_prev").alias("p_ppm"),
        )
        .orderBy("prev", "next")
    )


def _rfm_per_user(events: DataFrame) -> DataFrame:
    """(user_id, rec_us, freq, mon_u): the per-user RFM rollup shared by
    rfm_segments and rfm_breakpoint_audit — one keyed shuffle, monetary
    as floor(value·1e6) BIGINT µ-units (never an order-sensitive double
    sum), recency against the corpus-max "now" attached as a broadcast
    1-row scalar."""
    ref = events.agg(F.unix_micros(F.max("ts")).alias("_now_us"))
    return (
        events.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            (F.max("_now_us") - F.unix_micros(F.max("ts"))).alias("rec_us"),
            F.count("*").alias("freq"),
            F.sum(
                F.expr("CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT)")
            ).alias("mon_u"),
        )
    )


_RFM_BP = "array(0.2, 0.4, 0.6, 0.8)"


def _rfm_breakpoints(per_user: DataFrame) -> DataFrame:
    return per_user.agg(
        F.expr(f"percentile(rec_us, {_RFM_BP})").alias("bp_r"),
        F.expr(f"percentile(freq, {_RFM_BP})").alias("bp_f"),
        F.expr(f"percentile(mon_u, {_RFM_BP})").alias("bp_m"),
    )


def rfm_segments(
    events: DataFrame,
    breakpoint_mode: str = "auto",
    sample_mod: int = 101,
    sample_threshold: int = QUANTILE_SAMPLE_THRESHOLD,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic CRM / lifecycle-marketing cut: per user compute recency
    (µs since the user's last event, against the corpus max as the
    reference "now"), frequency (#events) and monetary (sum of value in
    integer µ-units — floor(value·1e6) per event, BIGINT-summed, so the
    order-sensitive double sum never appears), then score each dimension
    1-5 against its own exact quintile breakpoints and report the
    segment-level rollup (r_score, f_score, m_score, n_users,
    monetary totals).

    Breakpoints are EXACT percentiles (Spark's sort-based percentile()
    == DuckDB quantile_cont, linear interpolation over exact integers —
    the same cross-engine identity value_quantiles pins), computed once
    over the per-user table and attached as a broadcast 1-row scalar
    frame. Scores via `1 + sum(v > b_i)` comparisons; recency is
    reversed (recent = 5). Output is <= 125 rows regardless of scale;
    the only data-sized shuffle is the user aggregation.

    **Breakpoint scale mode**: the exact percentile is sort-based and
    buffers the single global group's per-user values in ONE aggregation
    buffer — fine at any bench scale, a reducer-memory ceiling at 10⁹
    users. ``breakpoint_mode``:

    - ``"exact"`` — always the exact buffer (the audit/oracle mode);
    - ``"sampled"`` — breakpoints from the deterministic LCG user sample
      (``lcg_sample_pred``, ~1/``sample_mod`` of users): bounded buffer,
      breakpoints within DKW sampling error, SCORING still exact over
      every user (only the five cut points are estimated);
    - ``"auto"`` (default) — one count() prepass over the (persisted)
      per-user rollup picks exact below ``sample_threshold`` users and
      sampled above — the eager-small/lazy-large split, same policy as
      semantic_dedup's adaptive cells. ``rfm_breakpoint_audit`` is the
      registered est-vs-exact delta monitor for this mode.
    """
    from ..plans.scratch import scratch_persist

    if breakpoint_mode not in ("exact", "sampled", "auto"):
        raise ValueError(f"unknown breakpoint_mode {breakpoint_mode!r}")
    per_user = scratch_persist(_rfm_per_user(events))
    if breakpoint_mode == "auto":
        breakpoint_mode = (
            "sampled" if per_user.count() > sample_threshold else "exact"
        )
    bp_src = per_user
    if breakpoint_mode == "sampled":
        sampled = per_user.where(
            F.expr(lcg_sample_pred("user_id", sample_mod))
        )
        # An empty sample (small corpus + large sample_mod) would make
        # every percentile NULL and NULL-propagate into every r/f/m
        # score silently — fall back to the exact buffer instead
        # (ADVICE r06). limit(1) keeps the guard a bounded probe.
        if sampled.limit(1).count() == 0:
            import warnings

            warnings.warn(
                "rfm_segments: LCG sample selected zero users "
                f"(sample_mod={sample_mod}); falling back to exact "
                "breakpoints",
                stacklevel=2,
            )
        else:
            bp_src = sampled
    bp = _rfm_breakpoints(bp_src)

    def quintile(col: str, bps: str) -> F.Column:
        q = F.lit(1)
        for i in range(4):
            q = q + (F.col(col) > F.element_at(F.col(bps), i + 1)).cast("int")
        return q

    scored = per_user.crossJoin(F.broadcast(bp)).select(
        "user_id",
        "mon_u",
        (F.lit(6) - quintile("rec_us", "bp_r")).alias("r_score"),
        quintile("freq", "bp_f").alias("f_score"),
        quintile("mon_u", "bp_m").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("mon_u").alias("monetary_u"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def rfm_breakpoint_audit(events: DataFrame, sample_mod: int = 3) -> DataFrame:
    """Est-vs-exact breakpoint audit for the sampled quantile mode — the
    KMV ``include_exact`` pattern applied to percentiles: compute the
    RFM quintile breakpoints BOTH ways (exact single-buffer percentile
    over all users; the same percentile over the deterministic
    ~1/``sample_mod`` LCG user sample that ``rfm_segments``'s
    sampled/auto mode uses) and report per (dimension, probability) the
    two cut points and the relative error in ppm. This is the monitor
    that makes the scale mode's accuracy a measured number instead of a
    DKW citation: at 100 TB you run it on one shard / a fractional
    corpus slice with the production ``sample_mod`` before trusting the
    sampled breakpoints fleet-wide.

    Exactness contract: the sample is a pure integer predicate (no
    rand()), percentile == quantile_cont over exact integers, and the
    delta arithmetic is per-op IEEE double (abs/sub/mul/div/floor — each
    correctly rounded identically in Spark and DuckDB), so every row is
    replayed bit-exactly by the oracle. 12 output rows regardless of
    scale; both aggregations read one persisted per-user rollup.
    """
    from ..plans.scratch import scratch_persist

    per_user = scratch_persist(_rfm_per_user(events))
    exact = _rfm_breakpoints(per_user)
    sampled = _rfm_breakpoints(
        per_user.where(F.expr(lcg_sample_pred("user_id", sample_mod)))
    ).select(
        F.col("bp_r").alias("sp_r"),
        F.col("bp_f").alias("sp_f"),
        F.col("bp_m").alias("sp_m"),
    )
    both = exact.crossJoin(sampled)  # two 1-row scalar frames
    parts = []
    for dim, be, bs in (
        ("frequency", "bp_f", "sp_f"),
        ("monetary", "bp_m", "sp_m"),
        ("recency", "bp_r", "sp_r"),
    ):
        parts.append(
            both.select(
                F.lit(dim).alias("dim"),
                F.posexplode(F.arrays_zip(F.col(be), F.col(bs))).alias(
                    "pos", "z"
                ),
            ).select(
                "dim",
                ((F.col("pos") + 1) * 20).cast("int").alias("prob_pct"),
                F.col(f"z.{be}").alias("bp_exact"),
                F.col(f"z.{bs}").alias("bp_sampled"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "dim",
        "prob_pct",
        "bp_exact",
        "bp_sampled",
        F.expr(
            "CAST(floor(abs(bp_sampled - bp_exact) * 1000000.0"
            " / greatest(abs(bp_exact), 1.0)) AS BIGINT)"
        ).alias("abs_err_ppm"),
    ).orderBy("dim", "prob_pct")


def cadence_profile(events: DataFrame) -> DataFrame:
    """Per-user cadence profile: the inter-event gap distribution that
    separates steady heartbeat users from bursty ones — the behavioral
    feature next to transitions/RFM/retention (churn models key on "gap
    since last event vs the user's OWN typical gap", not a global
    threshold). Per user: number of gaps, mean gap (integer-µs div),
    exact median and p90 gap, and a quantile-shape burstiness score
    ``(p90 − p50) / (p90 + p50)`` in ppm — 0 for a perfectly regular
    cadence, → 1e6 as the distribution right-skews (the classic
    (σ−µ)/(σ+µ) burstiness needs a sum of squared gaps, which overflows
    BIGINT at corpus-span gaps; the quantile form is outlier-robust and
    stays in the exact-percentile machinery).

    Scale shape: gaps from one per-user lag() window (parallel across
    users, never global), then one keyed aggregation; the sort-based
    percentile buffers ONE USER's gaps per group — per-key bounded, not
    corpus-bounded, so the single-buffer ceiling of the global-group
    quantile ops does not apply. Users with a single event have no gap
    and are excluded (documented; join back against a user dimension for
    the "never returned" cohort — that is churn_labels' job).

    Exactness: gap_us is exact integer µs; percentile==quantile_cont
    over exact integers; mean via BIGINT div; burstiness per-op IEEE on
    correctly-rounded identical doubles. Fully oracle-replayable.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "ts", "event_id")
        .withColumn("prev_us", F.lag(F.unix_micros(F.col("ts"))).over(w))
        .where(F.col("prev_us").isNotNull())
        .select(
            "user_id",
            (F.unix_micros(F.col("ts")) - F.col("prev_us")).alias("gap_us"),
        )
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.expr("CAST(sum(gap_us) div count(*) AS BIGINT)").alias(
                "mean_gap_us"
            ),
            F.expr("percentile(gap_us, 0.5)").alias("p50_gap_us"),
            F.expr("percentile(gap_us, 0.9)").alias("p90_gap_us"),
        )
        .select(
            "user_id",
            "n_gaps",
            "mean_gap_us",
            "p50_gap_us",
            "p90_gap_us",
            F.expr(
                "CAST(floor((p90_gap_us - p50_gap_us) * 1000000.0"
                " / greatest(p90_gap_us + p50_gap_us, 1.0)) AS BIGINT)"
            ).alias("burstiness_ppm"),
        )
        .orderBy("user_id")
    )


def seasonal_naive_backtest(
    events: DataFrame,
    season_hours: int = 24,
    horizon_hours: int = 48,
) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real
    forecasting deployment is graded against (M-competition rule: beat
    snaive or ship snaive): predict each hour's value-sum as the value
    one season (``season_hours``) earlier, then score the LAST
    ``horizon_hours`` hours per event_type with MAE / bias / coverage.
    The output is the model-selection table a capacity planner reads.

    Exactness: hourly sums accumulate floor(value·1e6) BIGINT µ-units
    (never an order-sensitive double sum); errors stay integer. The
    forecast is TIME-keyed (a self-join of the hourly rollup shifted one
    season), not row-lagged — a missing hour must not slide the season
    window. Both join sides are the |types|·|hours| rollup (thousands of
    rows, not the raw stream), so the only data-sized work is the first
    aggregation; hours whose season-ago hour is missing have no forecast
    and are excluded (n_scored counts what was scorable).
    """
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        )
        .agg(
            F.sum(
                F.expr("CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT)")
            ).alias("v_u")
        )
    )
    pred = hourly.select(
        "event_type",
        (
            F.col("hour") + F.make_dt_interval(hours=F.lit(season_hours))
        ).alias("hour"),
        F.col("v_u").alias("pred_u"),
    )
    lagged = hourly.join(pred, ["event_type", "hour"], "left")
    cutoff = hourly.agg(
        (
            F.max("hour") - F.make_dt_interval(hours=F.lit(horizon_hours))
        ).alias("_cut")
    )
    return (
        lagged.crossJoin(F.broadcast(cutoff))
        .where(F.col("hour") > F.col("_cut"))
        .where(F.col("pred_u").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_scored"),
            F.expr("sum(abs(v_u - pred_u)) div count(*)").alias("mae_u"),
            F.expr("sum(v_u - pred_u) div count(*)").alias("bias_u"),
            F.max(F.expr("abs(v_u - pred_u)")).alias("max_err_u"),
        )
        .orderBy("event_type")
    )


def holt_winters_backtest(
    events: DataFrame,
    season_hours: int = 24,
    alpha_ppm: int = 300_000,
    beta_ppm: int = 100_000,
    gamma_ppm: int = 200_000,
) -> DataFrame:
    """Additive Holt-Winters (level + trend + season) one-step-ahead
    backtest per event_type over the dense hourly grid — the forecasting
    step up from seasonal_naive_backtest (level/trend adaptation instead
    of pure season echo). Emits one row per (event_type, hour) from the
    first post-warmup hour on: the observed µ-unit sum, the one-step
    forecast, the error, and the fitted level/trend for observability.

    Transcendental-free integer exactness: observations are the hourly
    floor(value·1e6) BIGINT sums (missing grid hours read 0 — absence is
    zero activity); smoothing constants are ppm integers and every
    recurrence step is one multiply-accumulate followed by a TRUNCATING
    division by 1e6 (Spark div == DuckDB // toward zero — Python //
    floors, so the kernel uses an explicit truncating helper). With
    α,β,γ and (1e6−·) both ≤ 1e6, intermediates stay < |state|·1e6:
    plain BIGINT while hourly sums stay under ~9.2e12 µ (quantize
    coarser above that). Init: l = mean of the first season, b = 0,
    s_i = y_i − l for the warmup hours; no output during warmup.

    Shape at scale: the only data-sized work is the hourly rollup
    (map-side-combined groupBy); the recurrence is inherently sequential
    IN TIME but independent ACROSS series, so it runs as one Arrow
    applyInPandas batch per event_type over the |hours|-row series —
    thousands of rows per key, parallel across keys (partition unit =
    the series, the ts_debounce pattern). The DuckDB oracle replays the
    identical recurrence as a recursive CTE carrying the seasonal
    vector as a list.
    """
    m, a_p, b_p, g_p = (
        int(season_hours), int(alpha_ppm), int(beta_ppm), int(gamma_ppm)
    )
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(
            F.expr("CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT)")
        ).alias("v_u")
    )
    bounds = hourly.agg(
        F.min("hour").alias("_h0"), F.max("hour").alias("_h1")
    )
    grid = (
        hourly.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(_h0, _h1, interval 1 hour)")
            ).alias("hour"),
        )
    )
    series = grid.join(hourly, ["event_type", "hour"], "left").na.fill(
        {"v_u": 0}
    )

    def tdiv(x: int, d: int) -> int:
        q = abs(x) // d
        return q if x >= 0 else -q

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour").reset_index(drop=True)
        y = [int(v) for v in pdf["v_u"]]
        T = len(y)
        if T < m + 1:
            return pdf.iloc[0:0].assign(
                f_u=pd.Series(dtype="int64"),
                err_u=pd.Series(dtype="int64"),
                level_u=pd.Series(dtype="int64"),
                trend_u=pd.Series(dtype="int64"),
            )[["event_type", "hour", "v_u", "f_u", "err_u", "level_u", "trend_u"]]
        lvl = tdiv(sum(y[:m]), m)
        trd = 0
        seas = [y[i] - lvl for i in range(m)]
        rows = []
        for t in range(m, T):
            f = lvl + trd + seas[t % m]
            l_new = tdiv(a_p * y[t] + (1_000_000 - a_p) * (lvl + trd), 1_000_000)
            trd = tdiv(b_p * (l_new - lvl) + (1_000_000 - b_p) * trd, 1_000_000)
            seas[t % m] = tdiv(
                g_p * (y[t] - l_new) + (1_000_000 - g_p) * seas[t % m], 1_000_000
            )
            lvl = l_new
            rows.append(
                (pdf["event_type"].iloc[0], pdf["hour"].iloc[t], y[t],
                 f, y[t] - f, lvl, trd)
            )
        return pd.DataFrame(
            rows,
            columns=["event_type", "hour", "v_u", "f_u", "err_u",
                     "level_u", "trend_u"],
        )

    out_schema = (
        "event_type string, hour timestamp, v_u long, f_u long, "
        "err_u long, level_u long, trend_u long"
    )
    return (
        series.groupBy("event_type")
        .applyInPandas(kernel, schema=out_schema)
        .orderBy("event_type", "hour")
    )


def forecast_eval(
    events: DataFrame,
    season_hours: int = 24,
    horizon_hours: int = 48,
    alpha_ppm: int = 300_000,
    beta_ppm: int = 100_000,
    gamma_ppm: int = 200_000,
) -> DataFrame:
    """Forecaster model-selection rollup — the head-to-head table the
    two backtests exist to feed (closes the "which forecaster do I
    trust" loop): per event_type, the seasonal-naive baseline's
    MAE/bias/max-err over its scored horizon next to the Holt-Winters
    one-step backtest's same metrics over the SAME trailing
    ``horizon_hours``, plus the M-competition verdict (``mae_winner``:
    beat snaive or ship snaive; ties go to 'tie').

    Coverage semantics are each model's own and deliberately NOT
    forced equal — snaive scores the sparse hourly rollup where a
    season-ago hour exists, Holt-Winters scores every dense-grid hour
    past warmup — so ``sn_n`` and ``hw_n`` make the differing
    scorable sets explicit instead of hiding them. A type missing one
    side entirely (e.g. too short for HW warmup) survives via the full
    outer join and wins by walkover. The HW horizon cutoff is derived
    from the HW output's own max hour (scratch-persisted — the
    |types|·|hours| frame, never the raw stream), mirroring the
    snaive cutoff hour exactly when any series survives warmup.

    All-integer µ-units end to end (the backtests' own guarantees);
    the div-based means truncate toward zero in both engines. Only
    data-sized work: the two hourly rollups inside the backtests.
    """
    from ..plans.scratch import scratch_persist

    sn = seasonal_naive_backtest(events, season_hours, horizon_hours).select(
        "event_type",
        F.col("n_scored").alias("sn_n"),
        F.col("mae_u").alias("sn_mae_u"),
        F.col("bias_u").alias("sn_bias_u"),
        F.col("max_err_u").alias("sn_max_err_u"),
    )
    hw = scratch_persist(
        holt_winters_backtest(
            events, season_hours, alpha_ppm, beta_ppm, gamma_ppm
        )
    )
    cut = hw.agg(
        (
            F.max("hour") - F.make_dt_interval(hours=F.lit(horizon_hours))
        ).alias("_cut")
    )
    hw_scored = (
        hw.crossJoin(F.broadcast(cut))
        .where(F.col("hour") > F.col("_cut"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("hw_n"),
            F.expr("sum(abs(err_u)) div count(*)").alias("hw_mae_u"),
            F.expr("sum(err_u) div count(*)").alias("hw_bias_u"),
            F.max(F.expr("abs(err_u)")).alias("hw_max_err_u"),
        )
    )
    return (
        sn.join(hw_scored, ["event_type"], "full")
        .withColumn(
            "mae_winner",
            F.expr(
                "CASE WHEN hw_mae_u IS NULL THEN 'snaive' "
                "WHEN sn_mae_u IS NULL THEN 'holt_winters' "
                "WHEN hw_mae_u < sn_mae_u THEN 'holt_winters' "
                "WHEN sn_mae_u < hw_mae_u THEN 'snaive' "
                "ELSE 'tie' END"
            ),
        )
        .orderBy("event_type")
    )


def histogram_quantile_brackets(
    events: DataFrame,
    q_ppms: tuple[int, ...] = (500_000, 950_000, 990_000),
    lo: float = 0.0,
    hi: float = 100.0,
    n_buckets: int = 10,
) -> DataFrame:
    """Quantile BRACKETS from the fixed-width histogram — the query
    form of HistogramMonitor's bounded-state claim: for each
    (event_type, q) the smallest histogram bucket whose cumulative
    count reaches ceil(q·total), plus that bucket's value bounds. The
    ceil(q·total)-th order statistic — the q-quantile in
    percentile_disc semantics — provably lies in [lo_v, hi_v) (an
    INTERPOLATING percentile can fall outside the bucket on sparse
    data; ADVICE r07): one bucket width of certainty from
    |types|·(n_buckets+2) rows of state, never a value-buffering
    percentile. This is how a 100 TB pipeline reads
    "p95 is between 40 and 50" from a monitor table instead of paying
    a sort-based exact percentile (value_quantiles is the exact twin,
    ts_rfm_bp_audit the est-vs-exact audit pattern).

    All selection arithmetic is integer (cum·1 vs the ceil threshold
    (q·total + 999999) div 1e6); bucket bounds are the identical
    lo + k·(hi−lo)/n double expression in both engines. width_bucket's
    overflow buckets (0 = below lo, n+1 = above hi) participate in the
    cumulative walk with NULL bounds on their open side. NULL values
    never enter (width_bucket(NULL) rows are excluded). Shape: the
    data-sized work is value_histogram's one map-side-combined rollup;
    everything after runs on |types|·(n_buckets+2) rows.
    """
    h = _value_histogram_unsorted(events, lo, hi, n_buckets).where(
        F.col("bucket").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy("event_type"))
    )
    qs = F.explode(
        F.array(*[F.lit(int(q)).cast("long") for q in q_ppms])
    ).alias("q_ppm")
    width = (hi - lo) / n_buckets
    picked = (
        cum.select("event_type", "bucket", "cum", "total", qs)
        .where(
            F.col("cum")
            >= F.expr("(q_ppm * total + 999999) div 1000000")
        )
        .groupBy("event_type", "q_ppm")
        .agg(F.min("bucket").alias("bucket"))
    )
    return picked.select(
        "event_type",
        "q_ppm",
        F.col("bucket").cast("int").alias("bucket"),
        F.when(
            (F.col("bucket") >= 1) & (F.col("bucket") <= n_buckets),
            F.lit(lo) + (F.col("bucket") - 1) * F.lit(width),
        ).alias("lo_v"),
        F.when(
            (F.col("bucket") >= 1) & (F.col("bucket") <= n_buckets),
            F.lit(lo) + F.col("bucket") * F.lit(width),
        ).alias("hi_v"),
    ).orderBy("event_type", "q_ppm")


def _run_change_marks(events: DataFrame):
    """SHARED run-start mark of SCD2 (batch scd2_history and, through
    _user_runs, the streaming Scd2Monitor both build on it — one
    definition keeps the stream==batch contract structural). Returns
    (events projected to user_id, ts, event_id, event_type plus
    ``__chg`` = 1 on a run's first row, the per-user (ts, event_id)
    window). The first row of a user ALWAYS opens a run — detected as
    row_number() == 1, because a NULL-typed first row satisfies NULL
    <=> NULL and a bare null-safe compare would not mark it (a
    lag(event_id) IS NULL test would also open a run after every NULL
    event_id); subsequent runs open on a null-safe type change.
    Ordering is (ts, event_id) so equal timestamps resolve
    deterministically in both engines. The window partitions by user —
    never global.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    first_row = F.row_number().over(w) == 1
    chg = (
        F.when(first_row | ~prev.eqNullSafe(F.col("event_type")), F.lit(1))
        .otherwise(F.lit(0))
    )
    marked = events.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn("__chg", chg)
    return marked, w


def _user_runs(events: DataFrame) -> DataFrame:
    """Run-detection kernel of the streaming Scd2Monitor: per
    (user_id, run) consecutive same-event_type runs as (user_id, run,
    event_type, valid_from, n_events), run numbered 1.. per user by a
    running sum of _run_change_marks' marks. Both windows partition by
    user — never global.
    """
    marked, w = _run_change_marks(events)
    return (
        marked.withColumn(
            "run",
            F.sum("__chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "run")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("ts").alias("valid_from"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


def scd2_history(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: collapse each
    user's event_type stream into consecutive-run validity intervals
    (user_id, version, event_type, valid_from, valid_to, n_events) —
    the warehouse pattern that turns an append-only event log into a
    point-in-time joinable dimension (valid_to IS NULL = the current
    row; an as-of lookup is then ``valid_from <= t AND (t < valid_to
    OR valid_to IS NULL)``, exactly what asof.band/asof joins consume).

    Run detection is the classic gaps-and-islands double window, both
    partitioned by user (no global window): lag() marks a change
    (null-safe, so a NULL attribute run still collapses), a running sum
    numbers the runs, and a per-user lead() over the grouped runs sets
    valid_to = the next run's valid_from — half-open intervals that
    tile the user's timeline with no overlap. Ordering is (ts,
    event_id) so equal timestamps resolve deterministically in both
    engines.

    Scale: two per-user window passes + one (user, version) groupBy —
    all hash-partitioned by user_id; state per task bounded by the
    heaviest user's row count (the key_skew_profile prepass prices
    that). The run-start mark lives in _run_change_marks, SHARED with
    the streaming Scd2Monitor.
    """
    # Runs-filter formulation (r15 opt, guide §2.4: fewer full-data
    # passes): instead of _user_runs' groupBy over EVERY event row (a
    # full-size re-sort + two SortAggregates at 600k rows sf0.1), mark
    # run starts in the same window pass that detects changes, FILTER
    # to the start rows (one per run), and derive the whole output from
    # start rows alone:
    #   - valid_from = the start row's ts (== min ts of the run: rows
    #     are ordered by ts, and all run rows share event_type);
    #   - version   = row_number over start rows (== the running-sum
    #     run number: runs are numbered in start order);
    #   - valid_to  = lead(ts) over start rows (== next run's min ts);
    #   - n_events  = next start's row_number − this start's (last run:
    #     user's total + 1), exact because runs tile the user's rows.
    # Equivalence to the _user_runs construction is pinned in
    # tests/test_r15_opt.py; both mark run starts with
    # _run_change_marks.
    marked, w = _run_change_marks(events)
    starts = (
        marked.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(Window.partitionBy("user_id")))
        .where(F.col("__chg") == 1)
    )
    n_events = (
        F.coalesce(F.lead("__rn").over(w), F.col("__n") + F.lit(1))
        - F.col("__rn")
    )
    return (
        starts.select(
            "user_id",
            F.row_number().over(w).cast("long").alias("version"),
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            n_events.cast("long").alias("n_events"),
        )
        .orderBy("user_id", "version")
    )


def intervals_merge(events: DataFrame) -> DataFrame:
    """Overlapping-interval coalescing (gaps-and-islands over ranges):
    each event opens an activity interval [ts, ts + value minutes);
    per user, transitively-overlapping intervals merge into islands
    (user_id, island, start_ts, end_ts, n_intervals, span_s). This is
    the range twin of sessionize (which gaps on POINT distance): shift
    coverage windows, on-call rotations, and lease/hold ranges all
    coalesce this way before any downstream overlap join.

    Island detection: per-user running max of interval end over
    PRECEDING rows (ordered by start, end, event_id); a row whose start
    exceeds every earlier end opens a new island; a running sum of
    those flags labels islands; one groupBy aggregates them. End
    offsets are floor(value·6e7) µs — one IEEE double product +
    explicit floor, bit-identical cross-engine (Spark's BIGINT cast
    truncates where DuckDB's rounds, so the floor is spelled out).

    Scale: both windows partition by user_id — no global window, no
    sort beyond each user's slice; the groupBy rides the same hash
    partitioning. Interval data arriving as (start, end) columns skips
    the synthesis select and enters at the window step.
    """
    iv = events.where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        # Nonnegative-duration contract (ADVICE r10): a negative value
        # would yield end_us < start_us — a degenerate interval whose
        # span_s division then diverges cross-engine (Spark div
        # truncates toward zero, DuckDB // floors). Filtered, not
        # clamped: a negative duration is malformed input, not a
        # zero-length interval.
        & (F.col("value") >= 0)
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * F.lit(6e7)).cast("long")
        ).alias("end_us"),
    )
    w = Window.partitionBy("user_id").orderBy("start_us", "end_us", "event_id")
    prev_max_end = F.max("end_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "__new",
        F.when(
            prev_max_end.isNull() | (F.col("start_us") > prev_max_end),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("user_id", "island")
        .agg(
            F.min("start_us").alias("__s"),
            F.max("end_us").alias("__e"),
            F.count("*").cast("long").alias("n_intervals"),
        )
        .select(
            "user_id",
            F.col("island").cast("long").alias("island"),
            F.timestamp_micros(F.col("__s")).alias("start_ts"),
            F.timestamp_micros(F.col("__e")).alias("end_ts"),
            "n_intervals",
            F.expr("(__e - __s) div 1000000").cast("long").alias("span_s"),
        )
        .orderBy("user_id", "island")
    )
