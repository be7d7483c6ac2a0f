"""Structured Streaming extension (SURVEY.md §2.9).

The reference has no streaming; its bitemporal model (append with
created_time, read latest-known) is the batch analogue of late-data
handling. Here we close the loop: a stream of events appends into the
feature store through foreachBatch, and the bitemporal read path absorbs
late/updated rows with no special casing — watermarks bound state, the
MVCC dedup resolves replays.

Ops:
- stream_events / stream_documents: file sources with canonical schemas
- windowed_event_stats: watermark + tumbling-window aggregation
- stream_into_feature: foreachBatch append into a FeatureStore feature
  (exactly-once per epoch via idempotent created_time stamping)
- sessionize: custom stateful operator (gap-based sessions) via
  applyInPandasWithState — the pattern for operators Spark lacks natively
- stream filters/joins (dedup, quality, decontamination, attribution,
  heavy hitters, ...): plain streaming DataFrames with batch twins

Monitors: every ``*Monitor`` is the streaming twin of a batch operator
and subclasses ``Monitor``, which owns the contract:

- ``attach(stream, checkpoint_dir) -> (query, monitor)`` starts the one
  availableNow foreachBatch query; each ``stream_*`` monitor function is
  ``XMonitor(...).attach(stream, checkpoint_dir)``.
- ``process_batch(batch_df, epoch_id=None)`` runs the subclass's
  ``_update``, then counts ``n_batches``, then commits the epoch's state
  snapshot, then stamps the epoch — state is only marked done after the
  work succeeded, so a failed batch's re-delivery is processed.
- ``ADDITIVE`` (class constant) declares the merge law. Additive
  merges (counts, sums, run extension) would count a re-delivered epoch
  twice, so a repeated ``epoch_id`` is skipped; idempotent merges (set
  union, max, bottom-k, top-k) re-process it harmlessly. Direct callers
  that pass no ``epoch_id`` get no dedup.
- Monitors whose state is Spark frames (all but the six that keep it on
  the driver: Count-Min, HLL, both KMV monitors, Lateness, weighted
  sample) commit it once per epoch as a parquet snapshot under
  ``{checkpoint_dir}/monitor_state`` (``streaming.snapshots``): written
  under ``<epoch>.tmp``, renamed to ``<epoch>``, read back as a file
  scan that Spark sizes by its files, so a small state merges in one
  task. ``attach`` first loads the newest complete snapshot, so the
  state survives a restart, and skips the re-delivered epoch it holds.
  The driver-state monitors restart empty.
- ``result()`` raises ``RuntimeError`` until a batch has been processed,
  then returns the subclass's ``_result()``.

Sketch monitors follow the ``operators.sketches`` kernels: one class
per mergeable sketch, with an optional group column giving one summary
per group value, and state kept on the driver. ``CountMinMonitor`` and
``HllDistinctMonitor`` take ``group_col=None`` (``stream_cms_by_group``
/ ``stream_hll_by_group`` set it); ``KMVDistinctMonitor`` (text
fingerprints per source) and ``GroupedKmvMonitor`` (integer keys per
group) collect each batch's KMV bottom-k and fold it into a
{group: sorted bottom-k} dict with the one ``_merge_bottom_k``, then
finish through ``sketches.kmv_estimate``.

Counting monitors whose state is a frame (histogram, band plan,
embedding drift, the quality gate's ``unique`` rules, transition
counts) merge it with the one ``Monitor._summed``: sum per key, in one
task when the state and the batch fit one. Every monitor with a batch
twin builds its per-batch state and its result() table with the twin's
own functions
(``events_ops.active_days`` / ``active_users_from_days``,
``transition_counts`` / ``transition_table``, ``funnel_count`` /
``funnel_table``, ``asof._band_bucket_counts`` /
``band_stats_from_counts`` + ``band_verdict``), so
stream == batch does not rest on two copies staying in step.
"""

from __future__ import annotations

import copy
import datetime as dt
import shutil
import tempfile
import time
import weakref
from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import timeseries as ts
from ..plans.iterate import eager_checkpoint
from . import snapshots

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, src_dir: str, max_files: int = 16) -> DataFrame:
    """Streaming read of an events directory (one parquet file per micro-batch
    group; swap for kafka/kinesis source in production)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def windowed_event_stats(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregate per event_type.

    The watermark bounds shuffle state at scale: late rows beyond it are
    dropped from the streaming agg but still land in the feature store via
    stream_into_feature, where bitemporal reads pick them up.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_into_feature(
    events: DataFrame,
    store,
    feature: str,
    checkpoint_dir: str,
    value_col: str = "value",
    trigger_seconds: int | None = None,
):
    """Append a stream into a feature: each micro-batch becomes a bitemporal
    append (created_time = batch wall-clock), so replays/late data resolve
    through the MVCC dedup on read."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = batch_df.select(
            F.col("ts").alias("time"),
            F.current_timestamp().alias("created_time"),
            F.col(value_col).alias("value"),
        )
        store.save_dataframe(out, feature)

    writer = events.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
):
    """Custom stateful streaming operator: gap-based sessionization per user
    via applyInPandasWithState. Emits a session row when the user goes
    quiet for `gap_minutes` (or the state times out past the watermark).

    State per key is O(1) (four scalars) — bounded memory at any scale.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "sum_value": [sv],
                }
            )
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000  # ns → µs
        vals = rows["value"].fillna(0.0)

        if state.exists:
            start_us, last_us, n, sv = state.get
        else:
            start_us, last_us, n, sv = None, None, 0, 0.0

        closed = []
        for t_us, v in zip(ts_us, vals):
            if start_us is None:
                start_us, last_us, n, sv = int(t_us), int(t_us), 1, float(v)
            elif t_us - last_us > gap_us:
                closed.append((start_us, last_us, n, sv))
                start_us, last_us, n, sv = int(t_us), int(t_us), 1, float(v)
            else:
                last_us, n, sv = int(t_us), n + 1, sv + float(v)

        state.update((start_us, last_us, n, sv))
        # Clamp to the watermark: a group whose last event already trails
        # the watermark by more than the gap (bulk replay, skewed keys in
        # a large micro-batch) would otherwise request a timeout in the
        # past, which GroupState rejects. watermark+1ms fires on the next
        # trigger — the gap deadline has passed, so the session is due.
        timeout_ms = last_us // 1000 + gap_minutes * 60 * 1000
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, *_ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, *_ in closed],
                    "n_events": [c[2] for c in closed],
                    "sum_value": [c[3] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (same semantics, pure DataFrame ops): lag +
    cumulative sum of gap-breaks per user — the classic Spark pattern."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    marked = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .drop("session_id")
    )


ONLINE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)

_ONLINE_STATE = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_eid", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)


def stream_online_features(events: DataFrame, watermark: str = "1 hour"):
    """Online feature serving: continuously maintain the latest value per
    (user, event_type) — the streaming twin of the A3 `fs.last()` path and
    of `events_ops.dedup_latest_per_key`.

    Emits an updated snapshot row (update mode) whenever a key's latest
    value changes; ties on event time break by event_id, matching the
    batch dedup window's ordering. State per key is O(1) (three scalars),
    so the online store's memory is #keys-bounded at any throughput —
    at production scale the sink is a key-value store fed from these
    updates.
    """

    def fn(
        key: Tuple[int, str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id, event_type = key
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        top = rows.iloc[-1]
        t_us = int(pd.Timestamp(top["ts"]).value // 1000)  # ns → µs
        eid = int(top["event_id"])
        val = None if pd.isna(top["value"]) else float(top["value"])
        if state.exists:
            lu, le, lv = state.get
            if (t_us, eid) < (lu, le):
                # batch was entirely late: state is unchanged, so emit
                # NOTHING — update-mode consumers (KV writers, CDC logs)
                # treat every emission as a change
                return
        state.update((t_us, eid, val))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_type": [event_type],
                "last_ts": [pd.Timestamp(t_us, unit="us")],
                "last_value": [val],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=ONLINE_SCHEMA,
            stateStructType=_ONLINE_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_anomaly_filter(
    events: DataFrame, baseline: DataFrame, n_sigma: float = 3.0
) -> DataFrame:
    """Streaming seasonal anomaly alerts: emit events deviating more than
    ``n_sigma`` sigma from their (event_type, hour-of-day) baseline AS
    THEY ARRIVE — the alerting twin of events_ops.seasonal_anomaly,
    sharing its baseline builder (events_ops.seasonal_baseline over the
    historical batch).

    Stateless by design, like stream_decontaminate: the baseline is a
    24 x |event_types| static frame broadcast to every task; the check is
    one narrow join + filter — no watermark, no state store, no streaming
    aggregation. Refresh cadence = however often the caller rebuilds the
    baseline frame (hourly/daily batch job); the stream never recomputes
    statistics.
    """
    hod = F.hour(F.col("ts"))
    dev = F.abs(F.col("value") - F.col("base_mean"))
    return (
        events.join(
            F.broadcast(baseline),
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
    )


def stream_dedup(
    events: DataFrame, watermark: str = "10 minutes", keys: Iterable[str] = ("event_id",)
) -> DataFrame:
    """Streaming exact dedup: drop replayed rows within the watermark
    horizon (at-least-once sources -> effectively-once sink).

    ``dropDuplicatesWithinWatermark`` keeps key state only until the
    watermark passes, so state is bounded at scale — the streaming twin of
    the batch ``operators.dedup.exact_dedup`` / bitemporal A1 dedup: the
    stream sheds duplicate *deliveries*; replays later than the watermark
    still land and are resolved by the bitemporal read path.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def stream_documents(spark: SparkSession, src_dir: str, max_files: int = 16) -> DataFrame:
    """Streaming read of a documents directory (doc_id, ts, text)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def _doc_quality() -> F.Column:
    """Quality score over a text column — same linear signal as
    operators.text.text_stats (length + stopword ratio), inlined so the
    stream stays one stateless codegen stage."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "and", "of", "to")])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    stop_ratio = n_stop.cast("double") / n_words
    return (
        F.lit(0.5) * F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.5) * (F.lit(1.0) - stop_ratio)
    )


def stream_quality_filter(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """Streaming corpus curation, stage 1: stateless quality gate.

    Adds quality_score and n_tokens, drops docs below the threshold. Pure
    JVM expressions — at production throughput this is a narrow map with
    no state, so it scales with input partitions alone.
    """
    return (
        docs.withColumn("quality_score", _doc_quality())
        .withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
        .where(F.col("quality_score") >= min_quality)
    )


def stream_curation_stats(
    docs: DataFrame,
    min_quality: float = 0.5,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming corpus curation, stage 2: watermarked tumbling-window
    accounting of the retained corpus (docs kept, tokens kept) — the
    live dashboard counterpart of the batch curation_pipeline."""
    kept = stream_quality_filter(docs, min_quality)
    return (
        kept.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs_kept",
            "tokens_kept",
        )
    )


def curation_stats_batch(
    docs: DataFrame, min_quality: float = 0.5, window: str = "10 minutes"
) -> DataFrame:
    """Batch twin of stream_curation_stats for equivalence testing."""
    kept = stream_quality_filter(docs, min_quality)
    return (
        kept.groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs_kept",
            "tokens_kept",
        )
    )


def benchmark_shingle_set(benchmark: DataFrame, n: int = 4) -> DataFrame:
    """Distinct word n-gram shingles of an eval/benchmark corpus, packed
    into ONE sorted array row. Eval benchmarks are small by construction
    (thousands of prompts), so the packed set broadcasts to every task —
    the static side of streaming decontamination."""
    from ..operators.dedup import shingle_sets

    return shingle_sets(benchmark, n=n).agg(
        F.array_sort(F.collect_set("shingle")).alias("bench_shingles")
    )


def _decontaminate_cols(docs: DataFrame, bench_set: DataFrame, n: int) -> DataFrame:
    from ..operators.dedup import word_ngrams

    shingles = F.when(
        F.size("__w") >= n, F.array_distinct(word_ngrams(n))
    ).otherwise(F.array())
    return (
        docs.withColumn("__w", F.split(F.col("text"), " "))
        .withColumn("__sh", shingles)
        .join(F.broadcast(bench_set))
        .withColumn(
            "n_hit_shingles", F.size(F.array_intersect("__sh", "bench_shingles"))
        )
        .withColumn("is_contaminated", F.col("n_hit_shingles") > 0)
        .drop("__w", "__sh", "bench_shingles")
    )


def stream_decontaminate(
    docs: DataFrame, benchmark_set: DataFrame, n: int = 4
) -> DataFrame:
    """Streaming benchmark decontamination: flag documents sharing any
    word n-gram with the eval set AS THEY ARRIVE — leaked eval answers
    never reach the training corpus in the first place.

    Stateless by design: the benchmark shingle set (benchmark_shingle_set)
    rides in as a broadcast single-row static frame, and the overlap count
    is array_intersect against the doc's own shingle array — no
    stream-side explode, no streaming aggregation, no watermark or state
    store. One narrow codegen stage that scales with input partitions
    alone, unlike the batch semi-join (operators.dedup.decontaminate)
    whose per-shingle join would need a stateful streaming agg to
    reassemble per-doc counts.
    """
    return _decontaminate_cols(docs, benchmark_set, n)


def decontaminate_flags_batch(
    docs: DataFrame, benchmark: DataFrame, n: int = 4
) -> DataFrame:
    """Batch twin of stream_decontaminate (same expression tree) for
    stream-vs-batch equality tests and the SQL oracle."""
    return _decontaminate_cols(docs, benchmark_shingle_set(benchmark, n), n)


def _lsh_band_rows(
    docs: DataFrame, n_hashes: int, bands: int, ngram: int
) -> DataFrame:
    """(doc_id, ts, band, bh) rows — stateless, shared by stream and batch.

    Hash parity with operators.dedup.minhash_signatures: the per-shingle
    double-hash bases come from the same engine-portable FNV-1a code-point
    fold (operators.hashing — one vectorized Arrow pass over the flattened
    shingle stream), and the 64-way min loop runs in a vectorized numpy
    pandas UDF — the same split the batch kernel uses, so stream, batch,
    and the DuckDB oracle agree on every bucket id.
    """
    from ..operators.dedup import _band_fold, word_ngrams
    from ..operators.hashing import MINHASH_PRIME as P

    r = n_hashes // bands

    @F.pandas_udf("h1 array<long>, h2 array<long>")
    def _hh_arr(shs: pd.Series) -> pd.DataFrame:
        import numpy as np

        from ..operators.hashing import shingle_h1_h2_np

        lists = [list(v) if v is not None else [] for v in shs]
        lens = [len(v) for v in lists]
        flat = [s for v in lists for s in v]
        h1f, h2f = shingle_h1_h2_np(flat)
        cuts = np.cumsum(lens)[:-1]
        return pd.DataFrame(
            {"h1": np.split(h1f, cuts), "h2": np.split(h2f, cuts)}
        )

    with_h = (
        docs.withColumn("__w", F.split(F.col("text"), " "))
        .where(F.size("__w") >= ngram)
        .withColumn("__sh", F.array_distinct(word_ngrams(ngram)))
        .withColumn("__hh", _hh_arr(F.col("__sh")))
        .withColumn("__h1", F.col("__hh.h1"))
        .withColumn("__h2", F.col("__hh.h2"))
        .drop("__w", "__sh", "__hh", "text")
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for h1, h2 in zip(h1s, h2s):
            a1 = np.asarray(h1, dtype=np.int64)
            a2 = np.asarray(h2, dtype=np.int64)
            js = np.arange(n_hashes, dtype=np.int64)
            out.append(((a1[None, :] + js[:, None] * a2[None, :]) % P).min(axis=1))
        return pd.Series(out)

    sig = with_h.withColumn("sig", sig_udf("__h1", "__h2")).drop("__h1", "__h2")
    band_cols = [
        F.struct(F.lit(b).alias("band"), F.expr(_band_fold(b, r)).alias("bh"))
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", "ts", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "ts", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def stream_dedup_lsh(
    docs: DataFrame,
    n_hashes: int = 64,
    bands: int = 32,
    ngram: int = 3,
    watermark: str = "1 hour",
    window: str = "10 minutes",
) -> DataFrame:
    """Streaming near-duplicate detection: chained stateful LSH dedup.

    Pipeline (all bounded state):
      1. stateless per-row MinHash signature + banded bucket ids
         (_lsh_band_rows — bit-identical buckets to the batch operator);
      2. ``dropDuplicatesWithinWatermark`` on (band, bh): keyed state keeps
         the FIRST row per bucket inside the watermark horizon, so a later
         doc sharing a bucket loses that band row;
      3. windowed count of surviving band rows per doc — emitted on
         watermark close with ``is_novel = (n_novel_bands = bands)``.

    A doc is flagged non-novel when ANY of its band buckets was already
    claimed inside the horizon — the streaming twin of
    operators.dedup.minhash_lsh_pairs candidate generation, with the
    horizon bounding state exactly like any watermarked join. Two stateful
    operators chain in append mode; state per bucket is one row, state per
    window is one count — both O(active keys), never O(corpus).

    Caveats (inherent to streaming LSH): which member of a same-batch
    near-dup pair survives is arrival-order-dependent (both can lose bands
    and neither be fully novel), and docs recurring beyond the watermark
    re-register as novel — the batch pipeline over the stored corpus
    remains the ground truth, exactly like the bitemporal read path
    backstops windowed_event_stats.
    """
    rows = _lsh_band_rows(docs, n_hashes, bands, ngram).withWatermark(
        "ts", watermark
    )
    survivors = rows.dropDuplicatesWithinWatermark(["band", "bh"])
    counted = (
        survivors.groupBy(F.window("ts", window).alias("w"), "doc_id")
        .agg(F.count("*").alias("n_novel_bands"))
        .select(
            F.col("w.start").alias("window_start"),
            "doc_id",
            "n_novel_bands",
            (F.col("n_novel_bands") == F.lit(bands)).alias("is_novel"),
        )
    )
    return counted


def dedup_lsh_batch(
    docs: DataFrame, n_hashes: int = 64, bands: int = 32, ngram: int = 3
) -> DataFrame:
    """Batch twin of stream_dedup_lsh (oracle for tests): first-seen per
    bucket ordered by (ts, doc_id), then per-doc surviving-band count."""
    from pyspark.sql import Window

    rows = _lsh_band_rows(docs, n_hashes, bands, ngram)
    w = Window.partitionBy("band", "bh").orderBy("ts", "doc_id")
    survivors = rows.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    return (
        survivors.groupBy("doc_id")
        .agg(F.count("*").alias("n_novel_bands"))
        .select(
            "doc_id",
            "n_novel_bands",
            (F.col("n_novel_bands") == F.lit(bands)).alias("is_novel"),
        )
    )


def _attribution_join_cond(click, purchase, within: str):
    return (
        (click["user_id"] == purchase["p_user_id"])
        & (purchase["p_ts"] >= click["ts"])
        & (purchase["p_ts"] <= click["ts"] + F.expr(f"INTERVAL {within}"))
    )


def stream_attribution_join(
    events: DataFrame, within: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to any click by
    the same user within ``within`` before the purchase.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can expire join state — the only way a
    stream-stream join survives unbounded input. Late rows beyond the
    watermark drop out of attribution but still reach storage via
    stream_into_feature (bitemporal reads see them).
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("value").alias("click_value"))
        .withWatermark("ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event_id"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(purchases, _attribution_join_cond(clicks, purchases, within))
    return joined.select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        "click_value",
        F.col("p_ts").alias("purchase_ts"),
        "p_event_id",
        F.col("p_value").alias("purchase_value"),
    )


def attribution_join_batch(events: DataFrame, within: str = "1 hour") -> DataFrame:
    """Batch twin of stream_attribution_join (oracle for tests)."""
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    joined = clicks.join(purchases, _attribution_join_cond(clicks, purchases, within))
    return joined.select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        "click_value",
        F.col("p_ts").alias("purchase_ts"),
        "p_event_id",
        F.col("p_value").alias("purchase_value"),
    )


def _pq_code_key(codes_col: str = "codes") -> F.Column:
    """Collision-free string key for an m-tuple of PQ codes (codes are
    < ksub <= 2^31, '-' never appears in an int rendering)."""
    return F.concat_ws("-", F.col(codes_col))


def stream_pq_novelty(
    vecs: DataFrame,
    codebooks,
    stored_codes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming PQ novelty: arriving vectors are PQ-encoded with the
    broadcast codebooks (KBs, trained offline on the historical corpus)
    and checked against the STORED code table — a vector is novel iff no
    historical vector quantizes to the same m-code pattern (its PQ
    Voronoi compartment is empty).

    Plan: stateless Arrow encode per micro-batch, then a stream-static
    left join on the code key against an aggregated-once static side —
    no streaming state at all; the historical side is the stored PQ index
    (16 B/vector), re-broadcast or shuffled by the join as its size
    dictates. The micro-batch cost is O(batch), independent of corpus
    history — the property that makes the pattern viable at 100 TB.
    """
    from ..operators.pq import pq_encode

    enc = pq_encode(vecs, codebooks, id_col=id_col, vec_col=vec_col)
    hist = (
        stored_codes.select(_pq_code_key().alias("code_key"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    return (
        enc.withColumn("code_key", _pq_code_key())
        .join(hist, "code_key", "left")
        .select(
            id_col,
            "code_key",
            F.col("__seen").isNull().alias("is_novel"),
        )
    )


def pq_novelty_batch(
    new_vecs: DataFrame,
    historical: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch twin of stream_pq_novelty (codebooks trained on the
    historical corpus, both sides encoded with them) — the stream==batch
    equality oracle, and the backfill path over a stored corpus."""
    from ..operators.pq import pq_encode, train_codebooks

    books = train_codebooks(historical, id_col=id_col, vec_col=vec_col)
    hist_codes = pq_encode(historical, books, id_col=id_col, vec_col=vec_col)
    return stream_pq_novelty(
        new_vecs, books, hist_codes, id_col=id_col, vec_col=vec_col
    )


def stream_heavy_hitters(
    events: DataFrame,
    min_support: int = 4,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming heavy hitters: users whose event count inside a tumbling
    window reaches ``min_support`` — the abuse/bot/hot-key detector that
    must run ON the stream (by the time a batch job sees the data, the
    flood already happened).

    One watermarked windowed aggregation (incremental, merge-combined
    state: one counter per active (window, user) — bounded by the
    watermark horizon, never by history), filtered on the support
    threshold, emitted on window close in append mode. The same shape
    Spark uses for any windowed count; the support filter is stateless.

    Support-threshold semantics (not top-k): thresholds compose with
    append-mode emission, while a true per-window top-k would need a
    second stateful ranking pass over closed windows — that ranking is
    the batch twin's job (heavy_hitters_batch orders by count).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .where(F.col("n_events") >= min_support)
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )


def heavy_hitters_batch(
    events: DataFrame, min_support: int = 4, window: str = "6 hours"
) -> DataFrame:
    """Batch twin of stream_heavy_hitters (oracle for tests and the
    backfill path), ranked within each window."""
    from pyspark.sql import Window as W

    counts = (
        events.groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .where(F.col("n_events") >= min_support)
    )
    rk = W.partitionBy("w").orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    return (
        counts.withColumn("rank", F.row_number().over(rk))
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "rank",
        )
        .orderBy("window_start", "rank")
    )


class Monitor:
    """Base of the streaming monitors (see the module docstring for the
    contract). Subclasses implement ``_update(batch_df, epoch_id)`` and
    ``_result()``, and set ``ADDITIVE = True`` when their merge would
    double-count a re-delivered epoch.

    ``process_batch`` hands ``_update`` the batch through ``ts.narrow``:
    a micro-batch whose files fit one task is ``coalesce(1)``, so each of
    the monitor's per-batch jobs runs as one task with no exchange (a
    Count-Min batch of the ingest benchmark: 1 job, was 2). Larger
    batches are unchanged. Every merge is over the batch's whole rows,
    never its partitioning, so stream == batch holds either way.

    A monitor whose state is Spark frames names them: ``STATE``, the
    attributes holding a frame ``_update`` rebuilds whole; ``PARTS``, the
    append-only ones, to which ``_update`` hands only the epoch's
    additions (``_append``); ``DRIVER``, Python values (JSON) kept with
    them. Each epoch ends in one commit (``streaming.snapshots``): the
    frames are written as parquet under ``<epoch>.tmp``, renamed to
    ``<epoch>`` once, and read back with their recorded schema through
    ``ts.narrow``, so each is a file scan sized by its files and a small
    state merges in one task. The newest two snapshots are kept; parts stay while a kept
    snapshot lists them. ``attach`` keeps the snapshots under
    ``{checkpoint_dir}/monitor_state`` and first loads the newest complete
    one, so state survives a restart; a direct ``process_batch`` caller's
    go to a temporary directory of the instance. A batch that fails
    before its commit leaves the state as it was.

    ``metrics`` holds one record per processed batch: its epoch, the
    parquet files and bytes of the committed state (from the snapshot's
    listing, no Spark job) and the batch's wall time in ms."""

    ADDITIVE = False
    STATE: tuple[str, ...] = ()
    PARTS: tuple[str, ...] = ()
    DRIVER: tuple[str, ...] = ()
    # class-level defaults; the first write shadows them per instance
    n_batches = 0
    _last_epoch: int | None = None
    _loaded_epoch: int | None = None  # the epoch of the snapshot attach loaded
    _root: str | None = None  # where the snapshots go
    _epoch: str  # the name of this batch's snapshot and parts

    def __init__(self):
        self.metrics: list[dict] = []
        self._snaps: list[str] = []  # the kept snapshots, newest last
        self._schemas: dict[str, str] = {}  # frame -> schema JSON
        self._parts: dict[str, list] = {}  # frame -> [[epoch, files, bytes], ...]
        self._pending: dict[str, list] = {}  # frame -> this epoch's part

    def attach(self, stream: DataFrame, checkpoint_dir: str):
        """Run this monitor over ``stream`` as an availableNow
        foreachBatch query, from the newest state snapshot under
        ``checkpoint_dir`` when there is one. Returns (StreamingQuery,
        monitor) — read monitor.result() after the query terminates (or
        periodically while it runs)."""
        if self._frame_state():
            self._root = f"{checkpoint_dir}/monitor_state"
            self._load(stream.sparkSession)
        q = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        return q, self

    def process_batch(
        self, batch_df: DataFrame, epoch_id: int | None = None
    ) -> None:
        # foreachBatch re-delivers an uncommitted epoch under the SAME
        # epoch_id after a restart, so equality is the replay test; the
        # epoch of a loaded snapshot is held whatever the merge law
        if epoch_id is not None and epoch_id == self._last_epoch and (
            self.ADDITIVE or epoch_id == self._loaded_epoch
        ):
            return
        t0 = time.perf_counter()
        self._epoch = str(self.n_batches if epoch_id is None else epoch_id)
        frames, driver, n_batches = (
            self._frames(), copy.deepcopy(self._driver()), self.n_batches
        )
        try:
            self._update(ts.narrow(batch_df), epoch_id)
            self.n_batches += 1
            if self._frame_state():
                self._commit(batch_df.sparkSession, epoch_id)
        except BaseException:  # uncommitted: back to the state before
            self._set_frames(frames)
            for name, value in driver.items():
                setattr(self, name, value)
            self.n_batches, self._pending = n_batches, {}
            raise
        self._last_epoch = epoch_id
        files, nbytes = self._state_size(batch_df.sparkSession)
        self.metrics.append({
            "epoch": epoch_id, "state_files": files, "state_bytes": nbytes,
            "batch_ms": (time.perf_counter() - t0) * 1000.0,
        })

    def _ready(self) -> bool:
        return self.n_batches > 0

    def result(self):
        """The monitor's state as its batch twin's output table; raises
        RuntimeError before any micro-batch was processed."""
        if not self._ready():
            raise RuntimeError(
                f"{type(self).__name__}.result() before any micro-batch "
                "was processed"
            )
        return self._result()

    # -- frame state: one snapshot per epoch ---------------------------

    def _frame_state(self) -> bool:
        return bool(self.STATE or self.PARTS)

    def _frames(self) -> dict[str, DataFrame | None]:
        """The state frames by name: the ``STATE`` and ``PARTS``
        attributes."""
        return {n: getattr(self, n) for n in (*self.STATE, *self.PARTS)}

    def _set_frames(self, frames: dict[str, DataFrame | None]) -> None:
        """Replace the state frames with ``frames`` (missing ones: None)."""
        for n in (*self.STATE, *self.PARTS):
            setattr(self, n, frames.get(n))

    def _driver(self) -> dict:
        return {n: getattr(self, n) for n in self.DRIVER}

    def _state_root(self) -> str:
        if self._root is None:  # a direct caller's: the instance's own
            self._root = tempfile.mkdtemp(prefix="monitor_state_")
            weakref.finalize(self, shutil.rmtree, self._root, True)
        return self._root

    def _append(self, frame: str, additions: DataFrame) -> None:
        """Write this epoch's ``additions`` to the append-only ``frame``
        as a part that its snapshot, and every later one, lists."""
        self._pending[frame] = snapshots.write_part(
            additions.sparkSession, self._state_root(), frame, self._epoch, additions
        )
        self._schemas[frame] = additions.schema.json()

    def _commit(self, spark: SparkSession, epoch_id: int | None) -> None:
        """Write the epoch's snapshot, rename it into place, read the
        frames back from it and keep the newest two snapshots."""
        root = self._state_root()
        whole = {
            n: df for n, df in self._frames().items()
            if df is not None and n not in self.PARTS
        }
        self._schemas.update({n: df.schema.json() for n, df in whole.items()})
        parts = dict(self._parts)
        for frame, part in self._pending.items():
            parts[frame] = [*parts.get(frame, []), part]
        meta = {
            "epoch": epoch_id, "n_batches": self.n_batches, "frames": list(whole),
            "schemas": self._schemas, "parts": parts, "driver": self._driver(),
        }
        path = snapshots.commit(spark, root, self._epoch, whole, meta)
        frames = self._frames()
        frames.update(self._read(spark, path, meta, [*whole, *self._pending]))
        self._set_frames(frames)
        self._parts, self._pending = parts, {}
        self._snaps = [*self._snaps[-1:], path]
        snapshots.prune(spark, root, set(self._snaps))

    def _read(self, spark, path: str, meta: dict, names) -> dict[str, DataFrame]:
        """Frames ``names`` of the snapshot at ``path``."""
        return {
            n: snapshots.read(
                spark,
                snapshots.part_paths(self._root, n, meta["parts"][n])
                if n in meta["parts"] else [f"{path}/{n}"],
                meta["schemas"][n],
            )
            for n in names
        }

    def _load(self, spark: SparkSession) -> None:
        """Take the state of the newest complete snapshot under the root,
        and delete what a torn commit left."""
        found = snapshots.newest(spark, self._root)
        if found is None:
            return
        path, meta = found
        self._set_frames(self._read(spark, path, meta, [*meta["frames"], *meta["parts"]]))
        for name, value in meta["driver"].items():
            setattr(self, name, value)
        self.n_batches = meta["n_batches"]
        self._last_epoch = self._loaded_epoch = meta["epoch"]
        self._schemas, self._parts, self._snaps = meta["schemas"], meta["parts"], [path]
        snapshots.prune(spark, self._root, {path})
        snapshots.prune_parts(spark, self._root, meta["parts"])

    def _state_size(self, spark: SparkSession) -> tuple[int, int]:
        """(parquet files, bytes) of the committed state: the newest
        snapshot's listing plus its parts' recorded sizes."""
        if not self._snaps:
            return 0, 0
        files, nbytes = snapshots.size(spark, f"{self._snaps[-1]}/*/*.parquet")
        for listed in self._parts.values():
            files += sum(p[1] for p in listed)
            nbytes += sum(p[2] for p in listed)
        return files, nbytes

    @staticmethod
    def _frame_from_rows(rows: list, schema) -> DataFrame:
        """result() frame of a monitor that keeps its state in Python, in
        one partition (row order kept): its rows are bounded, and a
        parallelized frame would be one task per core."""
        return SparkSession.getActiveSession().createDataFrame(rows, schema).coalesce(1)

    @staticmethod
    def _summed(
        state: DataFrame | None, batch: DataFrame, keys: list[str], sums: list[str]
    ) -> DataFrame:
        """The additive frame merge: ``batch`` (one row per key) folded
        into ``state`` by summing ``sums`` per ``keys``, in one task when
        both fit one (``ts.narrow``); the epoch's commit writes it. Sums
        commute, so any batching and arrival order give the same frame;
        they are not idempotent, hence ADDITIVE on the callers."""
        if state is None:
            return batch
        return ts.narrow(state.unionByName(batch)).groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in sums]
        )


class LatenessMonitor(Monitor):
    """Incremental out-of-order-arrival monitor — the STREAMING twin of
    events_ops.lateness_audit, and the component that answers "is my
    withWatermark big enough?" while the stream runs.

    foreachBatch + O(1) driver state: each micro-batch runs the
    DISTRIBUTED two-pass lateness kernel with the carried-in global
    arrival-prefix max as a floor (cummax is associative, so chunked
    processing equals the one-shot batch audit when batches respect
    arrival order), then merges the per-type counter deltas into a tiny
    driver dict (counts add, max_late maxes). State is one scalar plus
    #event_types counter rows — bounded at any scale; the per-batch work
    is the same shuffle-light kernel the batch audit runs. Counts add,
    so a re-delivered epoch is skipped (ADDITIVE).
    """

    ADDITIVE = True

    def __init__(self, arrival_col: str = "event_id"):
        super().__init__()
        self.arrival_col = arrival_col
        self.max_us: int | None = None
        self.totals: dict[str, list[int]] = {}

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators import events_ops

        rows = events_ops.lateness_audit(
            batch_df, arrival_col=self.arrival_col, prior_max_us=self.max_us
        ).collect()
        if not rows:
            return
        for r in rows:
            t = self.totals.setdefault(r["event_type"], [0, 0, 0, 0, 0])
            t[0] += r["n_events"]
            t[1] += r["n_late"]
            t[2] = max(t[2], r["max_late_us"])
            t[3] += r["n_late_gt_1m"]
            t[4] += r["n_late_gt_1h"]
        m = batch_df.agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        ).first()[0]
        if m is not None:
            self.max_us = m if self.max_us is None else max(self.max_us, m)

    def _result(self) -> pd.DataFrame:
        """Counters so far, in the batch audit's column layout."""
        return pd.DataFrame(
            [
                {
                    "event_type": k,
                    "n_events": v[0],
                    "n_late": v[1],
                    "max_late_us": v[2],
                    "n_late_gt_1m": v[3],
                    "n_late_gt_1h": v[4],
                }
                for k, v in sorted(self.totals.items())
            ]
        )


def stream_lateness_monitor(
    events: DataFrame,
    checkpoint_dir: str,
    arrival_col: str = "event_id",
):
    """Attach a LatenessMonitor to an event stream. Returns
    (StreamingQuery, monitor) — read monitor.result() after
    processAllAvailable() (or periodically while running)."""
    return LatenessMonitor(arrival_col=arrival_col).attach(events, checkpoint_dir)


class FunnelMonitor(Monitor):
    """Incremental ordered-funnel maintenance — the STREAMING twin of
    events_ops.funnel. Contract (same as LatenessMonitor): micro-batches
    arrive in event-time order; under that contract each user's stage
    time is FINAL once set (step i is the earliest step-i event after
    t_{i-1}, and later batches only carry later timestamps), so the
    per-batch update is ``coalesce(existing, batch candidate)``.

    Disorder tolerance (MEASURED, tests/test_round6.py): if batches
    violate the contract, step-1 reach is still exact (every step-1
    arrival coalesces into t1), and steps >= 2 can only UNDER-count —
    a late-arriving earlier step-1 event is ignored, so intermediate
    step events between the true and kept t1 are lost; the funnel never
    fabricates a conversion. A stream that can be out of order should
    be watermark-sorted upstream (sessionize's pattern) before this
    monitor.

    State is a DISTRIBUTED DataFrame (user_id, t1..tk) — not a driver
    dict: per-user funnel state at corpus scale belongs on executors.
    Each batch costs k-1 user-keyed joins + aggregations against batch
    data only, and the epoch's commit writes the state frame as a
    parquet snapshot and reads it back (``Monitor``), so the lineage
    does not grow with batch count and a restart resumes from it.
    ``result()`` counts each step's reached users with
    events_ops.funnel_count and finishes them with
    events_ops.funnel_table, the batch op's own code — equality is
    pinned in tests/test_round3c.py.
    """

    STATE = ("state",)

    def __init__(self, steps: tuple[str, ...] = ("view", "click", "purchase")):
        super().__init__()
        if len(steps) < 2:
            raise ValueError("funnel needs at least 2 steps")
        self.steps = steps
        self.state: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        b = batch_df.select("user_id", "event_type", "ts")
        k = len(self.steps)
        tcols = [f"t{i}" for i in range(1, k + 1)]
        st = self.state
        if st is None:
            st = ts.empty(
                batch_df.sparkSession,
                "user_id long, " + ", ".join(f"{c} timestamp" for c in tcols),
            )
        # step 1: earliest step-1 event ever seen (final under ordered
        # arrival once set)
        a1 = (
            b.where(F.col("event_type") == self.steps[0])
            .groupBy("user_id")
            .agg(F.min("ts").alias("__b1"))
        )
        st = st.join(a1, "user_id", "full_outer").withColumn(
            "t1", F.coalesce("t1", "__b1")
        ).drop("__b1")
        # steps 2..k: earliest batch step-i event after the (possibly
        # just-updated) t_{i-1}
        for i, s in enumerate(self.steps[1:], start=2):
            ai = (
                b.where(F.col("event_type") == s)
                .join(
                    st.select("user_id", f"t{i - 1}").where(
                        F.col(f"t{i - 1}").isNotNull()
                    ),
                    "user_id",
                )
                .where(F.col("ts") > F.col(f"t{i - 1}"))
                .groupBy("user_id")
                .agg(F.min("ts").alias(f"__b{i}"))
            )
            st = st.join(ai, "user_id", "left").withColumn(
                f"t{i}", F.coalesce(f"t{i}", f"__b{i}")
            ).drop(f"__b{i}")
        self.state = st.select("user_id", *tcols)

    def _result(self) -> DataFrame:
        """Per-step reached-user counts + ppm conversions, finished by
        events_ops.funnel's own funnel_count / funnel_table."""
        from ..operators.events_ops import funnel_count, funnel_table

        counts = None
        for i, step in enumerate(self.steps, start=1):
            c = funnel_count(
                self.state.where(F.col(f"t{i}").isNotNull()), i, step
            )
            counts = c if counts is None else counts.unionByName(c)
        return funnel_table(counts)


def stream_funnel_monitor(
    events: DataFrame,
    checkpoint_dir: str,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
):
    """Attach a FunnelMonitor to an event stream. Returns
    (StreamingQuery, monitor) — read monitor.result() after
    processAllAvailable()."""
    return FunnelMonitor(steps=steps).attach(events, checkpoint_dir)


class ActiveUsersMonitor(Monitor):
    """Incremental DAU/WAU maintenance — streaming twin of
    events_ops.active_users. State is the distinct (user_id, day) set
    (events_ops.active_days of each batch) as a DISTRIBUTED DataFrame;
    merging a batch is union + distinct, which is ORDER-INDEPENDENT —
    unlike the funnel monitor this twin needs no arrival-order contract
    at all (late or replayed events land in the same set). State grows
    with users x active-days, not events; the epoch's snapshot commit
    (``Monitor``) keeps lineage flat and survives a restart. result() is
    events_ops.active_users_from_days over the accumulated set — the
    batch op's own finish.
    """

    STATE = ("state",)

    def __init__(self, window_days: int = 7):
        super().__init__()
        self.window_days = window_days
        self.state: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.events_ops import active_days

        b = active_days(batch_df)
        self.state = (
            b if self.state is None
            else ts.narrow(self.state.unionByName(b)).distinct()
        )

    def _result(self) -> DataFrame:
        from ..operators.events_ops import active_users_from_days

        return active_users_from_days(self.state, self.window_days)


def stream_active_users(
    events: DataFrame, checkpoint_dir: str, window_days: int = 7
):
    """Attach an ActiveUsersMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return ActiveUsersMonitor(window_days=window_days).attach(events, checkpoint_dir)


class KMVDistinctMonitor(Monitor):
    """Streaming per-source distinct-cardinality estimation — twin of
    dedup.kmv_source_distinct(include_exact=False). State is the merged
    KMV bottom-k sketch on the driver, {source: sorted bottom-k hashes}
    (≤ k values PER SOURCE, never more than k·n_sources regardless of
    stream length — contrast ActiveUsersMonitor, whose state grows with
    the data), on the one KMV kernel (operators.sketches.kmv_bottom_k /
    kmv_estimate). Each batch's sketch is collected (≤ k rows per
    source) and merged by _merge_bottom_k, the merge GroupedKmvMonitor
    runs: KMV sketches are MERGEABLE and set union is order-independent
    and idempotent, so replays and late arrivals land in the identical
    sketch and result() equals the batch op on the union of all
    batches, row for row. The source column keeps its type (the schema
    of the batch sketch is kept for result())."""

    def __init__(self, k: int = 256):
        super().__init__()
        self.k = k
        self.hashes: dict[object, list[int]] = {}  # source -> sorted bottom-k
        self._schema = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.dedup import kmv_fingerprints
        from ..operators.sketches import kmv_bottom_k

        b = kmv_bottom_k(kmv_fingerprints(batch_df), self.k, ["src"])
        if self._schema is None:
            self._schema = b.schema
        _merge_bottom_k(self.hashes, b.collect(), "src", self.k)

    def _result(self) -> DataFrame:
        from ..operators.sketches import kmv_estimate

        rows = [(g, h) for g, hs in self.hashes.items() for h in hs]
        sketch = self._frame_from_rows(rows, self._schema)
        return kmv_estimate(sketch, self.k, ["src"]).orderBy("src")


def stream_kmv_distinct(docs: DataFrame, checkpoint_dir: str, k: int = 256):
    """Attach a KMVDistinctMonitor to a documents stream. Returns
    (StreamingQuery, monitor)."""
    return KMVDistinctMonitor(k=k).attach(docs, checkpoint_dir)


class RetentionMonitor(Monitor):
    """Streaming weekly cohort retention — twin of
    events_ops.retention_cohorts. State is ONE row per user:
    (user_id, cohort week, active-week BITMASK) — bit w set means "active
    in cohort_week + w". The mask bounds per-user state at a single
    BIGINT forever (vs. keeping the (user, week) activity pairs), so
    state size is exactly the user dimension, not users × weeks.

    Arrival contract: NONE — unlike FunnelMonitor/LatenessMonitor, this
    monitor is fully order-independent. The cohort is the MIN week ever
    seen for the user (not first-arrival week): when a late batch
    carries an earlier first event, the cohort moves back and the
    existing mask is left-shifted by the week delta, so every
    previously-set bit keeps its meaning relative to the new cohort
    (shifts compose additively, ORs commute — the final state equals
    the batch op's for ANY arrival permutation, pinned by a shuffled-
    batch test in tests/test_round6.py). Offsets beyond 62 weeks are
    dropped at update AND shift time (the batch op's max_weeks cap is
    far below; 63 keeps the shift off the sign bit — a bit whose final
    offset exceeds 62 is dropped under either arrival order, so the cap
    itself is order-consistent: the final cohort is ≤ any intermediate
    cohort, hence final offsets only grow).

    result() replays the retention triangle from state with a
    sequence-explode + bit test — count(*) suffices because state holds
    one row per user. Equality with the batch op is pinned in
    tests/test_round5.py + the arrival-permutation test in
    tests/test_round6.py.
    """

    STATE = ("state",)

    def __init__(self, max_weeks: int = 8):
        super().__init__()
        self.max_weeks = int(max_weeks)
        self.state: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        b = batch_df.select(
            "user_id", F.date_trunc("week", F.col("ts")).alias("__wk")
        )
        agg = b.groupBy("user_id").agg(
            F.min("__wk").alias("__bmin"), F.collect_set("__wk").alias("__wks")
        )
        st = self.state
        if st is None:
            st = ts.empty(
                batch_df.sparkSession, "user_id long, cohort timestamp, mask long"
            )
        merged = (
            st.join(agg, "user_id", "full_outer")
            # cohort = min week ever seen (order-independent); when it
            # moves back, shift the existing bits by the week delta so
            # bit w still means "active in cohort + w"
            .withColumn(
                "__new_cohort",
                F.when(F.col("cohort").isNull(), F.col("__bmin"))
                .when(F.col("__bmin").isNull(), F.col("cohort"))
                .otherwise(F.least("cohort", "__bmin")),
            )
            .withColumn(
                "__shift",
                F.expr(
                    "CASE WHEN cohort IS NULL THEN 0 "
                    "ELSE CAST(datediff(cohort, __new_cohort) / 7 AS INT) END"
                ),
            )
            .withColumn(
                "mask",
                F.expr(
                    # shiftleft past bit 62 must drop (offset > cap);
                    # the & clears bit 63 (sign), Java's long shift
                    # already drops bits past 63
                    "CASE WHEN mask IS NULL OR __shift > 62 "
                    "THEN CAST(0 AS BIGINT) "
                    "ELSE shiftleft(mask, __shift)"
                    " & 9223372036854775807 END"
                ),
            )
            .withColumn("cohort", F.col("__new_cohort"))
            .withColumn(
                "mask",
                F.expr(
                    "aggregate(coalesce(__wks, array()), mask, (acc, w) -> "
                    "acc | CASE WHEN CAST(datediff(w, cohort) / 7 AS INT) "
                    "BETWEEN 0 AND 62 THEN shiftleft(CAST(1 AS BIGINT), "
                    "CAST(datediff(w, cohort) / 7 AS INT)) "
                    "ELSE CAST(0 AS BIGINT) END)"
                ),
            )
        )
        self.state = merged.select("user_id", "cohort", "mask")

    def _result(self) -> DataFrame:
        """Same table shape as events_ops.retention_cohorts."""
        st = self.state
        return (
            st.select(
                "user_id",
                F.col("cohort"),
                F.explode(
                    F.sequence(F.lit(0), F.lit(self.max_weeks))
                ).alias("week_offset"),
                "mask",
            )
            .where(F.expr("(shiftright(mask, week_offset) & 1) = 1"))
            .groupBy(
                F.col("cohort").alias("cohort_week"),
                F.col("week_offset").cast("int").alias("week_offset"),
            )
            .agg(F.count("*").alias("n_users"))
            .orderBy("cohort_week", "week_offset")
        )


def stream_retention(events: DataFrame, checkpoint_dir: str, max_weeks: int = 8):
    """Attach a RetentionMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return RetentionMonitor(max_weeks=max_weeks).attach(events, checkpoint_dir)


class TransitionMonitor(Monitor):
    """Streaming first-order Markov transition counts — twin of
    events_ops.event_transitions. Two pieces of state, both distributed:

    - ``counts`` (prev, next, n): events_ops.transition_counts of each
      batch plus the stitched boundary pairs. Counts are ADDITIVE, so
      they merge by sum (Monitor._summed) — the unbounded-stream part
      is a |event types|² table, effectively constant-size; result()
      is events_ops.transition_table over it.
    - ``last`` (user_id, ts, event_id, event_type): each user's latest
      event, ONE row per user — the boundary needed to stitch the
      transition that spans two micro-batches.

    Arrival contract (FunnelMonitor's): micro-batches arrive in event-
    time order, so a batch's per-user first event follows the carried
    last event, and within-batch order is resolved by the same
    (ts, event_id) sort the batch op uses. result() equals the batch op
    on the union of all batches, row for row (pinned in
    tests/test_round5.py). Counts add, so a re-delivered epoch is
    skipped (ADDITIVE).
    """

    ADDITIVE = True
    STATE = ("counts", "last")

    def __init__(self):
        super().__init__()
        self.counts: DataFrame | None = None
        self.last: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.events_ops import transition_counts

        b = batch_df.select("user_id", "ts", "event_id", "event_type")
        within = transition_counts(b)
        order = F.struct("ts", "event_id")
        firsts = b.groupBy("user_id").agg(
            F.min_by("event_type", order).alias("__first")
        )
        lasts = b.groupBy("user_id").agg(
            F.max_by(F.struct("ts", "event_id", "event_type"), order).alias("__l")
        ).select(
            "user_id",
            F.col("__l.ts").alias("ts"),
            F.col("__l.event_id").alias("event_id"),
            F.col("__l.event_type").alias("event_type"),
        )
        if self.last is not None:
            boundary = (
                self.last.select(
                    "user_id", F.col("event_type").alias("prev")
                )
                .join(firsts, "user_id")
                .select("prev", F.col("__first").alias("next"))
                .groupBy("prev", "next")
                .agg(F.count("*").alias("n"))
            )
            within = within.unionByName(boundary)
            new_last = (
                ts.narrow(self.last.unionByName(lasts))
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("ts", "event_id", "event_type"), order
                    ).alias("__l")
                )
                .select(
                    "user_id",
                    F.col("__l.ts").alias("ts"),
                    F.col("__l.event_id").alias("event_id"),
                    F.col("__l.event_type").alias("event_type"),
                )
            )
        else:
            new_last = lasts
        self.counts = self._summed(self.counts, within, ["prev", "next"], ["n"])
        self.last = new_last

    def _result(self) -> DataFrame:
        """events_ops.event_transitions's table, by its own finish."""
        from ..operators.events_ops import transition_table

        return transition_table(self.counts)


def stream_transitions(events: DataFrame, checkpoint_dir: str):
    """Attach a TransitionMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return TransitionMonitor().attach(events, checkpoint_dir)


class BloomFilterMonitor(Monitor):
    """Streaming construction of a packed Bloom filter over the corpus's
    word n-gram shingles — the continuously-maintained state behind
    Bloom decontamination/dedup (dedup.bloom_decontaminate probes this
    exact word table). State is the (word_idx, word) frame: AT MOST
    m_bits/32 rows FOREVER, the smallest state of any monitor here
    (KMVDistinctMonitor's is k rows/source; this is fixed regardless of
    sources, users or stream length).

    Merge is one bit_or aggregate per micro-batch. bit_or is
    commutative, associative and idempotent, so the final filter is
    ORDER-INDEPENDENT and replay-safe: any partitioning of the corpus
    into micro-batches, in any arrival order, with any re-delivery,
    lands in the identical word table, equal row-for-row to the batch
    build (dedup.bloom_build_words on the union) — pinned in pytest
    including a permuted-batch-order case.

    Per-batch observability (``batch_log``): how many of the batch's
    ELIGIBLE docs (>= ``n`` whitespace words — shorter docs produce no
    shingles and cannot be probed) were ALREADY fully covered by the
    pre-batch filter (every shingle probes all-k-bits set) — the
    in-stream "maybe exact/near dup of something already ingested"
    counter. Shingle-less docs — fewer than ``n`` words OR NULL text
    (split(NULL) would otherwise count in neither bucket; ADVICE r07) —
    are reported separately as ``n_short_docs``, never silently folded
    into either bucket (ADVICE r06), so n_docs = n_short_docs +
    eligible always holds. Unlike the filter itself this IS arrival-order-dependent (the
    first copy passes, the second is flagged), the same ordered-arrival
    contract FunnelMonitor documents; treat it as telemetry, not as the
    dedup verdict.
    """

    STATE = ("state",)
    DRIVER = ("batch_log",)

    def __init__(
        self,
        n: int = 4,
        m_bits: int = 1 << 18,
        k_hashes: int = 4,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        super().__init__()
        self.n = n
        self.m_bits = int(m_bits)
        self.k_hashes = int(k_hashes)
        self.text_col = text_col
        self.id_col = id_col
        self.state: DataFrame | None = None
        self.batch_log: list[dict] = []

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.dedup import bloom_build_words

        # one job for both counters (code-review r07); same
        # tokenization + eligibility as shingle_sets: split on " ",
        # docs with < n words emit no shingles and can't be probed
        counts = batch_df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(
                    (
                        F.col(self.text_col).isNull()
                        | (
                            F.size(F.split(F.col(self.text_col), " "))
                            < self.n
                        )
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("short"),
        ).collect()[0]
        n_docs, n_short = int(counts["n"]), int(counts["short"])
        n_covered = 0
        if self.state is not None and n_docs:
            # eligible docs whose every shingle fully probes the
            # PRE-batch filter
            n_covered = self._covered_count(batch_df)
        words = bloom_build_words(
            batch_df, self.n, self.m_bits, self.k_hashes,
            self.text_col, self.id_col,
        )
        self.state = (
            words
            if self.state is None
            else ts.narrow(self.state.unionByName(words))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(word)").alias("word"))
        )
        self.batch_log.append(
            {"epoch": epoch_id, "n_docs": int(n_docs),
             "n_short_docs": int(n_short),
             "n_covered_docs": int(n_covered)}
        )

    def _covered_count(self, batch_df: DataFrame) -> int:
        from ..operators.dedup import (
            _bloom_probe_set_count,
            _h1_h2,
            shingle_sets,
        )

        m, k = self.m_bits, self.k_hashes
        sh = shingle_sets(batch_df, self.text_col, self.id_col, self.n)
        h = _h1_h2(sh, self.id_col)
        # all k probes evaluated per shingle row (k broadcast hash
        # probes of the bounded word table) — the r15
        # bloom_decontaminate shape: no position explode, the
        # (id, h1, h2) exchange carries one slim row per shingle
        # instead of k probe rows. Identical counts: the per-row
        # set-bit sum aggregates to the same n_set the per-probe-row
        # sum produced, including (h1, h2)-collision groups.
        per_sh = (
            _bloom_probe_set_count(h, self.state, m, k)
            .groupBy(self.id_col, "__h1", "__h2")
            .agg((F.sum("__s") == k).cast("int").alias("all_set"))
        )
        return (
            per_sh.groupBy(self.id_col)
            .agg(F.min("all_set").alias("covered"))
            .where(F.col("covered") == 1)
            .count()
        )

    def _result(self) -> DataFrame:
        """The merged filter word table, sorted by word_idx — equal to
        dedup.bloom_build_words over the union of all batches."""
        return self.state.orderBy("word_idx")


def stream_bloom_filter(
    docs: DataFrame,
    checkpoint_dir: str,
    n: int = 4,
    m_bits: int = 1 << 18,
    k_hashes: int = 4,
):
    """Attach a BloomFilterMonitor to a documents stream. Returns
    (StreamingQuery, monitor)."""
    return BloomFilterMonitor(n=n, m_bits=m_bits, k_hashes=k_hashes).attach(
        docs, checkpoint_dir
    )


class EmbeddingDriftMonitor(Monitor):
    """Streaming embedding-distribution drift against a fixed reference
    snapshot — twin of similarity.snapshot_drift(reference, stream).
    State is the per-(group, dim) frame of RAW integer sums
    (sum_q, ss, n) over floor-1e6 quantized components: bounded at
    |groups|·dims rows forever, and ADDITIVE — batch sums merge by plain
    sum, which commutes, so the drift table is ORDER-INDEPENDENT and
    equal to the batch op on the union of all batches row for row
    (pinned in pytest incl. a permuted-batch-order case). Centroids and
    means are derived only in result() via the shared
    similarity.drift_from_sums assembly, so stream and batch can never
    disagree on the derivation.

    Re-delivered vectors would double-count (sums are additive, not
    idempotent — contrast BloomFilterMonitor's bit_or), so a repeated
    epoch is skipped (ADDITIVE), as in every counting monitor here.
    """

    ADDITIVE = True
    STATE = ("state",)

    def __init__(
        self,
        reference: DataFrame,
        group_col: str = "label",
        vec_col: str = "embedding",
    ):
        super().__init__()
        from ..operators.similarity import drift_per_dim_sums

        self.group_col = group_col
        self.vec_col = vec_col
        self.ref_sums = eager_checkpoint(
            drift_per_dim_sums(reference, group_col, vec_col)
        )
        self.state: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.similarity import drift_per_dim_sums

        self.state = self._summed(
            self.state,
            drift_per_dim_sums(batch_df, self.group_col, self.vec_col),
            [self.group_col, "dim"],
            ["sum_q", "ss", "n"],
        )

    def _result(self) -> DataFrame:
        """Same table shape as similarity.snapshot_drift(reference, all
        streamed vectors)."""
        from ..operators.similarity import drift_from_sums

        return drift_from_sums(self.ref_sums, self.state, self.group_col)


def stream_embedding_drift(
    vecs: DataFrame, checkpoint_dir: str, reference: DataFrame
):
    """Attach an EmbeddingDriftMonitor to an embedding stream. Returns
    (StreamingQuery, monitor)."""
    return EmbeddingDriftMonitor(reference).attach(vecs, checkpoint_dir)


class QualityGateMonitor(Monitor):
    """Streaming data-quality gate — the continuously-maintained twin of
    ``operators.profile.check_constraints`` over an unbounded document/
    record stream. Additive rules (not_null / range / like) accumulate
    ONE integer violation counter each (state: n_rules numbers —
    compiled by the SAME ``profile.simple_rule_expr`` the batch gate
    uses, so rule semantics cannot drift); ``unique`` rules keep a
    per-value count frame merged by sum (state = one row per DISTINCT
    value of the audited column — the RetentionMonitor dimension
    pattern; violations derive as Σcount − #values, identical to the
    batch count−countDistinct).

    Every piece of state is a commutative sum, so the gate is fully
    ORDER-INDEPENDENT: any micro-batch partitioning, in any arrival
    order, yields result() equal row-for-row to the batch gate on the
    union of all batches (pinned in pytest incl. permuted order).
    Re-delivered batches would double-count (sums, not sets), so a
    repeated epoch is skipped (ADDITIVE), as in every counting monitor
    here.
    """

    ADDITIVE = True
    STATE = ("_ustate",)  # {rule index: frame}: see _frames
    DRIVER = ("_counts",)

    def __init__(self, rules: list[tuple]):
        super().__init__()
        from ..operators.profile import simple_rule_expr

        self.rules = list(rules)
        self._simple: list[tuple[int, tuple]] = []
        self._unique: list[tuple[int, tuple]] = []
        for k, rule in enumerate(self.rules):
            kind = str(rule[1])
            if kind == "unique":
                self._unique.append((k, rule))
            else:
                simple_rule_expr(rule)  # validate kind eagerly
                self._simple.append((k, rule))
        self._counts = [0] * len(self._simple)  # per simple rule, in order
        self._ustate: dict[int, DataFrame] = {}

    def _frames(self) -> dict[str, DataFrame]:
        return {f"u{k}": df for k, df in self._ustate.items()}

    def _set_frames(self, frames: dict[str, DataFrame]) -> None:
        self._ustate = {int(n[1:]): df for n, df in frames.items()}

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.profile import simple_rule_expr

        # one scan of the source per batch: the simple-rule agg plus
        # each unique rule's groupBy are separate jobs, so persist the
        # micro-batch for the duration when more than one pass reads it
        # (code-review r07)
        n_passes = bool(self._simple) + len(self._unique)
        persisted = n_passes > 1
        if persisted:
            batch_df = batch_df.persist()
        if self._simple:
            aggs = [
                F.coalesce(simple_rule_expr(rule), F.lit(0))
                .cast("long")
                .alias(f"v{k}")
                for k, rule in self._simple
            ]
            row = batch_df.agg(*aggs).collect()[0]  # 1-row bounded
            for j, (k, _) in enumerate(self._simple):
                self._counts[j] += int(row[f"v{k}"])
        for k, rule in self._unique:
            col = str(rule[2])
            b = (
                batch_df.where(F.col(col).isNotNull())
                .groupBy(F.col(col).alias("val"))
                .agg(F.count("*").alias("cnt"))
            )
            self._ustate[k] = self._summed(
                self._ustate.get(k), b, ["val"], ["cnt"]
            )
        if persisted:
            batch_df.unpersist()

    def _result(self) -> DataFrame:
        """Same table shape as profile.check_constraints on the union of
        all processed batches."""
        viols = {k: n for (k, _), n in zip(self._simple, self._counts)}
        for k, _ in self._unique:
            st = self._ustate.get(k)
            if st is None:
                viols[k] = 0
            else:
                row = st.agg(
                    F.coalesce(F.sum("cnt"), F.lit(0)).alias("s"),
                    F.count("*").alias("d"),
                ).collect()[0]
                viols[k] = int(row["s"]) - int(row["d"])
        rows = [
            (int(r[0]), str(r[1]), str(r[2]), viols[k], viols[k] == 0)
            for k, r in enumerate(self.rules)
        ]
        return self._frame_from_rows(
            sorted(rows),
            "rule_id int, kind string, column string, "
            "n_violations long, passed boolean",
        )


def stream_quality_gate(
    records: DataFrame, checkpoint_dir: str, rules: list[tuple]
):
    """Attach a QualityGateMonitor to a record stream. Returns
    (StreamingQuery, monitor)."""
    return QualityGateMonitor(rules).attach(records, checkpoint_dir)


class HistogramMonitor(Monitor):
    """Streaming fixed-width value histogram per event type — the
    continuously-maintained twin of ``events_ops.value_histogram`` (the
    ts_histogram query): state is the (event_type, bucket, n) frame,
    bounded at |types|·(n_buckets+2) rows forever (width_bucket's two
    overflow buckets included). Counts are ADDITIVE and commutative, so
    the histogram is fully order-independent and equals the batch op on
    the union of all batches row-for-row (pinned in pytest incl.
    permuted batch order). Re-delivery would double-count, so a
    repeated epoch is skipped (ADDITIVE, like every counting monitor).
    This is the bounded-state quantile substrate: any percentile is
    bracketed to one bucket width from result() without ever buffering
    raw values.
    """

    ADDITIVE = True
    STATE = ("state",)

    def __init__(
        self, lo: float = 0.0, hi: float = 100.0, n_buckets: int = 10
    ):
        super().__init__()
        self.lo, self.hi, self.n_buckets = float(lo), float(hi), int(n_buckets)
        self.state: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        # sort-free core: the public op's orderBy would embed a
        # per-batch MID-PLAN global sort that the union+groupBy merge
        # discards (ADVICE r07); ordering happens once, in result()
        from ..operators.events_ops import _value_histogram_unsorted

        b = _value_histogram_unsorted(
            batch_df, self.lo, self.hi, self.n_buckets
        )
        self.state = self._summed(self.state, b, ["event_type", "bucket"], ["n"])

    def _result(self) -> DataFrame:
        """Equal to events_ops.value_histogram over the union of all
        batches (same column order and sort)."""
        return self.state.orderBy("event_type", "bucket")


def stream_histogram(
    events: DataFrame,
    checkpoint_dir: str,
    lo: float = 0.0,
    hi: float = 100.0,
    n_buckets: int = 10,
):
    """Attach a HistogramMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return HistogramMonitor(lo, hi, n_buckets).attach(events, checkpoint_dir)


class BandPlanMonitor(Monitor):
    """Streaming ε-band join cost estimator — the continuously-
    maintained twin of ``asof.band_plan``: state is the per
    (eps_u, keys…, bucket) count frame for every candidate ε — each
    batch's ``asof._band_bucket_counts`` (one pass for all ε), merged
    additively (Monitor._summed; commutative counts → fully
    ORDER-INDEPENDENT; re-delivery would double-count, so a repeated
    epoch is skipped — ADDITIVE, like every counting monitor).
    ``result()`` is the batch op's own ``asof.band_stats_from_counts`` +
    ``band_verdict`` (batch and stream cannot drift) and equals the batch ``band_plan`` on the
    union of all batches row-for-row.

    State bound: Σ_ε n_buckets(ε) rows per key group — set by the
    VALUE DOMAIN and the ε grid, not by stream length (a [0,100]
    domain at ε=1000 µ is ≤ ~100k buckets·|key groups| worst case,
    and real value mass is far sparser). This is the pre-join skew
    radar a long-running 100 TB range-join pipeline reads instead of
    re-profiling the corpus per run.

    Sizing caveat (measured on a 10M-event stream): the bound is only
    useful when the ε grid is NO FINER than the value resolution. Over
    near-continuous values (sub-µ jitter) at ε_u=10, occupied buckets
    ≈ distinct values — state reached 12.77M rows (≈ stream length)
    and merge throughput dropped to ~39k ev/s, vs 357k ev/s for the
    |types|² TransitionMonitor. Pick the grid from the quantization actually
    stored (for 2-decimal values nothing below ε_u=10_000 adds
    information), or pre-round the value column; band_plan's batch
    decision table is the cheap way to discover the native resolution
    first (n_buckets stops growing as ε shrinks past it).
    """

    ADDITIVE = True
    STATE = ("state",)

    def __init__(
        self,
        keys: list[str],
        value_col: str = "value",
        eps_options: tuple[int, ...] = (1_000, 5_000, 20_000),
        budget_pairs: int = 20_000_000,
    ):
        super().__init__()
        if not eps_options:
            raise ValueError(
                "BandPlanMonitor: eps_options must be non-empty"
            )
        self.keys = list(keys)
        self.value_col = value_col
        self.eps_options = tuple(int(e) for e in eps_options)
        self.budget_pairs = int(budget_pairs)
        self.state: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.asof import _band_bucket_counts, _band_quantized

        b = _band_bucket_counts(
            _band_quantized(batch_df, self.keys, self.value_col),
            self.keys,
            self.eps_options,
        )
        self.state = self._summed(
            self.state, b, ["eps_u", *self.keys, "bucket"], ["c"]
        )

    def _result(self) -> DataFrame:
        """The band_plan decision table over everything ingested —
        identical to ``asof.band_plan`` on the union of all batches."""
        from ..operators.asof import band_stats_from_counts, band_verdict

        return band_verdict(
            band_stats_from_counts(self.state, self.keys), self.budget_pairs
        )


def stream_band_plan(
    events: DataFrame,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str = "value",
    eps_options: tuple[int, ...] = (1_000, 5_000, 20_000),
    budget_pairs: int = 20_000_000,
):
    """Attach a BandPlanMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return BandPlanMonitor(keys, value_col, eps_options, budget_pairs).attach(
        events, checkpoint_dir
    )


class Scd2Monitor(Monitor):
    """Streaming SCD-type-2 dimension maintenance — the incremental twin
    of events_ops.scd2_history (events_ops.py:2138): each micro-batch
    extends every user's run history, closing versions whose successor
    has arrived and carrying exactly one OPEN run per user. result()
    equals the batch operator on the union of all batches, row for row
    (pinned in tests/test_round10.py), under the event-time-ordered
    arrival contract every history monitor here shares (FunnelMonitor's:
    micro-batches arrive in event-time order; within-batch order is the
    batch op's own (ts, event_id) sort).

    Two pieces of state:
    - ``open`` (user_id, version, event_type, valid_from, n_events):
      each user's current run — ONE row per user, the only state the
      stitch needs. A batch whose first run null-safe-matches the open
      run's type MERGES into it (valid_from kept, counts summed, same
      version); otherwise the open run closes with valid_to = the
      batch's first valid_from.
    - ``closed``: finished versions. This frame is the PRODUCT, not
      bookkeeping — it grows exactly as fast as the history table it
      maintains. A production deployment appends each batch's closures
      to the dimension sink and keeps only ``open`` as state; holding
      ``closed`` here keeps result() self-contained for the
      stream==batch contract.

    Each epoch's commit (``Monitor``) rewrites ``open`` in its snapshot
    and writes only the batch's closures as a part of ``closed``: the
    parts are append-only, every later snapshot lists them, and pruning
    old snapshots never deletes them. ``closed`` is one scan of the
    listed parts, so a restart resumes with the whole history.

    Every step is user-partitioned (two windows + three user-keyed
    joins per batch); no global window, no driver loop. Version
    arithmetic is BIGINT from birth. Extending runs is not idempotent
    (a replayed batch would re-open and re-count runs), so a repeated
    epoch is skipped (ADDITIVE).
    """

    ADDITIVE = True
    STATE = ("open",)
    PARTS = ("closed",)

    def __init__(self):
        super().__init__()
        self.closed: DataFrame | None = None
        self.open: DataFrame | None = None

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.events_ops import _user_runs

        # Empty micro-batch: nothing to stitch — skip entirely (ADVICE
        # r10: an empty FIRST batch used to set self.open to an empty
        # frame, silently bypassing the result() "no micro-batch yet"
        # guard).
        if batch_df.isEmpty():
            return

        # the batch op's EXACT run recipe — one shared definition, so
        # the stream==batch contract is structural, not coincidental
        runs = _user_runs(
            batch_df.select("user_id", "ts", "event_id", "event_type")
        ).withColumnRenamed("run", "rv")
        old_open_closed = None
        untouched_open = None
        if self.open is not None:
            o = self.open.select(
                "user_id",
                F.col("version").alias("o_version"),
                F.col("event_type").alias("o_type"),
                F.col("valid_from").alias("o_from"),
                F.col("n_events").alias("o_n"),
            )
            r1 = runs.where(F.col("rv") == 1).select(
                "user_id",
                F.col("event_type").alias("b_type"),
                F.col("valid_from").alias("b_from"),
            )
            dec = r1.join(o, "user_id", "left").select(
                "user_id",
                F.col("o_version").isNotNull().alias("has_open"),
                (
                    F.col("o_version").isNotNull()
                    & F.col("o_type").eqNullSafe(F.col("b_type"))
                ).alias("merged"),
                "o_version",
                "o_type",
                "o_from",
                "o_n",
                "b_from",
            )
            adj = runs.join(dec, "user_id").select(
                "user_id",
                (
                    F.col("rv").cast("long")
                    + F.when(~F.col("has_open"), F.lit(0))
                    .when(F.col("merged"), F.col("o_version") - 1)
                    .otherwise(F.col("o_version"))
                ).cast("long").alias("version"),
                "event_type",
                F.when(
                    F.col("merged") & (F.col("rv") == 1), F.col("o_from")
                ).otherwise(F.col("valid_from")).alias("valid_from"),
                (
                    F.col("n_events")
                    + F.when(
                        F.col("merged") & (F.col("rv") == 1), F.col("o_n")
                    ).otherwise(F.lit(0))
                ).cast("long").alias("n_events"),
            )
            old_open_closed = dec.where(
                F.col("has_open") & ~F.col("merged")
            ).select(
                "user_id",
                F.col("o_version").cast("long").alias("version"),
                F.col("o_type").alias("event_type"),
                F.col("o_from").alias("valid_from"),
                F.col("b_from").alias("valid_to"),
                F.col("o_n").alias("n_events"),
            )
            untouched_open = self.open.join(
                r1.select("user_id"), "user_id", "left_anti"
            )
        else:
            adj = runs.select(
                "user_id",
                F.col("rv").cast("long").alias("version"),
                "event_type",
                "valid_from",
                "n_events",
            )
        wv = Window.partitionBy("user_id").orderBy("version")
        adj = adj.withColumn("__next_from", F.lead("valid_from").over(wv))
        closed_in_batch = adj.where(F.col("__next_from").isNotNull()).select(
            "user_id",
            "version",
            "event_type",
            "valid_from",
            F.col("__next_from").alias("valid_to"),
            "n_events",
        )
        batch_open = adj.where(F.col("__next_from").isNull()).select(
            "user_id", "version", "event_type", "valid_from", "n_events"
        )
        adds = (
            closed_in_batch
            if old_open_closed is None
            else closed_in_batch.unionByName(old_open_closed)
        )
        # write only the batch's ADDITIONS (output-sized), never the
        # whole closed history: rewriting the unbounded frame each batch
        # is O(all closed rows) per batch — quadratic over the stream
        self._append("closed", adds)
        self.open = (
            batch_open
            if untouched_open is None
            else batch_open.unionByName(untouched_open)
        )

    def _ready(self) -> bool:
        # empty batches are skipped, so only a non-empty one unlocks
        return self.open is not None

    def _result(self) -> DataFrame:
        """Same table shape as events_ops.scd2_history: the closed
        versions plus each user's open run with valid_to NULL."""
        ts_type = self.open.schema["valid_from"].dataType
        open_rows = self.open.select(
            "user_id",
            "version",
            "event_type",
            "valid_from",
            F.lit(None).cast(ts_type).alias("valid_to"),
            "n_events",
        )
        full = (
            open_rows
            if self.closed is None
            else self.closed.unionByName(open_rows)
        )
        return full.orderBy("user_id", "version")


def stream_scd2(events: DataFrame, checkpoint_dir: str):
    """Attach an Scd2Monitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return Scd2Monitor().attach(events, checkpoint_dir)


class CurationFunnelMonitor(Monitor):
    """Streaming curation-funnel monitor (15th) — per-micro-batch
    gate / exact-dup / near-dup-candidate counts for a document stream,
    the continuously-maintained form of the pipeline_card chain's first
    three stages. Shares ``operators.curation._funnel_flags`` with the
    batch op ``curation_funnel_flags`` (the Scd2Monitor/_user_runs
    pattern), so stream == batch is structural: under the id-ordered
    arrival contract (micro-batches arrive in doc_id order — the
    document analog of the event-time-ordered contract every history
    monitor here shares), ``result()`` grouped rows equal the batch
    flags aggregated over the same batch boundaries EXACTLY.

    State, both append-only (``PARTS``: each epoch's commit writes
    only the batch's additions as a part, the Scd2Monitor lesson —
    rewriting the whole set each batch is quadratic; a restart reads
    every listed part back):
    - ``fps``: one row per DISTINCT normalized-text fingerprint seen —
      content-sized, the exact-dedup membership set;
    - ``buckets``: one row per DISTINCT claimed MinHash (band, bh) —
      the incremental LSH index of exact-new survivors,
      dedup_against_index's stored-table shape.

    Per-batch driver state is one 5-int tuple (the funnel row); the
    kernel's scratch frames are released after the counts are collected
    and the state additions written (safe inside foreachBatch —
    batches execute serially; a session running OTHER scratch-persisting
    operators concurrently with the stream should not, same caveat as
    any release_scratch() caller).
    """

    # a re-delivered epoch would read as all-exact-dups — a spurious
    # near-zero funnel row that ALSO shifts later batch indices
    ADDITIVE = True
    PARTS = ("fps", "buckets")
    DRIVER = ("rows",)

    def __init__(
        self, n_hashes: int = 64, bands: int = 32, ngram: int = 3
    ):
        super().__init__()
        self.n_hashes = int(n_hashes)
        self.bands = int(bands)
        self.ngram = int(ngram)
        self.fps: DataFrame | None = None
        self.buckets: DataFrame | None = None
        self.rows: list[tuple] = []

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.curation import _funnel_flags
        from ..plans.scratch import release_scratch

        if batch_df.isEmpty():
            # an empty micro-batch is a real (all-zero) funnel row:
            # dropping it would shift later batch indices off the
            # trigger sequence (unlike Scd2Monitor, where skipping is
            # semantically neutral, result() here is per-batch)
            self.rows.append((len(self.rows), 0, 0, 0, 0))
            return
        flags, new_fps, new_buckets = _funnel_flags(
            batch_df,
            self.fps,
            self.buckets,
            self.n_hashes,
            self.bands,
            self.ngram,
        )
        row = flags.agg(
            F.count("*").alias("n_in"),
            F.sum(F.col("gated").cast("long")).alias("n_gate"),
            F.sum(F.col("exact_new").cast("long")).alias("n_exact_new"),
            F.sum(F.col("near_new").cast("long")).alias("n_near_new"),
        ).collect()[0]  # 1-row bounded
        self._append("fps", new_fps)
        self._append("buckets", new_buckets)
        self.rows.append(
            (
                len(self.rows),
                int(row["n_in"]),
                int(row["n_gate"]),
                int(row["n_exact_new"]),
                int(row["n_near_new"]),
            )
        )
        release_scratch()  # counts collected + additions written

    def _result(self) -> DataFrame:
        """One funnel row per processed micro-batch."""
        return self._frame_from_rows(
            self.rows,
            "batch long, n_in long, n_gate long, "
            "n_exact_new long, n_near_new long",
        )


def stream_curation_funnel(
    docs: DataFrame,
    checkpoint_dir: str,
    n_hashes: int = 64,
    bands: int = 32,
    ngram: int = 3,
):
    """Attach a CurationFunnelMonitor to a document stream. Returns
    (StreamingQuery, monitor)."""
    return CurationFunnelMonitor(n_hashes, bands, ngram).attach(docs, checkpoint_dir)


def _group_to_string(g):
    """Render a collected group value the way Spark's CAST(x AS STRING)
    would, so the grouped monitors' result() frames (group surfaced as
    STRING) accept any group_col type — int source ids, dates,
    timestamps — instead of failing createDataFrame schema verification
    on non-str values (ADVICE r13). NULL is preserved; bool is
    lowercased to match Spark ("true"/"false", not Python's
    "True"/"False"). str(date)/str(datetime) already match Spark's
    date/timestamp cast formatting."""
    if g is None:
        return None
    if isinstance(g, bool):
        return "true" if g else "false"
    return str(g)


def _group_key(g):
    """NULL-first string sort key for Python-side group iteration."""
    return (g is not None, str(g))


def _sketch_input(batch_df: DataFrame, key_col: str, group_col: str | None):
    """A sketch monitor's micro-batch projection: (group?, key). The
    explicit select keeps the scan pruned independent of the kernel's
    internals; dict.fromkeys because group_col == key_col is a legal
    config (group by the key itself) and a duplicate select would make
    every downstream reference ambiguous."""
    return batch_df.select(*dict.fromkeys(c for c in (group_col, key_col) if c))


def _sketch_frame(state: dict, group_col: str | None, schema: str) -> DataFrame:
    """result() frame of a Count-Min or HLL monitor from its Python
    state {(group?, cell…) or cell: value}: one row per occupied cell,
    sorted by cell — NULL group first (_group_key) when grouped, the
    group column surfaced as STRING (NULL preserved)."""
    if group_col is None:
        rows = [
            (*map(int, k if isinstance(k, tuple) else (k,)), int(v))
            for k, v in sorted(state.items())
        ]
        return Monitor._frame_from_rows(rows, schema)
    rows = [
        (_group_to_string(k[0]), *map(int, k[1:]), int(v))
        for k, v in sorted(
            state.items(), key=lambda kv: (_group_key(kv[0][0]), kv[0][1:])
        )
    ]
    return Monitor._frame_from_rows(rows, f"{group_col} string, {schema}")


def _merge_bottom_k(hashes: dict, rows, group_col: str, k: int) -> None:
    """Fold collected KMV sketch rows (group_col, h) into ``hashes``
    {group: sorted bottom-k}: per group the k smallest of the union,
    duplicates collapsed — the kmv_merge law on the driver. Idempotent
    and order-independent, so re-delivered batches change nothing."""
    batch: dict[object, set[int]] = {}
    for r in rows:
        batch.setdefault(r[group_col], set()).add(int(r["h"]))
    for g, hs in batch.items():
        hashes[g] = sorted(set(hashes.get(g, ())) | hs)[:k]


class CountMinMonitor(Monitor):
    """Streaming Count-Min frequency sketch — a continuously-maintained
    bounded-state frequency table for an integer key stream, the sketch
    complement of stream_heavy_hitters (which keeps EXACT windowed
    counts and therefore state proportional to distinct keys; this
    keeps depth·width integers at ANY key cardinality). With
    ``group_col`` set, ONE independent depth×width table per group
    value (per-source / per-day frequency monitoring where a hot key in
    one group must not inflate another group's estimates — the
    isolation the batch gate ts_cms_topk_by_type pins); state ≤
    groups·depth·width ints, bounded whenever the GROUP domain is.

    Shares ``operators.sketches.cms_build`` with the batch op (the
    _user_runs / _funnel_flags pattern), so stream == batch is
    STRUCTURAL AND EXACT: Count-Min counters are additive per (group?,
    row, col) (cms(A ∪ B) = cms(A) + cms(B) cell-by-cell — the merge
    law pinned in tests), hence summing per-batch sketches over ANY
    batching of the stream reproduces the one-shot sketch to the
    integer. No arrival-order contract needed — addition commutes
    (unlike the history monitors' event-time-ordered contracts).

    State is the counter dict ``cells`` {(group?, row, col): cnt} in
    the Python process, updated from a bounded collect per batch. result()
    returns the merged occupied-cells table ((group,)? row, col, cnt);
    probe it with ``operators.sketches.cms_probe`` (grouped: pass
    ``group_col=`` after casting the keys frame's group column to
    string to match). Additive counters DO double-count a replayed
    epoch, so the class declares ADDITIVE and a repeated epoch_id is
    skipped — the guard HLL's max-merge does not need. Nothing mutates
    until the batch's cell list has fully materialized, so a failed
    batch's re-delivery replays cleanly.
    """

    ADDITIVE = True

    def __init__(self, key_col: str = "user_id", depth: int = 4,
                 width: int = 256, group_col: str | None = None):
        super().__init__()
        if depth < 1 or width < 2:
            raise ValueError("depth >= 1 and width >= 2 required")
        self.key_col = key_col
        self.depth = int(depth)
        self.width = int(width)
        self.group_col = group_col
        self.cells: dict[tuple, int] = {}

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.sketches import cms_build

        # No isEmpty() pre-check: it was a SECOND full job per batch
        # (and, with no projection, an unpruned full-schema scan of the
        # micro-batch), while an empty batch already collects to zero
        # cells — the additive identity for free (VERDICT r12 #5: at
        # 100M events the pre-check was ~half the per-batch overhead).
        cell = [c for c in (self.group_col, "row", "col") if c]
        for r in cms_build(
            _sketch_input(batch_df, self.key_col, self.group_col),
            self.key_col, self.depth, self.width, group_col=self.group_col,
        ).collect():  # bounded: <= groups * depth * width rows
            k = tuple(r[c] for c in cell)
            self.cells[k] = self.cells.get(k, 0) + int(r["cnt"])

    def _result(self) -> DataFrame:
        """Occupied counter cells ((group,)? row, col, cnt) of the
        merged sketch — equals cms_build over the concatenated stream
        exactly (group compared as string)."""
        return _sketch_frame(self.cells, self.group_col, "row int, col int, cnt long")


def stream_cms(
    events: DataFrame,
    checkpoint_dir: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
):
    """Attach a CountMinMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return CountMinMonitor(key_col, depth, width).attach(events, checkpoint_dir)


def stream_cms_by_group(
    events: DataFrame,
    checkpoint_dir: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
    depth: int = 4,
    width: int = 256,
):
    """Attach a per-group CountMinMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return CountMinMonitor(key_col, depth, width, group_col).attach(
        events, checkpoint_dir
    )


class HllDistinctMonitor(Monitor):
    """Streaming HyperLogLog distinct-count monitor — m registers of
    Python state, or with ``group_col`` set m per group value (the
    per-source / per-day distinct-user rollup that is the sketch's
    canonical use; groups·m ints, bounded whenever the GROUP domain is
    — the key domain stays unbounded). The merge is per-(group?,
    bucket) MAX (operators.sketches.hll_registers' pinned law), which
    is IDEMPOTENT as well as commutative: re-delivered micro-batches,
    overlapping backfills, and replayed checkpoints cannot skew the
    estimate — the property the additive monitors (CountMinMonitor,
    the counter family) structurally lack, and the reason HLL is the
    sketch of choice for at-least-once pipelines. Pinned in tests by
    processing the SAME batch twice and asserting state is unchanged.

    Shares ``operators.sketches.hll_registers`` with the batch op
    (ts_hll_users' kernel), so stream == batch is structural: after any
    batching — including duplicated batches — result() ((group,)?
    bucket, rho) equals the one-shot register table over the distinct
    stream contents. State ``regs`` is {bucket: rho}, or {(group,
    bucket): rho} when grouped. ``estimates()`` finishes it with
    ``operators.sketches.hll_estimate_corrected``, usable across the
    whole cardinality range.
    """

    def __init__(self, key_col: str = "user_id", m: int = 64,
                 group_col: str | None = None):
        super().__init__()
        if m < 2 or (m & (m - 1)) != 0:
            raise ValueError("m must be a power of two >= 2")
        self.key_col = key_col
        self.m = int(m)
        self.group_col = group_col
        self.regs: dict = {}

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.sketches import hll_registers

        # no isEmpty() pre-check (the CountMinMonitor VERDICT r12 #5
        # fix): an empty batch collects to zero rows — the max-merge
        # identity — and the pre-check cost a full extra job per batch
        g = self.group_col
        for r in hll_registers(
            _sketch_input(batch_df, self.key_col, g), self.key_col, g, self.m
        ).collect():  # bounded: <= groups * m rows
            k = (r[g], int(r["bucket"])) if g else int(r["bucket"])
            self.regs[k] = max(self.regs.get(k, 0), int(r["rho"]))

    def _result(self) -> DataFrame:
        """Occupied registers ((group,)? bucket, rho) of the merged
        sketch — equals hll_registers over the concatenated stream
        exactly (group compared as string)."""
        return _sketch_frame(self.regs, self.group_col, "bucket int, rho int")

    def estimates(self) -> DataFrame:
        """Linear-counting-corrected distinct estimates, per group when
        grouped: ((group,)? occupied, est_raw, est_distinct)."""
        from ..operators.sketches import hll_estimate_corrected

        g = [self.group_col] if self.group_col else None
        return hll_estimate_corrected(self.result(), self.m, g)


def stream_hll_distinct(
    events: DataFrame,
    checkpoint_dir: str,
    key_col: str = "user_id",
    m: int = 64,
):
    """Attach an HllDistinctMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return HllDistinctMonitor(key_col, m).attach(events, checkpoint_dir)


def stream_hll_by_group(
    events: DataFrame,
    checkpoint_dir: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
    m: int = 64,
):
    """Attach a per-group HllDistinctMonitor to an event stream.
    Returns (StreamingQuery, monitor)."""
    return HllDistinctMonitor(key_col, m, group_col).attach(
        events, checkpoint_dir
    )


class GroupedKmvMonitor(Monitor):
    """Per-group streaming KMV distinct-cardinality sketches — the third
    sketch family completes the grouped-monitor triple (CMS =
    frequency, HLL = distinct registers, KMV = distinct hash VALUES):
    one independent bottom-k of mixer-hashed integer keys per group
    value, through ``operators.sketches.kmv_sketch``'s group_col
    kernel. vs a grouped HllDistinctMonitor, KMV state supports set
    algebra downstream (union/intersection estimation on the surviving
    hashes) and its estimate is the exact distinct count whenever a
    group's sketch is complete (m < k).

    State ≤ groups·k BIGINTs on the driver — bounded whenever the GROUP
    domain is bounded, while the key domain stays unbounded. The merge
    is bottom_k(state ∪ batch_sketch) with duplicates collapsed — the
    kmv_merge law pinned in the batch tests — which is IDEMPOTENT:
    re-delivered rows, replayed epochs, and overlapping batches all
    land in the identical sketch (no epoch guard needed, unlike the
    additive CountMinMonitor; the HLL max-merge argument, on sets). So
    result() equals kmv_sketch over the concatenation of all batches
    row for row, structurally, over ANY batching.

    No per-batch isEmpty() pre-check (the r13 per-batch-cost lesson):
    an empty batch collects to the empty set — the merge identity —
    and the input is pruned to (group, key) before hashing.

    result() surfaces the group column as STRING (NULL preserved, the
    grouped-monitor convention); ``estimates()`` finishes it through
    ``kmv_estimate`` into per-group (m, u_k, est_distinct)."""

    def __init__(
        self,
        key_col: str = "user_id",
        group_col: str = "event_type",
        k: int = 256,
    ):
        super().__init__()
        if k < 2:
            raise ValueError("k >= 2 required")
        self.key_col = key_col
        self.group_col = group_col
        self.k = int(k)
        self.hashes: dict[object, list[int]] = {}  # group -> sorted bottom-k

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.sketches import kmv_sketch

        _merge_bottom_k(
            self.hashes,
            kmv_sketch(
                _sketch_input(batch_df, self.key_col, self.group_col),
                self.key_col, self.k, group_col=self.group_col,
            ).collect(),  # bounded: <= batch_groups * k rows
            self.group_col,
            self.k,
        )

    def _result(self) -> DataFrame:
        """Surviving bottom-k hashes (group, h) of the merged per-group
        sketches — equals kmv_sketch(stream, key, k, group_col=group)
        over the concatenated stream exactly (group compared as
        string)."""
        rows = [
            (_group_to_string(g), int(h))
            for g in sorted(self.hashes, key=_group_key)
            for h in self.hashes[g]
        ]
        return self._frame_from_rows(
            rows, f"{self.group_col} string, h long"
        )

    def estimates(self) -> DataFrame:
        """Per-group (m, u_k, est_distinct) through kmv_estimate — the
        integer estimator, exact when a group's sketch is complete."""
        from ..operators.sketches import kmv_estimate

        return kmv_estimate(self.result(), self.k, [self.group_col])


def stream_kmv_by_group(
    events: DataFrame,
    checkpoint_dir: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 256,
):
    """Attach a GroupedKmvMonitor to an event stream. Returns
    (StreamingQuery, monitor)."""
    return GroupedKmvMonitor(key_col, group_col, k).attach(events, checkpoint_dir)


class WeightedSampleMonitor(Monitor):
    """Streaming deterministic weighted top-k sample —
    ``operators.curation.weighted_sample``'s A-ES selection maintained
    incrementally: top-k by the exact-integer A-ES priority (max of
    w_eff mixer draws) with (priority desc, id asc) ordering. Because
    the priority is a PURE FUNCTION of (id, w_eff) and top-k-of-union
    == top-k of per-batch top-ks (the KMV bottom-k argument, flipped),
    the merge is an idempotent max-merge: re-delivered rows produce
    byte-identical candidates that dedupe on id, so replays cannot
    move the state and no epoch guard is needed. State is ≤ k rows on
    the driver, each batch contributes one scan + a k·partitions
    TakeOrderedAndProject — a running weighted sample over an
    unbounded stream at O(k) memory.

    Assumes ids are unique across the stream (the weighted_sample
    contract); a re-delivery of the SAME row is fine, two different
    weights under one id are caller error (the batch operator keys the
    sample by id the same way).

    result() == weighted_sample(concatenation of all batches) row for
    row (pinned), same columns (id, weight, w_eff, priority)."""

    def __init__(
        self,
        k: int = 100,
        weight_col: str = "w",
        id_col: str = "doc_id",
        cap: int = 8,
    ):
        super().__init__()
        if k < 1:
            raise ValueError("k >= 1 required")
        self.k = int(k)
        self.weight_col = weight_col
        self.id_col = id_col
        self.cap = int(cap)
        # id -> (priority, weight, w_eff); ordering recomputed on read
        self.rows: dict[object, tuple] = {}
        self._schema = None  # captured from the batch operator's output

    def _update(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        from ..operators.curation import weighted_sample

        out = weighted_sample(
            batch_df.select(self.id_col, self.weight_col),
            self.k, self.weight_col, self.id_col, self.cap
        )
        if self._schema is None:
            # the batch operator's own schema (id/weight types follow
            # the input) so result() round-trips exactly
            self._schema = out.schema
        for r in out.collect():  # bounded: <= k rows per batch
            self.rows[r[self.id_col]] = (
                int(r["priority"]), r["weight"], int(r["w_eff"])
            )
        if len(self.rows) > self.k:
            keep = sorted(
                self.rows.items(), key=lambda kv: (-kv[1][0], kv[0])
            )[: self.k]
            self.rows = dict(keep)

    def _result(self) -> DataFrame:
        """The current top-k sample (id, weight, w_eff, priority),
        (priority desc, id asc) ordered — equals the batch operator
        over the concatenated stream exactly."""
        ordered = sorted(
            self.rows.items(), key=lambda kv: (-kv[1][0], kv[0])
        )
        rows = [
            (i, w, int(we), int(p)) for i, (p, w, we) in ordered
        ]
        return self._frame_from_rows(rows, self._schema)


def stream_weighted_sample(
    docs: DataFrame,
    checkpoint_dir: str,
    k: int = 100,
    weight_col: str = "w",
    id_col: str = "doc_id",
    cap: int = 8,
):
    """Attach a WeightedSampleMonitor to a stream. Returns
    (StreamingQuery, monitor)."""
    return WeightedSampleMonitor(k, weight_col, id_col, cap).attach(
        docs, checkpoint_dir
    )
