"""Generic as-of join — the operator Spark lacks natively (SURVEY §2.3 J2
is the grid special case; this is the general backward as-of merge).

For each left row, attach the latest right row with
``right.time <= left.time`` within the same ``by`` key.

Implementation: union the two sides with a side tag, one per-key window
pass carrying the right payload forward (right rows sort before left rows
at equal timestamps → inclusive semantics), then keep left rows. ONE
shuffle on the key — no range join, no per-key merge_asof UDF, and skew on
the time axis is irrelevant because the partitioning key is `by`.

At 100 TB: both sides shuffle once on `by`; with bucketed tables on `by`
the shuffle disappears entirely. Compare pyspark_guide.md's alternatives
(bucketize range + equi-join, or applyInPandas merge_asof): this plan
needs no range bucketing parameter and stays JVM-side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    time_col: str = "time",
    by: Sequence[str] = (),
    value_cols: Sequence[str] | None = None,
    suffix: str = "_right",
    tolerance: str | None = None,
) -> DataFrame:
    """Backward as-of join (pandas merge_asof semantics, inclusive).

    ``tolerance``: optional max staleness (e.g. '1h') — matches older than
    ``left.time - tolerance`` become NULL.
    """
    by = list(by)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in right.columns if c != time_col and c not in by
    ]
    left_cols = [c for c in left.columns if c != time_col and c not in by]

    l_tagged = left.select(
        *by, time_col, F.lit(1).alias("__side"),
        *left_cols,
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
          for c in value_cols],
        F.lit(None).cast("timestamp").alias("__rtime"),
    )
    r_tagged = right.select(
        *by, time_col, F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
        F.col(time_col).alias("__rtime"),
    )
    unioned = l_tagged.unionByName(r_tagged)

    # right rows first at equal time → right.time <= left.time is inclusive
    w = (
        Window.partitionBy(*by)
        .orderBy(time_col, "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned
    for c in [*[f"{c}{suffix}" for c in value_cols], "__rtime"]:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))

    out = filled.where(F.col("__side") == 1).drop("__side")
    if tolerance is not None:
        from ..utils import freq_to_interval

        stale = F.col("__rtime") < (F.col(time_col) - F.expr(freq_to_interval(tolerance)))
        for c in value_cols:
            out = out.withColumn(
                f"{c}{suffix}",
                F.when(stale | F.col("__rtime").isNull(), F.lit(None)).otherwise(
                    F.col(f"{c}{suffix}")
                ),
            )
    return out.drop("__rtime")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    time_col: str = "time",
    by: Sequence[str] = (),
    value_cols: Sequence[str] | None = None,
    suffix: str = "_right",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Nearest as-of join (pandas merge_asof direction='nearest'): for
    each left row, attach the right row minimizing |right.time −
    left.time| within the same ``by`` key, optionally bounded by
    ``tolerance_us`` (microseconds); ties break to the EARLIER right row.
    ``right`` must be unique per (by, time) — pre-dedup if not.

    Same union-window plan as :func:`asof_join`, run in BOTH directions:
    one shuffle on ``by``, a backward last() and a forward first() window
    per key (each parallel across keys), then an arithmetic argmin — no
    range join, no per-key UDF, skew on the time axis irrelevant. At
    100 TB with tables bucketed on ``by`` the shuffle disappears.
    """
    by = list(by)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in right.columns if c != time_col and c not in by
    ]
    left_cols = [c for c in left.columns if c != time_col and c not in by]

    payload = F.struct(
        F.col(time_col).alias("__t"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    l_tagged = left.select(
        *by, time_col, F.lit(1).alias("__side"), *left_cols,
        F.lit(None).cast(
            f"struct<__t:{right.schema[time_col].dataType.simpleString()},"
            + ",".join(
                f"{c}:{right.schema[c].dataType.simpleString()}"
                for c in value_cols
            ) + ">"
        ).alias("__pay"),
    )
    r_tagged = right.select(
        *by, time_col, F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        payload.alias("__pay"),
    )
    unioned = l_tagged.unionByName(r_tagged)

    # right rows sort before left at equal time → backward inclusive,
    # forward strictly-after (the equal-time match is owned by backward)
    w_back = (
        Window.partitionBy(*by)
        .orderBy(time_col, "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*by)
        .orderBy(time_col, "__side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    both = (
        unioned.withColumn("__prev", F.last("__pay", ignorenulls=True).over(w_back))
        .withColumn("__next", F.first("__pay", ignorenulls=True).over(w_fwd))
        .where(F.col("__side") == 1)
    )

    t_us = F.unix_micros(F.col(time_col).cast("timestamp"))
    d_prev = t_us - F.unix_micros(F.col("__prev.__t").cast("timestamp"))
    d_next = F.unix_micros(F.col("__next.__t").cast("timestamp")) - t_us
    tol = F.lit(tolerance_us) if tolerance_us is not None else None
    prev_ok = F.col("__prev").isNotNull() & (
        (d_prev <= tol) if tol is not None else F.lit(True)
    )
    next_ok = F.col("__next").isNotNull() & (
        (d_next <= tol) if tol is not None else F.lit(True)
    )
    use_prev = prev_ok & (~next_ok | (d_prev <= d_next))
    chosen = F.when(use_prev, F.col("__prev")).when(next_ok, F.col("__next"))
    out = both.withColumn("__chosen", chosen)
    return out.select(
        *by, time_col, *left_cols,
        F.col("__chosen.__t").alias(f"{time_col}{suffix}"),
        *[F.col(f"__chosen.{c}").alias(f"{c}{suffix}") for c in value_cols],
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    value_col: str,
    eps_u: int,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
) -> DataFrame:
    """Numeric ε-band join — the range-join pattern Spark would
    otherwise plan as a BroadcastNestedLoopJoin (the classic scale
    killer): all (left, right) pairs sharing ``keys`` whose µ-quantized
    values (floor(value·1e6), BIGINT) differ by at most ``eps_u``.

    Plan: both sides bucket by floor(v_u / eps_u); the LEFT side fans
    out to buckets {b−1, b, b+1} (3 slim rows per input row), the join
    is a pure EQUI-join on (keys…, bucket), and the exact |Δ| ≤ eps_u
    filter runs post-join. A qualifying pair's right bucket is always
    within one of the left bucket, and the left row meets it at exactly
    ONE of its three fan-out buckets — so no pair is missed and none is
    duplicated (no distinct needed). Buckets are EXACT BIGINT floor
    division (``div`` plus a remainder correction for negatives — never
    a DOUBLE divide, whose rounding could shift a bucket by 1 for
    |v_u| > 2^53 and silently drop qualifying pairs; ADVICE r07). Floor
    (not truncation) keeps bucket adjacency correct for negative
    values. At 100 TB this is one shuffle per side on (keys, bucket);
    skew follows value density, monitored the same way the LSH bucket
    monitors watch their join keys.

    ``left_cols`` / ``right_cols`` select the output payload (suffixed
    ``_a`` / ``_b``); the quantized values ride along as ``v_u_a`` /
    ``v_u_b``. Quantization to integer µ-units before comparing keeps
    the band predicate engine-exact (no float subtraction at the
    boundary).
    """
    eps_u = int(eps_u)
    if eps_u <= 0:
        raise ValueError("band_join: eps_u must be positive")
    ks = list(keys)

    def prep(df: DataFrame, cols: Sequence[str], suffix: str) -> DataFrame:
        v_u = F.expr(
            f"CAST(floor(CAST({value_col} AS DOUBLE) * 1000000) AS BIGINT)"
        )
        out = df.select(
            *ks,
            v_u.alias(f"v_u{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in cols],
        )
        # exact integer floor division: BIGINT `div` truncates toward
        # zero; subtract 1 when the remainder is negative (eps_u > 0).
        # Pure BIGINT arithmetic — exact for the full value domain.
        # NULL values are pruned HERE, not left for the equi-join to
        # drop: a NULL bucket can never match, but an unpruned left row
        # still pays the 3x bucket fan-out first (and band_plan's
        # cand_pairs contract counts non-NULL rows only — r09 ADVICE).
        v = f"v_u{suffix}"
        out = out.where(F.col(v).isNotNull())
        return out.withColumn(
            "__bucket",
            F.expr(
                f"CAST(({v} div {eps_u}) - (CASE WHEN {v} % {eps_u} < 0 "
                f"THEN 1 ELSE 0 END) AS BIGINT)"
            ),
        )

    l = prep(left, left_cols, "_a").withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.col("__bucket") - 1, F.col("__bucket"), F.col("__bucket") + 1
            )
        ),
    )
    r = prep(right, right_cols, "_b")
    return (
        l.join(r, [*ks, "__bucket"])
        .where(
            F.abs(F.col("v_u_a") - F.col("v_u_b")) <= F.lit(eps_u)
        )
        .drop("__bucket")
    )


def _band_quantized(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Slim (keys…, v_u) projection with the SAME µ-quantization
    expression band_join uses — the shared base so the planner prices
    exactly the join that would run. NULL values are excluded here for
    the same reason key_skew_profile drops NULL keys: band_join's
    equi-join on (keys, bucket) can never match a NULL bucket, so a
    NULL-value row contributes zero candidate pairs — counting it
    would overstate the documented 'EXACT equi-join output row count'
    (ADVICE r08; engine-consistent with the oracle, so only this
    shared exclusion keeps plan == replay)."""
    v_u = F.expr(
        f"CAST(floor(CAST({value_col} AS DOUBLE) * 1000000) AS BIGINT)"
    )
    return df.select(*keys, v_u.alias("v_u")).where(F.col("v_u").isNotNull())


def _band_bucket_counts(
    base: DataFrame, keys: Sequence[str], eps_options: Sequence[int]
) -> DataFrame:
    """Per (eps_u, keys…, bucket) row counts for every candidate ε in ONE
    pass over the quantized ``base`` — band_plan's only data-sized pass
    and BandPlanMonitor's additive per-batch state. Each row is
    explode-tagged with every ε, so one bucketing projection and one
    (eps_u, keys, bucket) count serve all widths (r14 opt, the
    minhash_band_balance pattern).
    Bucketing is the identical exact-BIGINT floor division band_join
    performs (div + negative-remainder correction, never a DOUBLE
    divide)."""
    bucketed = base.select(
        *keys,
        "v_u",
        F.explode(
            F.array(*[F.lit(int(e)).cast("long") for e in eps_options])
        ).alias("eps_u"),
    ).withColumn(
        "bucket",
        F.expr(
            "CAST((v_u div eps_u) - (CASE WHEN v_u % eps_u < 0 "
            "THEN 1 ELSE 0 END) AS BIGINT)"
        ),
    )
    return bucketed.groupBy("eps_u", *keys, "bucket").agg(
        F.count("*").cast("long").alias("c")
    )


def band_stats_from_counts(
    counts: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Assemble the per-ε decision row from a (eps_u, keys…, bucket, c)
    counts frame — SHARED by the batch ``band_plan`` and the streaming
    ``BandPlanMonitor``, which both finish it with ``band_verdict``.
    Sort-free core: ordering happens only in band_verdict.

    ``cand_pairs`` is the EXACT equi-join output row count of the self
    band join at that ε (each left row fans out to buckets {b−1,b,b+1}
    and meets every right row there, so the volume is
    Σ_b c_b·(c_{b−1}+c_b+c_{b+1}) — self-pairs and both orders
    included, because that is what the cluster pays before any filter).
    The neighbor sum is a keys-partitioned RANGE window over the slim
    bucket-counts frame (gaps in the bucket sequence contribute
    nothing), never a scan of the data. ``imbalance_ppm`` =
    max_bucket/mean_bucket in ppm via the exact two-term divmod
    identity (BIGINT-safe in the hot-bucket regime; round-7 lesson)."""
    w = (
        Window.partitionBy("eps_u", *keys)
        .orderBy("bucket")
        .rangeBetween(-1, 1)
    )
    nb = counts.withColumn("__nb", F.sum("c").over(w))
    return (
        nb.groupBy("eps_u")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_buckets"),
            F.max("c").cast("long").alias("max_bucket_rows"),
            F.sum(F.col("c") * F.col("__nb")).cast("long").alias(
                "cand_pairs"
            ),
        )
        .withColumn(
            "imbalance_ppm",
            F.expr(
                "(max_bucket_rows * 1000000 div n_rows) * n_buckets"
                " + ((max_bucket_rows * 1000000 % n_rows) * n_buckets)"
                " div n_rows"
            ).cast("long"),
        )
    )


def band_verdict(stats: DataFrame, budget_pairs: int) -> DataFrame:
    """The band_plan decision table from band_stats_from_counts' per-ε
    rows: ``within_budget`` = cand_pairs ≤ ``budget_pairs``, and
    ``recommended`` = the widest ε within budget (all false when none
    is), sorted by eps_u. Shared by the batch ``band_plan`` and the
    streaming ``BandPlanMonitor``. ``stats`` is read twice (the
    best-width scalar and the verdict join): band_plan passes it
    persisted, the monitor its checkpointed state's projection."""
    out = stats.withColumn(
        "within_budget", F.col("cand_pairs") <= F.lit(int(budget_pairs))
    )
    best = out.agg(
        F.max(F.when(F.col("within_budget"), F.col("eps_u"))).alias("_best")
    )
    return (
        out.crossJoin(F.broadcast(best))
        .withColumn(
            "recommended",
            F.coalesce(F.col("eps_u") == F.col("_best"), F.lit(False)),
        )
        .drop("_best")
        .orderBy("eps_u")
    )


def band_plan(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    eps_options: Sequence[int] = (1_000, 5_000, 20_000),
    budget_pairs: int = 20_000_000,
) -> DataFrame:
    """ε-band join decision table — the range-join twin of
    ``similarity.lsh_plane_plan`` / ``dedup.minhash_band_balance``: per
    candidate band width ε (µ-units) the bucket occupancy, the EXACT
    candidate-pair volume the self band join would produce, and the
    hot-bucket imbalance — priced from one slim pass BEFORE committing
    the quadratic join. ``recommended`` = the WIDEST ε whose candidate
    volume fits ``budget_pairs`` (the loosest band affordable; width is
    the quality knob, volume the cost). When nothing fits, every
    ``recommended`` is false — shrink ε or pre-aggregate values.

    Scale shape: the µ-quantized (keys, v_u) projection is
    scratch-persisted and scanned ONCE for all candidate widths
    (_band_bucket_counts tags each row with every ε); the pass is a
    map-side-combined count shuffled on (eps_u, keys, bucket) — linear
    in the data, never quadratic. Skew follows value density: a hot
    ε-band shows up here as max_bucket_rows/imbalance_ppm before it
    becomes a straggler task (the same pre-join discipline the LSH
    planners encode, which is how a 100 TB range join avoids both the
    BNLJ and the hot-bucket stall)."""
    from pyspark import StorageLevel

    from ..plans.scratch import scratch_persist

    if not eps_options:
        raise ValueError("band_plan: eps_options must be non-empty")
    base = scratch_persist(
        _band_quantized(df, keys, value_col), StorageLevel.MEMORY_AND_DISK
    )
    counts = _band_bucket_counts(base, keys, eps_options)
    # 1 row per ε, but consumed by the best-width scalar AND the final
    # verdict join — persist or the whole pricing pass re-runs per
    # consumer (the lsh_plane_plan lesson)
    return band_verdict(
        scratch_persist(band_stats_from_counts(counts, keys)), budget_pairs
    )
