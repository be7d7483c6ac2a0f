"""Mergeable fixed-size sketches: Count-Min, HyperLogLog registers and
KMV bottom-k — one kernel per sketch, each taking an optional group
column (one mergeable summary per group), shared by the batch
operators, dedup's text-corpus KMV ops and the streaming monitors:

- **Count-Min** (Cormode & Muthukrishnan, J. Algorithms 2005):
  frequency estimation over an unbounded key domain with a FIXED
  depth×width counter matrix. The 100 TB story is the aggregation
  shape: the groupBy key is (row, col) with at most depth·width
  distinct values, so the map-side partial aggregate bounds the shuffle
  at depth·width rows PER PARTITION regardless of key cardinality —
  unlike an exact per-key count, whose shuffle grows with distinct
  keys. Counters are ADDITIVE (cms(A ∪ B) = cms(A) + cms(B), pinned in
  tests), which is what makes the streaming monitor's state update a
  bounded integer add and a multi-day rollup a sum of daily sketches.
- **HyperLogLog registers** (Flajolet et al., AofA 2007; ρ taken on
  trailing zeros as in the original Flajolet-Martin/PCSA — identical
  geometric law): per-group distinct-count registers that merge by MAX.
  The sketch is m integers per group no matter how many distinct keys
  flow through — vs KMV's k hash VALUES, HLL registers are smaller per
  unit of accuracy and the merge is an idempotent max (re-delivery
  safe), which is why it is the sketch of choice for per-source /
  per-day distinct-user rollups that later fold across partitions.
- **KMV** (Bar-Yossef et al. 2002): the k minimum hash VALUES per
  group (kmv_bottom_k — also the kernel under dedup.kmv_source_* for
  FNV text fingerprints), finished by kmv_estimate; pairs merge with
  kmv_pair_merge into union and membership-intersection estimates.

All are built on the engine-portable integer double-hash
(hashing.int_h1_h2 / int_mix_sql): one affine + two quadratic rounds
mod 2^31-1, every intermediate < 2^63 — plain BIGINT in Spark AND
DuckDB, so the oracle replays sketches bit-identically and the driver
gate hash-compares full register tables. No Python in the hot path:
every expression is whole-stage-codegen SQL. String keys: pre-hash to
an integer column first (the FNV path dedup.kmv_fingerprints uses) —
the mixer here only needs SOME integer injection of the key domain.

Reference parity note: the reference engine ships no sketch operators
(SURVEY.md §2); this family extends the training-data-pipeline surface
(exact counterpart: dedup.bloom_*).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import (
    MINHASH_PRIME,
    int_h1_sql,
    int_h2_sql,
    pow2_31_minus_rho_sql,
    rho_sql,
)

# Rational alpha_m for the HLL harmonic estimator, m >= 64: 0.709 as
# 709/1000 (integer-exact estimate arithmetic; the float constant is
# 0.7213/(1+1.079/m) ~= 0.709 at m=64 — bias at that 4th digit is far
# below the sketch's own ~1.04/sqrt(m) = 13% standard error).
HLL_ALPHA_NUM = 709
HLL_ALPHA_DEN = 1000


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    group_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of an integer key column: occupied counter
    cells as (group?, row, col, cnt), row ∈ [0, depth), col ∈ [0,
    width). With ``group_col`` set, one independent sketch per group
    value (per-source / per-day frequency tables — the hll_registers
    grouping convention), state ≤ groups·depth·width cells.

    Row j's hash is the Kirsch-Mitzenmacher walk (h1 + j·h2) mod p
    mod width — pairwise-independent enough for the CM guarantee
    (est ≤ true + e/width · N with prob ≥ 1 − e^−depth per row set).
    NULL keys are excluded (both engines agree a NULL hashes nowhere).
    A NULL group value is a group like any other (the groupBy keeps
    it), matching hll_registers.

    Plan shape: explode depth rows per event (in-partition), then ONE
    groupBy on (group?, row, col) — partial aggregation caps the
    shuffle at groups·depth·width rows per map partition at ANY key
    cardinality; the reduce side is ≤ groups·depth·width rows total.
    Empty cells are implicit zeros (the dense form is depth·width rows
    per group; emit occupied only).
    """
    if depth < 1 or width < 2:
        raise ValueError("depth >= 1 and width >= 2 required")
    p = MINHASH_PRIME
    gcols = [group_col] if group_col else []
    # project h1/h2 ONCE as columns, then explode the cheap per-j
    # arithmetic: embedding the nested quadratic mixer inside the
    # transform lambda duplicated it per struct and blew up the
    # generated code (first 10M run: 281.7s; hashed-columns form the
    # HLL twin already used: 16.4s for the same scan)
    hashed = df.where(F.col(key_col).isNotNull()).select(
        *gcols,
        F.expr(int_h1_sql(key_col)).alias("__h1"),
        F.expr(int_h2_sql(key_col)).alias("__h2"),
    )
    # posexplode of a PLAIN int array, depth unrolled driver-side — the
    # r12 refinement of the codegen lesson: the earlier
    # transform(sequence(...), j -> struct(...)) built depth structs
    # through a lambda per row and measured 6.8x slower on the same 5M
    # rows (10.05s vs 1.48s); pos IS the sketch row index.
    # __h1 + depth*__h2 < (1+depth)·2^31 — BIGINT-safe for any sane depth
    arr = F.array(
        *[
            F.expr(f"CAST((__h1 + {j} * __h2) % {p} % {int(width)} AS INT)")
            for j in range(int(depth))
        ]
    )
    return (
        hashed.select(*gcols, F.posexplode(arr).alias("row", "col"))
        .groupBy(*gcols, "row", "col")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_probe(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    group_col: str | None = None,
) -> DataFrame:
    """Point-query a Count-Min sketch for each row of ``keys``:
    (key_col…, est_cnt) where est = min over rows j of the counter at
    (j, h_j(key)) — 0 when a cell is empty (cell absent from the
    occupied-only sketch). est_cnt ≥ the key's true count, always
    (every occurrence incremented every probed cell); the overestimate
    is other keys' collisions. ``depth``/``width`` must match the
    build. With ``group_col`` set (a grouped cms_build sketch), the
    probe joins on (group, row, col) — each key row is answered by its
    own group's sketch, and ``group_col`` must be a column of ``keys``.
    Join is (group?, row, col)-keyed against a ≤ groups·depth·width-row
    sketch — broadcast-sized by construction at the modest group
    cardinalities a per-group sketch exists for (per-source, per-day);
    at extreme group counts drop the hint and let AQE pick. NULL keys
    are EXCLUDED from the output, matching cms_build's exclusion
    (ADVICE r11: a NULL key's hash expressions are NULL, the join never
    matches, and the row would come back as est_cnt = 0 — silently
    violating the est ≥ true contract for a key the sketch never
    counted). A NULL group row, however, probes the NULL group's sketch
    (both engines' join semantics drop NULL equality — so the grouped
    form joins on a null-safe group comparison to match cms_build's
    group-preserving groupBy)."""
    p = MINHASH_PRIME
    # hash once as columns before the explode (the cms_build codegen
    # lesson) — probing a large keys frame is a legitimate use
    hashed = keys.where(F.col(key_col).isNotNull()).select(
        *keys.columns,
        F.expr(int_h1_sql(key_col)).alias("__h1"),
        F.expr(int_h2_sql(key_col)).alias("__h2"),
    )
    # plain-int-array posexplode, the cms_build shape (6.8x vs the
    # lambda-built struct explode on the same rows)
    arr = F.array(
        *[
            F.expr(f"CAST((__h1 + {j} * __h2) % {p} % {int(width)} AS INT)")
            for j in range(int(depth))
        ]
    )
    probes = hashed.select(
        *keys.columns, F.posexplode(arr).alias("row", "col")
    )
    if group_col is None:
        # Grouped/ungrouped mismatch guard (ADVICE r13): an ungrouped
        # probe against a GROUPED sketch joins every group's cells per
        # (row, col) and the F.min across groups can fall BELOW the
        # key's true total — silently breaking est >= true. Unlike the
        # depth/width-mismatch misuse class this one is cheaply
        # detectable: the grouped sketch carries its group column.
        extra = set(cms.columns) - {"row", "col", "cnt"}
        if extra:
            raise ValueError(
                "cms_probe without group_col against a grouped sketch "
                f"(extra sketch column(s) {sorted(extra)}); pass "
                "group_col= to probe each key against its own group's "
                "sketch"
            )
        joined = probes.join(F.broadcast(cms), ["row", "col"], "left")
    else:
        # symmetric guard: a grouped probe needs the sketch's group
        # column (an ungrouped sketch has no per-group cells to match)
        if group_col not in cms.columns:
            raise ValueError(
                f"cms_probe(group_col={group_col!r}) against a sketch "
                "without that column — build with cms_build(..., "
                "group_col=) or drop group_col here"
            )
        if group_col not in keys.columns:
            raise ValueError(
                f"cms_probe: group_col {group_col!r} must be a column "
                "of keys"
            )
        # rename the sketch side so every join-condition reference is
        # unambiguous (row/col/group exist on both sides)
        c = (
            cms.withColumnRenamed(group_col, "__cg")
            .withColumnRenamed("row", "__crow")
            .withColumnRenamed("col", "__ccol")
        )
        joined = probes.join(
            F.broadcast(c),
            (F.col("row") == F.col("__crow"))
            & (F.col("col") == F.col("__ccol"))
            & F.col(group_col).eqNullSafe(F.col("__cg")),
            "left",
        ).drop("__crow", "__ccol", "__cg")
    return (
        joined.groupBy(*keys.columns)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est_cnt"))
    )


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_col: str | None = None,
    m: int = 64,
) -> DataFrame:
    """HyperLogLog register table for an integer key column, per group:
    occupied registers as (group?, bucket, rho) with bucket = h1 mod m
    and rho = (trailing zeros of h2) + 1 ∈ [1, 31] — the
    Flajolet-Martin rank on an independent 31-bit hash (P(rho ≥ r) =
    2^−(r−1) up to the 2^31−2 modulus edge, negligible at these
    widths). Registers hold max(rho); empty registers are implicit
    (rho = 0). NULL keys excluded.

    Merge law (pinned in tests): registers(A ∪ B) == per-bucket MAX of
    registers(A), registers(B) — idempotent, so re-delivered rows and
    re-merged shards never skew the estimate (unlike additive
    counters). One groupBy on (group, bucket): ≤ m distinct buckets per
    group — map-side combine caps the shuffle exactly like cms_build.
    """
    if m < 2 or (m & (m - 1)) != 0:
        raise ValueError("m must be a power of two >= 2")
    gcols = [group_col] if group_col else []
    # hash once as columns, THEN the rho CASE on the plain column — the
    # cms_build codegen lesson (embedding the mixer inside the 31-way
    # CASE duplicates it per WHEN arm's &-operand)
    hashed = df.where(F.col(key_col).isNotNull()).select(
        *gcols,
        F.expr(int_h1_sql(key_col)).alias("__h1"),
        F.expr(int_h2_sql(key_col)).alias("__h2"),
    )
    return (
        hashed.select(
            *gcols,
            F.expr(f"CAST(__h1 % {int(m)} AS INT)").alias("bucket"),
            F.expr(rho_sql("__h2")).cast("int").alias("rho"),
        )
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame,
    m: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Finish an HLL register table into per-group integer estimates:
    (group…, occupied, harmonic_scaled, est_distinct).

    harmonic_scaled = Σ_buckets 2^(31−rho), empty buckets contributing
    2^31 — i.e. 2^31 · Σ 2^−rho, the harmonic denominator held EXACTLY
    in a BIGINT (≤ m·2^31 = 2^42 at the validated max m = 2048).
    est_distinct =
    (709·m²·2^31) div (1000·harmonic_scaled) — the standard
    alpha·m²/Σ2^−rho estimator in exact integer arithmetic
    (HLL_ALPHA_NUM/DEN; numerator ≤ 709·2048²·2^31 < 2^63 — m ≤ 2048
    is VALIDATED here: at m = 4096 the numerator is 2.55e19 > 2^63−1
    and the harmonic branch would overflow BIGINT). No
    small-range linear-counting correction (ln is float — the
    documented bias: when n ≪ m the harmonic denominator is dominated
    by the m−n empty registers' 2^31 terms, so est floors at ≈ α·m
    (~45 at m=64) regardless of how small n is. Below ~2.5m distincts
    use the ``occupied`` column, which IS the linear-counting input
    m·ln(m/(m−occupied)), driver-side)."""
    if m < 2 or (m & (m - 1)) != 0:
        raise ValueError("m must be a power of two >= 2")
    if m > 2048:
        raise ValueError(
            "m > 2048: the exact-integer harmonic numerator 709*m^2*2^31 "
            "overflows BIGINT beyond m = 2048 — use a smaller sketch"
        )
    g = list(group_cols or [])
    # coalesce: an EMPTY register table (fresh monitor, all-empty
    # batches) global-aggregates to one row with occupied=0 and a NULL
    # sum — the defined answer is harmonic_scaled = m·2^31, est ≈ α·m
    agg = registers.groupBy(*g).agg(
        F.count("*").cast("long").alias("occupied"),
        F.coalesce(
            F.sum(F.expr(pow2_31_minus_rho_sql("rho"))), F.lit(0)
        ).cast("long").alias("__hs"),
    )
    two31 = 1 << 31
    num = HLL_ALPHA_NUM * int(m) * int(m) * two31
    return agg.select(
        *g,
        "occupied",
        (
            F.col("__hs") + (F.lit(int(m)) - F.col("occupied")) * F.lit(two31)
        ).alias("harmonic_scaled"),
        F.expr(
            f"CAST({num} AS BIGINT) div "
            f"({HLL_ALPHA_DEN} * (__hs + ({int(m)} - occupied) "
            f"* CAST({two31} AS BIGINT)))"
        ).cast("long").alias("est_distinct"),
    )


def hll_lc_values(m: int) -> list[int]:
    """Linear-counting estimates m·ln(m/(m−occ)) rounded to the nearest
    integer, one per occupied count occ ∈ [0, m−1] (occ = m — a full
    register file — has no LC estimate; callers switch to the raw
    harmonic estimator there). ln is float, which is exactly why the
    table exists: it is evaluated ONCE here (Python libm) and emitted
    as integer LITERALS into both engines' SQL, so the estimators stay
    bit-identical cross-engine without assuming two libms round alike.
    m is sketch width — 64-2048 registers — so the table is tiny."""
    if m < 2 or (m & (m - 1)) != 0:
        raise ValueError("m must be a power of two >= 2")
    if m > 2048:
        # matches hll_estimate's BIGINT-safe bound — a CASE table for a
        # width the harmonic finisher can't legally consume is a trap
        raise ValueError("m > 2048: beyond hll_estimate's BIGINT-safe "
                         "bound (and the LC CASE literal table is per-"
                         "register) — use a smaller sketch")
    return [round(m * math.log(m / (m - occ))) for occ in range(m)]


def hll_lc_case_sql(m: int, occ_col: str) -> str:
    """Generated CASE mapping an occupied-register count to its
    linear-counting estimate (hll_lc_values literals) — valid VERBATIM
    in Spark SQL and DuckDB, the rho_sql convention. occ = m falls
    through to NULL (callers guard with the raw-estimator switch)."""
    whens = " ".join(
        f"WHEN {occ} THEN {v}" for occ, v in enumerate(hll_lc_values(m))
    )
    return f"(CASE ({occ_col}) {whens} END)"


# Standard HLL small-range switch (Flajolet et al. 2007 §4): the raw
# harmonic estimator is used above 2.5·m expected distincts; below,
# linear counting on the empty-register count is both lower-variance
# and unbiased. 2.5m as exact integer halves: raw*2 <= 5*m.
HLL_LC_SWITCH_NUM = 5
HLL_LC_SWITCH_DEN = 2


def hll_estimate_corrected(
    registers: DataFrame,
    m: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """hll_estimate with the standard small-range linear-counting
    switch: (group…, occupied, est_raw, est_distinct) where est_raw is
    the harmonic estimator and est_distinct = m·ln(m/(m−occupied))
    (precomputed integer table, hll_lc_values) when est_raw ≤ 2.5·m
    and empty registers exist, else est_raw. This removes the raw
    estimator's documented ≈ α·m floor at n ≪ m (hll_estimate's
    docstring): the corrected estimator is usable across the whole
    range — est 0 at n = 0, ≈ n while registers are sparse, harmonic
    once buckets saturate. Everything stays exact-integer and
    engine-portable: the only float (ln) is evaluated once driver-side
    into literals both engines share."""
    g = list(group_cols or [])
    base = hll_estimate(registers, m, g)
    lc = F.expr(hll_lc_case_sql(int(m), "occupied")).cast("long")
    use_lc = (F.col("occupied") < F.lit(int(m))) & (
        F.col("est_distinct") * HLL_LC_SWITCH_DEN
        <= F.lit(HLL_LC_SWITCH_NUM * int(m))
    )
    return base.select(
        *g,
        "occupied",
        F.col("est_distinct").alias("est_raw"),
        F.when(use_lc, lc).otherwise(F.col("est_distinct"))
        .cast("long")
        .alias("est_distinct"),
    )


def hll_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    m: int = 64,
) -> DataFrame:
    """HLL set algebra over two key streams: ONE row (occupied_a,
    occupied_b, occupied_union, est_a, est_b, est_union, est_inter)
    where est_union comes from the per-bucket MAX merge of the two
    register files (the pinned idempotent merge law — union costs no
    rescan of either side: each register table is persisted and feeds
    both its own estimate and the max-merge from cache) and est_inter =
    est_a + est_b − est_union by inclusion-exclusion. The KMV form
    (kmv_pair_merge, behind dedup.kmv_source_overlap) estimates overlap
    from k smallest hash values; this is the register-file form — m
    ints per side no matter
    the cardinality, mergeable across shards/days without touching raw
    data, which is what makes per-source overlap matrices tractable at
    100 TB (sketch once per source, combine driver-side). Estimates
    use the linear-counting-corrected estimator, so small splits don't
    sit on the raw α·m floor. est_inter can go slightly negative on
    near-disjoint inputs (difference of estimators) — it is an
    estimate, reported as-is; exact-join audits belong next to it
    (the gate query carries the exact columns)."""
    from ..plans.scratch import scratch_persist

    # each register frame is consumed twice (own estimate + the union
    # max-merge); without the persist the no-double-scan property would
    # ride on Spark exchange reuse, which AQE/plan changes can defeat
    # coalesce(1): register files are bounded at m rows no matter the
    # input size, and the inherited 32-way agg partitioning made every
    # consumer stage schedule 32 tasks over ~64 cached rows (r15 opt,
    # the hll_overlap_matrix measurement)
    ra = scratch_persist(hll_registers(df_a, key_col, None, m).coalesce(1))
    rb = scratch_persist(hll_registers(df_b, key_col, None, m).coalesce(1))
    ru = (
        ra.unionByName(rb)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    # Fused finisher (r14 opt): tag the three register files and run the
    # GROUPED corrected estimator once — one aggregation pipeline and a
    # 3-row→1-row conditional rollup replace three independent estimate
    # pipelines stitched by two scalar-attach cross joins. Per-group
    # math is identical to the ungrouped estimator by construction
    # (same hll_estimate_corrected, group key = the tag).
    tagged = (
        ra.select(F.lit("a").alias("__t"), "bucket", "rho")
        .unionByName(rb.select(F.lit("b").alias("__t"), "bucket", "rho"))
        .unionByName(ru.select(F.lit("u").alias("__t"), "bucket", "rho"))
    )
    est = hll_estimate_corrected(tagged, m, ["__t"])

    def _pick(tag: str, col: str) -> F.Column:
        return F.max(F.when(F.col("__t") == tag, F.col(col)))

    # an EMPTY side has no tagged rows, so its group is absent — the
    # ungrouped estimator's defined empty answer is occupied 0 / est 0
    # (LC at occ 0), restored here by the coalesces
    return est.agg(
        F.coalesce(_pick("a", "occupied"), F.lit(0))
        .cast("long")
        .alias("occupied_a"),
        F.coalesce(_pick("b", "occupied"), F.lit(0))
        .cast("long")
        .alias("occupied_b"),
        F.coalesce(_pick("u", "occupied"), F.lit(0))
        .cast("long")
        .alias("occupied_union"),
        F.coalesce(_pick("a", "est_distinct"), F.lit(0))
        .cast("long")
        .alias("est_a"),
        F.coalesce(_pick("b", "est_distinct"), F.lit(0))
        .cast("long")
        .alias("est_b"),
        F.coalesce(_pick("u", "est_distinct"), F.lit(0))
        .cast("long")
        .alias("est_union"),
        (
            F.coalesce(_pick("a", "est_distinct"), F.lit(0))
            + F.coalesce(_pick("b", "est_distinct"), F.lit(0))
            - F.coalesce(_pick("u", "est_distinct"), F.lit(0))
        )
        .cast("long")
        .alias("est_inter"),
    )


def hll_overlap_matrix(
    df: DataFrame,
    key_col: str,
    group_col: str,
    m: int = 64,
) -> DataFrame:
    """All-pairs HLL overlap matrix from ONE register scan:
    (group_a, group_b, occupied_a, occupied_b, occupied_union, est_a,
    est_b, est_union, est_inter) for every unordered group pair
    (group_a < group_b) — hll_overlap generalized from 2 fixed sides to
    every pair of a grouping column's values (NEXT.md r13 candidate;
    the register-file form of kmv_overlap_matrix).

    The raw data is scanned ONCE into the per-group register table
    (hll_registers — ≤ groups·m rows no matter the input size); the
    matrix is assembled entirely sketch-side: _pair_fans (the pair
    build kmv_pair_merge shares) fans each group's registers to the
    pairs it participates in (groups² pairs — tiny), a (pair, bucket)
    max-merge forms each pair's union
    registers (the pinned idempotent merge law), and
    hll_estimate_corrected finishes per-group and per-pair estimates.
    est_inter = est_a + est_b − est_union (inclusion-exclusion; like
    hll_overlap it can go slightly negative on near-disjoint pairs —
    reported as-is). At 100 TB this is the whole point of register
    sketches: k sources cost one corpus scan + O(k²·m) sketch rows,
    never k² corpus scans or an all-pairs key join.

    NULL group rows form their own register group (hll_registers keeps
    them) but are EXCLUDED from the matrix — '<' never admits a NULL
    side; probe a NULL group's estimate via hll_estimate_corrected
    directly. NULL keys excluded as always.
    """
    from ..plans.scratch import scratch_persist

    # consumed six times (per-group estimates twice via ea/eb, the
    # distinct-groups frame, both pair fan-outs) — persisted AND
    # coalesced to one partition: the register table is bounded at
    # groups·m rows NO MATTER the input size (the whole point of the
    # sketch), yet it inherits the aggregation's full shuffle
    # partitioning, so every consumer stage scheduled 32 tasks over a
    # ~320-row cache (measured: six ~170 ms 32-task stages per run,
    # ~1s of pure task scheduling at sf0.1). coalesce(1) narrows the
    # final register merge and every downstream read to one task —
    # scale-safe because the frame is sketch-sized by construction.
    regs = scratch_persist(
        hll_registers(df, key_col, group_col, m).coalesce(1)
    )
    est = hll_estimate_corrected(regs, m, [group_col])
    fan_a, fan_b = _pair_fans(regs, group_col, "bucket", "rho")
    union_regs = (
        fan_a.unionByName(fan_b)
        .groupBy("group_a", "group_b", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    eu = hll_estimate_corrected(
        union_regs, m, ["group_a", "group_b"]
    ).select(
        "group_a",
        "group_b",
        F.col("occupied").alias("occupied_union"),
        F.col("est_distinct").alias("est_union"),
    )
    ea = est.select(
        F.col(group_col).alias("group_a"),
        F.col("occupied").alias("occupied_a"),
        F.col("est_distinct").alias("est_a"),
    )
    eb = est.select(
        F.col(group_col).alias("group_b"),
        F.col("occupied").alias("occupied_b"),
        F.col("est_distinct").alias("est_b"),
    )
    return (
        eu.join(F.broadcast(ea), "group_a")
        .join(F.broadcast(eb), "group_b")
        .select(
            "group_a",
            "group_b",
            "occupied_a",
            "occupied_b",
            "occupied_union",
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_inter"),
        )
        .orderBy("group_a", "group_b")
    )


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    k: int = 256,
    group_col: str | None = None,
) -> DataFrame:
    """KMV (k minimum values, Bar-Yossef et al. 2002) sketch of an
    integer key column as (group?, h) rows — the third mergeable
    sketch gets the cms_build/hll_registers ``group_col`` treatment:
    one independent bottom-k per group value, state ≤ groups·k hash
    values. vs HLL registers, KMV keeps the hash VALUES, so sketches
    also support union/intersection estimation by set algebra
    (dedup.kmv_source_overlap's text-corpus form); vs CMS it answers
    distinct-count, not frequency.

    The hash is the engine-portable integer mixer (int_h1_sql, uniform
    on [0, 2^31−1)), so sketch contents and estimates replay bit-exact
    in the DuckDB oracle. NULL keys are excluded (a NULL hashes
    nowhere); a NULL group value is a group like any other.

    Merge law (pinned in tests): kmv_sketch(A ∪ B) ==
    kmv_merge(kmv_sketch(A) ∪ kmv_sketch(B)) — bottom-k of a union is
    the bottom-k of the unions' bottom-ks, and duplicates collapse via
    DISTINCT, so re-merged shards and re-delivered rows never skew the
    estimate (idempotent, like HLL's max and unlike CMS's add).

    Scale shape: one distinct on (group?, h) — map-side partial
    aggregation first — then the per-group bottom-k runs SHARDED
    (h % 32 window bottom-k, then bottom-k over the ≤ 32·k survivors
    via a bounded sort_array finisher): no single-task global sort per
    group at any key cardinality, no global window in the ungrouped
    form (the finisher is an aggregation).
    """
    if k < 2:
        raise ValueError("k >= 2 required")
    gcols = [group_col] if group_col else []
    # dict.fromkeys: group_col == key_col is legal (sketch the key
    # domain grouped by itself) — a duplicate select would make every
    # downstream reference ambiguous
    cols = list(dict.fromkeys((*gcols, key_col)))
    hashed = (
        df.where(F.col(key_col).isNotNull())
        .select(*cols)
        .select(*gcols, F.expr(int_h1_sql(key_col)).alias("h"))
        .distinct()
    )
    return kmv_bottom_k(hashed, k, gcols)


def kmv_bottom_k(
    fp: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group k minimum distinct h values of a (group…, h) frame —
    the KMV sketch itself, shared by kmv_sketch's integer keys and
    dedup's text fingerprints. Two passes: a SHARDED window bottom-k
    (h % 32 — partitionBy always includes the shard key, so no global
    window even with no groups) caps survivors at 32·k per group, then
    a sort_array/slice finisher aggregation picks the true bottom-k
    from that bounded set (an agg, not a window — flag-free and
    map-side combinable in the ungrouped form)."""
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    w_shard = Window.partitionBy(*gcols, "__shard").orderBy("h")
    survivors = (
        fp.withColumn("__shard", F.col("h") % 32)
        .withColumn("__r", F.row_number().over(w_shard))
        .where(F.col("__r") <= k)
        .drop("__shard", "__r")
    )
    return (
        survivors.groupBy(*gcols)
        .agg(
            F.slice(F.sort_array(F.collect_list("h")), 1, k).alias("__hs")
        )
        .select(*gcols, F.explode("__hs").alias("h"))
    )


def kmv_merge(
    sketches: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge a union of KMV sketch frames back to one bottom-k per
    group — bottom-k of the concatenated (group…, h) rows, duplicate
    hash values collapsed. kmv_merge(kmv_sketch(A) ∪ kmv_sketch(B)) ==
    kmv_sketch(A ∪ B) exactly (the pinned merge law): the multi-shard
    merge. The streaming KMV monitors apply the same law to collected
    sketches on the driver (streaming.ingest._merge_bottom_k)."""
    gcols = list(group_cols or [])
    return kmv_bottom_k(sketches.select(*gcols, "h").distinct(), k, gcols)


def kmv_estimate(
    sketch: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Finish a KMV sketch into per-group distinct estimates:
    (group…, m, u_k, est_distinct) with est = (k−1)·P div u_k (hashes
    uniform on [0, P) ⇒ the k-th minimum sits near k/n·P), or exactly
    m when the sketch is complete (m < k — fewer than k distinct hash
    values exist, so the sketch IS the distinct set). Pure integer
    arithmetic — (k−1)·P < 2^63 at any sane k — replayed bit-exact by
    the oracle (`//` in DuckDB, `div` here). Estimates DISTINCT HASHES;
    at 2^31-scale key domains the collision deficit vs true distinct
    keys is far below the sketch's own ~1/√(k−2) relative error."""
    gcols = list(group_cols or [])
    P = MINHASH_PRIME
    return (
        sketch.groupBy(*gcols)
        .agg(
            F.count("*").cast("long").alias("m"),
            F.max("h").cast("long").alias("u_k"),
        )
        .select(
            *gcols,
            "m",
            "u_k",
            F.expr(
                f"CASE WHEN m < {k} THEN m "
                f"ELSE CAST({k - 1} AS BIGINT) * {P} div u_k END"
            ).cast("long").alias("est_distinct"),
        )
    )


def _pair_fans(sk: DataFrame, group_col: str, *cols: str) -> tuple[DataFrame, DataFrame]:
    """The pair build of both overlap matrices (hll_overlap_matrix,
    kmv_pair_merge): a distinct-groups '<' self-join builds the pair frame
    (group_a, group_b) — the declared benign cartesian class, bounded by
    group cardinality at ANY input size — and two equi-joins fan each
    group's sketch rows ``cols`` to the pairs it is side a of, resp. side
    b of. NULL groups never pair ('<' never admits a NULL side)."""
    groups = sk.select(F.col(group_col).alias("__g")).distinct()
    pairs = groups.select(F.col("__g").alias("group_a")).join(
        groups.select(F.col("__g").alias("group_b")),
        F.col("group_a") < F.col("group_b"),
    )
    s = sk.withColumnRenamed(group_col, "__sg")
    return tuple(
        pairs.join(s, F.col("__sg") == F.col(side)).select("group_a", "group_b", *cols)
        for side in ("group_a", "group_b")
    )


def kmv_pair_merge(sk: DataFrame, k: int, group_col: str) -> DataFrame:
    """Pairwise union sketches of a grouped KMV sketch: per unordered
    group pair (group_a < group_b) the bottom-k of the pair's union
    with side-membership flags — (group_a, group_b, kk, u_kk,
    est_union, p_both, est_inter), where kk = |union bottom-k|, u_kk
    its largest hash, p_both = its members present in BOTH sides,
    est_union = kk when complete (kk < k) else (k−1)·P div u_kk, and
    est_inter = p_both·est_union div kk (the Beyer et al. 2007
    membership estimator: never negative, EXACT when the union sketch
    is complete). The one pair merge of kmv_overlap_matrix and
    dedup.kmv_source_overlap.

    Sketch-side only: _pair_fans (the pair build hll_overlap_matrix
    shares) fans each group's hashes to its pairs, a per-pair distinct +
    sharded bottom-k forms each union sketch, and the membership flags
    ride along via a 3-key re-join. NULL groups never pair."""
    from ..plans.scratch import scratch_persist

    fan_a, fan_b = (
        fan.select("*", F.lit(a).alias("in_a"), F.lit(1 - a).alias("in_b"))
        for fan, a in zip(_pair_fans(sk, group_col, "h"), (1, 0))
    )
    # one row per (pair, h) with side-membership flags
    tagged = scratch_persist(
        fan_a.unionByName(fan_b)
        .groupBy("group_a", "group_b", "h")
        .agg(
            F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
        )
        # bounded at pairs*2k rows: one task, not a full shuffle-width
        # wave over a few hundred cached rows
        .coalesce(1)
    )
    union_k = kmv_bottom_k(
        tagged.select("group_a", "group_b", "h"),
        k,
        ["group_a", "group_b"],
    )
    P = MINHASH_PRIME
    return (
        union_k.join(tagged, ["group_a", "group_b", "h"])
        .groupBy("group_a", "group_b")
        .agg(
            F.count("*").cast("long").alias("kk"),
            F.max("h").cast("long").alias("u_kk"),
            F.sum(F.col("in_a") * F.col("in_b"))
            .cast("long")
            .alias("p_both"),
        )
        .select(
            "group_a",
            "group_b",
            "kk",
            "u_kk",
            F.expr(
                f"CASE WHEN kk < {k} THEN kk "
                f"ELSE CAST({k - 1} AS BIGINT) * {P} div u_kk END"
            ).cast("long").alias("est_union"),
            "p_both",
        )
        .withColumn(
            "est_inter",
            F.expr("p_both * est_union div kk").cast("long"),
        )
    )


def kmv_overlap_matrix(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """All-pairs KMV overlap matrix from ONE corpus scan — the KMV twin
    of ``hll_overlap_matrix``, with the property register sketches
    cannot offer: because KMV keeps hash VALUES, intersections come
    from actual membership (h ∈ S_a AND h ∈ S_b inside the union
    bottom-k — the Beyer et al. 2007 estimator) instead of
    inclusion-exclusion, so they cannot go negative, and whenever a
    pair's union sketch is COMPLETE (fewer than k distinct hashes) the
    reported intersection and union are EXACT, not estimates.

    Output per unordered group pair (group_a < group_b): (m_a, m_b,
    est_a, est_b, kk, u_kk, est_union, p_both, est_inter,
    jaccard_ppm) — the kmv_pair_merge columns next to each side's
    kmv_estimate, and jaccard_ppm = p_both·10^6 div kk. All integer
    arithmetic — the DuckDB oracle replays every column bit-exact.

    Scale shape (the hll_overlap_matrix argument): one corpus scan
    into ≤ groups·k sketch rows (kmv_sketch's sharded bottom-k), then
    the matrix is assembled entirely sketch-side (kmv_pair_merge). k
    sources cost one scan + O(k²·k_sketch) sketch rows, never k²
    corpus scans.

    NULL group rows form their own sketch group (kmv_sketch keeps
    them) but are EXCLUDED from the matrix — '<' never admits a NULL
    side; probe a NULL group via kmv_estimate directly. NULL keys
    excluded as always.
    """
    from ..plans.scratch import scratch_persist

    # consumed three times (per-group estimates + both pair fan-outs);
    # coalesce(1): the sketch is bounded at groups*k rows no matter the
    # input size (the hll_overlap_matrix task-scheduling measurement)
    sk = scratch_persist(kmv_sketch(df, key_col, k, group_col).coalesce(1))
    est = kmv_estimate(sk, k, [group_col])
    ea = est.select(
        F.col(group_col).alias("group_a"),
        F.col("m").alias("m_a"),
        F.col("est_distinct").alias("est_a"),
    )
    eb = est.select(
        F.col(group_col).alias("group_b"),
        F.col("m").alias("m_b"),
        F.col("est_distinct").alias("est_b"),
    )
    return (
        kmv_pair_merge(sk, k, group_col)
        .join(F.broadcast(ea), "group_a")
        .join(F.broadcast(eb), "group_b")
        .select(
            "group_a",
            "group_b",
            "m_a",
            "m_b",
            "est_a",
            "est_b",
            "kk",
            "u_kk",
            "est_union",
            "p_both",
            "est_inter",
            F.expr("p_both * 1000000 div kk").cast("long").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy("group_a", "group_b")
    )
