"""Driver contract for the spark-graft builder (PySpark target).

queries() maps SURVEY.md §2 operators (expressed over the driver's testdata
tables) to engine calls in bytehub_spark.operators / bytehub_spark.timeseries;
oracle_sql() carries the DuckDB-equivalent SQL. Cross-engine float policy:
- elementwise arithmetic is written with identical operand order (IEEE
  doubles are deterministic per-op) → exact match, no rounding;
- order-sensitive SUMs go through DECIMAL accumulation (exact) and are cast
  back to DOUBLE;
- reductions over arrays (cosine) are rounded to 4 decimals before ranking.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from bytehub_spark.operators import (
    asof,
    curation,
    dedup,
    events_ops,
    ivf,
    profile,
    linkage,
    multimodal,
    pca,
    pq,
    similarity,
    skew,
    text,
    tpch,
)
from bytehub_spark.plans.scratch import scratch_persist
from bytehub_spark.sources import load_table
from bytehub_spark.sources import zorder as zorder_src

SF_SMOKE = "/root/testdata/sf0.001"

# Single source of truth for cur_budget_alloc's token budget: the
# queries() entry passes it to curation.budget_allocation and the
# oracle SQL derives its exact-BIGINT divmod literals from it via
# _BUDGET_Q/_BUDGET_R (ADVICE r10: inlining budget=1e6's divmod as
# bare 1/0 literals silently coupled the oracle to this value — change
# the budget and the engines desynced with no guard).
BUDGET_ALLOC_TOKENS = 1_000_000
_BUDGET_Q, _BUDGET_R = divmod(BUDGET_ALLOC_TOKENS, 1_000_000)

# dedup_edit_pairs injection, ONE definition for both engines (the
# cur_budget_alloc lesson: literal-duplicated gate parameters desync
# silently). ASCII prefix guard because Spark levenshtein counts
# codepoints while DuckDB's counts bytes — equal only on ASCII.
# Anchored \z, not $ (ADVICE r10): Java regex lets $ match before a
# trailing '\n' while RE2 matches end-of-text only, so a prefix ending
# in a newline passed the Spark filter but missed the oracle's.
EDIT_INJ_MOD = 41
EDIT_INJ_OFFSET = 30_000_000
EDIT_INJ_MINLEN = 6
EDIT_ASCII_RE = "^[ -~]*\\z"

# dedup_qgram_pairs injection (k=3 routing target: the corpus has no
# guaranteed 3-edit titles below sf0.1, so the gate plants 3-char
# substitutions at positions 5/12/19). Same one-definition rule.
QGRAM_K = 3
QGRAM_Q = 2
_QGRAM_MINLEN_POP = QGRAM_Q * (QGRAM_K + 1)  # population contract
QGRAM_INJ_MOD = 37
QGRAM_INJ_OFFSET = 40_000_000
QGRAM_INJ_MINLEN = 21  # last substituted position (19) + margin
# position-5/12/19 triple substitution, one string per engine dialect
QGRAM_INJ_SPARK = (
    "concat(substring(text, 1, 4), 'z', substring(text, 6, 6), 'q',"
    " substring(text, 13, 6), 'x', substring(text, 20))"
)
QGRAM_INJ_DUCK = (
    "substring(text, 1, 4) || 'z' || substring(text, 6, 6) || 'q' ||"
    " substring(text, 13, 6) || 'x' || substring(text, 20)"
)

# dedup_qgram_routed corpus: QGRAM_COPIES exact copies of every doc
# (offset multiples of QGRAM_COPY_OFFSET) on top of the substitution
# injection, so identical-prefix islands of size COPIES+1 exist at
# every sf and the routed operator's island-collapse path triggers
# deterministically: the copy multiplier scales the priced direct
# volume by (COPIES+1)² while the collapsed (rep-level) volume is
# unchanged, so budget = direct // (COPIES+1) sits strictly between
# them. Same one-definition rule as the other injections.
QGRAM_COPIES = 3
QGRAM_COPY_OFFSET = 100_000_000

# dedup_jaccard_routed corpus: every doc_id % JACR_INJ_MOD == 0 with
# >= JACR_INJ_MINWORDS words gets a copy with the LAST WORD DROPPED
# (offset JACR_INJ_OFFSET) — at m words and 3-gram shingles the pair's
# jaccard is (m−3)/(m−2) >= JACR_TAU/1e6 for m >= 5, so high-sim pairs
# exist at every sf. Budget = midpoint of the two priced route volumes
# (jaccard_plan), so the router deterministically rejects the
# inverted-index join and takes the prefix-filtered route — the gate
# runs price → reject → re-price → route every round while the oracle
# recomputes the pair set by brute SQL, route-independent.
JACR_TAU = 600_000
JACR_INJ_MOD = 29
JACR_INJ_MINWORDS = 5
JACR_INJ_OFFSET = 60_000_000

# Sketch-family shapes, ONE definition for both engines (same rule).
CMS_DEPTH = 4
CMS_WIDTH = 256
HLL_M = 64
# grouped KMV: 64 keeps sf0.001 on the complete-sketch branch (15
# users < k → est == m) and sf0.01+ on the estimator branch (150+
# users) — both CASE arms swept by the triple-scale sweep.
KMVSK_K = 64


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-user hourly LOCF resample (the as-of/forward-fill
    retrieval at the heart of the feature store) on sf0.001."""
    events = load_table(spark, SF_SMOKE, "events")
    return events_ops.resample_locf(events, "1h")


def _q(fn, *tables):
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(*[load_table(spark, sf_dir, t) for t in tables])

    return runner


def _lsh_novelty(documents: DataFrame) -> DataFrame:
    """Batch twin of streaming.stream_dedup_lsh over the documents table,
    with arrival time synthesized from doc_id (one doc per minute)."""
    from pyspark.sql import functions as F

    from bytehub_spark.streaming import dedup_lsh_batch

    docs = documents.select(
        "doc_id",
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_dt_interval(mins=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    return dedup_lsh_batch(docs).orderBy("doc_id")


def _incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_lsh's exact semantics, with the corpus index
    routed through its documented persisted form (build_lsh_index:
    parquet partitioned on band, overwritten each run, read back before
    the increment join). The round-trip — including the partition
    column coming back retyped by directory inference — must be
    invisible to results; the oracle is byte-identical to
    dedup_incremental_lsh's."""
    import os
    import tempfile

    from bytehub_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    # pid-scoped path: a fixed shared path raced when two processes ran
    # the query concurrently (one's overwrite deletes the directory
    # under the other's lazy scan — code-review r11); per-process is
    # unique enough, and same-process reruns still overwrite in place
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        tempfile.gettempdir(),
        f"bytehub_lsh_index_{tag}_{os.getpid()}",
    )
    # the directory outlives this call (the returned frame reads it
    # lazily) but must not outlive the process — every gate/sweep
    # process otherwise leaks one index copy into /tmp (code-review
    # r11). atexit is idempotent-safe: same path per (sf, pid).
    import atexit
    import shutil

    atexit.register(shutil.rmtree, path, ignore_errors=True)
    (
        dedup.build_lsh_index(docs.where(F.col("doc_id") % 10 != 0))
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(path)
    )
    return dedup.dedup_against_index(
        docs.where(F.col("doc_id") % 10 == 0), spark.read.parquet(path)
    )


def _cms_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over events.user_id (depth 4 × width 256)
    probed at the exact top-10 users: (user_id, true_cnt, est_cnt,
    over_cnt). est ≥ true ALWAYS (CM one-sided error — every occurrence
    increments every probed cell); over_cnt is other keys' collision
    mass, 0 until the key space outgrows the 256-cell rows. The oracle
    replays the engine-portable integer double-hash
    (hashing.int_mix_sql) bit-exactly, so the gate compares full
    sketch-derived values, not just shapes."""
    from bytehub_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull())
    cms = sketches.cms_build(keyed, "user_id", CMS_DEPTH, CMS_WIDTH)
    top = (
        keyed.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(10)  # TakeOrdered, not a global sort
    )
    probe = sketches.cms_probe(cms, top, "user_id", CMS_DEPTH, CMS_WIDTH)
    return probe.select(
        "user_id",
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).alias("over_cnt"),
    ).orderBy("user_id")


def _hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HyperLogLog distinct-user estimate (m = 64
    registers) finished into exact-integer columns (occupied,
    harmonic_scaled, est_distinct) next to the exact distinct count and
    the absolute error — the KMV query's self-audit convention. At
    sf ≤ 0.01 the raw harmonic estimator sits at its documented ≈ α·m
    floor (n ≪ m — linear-counting territory, see hll_estimate); at
    sf0.1 (1,500 users) it lands within its ~13% standard error. All
    sketch arithmetic is exact-integer and engine-portable, so the gate
    hash-compares register-derived values at every scale."""
    from bytehub_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull())
    # keyed on BOTH sides: hll_registers re-filters nulls internally,
    # but passing the same frame makes the est/exact population
    # identity explicit instead of a fact the reader must re-derive
    regs = sketches.hll_registers(keyed, "user_id", "event_type", HLL_M)
    est = sketches.hll_estimate(regs, HLL_M, ["event_type"])
    exact = keyed.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "occupied",
            "harmonic_scaled",
            "est_distinct",
            "exact_distinct",
            F.abs(F.col("est_distinct") - F.col("exact_distinct")).alias(
                "abs_err"
            ),
        )
        .orderBy(F.asc_nulls_last("event_type"))
    )


def _hll_users_lc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_hll_users with the linear-counting-corrected estimator
    (sketches.hll_estimate_corrected): below the 2.5·m switch the
    estimate comes from the precomputed integer m·ln(m/(m−occupied))
    table instead of sitting on the raw estimator's ≈ α·m floor. Both
    branches are exercised across the sweep scales (LC at sf ≤ 0.01
    where groups hold ~15 users, raw at sf0.1's ~1,400); the oracle
    replays registers, both estimators, and the switch bit-exactly
    (the LC table is integer literals shared by both engines)."""
    from bytehub_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull())
    regs = sketches.hll_registers(keyed, "user_id", "event_type", HLL_M)
    est = sketches.hll_estimate_corrected(regs, HLL_M, ["event_type"])
    exact = keyed.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "occupied",
            "est_raw",
            "est_distinct",
            "exact_distinct",
            F.abs(F.col("est_distinct") - F.col("exact_distinct")).alias(
                "abs_err"
            ),
        )
        .orderBy(F.asc_nulls_last("event_type"))
    )


def _hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (sketches.hll_overlap) over two overlapping
    event slices (event_id % 2 == 0 vs % 3 == 0 — every 6th event is
    in both, so user overlap is guaranteed at every sf): union by
    register max-merge, intersection by inclusion-exclusion, next to
    the exact distinct counts (the KMV kmv_source_overlap convention).
    ONE row; every column exact-integer and engine-replayed."""
    from bytehub_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull())
    a = keyed.where(F.col("event_id") % 2 == 0)
    b = keyed.where(F.col("event_id") % 3 == 0)
    overlap = sketches.hll_overlap(a, b, "user_id", HLL_M)
    # each distinct feeds its own count AND the exact-intersection join
    # — persist or the events-wide distinct runs twice per side (r14 opt)
    da = scratch_persist(a.select("user_id").distinct())
    db = scratch_persist(b.select("user_id").distinct())
    ea = da.agg(F.count("*").cast("long").alias("exact_a"))
    eb = db.agg(F.count("*").cast("long").alias("exact_b"))
    ei = da.join(db, "user_id").agg(
        F.count("*").cast("long").alias("exact_inter")
    )
    # 1-row scalar attaches (the declared cartesian pattern)
    return overlap.crossJoin(ea).crossJoin(eb).crossJoin(ei)


def _cms_topk_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Count-Min (NEXT.md r13 candidate): ONE independent
    depth×width sketch per event_type over user_id — cms_build/
    cms_probe's group_col form, state ≤ groups·depth·width cells —
    probed at each type's exact top-2 users (row_number over
    (true_cnt desc, user_id) — deterministic in both engines).
    est ≥ true per (type, user) ALWAYS; over_cnt is collision mass
    within that type's own sketch (a hot user in type A cannot inflate
    type B's estimate — the point of per-group sketches). The oracle
    replays the grouped cells and the per-type probes bit-exactly."""
    from bytehub_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull())
    cms = sketches.cms_build(
        keyed, "user_id", CMS_DEPTH, CMS_WIDTH, group_col="event_type"
    )
    counts = keyed.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("true_cnt")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("true_cnt"), F.asc("user_id")
    )
    top = (
        counts.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 2)
        .drop("__rk")
    )
    probe = sketches.cms_probe(
        cms, top, "user_id", CMS_DEPTH, CMS_WIDTH, group_col="event_type"
    )
    return probe.select(
        "event_type",
        "user_id",
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).alias("over_cnt"),
    ).orderBy("event_type", "user_id")


def _hll_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketches.hll_overlap_matrix end-to-end (NEXT.md r13 candidate:
    hll_overlap generalized from 2 sides to every pair of a group
    column's values from ONE register scan): per-event_type user
    registers → all-pairs union max-merge → corrected estimates +
    inclusion-exclusion intersection, next to the exact per-pair
    distinct-user intersection (the self-audit convention). 10 pairs
    at 5 event types; every column exact-integer and engine-replayed
    (est_inter as-is — can go slightly negative on near-disjoint
    pairs, pinned by the sibling hll_overlap tests)."""
    from bytehub_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull())
    mat = sketches.hll_overlap_matrix(keyed, "user_id", "event_type", HLL_M)
    # both sides of the exact-intersection self-join — persist or the
    # events-wide distinct runs twice (r14 opt)
    d = scratch_persist(keyed.select("event_type", "user_id").distinct())
    ex = (
        d.alias("x")
        .join(
            d.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("group_a"),
            F.col("y.event_type").alias("group_b"),
        )
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )
    return (
        mat.join(ex, ["group_a", "group_b"], "left")
        .na.fill({"exact_inter": 0})
        .orderBy("group_a", "group_b")
    )


def _kmv_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped KMV (NEXT.md r14 candidate: the third sketch gets the
    group_col treatment): sketches.kmv_sketch/kmv_estimate — one
    independent bottom-k (k = 64) of mixer-hashed user_ids per
    event_type, finished to integer distinct estimates next to the
    exact COUNT(DISTINCT) and err_ppm (the kmv_source_distinct audit
    convention). Join on a null-safe group comparison (a NULL type
    would be a group like any other); at sf0.001 the sketch is
    complete (est == m == exact), at sf0.01+ the (k−1)·P div u_k
    estimator branch fires. The oracle replays hash, bottom-k, and
    estimate bit-exactly."""
    from bytehub_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull())
    sk = sketches.kmv_sketch(
        keyed, "user_id", KMVSK_K, group_col="event_type"
    )
    est = sketches.kmv_estimate(sk, KMVSK_K, ["event_type"])
    exact = keyed.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    ).withColumnRenamed("event_type", "__et")
    return (
        est.join(
            exact, F.col("event_type").eqNullSafe(F.col("__et"))
        )
        .drop("__et")
        .select(
            "event_type",
            "m",
            "u_k",
            "est_distinct",
            "exact_distinct",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000000"
                " div greatest(exact_distinct, 1)"
            ).cast("long").alias("err_ppm"),
        )
        .orderBy("event_type")
    )


def _weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation.weighted_sample end-to-end (NEXT.md r13/14 candidate:
    A-ES weighted sampling with the float-pow hazard dissolved by the
    exact-integer max-of-w-uniforms reformulation): weight = 1 +
    n_chars % 8 (data-derived, 1..8, non-degenerate at every sf),
    top-25 by integer A-ES priority. The oracle replays the same
    draws via generate_series ≤ w_eff and MAX — bit-identical
    priorities, so the driver hash-compares the actual selection, not
    a tolerance band. Plan: TakeOrderedAndProject, ZERO exchanges —
    a weighted sample costs one scan at any size."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (1 + F.col("n_chars") % 8).alias("w")
    )
    return curation.weighted_sample(docs, 25, "w", "doc_id", cap=8)


def _weighted_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation.weighted_sample with a live clamp end-to-end: weight =
    1 + n_chars % 200 (spans [1, 200]), cap = 150, so weights in
    (150, 200] clamp to 150 and a row draws up to 150 times in the
    operator's one priority shape (array_max over chained transforms
    of sequence(1, w_eff) — no row explosion, no shuffle).
    The oracle replays the identical integer draws via generate_series
    ≤ w_eff + MAX — the driver hash-compares the actual selection.
    Plan: TakeOrderedAndProject with ZERO exchanges (pinned in
    pytest)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (1 + F.col("n_chars") % 200).alias("w")
    )
    return curation.weighted_sample(docs, 25, "w", "doc_id", cap=150)


def _qgram_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.qgram_edit_pairs_routed end-to-end on a corpus built to
    force the island-collapse route: the substitution injection (the
    dedup_qgram_pairs corpus, so cross-island dist ≤ 3 pairs exist)
    plus QGRAM_COPIES exact copies of every doc (identical-prefix
    islands of size COPIES+1 everywhere). Copying every doc scales the
    priced direct volume by exactly (COPIES+1)² while the rep-level
    volume is unchanged, so budget = direct // (COPIES+1) lands
    strictly between the two routes at any sf — the gate runs
    price → collapse → re-price → join → expand every round, and the
    oracle recomputes the expanded pair set independently (prefix-level
    brute DP + island arithmetic in SQL). The chain-losslessness proof
    stays with the sibling gate dedup_qgram_pairs (brute all-pairs
    oracle); THIS gate proves the routing arithmetic."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.substring("text", 1, 30).rlike(EDIT_ASCII_RE)
    )
    inj = docs.select("doc_id", "text").unionByName(
        docs.where(
            (F.col("doc_id") % QGRAM_INJ_MOD == 0)
            & (F.length("text") >= QGRAM_INJ_MINLEN)
        ).select(
            (F.col("doc_id") + F.lit(QGRAM_INJ_OFFSET)).alias("doc_id"),
            F.expr(QGRAM_INJ_SPARK).alias("text"),
        )
    )
    corpus = inj
    for i in range(1, QGRAM_COPIES + 1):
        corpus = corpus.unionByName(
            inj.select(
                (F.col("doc_id") + F.lit(i * QGRAM_COPY_OFFSET)).alias(
                    "doc_id"
                ),
                "text",
            )
        )
    # budget = (c+1)·V where V = the PRE-copy direct volume: copying
    # every doc c+1 times scales the direct volume to exactly (c+1)²·V
    # (seg_join_tuples is bilinear in the per-prefix counts — every
    # (i, l, sub) term is (Σc_x)(Σc_y), and freq(corpus).c =
    # (c+1)·freq(inj).c row-for-row), while the collapsed (rep-level)
    # volume stays <= V, so (c+1)·V sits strictly between the routes.
    # Derived via the callable-budget hook from the router's OWN
    # pricing pass — direct // (c+1) == (c+1)·V exactly (divisible by
    # construction) — instead of the r13 shape that ran a full
    # standalone qgram_plan(inj) job first (r14 opt: one pricing pass,
    # not two; routing and output are unchanged).
    return dedup.qgram_edit_pairs_routed(
        corpus,
        lambda direct, collapsed: direct // (QGRAM_COPIES + 1),
        k=QGRAM_K,
        q=QGRAM_Q,
    )


def _jaccard_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.jaccard_pairs_routed end-to-end: the exact-Jaccard family
    behind the pricer its crossover note specifies (VERDICT r12 #4).
    Corpus = documents + a last-word-dropped copy of every
    doc_id % JACR_INJ_MOD == 0 (guaranteed J = (m−3)/(m−2) ≥ τ pairs
    at every sf). Budget = midpoint of the two priced route volumes,
    so the router rejects the inverted-index join (Σ C(f,2) over ALL
    shingles) and takes the prefix-filtered route (the same mass over
    rarest-first prefixes — strictly smaller whenever stopword-like
    shingles exist) deterministically. The output is route-independent
    (both routes exact — the prefix lemma), so the brute-SQL oracle
    pins values no matter which route won; routed == direct across
    BOTH budget regimes stays pinned in pytest (test_round13)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    corpus = docs.unionByName(
        docs.where(
            (F.col("doc_id") % JACR_INJ_MOD == 0)
            & (F.size(words) >= JACR_INJ_MINWORDS)
        ).select(
            (F.col("doc_id") + F.lit(JACR_INJ_OFFSET)).alias("doc_id"),
            F.array_join(
                F.slice(words, 1, F.size(words) - 1), " "
            ).alias("text"),
        )
    )
    # budget = midpoint of the two priced route volumes, derived via
    # the callable-budget hook from the router's own fused pricing
    # pass (r14 opt) — the r13 shape ran a full standalone
    # jaccard_plan(corpus) job first, duplicating every pricing
    # aggregate. Same int, same route, same output.
    return dedup.jaccard_pairs_routed(
        corpus, lambda inv, pf: (inv + pf) // 2, JACR_TAU
    )


# The driver's correctness gate covers the FIRST 50 entries of queries().
# Rotation policy (checked by tests/test_round4.py::
# test_rotation_debt_fits_next_gate): every query with no driver-green
# row in any CORRECTNESS_r*.json must sit in _GATE_FIRST — debt can
# never outgrow one round. tpch_q11/q20/q21 stay permanently (empty at
# sf0.001, so the sf0.01 gate IS their value check). Everything outside
# the 50 has a green row in r01∪r02∪r03 and is swept locally at all 3
# scales via scripts/check_oracle.py (round-4 sweeps: 178/178 ALL MATCH
# at sf0.001, sf0.01, and sf0.1).
_GATE_FIRST = [
    # Round-14 rotation. The 43 r09-cohort queries sat at lag 4 == the
    # bound after the r13 gate, so they head this rotation (cohort
    # recomputed from CORRECTNESS_r*.json latest-green rows, NOT from
    # comments — it matches NEXT.md's pinned r13 list). Remaining
    # slots: permanents, r14 new, then r10-cohort prepays (that cohort
    # — 45 queries — comes due at r15; every prepay here shrinks it).
    # --- (a) ALL 43 r09-stale queries (latest green row == r09),
    # registry order ---
    "ts_level_shifts", "ts_user_profiles", "cur_corpus_pipeline",
    "emb_label_outliers", "emb_pca_project", "emb_pq_topk",
    "emb_ivf_pq_topk", "dedup_lsh_novelty", "mm_chunk_audio",
    "emb_ivf_topk", "link_fuzzy_docs", "ts_decay_score",
    "ts_sketch_accuracy", "doc_bigram_lm", "cur_sample_k_per_group",
    "dedup_source_overlap", "emb_stored_ivf_pq", "emb_pq_novelty",
    "doc_domain_affinity", "cur_quality_rebalance", "ts_top_paths",
    "ts_quality_audit", "ts_churn_labels", "ts_rollup_incremental",
    "ts_mad_outliers", "ts_heavy_hitters", "emb_hard_negatives",
    "doc_langid_confusion", "doc_bigram_xent", "ts_value_drift",
    "emb_ivf_pq_append", "mm_tile_plan", "ts_weekly_growth",
    "doc_sentence_stats", "cur_split_leakage", "doc_line_dedup",
    "doc_ngram_novelty", "dedup_token_inflation", "dedup_span_coverage",
    "join_band_plan", "join_skew_profile", "dedup_savings_profile",
    "cur_dataset_card",
    # --- (b) permanent value-gates (empty below sf0.01) ---
    "tpch_q11", "tpch_q20", "tpch_q21",
    # --- (c) new in round 14 (each swept vs its oracle at 3 scales;
    # the driver gate is the record) ---
    "ts_kmv_by_type", "cur_weighted_routed",
    # --- (d) r10-cohort prepayment, registry order skipped in favor of
    # the two storm-window bench outliers (VERDICT r13 #2: their clean
    # re-bench pairs with a fresh gate row) (fills to 50; the 45-query
    # r10 cohort is due at r15 — each name here drops out of that
    # head) ---
    "dedup_prefix_filter", "doc_kn_bigram",
    # (recompute cohorts from CORRECTNESS_r*.json, never from comments)
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q = _all_queries()
    ordered = {k: all_q[k] for k in _GATE_FIRST}
    ordered.update((k, v) for k, v in all_q.items() if k not in ordered)
    return ordered


def _pq_results(spark: SparkSession, sf_dir: str):
    """Shared PQ pipeline: train codebooks, encode, ADC top-10 for the 5
    lowest-id vectors (bounded driver prepass for the query vectors)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(5)
        .collect()
    )
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    books = pq.train_codebooks(emb)
    codes = pq.pq_encode(emb, books)
    return emb, Q, pq.pq_topk(codes, books, Q, k=10)


# ---------------------------------------------------------------------------
# Invariant-summary wrappers for the genuinely non-SQL-expressible ops
# (k-means / eigh / greedy packing). The driver's gate hash-compares full
# result sets, and `no oracle` is recorded as an ERROR row (r02 verdict) —
# so each of these registers a query whose OUTPUT is the op's checkable
# contract (row-count guarantees, monotone ranking, bounds vs the exact
# twin, pinned recall floors, conservation laws), with an oracle that
# derives the expected values from the parquet in SQL. The op still runs
# end-to-end inside the wrapper; its raw outputs stay pinned in pytest
# (test_llm_ops.py). Recall floors sit under the measured deterministic
# values at sf0.001/0.01/0.1 (ivf 0.44..0.72, pq 0.46..0.64) — a floor
# breach means the operator (or its determinism) regressed, not noise.
# ---------------------------------------------------------------------------


def _ivf_topk_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_ivf_topk gate: runs ivf_topk end-to-end and emits its contract:
    exactly k results per query, similarities non-increasing in rank,
    bounded by the exact top-1, aggregate recall@5 >= 0.4 vs the exact
    GEMM baseline."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    approx = ivf.ivf_topk(emb, qids, 5).toPandas()
    exact = similarity.cosine_topk_gemm(emb, qids, 5).toPandas()
    exact_set = set(zip(exact["query_id"], exact["neighbor_id"]))
    hits = sum(
        (q, n) in exact_set
        for q, n in zip(approx["query_id"], approx["neighbor_id"])
    )
    sorted_ok = True
    bound_ok = True
    for q in qids:
        aq = approx[approx["query_id"] == q].sort_values("rank")
        sims = aq["cosine_sim"].to_numpy()
        if len(sims) > 1 and not (sims[1:] <= sims[:-1]).all():
            sorted_ok = False
        top1 = exact[exact["query_id"] == q]["cosine_sim"].max()
        if len(sims) and sims.max() > top1:
            bound_ok = False
    out = pd.DataFrame(
        {
            "n_queries": [approx["query_id"].nunique()],
            "n_results": [len(approx)],
            "sims_sorted": [bool(sorted_ok)],
            "within_exact_top1": [bool(bound_ok)],
            "recall_ok": [bool(hits / len(exact_set) >= 0.4)],
        }
    )
    return spark.createDataFrame(out)


def _pq_topk_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_pq_topk gate: ADC contract — 10 results per query, approx
    distances non-decreasing in rank, aggregate recall@10 >= 0.35 vs
    exact L2 (pytest pins 0.5 at defaults; the gate floor leaves margin
    for smaller corpora)."""
    import numpy as np
    import pandas as pd

    emb, Q, topk = _pq_results(spark, sf_dir)
    adc = topk.toPandas()
    allv = emb.select("vec_id", "embedding").toPandas()
    ids = allv["vec_id"].to_numpy()
    M = np.array(allv["embedding"].tolist(), dtype=np.float64)
    hits, tot = 0, 0
    sorted_ok = True
    for qi in range(len(Q)):
        d2 = ((M - Q[qi]) ** 2).sum(axis=1)
        true10 = set(ids[np.lexsort((ids, d2))[:10]])
        got = adc[adc["query_id"] == qi].sort_values("rank")
        dists = got["approx_dist2"].to_numpy()
        if len(dists) > 1 and not (dists[1:] >= dists[:-1]).all():
            sorted_ok = False
        hits += len(true10 & set(got["vec_id"]))
        tot += 10
    out = pd.DataFrame(
        {
            "n_queries": [adc["query_id"].nunique()],
            "n_results": [len(adc)],
            "dists_sorted": [bool(sorted_ok)],
            "recall_ok": [bool(hits / tot >= 0.35)],
        }
    )
    return spark.createDataFrame(out)


def _ivf_pq_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_ivf_pq_topk gate: the default-probe path must return k rows per
    query, and the FULL-probe path (n_probe = n_cells) must equal plain
    PQ/ADC row-for-row — cell pruning changes WHICH candidates are scored,
    never their scores (the equivalence pytest pins at one sf, gated here
    at the driver's)."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    default_probe = pq.ivf_pq_topk(emb, qids).toPandas()
    full_probe = pq.ivf_pq_topk(emb, qids, n_probe=16).toPandas()
    _, _, plain = _pq_results(spark, sf_dir)
    plain_pd = plain.toPandas()
    merged = full_probe.merge(
        plain_pd, on=["query_id", "rank"], suffixes=("_ivf", "_pq")
    )
    matches = bool(
        len(merged) == len(plain_pd)
        and (merged["vec_id_ivf"] == merged["vec_id_pq"]).all()
        and (merged["approx_dist2_ivf"] == merged["approx_dist2_pq"]).all()
    )
    out = pd.DataFrame(
        {
            "n_queries": [default_probe["query_id"].nunique()],
            "n_results": [len(default_probe)],
            "full_probe_matches_pq": [matches],
        }
    )
    return spark.createDataFrame(out)


def _pca_project_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_pca_project gate: every input row projected (n_rows from the
    parquet is the oracle's data-dependent check), 8 components, projected
    coordinates pairwise decorrelated, per-component variance equal to the
    corresponding eigenvalue (1/n normalization) — the two properties that
    define a PCA basis."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    proj = pca.pca_project(emb).toPandas()
    spec = pca.explained_variance(emb).toPandas().sort_values("rank")
    pcs = [c for c in proj.columns if c.startswith("pc_")]
    Y = proj[pcs].to_numpy()
    n = len(Y)
    C = (Y - Y.mean(axis=0)).T @ (Y - Y.mean(axis=0)) / n
    sd = np.sqrt(np.diag(C))
    corr = C / np.outer(sd, sd)
    decorrelated = bool(
        np.abs(corr - np.eye(len(pcs))).max() < 1e-6
    )
    eig = spec["eigenvalue"].to_numpy()[: len(pcs)]
    var_match = bool(
        np.abs(np.diag(C) - eig).max() <= 1e-6 * max(1.0, eig.max())
    )
    out = pd.DataFrame(
        {
            "n_rows": [n],
            "n_components": [len(pcs)],
            "pcs_decorrelated": [decorrelated],
            "variances_match_spectrum": [var_match],
        }
    )
    return spark.createDataFrame(out)


def _pca_spectrum_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_pca_spectrum gate: one spectrum row per dimension (data-
    dependent via len(embedding)), eigenvalues non-negative and
    non-increasing, ratios summing to 1, cumulative ratio monotone
    ending at 1."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    spec = pca.explained_variance(emb).toPandas().sort_values("rank")
    ev = spec["eigenvalue"].to_numpy()
    ratios = spec["explained_ratio"].to_numpy()
    cum = spec["cumulative_ratio"].to_numpy()
    out = pd.DataFrame(
        {
            "n_components": [len(spec)],
            "eigs_nonincreasing": [bool((ev[1:] <= ev[:-1] + 1e-12).all())],
            "eigs_nonnegative": [bool((ev >= -1e-9).all())],
            "ratios_sum_to_one": [bool(abs(ratios.sum() - 1.0) < 1e-9)],
            "cumulative_monotone": [
                bool((np.diff(cum) >= -1e-12).all() and abs(cum[-1] - 1.0) < 1e-9)
            ],
        }
    )
    return spark.createDataFrame(out)


def _pack_greedy_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cur_pack_greedy gate: conservation + feasibility, all computed
    distributed — every doc packed exactly once (n_docs and total_tokens
    are the oracle's data-dependent checks), and every bin either fits the
    2048-token budget or holds a single oversized doc. Bin IDS are shard-
    layout-dependent (why the raw output can't be value-gated); these
    properties are layout-independent."""
    packed = curation.pack_sequences_greedy(load_table(spark, sf_dir, "documents"))
    per_bin = packed.groupBy("bin").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count("*").alias("bin_docs"),
    )
    summary = per_bin.agg(
        F.sum("bin_docs").alias("n_docs"),
        F.sum("bin_tokens").alias("total_tokens"),
        F.min(
            (F.col("bin_tokens") <= 2048) | (F.col("bin_docs") == 1)
        ).alias("all_bins_feasible"),
    )
    distinct_docs = packed.select(F.countDistinct("doc_id").alias("n_distinct"))
    return summary.crossJoin(distinct_docs).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_distinct").cast("long").alias("n_distinct_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "all_bins_feasible",
    )


def _stored_ivf_pq_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_stored_ivf_pq gate: builds the cell-partitioned PQ code index
    on disk, probes it, and gates the storage contract — (a) the full-
    probe stored path is row-for-row identical to in-memory ADC over the
    same codebooks (storage round-trip + pruning change WHICH candidates
    are scored, never scores), (b) the default-probe path returns k rows
    per query (cells hold enough candidates at every driver sf), (c) the
    code table holds every corpus row exactly once."""
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(5).collect()
    )
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    path = tempfile.mkdtemp(prefix="ivfpq_idx_")
    try:
        cents, books = pq.build_ivf_pq_index(emb, path)
        stored_full = pq.ivf_pq_query_index(
            spark, path, cents, books, Q, k=10, n_probe=16
        ).toPandas()
        stored_probe = pq.ivf_pq_query_index(
            spark, path, cents, books, Q, k=10, n_probe=4
        ).toPandas()
        codes_rows = spark.read.parquet(path).count()
        dup_codes = (
            spark.read.parquet(path)
            .groupBy("vec_id")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        mem = pq.pq_topk(
            pq.pq_encode(emb, books), books, Q, k=10
        ).toPandas()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    merged = stored_full.merge(
        mem, on=["query_id", "rank"], suffixes=("_st", "_mem")
    )
    full_matches = bool(
        len(merged) == len(mem)
        and (merged["vec_id_st"] == merged["vec_id_mem"]).all()
        and (merged["approx_dist2_st"] == merged["approx_dist2_mem"]).all()
    )
    out = pd.DataFrame(
        {
            "n_index_rows": [codes_rows],
            "n_dup_code_rows": [dup_codes],
            "n_probe_results": [len(stored_probe)],
            "full_probe_matches_memory": [full_matches],
        }
    )
    return spark.createDataFrame(out)


def _pq_novelty_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_pq_novelty gate: the batch twin of stream_pq_novelty run as
    new-vs-historical split (vec_id % 10 == 0 arrives, the rest is
    history). Gated contract: every arriving vector gets exactly one
    verdict (n_new from the parquet is the oracle's data-dependent
    check), novel + known = new, and no 'known' vector's code pattern is
    missing from the historical code set (checked by re-joining — an
    exact property of the left join, so a false flag means the encode or
    join regressed)."""
    import pandas as pd

    import pandas as pd

    from bytehub_spark.operators.pq import pq_encode, train_codebooks
    from bytehub_spark.streaming import ingest as streaming

    emb = load_table(spark, sf_dir, "embeddings")
    new_vecs = emb.where(F.col("vec_id") % 10 == 0)
    hist = emb.where(F.col("vec_id") % 10 != 0)
    flags = streaming.pq_novelty_batch(new_vecs, hist).toPandas()
    n_new = len(flags)
    n_novel = int(flags["is_novel"].sum())
    # independent recomputation: re-encode both sides and set-compare the
    # code keys in pandas — a flags row is correct iff novelty == (code
    # key absent from the historical key set)
    books = train_codebooks(hist)
    hist_keys = set(
        "-".join(str(c) for c in r)
        for r in pq_encode(hist, books).toPandas()["codes"]
    )
    expect_novel = {
        r.vec_id: ("-".join(str(c) for c in r.codes) not in hist_keys)
        for r in pq_encode(new_vecs, books).toPandas().itertuples()
    }
    verdicts_ok = bool(
        all(expect_novel[v] == n for v, n in zip(flags["vec_id"], flags["is_novel"]))
    )
    out = pd.DataFrame(
        {
            "n_new": [n_new],
            "n_unique_ids": [flags["vec_id"].nunique()],
            "n_novel_bounded": [bool(0 <= n_novel <= n_new)],
            "verdicts_match_recompute": [verdicts_ok],
        }
    )
    return spark.createDataFrame(out)


def _rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_rollup_incremental gate: history (< Jan 20) builds the stored
    hour-grain rollup, the remainder refreshes it incrementally, and the
    resulting store content is value-gated against a from-scratch SQL
    aggregate over ALL events — the merge path must be bit-identical to
    recomputation (associative counts + decimal sums)."""
    import shutil
    import tempfile

    from bytehub_spark.operators import rollup_store as rs

    events = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="rollup_store_")
    try:
        rs.build_rollup_store(events.where(F.col("ts") < "2024-01-20"), path)
        rs.refresh_rollup_store(
            spark, path, events.where(F.col("ts") >= "2024-01-20")
        )
        out = rs.read_rollup(spark, path)
        out = spark.createDataFrame(out.toPandas(), out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def _ivf_pq_append_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_ivf_pq_append gate: builds the stored index on 90% of the
    corpus, appends the rest with the frozen geometry, and gates the
    maintenance contract — stored code rows after append are row-for-row
    the one-shot encode of the union (same centroids/codebooks), and the
    appended store serves queries identically to in-memory ADC."""
    import shutil
    import tempfile

    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 10 != 0)
    inc = emb.where(F.col("vec_id") % 10 == 0)
    path = tempfile.mkdtemp(prefix="ivfpq_append_")
    try:
        from bytehub_spark.operators import ivf as _ivf

        cents, books = pq.build_ivf_pq_index(base, path)
        n_appended = pq.append_ivf_pq_index(spark, path, cents, books, inc)
        stored = (
            spark.read.parquet(path)
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        union = (
            pq.pq_encode(_ivf.assign_cells(emb, cents), books, carry_cols=("cell",))
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    matches = bool(
        len(stored) == len(union)
        and (stored["vec_id"] == union["vec_id"]).all()
        and stored["codes"].apply(list).tolist()
            == union["codes"].apply(list).tolist()
        and (stored["cell"].astype(int) == union["cell"].astype(int)).all()
    )
    out = pd.DataFrame(
        {
            "n_total": [len(stored)],
            "n_appended": [n_appended],
            "append_matches_one_shot": [matches],
        }
    )
    return spark.createDataFrame(out)


def _semantic_dedup_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic gate: SemDeDup over the corpus plus injected exact
    twins (vec_id % 53, id offset 1e9 — an exact copy lands in the same
    k-means cell and sits at cosine 1.0, so it MUST be dropped). Gates
    the operator's contract: row conservation, every injected twin
    dropped, every dropped row carrying >= threshold dup evidence, and
    the lowest id of every cluster kept (k-means itself is the
    non-SQL-able part; the raw per-vector output stays pinned in
    tests/test_round3d.py)."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    # twins only of NONZERO-norm originals: semantic_dedup normalizes with
    # max(norm, eps), so a zero-norm vector's exact twin sits at cosine 0
    # and is legitimately kept — it must not count against the gate.
    nonzero = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x * x) > 0"
    )
    # NOT persisted (measured r15): twins feeds three consumers, but the
    # filter over the cached embeddings table is cheaper than the
    # persist fill + cache reads at every SF tried (1.30 -> 1.42s).
    twins = (
        emb.where((F.col("vec_id") % 53 == 0) & nonzero)
        .withColumn("vec_id", F.col("vec_id") + F.lit(1000000000))
    )
    # count the sides FIRST and hand the operator its own sizing rule's
    # value (r15 opt): semantic_dedup's n_cells prepass would otherwise
    # run a THIRD full pass over the union (re-evaluating the twins'
    # aggregate-HOF norm filter); n_base + n_twins IS the union count
    # by construction, so the chosen n_cells — and therefore every
    # cluster and verdict — is identical.
    n_base = emb.count()
    n_twins = twins.count()
    out = similarity.semantic_dedup(
        emb.unionByName(twins),
        threshold=0.95,
        n_cells=similarity.semantic_dedup_cells(n_base + n_twins),
    ).toPandas()
    twin_rows = out[out["vec_id"] >= 1000000000]
    dropped = out[~out["keep"]]
    minima_kept = bool(
        out.loc[out.groupby("cell")["vec_id"].idxmin()]["keep"].all()
    )
    res = pd.DataFrame(
        {
            "n_rows": [len(out)],
            "n_twins": [int(n_twins)],
            "conserved": [len(out) == n_base + n_twins],
            "twins_all_dropped": [bool((~twin_rows["keep"]).all())],
            "dropped_have_evidence": [
                bool((dropped["max_dup_ppm"] >= 949999).all())
            ],
            "cluster_minima_kept": [minima_kept],
        }
    )
    return spark.createDataFrame(res)


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- timeseries / feature-store kernel (SURVEY §2.2-§2.6) ---
        "ts_dedup_latest": _q(events_ops.dedup_latest_per_key, "events"),
        "ts_time_travel": _q(events_ops.time_travel_summary, "events"),
        "ts_resample_locf": _q(events_ops.resample_locf, "events"),
        "ts_align_ffill": _q(events_ops.align_ffill_types, "events"),
        "ts_seed_lookup": lambda spark, sf: events_ops.seed_lookup(
            load_table(spark, sf, "events"), "2024-01-15"
        ),
        "ts_last_per_key": _q(events_ops.last_per_key, "events"),
        "ts_time_bounds": _q(events_ops.time_bounds_per_type, "events"),
        "ts_topk_per_key": _q(events_ops.topk_per_key, "events"),
        "ts_range_scan": lambda spark, sf: events_ops.range_scan(
            load_table(spark, sf, "events"), "2024-01-10", "2024-01-20", 50.0
        ),
        "ts_partition_derive": _q(events_ops.partition_derivation, "events"),
        "ts_json_extract": _q(events_ops.json_extract_props, "events"),
        # numeric eps-band self-join (round 7): same event_type,
        # |floor(value*1e6) delta| <= 5000 — the bucketized range-join
        # pattern (3-way fan-out equi-join, never a BNLJ); per-type pair
        # counts + abs-diff stats. Oracle replays the SAME bucket
        # fan-out (a naive pair join would be per-type-quadratic).
        "join_band_values": lambda spark, sf: (
            lambda j: (
                j.where(F.col("event_id_a") < F.col("event_id_b"))
                .groupBy("event_type")
                .agg(
                    F.count("*").alias("n_pairs"),
                    F.sum(F.abs(F.col("v_u_a") - F.col("v_u_b")))
                    .cast("long")
                    .alias("sum_absdiff_u"),
                    F.max(F.abs(F.col("v_u_a") - F.col("v_u_b")))
                    .cast("long")
                    .alias("max_absdiff_u"),
                )
                .orderBy("event_type")
            )
        )(
            (lambda ev: asof.band_join(
                ev, ev, ["event_type"], "value", 5000,
                ["event_id"], ["event_id"],
            ))(load_table(spark, sf, "events"))
        ),
        "ts_asof_join": _q(events_ops.purchases_with_last_click, "events"),
        "ts_rollup": _q(events_ops.rollup_counts, "events"),
        "ts_moving_avg": _q(events_ops.moving_avg_per_user, "events"),
        "ts_quantiles": _q(events_ops.value_quantiles, "events"),
        "ts_zscore_outliers": _q(events_ops.zscore_outliers, "events"),
        "ts_funnel": _q(events_ops.funnel_conversion, "events"),
        # two-stage salted aggregation: decimal accumulation makes the
        # result independent of the salting, so it oracles exactly
        "ts_salted_rollup": lambda spark, sf: (
            lambda ev: skew.salted_agg(
                ev.withColumn("value_dec", F.col("value").cast("decimal(18,4)")),
                ["event_type"],
                {
                    "n": ("event_id", "count"),
                    "sum_value": ("value_dec", "sum"),
                    "max_value": ("value", "max"),
                    "min_ts": ("ts", "min"),
                },
            )
            .select(
                "event_type",
                "n",
                F.col("sum_value").cast("double").alias("sum_value"),
                "max_value",
                "min_ts",
            )
            .orderBy("event_type")
        )(load_table(spark, sf, "events")),
        # batch twin of the stream-stream interval join
        "ts_interval_join": lambda spark, sf: __import__(
            "bytehub_spark.streaming", fromlist=["attribution_join_batch"]
        ).attribution_join_batch(load_table(spark, sf, "events"), "1 hour"),
        # batch twin of the streaming gap-sessionizer; session keys are
        # integer/timestamp-exact (sums omitted: order-sensitive doubles)
        "ts_sessionize": lambda spark, sf: __import__(
            "bytehub_spark.streaming", fromlist=["sessionize_batch"]
        ).sessionize_batch(load_table(spark, sf, "events"), 120)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start"),
        "ts_histogram": _q(events_ops.value_histogram, "events"),
        # quantile BRACKETS from the bounded-state histogram (round 7):
        # per (type, q) the smallest bucket whose cumsum reaches
        # ceil(q*total), with its value bounds — one bucket width of
        # certainty from |types|*(buckets+2) state rows; the query form
        # of HistogramMonitor's claim. Exact oracle.
        "ts_histogram_quantile": _q(
            events_ops.histogram_quantile_brackets, "events"
        ),
        # --- analytical joins/aggregations (SURVEY §2.3-§2.4) ---
        "tpch_q1": _q(tpch.q1_pricing_summary, "lineitem"),
        "tpch_q3": _q(tpch.q3_shipping_priority, "customer", "orders", "lineitem"),
        "tpch_q5": _q(
            tpch.q5_local_supplier_volume,
            "region", "nation", "customer", "supplier", "orders", "lineitem",
        ),
        "tpch_q6": _q(tpch.q6_forecast_revenue, "lineitem"),
        "tpch_q4": _q(tpch.q4_order_priority, "orders", "lineitem"),
        "tpch_q10": _q(tpch.q10_returned_items, "customer", "orders", "lineitem"),
        "tpch_q12": _q(tpch.q12_priority_shipping, "orders", "lineitem"),
        "tpch_q14": _q(tpch.q14_promo_revenue, "part", "lineitem"),
        "tpch_q7": _q(
            tpch.q7_volume_shipping,
            "supplier", "lineitem", "orders", "customer", "nation",
        ),
        "tpch_q8": _q(
            tpch.q8_market_share,
            "part", "supplier", "lineitem", "orders", "customer", "nation", "region",
        ),
        "tpch_q18": _q(tpch.q18_large_orders, "customer", "orders", "lineitem"),
        "tpch_q2": _q(tpch.q2_min_cost_supplier, "part", "supplier", "lineitem"),
        "tpch_q9": _q(
            tpch.q9_product_profit,
            "part", "supplier", "lineitem", "orders", "nation",
        ),
        "tpch_q11": _q(tpch.q11_important_parts, "lineitem", "supplier", "nation"),
        "tpch_q13": _q(tpch.q13_customer_distribution, "customer", "orders"),
        "tpch_q15": _q(tpch.q15_top_supplier, "supplier", "lineitem"),
        "tpch_q16": _q(
            tpch.q16_parts_supplier_relationship, "part", "supplier", "lineitem"
        ),
        "tpch_q17": _q(tpch.q17_small_quantity_revenue, "part", "lineitem"),
        "tpch_q20": _q(
            tpch.q20_excess_shippers, "part", "supplier", "lineitem", "nation"
        ),
        "tpch_q19": _q(tpch.q19_disjunctive_predicates, "part", "lineitem"),
        "tpch_q21": _q(
            tpch.q21_waiting_suppliers, "supplier", "lineitem", "orders", "nation"
        ),
        "tpch_q22": _q(tpch.q22_global_sales_opportunity, "customer", "orders"),
        "join_anti_inactive_customers": _q(
            tpch.customers_without_recent_orders, "customer", "orders"
        ),
        "join_semi_big_spenders": _q(
            tpch.customers_with_big_orders, "customer", "orders"
        ),
        # --- LLM-pipeline: text analysis ---
        "doc_text_stats": _q(text.text_stats, "documents"),
        "doc_token_counts": _q(text.token_counts, "documents"),
        "doc_lang_id": _q(text.lang_id, "documents"),
        "doc_fingerprint": _q(text.fingerprint, "documents"),
        "doc_clean_text": _q(text.clean_text, "documents"),
        "doc_repetition": _q(text.repetition_ratio, "documents"),
        "doc_curation_pipeline": _q(text.curation_pipeline, "documents"),
        "doc_vocab_topk": _q(text.vocab_topk, "documents"),
        "doc_tfidf_top_terms": _q(text.tfidf_top_terms, "documents"),
        # PII scrub: inject deterministic synthetic PII (the corpus has
        # none) so redaction is value-checked on non-trivial input.
        "doc_redact_pii": lambda spark, sf: text.redact_pii(
            load_table(spark, sf, "documents").select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.lit(" contact user"),
                    F.col("doc_id"),
                    F.lit("@example.com or +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ).alias("text"),
            )
        ),
        # decontamination: eval set = every 50th doc; flag the rest on
        # shared 4-gram shingles
        "dedup_decontaminate": lambda spark, sf: dedup.decontaminate(
            load_table(spark, sf, "documents").where(F.col("doc_id") % 50 != 0),
            load_table(spark, sf, "documents").where(F.col("doc_id") % 50 == 0),
        ),
        # --- LLM-pipeline: deterministic splits / mixing / packing ---
        "cur_split_summary": _q(curation.split_summary, "documents"),
        "cur_mix_sources": lambda spark, sf: curation.mix_sources(
            load_table(spark, sf, "documents"),
            {"src0": 10, "src1": 5, "src2": 10_000},
        ).select("doc_id", "source", "lang").orderBy("doc_id"),
        "cur_pack_sequences": _q(curation.pack_sequences, "documents"),
        # greedy packing is shard-sequential (bin ids depend on layout);
        # the gate checks its layout-independent conservation/feasibility
        # contract against SQL-derived doc and token totals
        "cur_pack_greedy": _pack_greedy_invariants,
        # --- LLM-pipeline: dedup ---
        "dedup_exact": _q(dedup.exact_dedup, "documents"),
        "dedup_ngram_jaccard": _q(dedup.ngram_jaccard_pairs, "documents"),
        # prefix-filtered EXACT Jaccard join (SSJoin/PPJoin): candidates
        # only from rarest-first shingle prefixes + length filter, then
        # exact verify; oracle is the brute-force inverted-index join —
        # the gate proves the prefix lemma loses nothing
        "dedup_prefix_filter": lambda spark, sf: dedup.prefix_filter_pairs(
            load_table(spark, sf, "documents"), threshold_ppm=500_000
        ),
        # character-level Levenshtein<=1 pairs over 30-char title
        # prefixes (SymSpell deletion-neighborhood candidates + exact
        # levenshtein verify; the oracle's brute all-pairs join doubles
        # as a cross-engine check of the DP itself). The corpus has no
        # guaranteed 1-edit titles, so the gate wrapper injects a
        # one-char-substituted copy of every doc_id % 41 == 0 (+3e7):
        # dist-1 pairs at every sf
        "dedup_edit_pairs": lambda spark, sf: dedup.edit_distance_pairs(
            (lambda d: d.select("doc_id", "text").unionByName(
                d.where(
                    (F.col("doc_id") % EDIT_INJ_MOD == 0)
                    & (F.length("text") >= EDIT_INJ_MINLEN)
                ).select(
                    (F.col("doc_id") + F.lit(EDIT_INJ_OFFSET)).alias(
                        "doc_id"
                    ),
                    F.expr(
                        "concat(substring(text, 1, 4), 'z',"
                        " substring(text, 6))"
                    ).alias("text"),
                )
            ))(
                load_table(spark, sf, "documents").where(
                    F.substring("text", 1, 30).rlike(EDIT_ASCII_RE)
                )
            ),
            k=1,
        ),
        # k=3 edit-distance pairs via Ed-Join df-rare q-gram prefixes +
        # the Gravano count filter + exact levenshtein verify — the
        # k>2 routing target edit_distance_pairs names. Oracle is the
        # brute all-pairs join (proves the three-filter chain lossless
        # on real data); injected 3-char-substituted copies make dist<=3
        # pairs exist at every sf
        "dedup_qgram_pairs": lambda spark, sf: dedup.qgram_edit_pairs(
            (lambda d: d.select("doc_id", "text").unionByName(
                d.where(
                    (F.col("doc_id") % QGRAM_INJ_MOD == 0)
                    & (F.length("text") >= QGRAM_INJ_MINLEN)
                ).select(
                    (F.col("doc_id") + F.lit(QGRAM_INJ_OFFSET)).alias(
                        "doc_id"
                    ),
                    F.expr(QGRAM_INJ_SPARK).alias("text"),
                )
            ))(
                load_table(spark, sf, "documents").where(
                    F.substring("text", 1, 30).rlike(EDIT_ASCII_RE)
                )
            ),
            k=QGRAM_K,
            q=QGRAM_Q,
        ),
        # asymmetric containment |A∩B|/min(|A|,|B|): short-doc-inside-
        # long-doc detection, same inverted-index plan — exact oracle
        "dedup_containment": _q(dedup.containment_pairs, "documents"),
        # per-source duplication accounting (which feed floods copies):
        # fingerprint+group agg, integer-derived rate — exact oracle
        "dedup_rate_by_source": _q(dedup.dup_rate_by_group, "documents"),
        # FNV-1a/Horner hashing (operators/hashing.py) is replayed exactly
        # by the DuckDB oracle — full pair-set + signature value check
        "dedup_minhash_lsh": _q(dedup.minhash_lsh_pairs, "documents"),
        # band-shape decision table (the minhash analog of emb_lsh_balance):
        # exact per-(bands, band) bucket occupancy + candidate-pair volume
        # at three band shapes from ONE signature pass — the prepass that
        # catches quadratic hot-bucket blowup BEFORE the self-join (500k
        # low-diversity docs at b=32/r=2 → 9.0e9 raw pairs; b=16 → 1.75e8)
        "dedup_band_balance": _q(dedup.minhash_band_balance, "documents"),
        "dedup_simhash": _q(dedup.simhash64, "documents"),
        "dedup_embedding_cosine": lambda spark, sf: dedup.embedding_cosine_dups(
            load_table(spark, sf, "embeddings"), 0.4
        ),
        # scale mode of the same operator: banded LSH-bucketed candidates
        # instead of the broadcast GEMM — the path that survives 100 TB.
        # Integer-quantized ±1-plane buckets are engine-portable, so the
        # oracle replays the exact pair set (8 planes × 4 bands).
        "dedup_embedding_cosine_lsh": lambda spark, sf: dedup.embedding_cosine_dups(
            load_table(spark, sf, "embeddings"), 0.4, n_planes=8
        ),
        # incremental near-dup dedup: 10% of docs arrive as "today's batch"
        # and are checked against the LSH index of the other 90% — the
        # daily-increment pattern. Exact oracle (portable FNV buckets).
        "dedup_incremental_lsh": lambda spark, sf: (
            lambda docs: dedup.dedup_against_index(
                docs.where(F.col("doc_id") % 10 == 0),
                dedup.build_lsh_index(docs.where(F.col("doc_id") % 10 != 0)),
            )
        )(load_table(spark, sf, "documents")),
        # the SAME daily-increment check, but the index is routed through
        # its documented PERSISTED form (parquet partitioned on band:
        # build_lsh_index's docstring) — overwrite + read-back inside the
        # query, so the gate proves the write/read round-trip (partition
        # column re-typing included) is invisible to results. The
        # two-increment append contract is pinned in tests/test_round11.py.
        "dedup_incremental_persisted": _incremental_persisted,
        # exact-substring near-dups via winnowed fingerprints (word-level
        # MOSS): pairs sharing >= 1 selected k-gram hash, i.e. an exact
        # 8-word run (guaranteed detection at >= 12 shared words). md5 +
        # lexicographic window-min are engine-portable — exact oracle.
        "dedup_substring": _q(dedup.substring_dup_pairs, "documents"),
        # deterministic per-stratum sampling: md5-residue thresholds, no
        # RNG — the sample is layout-independent and SQL-reproducible
        "cur_stratified_sample": lambda spark, sf: curation.stratified_sample_summary(
            load_table(spark, sf, "documents"),
            {"de": 0.5, "en": 0.8, "es": 0.25, "fr": 1.0, "zh": 0.1},
        ),
        # batch twin of stream_decontaminate (stateless array_intersect
        # form): per-doc hit counts INCLUDING clean docs — the flag frame
        # a streaming curation pipeline writes
        "dedup_decontaminate_flags": lambda spark, sf: (
            lambda docs: __import__(
                "bytehub_spark.streaming", fromlist=["decontaminate_flags_batch"]
            )
            .decontaminate_flags_batch(
                docs.where(F.col("doc_id") % 50 != 0),
                docs.where(F.col("doc_id") % 50 == 0),
            )
            .select(
                "doc_id",
                "n_hit_shingles",
                "is_contaminated",
            )
            .orderBy("doc_id")
        )(load_table(spark, sf, "documents")),
        # overlapping word-window chunking (context-window preprocessing):
        # integer-derived boundaries, narrow map, exact oracle
        "cur_chunk_documents": _q(curation.chunk_documents, "documents"),
        # per-domain cap (web-corpus anti-bias): one shuffle on the group
        # key, per-group heap via partitioned row_number — exact oracle
        "cur_cap_per_group": _q(curation.cap_per_group, "documents"),
        # Gopher/C4-style rule gate with per-rule audit flags: zero
        # shuffles, integer-derived ratios — exact oracle
        "doc_quality_rules": _q(text.quality_rules, "documents"),
        # BM25 sparse retrieval (ratio idf — log not cross-engine safe);
        # matching-terms-only explode + TakeOrdered top-k — exact oracle
        "doc_bm25_topk": _q(text.bm25_topk, "documents"),
        # C4-style duplicate-span accounting: non-overlapping word spans,
        # md5-compressed shuffle keys, two shuffles — exact oracle
        "doc_span_dedup": _q(text.span_dedup_stats, "documents"),
        # BPE merge-candidate counting over the frequency-weighted vocab
        # (pair stage is |vocab|-sized, sublinear in corpus) — exact oracle
        "doc_bpe_pairs": _q(text.bpe_pair_counts, "documents"),
        # BM25 against a materialized postings index (the sparse-retrieval
        # scale path: term-bucket-partitioned store, query cost scales
        # with posting lists, not corpus) — bit-identical to doc_bm25_topk
        "doc_bm25_indexed": lambda spark, sf: text.bm25_query_index(
            text.build_bm25_index(load_table(spark, sf, "documents")),
            text.bm25_corpus_stats(load_table(spark, sf, "documents")),
        ),
        # weekly cohort retention triangle: co-partitioned user join +
        # two-level distinct aggregate, integer outputs — exact oracle
        "ts_retention_cohorts": _q(events_ops.retention_cohorts, "events"),
        # continuous-aggregate cascade: hour from minute partials, day
        # from hour — shuffle shrinks ~60x per level; decimal sums are
        # associative so cascaded == direct (the oracle) — exact oracle
        "ts_rollup_pyramid": _q(events_ops.rollup_pyramid, "events"),
        # hour-of-day baseline anomaly flags: 24x|types| broadcast
        # baseline from exact integer sums, narrow filter — exact oracle
        "ts_seasonal_anomaly": _q(events_ops.seasonal_anomaly, "events"),
        # OHLC bars: one shuffle, both tie-broken row_number windows share
        # the exchange, decimal volume — exact oracle
        "ts_ohlc_bars": _q(events_ops.ohlc_bars, "events"),
        # per-user gap detection (lag window, epoch-double gap values,
        # microsecond-exact cross-engine) — exact oracle
        "ts_gap_report": _q(events_ops.gap_report, "events"),
        # first-touch attribution (complement of the as-of last-click):
        # user-keyed range join + per-purchase window — exact oracle
        "ts_first_touch": _q(events_ops.first_touch_attribution, "events"),
        # level-shift changepoints: symmetric rolling decimal means over
        # one user-keyed sort, full-frame positions only — exact oracle
        "ts_level_shifts": _q(events_ops.level_shifts, "events"),
        # per-user lifetime profile (user-dim build): one shuffle,
        # two-level distinct day count, decimal value sum — exact oracle
        "ts_user_profiles": _q(events_ops.user_activity_profile, "events"),
        # per-dimension embedding health stats (collapsed/dead dims):
        # quantized integer sums, one dim-keyed shuffle — exact oracle
        "emb_dim_stats": _q(similarity.dim_stats, "embeddings"),
        # sqrt-temperature mixture planning (alpha=0.5 fixed: sqrt is
        # correctly rounded, pow is not) — exact oracle
        "cur_temperature_mix": _q(curation.temperature_mix_plan, "documents"),
        # planner -> md5-threshold sampler end-to-end in ONE plan
        # (broadcast rates, narrow keep filter) — exact oracle
        "cur_temperature_sample": _q(
            curation.temperature_sample_summary, "documents"
        ),
        # the whole preprocessing funnel in one plan: dedup -> quality ->
        # temperature rebalance, 4-row accounting — exact oracle
        "cur_corpus_pipeline": _q(curation.corpus_pipeline_stats, "documents"),
        # per-(group, dim) mean embeddings: decimal accumulation makes the
        # centroid independent of row order/partitioning — exact oracle
        "emb_group_centroids": _q(similarity.group_centroids, "embeddings"),
        # embedding-distribution drift between two snapshots (even/odd
        # vec_id halves stand in for old/new model versions): per-label
        # µ²-unit centroid shift + mean-norm change, all-integer — exact
        # oracle
        "emb_snapshot_drift": lambda spark, sf: (
            lambda emb: similarity.snapshot_drift(
                emb.where(F.col("vec_id") % 2 == 0),
                emb.where(F.col("vec_id") % 2 == 1),
            )
        )(load_table(spark, sf, "embeddings")),
        # class-confusability matrix: cosine between every pair of label
        # centroids; 1e-6 re-quantization makes the dots exact decimal
        # sums — exact oracle over KB-sized centroid tables
        "emb_label_affinity": _q(similarity.label_affinity, "embeddings"),
        # top-k farthest-from-own-centroid vectors (label-noise audit):
        # exact quantized distances, broadcast centroids — exact oracle
        "emb_label_outliers": _q(similarity.label_outliers, "embeddings"),
        # distributed PCA: per-batch partial Grams -> bounded driver
        # combine -> eigh -> broadcast GEMM projection. eigh is not SQL-
        # expressible, so the gate checks the op's CONTRACT (row coverage,
        # decorrelation, variance == spectrum) against a SQL-derived
        # oracle — raw projections stay pinned in pytest.
        "emb_pca_project": _pca_project_invariants,
        # covariance eigen-spectrum (scree table) — invariant gate
        "emb_pca_spectrum": _pca_spectrum_invariants,
        # product quantization ADC search: 16x-compressed codes, distance
        # tables broadcast, per-batch pre-cut to k. k-means is not SQL-
        # expressible; gate checks the ADC contract + pinned recall floor.
        "emb_pq_topk": _pq_topk_invariants,
        # IVF-PQ: coarse cells prune to n_probe/n_cells of the corpus,
        # ADC ranks inside probed cells; gate pins full-probe == plain PQ
        # (pruning changes candidates, never scores) + row contract.
        "emb_ivf_pq_topk": _ivf_pq_invariants,
        # clustering routed through the df-cut (max_doc_freq=50): shingles
        # hot enough to blow up pair generation quadratically are dropped
        # from candidate generation only — the composition that actually
        # runs at 100 TB, mirrored exactly in the oracle.
        "dedup_clusters": lambda spark, sf: dedup.connected_components(
            dedup.ngram_jaccard_pairs(
                load_table(spark, sf, "documents"), 0.2, max_doc_freq=50
            )
        ),
        "dedup_canonical": lambda spark, sf: dedup.canonical_per_cluster(
            load_table(spark, sf, "documents"), max_doc_freq=50
        ),
        # streaming LSH novelty, batch twin: arrival order = doc_id order
        # (synthetic ts). Exact oracle (portable FNV buckets).
        "dedup_lsh_novelty": _q(_lsh_novelty, "documents"),
        # --- LLM-pipeline: multimodal columns (binary payload + typed
        # metadata; codec stubbed, plumbing real — media derived
        # deterministically from documents so DuckDB can oracle the
        # byte-accounting without decode libraries) ---
        "mm_featurize_bytes": lambda spark, sf: multimodal.featurize(
            multimodal.media_from_documents(load_table(spark, sf, "documents")),
            fake=True,
        ).select("media_id", "kind", "n_bytes").orderBy("media_id"),
        "mm_frame_counts": lambda spark, sf: multimodal.sample_frames(
            multimodal.media_from_documents(load_table(spark, sf, "documents")),
            1000,
            fake=True,
        ).groupBy("media_id").agg(F.count("*").alias("n_frames"))
        .orderBy("media_id"),
        "mm_metadata_stats": lambda spark, sf: multimodal.metadata_stats(
            multimodal.media_from_documents(load_table(spark, sf, "documents"))
        ),
        # audio chunk scheduling from metadata: narrow explode, zero
        # shuffles, pure integer arithmetic — exact oracle
        "mm_chunk_audio": lambda spark, sf: multimodal.chunk_audio_plan(
            multimodal.media_from_documents(
                load_table(spark, sf, "documents")
            )
        ),
        # --- LLM-pipeline: similarity search ---
        "emb_cosine_topk": lambda spark, sf: similarity.cosine_topk(
            load_table(spark, sf, "embeddings"), [0, 1, 2, 3, 4], 5
        ),
        # banded cosine LSH (4 planes × 20 bands OR'd — isotropic-data
        # tuning, see lsh_cosine_topk): approximate by design, but bucket
        # ids are engine-portable so the oracle replays the exact
        # candidate set and re-rank
        "emb_lsh_topk": lambda spark, sf: similarity.lsh_cosine_topk(
            load_table(spark, sf, "embeddings"), [0, 1, 2, 3, 4], 5
        ),
        # multi-probe variant: each query also probes its lowest-margin
        # bit-flip bucket per band — query-side probes only, corpus index
        # unchanged. Deterministic flip choice -> exact oracle; recall
        # 0.92 -> 1.0 at the registered params (pinned in pytest)
        "emb_lsh_multiprobe": lambda spark, sf: similarity.lsh_cosine_topk_multiprobe(
            load_table(spark, sf, "embeddings"), [0, 1, 2, 3, 4], 5
        ),
        # batch-query shape: 64 queries scored by one GEMM per partition
        # (per-pair HOF dots are interpreted — ~150× slower at this |Q|)
        "emb_batch_topk": lambda spark, sf: similarity.cosine_topk_gemm(
            load_table(spark, sf, "embeddings"), list(range(64)), 5
        ),
        # IVF ANN (k-means cells, not SQL-expressible): the gate runs the
        # op end-to-end and checks its contract vs the exact GEMM twin
        # (k rows/query, monotone sims, exact-top1 bound, recall floor)
        "emb_ivf_topk": _ivf_topk_invariants,
        # --- round 3: linkage / decay / LM / sampling / index storage ---
        # blocked fuzzy matching (entity resolution): attribute+length-
        # bucket blocks → equi-join, levenshtein compare, window resolve.
        # Levenshtein is engine-portable → exact pair+distance oracle
        "link_fuzzy_docs": _q(linkage.link_corrupted_docs, "documents"),
        # exponential time-decay scores: pow(0.5, k) weights are exact
        # doubles, contributions floor-quantized to integer 1e-10 units —
        # order-free BIGINT sum, exact oracle
        "ts_decay_score": _q(events_ops.decayed_user_score, "events"),
        # HLL++ sketch vs exact distinct per type: gate = exact counts +
        # sketch-within-5% flags (sketch value itself is engine-local)
        "ts_sketch_accuracy": _q(events_ops.distinct_users_sketch, "events"),
        # corpus-bigram LM features: min conditional transition prob +
        # bit-length information weights (log2 via bin() string length —
        # no transcendentals) — exact oracle
        "doc_bigram_lm": _q(text.bigram_lm_score, "documents"),
        # interpolated Kneser-Ney bigram table (D=3/4, exact rational
        # x4 arithmetic, DECIMAL(38,0)/HUGEINT products), top-20 by
        # smoothed probability — exact oracle
        "doc_kn_bigram": _q(text.kn_bigram_top, "documents"),
        # deterministic k-per-group reservoir (hash-order top-k, window
        # group-limit pruned) — exact oracle
        "cur_sample_k_per_group": _q(curation.sample_k_per_group, "documents"),
        # cross-source contamination matrix: distinct (source, fp) then
        # fp self-join (fan-out bounded by #sources) — exact oracle.
        # Natural cross-source dups only appear at sf0.1, so every 7th
        # doc is re-tagged as a synthetic 'srcM' feed (same pattern as
        # doc_redact_pii; 7 is coprime to the source cycle, so the mirror
        # overlaps MANY sources): value-bearing matrix at every sf
        "dedup_source_overlap": lambda spark, sf: (
            lambda docs: dedup.source_overlap_matrix(
                docs.unionByName(
                    docs.where(F.col("doc_id") % 7 == 0).withColumn(
                        "source", F.lit("srcM")
                    )
                )
            )
        )(load_table(spark, sf, "documents")),
        # stored cell-partitioned PQ code index: gate = storage contract
        # (full-probe == in-memory ADC row-for-row, unique code rows,
        # k-per-query at default probe)
        "emb_stored_ivf_pq": _stored_ivf_pq_invariants,
        # streaming PQ novelty's batch twin: verdicts re-derived by an
        # independent encode + set compare
        "emb_pq_novelty": _pq_novelty_invariants,
        # DSIR-style importance weights: log2-bucketed frequency contrast
        # between the in-domain and full corpus (bits via bin(), integer
        # everywhere) — exact oracle
        "doc_domain_affinity": _q(text.domain_affinity_score, "documents"),
        # per-source quality-decile histogram (ntile with total-order
        # tie-break) — the keep-top-deciles rebalancing plan, exact oracle
        "cur_quality_rebalance": _q(curation.quality_rebalance_plan, "documents"),
        # top-k first-session journeys: grouped array_sort (no window) +
        # |paths|-sized count + global top-k — exact oracle
        "ts_top_paths": _q(events_ops.top_user_paths, "events"),
        # Deequ-style contract validation: one groupless agg unpivoted to
        # (rule, n) rows — null/distinct/range/set/duplicate checks,
        # integer outputs — exact oracle
        "ts_quality_audit": _q(events_ops.data_quality_audit, "events"),
        # churn-label builder: user activity summary + label against the
        # corpus-final horizon (broadcast scalar cutoff) — exact oracle
        "ts_churn_labels": _q(events_ops.churn_labels, "events"),
        # incrementally-maintained continuous aggregate: build the stored
        # hour rollup on history, merge the increment (only its day
        # partitions are read/rewritten — dynamic partition overwrite),
        # return the store content. Oracle = from-scratch hour aggregate:
        # associative decimal merges make incremental == full, exactly
        "ts_rollup_incremental": _rollup_incremental,
        # robust (MAD-based) outlier counts: exact medians twice +
        # broadcast thresholds — the z-score twin a flooded value can't
        # drag. Exact oracle
        "ts_mad_outliers": _q(events_ops.mad_outliers, "events"),
        # streaming heavy-hitters' batch twin (support-threshold windowed
        # counts, ranked) — exact oracle; stream==batch in pytest
        "ts_heavy_hitters": lambda spark, sf: __import__(
            "bytehub_spark.streaming", fromlist=["heavy_hitters_batch"]
        ).heavy_hitters_batch(load_table(spark, sf, "events")),
        # hard-negative mining for contrastive training: GEMM top-k with
        # a label-inequality mask — exact oracle (round-4 ranking rules)
        "emb_hard_negatives": lambda spark, sf: similarity.hard_negatives(
            load_table(spark, sf, "embeddings"), [0, 1, 2, 3, 4], 5
        ),
        # language-ID eval: confusion matrix of the marker chain vs the
        # labeled lang column — integer counts, exact oracle
        "doc_langid_confusion": _q(text.langid_confusion, "documents"),
        # LM cross-entropy under the corpus bigram model: piecewise-
        # linear log2 ((b-1) + mantissa/2^(b-1) — exact power-of-two
        # division, no transcendentals) — exact oracle
        "doc_bigram_xent": _q(text.bigram_cross_entropy, "documents"),
        # chi-square value-histogram drift between time windows (PSI-
        # style monitor, log-free so engine-exact) — exact oracle
        "ts_value_drift": _q(events_ops.value_drift, "events"),
        # incremental ANN index maintenance: append-encode with frozen
        # geometry == one-shot union encode (invariant gate)
        "emb_ivf_pq_append": _ivf_pq_append_invariants,
        # ViT-style image tile plan from metadata (decode-free, like
        # chunk_audio_plan) — exact oracle; registered after the r03
        # gate filled, rotate in next round (swept locally at 3 scales)
        "mm_tile_plan": lambda spark, sf: multimodal.tile_image_plan(
            multimodal.media_from_documents(load_table(spark, sf, "documents"))
        ),
        # week-over-week growth per type (lag window, exact division)
        "ts_weekly_growth": _q(events_ops.weekly_growth, "events"),
        # sentence segmentation stats (readability layer) — exact oracle
        "doc_sentence_stats": _q(text.sentence_stats, "documents"),
        # eval-contamination audit: exact-dup contents spanning splits.
        # Natural cross-split dups are empty below sf0.1 (vacuous-gate
        # hazard), so every 10th+3 doc gets a leak twin at +100010 — the
        # residue shift lands twins in DIFFERENT splits deterministically
        "cur_split_leakage": lambda spark, sf: (
            lambda docs: curation.split_leakage_audit(
                docs.unionByName(
                    docs.where(F.col("doc_id") % 10 == 3).select(
                        (F.col("doc_id") + 100010).alias("doc_id"),
                        "text", "lang", "source", "n_chars",
                    )
                )
            )
        )(load_table(spark, sf, "documents")),
        # ANN quality monitoring as an operator: LSH top-k vs exact GEMM
        # top-k, per-query recall@k — exact oracle (post-gate; rotate in
        # next round)
        "emb_ann_recall_eval": lambda spark, sf: similarity.ann_recall_eval(
            load_table(spark, sf, "embeddings"), [0, 1, 2, 3, 4], 5
        ),
        # two-stage dedup: LSH semantic candidates verified by exact
        # n-gram Jaccard before anything is dropped — portable hashing
        # end-to-end, full pair set exactly oracled. The synthetic tables
        # have independent text/embedding modalities (semantic candidates
        # all FAIL text verification — itself worth gating), so every
        # 25th doc also gets an aligned twin (+100000 id, identical
        # vector, one-char text edit) that must pass BOTH stages
        "dedup_two_stage": lambda spark, sf: dedup.two_stage_dedup(
            (lambda d: d.unionByName(
                d.where(F.col("doc_id") % 25 == 0).select(
                    (F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat(
                        F.substring("text", 1, 10),
                        F.lit("#"),
                        F.expr("substring(text, 12)"),
                    ).alias("text"),
                    "lang", "source", "n_chars",
                )
            ))(load_table(spark, sf, "documents")),
            (lambda e: e.unionByName(
                e.where(F.col("vec_id") % 25 == 0).select(
                    (F.col("vec_id") + 100000).alias("vec_id"),
                    "embedding", "label",
                )
            ))(load_table(spark, sf, "embeddings")),
        ),
        # CCNet-style line-level boilerplate removal. The corpus has no
        # newlines (vacuous-gate hazard), so the wrapper deterministically
        # re-lines each doc — body split every 8 words, a per-source
        # header and a global footer injected — making the boilerplate
        # set value-bearing at every sf (footer always; per-source
        # headers once a source has >= min_docs docs)
        "doc_line_dedup": lambda spark, sf: (
            lambda docs: dedup.line_dedup(
                docs.withColumn(
                    "text",
                    F.concat_ws(
                        "\n",
                        F.concat(
                            F.lit("(c) 2024 "),
                            F.col("source"),
                            F.lit(" syndication network"),
                        ),
                        # replacement is a REAL newline char: in a Java
                        # replacement string backslash-n is a literal 'n'
                        F.regexp_replace(
                            F.col("text"), r"((\S+ ){7}\S+) ", "$1\n"
                        ),
                        F.lit("unsubscribe: reply STOP to cancel"),
                    ),
                ),
                min_docs=4,
            )
        )(load_table(spark, sf, "documents")),
        # per-doc n-gram novelty (fraction of distinct 3-grams first seen
        # in this doc) — curriculum/diversity signal, exact oracle
        "doc_ngram_novelty": _q(text.ngram_novelty, "documents"),
        # watermark-sizing audit: two-pass range-sharded running max over
        # a deterministic block-reversed arrival order (testdata arrives
        # in ts order — vacuous otherwise) — exact oracle
        "ts_lateness_audit": lambda spark, sf: events_ops.lateness_audit(
            load_table(spark, sf, "events").withColumn(
                "__arrival",
                F.expr("div(event_id, 16)") * F.lit(16)
                + F.lit(15)
                - F.col("event_id") % F.lit(16),
            ),
            shard_size=4096,
            arrival_col="__arrival",
        ),
        # hour-of-day × event_type PMI in micro-bits (piecewise-linear
        # log2, integer-exact cross-engine) — exact oracle
        "ts_event_pmi": _q(events_ops.event_pmi, "events"),
        # nearest as-of join (attribution): each purchase matched to the
        # user's nearest click within 24h, ties to the earlier click;
        # right side deduped to one row per (user, ts) — exact oracle
        "ts_asof_nearest": lambda spark, sf: (
            lambda ev: asof.asof_join_nearest(
                ev.where(F.col("event_type") == "purchase").select(
                    "user_id", "ts", "event_id", "value"
                ),
                ev.where(F.col("event_type") == "click")
                .select(
                    "user_id",
                    "ts",
                    F.col("event_id").alias("click_id"),
                    F.col("value").alias("click_value"),
                )
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("user_id", "ts").orderBy(
                            F.col("click_id").desc()
                        )
                    ),
                )
                .where(F.col("__rn") == 1)
                .drop("__rn"),
                time_col="ts",
                by=["user_id"],
                value_cols=["click_id", "click_value"],
                tolerance_us=86_400_000_000,
            ).orderBy("event_id")
        )(load_table(spark, sf, "events")),
        # SimHash near-dup PAIRS (Manku 4×16-bit band blocking + exact
        # popcount verify — exhaustive for hamming<=3). Natural pairs are
        # sparse below sf0.1, so every 25th doc gets an exact twin at
        # +200000 (hamming 0) — value-bearing at every sf, exact oracle
        "dedup_simhash_pairs": lambda spark, sf: (
            lambda docs: dedup.simhash_pairs(
                docs.unionByName(
                    docs.where(F.col("doc_id") % 25 == 0).select(
                        (F.col("doc_id") + 200000).alias("doc_id"),
                        "text", "lang", "source", "n_chars",
                    )
                )
            )
        )(load_table(spark, sf, "documents")),
        # Matryoshka truncation eval: recall@5 of prefix-truncated cosine
        # top-k (32 and 16 of 64 dims) vs the full-dim exact top-k — the
        # "how many dims can the index drop" table — exact oracle
        "emb_matryoshka_recall": lambda spark, sf: similarity.matryoshka_recall(
            load_table(spark, sf, "embeddings"), [0, 1, 2, 3, 4], 5
        ),
        # multimodal training-mix accounting per modality (bytes/duration/
        # pixels inventory + integer-exact budget allocation) — exact oracle
        "mm_modality_mix": lambda spark, sf: multimodal.modality_mix_plan(
            multimodal.media_from_documents(load_table(spark, sf, "documents"))
        ),
        # market-basket PMI between event types within (user, 6h) baskets
        # (plog2 micro-bits, distinct-collapse before the pair join) —
        # exact oracle
        "ts_basket_pmi": _q(events_ops.basket_pmi, "events"),
        # cooldown suppression (alert throttling): keep an event only if
        # >= 1h after the last KEPT event of the same user — inherently
        # sequential per-key scan (applyInPandas); DuckDB replays it with
        # a recursive CTE, so the kept set is value-exact cross-engine
        "ts_debounce": lambda spark, sf: events_ops.debounce(
            load_table(spark, sf, "events"), cooldown_us=3_600_000_000
        ),
        # margin-based cross-group pair mining (LASER/CCMatrix ratio
        # margin): best label-1 match per label-0 vector, normalized by
        # both sides' top-4 neighborhoods, mutual-best flag. Every 10th
        # label-0 vector gets an exact twin planted into group B
        # (cos_u=10000 anchors) — integer micro-unit margins, exact oracle
        "emb_margin_pairs": lambda spark, sf: (
            lambda emb: similarity.margin_pairs(
                emb.unionByName(
                    emb.where(
                        (F.col("label") == 0) & (F.col("vec_id") % 10 == 0)
                    ).select(
                        (F.col("vec_id") + 200000).alias("vec_id"),
                        "embedding",
                        F.lit(1).cast("int").alias("label"),
                    )
                )
            )
        )(load_table(spark, sf, "embeddings")),
        # the 100 TB scale mode of margin mining (VERDICT r03 item 2):
        # SRP-bucketed candidates (8 planes × 6 bands), integer-quantized
        # cosines, candidate-top-k ratio margin — same twin injection
        # (exact copies co-bucket in EVERY band, so the gate is
        # non-vacuous at every sf); no broadcast of B anywhere — exact
        # oracle replays buckets + int dots relationally
        "emb_margin_pairs_lsh": lambda spark, sf: (
            lambda emb: similarity.margin_pairs_lsh(
                emb.unionByName(
                    emb.where(
                        (F.col("label") == 0) & (F.col("vec_id") % 10 == 0)
                    ).select(
                        (F.col("vec_id") + 200000).alias("vec_id"),
                        "embedding",
                        F.lit(1).cast("int").alias("label"),
                    )
                )
            )
        )(load_table(spark, sf, "embeddings")),
        # LSH index-health monitor: per-band bucket occupancy + the exact
        # candidate-pair volume the bucket join will produce — the signal
        # behind every "grow n_planes with corpus size" docstring; all
        # integer, exact oracle over the same SRP bucket CTEs
        "emb_lsh_balance": lambda spark, sf: similarity.lsh_bucket_balance(
            load_table(spark, sf, "embeddings")
        ),
        # SRP plane-count decision table (round 7): the ANN twin of
        # dedup_band_balance — per-shape bucket stats + total candidate
        # volume + budget verdict + recommended (smallest fitting plane
        # count). Backed by the 500k-vector datapoint: 286M pairs at 12
        # planes vs 8.5M at 20. Exact oracle over per-shape bucket CTEs.
        "emb_lsh_plan": lambda spark, sf: similarity.lsh_plane_plan(
            load_table(spark, sf, "embeddings"), budget_pairs=2_000
        ),
        # KMV bottom-k sketch cross-source overlap estimation, with the
        # exact-join twin for err_ppm (hll_accuracy pattern). srcM mirror
        # injection (doc_id%7) guarantees real overlap at every sf; the
        # sketch is deterministic FNV — bit-exact oracle
        "dedup_kmv_overlap": lambda spark, sf: (
            lambda docs: dedup.kmv_source_overlap(
                docs.unionByName(
                    docs.where(F.col("doc_id") % 7 == 0).withColumn(
                        "source", F.lit("srcM")
                    )
                ),
                k=64,
            )
        )(load_table(spark, sf, "documents")),
        # est-only mode of the same estimator — the benched query and
        # the 100 TB mode: the exact-audit join (the dominant cost at
        # any scale, est-only drops ~45% of the wall time at sf0.1) is
        # kept as the separate dedup_kmv_overlap gate entry above
        "dedup_kmv_overlap_est": lambda spark, sf: (
            lambda docs: dedup.kmv_source_overlap(
                docs.unionByName(
                    docs.where(F.col("doc_id") % 7 == 0).withColumn(
                        "source", F.lit("srcM")
                    )
                ),
                k=64,
                include_exact=False,
            )
        )(load_table(spark, sf, "documents")),
        # per-source KMV distinct-cardinality estimation (the streaming
        # KMVDistinctMonitor's batch twin; stream==batch pinned in
        # pytest). k=16 keeps the ESTIMATOR path active at every sf
        # (each source has >16 distinct docs) — deterministic sketch,
        # bit-exact oracle
        "dedup_kmv_distinct": lambda spark, sf: dedup.kmv_source_distinct(
            load_table(spark, sf, "documents"), k=16
        ),
        # DoReMi-style loss-driven domain mixture reweighting: per-domain
        # bigram-LM excess cross-entropy -> exponential integer levels ->
        # weight_ppm; piecewise-linear log2 keeps it transcendental-free
        # and bit-exact
        "cur_domain_reweight": lambda spark, sf: curation.domain_reweight_by_loss(
            load_table(spark, sf, "documents")
        ),
        # token-weighted exact-dup inflation funnel (per-source + total).
        # Injected copies (doc_id%37, +500000, alternating source) keep
        # the gate non-vacuous: the corpus has no natural exact dups
        "dedup_token_inflation": lambda spark, sf: (
            lambda docs: dedup.token_dup_inflation(
                docs.unionByName(
                    docs.where(F.col("doc_id") % 37 == 0).select(
                        (F.col("doc_id") + 500000).alias("doc_id"),
                        "text",
                        "lang",
                        F.concat(F.lit("src"), (F.col("doc_id") % 3).cast("string")).alias("source"),
                        "n_chars",
                    )
                )
            )
        )(load_table(spark, sf, "documents")),
        # deterministic epoch shuffle: (shard, pos) training order from
        # two LCG rounds mod 2^31-1 — hash-bucket + per-shard sort, the
        # 100 TB shuffle shape (no global orderBy) — exact oracle
        "cur_epoch_shuffle": lambda spark, sf: curation.epoch_shuffle(
            load_table(spark, sf, "documents"), n_shards=8, epoch=1
        ),
        # TextRank corpus keywords: PageRank over the term-adjacency graph,
        # 3 unrolled power iterations in integer micro-units — an iterative
        # graph algorithm with a bit-exact oracle
        "doc_textrank": _q(text.textrank_keywords, "documents"),
        # ordered view->click->purchase funnel (strictly increasing
        # timestamps, earliest-after-t per step) with ppm conversions —
        # the multi-step complement of ts_funnel's daily 2-step CVR —
        # exact oracle
        "ts_funnel_steps": _q(events_ops.funnel, "events"),
        # code-vs-prose routing (symbol density + indentation rate); every
        # 20th doc is rewritten as a code snippet so the verdict column is
        # value-bearing at every sf — exact oracle
        # linear multi-touch attribution: each purchase splits one unit of
        # ppm credit equally across lookback-window touches — exact oracle
        "ts_attribution_linear": _q(events_ops.linear_attribution, "events"),
        # Morton z-order keys over (user_id, ts): the integer quantize +
        # bit-interleave behind the multi-column-pruning file layout
        # (sources/zorder.py; layout proof in tests/test_zorder.py) —
        # exact oracle
        "ts_zorder_keys": lambda spark, sf: zorder_src.zorder_keys(
            load_table(spark, sf, "events").withColumn(
                "ts_us", F.unix_micros("ts")
            ),
            "user_id",
            "ts_us",
            bits=8,
        )
        .select("event_id", "q_a", "q_b", "zkey")
        .orderBy("event_id"),
        # dataset-version diff (added/removed/changed/unchanged by key +
        # content hash); old/new snapshots carved deterministically from
        # events with planted edits so all four verdicts appear
        "ts_snapshot_diff": lambda spark, sf: (
            lambda ev: curation.snapshot_diff(
                ev.where(F.col("event_id") % 3 != 0).select(
                    "event_id", "user_id", "event_type"
                ),
                ev.where(F.col("event_id") % 3 != 1)
                .withColumn(
                    "event_type",
                    F.when(
                        F.col("event_id") % 5 == 0,
                        F.concat(F.col("event_type"), F.lit("_v2")),
                    ).otherwise(F.col("event_type")),
                )
                .select("event_id", "user_id", "event_type"),
                key_cols=["event_id"],
                compare_cols=["user_id", "event_type"],
            )
        )(load_table(spark, sf, "events")),
        # distributed BPE training: 3 greedy merge rounds over the
        # word-count table (argmax pair -> merge everywhere) — an
        # iterative tokenizer-training loop with a bit-exact oracle
        "doc_bpe_train": _q(text.bpe_train, "documents"),
        # feature-hashing text embedder (hashing trick): portable Horner
        # hash -> bucket counts, sparse rows, JVM-side fold — exact oracle
        "doc_hash_embed": _q(text.hash_embed, "documents"),
        # DAU / rolling-7d WAU / stickiness via the day-explode trick
        # (sliding distinct as a plain keyed distinct) — exact oracle
        "ts_active_users": _q(events_ops.active_users, "events"),
        # corpus URL-domain inventory (regex extract -> host -> top-k);
        # every 7th doc gets a deterministic URL appended so the table is
        # value-bearing at every sf — exact oracle
        "doc_url_domains": lambda spark, sf: text.url_domains(
            load_table(spark, sf, "documents").withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(
                        F.col("text"),
                        F.lit(" see https://www.site"),
                        (F.col("doc_id") % 5).cast("string"),
                        F.lit(".example.com/page/"),
                        F.col("doc_id").cast("string"),
                    ),
                ).otherwise(F.col("text")),
            )
        ),
        # multimodal sequence-position budget (LLaVA-style tile/audio/
        # video token costs + text tokens, integer ceil-div) — exact oracle
        "mm_token_budget": lambda spark, sf: (
            lambda docs: multimodal.token_budget(
                multimodal.media_from_documents(docs), docs
            )
        )(load_table(spark, sf, "documents")),
        # per-source percentile normalization of the quality score
        # (rank-based, integer ppm) — exact oracle
        "doc_quality_pct": _q(text.quality_percentile, "documents"),
        # exact per-source length quantiles (quantile_disc convention) —
        # the chunk-size/packing profiling table — exact oracle
        "doc_length_profile": _q(text.length_profile, "documents"),
        # tokenizer-coverage audit: per-doc OOV rate vs the corpus top-20
        # vocabulary, one broadcast array + map stage — exact oracle
        "doc_oov_rate": _q(text.oov_rate, "documents"),
        "doc_code_detect": lambda spark, sf: text.code_detect(
            load_table(spark, sf, "documents").withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 20 == 0,
                    F.concat(
                        F.lit("def f_"),
                        F.col("doc_id").cast("string"),
                        F.lit("(x) {\n  y = x + 1;\n  return (y);\n}"),
                    ),
                ).otherwise(F.col("text")),
            )
        ),
        # tokenizer APPLY: encode the corpus with the bpe_train merges
        # and emit the token histogram — same doubled-space merge chain,
        # so the segmentation is bit-exact in both engines — exact oracle
        "doc_bpe_encode": _q(text.bpe_encode, "documents"),
        # fastText-style linear quality-classifier inference: hashing-
        # trick features × deterministic integer weights -> BIGINT score
        # + keep/drop label — exact oracle
        "doc_quality_classifier": _q(text.quality_classifier, "documents"),
        # perceptual near-dup media pairs: aHash over the (stubbed)
        # decode boundary, Manku banding + popcount verify; injected
        # suffix twins guarantee hamming-0 pairs at every sf — exact
        # oracle (hex-byte replay of the signature)
        "mm_phash_pairs": lambda spark, sf: multimodal.ahash_pairs(
            load_table(spark, sf, "documents"), fake=True
        ),
        # SemDeDup (cluster-then-prune semantic dedup): invariant-summary
        # gate with injected exact twins — k-means is the non-SQL part;
        # per-vector outputs pinned in pytest
        "dedup_semantic": _semantic_dedup_invariants,
        # WebDataset-style shard manifest: token_budget pricing + hash
        # shard assignment + per-shard resume position — exact oracle
        "mm_shard_manifest": lambda spark, sf: (
            lambda docs: multimodal.shard_manifest(
                multimodal.media_from_documents(docs), docs
            )
        )(load_table(spark, sf, "documents")),
        # dedup-quality monitor: LSH candidate precision/recall vs exact
        # Jaccard ground truth, integer ppm — exact oracle (both pair
        # sets replay deterministically)
        "dedup_lsh_eval": _q(dedup.lsh_dedup_eval, "documents"),
        # per-shape x per-Jaccard-decile recall curve of the banded
        # candidates vs exact inverted-index truth (round 7) — the
        # recall side of the band_balance decision table; lsh_dedup_eval
        # is its one-row single-shape special case. Exact oracle.
        "dedup_band_recall": _q(dedup.minhash_band_recall, "documents"),
        # weighted deterministic source interleave (stride scheduling):
        # integer virtual-time schedule keys — exact oracle
        "cur_interleave": _q(curation.interleave_sources, "documents"),
        # per-column table profile (round 7): row/null/exact-distinct
        # counts + integral min/max + string length min/max, ONE
        # aggregation pass, long-format output — the pre-flight corpus
        # profiler. Exact oracle (per-column UNION ALL).
        "cur_table_profile": _q(profile.table_profile, "documents"),
        # declarative constraint gate (round 7): not_null / unique /
        # range / LIKE rules compiled into ONE aggregation pass — the
        # Deequ-style quality gate before a training run. Exact oracle.
        "cur_quality_gate": lambda spark, sf: profile.check_constraints(
            load_table(spark, sf, "documents"),
            [
                (0, "not_null", "text"),
                (1, "unique", "doc_id"),
                (2, "range", "n_chars", 1, 100_000),
                (3, "like", "lang", "__"),
                (4, "not_null", "source"),
            ],
        ),
        # schema-evolution check (round 7): snapshot B drops `source`,
        # narrows n_chars to int, adds `extra` — the pre-append guard.
        # Driver-side only (no scan); constant-table oracle pins the
        # expected verdict rows.
        "cur_schema_diff": lambda spark, sf: (
            lambda docs: profile.schema_diff(
                docs,
                docs.drop("source")
                .withColumn("n_chars", F.col("n_chars").cast("int"))
                .withColumn("extra", F.lit(1).cast("long")),
            )
        )(load_table(spark, sf, "documents")),
        # snapshot-over-snapshot profile drift (round 7): B drops every
        # doc_id%5==0 row and NULLs lang on doc_id%7==0 — per-column
        # row/null-rate(ppm)/distinct deltas + integral min/max shifts;
        # two single-pass profiles + a columns-sized join. Exact oracle.
        "cur_profile_drift": lambda spark, sf: (
            lambda docs: profile.profile_drift(
                docs,
                docs.where(F.col("doc_id") % 5 != 0).withColumn(
                    "lang",
                    F.when(F.col("doc_id") % 7 != 0, F.col("lang")),
                ),
            )
        )(load_table(spark, sf, "documents")),
        # cross-table FK gate (round 7): orders.o_custkey -> customer,
        # lineitem.l_orderkey -> orders (clean TPC-H FKs) plus a
        # deliberately-broken third check (orders keys vs the even-key
        # half of customer) so orphans > 0 exists at every sf. Exact
        # oracle (anti-join counts).
        "cur_ri_gate": lambda spark, sf: profile.referential_integrity([
            (0, load_table(spark, sf, "orders"), "o_custkey",
             load_table(spark, sf, "customer"), "c_custkey"),
            (1, load_table(spark, sf, "lineitem"), "l_orderkey",
             load_table(spark, sf, "orders"), "o_orderkey"),
            (2, load_table(spark, sf, "orders"), "o_custkey",
             load_table(spark, sf, "customer").where(
                 F.col("c_custkey") % 2 == 0
             ), "c_custkey"),
        ]),
        # embedding-health monitor (norm mass + adjacent-pair cosine
        # profile, floor-quantized integer sums) — exact oracle
        "emb_health": _q(similarity.embedding_health, "embeddings"),
        # domain deny-list flags (exact + subdomain suffix match) over
        # the same injected URLs as doc_url_domains, so site1/site3 hits
        # exist at every sf — exact oracle
        "doc_url_blocklist": lambda spark, sf: text.url_blocklist_flags(
            load_table(spark, sf, "documents").withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(
                        F.col("text"),
                        F.lit(" see https://www.site"),
                        (F.col("doc_id") % 5).cast("string"),
                        F.lit(".example.com/page/"),
                        F.col("doc_id").cast("string"),
                    ),
                ).otherwise(F.col("text")),
            )
        ),
        # --- round 5 ---
        # first-order Markov transition matrix over per-user streams:
        # lead() per user + (prev,next) counts + conditional ppm — exact
        "ts_event_transitions": _q(events_ops.event_transitions, "events"),
        # SCD2 history build: per-user event_type runs -> half-open
        # validity intervals (lag change-flag + running sum + lead),
        # all windows user-partitioned — exact oracle
        "ts_scd2_history": _q(events_ops.scd2_history, "events"),
        # gaps-and-islands interval coalescing: [ts, ts+value min)
        # ranges merged per user via running-max-of-end — exact oracle
        "ts_intervals_merge": _q(events_ops.intervals_merge, "events"),
        # Count-Min sketch (depth 4 × width 256) probed at the exact
        # top-10 users — bounded-state frequency estimation; est ≥ true
        # one-sided. Engine-portable integer double-hash, exact oracle
        "ts_cms_user_topk": _cms_user_topk,
        # per-event-type HyperLogLog registers (m=64) + exact-integer
        # harmonic estimate next to the exact distinct — exact oracle
        "ts_hll_users": _hll_users,
        # the linear-counting-corrected estimator (integer LC literal
        # table + the standard 2.5·m switch) — usable across the whole
        # cardinality range; both branches swept — exact oracle
        "ts_hll_users_lc": _hll_users_lc,
        # HLL set algebra: union by register max-merge, intersection by
        # inclusion-exclusion, next to exact counts — exact oracle
        "ts_hll_overlap": _hll_overlap,
        # qgram_edit_pairs behind its executable pricer: price →
        # island-collapse → re-price → join → expand, on a copy-heavy
        # corpus that forces the collapse route — exact oracle
        "dedup_qgram_routed": _qgram_routed,
        "dedup_jaccard_routed": _jaccard_routed,
        # grouped Count-Min: per-type sketch + per-type top-2 probe —
        # exact oracle (bit-exact grouped cell/probe replay)
        "ts_cms_topk_by_type": _cms_topk_by_type,
        # all-pairs HLL overlap matrix from one register scan — exact
        # oracle (grouped corrected estimates + exact intersections)
        "ts_hll_matrix": _hll_matrix,
        # grouped KMV: per-type bottom-k sketch + integer distinct
        # estimate next to exact — exact oracle (bit-exact replay)
        "ts_kmv_by_type": _kmv_by_type,
        # A-ES weighted top-k sample in exact integer arithmetic
        # (max-of-w-uniforms reformulation) — exact oracle
        "cur_weighted_sample": _weighted_sample,
        # weights past the cap (live clamp, up to 150 draws) — exact
        # oracle (generate_series replay)
        "cur_weighted_routed": _weighted_routed,
        # RFM quintile segmentation: per-user recency/frequency/monetary
        # (µ-unit BIGINT sums), exact percentile breakpoints (broadcast
        # scalar), 1-5 scores, segment rollup — exact oracle
        "ts_rfm_segments": _q(events_ops.rfm_segments, "events"),
        # token-budget allocator on DoReMi weights: per-domain target
        # tokens / sampling rate / epochs under a fixed budget — exact
        "cur_budget_alloc": lambda spark, sf: curation.budget_allocation(
            load_table(spark, sf, "documents"),
            budget_tokens=BUDGET_ALLOC_TOKENS,
        ),
        # LSH-bucketed approximate k-NN graph: every vector's top-5
        # bucket-mates by integer-quantized cosine — exact oracle
        "emb_knn_graph": lambda spark, sf: similarity.knn_graph(
            load_table(spark, sf, "embeddings"), k=5, n_planes=8, bands=6
        ),
        # Bloom-filter decontamination audit: the bounded-memory scale
        # mode (m_bits/32-word broadcast filter, FNV+KM probes) joined
        # against the exact shingle join — per-doc bloom vs exact hit
        # counts; bloom ⊇ exact by construction (no false negatives),
        # false_positive marks bloom-only docs. Same %50 benchmark split
        # as dedup_decontaminate — exact oracle (full bit replay)
        # memorization-risk audit: fraction of corpus tokens inside a
        # duplicated (corpus-count>=2) word 4-gram, per source — the
        # "what fraction is verbatim-repeatable" number dedup papers
        # report. Exact oracle (positional replay)
        "dedup_span_coverage": _q(dedup.dup_span_coverage, "documents"),
        # byte-level media blob dedup by SHA-256 digest (canonical copy,
        # replica count, bytes reclaimed); injected copies at doc_id%37
        # (+500000 — shifts kind, exercising n_kinds) keep it
        # non-vacuous. Exact oracle (DuckDB sha256 == Spark sha2·256)
        "mm_blob_dedup": lambda spark, sf: (
            lambda docs: multimodal.blob_dedup(
                multimodal.media_from_documents(
                    docs.unionByName(
                        docs.where(F.col("doc_id") % 37 == 0).withColumn(
                            "doc_id", F.col("doc_id") + 500000
                        )
                    )
                )
            )
        )(load_table(spark, sf, "documents")),
        # seasonal-naive forecast backtest (M-competition baseline):
        # hourly µ-unit sums, TIME-keyed one-season-shift self-join,
        # MAE/bias/max-err per type over the last 48h — exact oracle
        "ts_forecast_snaive": _q(events_ops.seasonal_naive_backtest, "events"),
        # span-level decontamination: benchmark-shared n-gram positions
        # masked in place (union of covered word positions per doc) —
        # every train doc appears, clean ones with count 0. Exact oracle
        "dedup_decontaminate_mask": lambda spark, sf: (
            lambda docs: dedup.decontaminate_mask(
                docs.where(F.col("doc_id") % 50 != 0),
                docs.where(F.col("doc_id") % 50 == 0),
                4,
            )
        )(load_table(spark, sf, "documents")),
        # mutual-kNN semantic clusters: knn_graph edges where BOTH
        # endpoints list each other at cos_u >= 9000, connected
        # components over the symmetric graph, singletons = own id —
        # exact oracle (knn replay + mutual join + recursive CTE)
        "emb_graph_clusters": lambda spark, sf: similarity.graph_clusters(
            load_table(spark, sf, "embeddings"), k=5, min_cos_u=9_000,
            n_planes=8, bands=6
        ),
        # cluster-tightness audit (round 7): per multi-member mutual-kNN
        # component its size, edge count, mean edge cosine (µ-div) —
        # the auto-collapse vs review-queue split; exact oracle over the
        # shared recursive-CC chain. The gate input UNIONS deterministic
        # twin vectors (vec_id % 13 == 0 copied to vec_id + 1e7, same
        # embedding -> cos_u exactly 10000, a guaranteed mutual edge) so
        # the comparison is NEVER over 0 rows at any sf — the testdata
        # alone forms no mutual components at cos_u>=9000/k=5, which
        # made the r07 gate row vacuous (VERDICT r07; same pattern as
        # cur_ri_gate's deliberately-broken FK).
        "emb_cluster_quality": lambda spark, sf: similarity.cluster_quality(
            (lambda emb: emb.select("vec_id", "embedding").unionByName(
                emb.where(F.col("vec_id") % 13 == 0).select(
                    (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
                    "embedding",
                )
            ))(load_table(spark, sf, "embeddings")),
            k=5, min_cos_u=9_000, n_planes=8, bands=6,
        ),
        # per-dim int8 scalar-quantization audit: affine code fit,
        # codes used, nano-unit reconstruction error — exact oracle
        "emb_quantize_int8": lambda spark, sf: similarity.quantize_int8_audit(
            load_table(spark, sf, "embeddings")
        ),
        # the persisted/streamed form of the decontamination state: the
        # packed Bloom word table over the WHOLE corpus's 4-gram shingles
        # (≤ m/32 rows regardless of corpus size; bit_or-mergeable, so
        # streaming.BloomFilterMonitor accumulates this exact frame —
        # equality incl. permuted batch order pinned in pytest)
        "dedup_bloom_words": lambda spark, sf: dedup.bloom_build_words(
            load_table(spark, sf, "documents"), 4, 1 << 18, 4
        ).orderBy("word_idx"),
        "dedup_bloom_decontaminate": lambda spark, sf: (
            lambda docs: (
                # bloom and exact decontamination share ONE persisted
                # train-side (id, shingle) explode and ONE persisted
                # bench-side distinct shingle relation (r14 opt: the two
                # operators each re-derived both — two corpus scans +
                # explodes and two benchmark shingle pipelines per run)
                lambda train, bench: (
                    lambda tsh, bsh: dedup.bloom_decontaminate(
                        train, bench, 4, 1 << 18, 4,
                        train_shingles=tsh, bench_shingles=bsh,
                    )
                    .withColumnRenamed("n_maybe_shingles", "n_bloom_shingles")
                    .join(
                        dedup.decontaminate(
                            train, bench, 4,
                            train_shingles=tsh, bench_shingles=bsh,
                        ).withColumnRenamed(
                            "n_hit_shingles", "n_exact_shingles"
                        ),
                        "doc_id",
                        "left",
                    )
                )(
                    scratch_persist(
                        dedup.shingle_sets(train, "text", "doc_id", 4)
                    ),
                    scratch_persist(
                        dedup.shingle_sets(bench, "text", "doc_id", 4)
                        .select("shingle")
                        .distinct()
                    ),
                )
                .select(
                    "doc_id",
                    "n_bloom_shingles",
                    F.coalesce("n_exact_shingles", F.lit(0)).alias(
                        "n_exact_shingles"
                    ),
                    F.col("n_exact_shingles").isNull().alias("false_positive"),
                )
                .orderBy("doc_id")
            )(
                docs.where(F.col("doc_id") % 50 != 0),
                docs.where(F.col("doc_id") % 50 == 0),
            )
        )(load_table(spark, sf, "documents")),
        # --- round 6 ---
        # est-vs-exact quantile-breakpoint audit: RFM quintile cut
        # points from the deterministic LCG user sample vs the exact
        # single-buffer percentile, ppm deltas — the measured accuracy
        # of rfm_segments' scale-safe sampled/auto mode. Exact oracle.
        "ts_rfm_bp_audit": lambda spark, sf: events_ops.rfm_breakpoint_audit(
            load_table(spark, sf, "events"), sample_mod=3
        ),
        # per-user inter-event cadence profile: gap distribution (mean /
        # exact median / p90 in µs) + quantile-shape burstiness — one
        # per-user lag window + one keyed agg. Exact oracle.
        "ts_cadence_profile": _q(events_ops.cadence_profile, "events"),
        # additive Holt-Winters one-step backtest (level+trend+season,
        # ppm smoothing constants, truncating integer recurrence) per
        # event_type over the dense hourly grid — the forecasting step
        # past ts_forecast_snaive; oracle replays the identical
        # recurrence as a recursive CTE carrying the season vector as a
        # list. Sequential in time, parallel across series.
        "ts_holt_winters": _q(events_ops.holt_winters_backtest, "events"),
        # forecaster model-selection rollup (round 7): snaive vs
        # Holt-Winters MAE/bias/max-err head-to-head per event_type over
        # the same trailing 48h, full-outer joined with an M-competition
        # mae_winner verdict. Oracle composes the two existing replays
        # (the HW recursive CTE via _holt_winters_oracle(tail=...)).
        "ts_forecast_eval": _q(events_ops.forecast_eval, "events"),
        # --- round 8 ---
        # ε-band join decision table (range-join twin of emb_lsh_plan):
        # per candidate band width the EXACT equi-join candidate volume,
        # hot-bucket imbalance (two-term divmod identity), and the
        # widest-ε-within-budget recommendation — the pre-join skew
        # guard for band_join. Exact oracle replays the bucket counts +
        # RANGE window neighbor sums.
        "join_band_plan": lambda spark, sf: asof.band_plan(
            load_table(spark, sf, "events"), ["event_type"], "value",
            (100_000, 1_000_000, 5_000_000), 10_000_000,
        ),
        # join-key skew profiler: top-5 heaviest keys with share_ppm +
        # the salt factor capping each at 64 rows/task, over BOTH a
        # high-cardinality key (user_id) and a low-cardinality one
        # (event_type) — the "should I salt this join" prepass. Top-k
        # via TakeOrdered (never a global sort); scalars on a 1-row
        # broadcast.
        "join_skew_profile": lambda spark, sf: (
            lambda ev: skew.key_skew_profile(ev, "user_id", 64, 5)
            .unionByName(skew.key_skew_profile(ev, "event_type", 64, 5))
            .orderBy("key_col", F.col("n_rows").desc(), "key")
        )(load_table(spark, sf, "events")),
        # the EXECUTION half of key_skew_profile: events->customer join
        # run salted (per-row-id salt on the fact, dim exploded xS,
        # sort-merge pinned) — the oracle is the PLAIN join, so the
        # gate proves salted == unsalted
        "join_salted_agg": lambda spark, sf: skew.salted_join_agg(
            load_table(spark, sf, "events"),
            load_table(spark, sf, "customer"),
            "user_id", "c_custkey", "c_mktsegment", "value", "event_id",
        ),
        # exact-dup cluster-size profile with token savings of
        # collapsing to the canonical member. The testdata corpus has
        # NO exact dups (the profile would be the single all-zero
        # size-1 row — the vacuous-gate hazard), so the gate wrapper
        # injects deterministic copies: doc_id % 37 == 0 duplicated
        # once (+1e7), % 111 == 0 duplicated twice (+2e7) — sizes
        # 1/2/3 with nonzero dup_tokens at every sf.
        "dedup_savings_profile": lambda spark, sf: dedup.savings_profile(
            (lambda d: d.select("doc_id", "text")
             .unionByName(
                 d.where(F.col("doc_id") % 37 == 0).select(
                     (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                     "text",
                 )
             )
             .unionByName(
                 d.where(F.col("doc_id") % 111 == 0).select(
                     (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
                     "text",
                 )
             ))(load_table(spark, sf, "documents"))
        ),
        # dataset-card rollup: (source, lang) -> (source) -> total in
        # ONE Expand+agg pass; rolled-up keys print '<all>'; exact ppm
        # mean. The per-release corpus summary table.
        "cur_dataset_card": _q(curation.dataset_card, "documents"),
        # CCNet-style head/middle/tail perplexity terciles per source:
        # per-doc integer-µbit bigram xent + row_number tercile split,
        # rolled up to (source, bucket) — exact oracle
        "cur_ccnet_bucket": _q(curation.ccnet_bucket, "documents"),
        # --- round 9 ---
        # the full curation chain (gate -> exact dedup -> banded-MinHash
        # near-dedup -> decontaminate -> pack) as ONE oracle-gated
        # query: per-stage in/out/dropped counts. Every stage is made
        # non-vacuous at every sf by deterministic injections: %29 docs
        # get a ' qq'-suffixed near-dup copy (+1e7, survives exact
        # dedup, dropped by LSH), %37 an exact copy (+2e7, dropped at
        # stage 1), %53 a NULL-text row (+3e7, dropped at the gate);
        # the benchmark is the %101 sample of the corpus itself, so its
        # surviving members are contaminated by construction.
        # per-doc funnel flags (batch twin of CurationFunnelMonitor, the
        # 15th monitor): gate -> exact-new (min-id fingerprint keeper)
        # -> near-new (no MinHash band bucket claimed by a lower-id
        # exact-new survivor). The monitor shares curation._funnel_flags,
        # so this gate guards the streaming kernel too. Exact oracle
        # (portable FNV buckets, the _minhash_ctes machinery).
        "cur_funnel_flags": _q(curation.curation_funnel_flags, "documents"),
        "cur_pipeline_card": lambda spark, sf: (
            lambda d: curation.pipeline_card(
                d.unionByName(
                    d.where(F.col("doc_id") % 29 == 0).select(
                        (F.col("doc_id") + F.lit(10_000_000)).alias(
                            "doc_id"
                        ),
                        F.concat(F.col("text"), F.lit(" qq")).alias(
                            "text"
                        ),
                    )
                )
                .unionByName(
                    d.where(F.col("doc_id") % 37 == 0).select(
                        (F.col("doc_id") + F.lit(20_000_000)).alias(
                            "doc_id"
                        ),
                        "text",
                    )
                )
                .unionByName(
                    d.where(F.col("doc_id") % 53 == 0).select(
                        (F.col("doc_id") + F.lit(30_000_000)).alias(
                            "doc_id"
                        ),
                        F.lit(None).cast("string").alias("text"),
                    )
                ),
                d.where(F.col("doc_id") % 101 == 0),
            )
        )(load_table(spark, sf, "documents").select("doc_id", "text")),
    }


# ---------------------------------------------------------------------------
# Oracle SQL for the approximate-dedup/ANN family (round 3): the Spark side
# hashes with engine-portable FNV-1a / integer plane signs (operators/
# hashing.py), so DuckDB replays signatures, bucket ids and candidate pair
# sets EXACTLY — these were `err: no_oracle` driver rows in r02.
# ---------------------------------------------------------------------------

from bytehub_spark.operators import hashing as _H
from bytehub_spark.operators import sketches as _SK


def _hll_cor_est_duck(regs: str) -> str:
    """DuckDB 1-row (occupied, est) subquery: the linear-counting-
    corrected HLL estimate over a register CTE named ``regs`` — the
    exact-integer replay of sketches.hll_estimate_corrected (raw
    harmonic estimate, then the 2.5·m switch into the shared LC
    literal table). COALESCE handles the empty-register edge the same
    way hll_estimate's does (a global aggregate over zero rows)."""
    num = _SK.HLL_ALPHA_NUM * HLL_M * HLL_M * 2147483648
    return f"""(
        SELECT occupied,
               CAST(CASE WHEN occupied < {HLL_M}
                         AND est_raw * {_SK.HLL_LC_SWITCH_DEN}
                             <= {_SK.HLL_LC_SWITCH_NUM * HLL_M}
                    THEN {_SK.hll_lc_case_sql(HLL_M, 'occupied')}
                    ELSE est_raw END AS BIGINT) AS est
        FROM (
            SELECT occupied,
                   CAST({num} // ({_SK.HLL_ALPHA_DEN}
                        * (hs + ({HLL_M} - occupied) * 2147483648))
                        AS BIGINT) AS est_raw
            FROM (
                SELECT CAST(COUNT(*) AS BIGINT) AS occupied,
                       CAST(COALESCE(SUM(
                           {_H.pow2_31_minus_rho_sql('rho')}), 0)
                            AS BIGINT) AS hs
                FROM {regs}
            )
        )
    )"""


def _hll_cor_grouped_duck(regs: str, gcols: str) -> str:
    """DuckDB subquery (gcols…, occupied, est): the LC-corrected HLL
    estimate PER GROUP over a register CTE — the grouped form of
    _hll_cor_est_duck (one generated definition of the corrected
    estimator, interpolated for the matrix oracle's per-group and
    per-pair finishes). No empty-edge COALESCE: every group present in
    ``regs`` has ≥ 1 occupied register by construction."""
    num = _SK.HLL_ALPHA_NUM * HLL_M * HLL_M * 2147483648
    return f"""(
        SELECT {gcols}, occupied,
               CAST(CASE WHEN occupied < {HLL_M}
                         AND est_raw * {_SK.HLL_LC_SWITCH_DEN}
                             <= {_SK.HLL_LC_SWITCH_NUM * HLL_M}
                    THEN {_SK.hll_lc_case_sql(HLL_M, 'occupied')}
                    ELSE est_raw END AS BIGINT) AS est
        FROM (
            SELECT {gcols}, occupied,
                   CAST({num} // ({_SK.HLL_ALPHA_DEN}
                        * (hs + ({HLL_M} - occupied) * 2147483648))
                        AS BIGINT) AS est_raw
            FROM (
                SELECT {gcols}, CAST(COUNT(*) AS BIGINT) AS occupied,
                       CAST(SUM({_H.pow2_31_minus_rho_sql('rho')})
                            AS BIGINT) AS hs
                FROM {regs} GROUP BY {gcols}
            )
        )
    )"""


# the dedup_qgram_routed corpus's copy block, generated from the same
# QGRAM_COPIES/QGRAM_COPY_OFFSET the Spark wrapper loops over
_QGRAM_COPY_UNION_DUCK = "\n                UNION ALL\n".join(
    f"                SELECT doc_id + {i * QGRAM_COPY_OFFSET} AS doc_id,"
    f" text FROM inj"
    for i in range(1, QGRAM_COPIES + 1)
)


def _minhash_band_ctes(src: str, bands: int, n_hashes: int = 64) -> str:
    """Generic-shape variant of ``_minhash_ctes`` reading an arbitrary
    (doc_id, text) CTE: shingles→(h1,h2)→signatures→band buckets at
    (n=3, ``n_hashes``, ``bands``, r = n_hashes/bands). The band hash is
    the same per-step Horner fold ``dedup._band_fold`` computes (acc =
    (acc·K + h_i) mod p each step — operands positive, so the SQL ``%``
    equals Spark's pmod). ``_minhash_ctes`` stays byte-identical for the
    established b=32/r=2 oracles; this one serves the pipeline card's
    b=16/r=4 shape."""
    r = n_hashes // bands
    mins = [f"min(CASE WHEN j % {r} = {i} THEN h END)" for i in range(r)]
    fold = mins[0]
    for m in mins[1:]:
        fold = f"(({fold}) * {_H.BAND_K} + {m}) % {_H.MINHASH_PRIME}"
    return f"""
        w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM {src}
            WHERE len(string_split(text, ' ')) >= 3
        ),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(0, len(ws) - 2),
                i -> array_to_string(ws[i + 1 : i + 3], ' ')))) AS shingle
            FROM w
        ),
        dh AS (
            SELECT shingle,
                   {_H.shingle_h1_sql('shingle')} AS h1,
                   {_H.shingle_h2_sql('shingle')} AS h2
            FROM (SELECT DISTINCT shingle FROM sh)
        ),
        shh AS (
            SELECT s.doc_id, d.h1, d.h2 FROM sh s JOIN dh d USING (shingle)
        ),
        sig AS MATERIALIZED (
            SELECT doc_id, j, min((h1 + j * h2) % {_H.MINHASH_PRIME}) AS h
            FROM shh, (SELECT unnest(generate_series(0, {n_hashes - 1}))
                       AS j)
            GROUP BY doc_id, j
        ),
        bands AS (
            SELECT doc_id, j // {r} AS band, {fold} AS bh
            FROM sig GROUP BY doc_id, j // {r}
        )"""


def _minhash_ctes(doc_filter: str = "") -> str:
    """Shared CTE chain documents→shingles→(h1,h2)→signatures→band buckets,
    mirroring dedup.shingle_sets + hashing.shingle_h1_h2_np +
    dedup.minhash_signatures + dedup._band_buckets at the defaults
    (n=3, n_hashes=64, bands=32, r=2). Distinct shingles are hashed once
    (the FNV list_reduce is the slow part of the oracle)."""
    where = f"AND ({doc_filter})" if doc_filter else ""
    return f"""
        w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 3 {where}
        ),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(0, len(ws) - 2),
                i -> array_to_string(ws[i + 1 : i + 3], ' ')))) AS shingle
            FROM w
        ),
        dh AS (
            SELECT shingle,
                   {_H.shingle_h1_sql('shingle')} AS h1,
                   {_H.shingle_h2_sql('shingle')} AS h2
            FROM (SELECT DISTINCT shingle FROM sh)
        ),
        shh AS (
            SELECT s.doc_id, d.h1, d.h2 FROM sh s JOIN dh d USING (shingle)
        ),
        sig AS (
            SELECT doc_id, j, min((h1 + j * h2) % {_H.MINHASH_PRIME}) AS h
            FROM shh, (SELECT unnest(generate_series(0, 63)) AS j)
            GROUP BY doc_id, j
        ),
        bands AS (
            SELECT doc_id, j // 2 AS band,
                   (min(CASE WHEN j % 2 = 0 THEN h END) * {_H.BAND_K}
                    + min(CASE WHEN j % 2 = 1 THEN h END)) % {_H.MINHASH_PRIME} AS bh
            FROM sig GROUP BY doc_id, j // 2
        )"""


def _kmv_overlap_ctes() -> str:
    """Shared WITH chain for the KMV source-overlap oracles (srcM mirror
    injection → normalized FNV fingerprints → per-source bottom-64
    sketches → pair-merged estimator), ending at ``est2``; the exact-
    audit entry appends the full-fingerprint join, the est-only entry
    selects est2 directly — one chain so the two modes can never drift."""
    return f"""WITH docs2 AS (
                SELECT doc_id, text, source FROM documents
                UNION ALL
                SELECT doc_id, text, 'srcM' FROM documents WHERE doc_id % 7 = 0
            ),
            normd AS (
                SELECT source AS src,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                FROM docs2
            ),
            fp AS (
                SELECT DISTINCT src,
                       CAST({_H.fnv_sql_duckdb('t')} % 2147483647 AS BIGINT) AS h
                FROM normd
            ),
            sk AS (
                SELECT src, h FROM (
                    SELECT src, h,
                           row_number() OVER (PARTITION BY src ORDER BY h) AS r
                    FROM fp
                ) WHERE r <= 64
            ),
            prs AS (
                SELECT a.src AS src_a, b.src AS src_b
                FROM (SELECT DISTINCT src FROM fp) a,
                     (SELECT DISTINCT src FROM fp) b
                WHERE a.src < b.src
            ),
            mg AS (
                SELECT src_a, src_b, h, MAX(in_a) AS a, MIN(in_a) AS b_flag
                FROM (
                    SELECT p.src_a, p.src_b, s.h, 1 AS in_a
                    FROM prs p JOIN sk s ON s.src = p.src_a
                    UNION ALL
                    SELECT p.src_a, p.src_b, s.h, 0
                    FROM prs p JOIN sk s ON s.src = p.src_b
                ) GROUP BY src_a, src_b, h
            ),
            tk AS (
                SELECT src_a, src_b, h,
                       CASE WHEN a = 1 AND b_flag = 0 THEN 1 ELSE 0 END AS in_both,
                       row_number() OVER (
                           PARTITION BY src_a, src_b ORDER BY h) AS r
                FROM mg
            ),
            est AS (
                SELECT src_a, src_b,
                       CAST(COUNT(*) AS BIGINT) AS m,
                       CAST(MAX(h) AS BIGINT) AS u_k,
                       CAST(SUM(in_both) AS BIGINT) AS both_cnt
                FROM tk WHERE r <= 64 GROUP BY src_a, src_b
            ),
            est2 AS (
                SELECT src_a, src_b, m,
                       CAST(CASE WHEN m < 64 THEN m
                            ELSE CAST(63 AS BIGINT) * 2147483647 // u_k END AS BIGINT)
                           AS est_union,
                       CAST(CASE WHEN m < 64 THEN both_cnt
                            ELSE both_cnt * (CAST(63 AS BIGINT) * 2147483647 // u_k) // 64
                            END AS BIGINT) AS est_intersection
                FROM est
            )"""


def _cosine_bucket_ctes(n_planes: int, bands: int, src: str = "embeddings") -> str:
    """CTE chain embeddings→quantized dims→plane signs→banded bucket ids,
    mirroring similarity.lsh_cosine_buckets (_srp_projections): int64
    dots of floor(v·1e6) against ±1 planes — order-independent integer
    arithmetic, so the relational GROUP BY here equals the numpy GEMM."""
    n_total = n_planes * bands
    return f"""
        dims AS (
            SELECT vec_id, d,
                   CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS q
            FROM {src}, (SELECT unnest(generate_series(0,
                     (SELECT max(len(embedding)) FROM {src}) - 1)) AS d)
            WHERE d < len(embedding)
        ),
        planes AS (
            SELECT p, d, {_H.plane_sign_sql('p', 'd')} AS s
            FROM (SELECT unnest(generate_series(0, {n_total - 1})) AS p),
                 (SELECT unnest(generate_series(0,
                     (SELECT max(len(embedding)) FROM {src}) - 1)) AS d)
        ),
        proj AS (
            SELECT vec_id, p, SUM(q * s) AS dot
            FROM dims JOIN planes USING (d)
            GROUP BY vec_id, p
        ),
        buckets AS (
            SELECT vec_id, p // {n_planes} AS band,
                   SUM(CASE WHEN dot > 0
                       THEN (1::BIGINT << (p % {n_planes})) ELSE 0 END) AS bucket
            FROM proj GROUP BY vec_id, p // {n_planes}
        )"""

def _graph_cc_ctes(src: str = "embeddings", prelude: str = "") -> str:
    """Shared WITH chain for the mutual-kNN cluster oracles
    (emb_graph_clusters, emb_cluster_quality): SRP buckets -> candidate
    pairs -> integer-GEMM cosine -> top-5 fwd -> mutual edges ->
    recursive min-label connected components, ending at ``comp``.
    ``src`` names the vectors relation (a ``prelude`` CTE may define
    it — the twin-injection hook that keeps the cluster_quality gate
    row non-vacuous at every sf; VERDICT r07)."""
    return f"""
            WITH {prelude}{_cosine_bucket_ctes(8, 6, src)},
            norms AS (SELECT vec_id, SUM(q * q) AS nq FROM dims
                      GROUP BY vec_id),
            cand AS (
                SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                FROM buckets a JOIN buckets b USING (band, bucket)
                WHERE a.vec_id <> b.vec_id
            ),
            pdots AS (
                SELECT c.a_id, c.b_id, SUM(da.q * db.q) AS dab
                FROM cand c
                JOIN dims da ON da.vec_id = c.a_id
                JOIN dims db ON db.vec_id = c.b_id AND db.d = da.d
                GROUP BY c.a_id, c.b_id
            ),
            scored AS (
                SELECT p.a_id, p.b_id,
                       CAST(round(10000 * (CAST(dab AS DOUBLE)
                            / (sqrt(CAST(na.nq AS DOUBLE))
                               * sqrt(CAST(nb.nq AS DOUBLE)))), 0)
                           AS BIGINT) AS cos_u
                FROM pdots p
                JOIN norms na ON na.vec_id = p.a_id AND na.nq > 0
                JOIN norms nb ON nb.vec_id = p.b_id AND nb.nq > 0
            ),
            fwd AS (
                SELECT a_id, b_id FROM (
                    SELECT a_id, b_id, cos_u, row_number() OVER (
                        PARTITION BY a_id ORDER BY cos_u DESC, b_id ASC
                    ) AS rank FROM scored
                ) WHERE rank <= 5 AND cos_u >= 9000
            ),
            mutual AS (
                SELECT f.a_id AS doc_a, f.b_id AS doc_b
                FROM fwd f JOIN fwd r ON f.a_id = r.b_id AND f.b_id = r.a_id
                WHERE f.a_id < f.b_id
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM mutual
                UNION SELECT doc_b, doc_a FROM mutual
            ),
            rec AS (
                WITH RECURSIVE reach(src, dst) AS (
                    SELECT src, dst FROM edges
                    UNION
                    SELECT r.src, e.dst FROM reach r JOIN edges e
                    ON r.dst = e.src
                )
                SELECT src, dst FROM reach
            ),
            comp AS (
                SELECT src AS vec_id, least(src, min(dst)) AS component
                FROM rec GROUP BY src
            )"""



_COS_SIM_AB = """round(
    list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))),
    4)"""


def _simhash_oracle() -> str:
    """Full SimHash replay: Python-split tokenization (regex split, empties
    dropped), word-3-gram tokens (unigrams below 3 words), FNV-1a code-
    point token hashes, per-bit ±1 majority vote, two's-complement int64.
    """
    pows = ", ".join(f"{1 << b}::HUGEINT" for b in range(64))
    return f"""
        WITH ws0 AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
            FROM documents
        ),
        toks AS (
            SELECT doc_id,
                   CASE WHEN len(ws) >= 3
                        THEN list_transform(range(1, len(ws) - 1),
                             i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                        ELSE ws END AS tokens
            FROM ws0
        ),
        th AS (SELECT doc_id, unnest(tokens) AS tok FROM toks),
        dh AS (
            SELECT tok, {_H.fnv_sql_duckdb('tok')} AS h
            FROM (SELECT DISTINCT tok FROM th)
        ),
        thh AS (SELECT t.doc_id, d.h FROM th t JOIN dh d USING (tok)),
        pw AS (
            SELECT unnest(generate_series(0, 63)) AS b,
                   unnest([{pows}]) AS p2
        ),
        votes AS (
            SELECT doc_id, b,
                   SUM(CASE WHEN (h // p2) % 2 = 1 THEN 1 ELSE -1 END) AS vote
            FROM thh CROSS JOIN pw
            GROUP BY doc_id, b
        ),
        sims AS (
            SELECT v.doc_id, SUM(CASE WHEN v.vote > 0 THEN p.p2 ELSE 0::HUGEINT END) AS uv
            FROM votes v JOIN pw p USING (b)
            GROUP BY v.doc_id
        )
        SELECT d.doc_id,
               CAST(CASE WHEN COALESCE(uv, 0::HUGEINT) >= 9223372036854775808::HUGEINT
                         THEN COALESCE(uv, 0::HUGEINT) - 18446744073709551616::HUGEINT
                         ELSE COALESCE(uv, 0::HUGEINT) END AS BIGINT) AS simhash
        FROM documents d LEFT JOIN sims USING (doc_id)
        ORDER BY d.doc_id
    """


def _plog2_sql(x: str) -> str:
    """DuckDB mirror of text.plog2: bit-length minus one plus an exact
    power-of-two mantissa division (same recipe as doc_bigram_xent)."""
    b1 = f"(length(bin({x})) - 1)"
    half = f"power(2.0, CAST({b1} AS DOUBLE))"
    return f"({b1} + (CAST({x} AS DOUBLE) - {half}) / {half})"


def _simhash_pairs_oracle() -> str:
    """SimHash near-dup pairs: replay the signature chain (same CTEs as
    _simhash_oracle) over the twin-injected doc set, band on 16-bit
    chunks of the UNSIGNED value (HUGEINT // 2^(16b) % 65536 — mirrors
    Spark's masked-AND equality), verify with an exact per-bit popcount
    of the differing bits."""
    pows = ", ".join(f"{1 << b}::HUGEINT" for b in range(64))
    return f"""
        WITH src AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0
        ),
        ws0 AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
            FROM src
        ),
        toks AS (
            SELECT doc_id,
                   CASE WHEN len(ws) >= 3
                        THEN list_transform(range(1, len(ws) - 1),
                             i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                        ELSE ws END AS tokens
            FROM ws0
        ),
        th AS (SELECT doc_id, unnest(tokens) AS tok FROM toks),
        dh AS (
            SELECT tok, {_H.fnv_sql_duckdb('tok')} AS h
            FROM (SELECT DISTINCT tok FROM th)
        ),
        thh AS (SELECT t.doc_id, d.h FROM th t JOIN dh d USING (tok)),
        pw AS (
            SELECT unnest(generate_series(0, 63)) AS b,
                   unnest([{pows}]) AS p2
        ),
        votes AS (
            SELECT doc_id, b,
                   SUM(CASE WHEN (h // p2) % 2 = 1 THEN 1 ELSE -1 END) AS vote
            FROM thh CROSS JOIN pw
            GROUP BY doc_id, b
        ),
        sims AS (
            SELECT v.doc_id, SUM(CASE WHEN v.vote > 0 THEN p.p2 ELSE 0::HUGEINT END) AS uv
            FROM votes v JOIN pw p USING (b)
            GROUP BY v.doc_id
        ),
        sigs AS (
            SELECT s.doc_id, COALESCE(uv, 0::HUGEINT) AS uv
            FROM src s LEFT JOIN sims USING (doc_id)
        ),
        bands AS (
            SELECT doc_id, uv, bb,
                   (uv // dv) % 65536 AS bkey
            FROM sigs CROSS JOIN (
                SELECT unnest([0, 1, 2, 3]) AS bb,
                       unnest([1::HUGEINT, 65536::HUGEINT,
                               4294967296::HUGEINT,
                               281474976710656::HUGEINT]) AS dv)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.uv AS ua, b.uv AS ub
            FROM bands a JOIN bands b
              ON a.bb = b.bb AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        hh AS (
            SELECT id_a, id_b,
                   CAST(SUM(CASE WHEN (ua // p2) % 2 <> (ub // p2) % 2
                            THEN 1 ELSE 0 END) AS INTEGER) AS hamming
            FROM cand CROSS JOIN pw
            GROUP BY id_a, id_b
        )
        SELECT id_a, id_b, hamming FROM hh
        WHERE hamming <= 3
        ORDER BY id_a, id_b
    """


def _lsh_oracles() -> dict[str, str]:
    minhash = f"""
        WITH {_minhash_ctes()},
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bh = b.bh
                        AND a.doc_id < b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS DOUBLE)
                   / 64.0 AS est_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
        GROUP BY p.doc_a, p.doc_b
        ORDER BY p.doc_a, p.doc_b
    """
    incremental = f"""
        WITH {_minhash_ctes()},
        hits AS (
            SELECT n.doc_id,
                   count(DISTINCT n.band) AS n_hit_bands,
                   min(c.doc_id) AS matched_doc
            FROM (SELECT * FROM bands WHERE doc_id % 10 = 0) n
            JOIN (SELECT * FROM bands WHERE doc_id % 10 <> 0) c
              ON n.band = c.band AND n.bh = c.bh
            GROUP BY n.doc_id
        )
        SELECT d.doc_id,
               COALESCE(h.n_hit_bands, 0) AS n_hit_bands,
               h.matched_doc,
               COALESCE(h.n_hit_bands, 0) = 0 AS is_novel
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN hits h USING (doc_id)
        ORDER BY d.doc_id
    """
    novelty = f"""
        WITH {_minhash_ctes()},
        first_seen AS (
            SELECT band, bh, min(doc_id) AS keeper FROM bands GROUP BY band, bh
        )
        SELECT b.doc_id,
               count(*) AS n_novel_bands,
               count(*) = 32 AS is_novel
        FROM bands b
        JOIN first_seen f
          ON b.band = f.band AND b.bh = f.bh AND b.doc_id = f.keeper
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """
    cos_dups = f"""
        WITH {_cosine_bucket_ctes(8, 4)},
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a
            JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, {_COS_SIM_AB} AS cosine_sim
        FROM cand
        JOIN embeddings ea ON ea.vec_id = id_a
        JOIN embeddings eb ON eb.vec_id = id_b
        WHERE {_COS_SIM_AB} >= 0.4
        ORDER BY id_a, id_b
    """
    # the bucket/sim CTE helpers reference `embeddings` by name, so the
    # twin-augmented tables shadow the views under those exact names
    # (DuckDB forbids a CTE whose body references itself — read from the
    # base views via an alias CTE first)
    two_stage_tables = """
        base_emb AS (SELECT * FROM embeddings),
        base_doc AS (SELECT * FROM documents),
        emb2 AS (
            SELECT vec_id, embedding, label FROM base_emb
            UNION ALL
            SELECT vec_id + 100000 AS vec_id, embedding, label
            FROM base_emb WHERE vec_id % 25 = 0
        ),
        doc2 AS (
            SELECT doc_id, text FROM base_doc
            UNION ALL
            SELECT doc_id + 100000 AS doc_id,
                   substr(text, 1, 10) || '#' || substr(text, 12) AS text
            FROM base_doc WHERE doc_id % 25 = 0
        )"""
    two_stage = f"""
        WITH {two_stage_tables},
        {_cosine_bucket_ctes(8, 4).replace("FROM embeddings", "FROM emb2")
            .replace("JOIN embeddings", "JOIN emb2")},
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a
            JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id
        ),
        cos AS (
            SELECT id_a, id_b, {_COS_SIM_AB} AS cosine_sim
            FROM cand
            JOIN emb2 ea ON ea.vec_id = id_a
            JOIN emb2 eb ON eb.vec_id = id_b
            WHERE {_COS_SIM_AB} >= 0.4
        ),
        sh AS (
            SELECT doc_id, list_distinct(list_transform(
                       range(0, len(ws) - 2),
                       i -> array_to_string(ws[i + 1 : i + 3], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM doc2)
            WHERE len(ws) >= 3
        )
        SELECT id_a, id_b, cosine_sim,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
                   AS jaccard
        FROM cos
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
              >= 0.1
        ORDER BY id_a, id_b
    """
    mp_topk = f"""
        WITH {_cosine_bucket_ctes(4, 20)},
        flips AS (
            SELECT vec_id, p // 4 AS band, CAST(p % 4 AS INT) AS bit
            FROM (
                SELECT vec_id, p, row_number() OVER (
                    PARTITION BY vec_id, p // 4 ORDER BY abs(dot), p) AS rn
                FROM proj WHERE vec_id IN (0, 1, 2, 3, 4)
            ) WHERE rn = 1
        ),
        qprobes AS (
            SELECT vec_id AS query_id, band, bucket
            FROM buckets WHERE vec_id IN (0, 1, 2, 3, 4)
            UNION
            SELECT b.vec_id AS query_id, b.band,
                   xor(b.bucket, 1::BIGINT << f.bit) AS bucket
            FROM buckets b
            JOIN flips f ON f.vec_id = b.vec_id AND f.band = b.band
            WHERE b.vec_id IN (0, 1, 2, 3, 4)
        ),
        cand AS (
            SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
            FROM qprobes q
            JOIN buckets c ON q.band = c.band AND q.bucket = c.bucket
                          AND c.vec_id <> q.query_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round(
                       list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                                CAST(ea.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),
                                                  CAST(eb.embedding AS DOUBLE[])))),
                       4) AS cosine_sim
            FROM cand
            JOIN embeddings ea ON ea.vec_id = cand.query_id
            JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine_sim
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5 ORDER BY query_id, rank
    """
    lsh_topk = f"""
        WITH {_cosine_bucket_ctes(4, 20)},
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM (SELECT * FROM buckets WHERE vec_id IN (0, 1, 2, 3, 4)) q
            JOIN buckets c ON q.band = c.band AND q.bucket = c.bucket
                          AND c.vec_id <> q.vec_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round(
                       list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))),
                       4) AS cosine_sim
            FROM cand
            JOIN embeddings ea ON ea.vec_id = cand.query_id
            JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine_sim
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5 ORDER BY query_id, rank
    """
    recall_eval = f"""
        WITH {_cosine_bucket_ctes(4, 20)},
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(
                               list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(q.embedding AS DOUBLE[]))
                               / (sqrt(list_dot_product(
                                      CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                                  * sqrt(list_dot_product(
                                      CAST(q.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])))),
                               4) DESC, e.vec_id ASC) AS rnk
                FROM embeddings e
                CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
                WHERE e.vec_id <> q.vec_id
            ) WHERE rnk <= 5
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM (SELECT * FROM buckets WHERE vec_id IN (0, 1, 2, 3, 4)) q
            JOIN buckets c ON q.band = c.band AND q.bucket = c.bucket
                          AND c.vec_id <> q.vec_id
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT cand.query_id, cand.neighbor_id,
                       row_number() OVER (
                           PARTITION BY cand.query_id
                           ORDER BY round(
                               list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                                CAST(eb.embedding AS DOUBLE[]))
                               / (sqrt(list_dot_product(
                                      CAST(ea.embedding AS DOUBLE[]),
                                      CAST(ea.embedding AS DOUBLE[])))
                                  * sqrt(list_dot_product(
                                      CAST(eb.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])))),
                               4) DESC, cand.neighbor_id ASC) AS rnk
                FROM cand
                JOIN embeddings ea ON ea.vec_id = cand.query_id
                JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
            ) WHERE rnk <= 5
        )
        SELECT e.query_id,
               COUNT(*) AS n_exact,
               count(a.neighbor_id) AS n_hits,
               CAST(count(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
        FROM exact e
        LEFT JOIN approx a ON a.query_id = e.query_id
                          AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id ORDER BY e.query_id
    """
    # band-shape decision table: same signature chain, then one variable-
    # shape Horner fold per (bands, band) — list_reduce over the j-ordered
    # per-band signature slice replays dedup._band_fold exactly (acc·K + h
    # mod p, K=BAND_K, p=2^31-1; every intermediate < 2^51, plain BIGINT)
    band_balance = f"""
        WITH {_minhash_ctes()},
        shapes AS (SELECT unnest([32, 16, 8]) AS bands),
        bnd AS (
            SELECT sh.bands, sig.doc_id,
                   CAST(sig.j // (64 // sh.bands) AS INTEGER) AS band,
                   list_reduce(
                       list(sig.h ORDER BY sig.j),
                       (acc, x) -> (acc * {_H.BAND_K} + x) % {_H.MINHASH_PRIME}
                   ) AS bh
            FROM sig CROSS JOIN shapes sh
            GROUP BY sh.bands, sig.doc_id, band
        ),
        occ AS (
            SELECT bands, band, bh, CAST(count(*) AS BIGINT) AS c
            FROM bnd GROUP BY bands, band, bh
        )
        SELECT CAST(bands AS INTEGER) AS bands, band,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(c) AS BIGINT) AS max_bucket_rows,
               CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
               CAST((max(c) * 1000000 // sum(c)) * count(*)
                    + ((max(c) * 1000000 % sum(c)) * count(*)) // sum(c)
                    AS BIGINT)
                   AS imbalance_ppm
        FROM occ GROUP BY bands, band ORDER BY bands, band
    """

    band_recall = f"""
        WITH {_minhash_ctes()},
        shapes AS (SELECT unnest([32, 16, 8]) AS bands),
        bnd AS (
            SELECT sp.bands, sig.doc_id,
                   CAST(sig.j // (64 // sp.bands) AS INTEGER) AS band,
                   list_reduce(
                       list(sig.h ORDER BY sig.j),
                       (acc, x) -> (acc * {_H.BAND_K} + x) % {_H.MINHASH_PRIME}
                   ) AS bh
            FROM sig CROSS JOIN shapes sp
            GROUP BY sp.bands, sig.doc_id, band
        ),
        cand AS (
            SELECT DISTINCT a.bands, a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bnd a JOIN bnd b
              ON a.bands = b.bands AND a.band = b.band AND a.bh = b.bh
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT doc_a, doc_b,
                   i * 1000000 // (sa.n_sh + sb.n_sh - i) AS j_ppm
            FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                       JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * 1000000 // (sa.n_sh + sb.n_sh - i) >= 400000
        ),
        marked AS (
            SELECT s2.bands, t.j_ppm // 100000 AS j_bucket,
                   CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM truth t CROSS JOIN shapes s2
            LEFT JOIN cand c
              ON c.bands = s2.bands AND c.doc_a = t.doc_a
             AND c.doc_b = t.doc_b
        )
        SELECT CAST(bands AS INTEGER) AS bands,
               CAST(j_bucket AS INTEGER) AS j_bucket,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(hit) AS BIGINT) AS n_captured,
               CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS recall_ppm
        FROM marked GROUP BY bands, j_bucket ORDER BY bands, j_bucket
    """
    return {
        "dedup_minhash_lsh": minhash,
        "dedup_band_balance": band_balance,
        "dedup_band_recall": band_recall,
        "dedup_incremental_lsh": incremental,
        # same semantics — the Spark side routes the index through its
        # persisted parquet form, which must be invisible to results
        "dedup_incremental_persisted": incremental,
        "dedup_lsh_novelty": novelty,
        "dedup_simhash": _simhash_oracle(),
        "dedup_simhash_pairs": _simhash_pairs_oracle(),
        "dedup_embedding_cosine_lsh": cos_dups,
        "dedup_two_stage": two_stage,
        "emb_lsh_topk": lsh_topk,
        "emb_lsh_multiprobe": mp_topk,
        "emb_ann_recall_eval": recall_eval,
        # LSH-vs-exact-Jaccard precision/recall: band candidates from the
        # minhash CTEs, ground truth from the exact inverted-index pair
        # SQL, integer ppm ratios
        "dedup_lsh_eval": f"""
        WITH {_minhash_ctes()},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bh = b.bh
                        AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                              AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.2
        ),
        j AS (
            SELECT COALESCE(c.c, 0) AS c, COALESCE(t.t, 0) AS t
            FROM (SELECT doc_a, doc_b, 1 AS c FROM cand) c
            FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS t FROM truth) t
            USING (doc_a, doc_b)
        )
        SELECT CAST(SUM(c) AS BIGINT) AS n_candidates,
               CAST(SUM(t) AS BIGINT) AS n_truth,
               CAST(SUM(c * t) AS BIGINT) AS n_hits,
               CAST(SUM(c * t) * 1000000
                    // greatest(SUM(c), 1) AS BIGINT) AS precision_ppm,
               CAST(SUM(c * t) * 1000000
                    // greatest(SUM(t), 1) AS BIGINT) AS recall_ppm
        FROM j
    """,
    }


def _invariant_oracles() -> dict[str, str]:
    """Oracles for the invariant-summary gates (non-SQL ops): expected
    values derived from the parquet where data-dependent (row counts,
    token totals, dimensionality), literal TRUE for the properties the
    Spark wrapper asserts — a wrapper regression flips a boolean and the
    driver's hash-compare goes red."""
    return {
        "emb_ivf_topk": """
            SELECT 5::BIGINT AS n_queries, 25::BIGINT AS n_results,
                   TRUE AS sims_sorted, TRUE AS within_exact_top1,
                   TRUE AS recall_ok
        """,
        "emb_pq_topk": """
            SELECT 5::BIGINT AS n_queries, 50::BIGINT AS n_results,
                   TRUE AS dists_sorted, TRUE AS recall_ok
        """,
        "emb_ivf_pq_topk": """
            SELECT 5::BIGINT AS n_queries, 50::BIGINT AS n_results,
                   TRUE AS full_probe_matches_pq
        """,
        "emb_pca_project": """
            SELECT count(*)::BIGINT AS n_rows, 8::BIGINT AS n_components,
                   TRUE AS pcs_decorrelated, TRUE AS variances_match_spectrum
            FROM embeddings
        """,
        "emb_pca_spectrum": """
            SELECT max(len(embedding))::BIGINT AS n_components,
                   TRUE AS eigs_nonincreasing, TRUE AS eigs_nonnegative,
                   TRUE AS ratios_sum_to_one, TRUE AS cumulative_monotone
            FROM embeddings
        """,
        "cur_pack_greedy": """
            SELECT count(*)::BIGINT AS n_docs,
                   count(DISTINCT doc_id)::BIGINT AS n_distinct_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS total_tokens,
                   TRUE AS all_bins_feasible
            FROM documents
        """,
        "emb_stored_ivf_pq": """
            SELECT count(*)::BIGINT AS n_index_rows,
                   0::BIGINT AS n_dup_code_rows,
                   50::BIGINT AS n_probe_results,
                   TRUE AS full_probe_matches_memory
            FROM embeddings
        """,
        "emb_ivf_pq_append": """
            SELECT count(*)::BIGINT AS n_total,
                   (SELECT count(*) FROM embeddings
                    WHERE vec_id % 10 = 0)::BIGINT AS n_appended,
                   TRUE AS append_matches_one_shot
            FROM embeddings
        """,
        "emb_pq_novelty": """
            SELECT count(*)::BIGINT AS n_new,
                   count(*)::BIGINT AS n_unique_ids,
                   TRUE AS n_novel_bounded,
                   TRUE AS verdicts_match_recompute
            FROM embeddings WHERE vec_id % 10 = 0
        """,
        "dedup_semantic": """
            SELECT (count(*) + (SELECT count(*) FROM embeddings
                                WHERE vec_id % 53 = 0))::BIGINT AS n_rows,
                   (SELECT count(*) FROM embeddings
                    WHERE vec_id % 53 = 0)::BIGINT AS n_twins,
                   TRUE AS conserved, TRUE AS twins_all_dropped,
                   TRUE AS dropped_have_evidence,
                   TRUE AS cluster_minima_kept
            FROM embeddings
        """,
    }


def _holt_winters_oracle(
    m: int = 24,
    a: int = 300_000,
    b: int = 100_000,
    g: int = 200_000,
    tail: str | None = None,
) -> str:
    """Recursive-CTE replay of events_ops.holt_winters_backtest: the
    season vector rides along as an m-element list rebuilt per step
    (list_transform + CASE — DuckDB has no list_set); the l_new
    expression is inlined into the trend/season updates because a
    recursive term cannot reference its own aliases. DuckDB // truncates
    toward zero exactly like Spark's div (probed), so every smoothing
    step is bit-identical. ``tail`` (SQL appended after the CTE chain)
    lets composed oracles (ts_forecast_eval) reuse the identical
    recurrence replay; default tail emits the per-hour backtest rows."""
    ia, ib, ig = 1_000_000 - a, 1_000_000 - b, 1_000_000 - g
    if tail is None:
        tail = f"""
        SELECT r.event_type, y.hour, r.y_t AS v_u, r.f_u,
               r.y_t - r.f_u AS err_u, r.lvl AS level_u, r.trd AS trend_u
        FROM rec r JOIN y
          ON y.event_type = r.event_type AND y.idx = r.t
        WHERE r.t >= {m}
        ORDER BY r.event_type, y.hour
        """
    l_new = f"(({a} * y.v_u + {ia} * (r.lvl + r.trd)) // 1000000)"
    s_old = f"r.seas[CAST((r.t + 1) % {m} AS INT) + 1]"
    return f"""
        WITH RECURSIVE hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000)
                       AS BIGINT)) AS BIGINT) AS v_u
            FROM events GROUP BY event_type, hour
        ),
        grid AS (
            SELECT et.event_type, gh.hour
            FROM (SELECT DISTINCT event_type FROM hourly) et,
                 (SELECT unnest(generate_series(
                      (SELECT min(hour) FROM hourly),
                      (SELECT max(hour) FROM hourly),
                      INTERVAL 1 HOUR)) AS hour) gh
        ),
        y AS (
            SELECT g2.event_type, g2.hour,
                   row_number() OVER (
                       PARTITION BY g2.event_type ORDER BY g2.hour
                   ) - 1 AS idx,
                   coalesce(h.v_u, CAST(0 AS BIGINT)) AS v_u
            FROM grid g2 LEFT JOIN hourly h
              ON h.event_type = g2.event_type AND h.hour = g2.hour
        ),
        init AS (
            SELECT event_type,
                   CAST(CAST(sum(v_u) AS BIGINT) // {m} AS BIGINT) AS l0,
                   list(v_u ORDER BY idx) AS y0
            FROM y WHERE idx < {m} GROUP BY event_type
        ),
        rec AS (
            SELECT event_type, CAST({m} - 1 AS BIGINT) AS t,
                   l0 AS lvl, CAST(0 AS BIGINT) AS trd,
                   list_transform(y0, v -> v - l0) AS seas,
                   CAST(NULL AS BIGINT) AS y_t,
                   CAST(NULL AS BIGINT) AS f_u
            FROM init
            UNION ALL
            SELECT r.event_type, r.t + 1,
                   {l_new} AS lvl,
                   ({b} * ({l_new} - r.lvl) + {ib} * r.trd) // 1000000 AS trd,
                   list_transform(range({m}), i -> CASE
                       WHEN i = (r.t + 1) % {m}
                       THEN ({g} * (y.v_u - {l_new}) + {ig} * {s_old}) // 1000000
                       ELSE r.seas[i + 1] END) AS seas,
                   y.v_u AS y_t,
                   r.lvl + r.trd + {s_old} AS f_u
            FROM rec r JOIN y
              ON y.event_type = r.event_type AND y.idx = r.t + 1
        )
        {tail}
    """


def _forecast_eval_oracle(m: int = 24, hh: int = 48) -> str:
    """Composed replay for ts_forecast_eval: the Holt-Winters recursive
    chain (reused verbatim via _holt_winters_oracle(tail=...) — the
    `hourly` CTE it defines is byte-identical to the snaive oracle's,
    so the snaive side rides the same rollup), each backtest scored
    over the trailing ``hh`` hours, full-outer joined per event_type
    with the mae_winner CASE mirroring events_ops.forecast_eval."""
    tail = f"""
        , hwb AS (
            SELECT r.event_type, y.hour, r.y_t - r.f_u AS err_u
            FROM rec r JOIN y
              ON y.event_type = r.event_type AND y.idx = r.t
            WHERE r.t >= {m}
        ),
        hcut AS (SELECT max(hour) - INTERVAL {hh} HOUR AS c FROM hwb),
        hw_scored AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS hw_n,
                   CAST(sum(abs(err_u)) // count(*) AS BIGINT) AS hw_mae_u,
                   CAST(sum(err_u) // count(*) AS BIGINT) AS hw_bias_u,
                   CAST(max(abs(err_u)) AS BIGINT) AS hw_max_err_u
            FROM hwb, hcut WHERE hwb.hour > hcut.c GROUP BY event_type
        ),
        pred AS (
            SELECT event_type, hour + INTERVAL {m} HOUR AS hour,
                   v_u AS pred_u
            FROM hourly
        ),
        scut AS (SELECT max(hour) - INTERVAL {hh} HOUR AS c FROM hourly),
        snsc AS (
            SELECT h.event_type, h.v_u, p.pred_u
            FROM hourly h JOIN pred p USING (event_type, hour), scut
            WHERE h.hour > scut.c AND p.pred_u IS NOT NULL
        ),
        sn AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS sn_n,
                   CAST(sum(abs(v_u - pred_u)) // count(*) AS BIGINT)
                       AS sn_mae_u,
                   CAST(sum(v_u - pred_u) // count(*) AS BIGINT)
                       AS sn_bias_u,
                   CAST(max(abs(v_u - pred_u)) AS BIGINT) AS sn_max_err_u
            FROM snsc GROUP BY event_type
        )
        SELECT event_type, sn_n, sn_mae_u, sn_bias_u, sn_max_err_u,
               hw_n, hw_mae_u, hw_bias_u, hw_max_err_u,
               CASE WHEN hw_mae_u IS NULL THEN 'snaive'
                    WHEN sn_mae_u IS NULL THEN 'holt_winters'
                    WHEN hw_mae_u < sn_mae_u THEN 'holt_winters'
                    WHEN sn_mae_u < hw_mae_u THEN 'snaive'
                    ELSE 'tie' END AS mae_winner
        FROM sn FULL JOIN hw_scored USING (event_type)
        ORDER BY event_type
    """
    return _holt_winters_oracle(m=m, tail=tail)


def oracle_sql() -> dict[str, str]:
    return {
        **_lsh_oracles(),
        **_invariant_oracles(),
        "ts_dedup_latest": """
            SELECT user_id, event_type, ts AS last_ts, value AS last_value
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "ts_time_travel": """
            SELECT event_type, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM (
                SELECT *, ts + (event_id % 7) * INTERVAL 1 MINUTE AS created_time
                FROM events
            )
            WHERE created_time <= ts + INTERVAL 3 MINUTE
            GROUP BY event_type ORDER BY event_type
        """,
        "ts_resample_locf": """
            WITH b AS (SELECT date_trunc('hour', min(ts)) AS t0, max(ts) AS t1 FROM events),
            grid AS (SELECT unnest(generate_series(
                (SELECT t0 FROM b), (SELECT t1 FROM b), INTERVAL 1 HOUR)) AS time),
            users AS (SELECT DISTINCT user_id FROM events),
            ug AS (SELECT u.user_id, g.time FROM users u CROSS JOIN grid g),
            dedup AS (SELECT user_id, ts, value FROM events
                      QUALIFY row_number() OVER (
                          PARTITION BY user_id, ts ORDER BY event_id DESC) = 1),
            known AS (SELECT * FROM dedup WHERE value IS NOT NULL)
            SELECT ug.user_id, ug.time, d.value
            FROM ug ASOF LEFT JOIN known d
              ON d.user_id = ug.user_id AND d.ts <= ug.time
        """,
        "ts_align_ffill": """
            WITH ranked AS (
                SELECT event_type, date_trunc('hour', ts) AS time, value,
                       row_number() OVER (
                           PARTITION BY event_type, date_trunc('hour', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_type IN ('click', 'purchase')
            ),
            hourly AS (
                SELECT event_type, time, value AS v FROM ranked WHERE rn = 1
            ),
            axis AS (SELECT DISTINCT time FROM hourly),
            c AS (SELECT time, v FROM hourly WHERE event_type = 'click'),
            p AS (SELECT time, v FROM hourly WHERE event_type = 'purchase'),
            j AS (SELECT a.time, c.v AS cv, p.v AS pv
                  FROM axis a LEFT JOIN c ON c.time = a.time
                  LEFT JOIN p ON p.time = a.time)
            SELECT time,
                last_value(cv IGNORE NULLS) OVER (ORDER BY time
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_value,
                last_value(pv IGNORE NULLS) OVER (ORDER BY time
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_value
            FROM j
        """,
        "ts_seed_lookup": """
            SELECT user_id, ts AS seed_ts, value AS seed_value
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "ts_last_per_key": """
            SELECT user_id, ts AS last_ts, value AS last_value
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "ts_time_bounds": """
            SELECT event_type, min(ts) AS min_ts, max(ts) AS max_ts,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "ts_topk_per_key": """
            SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id, value
            FROM (
                SELECT event_type, event_id, value, row_number() OVER (
                    PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rank
                FROM events
            ) WHERE rank <= 3 ORDER BY event_type, rank
        """,
        "ts_range_scan": """
            SELECT event_id, ts, user_id, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-20 00:00:00'
              AND value > 50.0
        """,
        "ts_partition_derive": """
            SELECT strftime(ts, '%Y-%m-%d') AS partition, count(*) AS n
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "ts_json_extract": """
            SELECT event_type,
                   CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                   count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "ts_asof_join": """
            WITH p AS (
                SELECT user_id, ts AS time, event_id, value FROM events
                WHERE event_type = 'purchase'
            ),
            c0 AS (
                SELECT user_id, ts AS time, value AS click_value,
                       row_number() OVER (PARTITION BY user_id, ts
                           ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'click'
            ),
            c AS (SELECT user_id, time, click_value FROM c0 WHERE rn = 1)
            SELECT p.user_id, p.time, p.event_id, p.value,
                   c.click_value AS click_value_right
            FROM p ASOF LEFT JOIN c
              ON c.user_id = p.user_id AND c.time <= p.time
        """,
        "ts_quantiles": """
            SELECT event_type,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.95) AS p95,
                   quantile_cont(value, 0.99) AS p99
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "ts_funnel": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ),
            converted AS (
                SELECT DISTINCT c.event_id FROM clicks c
                JOIN events p
                  ON p.event_type = 'purchase' AND p.user_id = c.user_id
                 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            )
            SELECT date_trunc('day', ts) AS day, count(*) AS n_clicks,
                   CAST(SUM(CASE WHEN event_id IN (SELECT event_id FROM converted)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                   CAST(SUM(CASE WHEN event_id IN (SELECT event_id FROM converted)
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS cvr
            FROM clicks GROUP BY day ORDER BY day
        """,
        "ts_salted_rollup": """
            SELECT event_type, count(event_id) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
                   max(value) AS max_value, min(ts) AS min_ts
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "ts_interval_join": """
            SELECT c.user_id, c.ts AS click_ts, c.value AS click_value,
                   p.ts AS purchase_ts, p.event_id AS p_event_id,
                   p.value AS purchase_value
            FROM events c JOIN events p
              ON c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        """,
        "ts_zscore_outliers": """
            WITH m AS (
                SELECT user_id AS m_uid, count(*) AS n,
                       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
                       CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS s2
                FROM events GROUP BY user_id
            )
            SELECT user_id, event_id, ts, value,
                   (value - s1 / n) / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS zscore
            FROM events JOIN m ON user_id = m_uid
            WHERE n > 1
              AND sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) > 0.0
              AND abs((value - s1 / n) / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))) > 3.0
            ORDER BY user_id, event_id
        """,
        "ts_sessionize": """
            WITH o AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events
            ),
            m AS (
                SELECT user_id, ts,
                       -- epoch diff (not date_diff) so fractional-second
                       -- gaps compare exactly like Spark's double cast
                       CASE WHEN prev IS NULL
                                 OR epoch(ts) - epoch(prev) > 7200.0
                            THEN 1 ELSE 0 END AS brk
                FROM o
            ),
            s AS (
                SELECT user_id, ts,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM m
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "ts_histogram": """
            -- DuckDB has no width_bucket; this is Spark's exact arithmetic
            -- shape: floor((v - lo) / ((hi - lo) / n)) + 1, clamped
            SELECT event_type,
                   CAST(CASE WHEN value < 0.0 THEN 0
                             WHEN value >= 100.0 THEN 11
                             ELSE CAST(floor((value - 0.0) / ((100.0 - 0.0) / 10)) AS INTEGER) + 1
                        END AS INTEGER) AS bucket,
                   count(*) AS n
            FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket
        """,
        # cumulative walk over the same clamped-bucket arithmetic;
        # integer ceil threshold, identical double bounds expression
        "ts_histogram_quantile": """
            WITH h AS (
                SELECT event_type,
                       CAST(CASE WHEN value < 0.0 THEN 0
                                 WHEN value >= 100.0 THEN 11
                                 ELSE CAST(floor((value - 0.0)
                                     / ((100.0 - 0.0) / 10)) AS INTEGER) + 1
                            END AS INTEGER) AS bucket,
                       CAST(count(*) AS BIGINT) AS n
                FROM events WHERE value IS NOT NULL
                GROUP BY event_type, bucket
            ),
            c AS (
                SELECT event_type, bucket,
                       sum(n) OVER (PARTITION BY event_type
                                    ORDER BY bucket) AS cum,
                       sum(n) OVER (PARTITION BY event_type) AS total
                FROM h
            ),
            p AS (
                SELECT event_type, q.q_ppm,
                       CAST(min(bucket) AS INTEGER) AS bucket
                FROM c, (SELECT unnest([500000, 950000, 990000])
                         AS q_ppm) q
                WHERE cum >= (q.q_ppm * total + 999999) // 1000000
                GROUP BY event_type, q.q_ppm
            )
            SELECT event_type, CAST(q_ppm AS BIGINT) AS q_ppm, bucket,
                   CASE WHEN bucket BETWEEN 1 AND 10
                        THEN 0.0 + (bucket - 1) * ((100.0 - 0.0) / 10)
                   END AS lo_v,
                   CASE WHEN bucket BETWEEN 1 AND 10
                        THEN 0.0 + bucket * ((100.0 - 0.0) / 10)
                   END AS hi_v
            FROM p ORDER BY event_type, q_ppm
        """,
        "ts_rollup": """
            SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY ROLLUP (event_type, date_trunc('day', ts))
            ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST
        """,
        "ts_moving_avg": """
            SELECT user_id, ts, event_id, value,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                   / CAST(COUNT(*) OVER w AS DOUBLE) AS mavg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, ts, event_id
        """,
        # --- analytical ---
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price,
                CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
                count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM region, nation, customer, supplier, orders, lineitem
            WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name ORDER BY revenue DESC, n_name ASC
        """,
        "tpch_q6": """
            SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                   count(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= 0.02 AND l_discount <= 0.06
              AND l_quantity < 24.0
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
              )
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "tpch_q10": """
            SELECT c.c_custkey, c.c_name, c.c_mktsegment,
                   CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """,
        "tpch_q12": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "tpch_q14": """
            SELECT 100.0
                   * CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                         ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
                   AS promo_revenue_pct,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
        """,
        "tpch_q7": """
            SELECT supp_nation, cust_nation, l_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                       year(l.l_shipdate) AS l_year,
                       l.l_extendedprice, l.l_discount
                FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
                WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            )
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "tpch_q8": """
            SELECT year(o.o_orderdate) AS o_year,
                   CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                       THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                       ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
                   / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
                   AS mkt_share
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
            JOIN region r ON n1.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
            WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY o_year ORDER BY o_year
        """,
        "tpch_q18": """
            SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
                   o.o_totalprice, t.total_qty
            FROM (
                SELECT l_orderkey,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 150.0
            ) t
            JOIN orders o ON t.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY t.total_qty DESC, o.o_orderkey ASC LIMIT 20
        """,
        "tpch_q2": """
            WITH offers AS (
                SELECT l_partkey, l_suppkey,
                       min(l_extendedprice / l_quantity) AS offer_price
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_size = 15
                GROUP BY l_partkey, l_suppkey
            )
            SELECT s_acctbal, s_name, p_name, l_partkey, offer_price
            FROM offers
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE offer_price = (
                SELECT min(o2.offer_price) FROM offers o2
                WHERE o2.l_partkey = offers.l_partkey
            )
            ORDER BY s_acctbal DESC, l_partkey, s_name
            LIMIT 100
        """,
        "tpch_q9": """
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                        - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%gear%'
            GROUP BY n_name, year(o_orderdate)
            ORDER BY nation, o_year DESC
        """,
        "tpch_q11": """
            WITH value AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                       AS part_value
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_1'
                GROUP BY l_partkey
            )
            SELECT l_partkey, part_value FROM value
            WHERE part_value > (
                SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,4))) AS DOUBLE) * 0.001
                FROM value
            )
            ORDER BY part_value DESC, l_partkey
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist
            FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN orders
                  ON c_custkey = o_custkey
                 AND o_orderpriority <> '4-NOT SPECIFIED'
                GROUP BY c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "tpch_q15": """
            WITH revenue AS (
                SELECT l_suppkey AS supplier_no,
                       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, s_acctbal, total_revenue
            FROM revenue JOIN supplier ON supplier_no = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
            ORDER BY s_suppkey
        """,
        "tpch_q17": """
            WITH l AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#13'
            ),
            cut AS (
                SELECT l_partkey AS a_partkey,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                           / count(*) * 0.2 AS qty_cut
                FROM l GROUP BY l_partkey
            )
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
                   AS avg_yearly,
                   count(*) AS n_lines
            FROM l JOIN cut ON l_partkey = a_partkey
            WHERE l_quantity < qty_cut
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
              )
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "tpch_q20": """
            SELECT s_name, s_acctbal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
              AND s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE 'small%'
                  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                GROUP BY l_suppkey, l_partkey
                HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 40.0
              )
            ORDER BY s_name
        """,
        "tpch_q19": """
            SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                   count(*) AS n
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 50
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q21": """
            WITH per_supp AS (
                SELECT l_orderkey, l_suppkey,
                       max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                           THEN 1 ELSE 0 END) AS supp_late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
                GROUP BY l_orderkey, l_suppkey
            ),
            per_order AS (
                SELECT l_orderkey AS g_orderkey, count(*) AS n_supp,
                       sum(supp_late) AS n_late_supp
                FROM per_supp GROUP BY l_orderkey
            )
            SELECT s_name, count(*) AS numwait
            FROM per_supp
            JOIN per_order ON l_orderkey = g_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE supp_late = 1 AND n_supp > 1 AND n_late_supp = 1
              AND n_name = 'NATION_2'
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 100
        """,
        "tpch_q22": """
            SELECT c_custkey % 7 AS cntrycode, count(*) AS numcust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                   AS totacctbal
            FROM customer c
            WHERE c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*)
                FROM customer WHERE c_acctbal > 0.0
            )
            AND NOT EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
            )
            GROUP BY cntrycode
            ORDER BY cntrycode
        """,
        "join_anti_inactive_customers": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
            ) ORDER BY c_custkey
        """,
        "join_semi_big_spenders": """
            SELECT c_custkey, c_name, c_acctbal FROM customer c
            WHERE EXISTS (
                SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 400000.0
            ) ORDER BY c_custkey
        """,
        # --- text analysis ---
        "doc_text_stats": """
            SELECT doc_id,
                CAST(length(text) AS INTEGER) AS n_chars,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS INTEGER) AS n_stopwords,
                CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                    / len(string_split(text, ' ')) AS avg_word_len,
                CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
                    / len(string_split(text, ' ')) AS stopword_ratio,
                0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                    + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                        w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
                        / len(string_split(text, ' '))) AS quality_score
            FROM documents ORDER BY doc_id
        """,
        "doc_token_counts": """
            SELECT source,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
                CAST(SUM(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS regex_tokens,
                count(*) AS n_docs
            FROM documents GROUP BY source ORDER BY source
        """,
        "doc_lang_id": """
            SELECT doc_id, lang,
                CASE
                    WHEN regexp_matches(text, '(^| )(der|die|das|und|nicht)( |$)') THEN 'de'
                    WHEN regexp_matches(text, '(^| )(el|los|las|una|por)( |$)') THEN 'es'
                    WHEN regexp_matches(text, '(^| )(le|les|des|une|est)( |$)') THEN 'fr'
                    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN regexp_matches(text, '(^| )(the|a|and|of|to)( |$)') THEN 'en'
                    ELSE 'unknown'
                END AS lang_guess,
                CAST(lang = CASE
                    WHEN regexp_matches(text, '(^| )(der|die|das|und|nicht)( |$)') THEN 'de'
                    WHEN regexp_matches(text, '(^| )(el|los|las|una|por)( |$)') THEN 'es'
                    WHEN regexp_matches(text, '(^| )(le|les|des|une|est)( |$)') THEN 'fr'
                    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN regexp_matches(text, '(^| )(the|a|and|of|to)( |$)') THEN 'en'
                    ELSE 'unknown'
                END AS INTEGER) AS is_match
            FROM documents ORDER BY doc_id
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "doc_clean_text": """
            SELECT doc_id,
                trim(regexp_replace(
                    regexp_replace(
                        regexp_replace(lower(text), 'https?://\\S+', ' ', 'g'),
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', ' ', 'g'),
                    '\\s+', ' ', 'g')) AS clean_text,
                CAST(len(regexp_extract_all(text, 'https?://\\S+')) AS INTEGER) AS n_urls,
                CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails
            FROM documents ORDER BY doc_id
        """,
        "doc_repetition": """
            WITH g AS (
                SELECT doc_id,
                    list_transform(
                        range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                        i -> list_extract(string_split(text, ' '), i) || ' '
                          || list_extract(string_split(text, ' '), i + 1) || ' '
                          || list_extract(string_split(text, ' '), i + 2)
                    ) AS grams
                FROM documents
            )
            SELECT doc_id,
                CAST(len(grams) AS INTEGER) AS n_ngrams,
                CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
                CASE WHEN len(grams) > 0
                     THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
                     ELSE 0.0 END AS dup_ngram_ratio
            FROM g ORDER BY doc_id
        """,
        "doc_curation_pipeline": """
            WITH dedup AS (
                SELECT *, row_number() OVER (
                    PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                    ORDER BY doc_id) AS rn
                FROM documents
            ),
            kept AS (
                SELECT lang, text,
                    0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
                    + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                          w -> list_contains(['the','a','and','of','to'], w))) AS DOUBLE)
                          / len(string_split(text, ' '))) AS q
                FROM dedup WHERE rn = 1
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM kept WHERE q >= 0.5
            GROUP BY lang ORDER BY lang
        """,
        # --- curation: splits / mixing / packing ---
        "cur_split_summary": """
            SELECT CASE WHEN doc_id % 100 < 10 THEN 'test'
                        WHEN doc_id % 100 < 20 THEN 'val'
                        ELSE 'train' END AS split,
                   lang, count(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "cur_mix_sources": """
            SELECT doc_id, source, lang FROM (
                SELECT doc_id, source, lang,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents
            )
            WHERE rn <= CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 5
                                    WHEN 'src2' THEN 10000 ELSE 0 END
            ORDER BY doc_id
        """,
        "cur_pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS cum_before
                FROM t
            )
            SELECT doc_id, n_tokens,
                   CAST(floor(cum_before / 2048) AS BIGINT) AS start_bin,
                   CAST(floor((cum_before + n_tokens - 1) / 2048) AS BIGINT) AS end_bin,
                   CAST(floor((cum_before + n_tokens - 1) / 2048)
                        - floor(cum_before / 2048) + 1 AS INTEGER) AS n_bins
            FROM c ORDER BY doc_id
        """,
        # --- dedup ---
        "dedup_clusters": """
            WITH sh0 AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE len(string_split(text, ' ')) >= 3
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                    list_extract(w, i) || ' ' || list_extract(w, i + 1) || ' '
                        || list_extract(w, i + 2) AS shingle
                FROM sh0, unnest(range(1, greatest(len(w) - 1, 1))) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            -- df-cut (max_doc_freq=50): hot shingles are dropped from PAIR
            -- GENERATION only; sizes still count every shingle
            rare AS (
                SELECT shingle AS r_shingle FROM sh
                GROUP BY shingle HAVING count(*) <= 50
            ),
            shr AS (
                SELECT doc_id, shingle FROM sh
                WHERE shingle IN (SELECT r_shingle FROM rare)
            ),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                           JOIN sizes sb ON sb.doc_id = doc_b
                WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.2
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs
            ),
            rec AS (
                WITH RECURSIVE reach(src, dst) AS (
                    SELECT src, dst FROM edges
                    UNION
                    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
                )
                SELECT src, dst FROM reach
            )
            SELECT src AS doc_id,
                   least(src, min(dst)) AS component
            FROM rec GROUP BY src ORDER BY doc_id
        """,
        "dedup_canonical": """
            WITH sh0 AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE len(string_split(text, ' ')) >= 3
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                    list_extract(w, i) || ' ' || list_extract(w, i + 1) || ' '
                        || list_extract(w, i + 2) AS shingle
                FROM sh0, unnest(range(1, greatest(len(w) - 1, 1))) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            -- df-cut (max_doc_freq=50), mirroring the Spark composition
            rare AS (
                SELECT shingle AS r_shingle FROM sh
                GROUP BY shingle HAVING count(*) <= 50
            ),
            shr AS (
                SELECT doc_id, shingle FROM sh
                WHERE shingle IN (SELECT r_shingle FROM rare)
            ),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                           JOIN sizes sb ON sb.doc_id = doc_b
                WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.2
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs
            ),
            rec AS (
                WITH RECURSIVE reach(src, dst) AS (
                    SELECT src, dst FROM edges
                    UNION
                    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
                )
                SELECT src, dst FROM reach
            ),
            comp AS (
                SELECT d.doc_id,
                       coalesce(least(d.doc_id, r.mn), d.doc_id) AS component
                FROM documents d
                LEFT JOIN (SELECT src, min(dst) AS mn FROM rec GROUP BY src) r
                  ON r.src = d.doc_id
            ),
            q AS (
                SELECT doc_id,
                       0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                       + 0.5 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                           w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
                           / len(string_split(text, ' '))) AS quality_score
                FROM documents
            )
            SELECT c.doc_id, c.component, q.quality_score,
                   (row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY q.quality_score DESC, c.doc_id ASC) = 1)
                   AS is_canonical
            FROM comp c JOIN q ON q.doc_id = c.doc_id
            ORDER BY c.doc_id
        """,
        "dedup_exact": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY keep_id
        """,
        "doc_vocab_topk": """
            SELECT token, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            GROUP BY token
            ORDER BY n_occurrences DESC, token ASC
            LIMIT 100
        """,
        "doc_tfidf_top_terms": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM toks GROUP BY doc_id, token
            ),
            dfreq AS (
                SELECT token AS d_token, count(DISTINCT doc_id) AS df
                FROM toks GROUP BY token
            ),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            weighted AS (
                SELECT doc_id, token, tf, df,
                       CAST(tf * n_docs AS DOUBLE) / df AS weight
                FROM tf JOIN dfreq ON token = d_token CROSS JOIN n
            )
            SELECT doc_id, token, tf, df, weight, rn
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY weight DESC, token ASC) AS rn
                FROM weighted
            )
            WHERE rn <= 3
            ORDER BY doc_id, rn
        """,
        "doc_redact_pii": """
            WITH aug AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                       '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INTEGER)
                       AS n_phones,
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
                       AS redacted
            FROM aug ORDER BY doc_id
        """,
        "dedup_decontaminate": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 4
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 3),
                    i -> array_to_string(ws[i + 1 : i + 4], ' ')))) AS shingle
                FROM w
            ),
            bench AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 50 = 0)
            SELECT doc_id, count(*) AS n_hit_shingles
            FROM s
            WHERE doc_id % 50 <> 0
              AND shingle IN (SELECT shingle FROM bench)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "dedup_substring": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 12
            ),
            g AS (
                SELECT doc_id, list_transform(range(0, len(ws) - 7),
                    i -> md5(array_to_string(ws[i + 1 : i + 8], ' '))) AS hs
                FROM w
            ),
            win AS (
                SELECT doc_id, list_distinct(list_transform(
                    range(0, len(hs) - 4), j -> list_min(hs[j + 1 : j + 5]))) AS fps
                FROM g
            ),
            e AS (SELECT doc_id, unnest(fps) AS fp FROM win)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_shared_fingerprints
            FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 1
            ORDER BY doc_a, doc_b
        """,
        "cur_stratified_sample": """
            WITH h AS (
                SELECT *, substring(md5(CAST(doc_id AS VARCHAR) || ':' || lang),
                                    1, 8) AS hx
                FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM h
            WHERE (lang = 'de' AND hx < '80000000')
               OR (lang = 'en' AND hx < 'cccccccc')
               OR (lang = 'es' AND hx < '40000000')
               OR  lang = 'fr'
               OR (lang = 'zh' AND hx < '19999999')
            GROUP BY lang ORDER BY lang
        """,
        "dedup_decontaminate_flags": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE doc_id % 50 <> 0
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 3),
                    i -> array_to_string(ws[i + 1 : i + 4], ' ')))) AS shingle
                FROM w WHERE len(ws) >= 4
            ),
            bw AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE doc_id % 50 = 0
            ),
            bench AS (
                SELECT DISTINCT unnest(list_distinct(list_transform(
                    range(0, len(ws) - 3),
                    i -> array_to_string(ws[i + 1 : i + 4], ' ')))) AS shingle
                FROM bw WHERE len(ws) >= 4
            ),
            hits AS (
                SELECT doc_id, count(*) AS n FROM s
                WHERE shingle IN (SELECT shingle FROM bench)
                GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(hits.n, 0) AS INTEGER) AS n_hit_shingles,
                   COALESCE(hits.n, 0) > 0 AS is_contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
            LEFT JOIN hits ON d.doc_id = hits.doc_id
            ORDER BY d.doc_id
        """,
        "cur_chunk_documents": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            c AS (
                SELECT doc_id, t.i AS chunk_idx,
                       array_to_string(ws[t.i * 24 + 1 : t.i * 24 + 32], ' ')
                           AS chunk_text,
                       least(32, len(ws) - t.i * 24) AS n_words
                FROM w, unnest(range(0,
                    (greatest(len(ws) - 32, 0) + 23) // 24 + 1)) AS t(i)
            )
            SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                   chunk_text, CAST(n_words AS INTEGER) AS n_words
            FROM c ORDER BY doc_id, chunk_idx
        """,
        "emb_group_centroids": """
            WITH ex AS (
                SELECT label, CAST(t.i - 1 AS INTEGER) AS dim,
                       embedding[t.i] AS v
                FROM embeddings,
                     unnest(range(1, len(embedding) + 1)) AS t(i)
            )
            SELECT label, dim,
                   CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 1e12)
                                 AS DECIMAL(20,0))) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 1e12) AS centroid_val,
                   count(*) AS n_vectors
            FROM ex GROUP BY label, dim ORDER BY label, dim
        """,
        "cur_cap_per_group": """
            SELECT source, doc_id, rank_in_group, n_chars
            FROM (
                SELECT source, doc_id, n_chars,
                       CAST(row_number() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC, doc_id ASC
                       ) AS INTEGER) AS rank_in_group
                FROM documents
            )
            WHERE rank_in_group <= 10
            ORDER BY source, rank_in_group
        """,
        "doc_quality_rules": """
            WITH w AS (
                SELECT doc_id, text,
                       string_split(text, ' ') AS ws
                FROM documents
            ),
            tw AS (
                -- most frequent word count per doc (Spark computes the
                -- longest equal-neighbour run of the sorted array — same
                -- number)
                SELECT doc_id, MAX(cnt) AS top_cnt FROM (
                    SELECT doc_id, COUNT(*) AS cnt
                    FROM (SELECT doc_id, unnest(ws) AS word FROM w)
                    GROUP BY doc_id, word
                ) GROUP BY doc_id
            ),
            m AS (
                SELECT w.doc_id,
                       len(ws) AS nw,
                       len(list_distinct(ws)) AS nd,
                       top_cnt,
                       CAST(length(text) - (len(ws) - 1) AS DOUBLE)
                           / len(ws) AS avg_word_len,
                       CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE)
                           / len(ws) AS dup_word_ratio,
                       CAST(top_cnt AS DOUBLE) / len(ws) AS top_word_ratio
                FROM w JOIN tw ON w.doc_id = tw.doc_id
            )
            SELECT doc_id,
                   CAST(nw AS INTEGER) AS n_words,
                   avg_word_len, dup_word_ratio, top_word_ratio,
                   CAST(nw >= 30 AND nw <= 90 AS INTEGER) AS r_word_count,
                   CAST(avg_word_len >= 3.0 AND avg_word_len <= 10.0
                        AS INTEGER) AS r_avg_word_len,
                   CAST(dup_word_ratio <= 0.75 AS INTEGER) AS r_dup_words,
                   CAST(top_word_ratio <= 0.2 AS INTEGER) AS r_top_word,
                   CAST(nw >= 30 AND nw <= 90
                        AND avg_word_len >= 3.0 AND avg_word_len <= 10.0
                        AND dup_word_ratio <= 0.75
                        AND top_word_ratio <= 0.2 AS INTEGER) AS passes_all
            FROM m ORDER BY doc_id
        """,
        "doc_bm25_topk": """
            WITH toks AS (
                SELECT doc_id, len(string_split(text, ' ')) AS dl,
                       t.term AS term
                FROM documents,
                     unnest(string_split(text, ' ')) AS t(term)
                WHERE t.term IN ('join', 'hash', 'scan')
            ),
            tf AS (
                SELECT doc_id, dl, term, COUNT(*) AS tf
                FROM toks GROUP BY doc_id, dl, term
            ),
            dfr AS (
                SELECT term, COUNT(DISTINCT doc_id) AS df
                FROM tf GROUP BY term
            ),
            stats AS (
                SELECT COUNT(*) AS n_docs,
                       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                           / COUNT(*) AS avgdl
                FROM documents
            ),
            contrib AS (
                -- identical expression shape to the Spark plan:
                -- ((idf * (tf*2.2)) / (tf + 1.2*(0.25 + (0.75*dl)/avgdl)));
                -- float literals MUST be cast: bare 2.2 parses as
                -- DECIMAL(2,1) in DuckDB, making tf*2.2 exact decimal
                -- instead of Spark's double multiply (1-ulp mismatch)
                SELECT tf.doc_id, tf.term,
                       ((CAST(n_docs AS DOUBLE) / df)
                            * (tf * CAST(2.2 AS DOUBLE)))
                       / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
                           + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE))
                             / avgdl)) AS c
                FROM tf
                JOIN dfr ON tf.term = dfr.term
                CROSS JOIN stats
            ),
            agg AS (
                SELECT doc_id,
                       MAX(CASE WHEN term = 'join' THEN c END) AS c0,
                       MAX(CASE WHEN term = 'hash' THEN c END) AS c1,
                       MAX(CASE WHEN term = 'scan' THEN c END) AS c2,
                       COUNT(*) AS n_terms_hit
                FROM contrib GROUP BY doc_id
            )
            SELECT doc_id,
                   0.0 + COALESCE(c0, 0.0) + COALESCE(c1, 0.0)
                       + COALESCE(c2, 0.0) AS bm25_score,
                   n_terms_hit
            FROM agg
            ORDER BY bm25_score DESC, doc_id ASC
            LIMIT 20
        """,
        "doc_bm25_indexed": """
            -- identical to doc_bm25_topk: the indexed path is bit-identical
            WITH toks AS (
                SELECT doc_id, len(string_split(text, ' ')) AS dl,
                       t.term AS term
                FROM documents,
                     unnest(string_split(text, ' ')) AS t(term)
                WHERE t.term IN ('join', 'hash', 'scan')
            ),
            tf AS (
                SELECT doc_id, dl, term, COUNT(*) AS tf
                FROM toks GROUP BY doc_id, dl, term
            ),
            dfr AS (
                SELECT term, COUNT(DISTINCT doc_id) AS df
                FROM tf GROUP BY term
            ),
            stats AS (
                SELECT COUNT(*) AS n_docs,
                       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                           / COUNT(*) AS avgdl
                FROM documents
            ),
            contrib AS (
                -- identical expression shape to the Spark plan:
                -- ((idf * (tf*2.2)) / (tf + 1.2*(0.25 + (0.75*dl)/avgdl)));
                -- float literals MUST be cast: bare 2.2 parses as
                -- DECIMAL(2,1) in DuckDB, making tf*2.2 exact decimal
                -- instead of Spark's double multiply (1-ulp mismatch)
                SELECT tf.doc_id, tf.term,
                       ((CAST(n_docs AS DOUBLE) / df)
                            * (tf * CAST(2.2 AS DOUBLE)))
                       / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
                           + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE))
                             / avgdl)) AS c
                FROM tf
                JOIN dfr ON tf.term = dfr.term
                CROSS JOIN stats
            ),
            agg AS (
                SELECT doc_id,
                       MAX(CASE WHEN term = 'join' THEN c END) AS c0,
                       MAX(CASE WHEN term = 'hash' THEN c END) AS c1,
                       MAX(CASE WHEN term = 'scan' THEN c END) AS c2,
                       COUNT(*) AS n_terms_hit
                FROM contrib GROUP BY doc_id
            )
            SELECT doc_id,
                   0.0 + COALESCE(c0, 0.0) + COALESCE(c1, 0.0)
                       + COALESCE(c2, 0.0) AS bm25_score,
                   n_terms_hit
            FROM agg
            ORDER BY bm25_score DESC, doc_id ASC
            LIMIT 20
        """,
        "doc_bpe_pairs": """
            WITH words AS (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ),
            wf AS (
                SELECT w, COUNT(*) AS wf FROM words
                GROUP BY w HAVING len(w) >= 2
            ),
            pairs AS (
                SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wf
                FROM wf, unnest(range(1, len(w))) AS t(i)
            )
            SELECT pair, CAST(SUM(wf) AS BIGINT) AS n_occurrences
            FROM pairs GROUP BY pair
            ORDER BY n_occurrences DESC, pair ASC LIMIT 30
        """,
        "doc_span_dedup": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            spans AS (
                -- spark groups by md5(span); grouping by the span text
                -- itself gives identical counts (collision-free contract)
                SELECT doc_id,
                       array_to_string(
                           list_slice(ws, i * 8 + 1, i * 8 + 8), ' '
                       ) AS span
                FROM w,
                     unnest(range(0, CAST(floor(len(ws) / 8) AS BIGINT)))
                         AS t(i)
                WHERE len(ws) >= 8
            ),
            counts AS (
                SELECT span, COUNT(DISTINCT doc_id) AS docs
                FROM spans GROUP BY span
            )
            SELECT s.doc_id,
                   COUNT(*) AS n_spans,
                   CAST(SUM(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_spans,
                   CAST(SUM(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) AS dup_span_ratio
            FROM spans s JOIN counts c ON s.span = c.span
            GROUP BY s.doc_id ORDER BY s.doc_id
        """,
        "ts_rollup_pyramid": """
            -- direct per-level aggregation: equals the engine's cascade
            -- because quantized integer sums are associative
            WITH lv AS (
                SELECT '1m' AS resolution,
                       date_trunc('minute', ts) AS bucket_ts,
                       event_type, value FROM events
                UNION ALL
                SELECT '1h', date_trunc('hour', ts), event_type, value
                FROM events
                UNION ALL
                SELECT '1d', date_trunc('day', ts), event_type, value
                FROM events
            )
            SELECT resolution, bucket_ts, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 1e6) AS DECIMAL(20,0)))
                        AS DOUBLE) / 1e6 AS sum_value,
                   MIN(value) AS min_value,
                   MAX(value) AS max_value
            FROM lv
            GROUP BY resolution, bucket_ts, event_type
            ORDER BY resolution, bucket_ts, event_type
        """,
        "ts_user_profiles": """
            SELECT user_id,
                   MIN(ts) AS first_seen,
                   MAX(ts) AS last_seen,
                   COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 1e6) AS DECIMAL(20,0)))
                        AS DOUBLE) / 1e6 AS total_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "ts_level_shifts": """
            WITH d AS (
                SELECT user_id, event_id, ts,
                       COUNT(*) OVER wpre AS nb,
                       COUNT(*) OVER wpost AS na,
                       CAST(SUM(CAST(round(value * 1e6) AS DECIMAL(20,0)))
                            OVER wpre AS DOUBLE) / (5.0 * 1e6) AS pre_mean,
                       CAST(SUM(CAST(round(value * 1e6) AS DECIMAL(20,0)))
                            OVER wpost AS DOUBLE) / (5.0 * 1e6) AS post_mean
                FROM events
                WINDOW
                    wpre AS (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
                    wpost AS (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC
                              ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
            )
            SELECT user_id, event_id, ts, pre_mean, post_mean,
                   post_mean - pre_mean AS shift
            FROM d
            WHERE nb = 5 AND na = 5
              AND abs(post_mean - pre_mean) > CAST(20.0 AS DOUBLE)
            ORDER BY user_id, event_id
        """,
        "ts_first_touch": """
            WITH p AS (
                SELECT user_id, ts AS p_ts, event_id AS p_id,
                       value AS p_value
                FROM events WHERE event_type = 'purchase'
            ),
            c AS (
                SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id
                FROM events WHERE event_type = 'click'
            ),
            j AS (
                SELECT p.*, c_ts, c_id,
                       row_number() OVER (
                           PARTITION BY p_id
                           ORDER BY c_ts ASC, c_id ASC) AS rn
                FROM p JOIN c ON p.user_id = c.c_user
                  AND c_ts <= p_ts
                  AND c_ts >= p_ts - INTERVAL 1 DAY
            )
            SELECT user_id, p_id AS purchase_id, p_ts AS purchase_ts,
                   p_value AS purchase_value,
                   c_id AS first_click_id, c_ts AS first_click_ts,
                   epoch(p_ts) - epoch(c_ts) AS attribution_lag_s
            FROM j WHERE rn = 1 ORDER BY purchase_id
        """,
        "ts_gap_report": """
            WITH o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC) AS prev
                FROM events
            )
            SELECT user_id, prev AS gap_start, ts AS gap_end,
                   epoch(ts) - epoch(prev) AS gap_seconds
            FROM o
            WHERE prev IS NOT NULL
              AND epoch(ts) - epoch(prev) > 21600.0
            ORDER BY user_id, gap_start
        """,
        "ts_ohlc_bars": """
            WITH ev AS (
                SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
                       ts, event_id, value,
                       row_number() OVER (
                           PARTITION BY date_trunc('hour', ts), event_type
                           ORDER BY ts ASC, event_id ASC) AS ra,
                       row_number() OVER (
                           PARTITION BY date_trunc('hour', ts), event_type
                           ORDER BY ts DESC, event_id DESC) AS rd
                FROM events
            )
            SELECT bucket_ts, event_type,
                   MAX(CASE WHEN ra = 1 THEN value END) AS open,
                   MAX(value) AS high,
                   MIN(value) AS low,
                   MAX(CASE WHEN rd = 1 THEN value END) AS close,
                   COUNT(*) AS n_ticks,
                   CAST(SUM(CAST(round(value * 1e6) AS DECIMAL(20,0)))
                        AS DOUBLE) / 1e6 AS volume
            FROM ev GROUP BY bucket_ts, event_type
            ORDER BY bucket_ts, event_type
        """,
        "ts_seasonal_anomaly": """
            WITH base AS (
                SELECT event_type AS bt, hour(ts) AS bh,
                       COUNT(*) AS n,
                       SUM(CAST(round(value * 1e6) AS DECIMAL(20,0))) AS s,
                       SUM(CAST(round(value * 1e6) AS DECIMAL(20,0))
                           * CAST(round(value * 1e6) AS DECIMAL(20,0)))
                           AS sq
                FROM events GROUP BY 1, 2
            ),
            b AS (
                SELECT bt, bh,
                       CAST(s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * 1e6) AS base_mean,
                       sqrt((CAST(sq AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                               / CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE)) / 1e6 AS base_std
                FROM base
            )
            SELECT event_id, ts, user_id, event_type, value,
                   base_mean, base_std
            FROM events e JOIN b
              ON e.event_type = b.bt AND hour(e.ts) = b.bh
            WHERE abs(e.value - base_mean)
                  > CAST(3.0 AS DOUBLE) * base_std
            ORDER BY event_id
        """,
        "ts_retention_cohorts": """
            WITH wk AS (
                SELECT user_id, date_trunc('week', ts) AS w FROM events
            ),
            coh AS (
                SELECT user_id, MIN(w) AS cohort FROM wk GROUP BY user_id
            )
            SELECT cohort AS cohort_week,
                   CAST(date_diff('day', CAST(cohort AS DATE),
                                  CAST(w AS DATE)) / 7 AS INTEGER)
                       AS week_offset,
                   COUNT(DISTINCT wk.user_id) AS n_users
            FROM wk JOIN coh ON wk.user_id = coh.user_id
            WHERE date_diff('day', CAST(cohort AS DATE),
                            CAST(w AS DATE)) / 7 <= 8
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "emb_dim_stats": """
            WITH ex AS (
                SELECT CAST(t.i - 1 AS INTEGER) AS dim,
                       CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1e6)
                            AS DECIMAL(18,0)) AS q,
                       CAST(embedding[t.i] AS DOUBLE) AS v
                FROM embeddings,
                     unnest(range(1, len(embedding) + 1)) AS t(i)
            ),
            agg AS (
                SELECT dim, COUNT(*) AS n_vectors,
                       SUM(q) AS s, SUM(q * q) AS sq,
                       MIN(v) AS min_val, MAX(v) AS max_val
                FROM ex GROUP BY dim
            )
            SELECT dim, n_vectors,
                   CAST(s AS DOUBLE)
                       / (CAST(n_vectors AS DOUBLE) * 1e6) AS mean_val,
                   sqrt((CAST(sq AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n_vectors AS DOUBLE))
                        / CAST(n_vectors AS DOUBLE)) / 1e6 AS std_val,
                   min_val, max_val
            FROM agg ORDER BY dim
        """,
        "cur_temperature_mix": """
            WITH g AS (
                SELECT lang, COUNT(*) AS n_docs,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY lang
            ),
            q AS (
                SELECT lang, n_docs, n_tokens,
                       CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
                            AS DECIMAL(20,0)) AS wq
                FROM g
            ),
            t AS (SELECT SUM(wq) AS wtot FROM q)
            SELECT lang, n_docs, n_tokens,
                   CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE) AS mix_weight,
                   CAST(floor((CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE))
                              * 100000.0) AS BIGINT) AS token_target,
                   least(CAST(1.0 AS DOUBLE),
                         CAST(CAST(floor((CAST(wq AS DOUBLE)
                                          / CAST(wtot AS DOUBLE))
                                         * 100000.0) AS BIGINT) AS DOUBLE)
                         / CAST(n_tokens AS DOUBLE)) AS sample_rate
            FROM q CROSS JOIN t ORDER BY lang
        """,
        "cur_corpus_pipeline": r"""
            WITH tok AS (
                SELECT doc_id, lang, text,
                       len(string_split(text, ' ')) AS nw,
                       len(list_distinct(string_split(text, ' '))) AS nd
                FROM documents
            ),
            keeps AS (
                SELECT MIN(doc_id) AS kid FROM documents
                GROUP BY md5(trim(regexp_replace(lower(text),
                                                 '\s+', ' ', 'g')))
            ),
            dedup AS (
                SELECT t.* FROM tok t JOIN keeps ON t.doc_id = keeps.kid
            ),
            gated AS (
                SELECT * FROM dedup
                WHERE nw BETWEEN 30 AND 90
                  AND CAST(nw - nd AS DOUBLE) / nw <= 0.75
            ),
            g AS (
                SELECT lang, CAST(SUM(nw) AS BIGINT) AS n_tokens
                FROM gated GROUP BY lang
            ),
            q AS (
                SELECT lang, n_tokens,
                       CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
                            AS DECIMAL(20,0)) AS wq
                FROM g
            ),
            t AS (SELECT SUM(wq) AS wtot FROM q),
            plan AS (
                SELECT lang,
                       least(CAST(1.0 AS DOUBLE),
                             CAST(CAST(floor((CAST(wq AS DOUBLE)
                                              / CAST(wtot AS DOUBLE))
                                             * 50000.0) AS BIGINT)
                                  AS DOUBLE)
                             / CAST(n_tokens AS DOUBLE)) AS rate
                FROM q CROSS JOIN t
            ),
            thr AS (
                SELECT lang, rate,
                       printf('%08x',
                              CAST(floor(rate
                                         * CAST(4294967296 AS DOUBLE))
                                   AS BIGINT)) AS h
                FROM plan
            ),
            sampled AS (
                SELECT gated.* FROM gated JOIN thr
                  ON gated.lang = thr.lang
                WHERE rate >= 1.0
                   OR substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                 || gated.lang), 1, 8) < h
            )
            SELECT * FROM (
                SELECT 0 AS stage_no, 'raw' AS stage,
                       COUNT(*) AS n_docs,
                       CAST(SUM(nw) AS BIGINT) AS n_tokens FROM tok
                UNION ALL
                SELECT 1, 'dedup', COUNT(*), CAST(SUM(nw) AS BIGINT)
                FROM dedup
                UNION ALL
                SELECT 2, 'quality', COUNT(*), CAST(SUM(nw) AS BIGINT)
                FROM gated
                UNION ALL
                SELECT 3, 'sampled', COUNT(*), CAST(SUM(nw) AS BIGINT)
                FROM sampled
            ) ORDER BY stage_no
        """,
        "cur_temperature_sample": """
            WITH g AS (
                SELECT lang, COUNT(*) AS n_docs,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY lang
            ),
            q AS (
                SELECT lang, n_tokens,
                       CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
                            AS DECIMAL(20,0)) AS wq
                FROM g
            ),
            t AS (SELECT SUM(wq) AS wtot FROM q),
            plan AS (
                SELECT lang,
                       least(CAST(1.0 AS DOUBLE),
                             CAST(CAST(floor((CAST(wq AS DOUBLE)
                                              / CAST(wtot AS DOUBLE))
                                             * 100000.0) AS BIGINT)
                                  AS DOUBLE)
                             / CAST(n_tokens AS DOUBLE)) AS sample_rate
                FROM q CROSS JOIN t
            ),
            thr AS (
                SELECT lang, sample_rate,
                       printf('%08x',
                              CAST(floor(sample_rate
                                         * CAST(4294967296 AS DOUBLE))
                                   AS BIGINT)) AS h
                FROM plan
            )
            SELECT d.lang, sample_rate,
                   COUNT(*) AS n_docs_kept,
                   CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT)
                       AS n_tokens_kept
            FROM documents d JOIN thr ON d.lang = thr.lang
            WHERE sample_rate >= 1.0
               OR substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.lang),
                         1, 8) < h
            GROUP BY d.lang, sample_rate ORDER BY d.lang
        """,
        "emb_label_outliers": """
            WITH ex AS (
                SELECT vec_id, label, CAST(t.i - 1 AS INTEGER) AS dim,
                       embedding[t.i] AS v
                FROM embeddings,
                     unnest(range(1, len(embedding) + 1)) AS t(i)
            ),
            cent AS (
                SELECT label, dim,
                       CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 1e12)
                                     AS DECIMAL(20,0))) AS DOUBLE)
                           / (CAST(count(*) AS DOUBLE) * 1e12)
                           AS centroid_val
                FROM ex GROUP BY label, dim
            ),
            cq AS (
                SELECT label AS c_g, dim AS c_dim,
                       CAST(round(centroid_val * 1e6) AS DECIMAL(18,0)) AS qc
                FROM cent
            ),
            d AS (
                SELECT vec_id, ex.label,
                       SUM((CAST(round(CAST(v AS DOUBLE) * 1e6)
                                 AS DECIMAL(18,0)) - qc)
                           * (CAST(round(CAST(v AS DOUBLE) * 1e6)
                                   AS DECIMAL(18,0)) - qc)) AS d2
                FROM ex JOIN cq ON ex.label = cq.c_g AND ex.dim = cq.c_dim
                GROUP BY vec_id, ex.label
            )
            SELECT vec_id, label,
                   sqrt(CAST(d2 AS DOUBLE)) / 1e6 AS centroid_dist
            FROM d
            ORDER BY centroid_dist DESC, vec_id ASC LIMIT 20
        """,
        "emb_label_affinity": """
            WITH ex AS (
                SELECT label, CAST(t.i - 1 AS INTEGER) AS dim,
                       embedding[t.i] AS v
                FROM embeddings,
                     unnest(range(1, len(embedding) + 1)) AS t(i)
            ),
            cent AS (
                SELECT label, dim,
                       CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 1e12)
                                     AS DECIMAL(20,0))) AS DOUBLE)
                           / (CAST(count(*) AS DOUBLE) * 1e12)
                           AS centroid_val
                FROM ex GROUP BY label, dim
            ),
            cq AS (
                SELECT label AS g, dim,
                       CAST(round(centroid_val * 1e6) AS DECIMAL(18,0)) AS q
                FROM cent
            ),
            norms AS (SELECT g, SUM(q * q) AS norm2 FROM cq GROUP BY g),
            dots AS (
                SELECT a.g AS label_a, b.g AS label_b, SUM(a.q * b.q) AS dot
                FROM cq a JOIN cq b ON a.dim = b.dim AND a.g < b.g
                GROUP BY a.g, b.g
            )
            SELECT label_a, label_b,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(na.norm2 AS DOUBLE))
                          * sqrt(CAST(nb.norm2 AS DOUBLE)))
                       AS centroid_cosine
            FROM dots
            JOIN norms na ON na.g = label_a
            JOIN norms nb ON nb.g = label_b
            ORDER BY label_a, label_b
        """,
        "dedup_rate_by_source": r"""
            WITH fp AS (
                SELECT source,
                       md5(trim(regexp_replace(lower(text),
                                               '\s+', ' ', 'g'))) AS f,
                       COUNT(*) AS n
                FROM documents GROUP BY source, f
            )
            SELECT source,
                   CAST(SUM(n) AS BIGINT) AS n_docs,
                   COUNT(*) AS n_distinct,
                   CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n) AS dup_rate
            FROM fp GROUP BY source ORDER BY source
        """,
        "dedup_containment": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 3
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 2),
                    i -> array_to_string(ws[i + 1 : i + 3], ' ')))) AS shingle
                FROM w
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(i AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(i AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.5
            ORDER BY doc_a, doc_b
        """,
        # brute-force all-pairs Levenshtein — deliberately NOT
        # neighborhood-filtered: the oracle states the semantics (every
        # pair within distance 1); matching it proves the deletion-
        # neighborhood candidate generation is lossless AND that both
        # engines' levenshtein DPs agree on real data
        "dedup_edit_pairs": f"""
            WITH ascii_docs AS (
                SELECT doc_id, text FROM documents
                WHERE regexp_matches(substring(text, 1, 30),
                                     '{EDIT_ASCII_RE}')
            ),
            inj AS (
                SELECT doc_id, text FROM ascii_docs
                UNION ALL
                SELECT doc_id + {EDIT_INJ_OFFSET} AS doc_id,
                       substring(text, 1, 4) || 'z' || substring(text, 6)
                           AS text
                FROM ascii_docs
                WHERE doc_id % {EDIT_INJ_MOD} = 0
                  AND length(text) >= {EDIT_INJ_MINLEN}
            ),
            s AS (
                SELECT doc_id, lower(substring(text, 1, 30)) AS s
                FROM inj WHERE length(substring(text, 1, 30)) > 0
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist,
                   CAST(length(a.s) AS BIGINT) AS len_a,
                   CAST(length(b.s) AS BIGINT) AS len_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE abs(length(a.s) - length(b.s)) <= 1
              AND levenshtein(a.s, b.s) <= 1
            ORDER BY doc_a, doc_b
        """,
        # brute all-pairs Levenshtein<=3 over the same injected
        # population — deliberately NOT q-gram-filtered: matching it
        # proves the Ed-Join prefix + count-filter chain lossless (the
        # abs-length predicate is implied by dist<=k, pure oracle-cost
        # pruning). Population: prefixes >= q*(k+1) chars, the
        # operator's documented contract.
        "dedup_qgram_pairs": f"""
            WITH ascii_docs AS (
                SELECT doc_id, text FROM documents
                WHERE regexp_matches(substring(text, 1, 30),
                                     '{EDIT_ASCII_RE}')
            ),
            inj AS (
                SELECT doc_id, text FROM ascii_docs
                UNION ALL
                SELECT doc_id + {QGRAM_INJ_OFFSET} AS doc_id,
                       {QGRAM_INJ_DUCK} AS text
                FROM ascii_docs
                WHERE doc_id % {QGRAM_INJ_MOD} = 0
                  AND length(text) >= {QGRAM_INJ_MINLEN}
            ),
            s AS (
                SELECT doc_id, lower(substring(text, 1, 30)) AS s
                FROM inj
                WHERE length(substring(text, 1, 30))
                      >= {_QGRAM_MINLEN_POP}
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist,
                   CAST(length(a.s) AS BIGINT) AS len_a,
                   CAST(length(b.s) AS BIGINT) AS len_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE abs(length(a.s) - length(b.s)) <= {QGRAM_K}
              AND levenshtein(a.s, b.s) <= {QGRAM_K}
            ORDER BY doc_a, doc_b
        """,
        # brute-force exact Jaccard — deliberately NOT prefix-filtered:
        # the oracle states the SEMANTICS (all pairs with J >= tau);
        # matching it proves the Spark side's prefix pruning is lossless
        "dedup_prefix_filter": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 3
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 2),
                    i -> array_to_string(ws[i + 1 : i + 3], ' ')))) AS shingle
                FROM w
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
                   CAST(sa.n_sh + sb.n_sh - i AS BIGINT) AS union_sz,
                   CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * 1000000 >= 500000 * (sa.n_sh + sb.n_sh - i)
            ORDER BY doc_a, doc_b
        """,
        "dedup_ngram_jaccard": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 3
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 2),
                    i -> array_to_string(ws[i + 1 : i + 3], ' ')))) AS shingle
                FROM w
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.2
            ORDER BY doc_a, doc_b
        """,
        # --- similarity ---
        "dedup_embedding_cosine": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(
                    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                    4) AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(
                    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                    4) >= 0.4
            ORDER BY id_a, id_b
        """,
        "mm_chunk_audio": """
            WITH a AS (
                SELECT doc_id AS media_id,
                       CAST(1000 + (doc_id % 10) * 500 AS BIGINT)
                           AS duration_ms,
                       16000 AS sample_rate
                FROM documents WHERE doc_id % 3 = 1
            )
            SELECT media_id,
                   CAST(start_ms / 300 AS INTEGER) AS chunk_idx,
                   start_ms,
                   least(start_ms + 400, duration_ms) AS end_ms,
                   ((least(start_ms + 400, duration_ms) - start_ms)
                    * sample_rate) // 1000 AS n_samples
            FROM a,
                 unnest(range(0, duration_ms, 300)) AS t(start_ms)
            ORDER BY media_id, chunk_idx
        """,
        "mm_featurize_bytes": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents ORDER BY media_id
        """,
        "mm_frame_counts": """
            SELECT doc_id AS media_id,
                   greatest(1, (1000 + (doc_id % 10) * 500) // 1000) AS n_frames
            FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id
        """,
        "mm_metadata_stats": """
            WITH media AS (
                SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       CASE doc_id % 3 WHEN 0 THEN 'png'
                            WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
                       CASE WHEN doc_id % 3 <> 0
                            THEN 1000 + (doc_id % 10) * 500 END AS duration_ms,
                       CASE WHEN doc_id % 3 = 0 THEN 64 + doc_id % 4 END AS width,
                       CASE WHEN doc_id % 3 = 0 THEN 64 END AS height
                FROM documents
            )
            SELECT kind, format, count(*) AS n,
                   CAST(SUM(coalesce(duration_ms, 0)) AS BIGINT)
                       AS total_duration_ms,
                   avg(width * height) AS avg_pixels
            FROM media GROUP BY kind, format ORDER BY kind, format
        """,
        "emb_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
                WHERE vec_id IN (0, 1, 2, 3, 4)
            ),
            pairs AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                    round(
                        list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[]))
                        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                           * sqrt(list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[])))),
                        4) AS cosine_sim
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine_sim
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                FROM pairs
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "emb_batch_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
                WHERE vec_id < 64
            ),
            pairs AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                    round(
                        list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[]))
                        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                           * sqrt(list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[])))),
                        4) AS cosine_sim
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine_sim
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                FROM pairs
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "link_fuzzy_docs": """
            WITH corrupted AS (
                SELECT doc_id AS left_id, lang, source,
                       substr(text, 1, 10) || '#' || substr(text, 12) AS text
                FROM documents WHERE doc_id % 5 = 0
            ),
            lf AS (
                SELECT left_id, lang, source,
                       CAST(length(text) // 64 AS BIGINT) AS lb,
                       substr(text, 1, 40) AS pfx
                FROM corrupted
            ),
            rf AS (
                SELECT doc_id AS right_id, lang, source,
                       CAST(length(text) // 64 AS BIGINT) AS lb,
                       substr(text, 1, 40) AS pfx
                FROM documents
            ),
            pairs AS (
                SELECT left_id, right_id,
                       levenshtein(lf.pfx, rf.pfx) AS dist
                FROM lf JOIN rf USING (lang, source, lb)
                WHERE levenshtein(lf.pfx, rf.pfx) <= 8
            ),
            best AS (
                SELECT *, row_number() OVER (
                           PARTITION BY left_id ORDER BY dist, right_id) AS rn
                FROM pairs
            )
            SELECT left_id, right_id, dist FROM best WHERE rn = 1
            ORDER BY left_id
        """,
        "ts_decay_score": """
            WITH ref AS (SELECT max(ts) AS r FROM events),
            c AS (
                SELECT user_id,
                       CAST(floor(value * power(0.5, least(CAST(floor(
                               (epoch(r) - epoch(ts)) / 43200.0) AS BIGINT),
                               40)) * 1e10) AS BIGINT) AS contrib
                FROM events, ref
            )
            SELECT user_id, COUNT(*) AS n_events,
                   CAST(SUM(contrib) AS BIGINT) AS score_e10,
                   CAST(CAST(SUM(contrib) AS BIGINT) AS DOUBLE) / 1e10
                       AS decayed_score
            FROM c GROUP BY user_id ORDER BY user_id
        """,
        "ts_sketch_accuracy": """
            SELECT event_type, count(DISTINCT user_id) AS exact_users,
                   true AS sketch_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # one bigram count table; c1/nf1/nb2/nbtot all derived from it;
        # HUGEINT mirrors Spark's DECIMAL(38,0) for the backoff products
        "doc_kn_bigram": """
            WITH toks AS (
                SELECT string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 2
            ),
            db AS (
                SELECT unnest(list_transform(
                           range(0, len(ws) - 1),
                           i -> struct_pack(w1 := ws[i + 1],
                                            w2 := ws[i + 2]))) AS p
                FROM toks
            ),
            bi AS (
                SELECT p.w1 AS w1, p.w2 AS w2,
                       CAST(COUNT(*) AS BIGINT) AS c12
                FROM db GROUP BY 1, 2
            ),
            l AS (
                SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                       CAST(COUNT(*) AS BIGINT) AS nf1
                FROM bi GROUP BY w1
            ),
            r AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb2
                  FROM bi GROUP BY w2),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbtot FROM bi)
            SELECT w1 || ' ' || w2 AS bigram, c12, c1, nf1, nb2,
                   CAST(CAST(greatest(4 * c12 - 3, 0) AS HUGEINT)
                            * 1000000000 // (4 * CAST(c1 AS HUGEINT))
                        + CAST(3 AS HUGEINT) * nf1 * nb2 * 1000000000
                            // (4 * CAST(c1 AS HUGEINT) * nbtot)
                    AS BIGINT) AS score_ppb
            FROM bi JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
            ORDER BY score_ppb DESC, bigram LIMIT 20
        """,
        "doc_bigram_lm": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            db AS (
                SELECT doc_id, unnest(list_transform(
                           range(0, len(ws) - 1),
                           i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
                FROM toks WHERE len(ws) >= 2
            ),
            uni AS (
                SELECT w1, COUNT(*) AS c1 FROM (
                    SELECT unnest(ws) AS w1 FROM toks
                ) GROUP BY w1
            ),
            bi AS (SELECT bigram, COUNT(*) AS c2 FROM db GROUP BY bigram),
            j AS (
                SELECT db.doc_id, bi.c2, uni.c1
                FROM db
                JOIN bi USING (bigram)
                JOIN uni ON uni.w1 = string_split(db.bigram, ' ')[1]
            )
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   min(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS min_cond_p,
                   CAST(SUM(length(bin(c2))) AS BIGINT) AS sum_bits,
                   CAST(SUM(length(bin(c2))) AS DOUBLE) / COUNT(*) AS avg_bits
            FROM j GROUP BY doc_id ORDER BY doc_id
        """,
        "cur_sample_k_per_group": """
            WITH t AS (
                SELECT lang, source, doc_id,
                       row_number() OVER (
                           PARTITION BY lang, source
                           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':3'),
                                    doc_id
                       ) AS rn
                FROM documents
            )
            SELECT lang, source, doc_id, rn AS pick_rank
            FROM t WHERE rn <= 3
            ORDER BY lang, source, pick_rank
        """,
        "dedup_source_overlap": r"""
            WITH docs AS (
                SELECT source, text FROM documents
                UNION ALL
                SELECT 'srcM' AS source, text FROM documents
                WHERE doc_id % 7 = 0
            ),
            fp AS (
                SELECT DISTINCT source AS src,
                       md5(trim(regexp_replace(lower(text),
                                               '\s+', ' ', 'g'))) AS f
                FROM docs
            )
            SELECT a.src AS source_a, b.src AS source_b,
                   COUNT(*) AS n_shared
            FROM fp a JOIN fp b ON a.f = b.f AND a.src < b.src
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "doc_domain_affinity": """
            WITH toks AS (
                SELECT doc_id, lang, string_split(text, ' ') AS ws
                FROM documents
            ),
            dt AS (
                SELECT doc_id, unnest(list_distinct(ws)) AS w FROM toks
            ),
            allc AS (
                SELECT w, COUNT(*) AS c_all FROM (
                    SELECT unnest(ws) AS w FROM toks
                ) GROUP BY w
            ),
            domc AS (
                SELECT w, COUNT(*) AS c_dom FROM (
                    SELECT unnest(ws) AS w FROM toks WHERE lang = 'en'
                ) GROUP BY w
            )
            SELECT doc_id, COUNT(*) AS n_terms,
                   CAST(SUM(length(bin(coalesce(c_dom, 0) + 1))
                            - length(bin(c_all + 1))) AS BIGINT)
                       AS affinity_bits,
                   CAST(CAST(SUM(length(bin(coalesce(c_dom, 0) + 1))
                            - length(bin(c_all + 1))) AS BIGINT) AS DOUBLE)
                       / COUNT(*) AS affinity_per_term
            FROM dt JOIN allc USING (w) LEFT JOIN domc USING (w)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "cur_quality_rebalance": """
            WITH scored AS (
                SELECT doc_id, source,
                       len(string_split(text, ' ')) AS n_tokens,
                       0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                           + 0.5 * (1.0 - CAST(len(list_filter(
                               string_split(text, ' '),
                               w -> w IN ('the', 'a', 'and', 'of', 'to')))
                               AS DOUBLE)
                               / len(string_split(text, ' '))) AS q
                FROM documents
            ),
            tiled AS (
                SELECT source, n_tokens,
                       ntile(10) OVER (PARTITION BY source
                                       ORDER BY q ASC, doc_id ASC) AS decile
                FROM scored
            )
            SELECT source, CAST(decile AS INTEGER) AS decile,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
            FROM tiled GROUP BY source, decile ORDER BY source, decile
        """,
        "ts_top_paths": """
            WITH seqs AS (
                SELECT user_id,
                       array_to_string(
                           (list(event_type ORDER BY ts, event_id))[1:5],
                           '>') AS path
                FROM events GROUP BY user_id
            ),
            pc AS (SELECT path, COUNT(*) AS n_users FROM seqs GROUP BY path)
            SELECT CAST(rank AS INTEGER) AS rank, path, n_users FROM (
                SELECT *, row_number() OVER (
                    ORDER BY n_users DESC, path ASC) AS rank
                FROM pc
            ) WHERE rank <= 20 ORDER BY rank
        """,
        "doc_bigram_xent": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        db AS (
            SELECT doc_id, unnest(list_transform(
                       range(0, len(ws) - 1),
                       i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
            FROM toks WHERE len(ws) >= 2
        ),
        uni AS (
            SELECT w1, COUNT(*) AS c1 FROM (
                SELECT unnest(ws) AS w1 FROM toks
            ) GROUP BY w1
        ),
        bi AS (SELECT bigram, COUNT(*) AS c2 FROM db GROUP BY bigram),
        j AS (
            SELECT db.doc_id,
                   (length(bin(c1)) - 1)
                       + (CAST(c1 AS DOUBLE) - power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)))
                         / power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)) AS l1,
                   (length(bin(c2)) - 1)
                       + (CAST(c2 AS DOUBLE) - power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)))
                         / power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)) AS l2
            FROM db
            JOIN bi USING (bigram)
            JOIN uni ON uni.w1 = string_split(db.bigram, ' ')[1]
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(CAST(floor((l1 - l2) * 1e9) AS BIGINT)) AS DOUBLE)
                   / 1e9 / COUNT(*) AS cross_entropy_bits
        FROM j GROUP BY doc_id ORDER BY doc_id
    """,
        "ts_value_drift": """
        WITH counts AS (
            SELECT event_type,
                   CAST(CASE WHEN value < 0.0 THEN 0
                             WHEN value >= 500.0 THEN 11
                             ELSE CAST(floor((value - 0.0) / ((500.0 - 0.0) / 10))
                                       AS INTEGER) + 1
                        END AS INTEGER) AS bucket,
                   count(*) FILTER (ts < TIMESTAMP '2024-01-16') AS n_ref,
                   count(*) FILTER (ts >= TIMESTAMP '2024-01-16') AS n_cur
            FROM events GROUP BY event_type, bucket
        ),
        totals AS (
            SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
            FROM counts GROUP BY event_type
        ),
        terms AS (
            SELECT c.event_type, t.t_ref, t.t_cur,
                   CASE WHEN (CASE WHEN t.t_ref > 0 THEN CAST(c.n_ref AS DOUBLE) / CAST(t.t_ref AS DOUBLE) ELSE 0.0 END
                              + CASE WHEN t.t_cur > 0 THEN CAST(c.n_cur AS DOUBLE) / CAST(t.t_cur AS DOUBLE) ELSE 0.0 END) > 0.0 THEN
                       CAST(floor(
                           (CASE WHEN t.t_ref > 0 THEN CAST(c.n_ref AS DOUBLE) / CAST(t.t_ref AS DOUBLE) ELSE 0.0 END
                            - CASE WHEN t.t_cur > 0 THEN CAST(c.n_cur AS DOUBLE) / CAST(t.t_cur AS DOUBLE) ELSE 0.0 END)
                           * (CASE WHEN t.t_ref > 0 THEN CAST(c.n_ref AS DOUBLE) / CAST(t.t_ref AS DOUBLE) ELSE 0.0 END
                              - CASE WHEN t.t_cur > 0 THEN CAST(c.n_cur AS DOUBLE) / CAST(t.t_cur AS DOUBLE) ELSE 0.0 END)
                           / (CASE WHEN t.t_ref > 0 THEN CAST(c.n_ref AS DOUBLE) / CAST(t.t_ref AS DOUBLE) ELSE 0.0 END
                              + CASE WHEN t.t_cur > 0 THEN CAST(c.n_cur AS DOUBLE) / CAST(t.t_cur AS DOUBLE) ELSE 0.0 END)
                           * 1e12) AS BIGINT)
                   ELSE 0 END AS term
            FROM counts c JOIN totals t USING (event_type)
        )
        SELECT event_type,
               CAST(max(t_ref) AS BIGINT) AS n_ref,
               CAST(max(t_cur) AS BIGINT) AS n_cur,
               CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) / 1e12 AS chi2
        FROM terms GROUP BY event_type ORDER BY event_type
    """,
        "mm_tile_plan": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CAST(64 + doc_id % 4 AS INTEGER) AS width,
                   64 AS height
            FROM documents WHERE doc_id % 3 = 0
        ),
        g AS (
            SELECT media_id, width, height,
                   CAST(ceil(CAST(width AS DOUBLE) / 32) AS INTEGER) AS nx,
                   CAST(ceil(CAST(height AS DOUBLE) / 32) AS INTEGER) AS ny
            FROM m
        ),
        t AS (
            SELECT media_id, width, height, ny,
                   unnest(range(0, nx)) AS tx
            FROM g
        ),
        tt AS (
            SELECT media_id, width, height, tx,
                   unnest(range(0, ny)) AS ty
            FROM t
        )
        SELECT media_id, CAST(tx AS INTEGER) AS tx, CAST(ty AS INTEGER) AS ty,
               CAST(tx * 32 AS INTEGER) AS x0, CAST(ty * 32 AS INTEGER) AS y0,
               CAST(least(32, width - tx * 32) AS INTEGER) AS tile_w,
               CAST(least(32, height - ty * 32) AS INTEGER) AS tile_h
        FROM tt ORDER BY media_id, tx, ty
    """,
        "ts_weekly_growth": """
        WITH weekly AS (
            SELECT date_trunc('week', ts) AS week, event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        )
        SELECT week, event_type, n_events, n_users,
               CASE WHEN lag(n_events) OVER (
                        PARTITION BY event_type ORDER BY week) IS NOT NULL
                    THEN CAST(n_events AS DOUBLE)
                         / CAST(lag(n_events) OVER (
                               PARTITION BY event_type ORDER BY week)
                           AS DOUBLE)
               END AS wow_growth
        FROM weekly ORDER BY event_type, week
    """,
        "doc_sentence_stats": """
        WITH segs AS (
            SELECT doc_id,
                   list_filter(list_transform(
                       regexp_split_to_array(text, '[.!?]+'),
                       s -> trim(s)), s -> s <> '') AS ss
            FROM documents
        ),
        w AS (
            SELECT doc_id, ss,
                   list_transform(ss, s -> len(string_split(s, ' '))) AS wp
            FROM segs
        )
        SELECT doc_id,
               len(ss) AS n_sentences,
               coalesce(CAST(list_sum(wp) AS BIGINT), 0) AS n_sentence_words,
               CASE WHEN len(ss) > 0
                    THEN CAST(coalesce(CAST(list_sum(wp) AS BIGINT), 0)
                              AS DOUBLE) / len(ss)
                    ELSE 0.0 END AS avg_sentence_words,
               CASE WHEN len(ss) > 0 THEN list_max(wp) ELSE 0 END
                   AS max_sentence_words
        FROM w ORDER BY doc_id
    """,
        "cur_split_leakage": r"""
            WITH docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100010 AS doc_id, text FROM documents
                WHERE doc_id % 10 = 3
            ),
            a AS (
                SELECT CASE WHEN doc_id % 100 < 10 THEN 'test'
                            WHEN doc_id % 100 < 20 THEN 'val'
                            ELSE 'train' END AS split,
                       md5(trim(regexp_replace(lower(text),
                                               '\s+', ' ', 'g'))) AS fp
                FROM docs
            ),
            d AS (SELECT DISTINCT split, fp FROM a),
            leaks AS (
                SELECT x.split AS split_a, y.split AS split_b,
                       COUNT(*) AS n_leaked_contents
                FROM d x JOIN d y ON x.fp = y.fp AND x.split < y.split
                GROUP BY 1, 2
            ),
            totals AS (
                SELECT split AS split_a, COUNT(*) AS n_contents_a
                FROM d GROUP BY split
            )
            SELECT l.split_a, l.split_b, l.n_leaked_contents,
                   t.n_contents_a
            FROM leaks l JOIN totals t USING (split_a)
            ORDER BY split_a, split_b
        """,
        "ts_quality_audit": """
            WITH agg AS (
                SELECT count(*) AS n_rows,
                    count(*) FILTER (event_id IS NULL) AS null_event_id,
                    count(*) FILTER (ts IS NULL) AS null_ts,
                    count(*) FILTER (user_id IS NULL) AS null_user_id,
                    count(*) FILTER (event_type IS NULL) AS null_event_type,
                    count(*) FILTER (value IS NULL) AS null_value,
                    count(*) FILTER (props IS NULL) AS null_props,
                    count(DISTINCT event_id) AS d_event_id,
                    count(DISTINCT user_id) AS d_user_id,
                    count(DISTINCT event_type) AS d_event_type,
                    count(*) FILTER (value < 0) AS v_value_lt_0,
                    count(*) FILTER (value > 1000) AS v_value_gt_1000,
                    count(*) FILTER (event_type NOT IN
                        ('click','view','purchase','signup','error'))
                        AS v_type_unknown,
                    count(*) - count(DISTINCT event_id) AS v_dup_event_id
                FROM events
            )
            SELECT rule, CAST(n AS BIGINT) AS n FROM (
                SELECT 'rows:total' AS rule, n_rows AS n FROM agg
                UNION ALL SELECT 'null:event_id', null_event_id FROM agg
                UNION ALL SELECT 'null:ts', null_ts FROM agg
                UNION ALL SELECT 'null:user_id', null_user_id FROM agg
                UNION ALL SELECT 'null:event_type', null_event_type FROM agg
                UNION ALL SELECT 'null:value', null_value FROM agg
                UNION ALL SELECT 'null:props', null_props FROM agg
                UNION ALL SELECT 'distinct:event_id', d_event_id FROM agg
                UNION ALL SELECT 'distinct:user_id', d_user_id FROM agg
                UNION ALL SELECT 'distinct:event_type', d_event_type FROM agg
                UNION ALL SELECT 'violation:value_lt_0', v_value_lt_0 FROM agg
                UNION ALL SELECT 'violation:value_gt_1000',
                                 v_value_gt_1000 FROM agg
                UNION ALL SELECT 'violation:event_type_unknown',
                                 v_type_unknown FROM agg
                UNION ALL SELECT 'violation:duplicate_event_id',
                                 v_dup_event_id FROM agg
            ) ORDER BY rule
        """,
        "ts_churn_labels": """
            WITH ref AS (SELECT max(ts) AS r FROM events)
            SELECT user_id, count(*) AS n_events, max(ts) AS last_ts,
                   count(DISTINCT date_trunc('day', ts)) AS n_active_days,
                   max(ts) < max(r) - INTERVAL 7 DAY AS churned
            FROM events, ref GROUP BY user_id ORDER BY user_id
        """,
        "ts_rollup_incremental": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_value
            FROM events GROUP BY hour, event_type
            ORDER BY hour, event_type
        """,
        "ts_mad_outliers": """
            WITH med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM events GROUP BY event_type
            ),
            wm AS (
                SELECT e.event_type, e.value, m.med
                FROM events e JOIN med m USING (event_type)
            ),
            mad AS (
                SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
                FROM wm GROUP BY event_type
            )
            SELECT wm.event_type, COUNT(*) AS n,
                   count(*) FILTER (abs(value - wm.med) > 3.0 * mad.mad)
                       AS n_outliers,
                   max(wm.med) AS median, max(mad.mad) AS mad
            FROM wm JOIN mad ON mad.event_type = wm.event_type
            GROUP BY wm.event_type ORDER BY wm.event_type
        """,
        "emb_hard_negatives": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS q_vec, label AS q_label
                FROM embeddings WHERE vec_id < 5
            ),
            pairs AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       e.label AS neighbor_label,
                       round(
                           list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.q_vec AS DOUBLE[]))
                           / (sqrt(list_dot_product(
                                  CAST(e.embedding AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(
                                  CAST(q.q_vec AS DOUBLE[]),
                                  CAST(q.q_vec AS DOUBLE[])))),
                           4) AS cosine_sim
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> q.query_id AND e.label <> q.q_label
            )
            SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
                   neighbor_label, cosine_sim
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                FROM pairs
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "doc_langid_confusion": """
            WITH pred AS (
                SELECT lang AS actual,
                    CASE
                        WHEN regexp_matches(text, '(^| )(der|die|das|und|nicht)( |$)') THEN 'de'
                        WHEN regexp_matches(text, '(^| )(el|los|las|una|por)( |$)') THEN 'es'
                        WHEN regexp_matches(text, '(^| )(le|les|des|une|est)( |$)') THEN 'fr'
                        WHEN regexp_matches(text, '[\u4e00-\u9fff]') THEN 'zh'
                        WHEN regexp_matches(text, '(^| )(the|a|and|of|to)( |$)') THEN 'en'
                        ELSE 'unknown'
                    END AS predicted
                FROM documents
            )
            SELECT actual, predicted, count(*) AS n,
                   actual = predicted AS is_hit
            FROM pred GROUP BY actual, predicted ORDER BY actual, predicted
        """,
        "ts_heavy_hitters": """
            WITH counts AS (
                SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
                       user_id, COUNT(*) AS n_events
                FROM events GROUP BY window_start, user_id
                HAVING COUNT(*) >= 4
            )
            SELECT window_start, user_id, n_events,
                   CAST(row_number() OVER (
                       PARTITION BY window_start
                       ORDER BY n_events DESC, user_id ASC) AS INTEGER)
                       AS rank
            FROM counts
            ORDER BY window_start, rank
        """,
        "doc_line_dedup": r"""
            WITH relined AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                           '(c) 2024 ' || source || ' syndication network',
                           regexp_replace(text, '((\S+ ){7}\S+) ',
                                          '\1' || chr(10), 'g'),
                           'unsubscribe: reply STOP to cancel') AS text
                FROM documents
            ),
            sp AS (
                SELECT doc_id, string_split(text, chr(10)) AS ls FROM relined
            ),
            lines AS (
                SELECT doc_id, unnest(ls) AS line,
                       unnest(range(1, len(ls) + 1)) AS pos
                FROM sp
            ),
            h AS (
                SELECT doc_id, pos, line, md5(trim(line)) AS lh FROM lines
            ),
            boiler AS (
                SELECT lh FROM h GROUP BY lh
                HAVING COUNT(DISTINCT doc_id) >= 4
            )
            SELECT h.doc_id,
                   COUNT(*) AS n_lines,
                   CAST(SUM(CASE WHEN b.lh IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept,
                   COALESCE(string_agg(
                       CASE WHEN b.lh IS NULL THEN h.line END,
                       chr(10) ORDER BY h.pos), '') AS kept_text
            FROM h LEFT JOIN boiler b ON h.lh = b.lh
            GROUP BY h.doc_id ORDER BY h.doc_id
        """,
        "doc_ngram_novelty": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            dg AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 2),
                    i -> array_to_string(ws[i + 1 : i + 3], ' ')))) AS gram
                FROM toks WHERE len(ws) >= 3
            ),
            fs AS (SELECT gram, MIN(doc_id) AS first_doc FROM dg GROUP BY gram)
            SELECT doc_id,
                   COUNT(*) AS n_grams,
                   CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   CAST(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0
                                 END) AS BIGINT) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS novelty
            FROM dg JOIN fs USING (gram)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "ts_lateness_audit": """
            WITH e AS (
                SELECT (event_id // 16) * 16 + 15 - event_id % 16 AS arr,
                       event_type, epoch_us(ts) AS us
                FROM events
            ),
            m AS (
                SELECT event_type, us,
                       max(us) OVER (ORDER BY arr
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS pre
                FROM e
            )
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CASE WHEN pre > us THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_late,
                   MAX(CASE WHEN pre > us THEN pre - us ELSE 0 END)
                       AS max_late_us,
                   CAST(SUM(CASE WHEN pre - us > 60000000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_late_gt_1m,
                   CAST(SUM(CASE WHEN pre - us > 3600000000 THEN 1 ELSE 0
                            END) AS BIGINT) AS n_late_gt_1h
            FROM m GROUP BY event_type ORDER BY event_type
        """,
        "ts_event_pmi": """
            WITH p AS (
                SELECT hour(ts) AS hour, event_type FROM events
            ),
            cxy AS (SELECT hour, event_type, COUNT(*) AS c_xy
                    FROM p GROUP BY hour, event_type),
            cx AS (SELECT hour, COUNT(*) AS c_x FROM p GROUP BY hour),
            cy AS (SELECT event_type, COUNT(*) AS c_y
                   FROM p GROUP BY event_type),
            cn AS (SELECT COUNT(*) AS c_n FROM p)
            SELECT cxy.hour, cxy.event_type, c_xy,
                   CAST(floor((
                       ((length(bin(c_xy)) - 1)
                        + (CAST(c_xy AS DOUBLE)
                           - power(2.0, CAST(length(bin(c_xy)) - 1 AS DOUBLE)))
                          / power(2.0, CAST(length(bin(c_xy)) - 1 AS DOUBLE)))
                       + ((length(bin(c_n)) - 1)
                        + (CAST(c_n AS DOUBLE)
                           - power(2.0, CAST(length(bin(c_n)) - 1 AS DOUBLE)))
                          / power(2.0, CAST(length(bin(c_n)) - 1 AS DOUBLE)))
                       - ((length(bin(c_x)) - 1)
                        + (CAST(c_x AS DOUBLE)
                           - power(2.0, CAST(length(bin(c_x)) - 1 AS DOUBLE)))
                          / power(2.0, CAST(length(bin(c_x)) - 1 AS DOUBLE)))
                       - ((length(bin(c_y)) - 1)
                        + (CAST(c_y AS DOUBLE)
                           - power(2.0, CAST(length(bin(c_y)) - 1 AS DOUBLE)))
                          / power(2.0, CAST(length(bin(c_y)) - 1 AS DOUBLE)))
                   ) * 1e6) AS BIGINT) AS pmi_ubits
            FROM cxy
            JOIN cx USING (hour)
            JOIN cy USING (event_type)
            CROSS JOIN cn
            ORDER BY cxy.hour, cxy.event_type
        """,
        "ts_asof_nearest": """
            WITH l AS (
                SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'purchase'
            ),
            r AS (
                SELECT user_id, ts, event_id AS click_id,
                       value AS click_value
                FROM events WHERE event_type = 'click'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                    ORDER BY event_id DESC) = 1
            ),
            m AS (
                SELECT l.event_id AS le, r.ts AS ts_right,
                       r.click_id AS click_id_right,
                       r.click_value AS click_value_right
                FROM l JOIN r ON l.user_id = r.user_id
                WHERE abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 86400000000
                QUALIFY row_number() OVER (PARTITION BY l.event_id
                    ORDER BY abs(epoch_us(l.ts) - epoch_us(r.ts)), r.ts) = 1
            )
            SELECT l.user_id, l.ts, l.event_id, l.value,
                   m.ts_right, m.click_id_right, m.click_value_right
            FROM l LEFT JOIN m ON m.le = l.event_id
            ORDER BY l.event_id
        """,
        "emb_matryoshka_recall": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
            ),
            e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
                FROM embeddings
            ),
            fullk AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.query_id, e.vec_id AS neighbor_id,
                           row_number() OVER (PARTITION BY q.query_id
                               ORDER BY round(list_dot_product(ev, qv)
                                   / (sqrt(list_dot_product(ev, ev))
                                      * sqrt(list_dot_product(qv, qv))), 4)
                                   DESC, e.vec_id ASC) AS rank
                    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
                ) WHERE rank <= 5
            ),
            t32 AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.query_id, e.vec_id AS neighbor_id,
                           row_number() OVER (PARTITION BY q.query_id
                               ORDER BY round(list_dot_product(ev[1:32], qv[1:32])
                                   / (sqrt(list_dot_product(ev[1:32], ev[1:32]))
                                      * sqrt(list_dot_product(qv[1:32], qv[1:32]))), 4)
                                   DESC, e.vec_id ASC) AS rank
                    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
                ) WHERE rank <= 5
            ),
            t16 AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.query_id, e.vec_id AS neighbor_id,
                           row_number() OVER (PARTITION BY q.query_id
                               ORDER BY round(list_dot_product(ev[1:16], qv[1:16])
                                   / (sqrt(list_dot_product(ev[1:16], ev[1:16]))
                                      * sqrt(list_dot_product(qv[1:16], qv[1:16]))), 4)
                                   DESC, e.vec_id ASC) AS rank
                    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
                ) WHERE rank <= 5
            ),
            h AS (
                SELECT 32 AS trunc_dims, f.query_id,
                       COUNT(*) AS n_exact, COUNT(t.neighbor_id) AS n_hits
                FROM fullk f LEFT JOIN t32 t
                  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
                GROUP BY f.query_id
                UNION ALL
                SELECT 16 AS trunc_dims, f.query_id,
                       COUNT(*) AS n_exact, COUNT(t.neighbor_id) AS n_hits
                FROM fullk f LEFT JOIN t16 t
                  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
                GROUP BY f.query_id
            )
            SELECT trunc_dims, query_id, n_exact, n_hits,
                   CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE)
                       AS recall_at_k
            FROM h ORDER BY trunc_dims DESC, query_id
        """,
        "mm_modality_mix": """
            WITH media AS (
                SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       octet_length(encode(text)) AS nbytes,
                       CASE WHEN doc_id % 3 <> 0
                            THEN 1000 + (doc_id % 10) * 500 END AS duration_ms,
                       CASE WHEN doc_id % 3 = 0
                            THEN (64 + doc_id % 4) * 64 END AS px
                FROM documents
            ),
            per AS (
                SELECT kind, COUNT(*) AS n_items,
                       CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
                       CAST(SUM(COALESCE(duration_ms, 0)) AS BIGINT)
                           AS total_duration_ms,
                       CAST(SUM(COALESCE(px, 0)) AS BIGINT) AS total_pixels
                FROM media GROUP BY kind
            ),
            tot AS (SELECT CAST(SUM(n_items) AS BIGINT) AS grand_total FROM per)
            SELECT kind, n_items, total_bytes, total_duration_ms,
                   total_pixels,
                   CAST(n_items AS DOUBLE) / CAST(grand_total AS DOUBLE)
                       AS item_share,
                   (10000 * n_items) // grand_total AS alloc_items
            FROM per CROSS JOIN tot ORDER BY kind
        """,
        "ts_basket_pmi": f"""
            WITH baskets AS (
                SELECT DISTINCT user_id,
                       epoch_us(ts) // 21600000000 AS bucket, event_type
                FROM events
            ),
            nb AS (
                SELECT COUNT(*) AS n_baskets FROM (
                    SELECT DISTINCT user_id, bucket FROM baskets)
            ),
            ct AS (SELECT event_type, COUNT(*) AS c_t
                   FROM baskets GROUP BY event_type),
            cab AS (
                SELECT a.event_type AS type_a, b.event_type AS type_b,
                       COUNT(*) AS c_ab
                FROM baskets a JOIN baskets b
                  ON a.user_id = b.user_id AND a.bucket = b.bucket
                 AND a.event_type < b.event_type
                GROUP BY type_a, type_b
            )
            SELECT type_a, type_b, c_ab,
                   CAST(floor((
                       {_plog2_sql('c_ab')} + {_plog2_sql('n_baskets')}
                       - {_plog2_sql('ca.c_t')} - {_plog2_sql('cb.c_t')}
                   ) * 1e6) AS BIGINT) AS pmi_ubits
            FROM cab
            JOIN ct ca ON ca.event_type = type_a
            JOIN ct cb ON cb.event_type = type_b
            CROSS JOIN nb
            ORDER BY type_a, type_b
        """,
        # Recursive CTE replay of the sequential cooldown scan: each
        # iteration's working table holds the last-kept row per user; the
        # next kept row is the min-rn event >= last_kept + 1h. Exact twin
        # of events_ops.debounce (which which-rows-survive depends on
        # earlier survivors — no window function can express it).
        "ts_debounce": """
            WITH RECURSIVE ev AS (
                SELECT user_id, ts, event_id, value, epoch_us(ts) AS ts_us,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ),
            kept AS (
                SELECT user_id, ts, event_id, value, ts_us, rn
                FROM ev WHERE rn = 1
                UNION ALL
                SELECT user_id, ts, event_id, value, ts_us, rn FROM (
                    SELECT e.user_id, e.ts, e.event_id, e.value,
                           e.ts_us, e.rn,
                           ROW_NUMBER() OVER (PARTITION BY e.user_id
                                              ORDER BY e.rn) AS rr
                    FROM ev e JOIN kept k
                      ON e.user_id = k.user_id AND e.rn > k.rn
                     AND e.ts_us >= k.ts_us + 3600000000
                ) WHERE rr = 1
            )
            SELECT user_id, ts, event_id, value
            FROM kept ORDER BY user_id, ts, event_id
        """,
        # Exact replay of similarity.margin_pairs at the registered
        # injection: cosines as round-half-away micro-units, top-4 sums,
        # pure-integer ratio margin, mutual-best flag. CROSS JOIN here is
        # the oracle's luxury — the Spark side never shuffles the |A|·|B|
        # matrix (broadcast GEMM + k-bounded partials).
        "emb_margin_pairs": """
            WITH a AS (
                SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE label = 0
            ),
            b AS (
                SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE label = 1
                UNION ALL
                SELECT vec_id + 200000, CAST(embedding AS DOUBLE[])
                FROM embeddings WHERE label = 0 AND vec_id % 10 = 0
            ),
            pairs AS (
                SELECT a_id, b_id,
                    CAST(round(10000 * list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 0)
                        AS BIGINT) AS cos_u
                FROM a CROSS JOIN b
            ),
            fwd AS (SELECT *, row_number() OVER (
                        PARTITION BY a_id ORDER BY cos_u DESC, b_id) AS r
                    FROM pairs),
            bwd AS (SELECT *, row_number() OVER (
                        PARTITION BY b_id ORDER BY cos_u DESC, a_id) AS r
                    FROM pairs),
            asum AS (SELECT a_id, SUM(cos_u) AS sa FROM fwd
                     WHERE r <= 4 GROUP BY a_id),
            bsum AS (SELECT b_id, SUM(cos_u) AS sb FROM bwd
                     WHERE r <= 4 GROUP BY b_id),
            f1 AS (SELECT a_id, b_id, cos_u FROM fwd WHERE r = 1),
            b1 AS (SELECT b_id, a_id AS best_a FROM bwd WHERE r = 1),
            sel AS (
                SELECT f1.a_id, f1.b_id, f1.cos_u,
                       CAST((2 * 4 * f1.cos_u * 1000000) // (sa + sb)
                           AS BIGINT) AS margin_u,
                       (b1.best_a = f1.a_id) AS mutual
                FROM f1
                JOIN asum USING (a_id) JOIN bsum USING (b_id)
                JOIN b1 ON b1.b_id = f1.b_id
                WHERE sa + sb > 0
            )
            SELECT * FROM sel WHERE margin_u >= 1020000 ORDER BY a_id
        """,
        # LSH scale mode: SRP buckets (8 planes × 6 bands) + integer dots
        # replayed relationally — candidate set, cos_u, and the
        # generalized candidate-top-k margin are ALL integer-derived, so
        # the match is bit-exact (no GEMM rounding reliance)
        "emb_margin_pairs_lsh": f"""
            WITH embu AS (
                SELECT vec_id, embedding, label FROM embeddings
                UNION ALL
                SELECT vec_id + 200000, embedding, 1
                FROM embeddings WHERE label = 0 AND vec_id % 10 = 0
            ),
            {_cosine_bucket_ctes(8, 6, src="embu")},
            norms AS (SELECT vec_id, SUM(q * q) AS nq FROM dims GROUP BY vec_id),
            lab AS (SELECT vec_id, label FROM embu),
            ba AS (SELECT vec_id AS a_id, band, bucket
                   FROM buckets JOIN lab USING (vec_id) WHERE label = 0),
            bb AS (SELECT vec_id AS b_id, band, bucket
                   FROM buckets JOIN lab USING (vec_id) WHERE label = 1),
            cand AS (SELECT DISTINCT a_id, b_id FROM ba JOIN bb USING (band, bucket)),
            na AS (SELECT vec_id AS a_id, nq AS naa FROM norms
                   JOIN lab USING (vec_id) WHERE label = 0 AND nq > 0),
            nb AS (SELECT vec_id AS b_id, nq AS nbb FROM norms
                   JOIN lab USING (vec_id) WHERE label = 1 AND nq > 0),
            pdots AS (
                SELECT c.a_id, c.b_id, SUM(da.q * db.q) AS dab
                FROM cand c
                JOIN dims da ON da.vec_id = c.a_id
                JOIN dims db ON db.vec_id = c.b_id AND db.d = da.d
                GROUP BY c.a_id, c.b_id
            ),
            scored AS (
                SELECT p.a_id, p.b_id,
                       CAST(round(10000 * (CAST(dab AS DOUBLE)
                            / (sqrt(CAST(naa AS DOUBLE))
                               * sqrt(CAST(nbb AS DOUBLE)))), 0)
                           AS BIGINT) AS cos_u
                FROM pdots p JOIN na USING (a_id) JOIN nb USING (b_id)
            ),
            fwd AS (SELECT *, row_number() OVER (
                        PARTITION BY a_id ORDER BY cos_u DESC, b_id) AS r
                    FROM scored),
            bwd AS (SELECT *, row_number() OVER (
                        PARTITION BY b_id ORDER BY cos_u DESC, a_id) AS r
                    FROM scored),
            aagg AS (SELECT a_id, SUM(cos_u) AS sa, COUNT(*) AS ca
                     FROM fwd WHERE r <= 4 GROUP BY a_id),
            bagg AS (SELECT b_id, SUM(cos_u) AS sb, COUNT(*) AS cb
                     FROM bwd WHERE r <= 4 GROUP BY b_id),
            f1 AS (SELECT a_id, b_id, cos_u FROM fwd WHERE r = 1),
            b1 AS (SELECT b_id, a_id AS best_a FROM bwd WHERE r = 1),
            sel AS (
                SELECT f1.a_id, f1.b_id, f1.cos_u,
                       CAST((2 * ca * cb * f1.cos_u * 1000000)
                           // (cb * sa + ca * sb) AS BIGINT) AS margin_u,
                       (b1.best_a = f1.a_id) AS mutual
                FROM f1
                JOIN aagg USING (a_id) JOIN bagg USING (b_id)
                JOIN b1 ON b1.b_id = f1.b_id
                WHERE f1.cos_u > 0 AND cb * sa + ca * sb > 0
            )
            SELECT * FROM sel WHERE margin_u >= 1020000 ORDER BY a_id
        """,
        # bucket-occupancy rollup over the same SRP bucket CTEs the LSH
        # operators join on — all integer
        "emb_lsh_balance": f"""
            WITH {_cosine_bucket_ctes(8, 6)},
            pb AS (SELECT band, bucket, COUNT(*) AS c
                   FROM buckets GROUP BY band, bucket)
            SELECT band,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   CAST(MAX(c) AS BIGINT) AS max_bucket_rows,
                   CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
                   CAST((MAX(c) * 1000000 // SUM(c)) * COUNT(*)
                    + ((MAX(c) * 1000000 % SUM(c)) * COUNT(*)) // SUM(c)
                    AS BIGINT)
                       AS imbalance_ppm
            FROM pb GROUP BY band ORDER BY band
        """,
        # per-shape replay of the plane-count decision table: three
        # bucket-CTE subqueries unioned, shape totals, budget verdict,
        # recommended = smallest fitting n_planes (coalesce false when
        # none fits) — mirrors similarity.lsh_plane_plan exactly
        "emb_lsh_plan": f"""
            WITH allshapes AS (
            SELECT * FROM (
                WITH {_cosine_bucket_ctes(8, 6)},
                pb AS (SELECT band, bucket, COUNT(*) AS c
                       FROM buckets GROUP BY band, bucket)
                SELECT CAST(8 AS INTEGER) AS n_planes, band,
                       CAST(SUM(c) AS BIGINT) AS n_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_buckets,
                       CAST(MAX(c) AS BIGINT) AS max_bucket_rows,
                       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
                       CAST((MAX(c) * 1000000 // SUM(c)) * COUNT(*)
                    + ((MAX(c) * 1000000 % SUM(c)) * COUNT(*)) // SUM(c)
                    AS BIGINT)
                           AS imbalance_ppm
                FROM pb GROUP BY band
            )
            UNION ALL
            SELECT * FROM (
                WITH {_cosine_bucket_ctes(12, 6)},
                pb AS (SELECT band, bucket, COUNT(*) AS c
                       FROM buckets GROUP BY band, bucket)
                SELECT CAST(12 AS INTEGER) AS n_planes, band,
                       CAST(SUM(c) AS BIGINT) AS n_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_buckets,
                       CAST(MAX(c) AS BIGINT) AS max_bucket_rows,
                       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
                       CAST((MAX(c) * 1000000 // SUM(c)) * COUNT(*)
                    + ((MAX(c) * 1000000 % SUM(c)) * COUNT(*)) // SUM(c)
                    AS BIGINT)
                           AS imbalance_ppm
                FROM pb GROUP BY band
            )
            UNION ALL
            SELECT * FROM (
                WITH {_cosine_bucket_ctes(16, 6)},
                pb AS (SELECT band, bucket, COUNT(*) AS c
                       FROM buckets GROUP BY band, bucket)
                SELECT CAST(16 AS INTEGER) AS n_planes, band,
                       CAST(SUM(c) AS BIGINT) AS n_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_buckets,
                       CAST(MAX(c) AS BIGINT) AS max_bucket_rows,
                       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
                       CAST((MAX(c) * 1000000 // SUM(c)) * COUNT(*)
                    + ((MAX(c) * 1000000 % SUM(c)) * COUNT(*)) // SUM(c)
                    AS BIGINT)
                           AS imbalance_ppm
                FROM pb GROUP BY band
            )
            ),
            tot AS (
                SELECT n_planes,
                       CAST(SUM(cand_pairs) AS BIGINT) AS shape_cand_pairs
                FROM allshapes GROUP BY n_planes
            ),
            tot2 AS (
                SELECT *, shape_cand_pairs <= 2000 AS within_budget
                FROM tot
            ),
            best AS (
                SELECT min(CASE WHEN within_budget THEN n_planes END) AS b
                FROM tot2
            )
            SELECT a.n_planes, a.band, a.n_rows, a.n_buckets,
                   a.max_bucket_rows, a.cand_pairs, a.imbalance_ppm,
                   t.shape_cand_pairs, t.within_budget,
                   coalesce(a.n_planes = best.b, FALSE) AS recommended
            FROM allshapes a JOIN tot2 t USING (n_planes), best
            ORDER BY a.n_planes, a.band
        """,
        # KMV sketches replayed exactly: FNV fingerprints mod 2^31-1,
        # per-source bottom-64 window, pair-merged top-64, estimator CASEs
        # est-only mode of the KMV overlap estimator — the benched/100 TB
        # mode (no exact audit join); same CTE chain, cut at est2
        "dedup_kmv_overlap_est": f"""
            {_kmv_overlap_ctes()}
            SELECT src_a, src_b, m, est_union, est_intersection
            FROM est2 ORDER BY src_a, src_b
        """,
        "dedup_kmv_overlap": f"""
            {_kmv_overlap_ctes()},
            ex AS (
                SELECT a.src AS src_a, b.src AS src_b,
                       CAST(COUNT(*) AS BIGINT) AS exact_intersection
                FROM fp a JOIN fp b ON a.h = b.h AND a.src < b.src
                GROUP BY 1, 2
            )
            SELECT e.src_a, e.src_b, m, est_union, est_intersection,
                   COALESCE(exact_intersection, 0) AS exact_intersection,
                   CAST(abs(est_intersection - COALESCE(exact_intersection, 0))
                        * 1000000
                        // greatest(COALESCE(exact_intersection, 0), 1)
                       AS BIGINT) AS err_ppm
            FROM est2 e LEFT JOIN ex USING (src_a, src_b)
            ORDER BY src_a, src_b
        """,
        # per-source bottom-16 sketch + estimator CASE, exact twin + err
        "dedup_kmv_distinct": f"""
            WITH normd AS (
                SELECT source AS src,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                FROM documents
            ),
            fp AS (
                SELECT DISTINCT src,
                       CAST({_H.fnv_sql_duckdb('t')} % 2147483647 AS BIGINT) AS h
                FROM normd
            ),
            sk AS (
                SELECT src, h FROM (
                    SELECT src, h,
                           row_number() OVER (PARTITION BY src ORDER BY h) AS r
                    FROM fp
                ) WHERE r <= 16
            ),
            est AS (
                SELECT src, CAST(COUNT(*) AS BIGINT) AS m,
                       CAST(MAX(h) AS BIGINT) AS u_k
                FROM sk GROUP BY src
            ),
            est2 AS (
                SELECT src, m, u_k,
                       CAST(CASE WHEN m < 16 THEN m
                            ELSE CAST(15 AS BIGINT) * 2147483647 // u_k
                            END AS BIGINT) AS est_distinct
                FROM est
            ),
            ex AS (
                SELECT src, CAST(COUNT(*) AS BIGINT) AS exact_distinct
                FROM fp GROUP BY src
            )
            SELECT e.src AS source, m, u_k, est_distinct, exact_distinct,
                   CAST(abs(est_distinct - exact_distinct) * 1000000
                        // greatest(exact_distinct, 1) AS BIGINT) AS err_ppm
            FROM est2 e JOIN ex USING (src) ORDER BY source
        """,
        # per-domain bigram xent (same piecewise-log2 chain as
        # doc_bigram_xent, grouped by source), exponential integer levels,
        # ppm-normalized weights
        "cur_domain_reweight": """
            WITH toks AS (
                SELECT source, string_split(text, ' ') AS ws FROM documents
            ),
            db AS (
                SELECT source, unnest(list_transform(
                           range(0, len(ws) - 1),
                           i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
                FROM toks WHERE len(ws) >= 2
            ),
            uni AS (
                SELECT w1, COUNT(*) AS c1 FROM (
                    SELECT unnest(ws) AS w1 FROM toks
                ) GROUP BY w1
            ),
            bi AS (SELECT bigram, COUNT(*) AS c2 FROM db GROUP BY bigram),
            j AS (
                SELECT db.source,
                       (length(bin(c1)) - 1)
                           + (CAST(c1 AS DOUBLE) - power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)))
                             / power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)) AS l1,
                       (length(bin(c2)) - 1)
                           + (CAST(c2 AS DOUBLE) - power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)))
                             / power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)) AS l2
                FROM db
                JOIN bi USING (bigram)
                JOIN uni ON uni.w1 = string_split(db.bigram, ' ')[1]
            ),
            pd AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                       CAST(SUM(CAST(floor((l1 - l2) * 1e9) AS BIGINT))
                           AS BIGINT) AS q
                FROM j GROUP BY source
            ),
            pd2 AS (
                SELECT *, CAST(q // n_bigrams // 1000 AS BIGINT)
                           AS mean_xent_ubits
                FROM pd
            ),
            fl AS (SELECT MIN(mean_xent_ubits) AS f FROM pd2),
            lv AS (
                SELECT pd2.*, CAST(least(
                           (mean_xent_ubits - f) // 100000, 6) AS INTEGER)
                           AS level
                FROM pd2, fl
            ),
            w AS (SELECT *, CAST(1 AS BIGINT) << level AS wr FROM lv),
            t AS (SELECT SUM(wr) AS tot FROM w)
            SELECT source, n_bigrams, mean_xent_ubits, level,
                   CAST(wr * 1000000 // tot AS BIGINT) AS weight_ppm
            FROM w, t ORDER BY source
        """,
        # corpus-wide min-id-wins exact dedup priced in tokens, per-source
        # + __total__; injected copies replayed in the docs2 CTE
        "dedup_token_inflation": """
            WITH docs2 AS (
                SELECT doc_id, text, source FROM documents
                UNION ALL
                SELECT doc_id + 500000, text,
                       'src' || CAST(doc_id % 3 AS VARCHAR)
                FROM documents WHERE doc_id % 37 = 0
            ),
            fp AS (
                SELECT source AS grp, doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                           AS f,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                FROM docs2
            ),
            keep AS (SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f),
            mk AS (
                SELECT grp, fp.doc_id, n_tok,
                       CASE WHEN fp.doc_id <> keep_id THEN 1 ELSE 0 END AS is_dup
                FROM fp JOIN keep USING (f)
            ),
            ps AS (
                SELECT grp, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens,
                       SUM(is_dup) AS n_dup_docs,
                       SUM(is_dup * n_tok) AS dup_tokens
                FROM mk GROUP BY grp
                UNION ALL
                SELECT '__total__', COUNT(*), SUM(n_tok), SUM(is_dup),
                       SUM(is_dup * n_tok)
                FROM mk
            )
            SELECT grp AS source,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
                   CAST(dup_tokens AS BIGINT) AS dup_tokens,
                   CAST((dup_tokens::HUGEINT * 1000000)
                        // greatest(n_tokens, 1) AS BIGINT)
                       AS inflation_ppm
            FROM ps ORDER BY source
        """,
        # LCG order key replayed verbatim; per-shard ROW_NUMBER = the
        # per-shard sort
        "cur_epoch_shuffle": """
            WITH keyed AS (
                SELECT doc_id,
                       (1103515245 * ((1103515245 * (doc_id + 1 * 1000003)
                            + 12345) % 2147483647) + 12345) % 2147483647
                           AS order_key
                FROM documents
            ),
            sharded AS (
                SELECT doc_id, order_key,
                       CAST(order_key % 8 AS INTEGER) AS shard
                FROM keyed
            )
            SELECT shard,
                   CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY order_key, doc_id)
                       AS BIGINT) AS pos,
                   doc_id, order_key
            FROM sharded ORDER BY shard, pos
        """,
        # TextRank replay: same vocabulary cut, adjacency lag window,
        # symmetrized weighted edges, and 3 unrolled integer power
        # iterations (every contribution is BIGINT floor division —
        # bit-exact despite 'iterative' semantics)
        "doc_textrank": (
            """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            toks AS (
                SELECT doc_id, i AS pos, ws[i + 1] AS token
                FROM t, unnest(range(0, len(ws))) AS u(i)
            ),
            vocab AS (
                SELECT token FROM toks GROUP BY token
                ORDER BY count(*) DESC, token LIMIT 50
            ),
            adj AS (
                SELECT prev, token FROM (
                    SELECT token, lag(token) OVER (
                        PARTITION BY doc_id ORDER BY pos) AS prev
                    FROM toks
                ) WHERE prev IS NOT NULL AND prev <> token
                  AND token IN (SELECT token FROM vocab)
                  AND prev IN (SELECT token FROM vocab)
            ),
            und AS (
                SELECT prev AS src, token AS dst FROM adj
                UNION ALL
                SELECT token AS src, prev AS dst FROM adj
            ),
            edges AS (
                SELECT src, dst, CAST(count(*) AS BIGINT) AS w
                FROM und GROUP BY src, dst
            ),
            outw AS (
                SELECT src, CAST(SUM(w) AS BIGINT) AS wout
                FROM edges GROUP BY src
            ),
            e AS (SELECT edges.src, dst, w, wout
                  FROM edges JOIN outw USING (src)),
            r0 AS (SELECT token, CAST(1000000 AS BIGINT) AS rank_u
                   FROM vocab)
            """
            + "".join(
                f""",
            r{i} AS (
                SELECT v.token,
                       CAST(150000 + (85 * COALESCE(s, 0)) // 100
                           AS BIGINT) AS rank_u
                FROM vocab v LEFT JOIN (
                    SELECT dst, CAST(SUM((rank_u * w) // wout) AS BIGINT)
                        AS s
                    FROM e JOIN r{i - 1} ON r{i - 1}.token = e.src
                    GROUP BY dst
                ) inc ON inc.dst = v.token
            )"""
                for i in (1, 2, 3)
            )
            + """
            SELECT token, rank_u FROM r3 ORDER BY rank_u DESC, token
        """
        ),
        "ts_funnel_steps": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
                SELECT e.user_id, t1, min(ts) AS t2
                FROM events e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND ts > t1
                GROUP BY e.user_id, t1
            ),
            s3 AS (
                SELECT e.user_id, min(ts) AS t3
                FROM events e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND ts > t2
                GROUP BY e.user_id
            ),
            counts AS (
                SELECT 1 AS step, 'view' AS event_type,
                       CAST(count(*) AS BIGINT) AS n_users FROM s1
                UNION ALL SELECT 2, 'click', count(*) FROM s2
                UNION ALL SELECT 3, 'purchase', count(*) FROM s3
            ),
            fst AS (SELECT n_users AS n_first FROM counts WHERE step = 1),
            prv AS (SELECT step + 1 AS step, n_users AS n_prev FROM counts)
            SELECT c.step, c.event_type, c.n_users,
                   CAST(COALESCE(
                       (c.n_users * 1000000) // NULLIF(n_first, 0), 0)
                       AS BIGINT) AS ppm_of_first,
                   CAST(COALESCE(
                       (c.n_users * 1000000) // NULLIF(n_prev, 0), 1000000)
                       AS BIGINT) AS ppm_of_prev
            FROM counts c CROSS JOIN fst LEFT JOIN prv USING (step)
            ORDER BY c.step
        """,
        # z-order replay: step-based integer quantization + Morton
        # interleave as disjoint power-of-two terms (same arithmetic as
        # sources/zorder.py with // for div)
        "ts_zorder_keys": (
            lambda bits=8, n=256: """
            WITH b AS (
                SELECT min(user_id) AS amin, max(user_id) AS amax,
                       min(epoch_us(ts)) AS bmin, max(epoch_us(ts)) AS bmax
                FROM events
            ),
            k AS (
                SELECT event_id,
                       least(((user_id - amin) * {n1})
                           // greatest(amax - amin, 1), {n1}) AS q_a,
                       least(((epoch_us(ts) - bmin) * {n1})
                           // greatest(bmax - bmin, 1), {n1}) AS q_b
                FROM events CROSS JOIN b
            )
            SELECT event_id, CAST(q_a AS BIGINT) AS q_a,
                   CAST(q_b AS BIGINT) AS q_b,
                   CAST({inter} AS BIGINT) AS zkey
            FROM k ORDER BY event_id
        """.format(
                n=n,
                n1=n - 1,
                inter=" + ".join(
                    f"((q_a // {1 << i}) % 2) * {1 << (2 * i + 1)} + "
                    f"((q_b // {1 << i}) % 2) * {1 << (2 * i)}"
                    for i in range(bits)
                ),
            )
        )(),
        "ts_attribution_linear": """
            WITH p AS (
                SELECT user_id, ts AS p_ts, event_id AS p_id
                FROM events WHERE event_type = 'purchase'
            ),
            t AS (
                SELECT user_id AS t_user, ts AS t_ts,
                       event_type AS channel
                FROM events
                WHERE event_type IN ('view', 'click', 'signup')
            ),
            j AS (
                SELECT p_id, channel FROM p JOIN t ON user_id = t_user
                 AND t_ts <= p_ts
                 AND t_ts >= p_ts - INTERVAL '24 hours'
            ),
            np AS (
                SELECT p_id, CAST(count(*) AS BIGINT) AS n_t
                FROM j GROUP BY p_id
            )
            SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
                   CAST(count(DISTINCT j.p_id) AS BIGINT)
                       AS n_conversions_touched,
                   CAST(SUM(1000000 // np.n_t) AS BIGINT)
                       AS total_credit_ppm
            FROM j JOIN np USING (p_id)
            GROUP BY channel ORDER BY channel
        """,
        "ts_snapshot_diff": """
            WITH o AS (
                SELECT event_id,
                       md5(concat_ws(chr(1),
                           coalesce(CAST(user_id AS VARCHAR),
                                    chr(0) || 'null'),
                           coalesce(CAST(event_type AS VARCHAR),
                                    chr(0) || 'null'))) AS old_hash
                FROM events WHERE event_id % 3 <> 0
            ),
            n AS (
                SELECT event_id,
                       md5(concat_ws(chr(1),
                           coalesce(CAST(user_id AS VARCHAR),
                                    chr(0) || 'null'),
                           coalesce(CAST(
                               CASE WHEN event_id % 5 = 0
                                    THEN event_type || '_v2'
                                    ELSE event_type END AS VARCHAR),
                               chr(0) || 'null'))) AS new_hash
                FROM events WHERE event_id % 3 <> 1
            )
            SELECT COALESCE(o.event_id, n.event_id) AS event_id,
                   old_hash, new_hash,
                   CASE WHEN old_hash IS NULL THEN 'added'
                        WHEN new_hash IS NULL THEN 'removed'
                        WHEN old_hash <> new_hash THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
            ORDER BY event_id
        """,
        # BPE training replay: same symbolization, same doubled-space
        # merge trick, 3 unrolled argmax+merge rounds
        "doc_bpe_train": (
            """
            WITH w0 AS (
                SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g'))
                           AS syms,
                       CAST(count(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS word
                      FROM documents)
                WHERE length(word) > 0 GROUP BY 1
            )"""
            + "".join(
                f""",
            p{i} AS (
                SELECT ws[j] AS left_sym, ws[j + 1] AS right_sym,
                       CAST(SUM(n) AS BIGINT) AS pair_count
                FROM (SELECT string_split(syms, ' ') AS ws, n
                      FROM w{i - 1}) t,
                     unnest(range(1, len(ws))) AS u(j)
                GROUP BY 1, 2
            ),
            t{i} AS (
                SELECT CAST({i} AS INTEGER) AS merge_round, left_sym,
                       right_sym, left_sym || right_sym AS merged,
                       pair_count
                FROM p{i}
                ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
            ),
            w{i} AS (
                SELECT CASE WHEN left_sym IS NULL THEN syms ELSE
                           trim(replace(replace(
                           ' ' || replace(syms, ' ', '  ') || ' ',
                           ' ' || left_sym || '  ' || right_sym || ' ',
                           ' ' || left_sym || right_sym || ' '),
                           '  ', ' ')) END AS syms,
                       n
                FROM w{i - 1} LEFT JOIN t{i} ON TRUE
            )"""
                for i in (1, 2, 3)
            )
            + """
            SELECT * FROM t1 UNION ALL SELECT * FROM t2
            UNION ALL SELECT * FROM t3 ORDER BY merge_round
        """
        ),
        # Horner code-point fold replayed with list_reduce; ord() via
        # unicode() codepoint
        "doc_hash_embed": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ),
            hashed AS (
                SELECT doc_id,
                       CAST(list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                               string_split_regex(token, ''),
                               ch -> CAST(unicode(ch) AS BIGINT))),
                           (acc, c) -> (acc * 1000003 + c) % 2147483647)
                           % 32 AS INTEGER) AS bucket
                FROM toks WHERE length(token) > 0
            )
            SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM hashed GROUP BY doc_id, bucket
            ORDER BY doc_id, bucket
        """,
        "ts_active_users": """
            WITH days AS (
                SELECT DISTINCT user_id, date_trunc('day', ts) AS day
                FROM events
            ),
            dau AS (
                SELECT day, CAST(count(*) AS BIGINT) AS dau
                FROM days GROUP BY day
            ),
            member AS (
                SELECT DISTINCT user_id, wday FROM days,
                    unnest(generate_series(day,
                        day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS t(wday)
            ),
            wau AS (
                SELECT wday, CAST(count(*) AS BIGINT) AS wau
                FROM member GROUP BY wday
            )
            SELECT day, dau, wau,
                   CAST((dau * 1000000) // wau AS BIGINT)
                       AS stickiness_ppm
            FROM dau JOIN wau ON wau.wday = dau.day
            ORDER BY day
        """,
        "doc_url_domains": """
            WITH docs AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' see https://www.site'
                                 || CAST(doc_id % 5 AS VARCHAR)
                                 || '.example.com/page/'
                                 || CAST(doc_id AS VARCHAR)
                            ELSE text END AS text
                FROM documents
            ),
            u AS (
                SELECT doc_id, unnest(regexp_extract_all(
                           text, 'https?://[^ ]+', 0)) AS url
                FROM docs
            ),
            h AS (
                SELECT doc_id,
                       regexp_replace(regexp_extract(
                           url, 'https?://([^/ ]+)', 1),
                           '^www\\.', '') AS domain
                FROM u
            )
            SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM h GROUP BY domain
            ORDER BY n_urls DESC, domain LIMIT 50
        """,
        "mm_token_budget": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       CASE doc_id % 3 WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       CASE WHEN doc_id % 3 = 0
                            THEN 64 + doc_id % 4 END AS width,
                       CASE WHEN doc_id % 3 = 0 THEN 64 END AS height,
                       CASE WHEN doc_id % 3 <> 0
                            THEN 1000 + (doc_id % 10) * 500
                            END AS duration_ms,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                           AS text_tokens
                FROM documents
            ),
            b AS (
                SELECT media_id, kind, text_tokens,
                       CASE WHEN kind = 'image'
                            THEN ((width + 31) // 32) * ((height + 31) // 32)
                            ELSE 0 END AS n_tiles,
                       CASE WHEN kind = 'audio'
                            THEN (duration_ms + 79) // 80
                            ELSE 0 END AS audio_tokens,
                       CASE WHEN kind = 'video'
                            THEN ((duration_ms + 999) // 1000) * 2
                            ELSE 0 END AS video_tokens
                FROM m
            )
            SELECT media_id, kind, text_tokens,
                   CAST(n_tiles * 85 AS BIGINT) AS image_tokens,
                   CAST(audio_tokens AS BIGINT) AS audio_tokens,
                   CAST(video_tokens AS BIGINT) AS video_tokens,
                   CAST(text_tokens + n_tiles * 85 + audio_tokens
                        + video_tokens AS BIGINT) AS total_tokens
            FROM b ORDER BY media_id
        """,
        "doc_quality_pct": """
            WITH s AS (
                SELECT doc_id, source,
                       0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                           + 0.5 * (1.0 - CAST(len(list_filter(
                               string_split(text, ' '),
                               w -> w IN ('the', 'a', 'and', 'of', 'to')))
                               AS DOUBLE)
                               / len(string_split(text, ' ')))
                           AS quality_score
                FROM documents
            ),
            r AS (
                SELECT doc_id, source, quality_score,
                       CAST(row_number() OVER (PARTITION BY source
                           ORDER BY quality_score, doc_id) AS BIGINT)
                           AS rank,
                       CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                           AS n
                FROM s
            )
            SELECT doc_id, source, quality_score, rank,
                   CAST(((rank - 1) * 1000000) // greatest(n - 1, 1)
                       AS BIGINT) AS pct_ppm
            FROM r ORDER BY doc_id
        """,
        "doc_length_profile": """
            WITH ranked AS (
                SELECT source, n_chars, doc_id,
                       row_number() OVER (
                           PARTITION BY source ORDER BY n_chars, doc_id)
                           AS rn
                FROM documents
            ),
            stats AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       min(n_chars) AS min_chars,
                       max(n_chars) AS max_chars,
                       CAST(sum(n_chars) AS BIGINT) AS total_chars
                FROM documents GROUP BY source
            ),
            q AS (
                SELECT r.source,
                       max(CASE WHEN rn = (50 * n_docs + 99) // 100
                                THEN n_chars END) AS p50_chars,
                       max(CASE WHEN rn = (90 * n_docs + 99) // 100
                                THEN n_chars END) AS p90_chars,
                       max(CASE WHEN rn = (99 * n_docs + 99) // 100
                                THEN n_chars END) AS p99_chars
                FROM ranked r JOIN stats s ON r.source = s.source
                GROUP BY r.source
            )
            SELECT s.source, n_docs, min_chars, max_chars, total_chars,
                   p50_chars, p90_chars, p99_chars
            FROM stats s JOIN q ON q.source = s.source ORDER BY s.source
        """,
        "doc_oov_rate": """
            WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents
            ),
            vocab AS (
                SELECT token FROM toks GROUP BY token
                ORDER BY count(*) DESC, token LIMIT 20
            ),
            va AS (SELECT list(token) AS v FROM vocab),
            d AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents)
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(ws, t -> NOT list_contains(v, t)))
                       AS BIGINT) AS n_oov,
                   CAST(COALESCE(
                       (len(list_filter(ws, t -> NOT list_contains(v, t)))
                        * 1000000) // NULLIF(len(ws), 0), 0)
                       AS BIGINT) AS oov_ppm
            FROM d CROSS JOIN va ORDER BY doc_id
        """,
        "doc_code_detect": """
            WITH docs AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 20 = 0
                            THEN 'def f_' || CAST(doc_id AS VARCHAR)
                                 || '(x) {' || chr(10) || '  y = x + 1;'
                                 || chr(10) || '  return (y);'
                                 || chr(10) || '}'
                            ELSE text END AS text
                FROM documents
            ),
            d AS (
                SELECT doc_id,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CAST(len(string_split(text, chr(10))) AS BIGINT)
                           AS n_lines,
                       CAST(length(text) - length(regexp_replace(
                           text, '[{}()\\[\\];=<>]', '', 'g')) AS BIGINT)
                           AS sym,
                       CAST(len(list_filter(string_split(text, chr(10)),
                           l -> starts_with(l, '  '))) AS BIGINT) AS ind
                FROM docs
            ),
            p AS (
                SELECT doc_id, n_chars, n_lines,
                       CAST(COALESCE(
                           (sym * 1000000) // NULLIF(n_chars, 0), 0)
                           AS BIGINT) AS sym_ppm,
                       CAST(COALESCE(
                           (ind * 1000000) // NULLIF(n_lines, 0), 0)
                           AS BIGINT) AS indent_ppm
                FROM d
            )
            SELECT doc_id, n_chars, n_lines, sym_ppm, indent_ppm,
                   CASE WHEN sym_ppm >= 15000 OR indent_ppm >= 300000
                        THEN 1 ELSE 0 END AS is_code
            FROM p ORDER BY doc_id
        """,
        # BPE ENCODE replay: the bpe_train CTE chain to w3, then the
        # token histogram of the merged word table
        "doc_bpe_encode": (
            """
            WITH w0 AS (
                SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g'))
                           AS syms,
                       CAST(count(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS word
                      FROM documents)
                WHERE length(word) > 0 GROUP BY 1
            )"""
            + "".join(
                f""",
            p{i} AS (
                SELECT ws[j] AS left_sym, ws[j + 1] AS right_sym,
                       CAST(SUM(n) AS BIGINT) AS pair_count
                FROM (SELECT string_split(syms, ' ') AS ws, n
                      FROM w{i - 1}) t,
                     unnest(range(1, len(ws))) AS u(j)
                GROUP BY 1, 2
            ),
            t{i} AS (
                SELECT left_sym, right_sym
                FROM p{i}
                ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
            ),
            w{i} AS (
                SELECT CASE WHEN left_sym IS NULL THEN syms ELSE
                           trim(replace(replace(
                           ' ' || replace(syms, ' ', '  ') || ' ',
                           ' ' || left_sym || '  ' || right_sym || ' ',
                           ' ' || left_sym || right_sym || ' '),
                           '  ', ' ')) END AS syms,
                       n
                FROM w{i - 1} LEFT JOIN t{i} ON TRUE
            )"""
                for i in (1, 2, 3)
            )
            + """
            SELECT token, CAST(SUM(n) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT syms) AS BIGINT) AS n_word_forms
            FROM (SELECT syms, n, unnest(string_split(syms, ' ')) AS token
                  FROM w3)
            GROUP BY token ORDER BY n_tokens DESC, token
        """
        ),
        # classifier replay: hash_embed CTE + the same integer weight
        # expression, LEFT JOIN back so zero-token docs score 0
        "doc_quality_classifier": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ),
            hashed AS (
                SELECT doc_id,
                       CAST(list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                               string_split_regex(token, ''),
                               ch -> CAST(unicode(ch) AS BIGINT))),
                           (acc, c) -> (acc * 1000003 + c) % 2147483647)
                           % 32 AS BIGINT) AS bucket
                FROM toks WHERE length(token) > 0
            ),
            bux AS (
                SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
                FROM hashed GROUP BY doc_id, bucket
            ),
            s AS (
                SELECT doc_id,
                       CAST(SUM(cnt * (((bucket * 1000003 + 99991) % 2003)
                           - 1001)) AS BIGINT) AS score
                FROM bux GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
                   CASE WHEN COALESCE(s.score, 0) > 0
                        THEN 'keep' ELSE 'drop' END AS label
            FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
            ORDER BY d.doc_id
        """,
        # aHash replay from hex(encode(text)): byte extraction via hex
        # digits, integer mean threshold, bit 63 via two's complement,
        # then all-pairs popcount (oracle-side only; Spark bands)
        "mm_phash_pairs": """
            WITH media AS (
                SELECT doc_id AS media_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000000, text || ' twin-marker'
                FROM documents WHERE doc_id % 97 = 0
            ),
            hx AS (
                SELECT media_id, hex(encode(text)) AS h,
                       octet_length(encode(text)) AS nb
                FROM media
            ),
            bytes AS (
                SELECT media_id, j,
                       CASE WHEN j < nb THEN
                           (strpos('0123456789ABCDEF',
                               substr(h, 2 * j + 1, 1)) - 1) * 16
                           + (strpos('0123456789ABCDEF',
                               substr(h, 2 * j + 2, 1)) - 1)
                       ELSE 0 END AS bv
                FROM hx, unnest(range(0, 64)) AS t(j)
            ),
            m AS (
                SELECT media_id, SUM(bv) // 64 AS mn
                FROM bytes GROUP BY media_id
            ),
            sig AS (
                SELECT b.media_id,
                       CAST(SUM(CASE WHEN b.bv > m.mn AND b.j < 63
                                THEN (CAST(1 AS BIGINT) << b.j)
                                ELSE 0 END)
                          + SUM(CASE WHEN b.bv > m.mn AND b.j = 63
                                THEN 1 ELSE 0 END)
                            * (-9223372036854775807 - 1)
                           AS BIGINT) AS ahash
                FROM bytes b JOIN m ON b.media_id = m.media_id
                GROUP BY b.media_id
            )
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER)
                       AS hamming
            FROM sig a JOIN sig b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
            ORDER BY id_a, id_b
        """,
        # token_budget replay + deterministic hash shard + per-shard
        # row_number resume position
        "mm_shard_manifest": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       CASE doc_id % 3 WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       CASE WHEN doc_id % 3 = 0
                            THEN 64 + doc_id % 4 END AS width,
                       CASE WHEN doc_id % 3 = 0 THEN 64 END AS height,
                       CASE WHEN doc_id % 3 <> 0
                            THEN 1000 + (doc_id % 10) * 500
                            END AS duration_ms,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                           AS text_tokens
                FROM documents
            ),
            b AS (
                SELECT media_id, kind,
                       text_tokens
                       + CASE WHEN kind = 'image'
                              THEN ((width + 31) // 32)
                                   * ((height + 31) // 32) * 85
                              ELSE 0 END
                       + CASE WHEN kind = 'audio'
                              THEN (duration_ms + 79) // 80
                              ELSE 0 END
                       + CASE WHEN kind = 'video'
                              THEN ((duration_ms + 999) // 1000) * 2
                              ELSE 0 END AS total_tokens
                FROM m
            )
            SELECT media_id, kind, CAST(total_tokens AS BIGINT)
                       AS total_tokens,
                   CAST(((media_id * 1000003 + 12345) % 2147483647) % 8
                       AS INTEGER) AS shard,
                   total_tokens <= 4096 AS fits,
                   CAST(row_number() OVER (
                       PARTITION BY ((media_id * 1000003 + 12345)
                           % 2147483647) % 8
                       ORDER BY media_id) AS BIGINT) AS seq_in_shard
            FROM b ORDER BY media_id
        """,
        "doc_url_blocklist": """
            WITH docs AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' see https://www.site'
                                 || CAST(doc_id % 5 AS VARCHAR)
                                 || '.example.com/page/'
                                 || CAST(doc_id AS VARCHAR)
                            ELSE text END AS text
                FROM documents
            ),
            u AS (
                SELECT doc_id, unnest(regexp_extract_all(
                           text, 'https?://[^ ]+', 0)) AS url
                FROM docs
            ),
            h AS (
                SELECT doc_id,
                       regexp_replace(regexp_extract(
                           url, 'https?://([^/ ]+)', 1),
                           '^www\\.', '') AS host
                FROM u
            ),
            f AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_urls,
                       CAST(SUM(CASE WHEN len(list_filter(
                           ['site1.example.com', 'site3.example.com',
                            'ads.example.org'],
                           d -> host = d
                                OR ends_with(host, '.' || d))) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
                FROM h GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(f.n_urls, 0) AS BIGINT) AS n_urls,
                   CAST(COALESCE(f.n_blocked, 0) AS BIGINT) AS n_blocked,
                   COALESCE(f.n_blocked, 0) > 0 AS blocked
            FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
            ORDER BY d.doc_id
        """,
        # embedding-health replay: milli-quantized components, BIGINT
        # dots/norms, floor-quantized adjacent-pair cosine
        "emb_health": """
            WITH q AS (
                SELECT vec_id,
                       list_transform(CAST(embedding AS DOUBLE[]),
                           x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
                FROM embeddings
            ),
            n AS (
                SELECT vec_id, qv,
                       CAST(list_sum(list_transform(
                           range(1, len(qv) + 1),
                           i -> qv[i] * qv[i])) AS BIGINT) AS qnorm2
                FROM q
            ),
            s AS (
                SELECT CAST(count(*) AS BIGINT) AS n_vecs,
                       CAST(SUM(qnorm2) AS BIGINT) AS sum_qnorm2,
                       CAST(MIN(qnorm2) AS BIGINT) AS min_qnorm2,
                       CAST(MAX(qnorm2) AS BIGINT) AS max_qnorm2,
                       CAST(SUM(CASE WHEN qnorm2 < 10000 THEN 1 ELSE 0
                                END) AS BIGINT) AS n_near_zero
                FROM n
            ),
            p AS (
                SELECT CAST(floor(CAST(list_sum(list_transform(
                           range(1, len(a.qv) + 1),
                           i -> a.qv[i] * b.qv[i])) AS DOUBLE) * 1000000
                           / (sqrt(CAST(a.qnorm2 AS DOUBLE))
                              * sqrt(CAST(b.qnorm2 AS DOUBLE))))
                       AS BIGINT) AS qcos
                FROM n a JOIN n b ON b.vec_id = a.vec_id + 1
                WHERE a.qnorm2 > 0 AND b.qnorm2 > 0
            ),
            ps AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                       CAST(SUM(qcos) AS BIGINT) AS sum_qcos,
                       CAST(MIN(qcos) AS BIGINT) AS min_qcos,
                       CAST(MAX(qcos) AS BIGINT) AS max_qcos
                FROM p
            )
            SELECT * FROM s CROSS JOIN ps
        """,
        # stride-schedule replay: same rank window, same integer
        # virtual-time formula
        # one row per column, schema order: counts + integral value
        # min/max + string length min/max (NULL elsewhere) — mirrors
        # profile.table_profile's single-pass metrics
        "cur_table_profile": """
            SELECT 0 AS col_idx, 'doc_id' AS column,
                   'bigint' AS dtype,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
                   CAST(min(doc_id) AS BIGINT) AS min_v,
                   CAST(max(doc_id) AS BIGINT) AS max_v
            FROM documents
            UNION ALL
            SELECT 1, 'text', 'string',
                   CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(text) AS BIGINT),
                   CAST(count(DISTINCT text) AS BIGINT),
                   CAST(min(length(text)) AS BIGINT),
                   CAST(max(length(text)) AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 2, 'lang', 'string',
                   CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(lang) AS BIGINT),
                   CAST(count(DISTINCT lang) AS BIGINT),
                   CAST(min(length(lang)) AS BIGINT),
                   CAST(max(length(lang)) AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 3, 'source', 'string',
                   CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(source) AS BIGINT),
                   CAST(count(DISTINCT source) AS BIGINT),
                   CAST(min(length(source)) AS BIGINT),
                   CAST(max(length(source)) AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 4, 'n_chars', 'bigint',
                   CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(n_chars) AS BIGINT),
                   CAST(count(DISTINCT n_chars) AS BIGINT),
                   CAST(min(n_chars) AS BIGINT),
                   CAST(max(n_chars) AS BIGINT)
            FROM documents
            ORDER BY col_idx
        """,
        # the registered rule set compiled the same way the operator
        # compiles it: one aggregate per rule, long-format rows
        "cur_quality_gate": """
            WITH a AS (
                SELECT
                    CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 END), 0)
                        AS BIGINT) AS v0,
                    CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT)
                        AS v1,
                    CAST(coalesce(sum(CASE WHEN n_chars IS NOT NULL
                        AND (n_chars < 1 OR n_chars > 100000) THEN 1 END), 0)
                        AS BIGINT) AS v2,
                    CAST(coalesce(sum(CASE WHEN lang IS NOT NULL
                        AND NOT lang LIKE '__' THEN 1 END), 0)
                        AS BIGINT) AS v3,
                    CAST(coalesce(sum(CASE WHEN source IS NULL THEN 1 END), 0)
                        AS BIGINT) AS v4
                FROM documents
            )
            SELECT 0 AS rule_id, 'not_null' AS kind, 'text' AS column,
                   v0 AS n_violations, v0 = 0 AS passed FROM a
            UNION ALL SELECT 1, 'unique', 'doc_id', v1, v1 = 0 FROM a
            UNION ALL SELECT 2, 'range', 'n_chars', v2, v2 = 0 FROM a
            UNION ALL SELECT 3, 'like', 'lang', v3, v3 = 0 FROM a
            UNION ALL SELECT 4, 'not_null', 'source', v4, v4 = 0 FROM a
            ORDER BY rule_id
        """,
        # constant-table replay of the schema-diff verdict on the
        # registered mutation (drop source, narrow n_chars, add extra)
        "cur_schema_diff": """
            SELECT * FROM (VALUES
                (0, 'doc_id', 'same', 'bigint', 'bigint'),
                (1, 'text', 'same', 'string', 'string'),
                (2, 'lang', 'same', 'string', 'string'),
                (3, 'source', 'dropped', 'string', NULL),
                (4, 'n_chars', 'type_changed', 'bigint', 'int'),
                (5, 'extra', 'added', NULL, 'bigint')
            ) AS t(col_idx, "column", status, dtype_a, dtype_b)
            ORDER BY col_idx
        """,
        # two per-column profile CTEs (snapshot B = drop doc_id%5==0,
        # NULL lang on doc_id%7==0) joined on column — ppm null-rate
        # uses the same BIGINT div as the Spark side
        "cur_profile_drift": """
            WITH snapb AS (
                SELECT doc_id, text,
                       CASE WHEN doc_id % 7 <> 0 THEN lang END AS lang,
                       source, n_chars
                FROM documents WHERE doc_id % 5 <> 0
            ),
            pa AS (
                SELECT 0 AS col_idx, 'doc_id' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(doc_id) AS BIGINT) AS n_null, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct, CAST(min(doc_id) AS BIGINT) AS min_v, CAST(max(doc_id) AS BIGINT) AS max_v FROM documents
                UNION ALL
                SELECT 1 AS col_idx, 'text' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(text) AS BIGINT) AS n_null, CAST(count(DISTINCT text) AS BIGINT) AS n_distinct, CAST(min(length(text)) AS BIGINT) AS min_v, CAST(max(length(text)) AS BIGINT) AS max_v FROM documents
                UNION ALL
                SELECT 2 AS col_idx, 'lang' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(lang) AS BIGINT) AS n_null, CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct, CAST(min(length(lang)) AS BIGINT) AS min_v, CAST(max(length(lang)) AS BIGINT) AS max_v FROM documents
                UNION ALL
                SELECT 3 AS col_idx, 'source' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(source) AS BIGINT) AS n_null, CAST(count(DISTINCT source) AS BIGINT) AS n_distinct, CAST(min(length(source)) AS BIGINT) AS min_v, CAST(max(length(source)) AS BIGINT) AS max_v FROM documents
                UNION ALL
                SELECT 4 AS col_idx, 'n_chars' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(n_chars) AS BIGINT) AS n_null, CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct, CAST(min(n_chars) AS BIGINT) AS min_v, CAST(max(n_chars) AS BIGINT) AS max_v FROM documents
            ),
            pb AS (
                SELECT 0 AS col_idx, 'doc_id' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(doc_id) AS BIGINT) AS n_null, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct, CAST(min(doc_id) AS BIGINT) AS min_v, CAST(max(doc_id) AS BIGINT) AS max_v FROM snapb
                UNION ALL
                SELECT 1 AS col_idx, 'text' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(text) AS BIGINT) AS n_null, CAST(count(DISTINCT text) AS BIGINT) AS n_distinct, CAST(min(length(text)) AS BIGINT) AS min_v, CAST(max(length(text)) AS BIGINT) AS max_v FROM snapb
                UNION ALL
                SELECT 2 AS col_idx, 'lang' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(lang) AS BIGINT) AS n_null, CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct, CAST(min(length(lang)) AS BIGINT) AS min_v, CAST(max(length(lang)) AS BIGINT) AS max_v FROM snapb
                UNION ALL
                SELECT 3 AS col_idx, 'source' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(source) AS BIGINT) AS n_null, CAST(count(DISTINCT source) AS BIGINT) AS n_distinct, CAST(min(length(source)) AS BIGINT) AS min_v, CAST(max(length(source)) AS BIGINT) AS max_v FROM snapb
                UNION ALL
                SELECT 4 AS col_idx, 'n_chars' AS column, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(n_chars) AS BIGINT) AS n_null, CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct, CAST(min(n_chars) AS BIGINT) AS min_v, CAST(max(n_chars) AS BIGINT) AS max_v FROM snapb
            )
            SELECT pa.col_idx, pa."column",
                   CAST(pb.n_rows - pa.n_rows AS BIGINT) AS rows_delta,
                   CAST(pb.n_null * 1000000 // greatest(pb.n_rows, 1)
                      - pa.n_null * 1000000 // greatest(pa.n_rows, 1)
                      AS BIGINT) AS null_rate_delta_ppm,
                   CAST(pb.n_distinct - pa.n_distinct AS BIGINT)
                       AS distinct_delta,
                   pb.min_v - pa.min_v AS min_shift,
                   pb.max_v - pa.max_v AS max_shift
            FROM pa JOIN pb USING ("column")
            ORDER BY pa.col_idx
        """,
        # anti-join FK counts replayed per check
        "cur_ri_gate": """
            WITH c0 AS (
                SELECT CAST(count(*) AS BIGINT) AS n_child,
                       CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL
                           THEN 1 END), 0) AS BIGINT) AS n_orphans
                FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey
                    FROM customer) c ON c.c_custkey = o.o_custkey
                WHERE o.o_custkey IS NOT NULL
            ),
            c1 AS (
                SELECT CAST(count(*) AS BIGINT) AS n_child,
                       CAST(coalesce(sum(CASE WHEN p.o_orderkey IS NULL
                           THEN 1 END), 0) AS BIGINT) AS n_orphans
                FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey
                    FROM orders) p ON p.o_orderkey = l.l_orderkey
                WHERE l.l_orderkey IS NOT NULL
            ),
            c2 AS (
                SELECT CAST(count(*) AS BIGINT) AS n_child,
                       CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL
                           THEN 1 END), 0) AS BIGINT) AS n_orphans
                FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey
                    FROM customer WHERE c_custkey % 2 = 0) c
                  ON c.c_custkey = o.o_custkey
                WHERE o.o_custkey IS NOT NULL
            )
            SELECT 0 AS check_id, 'o_custkey' AS child_col,
                   'c_custkey' AS parent_col, n_child, n_orphans,
                   n_orphans = 0 AS passed FROM c0
            UNION ALL SELECT 1, 'l_orderkey', 'o_orderkey', n_child,
                   n_orphans, n_orphans = 0 FROM c1
            UNION ALL SELECT 2, 'o_custkey', 'c_custkey', n_child,
                   n_orphans, n_orphans = 0 FROM c2
            ORDER BY check_id
        """,
        # the same 3-fan-out bucket equi-join the Spark op plans (a
        # naive per-type pair join is quadratic); exact integer filter
        "join_band_values": """
            WITH q AS (
                SELECT event_type, event_id,
                       CAST(floor(CAST(value AS DOUBLE) * 1000000)
                           AS BIGINT) AS v_u
                FROM events
            ),
            -- exact BIGINT floor division (// truncates toward zero;
            -- remainder correction for negatives) — mirrors band_join,
            -- exact for |v_u| > 2^53 where floor(v_u/5000.0) is not
            b AS (
                SELECT event_type, event_id, v_u,
                       CAST((v_u // 5000) - (CASE WHEN v_u % 5000 < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS bucket
                FROM q
            ),
            l AS (
                SELECT event_type, event_id, v_u, bucket + d AS bucket
                FROM b, (SELECT unnest([-1, 0, 1]) AS d)
            ),
            r AS (SELECT * FROM b)
            SELECT l.event_type,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(abs(l.v_u - r.v_u)) AS BIGINT)
                       AS sum_absdiff_u,
                   CAST(max(abs(l.v_u - r.v_u)) AS BIGINT)
                       AS max_absdiff_u
            FROM l JOIN r ON l.event_type = r.event_type
                AND l.bucket = r.bucket
                AND l.event_id < r.event_id
            WHERE abs(l.v_u - r.v_u) <= 5000
            GROUP BY l.event_type ORDER BY l.event_type
        """,
        "cur_interleave": """
            WITH r AS (
                SELECT doc_id, source,
                       CAST(row_number() OVER (
                           PARTITION BY source ORDER BY doc_id
                       ) - 1 AS BIGINT) AS src_rank,
                       CAST((length(source) % 3) + 1 AS BIGINT) AS weight
                FROM documents
            )
            SELECT doc_id, source, src_rank, weight,
                   CAST((2 * src_rank + 1) * 1000000
                        // (2 * weight) AS BIGINT) AS vt_u
            FROM r ORDER BY vt_u, source, doc_id
        """,
        # --- round 5 ---
        # per-user lead() replay; integer conditional ppm
        "ts_event_transitions": """
            WITH t AS (
                SELECT event_type AS prev,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS next
                FROM events
            ),
            c AS (
                SELECT prev, next, count(*) AS n FROM t
                WHERE next IS NOT NULL GROUP BY prev, next
            ),
            m AS (SELECT prev, CAST(sum(n) AS BIGINT) AS n_prev
                  FROM c GROUP BY prev)
            SELECT c.prev, c.next, c.n,
                   CAST((c.n * 1000000) // m.n_prev AS BIGINT) AS p_ppm
            FROM c JOIN m ON c.prev = m.prev ORDER BY c.prev, c.next
        """,
        # quantile_cont == Spark percentile (linear interpolation over
        # exact integers — the value_quantiles identity); µ-unit BIGINT
        # monetary so the order-sensitive double sum never appears
        # run detection (null-safe lag + running sum), run rollup, lead
        # for valid_to — the same double-window shape as the Spark side
        "ts_scd2_history": """
            WITH r AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN row_number() OVER w = 1 THEN 1
                            WHEN lag(event_type) OVER w
                                 IS DISTINCT FROM event_type
                            THEN 1 ELSE 0 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
            ),
            v AS (
                SELECT *, SUM(chg) OVER (
                    PARTITION BY user_id
                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                    ROWS UNBOUNDED PRECEDING) AS version
                FROM r
            ),
            g AS (
                SELECT user_id, CAST(version AS BIGINT) AS version,
                       MIN(event_type) AS event_type,
                       MIN(ts) AS valid_from,
                       CAST(COUNT(*) AS BIGINT) AS n_events
                FROM v GROUP BY user_id, version
            )
            SELECT user_id, version, event_type, valid_from,
                   lead(valid_from) OVER (
                       PARTITION BY user_id ORDER BY version) AS valid_to,
                   n_events
            FROM g ORDER BY user_id, version
        """,
        # running max of interval end over strictly-preceding rows ->
        # new-island flag -> running sum -> island rollup
        "ts_intervals_merge": """
            WITH iv AS (
                SELECT user_id, event_id,
                       epoch_us(ts) AS start_us,
                       epoch_us(ts)
                           + CAST(floor(value * 60000000.0) AS BIGINT)
                           AS end_us
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND value >= 0
            ),
            f AS (
                SELECT *, CASE WHEN max(end_us) OVER wp IS NULL
                               OR start_us > max(end_us) OVER wp
                               THEN 1 ELSE 0 END AS new_i
                FROM iv
                WINDOW wp AS (
                    PARTITION BY user_id
                    ORDER BY start_us, end_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            i AS (
                SELECT *, SUM(new_i) OVER (
                    PARTITION BY user_id
                    ORDER BY start_us, end_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS island
                FROM f
            )
            SELECT user_id, CAST(island AS BIGINT) AS island,
                   make_timestamp(MIN(start_us)) AS start_ts,
                   make_timestamp(MAX(end_us)) AS end_ts,
                   CAST(COUNT(*) AS BIGINT) AS n_intervals,
                   CAST((MAX(end_us) - MIN(start_us)) // 1000000
                       AS BIGINT) AS span_s
            FROM i GROUP BY user_id, island
            ORDER BY user_id, island
        """,
        # Count-Min replay: the engine-portable integer double-hash
        # (hashing.int_mix_sql — valid verbatim in DuckDB), the same
        # depth×width cells, the same top-10 tie-break (cnt DESC,
        # user_id ASC). est ≥ true is structural in both engines.
        "ts_cms_user_topk": f"""
            WITH k AS (
                SELECT user_id FROM events WHERE user_id IS NOT NULL
            ),
            hu AS (
                SELECT DISTINCT user_id,
                       {_H.int_h1_sql('user_id')} AS h1,
                       {_H.int_h2_sql('user_id')} AS h2
                FROM k
            ),
            cms AS (
                SELECT js.j AS row,
                       CAST((h1 + js.j * h2) % {_H.MINHASH_PRIME}
                            % {CMS_WIDTH} AS INT) AS col,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM k JOIN hu USING (user_id)
                CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS js(j)
                GROUP BY 1, 2
            ),
            top AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
                FROM k GROUP BY 1
                ORDER BY true_cnt DESC, user_id LIMIT 10
            ),
            probe AS (
                SELECT t.user_id, t.true_cnt,
                       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt
                FROM top t JOIN hu USING (user_id)
                CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS js(j)
                LEFT JOIN cms c ON c.row = js.j
                    AND c.col = CAST((hu.h1 + js.j * hu.h2)
                        % {_H.MINHASH_PRIME} % {CMS_WIDTH} AS INT)
                GROUP BY 1, 2
            )
            SELECT user_id, true_cnt, est_cnt,
                   est_cnt - true_cnt AS over_cnt
            FROM probe ORDER BY user_id
        """,
        # grouped Count-Min: the ts_cms_user_topk replay with
        # event_type carried through cells, counts, and probes — each
        # type's sketch built and probed independently; top-2 per type
        # by the same deterministic (cnt desc, user_id) row_number in
        # both engines.
        "ts_cms_topk_by_type": f"""
            WITH k AS (
                SELECT event_type, user_id FROM events
                WHERE user_id IS NOT NULL
            ),
            hu AS (
                SELECT DISTINCT user_id,
                       {_H.int_h1_sql('user_id')} AS h1,
                       {_H.int_h2_sql('user_id')} AS h2
                FROM k
            ),
            cms AS (
                SELECT k.event_type, js.j AS row,
                       CAST((h1 + js.j * h2) % {_H.MINHASH_PRIME}
                            % {CMS_WIDTH} AS INT) AS col,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM k JOIN hu USING (user_id)
                CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS js(j)
                GROUP BY 1, 2, 3
            ),
            counts AS (
                SELECT event_type, user_id,
                       CAST(COUNT(*) AS BIGINT) AS true_cnt
                FROM k GROUP BY 1, 2
            ),
            top AS (
                SELECT event_type, user_id, true_cnt FROM (
                    SELECT event_type, user_id, true_cnt,
                           row_number() OVER (
                               PARTITION BY event_type
                               ORDER BY true_cnt DESC, user_id
                           ) AS rk
                    FROM counts
                ) WHERE rk <= 2
            ),
            probe AS (
                SELECT t.event_type, t.user_id, t.true_cnt,
                       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt
                FROM top t JOIN hu USING (user_id)
                CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS js(j)
                LEFT JOIN cms c
                    ON c.event_type IS NOT DISTINCT FROM t.event_type
                    AND c.row = js.j
                    AND c.col = CAST((hu.h1 + js.j * hu.h2)
                        % {_H.MINHASH_PRIME} % {CMS_WIDTH} AS INT)
                GROUP BY 1, 2, 3
            )
            SELECT event_type, user_id, true_cnt, est_cnt,
                   est_cnt - true_cnt AS over_cnt
            FROM probe ORDER BY event_type NULLS FIRST, user_id
        """,
        # grouped KMV: distinct (type, mixer-hash), per-type bottom-k
        # by row_number, the (k-1)*P // u_k estimator (or m when the
        # sketch is complete), exact distinct + err_ppm joined
        # null-safely (IS NOT DISTINCT FROM mirrors eqNullSafe).
        "ts_kmv_by_type": f"""
            WITH k AS (
                SELECT DISTINCT event_type,
                       {_H.int_h1_sql('user_id')} AS h
                FROM events WHERE user_id IS NOT NULL
            ),
            sk AS (
                SELECT event_type, h FROM (
                    SELECT event_type, h,
                           row_number() OVER (
                               PARTITION BY event_type ORDER BY h
                           ) AS r
                    FROM k
                ) WHERE r <= {KMVSK_K}
            ),
            est AS (
                SELECT event_type,
                       CAST(COUNT(*) AS BIGINT) AS m,
                       CAST(MAX(h) AS BIGINT) AS u_k
                FROM sk GROUP BY 1
            ),
            ex AS (
                SELECT event_type,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT)
                           AS exact_distinct
                FROM events WHERE user_id IS NOT NULL GROUP BY 1
            )
            SELECT e.event_type, m, u_k,
                   CAST(CASE WHEN m < {KMVSK_K} THEN m
                        ELSE CAST({KMVSK_K - 1} AS BIGINT)
                             * {_H.MINHASH_PRIME} // u_k END
                       AS BIGINT) AS est_distinct,
                   exact_distinct,
                   CAST(abs(CASE WHEN m < {KMVSK_K} THEN m
                            ELSE CAST({KMVSK_K - 1} AS BIGINT)
                                 * {_H.MINHASH_PRIME} // u_k END
                            - exact_distinct) * 1000000
                        // greatest(exact_distinct, 1)
                       AS BIGINT) AS err_ppm
            FROM est e JOIN ex x
                ON e.event_type IS NOT DISTINCT FROM x.event_type
            ORDER BY e.event_type NULLS FIRST
        """,
        # all-pairs HLL overlap matrix: per-type registers, pair frame
        # from the distinct-group self-join, per-pair union max-merge,
        # corrected estimates via the shared grouped finisher, exact
        # per-pair intersections LEFT-joined (0 when disjoint).
        "ts_hll_matrix": f"""
            WITH k AS (
                SELECT event_type, user_id FROM events
                WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT event_type,
                       {_H.int_h1_sql('user_id')} AS h1,
                       {_H.int_h2_sql('user_id')} AS h2
                FROM k
            ),
            regs AS (
                SELECT event_type, CAST(h1 % {HLL_M} AS INT) AS bucket,
                       MAX({_H.rho_sql('h2')}) AS rho
                FROM h GROUP BY 1, 2
            ),
            cor AS {_hll_cor_grouped_duck('regs', 'event_type')},
            pairs AS (
                SELECT a.event_type AS group_a, b.event_type AS group_b
                FROM (SELECT DISTINCT event_type FROM regs) a
                JOIN (SELECT DISTINCT event_type FROM regs) b
                  ON a.event_type < b.event_type
            ),
            pregs AS (
                SELECT p.group_a, p.group_b, r.bucket, r.rho
                FROM pairs p JOIN regs r ON r.event_type = p.group_a
                UNION ALL
                SELECT p.group_a, p.group_b, r.bucket, r.rho
                FROM pairs p JOIN regs r ON r.event_type = p.group_b
            ),
            uregs AS (
                SELECT group_a, group_b, bucket, MAX(rho) AS rho
                FROM pregs GROUP BY 1, 2, 3
            ),
            ucor AS {_hll_cor_grouped_duck('uregs', 'group_a, group_b')},
            ex AS (
                SELECT x.event_type AS group_a, y.event_type AS group_b,
                       CAST(COUNT(*) AS BIGINT) AS exact_inter
                FROM (SELECT DISTINCT event_type, user_id FROM k) x
                JOIN (SELECT DISTINCT event_type, user_id FROM k) y
                  ON x.user_id = y.user_id
                 AND x.event_type < y.event_type
                GROUP BY 1, 2
            )
            SELECT u.group_a, u.group_b,
                   a.occupied AS occupied_a, b.occupied AS occupied_b,
                   u.occupied AS occupied_union,
                   a.est AS est_a, b.est AS est_b, u.est AS est_union,
                   CAST(a.est + b.est - u.est AS BIGINT) AS est_inter,
                   CAST(COALESCE(ex.exact_inter, 0) AS BIGINT)
                       AS exact_inter
            FROM ucor u
            JOIN cor a ON a.event_type = u.group_a
            JOIN cor b ON b.event_type = u.group_b
            LEFT JOIN ex ON ex.group_a = u.group_a
                        AND ex.group_b = u.group_b
            ORDER BY u.group_a, u.group_b
        """,
        # A-ES weighted sample replay: the same per-draw integer mixer
        # (seed = WSAMPLE_SEED + r) via generate_series <= w_eff and
        # MAX — bit-identical priorities, identical (priority desc, id)
        # top-k. No floats: the u^(1/w) law is computed as max of w
        # uniforms.
        "cur_weighted_sample": f"""
            WITH w AS (
                SELECT doc_id, 1 + (n_chars % 8) AS weight
                FROM documents
            ),
            eff AS (
                SELECT doc_id, weight,
                       GREATEST(LEAST(CAST(COALESCE(weight, 1)
                           AS INTEGER), 8), 1) AS w_eff
                FROM w
            ),
            pri AS (
                SELECT doc_id, weight, w_eff,
                       CAST(MAX({_H.int_mix_sql(
                           'doc_id',
                           f'({curation.WSAMPLE_SEED} + g.r)')})
                           AS BIGINT) AS priority
                FROM eff CROSS JOIN generate_series(1, 8) AS g(r)
                WHERE g.r <= w_eff
                GROUP BY 1, 2, 3
            )
            SELECT doc_id, weight, w_eff, priority
            FROM pri ORDER BY priority DESC, doc_id LIMIT 25
        """,
        # the router's >128 regime (the r14-measured boundary): same
        # replay, weights in [1, 200] clamped to cap=150 — the
        # generate_series bound is the cap, the WHERE keeps only
        # r <= w_eff (identical draw set to the routed
        # transform/sequence shape)
        "cur_weighted_routed": f"""
            WITH w AS (
                SELECT doc_id, 1 + (n_chars % 200) AS weight
                FROM documents
            ),
            eff AS (
                SELECT doc_id, weight,
                       GREATEST(LEAST(CAST(COALESCE(weight, 1)
                           AS INTEGER), 150), 1) AS w_eff
                FROM w
            ),
            pri AS (
                SELECT doc_id, weight, w_eff,
                       CAST(MAX({_H.int_mix_sql(
                           'doc_id',
                           f'({curation.WSAMPLE_SEED} + g.r)')})
                           AS BIGINT) AS priority
                FROM eff CROSS JOIN generate_series(1, 150) AS g(r)
                WHERE g.r <= w_eff
                GROUP BY 1, 2, 3
            )
            SELECT doc_id, weight, w_eff, priority
            FROM pri ORDER BY priority DESC, doc_id LIMIT 25
        """,
        # HLL replay: bucket = h1 mod m, rho = trailing-zero rank of h2
        # (generated integer CASE — hashing.rho_sql), max-merged
        # registers, exact-integer harmonic estimate with rational
        # alpha (709/1000) — all BIGINT, no floats anywhere.
        "ts_hll_users": f"""
            WITH k AS (
                SELECT event_type, user_id FROM events
                WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT event_type,
                       {_H.int_h1_sql('user_id')} AS h1,
                       {_H.int_h2_sql('user_id')} AS h2
                FROM k
            ),
            regs AS (
                SELECT event_type, CAST(h1 % {HLL_M} AS INT) AS bucket,
                       MAX({_H.rho_sql('h2')}) AS rho
                FROM h GROUP BY 1, 2
            ),
            agg AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS occupied,
                       CAST(SUM({_H.pow2_31_minus_rho_sql('rho')})
                           AS BIGINT) AS hs
                FROM regs GROUP BY 1
            ),
            ex AS (
                SELECT event_type,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT)
                           AS exact_distinct
                FROM k GROUP BY 1
            )
            SELECT a.event_type, occupied,
                   hs + ({HLL_M} - occupied) * 2147483648
                       AS harmonic_scaled,
                   CAST({_SK.HLL_ALPHA_NUM * HLL_M * HLL_M * 2147483648}
                        // ({_SK.HLL_ALPHA_DEN} * (hs + ({HLL_M} - occupied)
                            * 2147483648)) AS BIGINT) AS est_distinct,
                   exact_distinct,
                   abs(CAST({_SK.HLL_ALPHA_NUM * HLL_M * HLL_M * 2147483648}
                        // ({_SK.HLL_ALPHA_DEN} * (hs + ({HLL_M} - occupied)
                            * 2147483648)) AS BIGINT)
                       - exact_distinct) AS abs_err
            FROM agg a JOIN ex USING (event_type)
            ORDER BY event_type NULLS LAST
        """,
        # ts_hll_users + the LC switch: est_raw from the harmonic
        # formula, est_distinct routed through the shared integer LC
        # literal table (sketches.hll_lc_case_sql — ONE generated CASE
        # interpolated into both engines) when occupied < m and
        # est_raw <= 2.5·m.
        "ts_hll_users_lc": f"""
            WITH k AS (
                SELECT event_type, user_id FROM events
                WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT event_type,
                       {_H.int_h1_sql('user_id')} AS h1,
                       {_H.int_h2_sql('user_id')} AS h2
                FROM k
            ),
            regs AS (
                SELECT event_type, CAST(h1 % {HLL_M} AS INT) AS bucket,
                       MAX({_H.rho_sql('h2')}) AS rho
                FROM h GROUP BY 1, 2
            ),
            agg AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS occupied,
                       CAST(SUM({_H.pow2_31_minus_rho_sql('rho')})
                           AS BIGINT) AS hs
                FROM regs GROUP BY 1
            ),
            est0 AS (
                SELECT event_type, occupied,
                       CAST({_SK.HLL_ALPHA_NUM * HLL_M * HLL_M * 2147483648}
                            // ({_SK.HLL_ALPHA_DEN} * (hs
                                + ({HLL_M} - occupied) * 2147483648))
                            AS BIGINT) AS est_raw
                FROM agg
            ),
            cor AS (
                SELECT event_type, occupied, est_raw,
                       CAST(CASE WHEN occupied < {HLL_M}
                                 AND est_raw * {_SK.HLL_LC_SWITCH_DEN}
                                     <= {_SK.HLL_LC_SWITCH_NUM * HLL_M}
                            THEN {_SK.hll_lc_case_sql(HLL_M, 'occupied')}
                            ELSE est_raw END AS BIGINT) AS est_distinct
                FROM est0
            ),
            ex AS (
                SELECT event_type,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT)
                           AS exact_distinct
                FROM k GROUP BY 1
            )
            SELECT c.event_type, occupied, est_raw, est_distinct,
                   exact_distinct,
                   abs(est_distinct - exact_distinct) AS abs_err
            FROM cor c JOIN ex USING (event_type)
            ORDER BY event_type NULLS LAST
        """,
        # HLL set algebra: per-split registers, union by per-bucket MAX
        # (the idempotent merge law), corrected estimates, intersection
        # by inclusion-exclusion — next to the exact-join audit columns.
        "ts_hll_overlap": f"""
            WITH k AS (
                SELECT event_id, user_id FROM events
                WHERE user_id IS NOT NULL
            ),
            side_a AS (SELECT user_id FROM k WHERE event_id % 2 = 0),
            side_b AS (SELECT user_id FROM k WHERE event_id % 3 = 0),
            ha AS (
                SELECT {_H.int_h1_sql('user_id')} AS h1,
                       {_H.int_h2_sql('user_id')} AS h2
                FROM side_a
            ),
            hb AS (
                SELECT {_H.int_h1_sql('user_id')} AS h1,
                       {_H.int_h2_sql('user_id')} AS h2
                FROM side_b
            ),
            ra AS (
                SELECT CAST(h1 % {HLL_M} AS INT) AS bucket,
                       MAX({_H.rho_sql('h2')}) AS rho
                FROM ha GROUP BY 1
            ),
            rb AS (
                SELECT CAST(h1 % {HLL_M} AS INT) AS bucket,
                       MAX({_H.rho_sql('h2')}) AS rho
                FROM hb GROUP BY 1
            ),
            ru AS (
                SELECT bucket, MAX(rho) AS rho
                FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
                GROUP BY 1
            ),
            ea AS {_hll_cor_est_duck('ra')},
            eb AS {_hll_cor_est_duck('rb')},
            eu AS {_hll_cor_est_duck('ru')},
            ex AS (
                SELECT
                    (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
                     FROM side_a) AS exact_a,
                    (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
                     FROM side_b) AS exact_b,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM
                        (SELECT DISTINCT user_id FROM side_a) x
                        JOIN (SELECT DISTINCT user_id FROM side_b) y
                        USING (user_id)) AS exact_inter
            )
            SELECT ea.occupied AS occupied_a, eb.occupied AS occupied_b,
                   eu.occupied AS occupied_union,
                   ea.est AS est_a, eb.est AS est_b,
                   eu.est AS est_union,
                   CAST(ea.est + eb.est - eu.est AS BIGINT) AS est_inter,
                   exact_a, exact_b, exact_inter
            FROM ea, eb, eu, ex
        """,
        # the routed qgram gate's expanded pair set, recomputed
        # independently: brute DP over DISTINCT prefixes (the same
        # all-pairs levenshtein the dedup_qgram_pairs oracle runs, on
        # the collapsed population), then island arithmetic — dist-0
        # pairs within identical-prefix islands, cross pairs expanded
        # through membership. Chain losslessness is the sibling gate's
        # proof; this one proves the routing/expansion arithmetic.
        "dedup_qgram_routed": f"""
            WITH ascii_docs AS (
                SELECT doc_id, text FROM documents
                WHERE regexp_matches(substring(text, 1, 30),
                                     '{EDIT_ASCII_RE}')
            ),
            inj AS (
                SELECT doc_id, text FROM ascii_docs
                UNION ALL
                SELECT doc_id + {QGRAM_INJ_OFFSET} AS doc_id,
                       {QGRAM_INJ_DUCK} AS text
                FROM ascii_docs
                WHERE doc_id % {QGRAM_INJ_MOD} = 0
                  AND length(text) >= {QGRAM_INJ_MINLEN}
            ),
            corpus AS (
                SELECT doc_id, text FROM inj
                UNION ALL
{_QGRAM_COPY_UNION_DUCK}
            ),
            s AS (
                SELECT doc_id, lower(substring(text, 1, 30)) AS s
                FROM corpus
                WHERE length(substring(text, 1, 30))
                      >= {_QGRAM_MINLEN_POP}
            ),
            dp AS (SELECT DISTINCT s FROM s),
            pp AS (
                SELECT a.s AS sa, b.s AS sb,
                       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist,
                       CAST(length(a.s) AS BIGINT) AS la,
                       CAST(length(b.s) AS BIGINT) AS lb
                FROM dp a JOIN dp b ON a.s < b.s
                WHERE abs(length(a.s) - length(b.s)) <= {QGRAM_K}
                  AND levenshtein(a.s, b.s) <= {QGRAM_K}
            ),
            cross_p AS (
                SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
                       greatest(ma.doc_id, mb.doc_id) AS doc_b,
                       p.dist,
                       CASE WHEN ma.doc_id < mb.doc_id
                            THEN p.la ELSE p.lb END AS len_a,
                       CASE WHEN ma.doc_id < mb.doc_id
                            THEN p.lb ELSE p.la END AS len_b
                FROM pp p
                JOIN s ma ON ma.s = p.sa
                JOIN s mb ON mb.s = p.sb
            ),
            island AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(0 AS BIGINT) AS dist,
                       CAST(length(a.s) AS BIGINT) AS len_a,
                       CAST(length(a.s) AS BIGINT) AS len_b
                FROM s a JOIN s b ON a.s = b.s AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, dist, len_a, len_b FROM cross_p
            UNION ALL
            SELECT doc_a, doc_b, dist, len_a, len_b FROM island
            ORDER BY doc_a, doc_b
        """,
        # route-independent semantics: ALL pairs with 3-gram-shingle
        # J >= tau over documents + the last-word-dropped injected
        # copies — brute inverted-index join, deliberately unpriced and
        # unprefixed; matching it proves whichever route the budget
        # picked (the gate's midpoint budget forces the prefix route)
        # was lossless
        "dedup_jaccard_routed": f"""
            WITH inj AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + {JACR_INJ_OFFSET} AS doc_id,
                       array_to_string(
                           (string_split(text, ' '))
                               [1 : len(string_split(text, ' ')) - 1],
                           ' ') AS text
                FROM documents
                WHERE doc_id % {JACR_INJ_MOD} = 0
                  AND len(string_split(text, ' ')) >= {JACR_INJ_MINWORDS}
            ),
            w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM inj
                WHERE len(string_split(text, ' ')) >= 3
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 2),
                    i -> array_to_string(ws[i + 1 : i + 3], ' '))))
                    AS shingle
                FROM w
            ),
            sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id
            ),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS i
                FROM s a
                JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
                   CAST(sa.n_sh + sb.n_sh - i AS BIGINT) AS union_sz,
                   CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * 1000000 >= {JACR_TAU} * (sa.n_sh + sb.n_sh - i)
            ORDER BY doc_a, doc_b
        """,
        "ts_rfm_segments": """
            WITH pu AS (
                SELECT user_id,
                       (SELECT epoch_us(max(ts)) FROM events)
                           - epoch_us(max(ts)) AS rec_us,
                       count(*) AS freq,
                       CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000)
                           AS BIGINT)) AS BIGINT) AS mon_u
                FROM events GROUP BY user_id
            ),
            bp AS (
                SELECT quantile_cont(rec_us, [0.2, 0.4, 0.6, 0.8]) AS bp_r,
                       quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS bp_f,
                       quantile_cont(mon_u, [0.2, 0.4, 0.6, 0.8]) AS bp_m
                FROM pu
            ),
            sc AS (
                SELECT user_id, mon_u,
                    6 - (1 + CAST(rec_us > bp_r[1] AS INT)
                           + CAST(rec_us > bp_r[2] AS INT)
                           + CAST(rec_us > bp_r[3] AS INT)
                           + CAST(rec_us > bp_r[4] AS INT)) AS r_score,
                    1 + CAST(freq > bp_f[1] AS INT)
                      + CAST(freq > bp_f[2] AS INT)
                      + CAST(freq > bp_f[3] AS INT)
                      + CAST(freq > bp_f[4] AS INT) AS f_score,
                    1 + CAST(mon_u > bp_m[1] AS INT)
                      + CAST(mon_u > bp_m[2] AS INT)
                      + CAST(mon_u > bp_m[3] AS INT)
                      + CAST(mon_u > bp_m[4] AS INT) AS m_score
                FROM pu, bp
            )
            SELECT r_score, f_score, m_score, count(*) AS n_users,
                   CAST(sum(mon_u) AS BIGINT) AS monetary_u
            FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """,
        # reweight CTE chain (same as cur_domain_reweight) + per-domain
        # token rollup + BIGINT allocation arithmetic. The target_tokens
        # divmod literals are generated from BUDGET_ALLOC_TOKENS (the
        # same constant the queries() entry passes), so both engines
        # derive from one value — target = q*w + (r*w) div 1e6 with
        # (q, r) = divmod(budget, 1e6) stays exact in BIGINT because
        # r*w < 1e6*1e6.
        "cur_budget_alloc": f"""
            WITH toks AS (
                SELECT source, string_split(text, ' ') AS ws FROM documents
            ),
            db AS (
                SELECT source, unnest(list_transform(
                           range(0, len(ws) - 1),
                           i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
                FROM toks WHERE len(ws) >= 2
            ),
            uni AS (
                SELECT w1, COUNT(*) AS c1 FROM (
                    SELECT unnest(ws) AS w1 FROM toks
                ) GROUP BY w1
            ),
            bi AS (SELECT bigram, COUNT(*) AS c2 FROM db GROUP BY bigram),
            j AS (
                SELECT db.source,
                       (length(bin(c1)) - 1)
                           + (CAST(c1 AS DOUBLE) - power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)))
                             / power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)) AS l1,
                       (length(bin(c2)) - 1)
                           + (CAST(c2 AS DOUBLE) - power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)))
                             / power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)) AS l2
                FROM db
                JOIN bi USING (bigram)
                JOIN uni ON uni.w1 = string_split(db.bigram, ' ')[1]
            ),
            pd AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                       CAST(SUM(CAST(floor((l1 - l2) * 1e9) AS BIGINT))
                           AS BIGINT) AS q
                FROM j GROUP BY source
            ),
            pd2 AS (
                SELECT *, CAST(q // n_bigrams // 1000 AS BIGINT)
                           AS mean_xent_ubits
                FROM pd
            ),
            fl AS (SELECT MIN(mean_xent_ubits) AS f FROM pd2),
            lv AS (
                SELECT pd2.*, CAST(least(
                           (mean_xent_ubits - f) // 100000, 6) AS INTEGER)
                           AS level
                FROM pd2, fl
            ),
            w AS (SELECT *, CAST(1 AS BIGINT) << level AS wr FROM lv),
            t AS (SELECT SUM(wr) AS tot FROM w),
            wt AS (
                SELECT source,
                       CAST(wr * 1000000 // tot AS BIGINT) AS weight_ppm
                FROM w, t
            ),
            av AS (
                SELECT source,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                           AS avail_tokens
                FROM documents GROUP BY source
            ),
            alloc AS (
                SELECT av.source, avail_tokens, weight_ppm,
                       CAST(CAST({_BUDGET_Q} AS BIGINT) * weight_ppm
                            + (CAST({_BUDGET_R} AS BIGINT) * weight_ppm)
                              // 1000000 AS BIGINT) AS target_tokens
                FROM av JOIN wt ON av.source = wt.source
            )
            SELECT source, avail_tokens, weight_ppm, target_tokens,
                   CAST((target_tokens::HUGEINT * 1000000)
                        // avail_tokens AS BIGINT) AS rate_ppm,
                   CAST((target_tokens + avail_tokens - 1) // avail_tokens
                       AS INTEGER) AS epochs,
                   CAST((target_tokens::HUGEINT * 1000000)
                        // avail_tokens AS BIGINT) > 1000000 AS upsampled
            FROM alloc ORDER BY source
        """,
        # SRP bucket CTEs (shared helper) + symmetric candidate self-join
        # + integer-quantized cosine + per-source-vector rank
        "emb_knn_graph": f"""
            WITH {_cosine_bucket_ctes(8, 6)},
            norms AS (SELECT vec_id, SUM(q * q) AS nq FROM dims
                      GROUP BY vec_id),
            cand AS (
                SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                FROM buckets a JOIN buckets b USING (band, bucket)
                WHERE a.vec_id <> b.vec_id
            ),
            pdots AS (
                SELECT c.a_id, c.b_id, SUM(da.q * db.q) AS dab
                FROM cand c
                JOIN dims da ON da.vec_id = c.a_id
                JOIN dims db ON db.vec_id = c.b_id AND db.d = da.d
                GROUP BY c.a_id, c.b_id
            ),
            scored AS (
                SELECT p.a_id, p.b_id,
                       CAST(round(10000 * (CAST(dab AS DOUBLE)
                            / (sqrt(CAST(na.nq AS DOUBLE))
                               * sqrt(CAST(nb.nq AS DOUBLE)))), 0)
                           AS BIGINT) AS cos_u
                FROM pdots p
                JOIN norms na ON na.vec_id = p.a_id AND na.nq > 0
                JOIN norms nb ON nb.vec_id = p.b_id AND nb.nq > 0
            ),
            ranked AS (
                SELECT a_id AS vec_id,
                       CAST(row_number() OVER (
                           PARTITION BY a_id
                           ORDER BY cos_u DESC, b_id ASC) AS INTEGER) AS rank,
                       b_id AS neighbor_id, cos_u
                FROM scored
            )
            SELECT vec_id, rank, neighbor_id, cos_u FROM ranked
            WHERE rank <= 5 ORDER BY vec_id, rank
        """,
        # corpus-hot shingles + covered-position union, per-source rollup
        "dedup_span_coverage": """
            WITH w AS (
                SELECT doc_id, source, string_split(text, ' ') AS ws
                FROM documents
            ),
            tot AS (
                SELECT source, CAST(SUM(len(ws)) AS BIGINT) AS total_tokens
                FROM w GROUP BY source
            ),
            sidx AS (
                SELECT doc_id, source, i,
                       array_to_string(ws[i + 1 : i + 4], ' ') AS shingle
                FROM w, unnest(range(0, greatest(len(ws) - 3, 0))) AS t(i)
                WHERE len(ws) >= 4
            ),
            hot AS (
                SELECT shingle FROM sidx GROUP BY shingle
                HAVING count(*) >= 2
            ),
            cov AS (
                SELECT source, CAST(count(*) AS BIGINT) AS covered_tokens
                FROM (
                    SELECT DISTINCT doc_id, source, i + jj AS p
                    FROM sidx JOIN hot USING (shingle),
                         unnest(range(0, 4)) AS u(jj)
                ) GROUP BY source
            )
            SELECT t.source, t.total_tokens,
                   CAST(coalesce(c.covered_tokens, 0) AS BIGINT)
                       AS covered_tokens,
                   CAST((coalesce(c.covered_tokens, 0)::HUGEINT
                         * 1000000) // t.total_tokens AS BIGINT)
                       AS coverage_ppm
            FROM tot t LEFT JOIN cov c ON t.source = c.source
            ORDER BY t.source
        """,
        # digest replay: sha256 over the UTF-8 payload, octet_length for
        # BYTE length (DuckDB length() counts characters!)
        "mm_blob_dedup": """
            WITH md AS (
                SELECT doc_id AS media_id, text,
                       CASE doc_id % 3 WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind
                FROM documents
                UNION ALL
                SELECT doc_id + 500000, text,
                       CASE (doc_id + 500000) % 3 WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END
                FROM documents WHERE doc_id % 37 = 0
            ),
            d AS (
                SELECT media_id, kind, sha256(text) AS digest,
                       CAST(octet_length(encode(text)) AS BIGINT) AS blob_bytes
                FROM md
            )
            SELECT digest, min(media_id) AS canonical_id,
                   count(*) AS n_copies,
                   CAST(min(blob_bytes) AS BIGINT) AS blob_bytes,
                   count(DISTINCT kind) AS n_kinds,
                   CAST((count(*) - 1) * min(blob_bytes) AS BIGINT)
                       AS bytes_saved
            FROM d GROUP BY digest HAVING count(*) >= 2
            ORDER BY canonical_id
        """,
        # hourly rollup + interval-shift self-join + truncating integer
        # division (Spark div == DuckDB // : both toward zero, tested)
        "ts_forecast_snaive": """
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000)
                           AS BIGINT)) AS BIGINT) AS v_u
                FROM events GROUP BY event_type, date_trunc('hour', ts)
            ),
            pred AS (
                SELECT event_type, hour + INTERVAL 24 HOUR AS hour,
                       v_u AS pred_u
                FROM hourly
            ),
            cut AS (SELECT max(hour) - INTERVAL 48 HOUR AS c FROM hourly),
            scored AS (
                SELECT h.event_type, h.v_u, p.pred_u
                FROM hourly h JOIN pred p USING (event_type, hour), cut
                WHERE h.hour > cut.c AND p.pred_u IS NOT NULL
            )
            SELECT event_type, count(*) AS n_scored,
                   CAST(sum(abs(v_u - pred_u)) // count(*) AS BIGINT) AS mae_u,
                   CAST(sum(v_u - pred_u) // count(*) AS BIGINT) AS bias_u,
                   CAST(max(abs(v_u - pred_u)) AS BIGINT) AS max_err_u
            FROM scored GROUP BY event_type ORDER BY event_type
        """,
        # positional replay: shingles with start index, covered-position
        # union, list_transform mask — membership only, so the unordered
        # position sets agree across engines
        "dedup_decontaminate_mask": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            sidx AS (
                SELECT doc_id, i,
                       array_to_string(ws[i + 1 : i + 4], ' ') AS shingle
                FROM w, unnest(range(0, greatest(len(ws) - 3, 0))) AS t(i)
                WHERE len(ws) >= 4 AND doc_id % 50 <> 0
            ),
            bsh AS (
                SELECT DISTINCT unnest(list_transform(
                    range(0, greatest(len(ws) - 3, 0)),
                    i -> array_to_string(ws[i + 1 : i + 4], ' '))) AS shingle
                FROM w WHERE len(ws) >= 4 AND doc_id % 50 = 0
            ),
            hitp AS (
                SELECT DISTINCT doc_id, i + jj AS p
                FROM sidx JOIN bsh USING (shingle),
                     unnest(range(0, 4)) AS u(jj)
            ),
            hits AS (
                SELECT doc_id, list(p) AS hl, count(*) AS nm
                FROM hitp GROUP BY doc_id
            )
            SELECT w.doc_id,
                   array_to_string(list_transform(
                       range(0, len(ws)),
                       p -> CASE WHEN list_contains(coalesce(hl, []), p)
                                 THEN '<MASK>' ELSE ws[p + 1] END),
                       ' ') AS text_masked,
                   CAST(coalesce(nm, 0) AS BIGINT) AS n_masked_tokens
            FROM w LEFT JOIN hits USING (doc_id)
            WHERE w.doc_id % 50 <> 0
            ORDER BY w.doc_id
        """,
        # knn replay at the threshold + mutual self-join + recursive-CTE
        # connected components + singleton union (own id)
        "emb_graph_clusters": f"""
{_graph_cc_ctes()}
            SELECT e.vec_id, coalesce(c.component, e.vec_id) AS component
            FROM (SELECT DISTINCT vec_id FROM embeddings) e
            LEFT JOIN comp c ON e.vec_id = c.vec_id
            ORDER BY e.vec_id
        """,
        # cluster-tightness audit over the same mutual-kNN chain: per
        # multi-member component its size, mutual-edge count and mean
        # edge cosine (integer div; edge cos re-read from the symmetric
        # scored frame) — mirrors similarity.cluster_quality exactly.
        # emb_inj replays the gate wrapper's deterministic twin
        # injection (vec_id % 13 == 0 -> vec_id + 1e7, same embedding)
        # so the comparison is non-vacuous at every sf (VERDICT r07)
        "emb_cluster_quality": f"""
{_graph_cc_ctes(src="emb_inj", prelude='''emb_inj AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 10000000 AS vec_id, embedding
                FROM embeddings WHERE vec_id % 13 = 0
            ), ''')},
            compall AS (
                SELECT e.vec_id, coalesce(c.component, e.vec_id) AS component
                FROM (SELECT DISTINCT vec_id FROM emb_inj) e
                LEFT JOIN comp c ON e.vec_id = c.vec_id
            ),
            members AS (
                SELECT component, CAST(count(*) AS BIGINT) AS n_members
                FROM compall GROUP BY component HAVING count(*) >= 2
            ),
            eagg AS (
                SELECT ca.component,
                       CAST(count(*) AS BIGINT) AS n_edges,
                       sum(sc.cos_u) AS s
                FROM mutual m
                JOIN scored sc ON sc.a_id = m.doc_a AND sc.b_id = m.doc_b
                JOIN compall ca ON ca.vec_id = m.doc_a
                GROUP BY ca.component
            )
            SELECT component, n_members, n_edges,
                   CAST(s // n_edges AS BIGINT) AS mean_edge_cos_u
            FROM members JOIN eagg USING (component)
            ORDER BY component
        """,
        # affine int8 replay: same DOUBLE expression shapes, nano-unit
        # floors, per-dim rollup
        "emb_quantize_int8": """
            WITH dims AS (
                SELECT vec_id, CAST(d AS INT) AS dim,
                       CAST(embedding[d + 1] AS DOUBLE) AS v
                FROM embeddings, (SELECT unnest(generate_series(0,
                         (SELECT max(len(embedding)) FROM embeddings) - 1)) AS d)
                WHERE d < len(embedding)
            ),
            rng AS (
                SELECT dim, min(v) AS vmin, max(v) AS vmax
                FROM dims GROUP BY dim
            ),
            coded AS (
                SELECT dim, v, vmin, vmax,
                       CASE WHEN vmax = vmin THEN 0
                            ELSE least(255, CAST(floor(
                                (v - vmin) * 255.0 / (vmax - vmin))
                                AS INT)) END AS code
                FROM dims JOIN rng USING (dim)
            ),
            err AS (
                SELECT dim, vmin, vmax, code,
                       CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
                            ELSE CAST(floor(abs(
                                vmin + (code + 0.5) * (vmax - vmin) / 255.0
                                - v) * 1e9) AS BIGINT) END AS err_nu
                FROM coded
            )
            SELECT dim, min(vmin) AS vmin, max(vmax) AS vmax,
                   count(DISTINCT code) AS codes_used,
                   max(err_nu) AS max_err_nu,
                   CAST(sum(err_nu) // count(*) AS BIGINT) AS mean_err_nu
            FROM err GROUP BY dim ORDER BY dim
        """,
        # whole-corpus packed Bloom word table: same FNV + KM + 32-bit
        # bit_or packing as the decontaminate replay, no train/bench split
        "dedup_bloom_words": f"""
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 4
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 3),
                    i -> array_to_string(ws[i + 1 : i + 4], ' ')))) AS shingle
                FROM w
            ),
            bh AS (
                SELECT {_H.shingle_h1_sql('shingle')} AS h1,
                       {_H.shingle_h2_sql('shingle')} AS h2
                FROM (SELECT DISTINCT shingle FROM s)
            ),
            bpos AS (
                SELECT (h1 + j * h2) % 262144 AS pos
                FROM bh, (SELECT unnest(generate_series(0, 3)) AS j)
            )
            SELECT pos // 32 AS word_idx,
                   bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
            FROM bpos GROUP BY pos // 32
            ORDER BY word_idx
        """,
        # snapshot drift: floor-1e6 quantized components, per-(label,
        # snap, dim) integer sums, truncating integer division (DuckDB
        # // == Spark div toward zero), per-dim means before the
        # cross-dim sum — every value a plain BIGINT in both engines
        "emb_snapshot_drift": """
            WITH ex AS (
                SELECT label,
                       CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap,
                       d AS dim,
                       CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1000000)
                           AS BIGINT) AS q
                FROM embeddings, (SELECT unnest(generate_series(0,
                         (SELECT max(len(embedding)) FROM embeddings) - 1)) AS d)
                WHERE d < len(embedding)
            ),
            pd AS (
                SELECT label, snap, dim,
                       CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT) AS c_u,
                       CAST(sum(q * q) AS BIGINT) AS ss,
                       count(*) AS n
                FROM ex GROUP BY label, snap, dim
            ),
            pj AS (
                SELECT label, dim,
                       coalesce(max(CASE WHEN snap = 'a' THEN c_u END), 0) AS c_a_u,
                       coalesce(max(CASE WHEN snap = 'b' THEN c_u END), 0) AS c_b_u,
                       coalesce(max(CASE WHEN snap = 'a' THEN ss END), 0) AS ss_a,
                       coalesce(max(CASE WHEN snap = 'b' THEN ss END), 0) AS ss_b,
                       coalesce(max(CASE WHEN snap = 'a' THEN n END), 0) AS n_a,
                       coalesce(max(CASE WHEN snap = 'b' THEN n END), 0) AS n_b
                FROM pd GROUP BY label, dim
            )
            SELECT label,
                   CAST(max(n_a) AS BIGINT) AS n_a,
                   CAST(max(n_b) AS BIGINT) AS n_b,
                   CAST(sum((c_a_u - c_b_u) * (c_a_u - c_b_u)) AS BIGINT)
                       AS centroid_dist2_u2,
                   CAST(sum(ss_a // greatest(n_a, 1)) AS BIGINT)
                       AS mean_norm2_a_u2,
                   CAST(sum(ss_b // greatest(n_b, 1)) AS BIGINT)
                       AS mean_norm2_b_u2,
                   CAST(sum(ss_b // greatest(n_b, 1))
                        - sum(ss_a // greatest(n_a, 1)) AS BIGINT)
                       AS norm2_delta_u2
            FROM pj GROUP BY label ORDER BY label
        """,
        # full Bloom replay: FNV (h1,h2) per shingle, KM probe positions,
        # 32-bit packed words via bit_or, all-k-bits test, joined against
        # the exact shingle-join replay for the audit columns
        "dedup_bloom_decontaminate": f"""
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 4
            ),
            s AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 3),
                    i -> array_to_string(ws[i + 1 : i + 4], ' ')))) AS shingle
                FROM w
            ),
            bsh AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 50 = 0),
            bh AS (
                SELECT {_H.shingle_h1_sql('shingle')} AS h1,
                       {_H.shingle_h2_sql('shingle')} AS h2
                FROM bsh
            ),
            bpos AS (
                SELECT (h1 + j * h2) % 262144 AS pos
                FROM bh, (SELECT unnest(generate_series(0, 3)) AS j)
            ),
            bloom AS (
                SELECT pos // 32 AS word_idx,
                       bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
                FROM bpos GROUP BY pos // 32
            ),
            tsh AS (SELECT doc_id, shingle FROM s WHERE doc_id % 50 <> 0),
            tdh AS (
                SELECT shingle, {_H.shingle_h1_sql('shingle')} AS h1,
                       {_H.shingle_h2_sql('shingle')} AS h2
                FROM (SELECT DISTINCT shingle FROM tsh)
            ),
            tpos AS (
                SELECT t.doc_id, d.h1, d.h2, (d.h1 + j * d.h2) % 262144 AS pos
                FROM tsh t JOIN tdh d USING (shingle),
                     (SELECT unnest(generate_series(0, 3)) AS j)
            ),
            probed AS (
                SELECT doc_id, h1, h2,
                       CASE WHEN word IS NOT NULL
                            AND ((word >> CAST(pos % 32 AS INT)) & 1) = 1
                            THEN 1 ELSE 0 END AS hit
                FROM tpos LEFT JOIN bloom ON tpos.pos // 32 = bloom.word_idx
            ),
            maybe AS (
                SELECT doc_id, h1, h2 FROM probed
                GROUP BY doc_id, h1, h2 HAVING CAST(SUM(hit) AS BIGINT) = 4
            ),
            bdocs AS (
                SELECT doc_id, count(*) AS n_bloom_shingles
                FROM maybe GROUP BY doc_id
            ),
            exact AS (
                SELECT doc_id, count(*) AS n_exact_shingles
                FROM tsh WHERE shingle IN (SELECT shingle FROM bsh)
                GROUP BY doc_id
            )
            SELECT b.doc_id, b.n_bloom_shingles,
                   coalesce(e.n_exact_shingles, 0) AS n_exact_shingles,
                   e.n_exact_shingles IS NULL AS false_positive
            FROM bdocs b LEFT JOIN exact e ON b.doc_id = e.doc_id
            ORDER BY b.doc_id
        """,
        # --- round 6 ---
        # sampled-vs-exact breakpoint replay: the LCG sample predicate
        # is pure BIGINT arithmetic (events_ops.lcg_sample_pred, the
        # SAME expression string Spark executes), quantile_cont == the
        # exact percentile over integers, delta per-op IEEE double
        "ts_rfm_bp_audit": f"""
            WITH pu AS (
                SELECT user_id,
                       (SELECT epoch_us(max(ts)) FROM events)
                           - epoch_us(max(ts)) AS rec_us,
                       count(*) AS freq,
                       CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000)
                           AS BIGINT)) AS BIGINT) AS mon_u
                FROM events GROUP BY user_id
            ),
            su AS (
                SELECT * FROM pu
                WHERE {events_ops.lcg_sample_pred('user_id', 3)}
            ),
            be AS (
                SELECT quantile_cont(rec_us, [0.2, 0.4, 0.6, 0.8]) AS bp_r,
                       quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS bp_f,
                       quantile_cont(mon_u, [0.2, 0.4, 0.6, 0.8]) AS bp_m
                FROM pu
            ),
            bs AS (
                SELECT quantile_cont(rec_us, [0.2, 0.4, 0.6, 0.8]) AS sp_r,
                       quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS sp_f,
                       quantile_cont(mon_u, [0.2, 0.4, 0.6, 0.8]) AS sp_m
                FROM su
            ),
            dims AS (
                SELECT 'recency' AS dim, i, be.bp_r[i] AS bp_exact,
                       bs.sp_r[i] AS bp_sampled
                FROM be, bs, (SELECT unnest(generate_series(1, 4)) AS i)
                UNION ALL
                SELECT 'frequency', i, be.bp_f[i], bs.sp_f[i]
                FROM be, bs, (SELECT unnest(generate_series(1, 4)) AS i)
                UNION ALL
                SELECT 'monetary', i, be.bp_m[i], bs.sp_m[i]
                FROM be, bs, (SELECT unnest(generate_series(1, 4)) AS i)
            )
            SELECT dim, CAST(i * 20 AS INT) AS prob_pct, bp_exact,
                   bp_sampled,
                   CAST(floor(abs(bp_sampled - bp_exact) * 1000000.0
                        / greatest(abs(bp_exact), 1.0)) AS BIGINT)
                       AS abs_err_ppm
            FROM dims ORDER BY dim, prob_pct
        """,
        # per-user lag gaps + per-user quantiles: percentile buffers one
        # USER's gaps (per-key bounded); burstiness per-op IEEE
        "ts_cadence_profile": """
            WITH g AS (
                SELECT user_id,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS gap_us
                FROM events
            )
            SELECT user_id, count(*) AS n_gaps,
                   CAST(sum(gap_us) // count(*) AS BIGINT) AS mean_gap_us,
                   quantile_cont(gap_us, 0.5) AS p50_gap_us,
                   quantile_cont(gap_us, 0.9) AS p90_gap_us,
                   CAST(floor(
                       (quantile_cont(gap_us, 0.9)
                        - quantile_cont(gap_us, 0.5)) * 1000000.0
                       / greatest(quantile_cont(gap_us, 0.9)
                                  + quantile_cont(gap_us, 0.5), 1.0))
                       AS BIGINT) AS burstiness_ppm
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """,
        "ts_holt_winters": _holt_winters_oracle(),
        "ts_forecast_eval": _forecast_eval_oracle(),
        # --- round 8 ---
        # ε-band decision table: exact BIGINT floor-div buckets (// +
        # negative-remainder correction, mirroring band_join), RANGE
        # window neighbor sums, two-term divmod imbalance, widest-fit
        # recommendation
        "join_band_plan": """
            WITH q AS (
                SELECT event_type, v_u FROM (
                    SELECT event_type,
                           CAST(floor(CAST(value AS DOUBLE) * 1000000)
                               AS BIGINT) AS v_u
                    FROM events
                ) WHERE v_u IS NOT NULL
            ),
            eps AS (SELECT CAST(unnest([100000, 1000000, 5000000])
                        AS BIGINT) AS eps_u),
            cnt AS (
                SELECT eps_u, event_type,
                       (v_u // eps_u) - (CASE WHEN v_u % eps_u < 0
                           THEN 1 ELSE 0 END) AS bucket,
                       CAST(count(*) AS BIGINT) AS c
                FROM q, eps GROUP BY 1, 2, 3
            ),
            nb AS (
                SELECT eps_u, c,
                       SUM(c) OVER (PARTITION BY eps_u, event_type
                           ORDER BY bucket RANGE BETWEEN 1 PRECEDING
                           AND 1 FOLLOWING) AS nbsum
                FROM cnt
            ),
            st AS (
                SELECT eps_u, CAST(sum(c) AS BIGINT) AS n_rows,
                       CAST(count(*) AS BIGINT) AS n_buckets,
                       CAST(max(c) AS BIGINT) AS max_bucket_rows,
                       CAST(sum(c * nbsum) AS BIGINT) AS cand_pairs
                FROM nb GROUP BY eps_u
            ),
            v AS (
                SELECT *,
                       CAST((max_bucket_rows * 1000000 // n_rows)
                            * n_buckets
                            + ((max_bucket_rows * 1000000 % n_rows)
                               * n_buckets) // n_rows AS BIGINT)
                           AS imbalance_ppm,
                       cand_pairs <= 10000000 AS within_budget
                FROM st
            ),
            b AS (SELECT max(CASE WHEN within_budget THEN eps_u END)
                      AS best FROM v)
            SELECT eps_u, n_rows, n_buckets, max_bucket_rows, cand_pairs,
                   imbalance_ppm, within_budget,
                   coalesce(eps_u = b.best, FALSE) AS recommended
            FROM v, b ORDER BY eps_u
        """,
        # the PLAIN (unsalted) join — matching it is the proof that the
        # Spark side's salt replication changes nothing
        "join_salted_agg": """
            SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COALESCE(SUM(CAST(floor(CAST(value AS DOUBLE)
                       * 1000000) AS BIGINT)), 0) AS BIGINT) AS value_u
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        # two key profiles (user_id, event_type) unioned; top-5 by
        # (count desc, key asc); exact integer share/salt/skew math
        "join_skew_profile": """
            WITH p AS (
                SELECT * FROM (
                    WITH counts AS (
                        SELECT CAST(user_id AS VARCHAR) AS key,
                               CAST(count(*) AS BIGINT) AS n
                        FROM events WHERE user_id IS NOT NULL GROUP BY 1
                    ),
                    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows_total,
                                   CAST(count(*) AS BIGINT) AS n_keys,
                                   CAST(max(n) AS BIGINT) AS max_key_rows
                            FROM counts)
                    SELECT 'user_id' AS key_col, key, n AS n_rows,
                           CAST(n * 1000000 // n_rows_total AS BIGINT)
                               AS share_ppm,
                           CAST((n + 63) // 64 AS BIGINT) AS salt_factor,
                           n_rows_total, n_keys, max_key_rows,
                           CAST((max_key_rows * 1000000 // n_rows_total)
                                * n_keys
                                + ((max_key_rows * 1000000 % n_rows_total)
                                   * n_keys) // n_rows_total AS BIGINT)
                               AS skew_ppm
                    FROM counts, tot ORDER BY n DESC, key ASC LIMIT 5
                )
                UNION ALL
                SELECT * FROM (
                    WITH counts AS (
                        SELECT CAST(event_type AS VARCHAR) AS key,
                               CAST(count(*) AS BIGINT) AS n
                        FROM events WHERE event_type IS NOT NULL GROUP BY 1
                    ),
                    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows_total,
                                   CAST(count(*) AS BIGINT) AS n_keys,
                                   CAST(max(n) AS BIGINT) AS max_key_rows
                            FROM counts)
                    SELECT 'event_type' AS key_col, key, n AS n_rows,
                           CAST(n * 1000000 // n_rows_total AS BIGINT)
                               AS share_ppm,
                           CAST((n + 63) // 64 AS BIGINT) AS salt_factor,
                           n_rows_total, n_keys, max_key_rows,
                           CAST((max_key_rows * 1000000 // n_rows_total)
                                * n_keys
                                + ((max_key_rows * 1000000 % n_rows_total)
                                   * n_keys) // n_rows_total AS BIGINT)
                               AS skew_ppm
                    FROM counts, tot ORDER BY n DESC, key ASC LIMIT 5
                )
            )
            SELECT * FROM p ORDER BY key_col, n_rows DESC, key
        """,
        # exact-dup savings profile over the twin-injected corpus
        # (%37 -> one copy at +1e7, %111 -> a second at +2e7); min_by
        # picks the canonical member's own token count
        "dedup_savings_profile": """
            WITH inj AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text FROM documents
                WHERE doc_id % 37 = 0
                UNION ALL
                SELECT doc_id + 20000000 AS doc_id, text FROM documents
                WHERE doc_id % 111 = 0
            ),
            per_doc AS (
                SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                           'g'))) AS fp,
                       doc_id,
                       CAST(CASE WHEN text IS NULL THEN 0
                            ELSE len(string_split(text, ' ')) END
                           AS BIGINT) AS tok
                FROM inj
            ),
            g AS (
                SELECT fp, CAST(count(*) AS BIGINT) AS sz,
                       CAST(sum(tok) AS BIGINT) AS tok_sum,
                       CAST(min_by(tok, doc_id) AS BIGINT) AS keep_tok
                FROM per_doc GROUP BY fp
            )
            SELECT sz AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(sz) AS BIGINT) AS n_docs,
                   CAST(sum(sz) - count(*) AS BIGINT) AS n_dup_docs,
                   CAST(sum(tok_sum - keep_tok) AS BIGINT) AS dup_tokens
            FROM g GROUP BY sz ORDER BY cluster_size
        """,
        # ROLLUP dataset card; grouping() labels, '<all>' placeholders,
        # exact ppm mean
        # per-doc piecewise-linear-log2 bigram xent (same CTE recipe as
        # cur_budget_alloc, grouped by doc), row_number terciles, rollup
        "cur_ccnet_bucket": """
            WITH toks AS (
                SELECT doc_id, source, string_split(text, ' ') AS ws
                FROM documents
            ),
            db AS (
                SELECT doc_id, source, unnest(list_transform(
                           range(0, len(ws) - 1),
                           i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
                FROM toks WHERE len(ws) >= 2
            ),
            uni AS (
                SELECT w1, COUNT(*) AS c1 FROM (
                    SELECT unnest(ws) AS w1 FROM toks
                ) GROUP BY w1
            ),
            bi AS (SELECT bigram, COUNT(*) AS c2 FROM db GROUP BY bigram),
            j AS (
                SELECT db.doc_id, db.source,
                       (length(bin(c1)) - 1)
                           + (CAST(c1 AS DOUBLE) - power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)))
                             / power(2.0, CAST(length(bin(c1)) - 1 AS DOUBLE)) AS l1,
                       (length(bin(c2)) - 1)
                           + (CAST(c2 AS DOUBLE) - power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)))
                             / power(2.0, CAST(length(bin(c2)) - 1 AS DOUBLE)) AS l2
                FROM db
                JOIN bi USING (bigram)
                JOIN uni ON uni.w1 = string_split(db.bigram, ' ')[1]
            ),
            pd AS (
                SELECT source, doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                       CAST(SUM(CAST(floor((l1 - l2) * 1e9) AS BIGINT))
                           AS BIGINT) AS q
                FROM j GROUP BY source, doc_id
            ),
            x AS (
                SELECT source, doc_id,
                       CAST(q // n_bigrams // 1000 AS BIGINT) AS xent_ubits
                FROM pd
            ),
            rk AS (
                SELECT *, row_number() OVER (
                           PARTITION BY source ORDER BY xent_ubits, doc_id
                       ) AS r,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM x
            ),
            bk AS (
                SELECT source,
                       CASE WHEN r * 3 <= n THEN 'head'
                            WHEN r * 3 <= n * 2 THEN 'middle'
                            ELSE 'tail' END AS bucket,
                       xent_ubits
                FROM rk
            )
            SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   MIN(xent_ubits) AS lo_ubits,
                   MAX(xent_ubits) AS hi_ubits
            FROM bk GROUP BY source, bucket
            ORDER BY source NULLS LAST, bucket
        """,
        "cur_dataset_card": """
            WITH base AS (
                SELECT source, lang,
                       CAST(CASE WHEN text IS NULL THEN 0
                            ELSE len(string_split(text, ' ')) END
                           AS BIGINT) AS tok,
                       n_chars
                FROM documents
            ),
            agg AS (
                SELECT CAST(GROUPING(source) AS INT) AS gs,
                       CAST(GROUPING(lang) AS INT) AS gl,
                       source, lang,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(tok) AS BIGINT) AS n_tokens,
                       CAST(sum(n_chars) AS BIGINT) AS sum_chars
                FROM base GROUP BY ROLLUP(source, lang)
            )
            SELECT CAST(gs + gl AS INT) AS level,
                   CASE WHEN gs = 1 THEN '<all>' ELSE source END AS source,
                   CASE WHEN gl = 1 THEN '<all>' ELSE lang END AS lang,
                   n_docs, n_tokens, sum_chars,
                   CAST((n_tokens // n_docs) * 1000000
                        + ((n_tokens % n_docs) * 1000000) // n_docs
                       AS BIGINT) AS avg_tokens_ppm
            FROM agg
            ORDER BY level, source NULLS LAST, lang NULLS LAST
        """,
        # --- round 11: the funnel monitor's batch twin — gate, min-id
        # fingerprint keepers, first-claimant band buckets (b=32/r=2
        # defaults, the shared _minhash_ctes chain filtered to the
        # exact-dedup survivors).
        "cur_funnel_flags": f"""
            WITH gated AS (
                SELECT doc_id, text FROM documents WHERE text IS NOT NULL
            ),
            fpt AS (
                SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g'))) AS fp
                FROM gated
            ),
            firsts AS (
                SELECT fp, min(doc_id) AS keeper FROM fpt GROUP BY fp
            ),
            ex AS (
                SELECT f.doc_id, (f.doc_id = fi.keeper) AS exact_new
                FROM fpt f JOIN firsts fi USING (fp)
            ),
            {_minhash_ctes("doc_id IN (SELECT keeper FROM firsts)")},
            claim AS (
                SELECT band, bh, min(doc_id) AS claimant
                FROM bands GROUP BY band, bh
            ),
            cand AS (
                SELECT DISTINCT b.doc_id
                FROM bands b JOIN claim c USING (band, bh)
                WHERE c.claimant < b.doc_id
            )
            SELECT d.doc_id,
                   (d.text IS NOT NULL) AS gated,
                   COALESCE(e.exact_new, FALSE) AS exact_new,
                   (COALESCE(e.exact_new, FALSE) AND c.doc_id IS NULL)
                       AS near_new
            FROM documents d
            LEFT JOIN ex e USING (doc_id)
            LEFT JOIN cand c USING (doc_id)
            ORDER BY d.doc_id
        """,
        # --- round 9: the five-stage curation pipeline, replayed end to
        # end — injections, gate, exact dedup, b=16/r=4 MinHash LSH
        # (est_jaccard >= 0.5 <=> signature agreement >= 32), 4-gram
        # decontamination vs the %101 benchmark, ceil token packing.
        "cur_pipeline_card": f"""
            WITH corpus AS MATERIALIZED (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000, text || ' qq' FROM documents
                WHERE doc_id % 29 = 0
                UNION ALL
                SELECT doc_id + 20000000, text FROM documents
                WHERE doc_id % 37 = 0
                UNION ALL
                SELECT doc_id + 30000000, CAST(NULL AS VARCHAR)
                FROM documents WHERE doc_id % 53 = 0
            ),
            s0 AS MATERIALIZED (SELECT doc_id, text FROM corpus WHERE text IS NOT NULL),
            fp AS (
                SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                           'g'))) AS f
                FROM s0
            ),
            keep1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
            s1 AS MATERIALIZED (SELECT s0.* FROM s0 JOIN keep1 USING (doc_id)),
            {_minhash_band_ctes('s1', bands=16)},
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bh = b.bh
                 AND a.doc_id < b.doc_id
            ),
            -- agreement via a 3-key (doc, j, h) equi-join: a SUM(CASE)
            -- over sig-x-sig on j alone lets the optimizer build the
            -- 64-fold j cross product first (1.9e9 rows at sf0.1,
            -- spilled >78 GB before dying); matching h in the join
            -- keeps every intermediate at cand-x-64 rows. Pairs with
            -- zero agreeing hashes drop out, which is fine — only
            -- agree >= 32 matters.
            ca AS (
                SELECT c.doc_a, c.doc_b, sa.j, sa.h
                FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
            ),
            agr AS (
                SELECT ca.doc_a, ca.doc_b, count(*) AS agree
                FROM ca JOIN sig sb
                  ON sb.doc_id = ca.doc_b AND sb.j = ca.j AND sb.h = ca.h
                GROUP BY ca.doc_a, ca.doc_b
            ),
            drop2 AS (
                SELECT DISTINCT doc_b AS doc_id FROM agr WHERE agree >= 32
            ),
            s2 AS MATERIALIZED (
                SELECT * FROM s1
                WHERE doc_id NOT IN (SELECT doc_id FROM drop2)
            ),
            s2w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s2),
            s2sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(0, len(ws) - 3),
                    i -> array_to_string(ws[i + 1 : i + 4], ' ')))) AS shingle
                FROM s2w WHERE len(ws) >= 4
            ),
            bw AS (
                SELECT string_split(text, ' ') AS ws FROM documents
                WHERE doc_id % 101 = 0
            ),
            bsh AS (
                SELECT DISTINCT unnest(list_distinct(list_transform(
                    range(0, len(ws) - 3),
                    i -> array_to_string(ws[i + 1 : i + 4], ' ')))) AS shingle
                FROM bw WHERE len(ws) >= 4
            ),
            contam AS (
                SELECT DISTINCT doc_id FROM s2sh
                WHERE shingle IN (SELECT shingle FROM bsh)
            ),
            s3 AS MATERIALIZED (
                SELECT * FROM s2
                WHERE doc_id NOT IN (SELECT doc_id FROM contam)
            ),
            n AS (
                SELECT (SELECT count(*) FROM corpus) AS nc,
                       (SELECT count(*) FROM s0) AS n0,
                       (SELECT count(*) FROM s1) AS n1,
                       (SELECT count(*) FROM s2) AS n2,
                       (SELECT count(*) FROM s3) AS n3,
                       (SELECT COALESCE(
                            SUM(len(string_split(text, ' '))), 0)
                        FROM s3) AS tok
            )
            SELECT CAST(stage AS INTEGER) AS stage, name,
                   CAST(n_in AS BIGINT) AS n_in,
                   CAST(n_out AS BIGINT) AS n_out,
                   CAST(n_in - n_out_for_drop AS BIGINT) AS n_dropped
            FROM (
                SELECT 0 AS stage, 'gate' AS name, nc AS n_in, n0 AS n_out,
                       n0 AS n_out_for_drop FROM n
                UNION ALL
                SELECT 1, 'exact_dedup', n0, n1, n1 FROM n
                UNION ALL
                SELECT 2, 'lsh_neardedup', n1, n2, n2 FROM n
                UNION ALL
                SELECT 3, 'decontaminate', n2, n3, n3 FROM n
                UNION ALL
                SELECT 4, 'pack', n3, (tok + {2048 - 1}) // 2048, n3 FROM n
            ) ORDER BY stage
        """,
    }
