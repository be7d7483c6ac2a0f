"""Round-14 OPTIMIZATION equivalence pins: every structural rewrite in
the optimization round must produce bit-identical rows to the shape it
replaced. These tests pin the rewrites whose internals changed (the
oracle gate already pins end-to-end values; these isolate the operator).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import dedup, similarity


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again",
        "a completely different document with enough words to shingle",
        "the quick brown fox leaps over the lazy dog again and again",
        "short one",
        "benchmark answer text that leaks into the training corpus set",
        "another benchmark answer text that leaks into training data",
        "numbers one two three four five six seven eight nine ten",
    ]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def vecs(spark):
    import random

    rng = random.Random(14)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_lsh_plane_plan_fused_matches_per_shape_stats(spark, vecs):
    """The fused multi-shape GEMM must reproduce lsh_bucket_balance's
    per-shape rows exactly (same planes, same bit packing)."""
    bands = 3
    plan = similarity.lsh_plane_plan(
        vecs, planes_options=(4, 6), bands=bands, budget_pairs=10**9
    )
    got = _rows(
        plan.select(
            "n_planes", "band", "n_rows", "n_buckets",
            "max_bucket_rows", "cand_pairs", "imbalance_ppm",
        )
    )
    want = []
    for p in (4, 6):
        stats = similarity.lsh_bucket_balance(
            vecs, p, bands, "vec_id", "embedding"
        ).withColumn("n_planes", F.lit(p).cast("int"))
        want.extend(
            _rows(
                stats.select(
                    "n_planes", "band", "n_rows", "n_buckets",
                    "max_bucket_rows", "cand_pairs", "imbalance_ppm",
                )
            )
        )
    assert got == sorted(want)


def test_lsh_plane_plan_verdict_columns(spark, vecs):
    """recommended = smallest within-budget shape, all-false when none
    fits (unchanged contract after the persist/fusion rewrite)."""
    plan = similarity.lsh_plane_plan(
        vecs, planes_options=(4, 6), bands=3, budget_pairs=10**9
    ).collect()
    rec = {r["n_planes"] for r in plan if r["recommended"]}
    assert rec == {4}
    none_fit = similarity.lsh_plane_plan(
        vecs, planes_options=(4, 6), bands=3, budget_pairs=0
    ).collect()
    assert not any(r["recommended"] for r in none_fit)


def test_decontaminate_precomputed_shingles_equivalent(spark, docs):
    train = docs.where(F.col("doc_id") < 5)
    bench = docs.where(F.col("doc_id") >= 5)
    base = _rows(dedup.decontaminate(train, bench, n=4))
    tsh = dedup.shingle_sets(train, "text", "doc_id", 4)
    bsh = (
        dedup.shingle_sets(bench, "text", "doc_id", 4)
        .select("shingle")
        .distinct()
    )
    shared = _rows(
        dedup.decontaminate(
            train, bench, n=4, train_shingles=tsh, bench_shingles=bsh
        )
    )
    assert base == shared


def test_bloom_decontaminate_precomputed_shingles_equivalent(spark, docs):
    train = docs.where(F.col("doc_id") < 5)
    bench = docs.where(F.col("doc_id") >= 5)
    base = _rows(dedup.bloom_decontaminate(train, bench, 4, 1 << 12, 4))
    tsh = dedup.shingle_sets(train, "text", "doc_id", 4)
    bsh = (
        dedup.shingle_sets(bench, "text", "doc_id", 4)
        .select("shingle")
        .distinct()
    )
    shared = _rows(
        dedup.bloom_decontaminate(
            train, bench, 4, 1 << 12, 4,
            train_shingles=tsh, bench_shingles=bsh,
        )
    )
    assert base == shared
    words = _rows(dedup.bloom_build_words(bench, 4, 1 << 12, 4))
    words_pre = _rows(
        dedup.bloom_build_words(bench, 4, 1 << 12, 4, shingles=bsh)
    )
    assert words == words_pre


# --- callable-budget hook on the priced routers (r14 opt: the gates'
# budget is derived from the router's own pricing pass instead of a
# standalone duplicate qgram_plan/jaccard_plan job) ---


def _copied_corpus(spark, docs, copies=3):
    corpus = docs.select("doc_id", "text")
    for i in range(1, copies + 1):
        corpus = corpus.unionByName(
            docs.select(
                (F.col("doc_id") + F.lit(i * 1000)).alias("doc_id"),
                "text",
            )
        )
    return corpus


def test_qgram_routed_callable_budget_equals_int(spark, docs):
    """budget=f(direct, collapsed) must route and emit EXACTLY like the
    same int budget: f = direct // (copies+1) on a copied corpus is the
    gate's construction (collapsed < budget < direct)."""
    corpus = _copied_corpus(spark, docs)
    plan = dedup.qgram_plan(docs.select("doc_id", "text")).collect()[0]
    int_budget = int(plan["seg_join_tuples"]) * 4
    via_int = _rows(dedup.qgram_edit_pairs_routed(corpus, int_budget))
    via_fn = _rows(
        dedup.qgram_edit_pairs_routed(corpus, lambda d, c: d // 4)
    )
    assert via_fn == via_int
    assert len(via_fn) > 0


def test_qgram_routed_callable_budget_direct_route(spark, docs):
    """An unbounded callable budget must take the direct route and match
    the direct operator bit-for-bit."""
    corpus = docs.select("doc_id", "text")
    direct = _rows(dedup.qgram_edit_pairs(corpus))
    via_fn = _rows(
        dedup.qgram_edit_pairs_routed(corpus, lambda d, c: d)
    )
    assert via_fn == direct


def test_jaccard_routed_callable_budget_equals_int(spark, docs):
    """The midpoint callable must route and emit exactly like the same
    int (the gate's construction: prefix route whenever pf < inv)."""
    corpus = docs.select("doc_id", "text")
    plan = dedup.jaccard_plan(corpus, 600_000).collect()[0]
    int_budget = (int(plan["inverted_pairs"]) + int(plan["prefix_pairs"])) // 2
    via_int = _rows(dedup.jaccard_pairs_routed(corpus, int_budget, 600_000))
    via_fn = _rows(
        dedup.jaccard_pairs_routed(
            corpus, lambda inv, pf: (inv + pf) // 2, 600_000
        )
    )
    assert via_fn == via_int
    assert len(via_fn) > 0


def test_routed_callable_budget_negative_raises(spark, docs):
    corpus = docs.select("doc_id", "text")
    with pytest.raises(ValueError, match="budget must be >= 0"):
        dedup.qgram_edit_pairs_routed(corpus, lambda d, c: -1)
    with pytest.raises(ValueError, match="budget must be >= 0"):
        dedup.jaccard_pairs_routed(corpus, lambda inv, pf: -1)
