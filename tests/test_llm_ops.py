"""Quality tests for the LLM-pipeline operators: dedup recall, similarity
recall, text analysis, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import dedup, multimodal, similarity, text
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_exact_dedup_finds_planted_duplicates(spark, documents):
    # plant exact + whitespace-variant duplicates
    dups = documents.limit(3).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.substring("text", 1, 0)), F.col("text"),
                 F.lit("   ")).alias("text"),
        "lang", "source", "n_chars",
    )
    planted = documents.unionByName(dups)
    groups = dedup.exact_dedup(planted).toPandas()
    assert (groups["n_copies"] > 1).sum() == 3
    assert groups["n_copies"].sum() == planted.count()


def test_minhash_lsh_recall_vs_true_jaccard(spark, documents):
    """LSH must catch (a) planted near-duplicates and (b) every organic
    pair with true jaccard >= 0.5 (b=32, r=2 → catch prob ≈ 1); its
    estimate must track the exact value."""
    # plant near-dups: copy 3 docs with one word appended (j ≈ 0.95)
    dups = documents.limit(3).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        "lang", "source", "n_chars",
    )
    planted = documents.unionByName(dups)
    true_pairs = dedup.ngram_jaccard_pairs(planted, threshold=0.5).toPandas()
    assert len(true_pairs) >= 3  # the planted pairs are in the truth set
    cand = dedup.minhash_lsh_pairs(planted).toPandas()
    cand_set = set(zip(cand["doc_a"], cand["doc_b"]))
    missed = [
        (a, b)
        for a, b in zip(true_pairs["doc_a"], true_pairs["doc_b"])
        if (a, b) not in cand_set
    ]
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    # estimates within 0.35 of truth for found pairs (64 hashes → σ≈0.06)
    merged = cand.merge(true_pairs, on=["doc_a", "doc_b"])
    if len(merged):
        assert (merged["est_jaccard"] - merged["jaccard"]).abs().max() < 0.35


def test_simhash_near_dup_vs_distinct(spark, documents):
    """Near-identical docs get near-identical simhashes; unrelated docs don't."""
    base = documents.limit(5)
    # perturb: append one word (small token-multiset change)
    near = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        "lang", "source", "n_chars",
    )
    hashes = dedup.simhash64(base.unionByName(near)).toPandas()
    hm = dict(zip(hashes["doc_id"], hashes["simhash"]))

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    ids = sorted(k for k in hm if k < 100000)
    near_d = [hamming(hm[i], hm[i + 100000]) for i in ids]
    cross_d = [hamming(hm[ids[i]], hm[ids[j]])
               for i in range(len(ids)) for j in range(i + 1, len(ids))]
    assert max(near_d) <= 12, f"perturbed docs too far: {near_d}"
    assert min(cross_d) > 12, f"unrelated docs too close: {cross_d}"


def test_lsh_cosine_recall(spark, embeddings):
    """Banded cosine LSH at the registered defaults (8 planes × 4 bands,
    OR'd) pins recall@5 ≥ 0.8 vs the exact GEMM baseline — the r02 verdict
    item: single-signature blocking had unbounded recall decay; banding
    amplifies it exactly like banded MinHash. Every returned neighbor's
    similarity must be exact (re-ranked)."""
    qids = [0, 1, 2, 3, 4]
    exact = similarity.cosine_topk_gemm(embeddings, qids, 5).toPandas()
    approx = similarity.lsh_cosine_topk(embeddings, qids, 5).toPandas()
    exact_set = set(zip(exact["query_id"], exact["neighbor_id"]))
    hits = sum((q, n) in exact_set
               for q, n in zip(approx["query_id"], approx["neighbor_id"]))
    recall = hits / len(exact_set)
    assert recall >= 0.8, f"recall@5 {recall:.2f} < 0.8 at 8 planes x 4 bands"
    # approximate results carry true cosine values
    merged = approx.merge(exact, on=["query_id", "neighbor_id"])
    if len(merged):
        np.testing.assert_allclose(
            merged["cosine_sim_x"], merged["cosine_sim_y"], atol=1e-9
        )
    # fewer planes -> bigger buckets: still works at n_planes=4
    small = similarity.lsh_cosine_topk(embeddings, qids, 5, n_planes=4).toPandas()
    hits4 = sum((q, n) in exact_set
                for q, n in zip(small["query_id"], small["neighbor_id"]))
    assert hits4 / len(exact_set) > 0.2


def test_text_ops_shapes(spark, documents):
    stats = text.text_stats(documents).toPandas()
    assert (stats["n_words"] > 0).all()
    assert ((stats["stopword_ratio"] >= 0) & (stats["stopword_ratio"] <= 1)).all()
    assert ((stats["quality_score"] >= 0) & (stats["quality_score"] <= 1)).all()
    tokens = text.token_counts(documents).toPandas()
    assert (tokens["regex_tokens"] >= tokens["ws_tokens"]).all()
    langs = text.lang_id(documents).toPandas()
    assert set(langs["lang_guess"]) <= {"en", "de", "es", "fr", "zh", "unknown"}


def test_multimodal_plumbing(spark):
    media = multimodal.synthesize_media(spark, n=32, kind="image")
    feats = multimodal.featurize(media, fake=True).toPandas()
    assert len(feats) == 32
    assert all(len(f) == multimodal.FEATURE_DIM for f in feats["feature"])
    np.testing.assert_allclose(
        [sum(f) for f in feats["feature"]], 1.0, atol=1e-3
    )

    video = multimodal.synthesize_media(spark, n=4, kind="video")
    frames = multimodal.sample_frames(video, every_ms=500, fake=True).toPandas()
    assert len(frames) >= 4
    assert (frames["frame_ts_ms"] % 500 == 0).all()

    stats = multimodal.metadata_stats(media).toPandas()
    assert stats["n"].sum() == 32

    # codec boundary is a marked stub without fake=True
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.featurize(media, fake=False).collect()


def test_multimodal_blob_pruning(spark, tmp_path):
    """Metadata-only queries must not read the binary column."""
    media = multimodal.synthesize_media(spark, n=16)
    path = str(tmp_path / "media")
    media.write.parquet(path)
    plan = multimodal.metadata_stats(spark.read.parquet(path))._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan, "binary column leaked into a metadata-only scan"


def test_ivf_topk_recall(spark, embeddings):
    """IVF ANN: probing 1/4 of cells still recalls most true neighbors,
    and similarities are exact (re-ranked)."""
    from bytehub_spark.operators import ivf, similarity

    qids = [0, 1, 2, 3, 4]
    exact = similarity.cosine_topk(embeddings, qids, 5).toPandas()
    approx = ivf.ivf_topk(embeddings, qids, k=5, n_cells=16, n_probe=4).toPandas()
    assert len(approx) > 0
    exact_set = set(zip(exact["query_id"], exact["neighbor_id"]))
    hits = sum((q, n) in exact_set
               for q, n in zip(approx["query_id"], approx["neighbor_id"]))
    assert hits / len(exact_set) > 0.3
    merged = approx.merge(exact, on=["query_id", "neighbor_id"])
    if len(merged):
        np.testing.assert_allclose(
            merged["cosine_sim_x"], merged["cosine_sim_y"], atol=1e-9
        )


def test_embedding_cosine_dups_exact_vs_numpy(spark, embeddings):
    """Exact mode must equal a numpy all-pairs oracle at the same rounding."""
    got = dedup.embedding_cosine_dups(embeddings, 0.4).toPandas()
    pdf = embeddings.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.linalg.norm(M, axis=1)
    sims = (M @ M.T) / np.outer(norms, norms)
    exp = set()
    n = len(ids)
    for i in range(n):
        for j in range(n):
            if ids[i] < ids[j] and round(sims[i, j], 4) >= 0.4:
                exp.add((int(ids[i]), int(ids[j])))
    assert set(zip(got["id_a"], got["id_b"])) == exp
    assert len(exp) > 0  # threshold must actually select something at sf0.001


def test_embedding_cosine_dups_lsh_mode_subset(spark, embeddings):
    """LSH-blocked mode returns a subset of the exact pairs (no false positives)."""
    exact = dedup.embedding_cosine_dups(embeddings, 0.4).toPandas()
    approx = dedup.embedding_cosine_dups(embeddings, 0.4, n_planes=4).toPandas()
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    approx_pairs = set(zip(approx["id_a"], approx["id_b"]))
    assert approx_pairs <= exact_pairs
    # 4 planes -> 16 buckets: recall should be nontrivial on 500 vectors
    if exact_pairs:
        assert len(approx_pairs) / len(exact_pairs) > 0.02


def test_clean_text_strips_urls_and_emails(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["Visit https://x.io/a?b=1 or mail a.b@c.org  now",
                 "no noise here"],
        "source": ["s", "s"], "lang": ["en", "en"],
    })
    got = text.clean_text(spark.createDataFrame(pdf)).toPandas()
    assert got.loc[0, "clean_text"] == "visit or mail now"
    assert got.loc[0, "n_urls"] == 1 and got.loc[0, "n_emails"] == 1
    assert got.loc[1, "clean_text"] == "no noise here"


def test_repetition_ratio_flags_boilerplate(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["spam spam spam spam spam spam",   # all 3-grams identical
                 "a b c d e f g",                    # all distinct
                 "x y"],                             # shorter than n
        "source": ["s"] * 3, "lang": ["en"] * 3,
    })
    got = text.repetition_ratio(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert got.loc[1, "dup_ngram_ratio"] == 0.75  # 4 grams, 1 distinct
    assert got.loc[2, "dup_ngram_ratio"] == 0.0
    assert got.loc[3, "n_ngrams"] == 0 and got.loc[3, "dup_ngram_ratio"] == 0.0


def test_connected_components_transitive(spark):
    """a–b and b–c pairs must land a, b, c in ONE component (min id)."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 10], "doc_b": [2, 3, 11]})
    )
    got = dedup.connected_components(pairs).toPandas().set_index("doc_id")["component"]
    assert got.loc[1] == got.loc[2] == got.loc[3] == 1
    assert got.loc[10] == got.loc[11] == 10


def test_connected_components_includes_singletons(spark):
    pairs = spark.createDataFrame(pd.DataFrame({"doc_a": [1], "doc_b": [2]}))
    verts = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 99]}))
    got = dedup.connected_components(pairs, vertices=verts).toPandas()
    comp = got.set_index("doc_id")["component"]
    assert comp.loc[99] == 99 and comp.loc[2] == 1


def test_jaccard_df_cut_is_subset(spark, documents):
    """df-cut pairs ⊆ exact pairs; jaccard never overestimated."""
    exact = dedup.ngram_jaccard_pairs(documents, 0.2).toPandas()
    cut = dedup.ngram_jaccard_pairs(documents, 0.2, max_doc_freq=10).toPandas()
    e = exact.set_index(["doc_a", "doc_b"])["jaccard"]
    c = cut.set_index(["doc_a", "doc_b"])["jaccard"]
    assert set(c.index) <= set(e.index)
    for k, v in c.items():
        assert v <= e.loc[k] + 1e-12


def test_redact_pii_counts_and_replaces(spark):
    rows = [
        (0, "reach me at jane.doe+x@mail.example.org today"),
        (1, "call +1-555-0199 or 44-555-0100 now"),
        (2, "no pii here at all"),
        (3, "a@b.io and c.d@e-f.co.uk plus 1-555-9999"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_phones"] == 0
    assert "<EMAIL>" in out[0]["redacted"]
    assert "jane" not in out[0]["redacted"]
    assert out[1]["n_phones"] == 2 and "<PHONE>" in out[1]["redacted"]
    assert out[2]["redacted"] == "no pii here at all"
    assert out[3]["n_emails"] == 2 and out[3]["n_phones"] == 1


def test_decontaminate_flags_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words with no overlap at all"),
            (3, "quick brown fox jumps too"),  # shares a 4-gram with bench
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps high")], ["doc_id", "text"]
    )
    hits = {r["doc_id"]: r["n_hit_shingles"]
            for r in dedup.decontaminate(train, bench).collect()}
    assert 1 in hits and 3 in hits and 2 not in hits


def test_canonical_keeps_highest_quality_not_lowest_id(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, base[:60].strip()),           # truncated variant, lower id
        (2, base.strip()),                # full doc: higher quality, higher id
        (3, "totally different content with no overlap whatsoever here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.canonical_per_cluster(df, 0.2).collect()}
    assert out[1]["component"] == out[2]["component"] == 1
    assert out[2]["is_canonical"] and not out[1]["is_canonical"]
    assert out[3]["is_canonical"]  # singleton keeps itself


def test_incremental_lsh_dedup_against_index(spark):
    """Near-dups of indexed corpus docs are flagged with the right witness;
    fresh docs pass as novel; agrees with the all-pairs LSH on the union."""
    rng = np.random.RandomState(11)
    vocab = [f"w{i:03d}" for i in range(400)]

    def doc():
        return " ".join(rng.choice(vocab, size=50))

    corpus_rows = [(i, doc()) for i in range(30)]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    index = dedup.build_lsh_index(corpus).cache()

    near, fresh = [], []
    for j in range(6):
        words = corpus_rows[j][1].split()
        words[5], words[30] = "xxx", "yyy"  # ~0.85 3-gram jaccard
        near.append((1000 + j, " ".join(words)))
    for j in range(6):
        fresh.append((2000 + j, doc()))
    new_docs = spark.createDataFrame(near + fresh, ["doc_id", "text"])

    out = {r["doc_id"]: r for r in
           dedup.dedup_against_index(new_docs, index).collect()}
    for j in range(6):
        assert not out[1000 + j]["is_novel"]
        assert out[1000 + j]["matched_doc"] == j
    for j in range(6):
        assert out[2000 + j]["is_novel"], out[2000 + j]


def test_substring_dedup_detects_planted_shared_run(spark):
    """Two docs sharing an exact 12-word run (k + w - 1) amid otherwise
    disjoint text MUST share a winnowed fingerprint (the winnowing
    guarantee is deterministic at that length); fully disjoint docs must
    not pair."""
    rng = np.random.RandomState(3)
    va = [f"a{i:03d}" for i in range(200)]
    vb = [f"b{i:03d}" for i in range(200)]
    shared = " ".join(f"s{i:02d}" for i in range(12))
    rows = [
        (1, " ".join(rng.choice(va, 30)) + " " + shared + " " + " ".join(rng.choice(va, 30))),
        (2, " ".join(rng.choice(vb, 25)) + " " + shared + " " + " ".join(rng.choice(vb, 35))),
        (3, " ".join(rng.choice(va, 60))),  # same vocab as 1, no shared run
        (4, " ".join(rng.choice(vb, 60))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.substring_dup_pairs(docs).toPandas()
    got = set(zip(pairs["doc_a"], pairs["doc_b"]))
    assert (1, 2) in got
    # disjoint-vocab docs can never share a fingerprint
    assert not any(p in got for p in [(1, 4), (2, 3), (3, 4)])


def test_substring_dedup_short_docs_and_df_cut(spark, documents):
    """Docs below k+w-1 words produce no fingerprints (no descending-
    sequence crash); the df-cut output is a subset of the exact output."""
    short = spark.createDataFrame([(1, "a b c"), (2, "a b c")], ["doc_id", "text"])
    assert dedup.substring_dup_pairs(short).count() == 0
    exact = dedup.substring_dup_pairs(documents).toPandas()
    cut = dedup.substring_dup_pairs(documents, max_doc_freq=3).toPandas()
    exact_pairs = set(zip(exact["doc_a"], exact["doc_b"]))
    cut_pairs = set(zip(cut["doc_a"], cut["doc_b"]))
    assert cut_pairs <= exact_pairs


def test_stratified_sample_nested_deterministic(spark, documents):
    """md5-threshold sampling: higher rate strictly contains lower rate
    (nested samples), rate 1.0 keeps everything, rate 0 nothing, and the
    kept set is invariant under repartitioning (layout-independent)."""
    from bytehub_spark.operators import curation

    half = curation.stratified_sample(documents, {"en": 0.5})
    quarter = curation.stratified_sample(documents, {"en": 0.25})
    ids_half = {r[0] for r in half.select("doc_id").collect()}
    ids_quarter = {r[0] for r in quarter.select("doc_id").collect()}
    assert ids_quarter < ids_half
    n_en = documents.where(F.col("lang") == "en").count()
    assert curation.stratified_sample(documents, {"en": 1.0}).count() == n_en
    assert curation.stratified_sample(documents, {"en": 0.0}).count() == 0
    # layout independence: different partitioning, same sample
    reparted = curation.stratified_sample(documents.repartition(17), {"en": 0.5})
    assert {r[0] for r in reparted.select("doc_id").collect()} == ids_half
    # rate roughly honored (binomial bound, n_en ~ 100)
    assert 0.3 * n_en < len(ids_half) < 0.7 * n_en


def test_cap_per_group_bounds_and_order(spark, documents):
    """Per-group cap keeps at most `cap` docs per source, prefers the
    longest docs, and never invents rows."""
    from bytehub_spark.operators import curation

    capped = curation.cap_per_group(documents, cap=3).toPandas()
    per_group = capped.groupby("source").size()
    assert (per_group <= 3).all()
    # kept docs per group are exactly the 3 longest (ties by id)
    full = documents.select("source", "doc_id", "n_chars").toPandas()
    for src, grp in full.groupby("source"):
        want = set(
            grp.sort_values(["n_chars", "doc_id"], ascending=[False, True])
            .head(3)["doc_id"]
        )
        got = set(capped[capped["source"] == src]["doc_id"])
        assert got == want, src


def test_quality_rules_flags_consistent(spark, documents):
    """passes_all is the conjunction of the per-rule flags, and measured
    values agree with a pandas recomputation."""
    got = text.quality_rules(documents).toPandas()
    conj = (
        got["r_word_count"]
        & got["r_avg_word_len"]
        & got["r_dup_words"]
        & got["r_top_word"]
    )
    assert (got["passes_all"] == conj).all()
    texts = documents.select("doc_id", "text").toPandas().set_index("doc_id")
    sample = got.sample(n=25, random_state=7)
    for _, row in sample.iterrows():
        ws = texts.loc[row["doc_id"], "text"].split(" ")
        assert row["n_words"] == len(ws)
        top = max(pd.Series(ws).value_counts())
        assert row["top_word_ratio"] == pytest.approx(top / len(ws))
        assert row["dup_word_ratio"] == pytest.approx(
            (len(ws) - len(set(ws))) / len(ws)
        )


def test_bm25_ranking_matches_pandas(spark, documents):
    """BM25 scores match a straightforward pandas implementation with the
    same ratio-idf variant (term order fixed, float-add order fixed)."""
    terms = ("join", "hash", "scan")
    got = text.bm25_topk(documents, query_terms=terms, k=10).toPandas()
    docs = documents.select("doc_id", "text").toPandas()
    docs["ws"] = docs["text"].str.split(" ")
    docs["dl"] = docs["ws"].str.len()
    n_docs = len(docs)
    avgdl = docs["dl"].sum() / n_docs
    df_map = {
        t: int((docs["ws"].apply(lambda ws: t in ws)).sum()) for t in terms
    }
    k1, b = 1.2, 0.75
    scores = {}
    for _, r in docs.iterrows():
        total, hits = 0.0, 0
        for t in terms:
            tf = r["ws"].count(t)
            if tf == 0:
                continue
            hits += 1
            idf = n_docs / df_map[t]
            total += (idf * (tf * (k1 + 1.0))) / (
                tf + k1 * ((1.0 - b) + b * r["dl"] / avgdl)
            )
        if hits:
            scores[r["doc_id"]] = (total, hits)
    want = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    assert list(got["doc_id"]) == [d for d, _ in want]
    for (_, (score, hits)), (_, row) in zip(want, got.iterrows()):
        assert row["bm25_score"] == pytest.approx(score, rel=1e-12)
        assert row["n_terms_hit"] == hits


def test_label_affinity_bounds_and_symmetry_free(spark, embeddings):
    """Centroid cosines are in [-1, 1], the output is the strict upper
    triangle, and values match a numpy recomputation."""
    got = similarity.label_affinity(embeddings).toPandas()
    assert ((got["centroid_cosine"] <= 1.0) & (got["centroid_cosine"] >= -1.0)).all()
    assert (got["label_a"] < got["label_b"]).all()
    pdf = embeddings.select("label", "embedding").toPandas()
    cents = {
        lab: np.stack(g["embedding"].to_numpy()).astype(np.float64).mean(axis=0)
        for lab, g in pdf.groupby("label")
    }
    for _, row in got.sample(n=min(10, len(got)), random_state=3).iterrows():
        a = np.round(cents[row["label_a"]] * 1e6)
        bvec = np.round(cents[row["label_b"]] * 1e6)
        want = float(
            a @ bvec / (np.sqrt(a @ a) * np.sqrt(bvec @ bvec))
        )
        # float64 mean vs the operator's exact decimal mean can flip the
        # 1e-6 re-quantization of a component at a near-tie -> ~1.5e-6
        assert row["centroid_cosine"] == pytest.approx(want, abs=5e-6)


def test_span_dedup_flags_planted_span(spark):
    """Two docs sharing an aligned 8-word span are both flagged; a doc
    shorter than one span emits no row; unique docs have ratio 0."""
    shared = "q w e r t y u i"
    rows = [
        (1, shared + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, shared + " one two three four five six seven eight"),
        (3, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11 n12 n13 n14 n15 n16"),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = text.span_dedup_stats(docs, span_words=8).toPandas().set_index("doc_id")
    assert 4 not in got.index
    assert got.loc[1, "n_spans"] == 2 and got.loc[1, "n_dup_spans"] == 1
    assert got.loc[2, "n_dup_spans"] == 1
    assert got.loc[3, "n_dup_spans"] == 0
    assert got.loc[1, "dup_span_ratio"] == pytest.approx(0.5)


def test_retention_cohorts_synthetic(spark):
    """Known two-cohort layout produces the expected triangle."""
    from bytehub_spark.operators import events_ops

    rows = [
        # users 1,2 first seen week of 2024-01-01; user 1 returns wk+1
        (1, "2024-01-02 10:00:00"), (2, "2024-01-03 11:00:00"),
        (1, "2024-01-09 09:00:00"),
        # user 3 first seen the following week
        (3, "2024-01-10 12:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "s"]).select(
        "user_id", F.col("s").cast("timestamp").alias("ts")
    )
    got = events_ops.retention_cohorts(ev).toPandas()
    got["cohort_week"] = got["cohort_week"].astype(str)
    cells = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for _, r in got.iterrows()
    }
    assert cells == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
    }


def test_dim_stats_matches_numpy(spark, embeddings):
    """Per-dim stats agree with numpy on the 1e-6-quantized values."""
    got = similarity.dim_stats(embeddings).toPandas()
    mat = np.stack(
        embeddings.select("embedding").toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    q = np.round(mat * 1e6)
    assert (got["n_vectors"] == mat.shape[0]).all()
    np.testing.assert_allclose(
        got["mean_val"], q.mean(axis=0) / 1e6, rtol=0, atol=1e-9
    )
    np.testing.assert_allclose(
        got["std_val"], q.std(axis=0) / 1e6, rtol=1e-9, atol=1e-12
    )
    np.testing.assert_array_equal(got["min_val"], mat.min(axis=0))
    np.testing.assert_array_equal(got["max_val"], mat.max(axis=0))


def test_temperature_mix_sqrt_damping(spark):
    """Weights follow sqrt(token mass): a 4x token group gets 2x weight;
    weights sum to 1; targets respect the budget; rate caps at 1."""
    from bytehub_spark.operators import curation

    rows = (
        [(i, "w " * 99 + "w", "big") for i in range(40)]
        + [(100 + i, "w " * 99 + "w", "small") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = (
        curation.temperature_mix_plan(docs, token_budget=3000)
        .toPandas()
        .set_index("lang")
    )
    assert got["mix_weight"].sum() == pytest.approx(1.0)
    # sqrt is quantized at 1e-6 (~1.6e-8 relative here) before weighting
    assert got.loc["big", "mix_weight"] == pytest.approx(
        2 * got.loc["small", "mix_weight"], rel=1e-6
    )
    assert got["token_target"].sum() <= 3000
    assert got.loc["small", "sample_rate"] == pytest.approx(1.0, rel=1e-6)
    assert got.loc["big", "sample_rate"] == pytest.approx(0.5, rel=1e-3)


def test_bm25_index_path_identical_and_prunes(spark, documents, tmp_path):
    """Query-against-index is bit-identical to the direct scorer, and a
    tb-partitioned postings store prunes to the query terms' buckets."""
    direct = text.bm25_topk(documents).toPandas()
    idx = text.build_bm25_index(documents)
    stats = text.bm25_corpus_stats(documents)
    got = text.bm25_query_index(idx, stats).toPandas()
    pd.testing.assert_frame_equal(direct, got)

    # store partitioned by term bucket; query with the bucket prefilter
    path = str(tmp_path / "bm25_idx")
    idx.write.partitionBy("tb").mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    terms = ("join", "hash", "scan")
    buckets = [
        r[0]
        for r in spark.range(1)
        .select(
            F.explode(
                F.array(*[F.pmod(F.xxhash64(F.lit(t)), F.lit(64)) for t in terms])
            )
        )
        .collect()
    ]
    pruned = stored.where(F.col("tb").isin(buckets))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [tb" in plan.replace("#", " ").replace(
        "CAST", ""
    ) or "tb" in plan.split("PartitionFilters")[1].split("]")[0]
    got2 = text.bm25_query_index(pruned, stats, query_terms=terms).toPandas()
    pd.testing.assert_frame_equal(direct, got2)


def test_pca_project_matches_numpy(spark, embeddings):
    """Distributed partial-GEMM PCA equals numpy PCA on the collected
    matrix: same eigen-spectrum, same projections (signs fixed), and
    whitening yields unit per-component variance."""
    from bytehub_spark.operators import pca

    X = np.stack(
        embeddings.select("embedding").toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    n, d = X.shape
    cov = (X.T @ X) / n - np.outer(X.mean(0), X.mean(0))
    ev, Q = np.linalg.eigh(cov)
    order = np.argsort(ev)[::-1][:8]
    comps = Q[:, order]
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(8)])
    comps = comps * np.where(flip == 0, 1.0, flip)
    want = (X - X.mean(0)) @ comps

    got = pca.pca_project(embeddings, n_components=8).toPandas()
    ids = embeddings.select("vec_id").toPandas()["vec_id"].to_numpy()
    got = got.set_index("vec_id").loc[np.sort(ids)]
    got_m = got[[f"pc_{i}" for i in range(8)]].to_numpy()
    # rows were collected unordered for `want`; align by vec_id
    pdf = embeddings.select("vec_id", "embedding").toPandas()
    order_idx = np.argsort(pdf["vec_id"].to_numpy())
    want = want[order_idx]
    np.testing.assert_allclose(got_m, want, rtol=1e-6, atol=1e-8)

    wh = pca.pca_project(embeddings, n_components=4, whiten=True).toPandas()
    var = wh[[f"pc_{i}" for i in range(4)]].to_numpy().var(axis=0)
    np.testing.assert_allclose(var, 1.0, rtol=1e-3)


def test_explained_variance_spectrum(spark, embeddings):
    from bytehub_spark.operators import pca

    sp = pca.explained_variance(embeddings).toPandas()
    assert (np.diff(sp["eigenvalue"]) <= 1e-12).all()  # descending
    assert sp["explained_ratio"].sum() == pytest.approx(1.0)
    assert sp["cumulative_ratio"].iloc[-1] == pytest.approx(1.0)


def test_pq_recall_determinism_and_code_range(spark, embeddings):
    """PQ/ADC: recall@10 vs exact L2 clears 0.5 at defaults, results are
    run-deterministic, codes lie in [0, ksub)."""
    from bytehub_spark.operators import pq

    pdf = embeddings.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    Q = X[np.argsort(ids)[:5]]

    books = pq.train_codebooks(embeddings)
    codes = pq.pq_encode(embeddings, books)
    got = pq.pq_topk(codes, books, Q, k=10).toPandas()
    recs = []
    for qi in range(5):
        d2 = ((X - Q[qi]) ** 2).sum(1)
        exact = set(ids[np.argsort(d2)[:10]])
        approx = set(got[got["query_id"] == qi]["vec_id"])
        recs.append(len(exact & approx) / 10)
    assert sum(recs) / len(recs) >= 0.5, recs

    again = pq.pq_topk(codes, books, Q, k=10).toPandas()
    pd.testing.assert_frame_equal(got, again)

    c = np.stack(codes.toPandas()["codes"].to_numpy())
    assert c.min() >= 0 and c.max() < books.shape[1]
    assert c.shape[1] == books.shape[0]
    # per-query row count is exactly k with ranks 1..k
    assert (got.groupby("query_id")["rank"].max() == 10).all()
    assert (got.groupby("query_id").size() == 10).all()


def test_ivf_pq_recall_and_subset(spark, embeddings):
    """IVF-PQ recall@10 stays useful (>= 0.4 at 8/16 probes on isotropic
    data — the hard case: cells barely cluster random vectors, so true
    neighbors scatter across cells) and, with ALL cells probed, matches
    plain PQ exactly (pruning is the only difference between paths)."""
    from bytehub_spark.operators import pq

    pdf = embeddings.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    qids = [int(i) for i in np.sort(ids)[:5]]
    id_to_row = {v: i for i, v in enumerate(ids)}
    Q = X[[id_to_row[q] for q in qids]]

    got = pq.ivf_pq_topk(embeddings, qids, k=10, n_probe=8).toPandas()
    recs = []
    for qi in range(5):
        d2 = ((X - Q[qi]) ** 2).sum(1)
        exact = set(ids[np.argsort(d2)[:10]])
        approx = set(got[got["query_id"] == qi]["vec_id"])
        recs.append(len(exact & approx) / 10)
    assert sum(recs) / len(recs) >= 0.4, recs

    # full-probe IVF-PQ == plain PQ (same codebooks/seed)
    full = pq.ivf_pq_topk(
        embeddings, qids, k=10, n_cells=16, n_probe=16
    ).toPandas()
    books = pq.train_codebooks(embeddings)
    plain = pq.pq_topk(
        pq.pq_encode(embeddings, books), books, Q, k=10
    ).toPandas()
    pd.testing.assert_frame_equal(
        full.reset_index(drop=True), plain.reset_index(drop=True)
    )


def test_pq_codes_cell_partitioned_store_prunes(spark, embeddings, tmp_path):
    """The stored IVF-PQ layout: codes written partitioned by cell read
    back with static partition pruning, and ADC over the pruned store
    equals ADC over the in-memory codes for the probed cells."""
    from bytehub_spark.operators import ivf, pq

    cents = ivf.train_centroids(embeddings)
    books = pq.train_codebooks(embeddings)
    with_cell = ivf.assign_cells(embeddings, cents)
    codes = pq.pq_encode(with_cell, books, carry_cols=("cell",))
    path = str(tmp_path / "pq_codes")
    codes.write.partitionBy("cell").mode("overwrite").parquet(path)

    stored = spark.read.parquet(path)
    probe = [0, 3, 7]
    pruned = stored.where(F.col("cell").isin(probe))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]

    pdf = embeddings.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Q = X[:3]
    got = pq.pq_topk(pruned.select("vec_id", "codes"), books, Q, k=5).toPandas()
    mem = pq.pq_topk(
        codes.where(F.col("cell").isin(probe)).select("vec_id", "codes"),
        books,
        Q,
        k=5,
    ).toPandas()
    pd.testing.assert_frame_equal(got, mem)


def test_containment_catches_embedded_short_doc(spark):
    """A short doc fully embedded in a long one scores containment 1.0
    even though its Jaccard is low (union dominated by the long side)."""
    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"f{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "x1 x2 x3 x4 x5 x6")],
        ["doc_id", "text"],
    )
    got = dedup.containment_pairs(docs, threshold=0.9).toPandas()
    assert set(zip(got["doc_a"], got["doc_b"])) == {(1, 2)}
    assert got.iloc[0]["containment"] == 1.0
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    assert (1, 2) not in set(zip(jac["doc_a"], jac["doc_b"]))


def test_label_outliers_finds_planted_outlier(spark, embeddings):
    """A vector pushed far from its label centroid tops the outlier list."""
    pdf = embeddings.select("vec_id", "label", "embedding").toPandas()
    pdf.at[0, "embedding"] = [float(x) + 25.0 for x in pdf.at[0, "embedding"]]
    planted = int(pdf.at[0, "vec_id"])
    df = spark.createDataFrame(pdf)
    got = similarity.label_outliers(df, k=5).toPandas()
    assert got.iloc[0]["vec_id"] == planted
    assert (got["centroid_dist"].diff().dropna() <= 1e-12).all()  # desc
