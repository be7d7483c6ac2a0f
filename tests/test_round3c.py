"""Round-3 (third pass) operators: margin-based cross-group pair mining
and the deterministic epoch shuffle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators.curation import epoch_shuffle
from bytehub_spark.operators.similarity import margin_pairs
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"

rng = np.random.default_rng(11)


def _emb(spark, vecs, labels, ids=None):
    ids = list(range(len(vecs))) if ids is None else ids
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": ids,
                "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
                "label": labels,
            }
        )
    )


# ------------------------------------------------------------ margin pairs
def test_margin_pairs_planted_twin_is_mutual_best(spark):
    # group A: 6 random vectors; group B: 5 random + an exact copy of A[0].
    # The twin must be A[0]'s best match, mutual, with cos_u == 10000 and
    # a margin well above the neighborhood average.
    a = rng.normal(size=(6, 16))
    b = rng.normal(size=(5, 16))
    vecs = list(a) + list(b) + [a[0]]
    labels = [0] * 6 + [1] * 6
    out = (
        margin_pairs(_emb(spark, vecs, labels), threshold_u=0)
        .toPandas()
        .set_index("a_id")
    )
    assert out.loc[0, "b_id"] == 11
    assert out.loc[0, "cos_u"] == 10000
    assert bool(out.loc[0, "mutual"])
    # every a-vector gets exactly one row at threshold 0 (sums positive
    # with a twin present is not guaranteed for all — check at least A[0])
    assert out.loc[0, "margin_u"] > 1_000_000


def test_margin_pairs_hub_vector_scores_near_one(spark):
    # A hub b-vector that is everyone's neighborhood: one shared direction
    # plus per-vector noise. Its margin over the averaged neighborhoods
    # stays near 1e6 (no pair stands out), so a threshold of 1.2 drops it.
    base = rng.normal(size=16)
    a = [base + rng.normal(scale=0.05, size=16) for _ in range(8)]
    b = [base + rng.normal(scale=0.05, size=16) for _ in range(8)]
    out = margin_pairs(
        _emb(spark, a + b, [0] * 8 + [1] * 8), threshold_u=0
    ).toPandas()
    assert len(out) == 8
    # everything is near-identical -> margins hug 1e6
    assert (out["margin_u"].between(900_000, 1_100_000)).all()
    kept = margin_pairs(
        _emb(spark, a + b, [0] * 8 + [1] * 8), threshold_u=1_200_000
    ).toPandas()
    assert len(kept) == 0


def test_margin_pairs_group_too_small_raises(spark):
    vecs = [rng.normal(size=8) for _ in range(5)]
    with pytest.raises(ValueError, match="< k"):
        margin_pairs(_emb(spark, vecs, [0, 0, 0, 1, 1]), k=4)


def test_margin_pairs_matches_bruteforce(spark):
    # independent numpy replay of the full semantics on real table data
    emb = load_table(spark, SF, "embeddings")
    out = margin_pairs(emb, threshold_u=0).toPandas().set_index("a_id")

    pdf = emb.toPandas()
    A = pdf[pdf.label == 0]
    B = pdf[pdf.label == 1]
    am = np.array([np.asarray(v, np.float64) for v in A.embedding])
    bm = np.array([np.asarray(v, np.float64) for v in B.embedding])
    sims = (am @ bm.T) / (
        np.linalg.norm(am, axis=1)[:, None] * np.linalg.norm(bm, axis=1)[None, :]
    )
    cos_u = np.floor(np.abs(sims) * 1e4 + 0.5).astype(np.int64) * np.sign(
        sims
    ).astype(np.int64)
    aid, bid = A.vec_id.to_numpy(), B.vec_id.to_numpy()
    k = 4
    sa = {}
    best = {}
    for i in range(len(aid)):
        top = np.lexsort((bid, -cos_u[i]))[:k]
        sa[aid[i]] = cos_u[i][top].sum()
        best[aid[i]] = (bid[top[0]], cos_u[i][top[0]])
    sb = {}
    bbest = {}
    for j in range(len(bid)):
        top = np.lexsort((aid, -cos_u[:, j]))[:k]
        sb[bid[j]] = cos_u[top, j].sum()
        bbest[bid[j]] = aid[top[0]]
    for a_id, (b_id, cu) in best.items():
        denom = sa[a_id] + sb[b_id]
        if denom <= 0:
            assert a_id not in out.index
            continue
        margin = (2 * k * int(cu) * 1_000_000) // denom
        assert out.loc[a_id, "b_id"] == b_id
        assert out.loc[a_id, "cos_u"] == cu
        assert out.loc[a_id, "margin_u"] == margin
        assert bool(out.loc[a_id, "mutual"]) == (bbest[b_id] == a_id)


# ----------------------------------------------------------- epoch shuffle
def test_epoch_shuffle_deterministic_and_contiguous(spark):
    docs = load_table(spark, SF, "documents")
    s1 = epoch_shuffle(docs, n_shards=8, epoch=0).toPandas()
    s2 = epoch_shuffle(docs, n_shards=8, epoch=0).toPandas()
    pd.testing.assert_frame_equal(s1, s2)
    assert len(s1) == docs.count()
    assert s1["doc_id"].is_unique
    # pos is 1..n_shard contiguous within each shard
    for _, grp in s1.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(1, len(grp) + 1))
    # shards are roughly balanced (hash quality): no shard > 2x the mean
    counts = s1.groupby("shard").size()
    assert counts.max() <= 2 * counts.mean()


def test_epoch_shuffle_epochs_differ_but_cover_same_ids(spark):
    docs = load_table(spark, SF, "documents")
    e0 = epoch_shuffle(docs, epoch=0).toPandas()
    e1 = epoch_shuffle(docs, epoch=1).toPandas()
    assert set(e0["doc_id"]) == set(e1["doc_id"])
    # the order actually changes between epochs
    o0 = e0.sort_values(["shard", "pos"])["doc_id"].tolist()
    o1 = e1.sort_values(["shard", "pos"])["doc_id"].tolist()
    assert o0 != o1
    # and within an epoch the order is not the identity (it shuffles)
    assert o0 != sorted(o0)


# ---------------------------------------------------------------- textrank
def test_textrank_star_center_ranks_first(spark):
    from bytehub_spark.operators.text import textrank_keywords

    # star graph: "hub" is adjacent to every spoke; spokes only touch hub
    texts = [f"hub spoke{i} hub spoke{i}" for i in range(6)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(6), "text": texts})
    )
    out = textrank_keywords(docs, vocab_size=10).toPandas()
    assert out.iloc[0]["token"] == "hub"
    # hub absorbs the rank mass of all 6 spokes
    assert out.iloc[0]["rank_u"] > 2 * out.iloc[1]["rank_u"]
    # spokes are symmetric: identical ranks
    spokes = out[out.token != "hub"]["rank_u"]
    assert spokes.nunique() == 1


def test_textrank_deterministic_and_isolated_nodes(spark):
    from bytehub_spark.operators.text import textrank_keywords

    docs = load_table(spark, SF, "documents")
    r1 = textrank_keywords(docs).toPandas()
    r2 = textrank_keywords(docs).toPandas()
    pd.testing.assert_frame_equal(r1, r2)
    # every rank carries at least the teleport mass
    assert (r1["rank_u"] >= 150_000).all()


# ------------------------------------------------------------------ funnel
def _events(spark, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["event_id"] = range(len(pdf))
    pdf["value"] = 0.0
    pdf["props"] = None
    return spark.createDataFrame(pdf)


def test_funnel_strict_ordering(spark):
    from bytehub_spark.operators.events_ops import funnel

    ev = _events(
        spark,
        [
            # u1 completes in order
            (1, "view", "2024-01-01 10:00"),
            (1, "click", "2024-01-01 11:00"),
            (1, "purchase", "2024-01-01 12:00"),
            # u2: click BEFORE view -> stalls at view
            (2, "click", "2024-01-01 09:00"),
            (2, "view", "2024-01-01 10:00"),
            # u3: view + click, no purchase
            (3, "view", "2024-01-01 10:00"),
            (3, "click", "2024-01-01 10:30"),
            # u4: purchase before click -> stalls at click
            (4, "view", "2024-01-01 08:00"),
            (4, "purchase", "2024-01-01 08:30"),
            (4, "click", "2024-01-01 09:00"),
        ],
    )
    out = funnel(ev).toPandas().set_index("step")
    assert out.loc[1, "n_users"] == 4
    assert out.loc[2, "n_users"] == 3  # u1, u3, u4
    assert out.loc[3, "n_users"] == 1  # u1 only
    assert out.loc[3, "ppm_of_first"] == 250_000
    assert out.loc[2, "ppm_of_prev"] == 750_000
    assert out.loc[1, "ppm_of_prev"] == 1_000_000


def test_funnel_horizon_cuts_slow_chains(spark):
    from bytehub_spark.operators.events_ops import funnel

    ev = _events(
        spark,
        [
            (1, "view", "2024-01-01 10:00"),
            (1, "click", "2024-01-01 10:30"),
            (1, "purchase", "2024-01-01 11:00"),  # within 2h of t1
            (2, "view", "2024-01-01 10:00"),
            (2, "click", "2024-01-02 10:30"),  # next day: outside horizon
            (2, "purchase", "2024-01-02 11:00"),
        ],
    )
    out = funnel(ev, horizon_hours=2).toPandas().set_index("step")
    assert out.loc[2, "n_users"] == 1
    assert out.loc[3, "n_users"] == 1


# -------------------------------------------------------------- code detect
def test_code_detect_flags_code_not_prose(spark):
    from bytehub_spark.operators.text import code_detect

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "the quick brown fox jumps over the lazy dog again and again",
                    "def f(x) {\n  y = x + 1;\n  return (y);\n}",
                    "plain prose\n  but with indented lines\n  like poetry stanzas\n  most lines indented",
                ],
            }
        )
    )
    out = code_detect(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "is_code"] == 0
    assert out.loc[1, "is_code"] == 1
    assert out.loc[1, "sym_ppm"] >= 15_000
    # indentation-dominant doc is routed to code even with low symbols
    assert out.loc[2, "is_code"] == 1
    assert out.loc[2, "indent_ppm"] >= 300_000


# -------------------------------------------------------- length profile
def test_length_profile_exact_quantiles(spark):
    from bytehub_spark.operators.text import length_profile

    # source "a": lengths 10..100 step 10 -> p50 = value at ceil(0.5*10)=5th
    pdf = pd.DataFrame(
        {
            "doc_id": range(10),
            "source": ["a"] * 10,
            "n_chars": [(i + 1) * 10 for i in range(10)],
            "text": ["x"] * 10,
            "lang": ["en"] * 10,
        }
    )
    out = length_profile(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert out["n_docs"] == 10
    assert out["min_chars"] == 10 and out["max_chars"] == 100
    assert out["p50_chars"] == 50  # ceil(50*10/100) = 5th value
    assert out["p90_chars"] == 90
    assert out["p99_chars"] == 100  # ceil(99*10/100) = 10th value
    assert out["total_chars"] == 550


def test_length_profile_single_doc_source(spark):
    from bytehub_spark.operators.text import length_profile

    pdf = pd.DataFrame(
        {
            "doc_id": [0],
            "source": ["solo"],
            "n_chars": [42],
            "text": ["x"],
            "lang": ["en"],
        }
    )
    out = length_profile(spark.createDataFrame(pdf)).toPandas().iloc[0]
    # every quantile of a 1-doc source is that doc
    assert (
        out[["min_chars", "p50_chars", "p90_chars", "p99_chars", "max_chars"]]
        == 42
    ).all()


# ------------------------------------------------------------- oov rate
def test_oov_rate_counts_out_of_vocab_tokens(spark):
    from bytehub_spark.operators.text import oov_rate

    # vocab_size=2 keeps the two most frequent tokens ("aa","bb");
    # everything else is OOV
    texts = ["aa bb aa", "aa bb rare1 rare2", "aa aa aa bb"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(3), "text": texts})
    )
    out = oov_rate(docs, vocab_size=2).toPandas().set_index("doc_id")
    assert out.loc[0, "n_oov"] == 0
    assert out.loc[1, "n_oov"] == 2
    assert out.loc[1, "oov_ppm"] == 500_000
    assert out.loc[2, "n_oov"] == 0
    assert (out["n_tokens"] == [3, 4, 4]).all()


# ----------------------------------------------------- linear attribution
def test_linear_attribution_splits_credit(spark):
    from bytehub_spark.operators.events_ops import linear_attribution

    ev = _events(
        spark,
        [
            # purchase with 2 touches in window: view+click get 500000 each
            (1, "view", "2024-01-01 09:00"),
            (1, "click", "2024-01-01 09:30"),
            (1, "purchase", "2024-01-01 10:00"),
            # touch outside 24h lookback: not credited
            (2, "view", "2024-01-05 09:00"),
            (2, "purchase", "2024-01-07 10:00"),
            # 3 touches -> 333333 each (floor), remainder dropped
            (3, "view", "2024-01-02 09:00"),
            (3, "click", "2024-01-02 09:10"),
            (3, "signup", "2024-01-02 09:20"),
            (3, "purchase", "2024-01-02 10:00"),
        ],
    )
    out = linear_attribution(ev).toPandas().set_index("channel")
    assert out.loc["view", "total_credit_ppm"] == 500_000 + 333_333
    assert out.loc["click", "total_credit_ppm"] == 500_000 + 333_333
    assert out.loc["signup", "total_credit_ppm"] == 333_333
    assert out.loc["view", "n_conversions_touched"] == 2
    # user 2's purchase had no in-window touches -> contributes nowhere
    assert out["n_touches"].sum() == 5


# --------------------------------------------------------- snapshot diff
def test_snapshot_diff_all_verdicts(spark):
    from bytehub_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 2, 3], "v": ["a", "b", "c"], "w": [10, 20, 30]}
        )
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {"k": [2, 3, 4], "v": ["b", "CHANGED", "d"], "w": [20, 30, 40]}
        )
    )
    d = snapshot_diff(old, new, ["k"], ["v", "w"]).toPandas().set_index("k")
    assert d.loc[1, "status"] == "removed" and pd.isna(d.loc[1, "new_hash"])
    assert d.loc[2, "status"] == "unchanged"
    assert d.loc[3, "status"] == "changed"
    assert d.loc[4, "status"] == "added" and pd.isna(d.loc[4, "old_hash"])


def test_snapshot_diff_null_vs_literal_null(spark):
    from bytehub_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [None]}))
    new = spark.createDataFrame(pd.DataFrame({"k": [1], "v": ["null"]}))
    d = snapshot_diff(
        old.withColumn("v", F.col("v").cast("string")), new, ["k"], ["v"]
    ).toPandas()
    # NULL and the string 'null' must NOT hash equal
    assert d.iloc[0]["status"] == "changed"


# ------------------------------------------------------------- bpe train
def test_bpe_train_learns_expected_merges(spark):
    from bytehub_spark.operators.text import bpe_train

    # corpus: "aab" x3, "ab" x2 -> pair counts: (a,a)=3, (a,b)=5 ->
    # round 1 merges (a,b)->"ab"; then words are "a ab" x3, "ab" x2 ->
    # round 2 merges (a,ab)->"aab" (count 3)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1], "text": ["aab aab aab", "ab ab"]}
        )
    )
    out = bpe_train(docs, n_merges=2).toPandas().set_index("merge_round")
    assert out.loc[1, "left_sym"] == "a" and out.loc[1, "right_sym"] == "b"
    assert out.loc[1, "merged"] == "ab" and out.loc[1, "pair_count"] == 5
    assert out.loc[2, "left_sym"] == "a" and out.loc[2, "right_sym"] == "ab"
    assert out.loc[2, "pair_count"] == 3


def test_bpe_train_adjacent_merges_greedy_left_to_right(spark):
    from bytehub_spark.operators.text import bpe_train

    # "aaaa" occurs twice (n=2): pairs (a,a)=3 per occurrence -> 6. After
    # merging (a,a)->"aa" greedily left-to-right, "a a a a" -> "aa aa"
    # (NOT "aa a a"). Round 2 then sees (aa,aa)=1 per occurrence -> 2.
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["aaaa aaaa"]})
    )
    out = bpe_train(docs, n_merges=2).toPandas().set_index("merge_round")
    assert out.loc[1, "merged"] == "aa" and out.loc[1, "pair_count"] == 6
    assert out.loc[2, "left_sym"] == "aa" and out.loc[2, "right_sym"] == "aa"
    assert out.loc[2, "pair_count"] == 2


# ------------------------------------------------- registration hygiene
def test_no_duplicate_registration_keys():
    """A repeated dict key in queries()/oracle_sql() silently REPLACES
    the earlier query (later literal wins) — exactly how the multi-step
    funnel shadowed the daily-CVR ts_funnel. Parse the source and require
    each key to appear exactly once per dict literal."""
    import ast
    import collections

    src = open("__spark_entry__.py").read()
    tree = ast.parse(src)
    offenders = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Dict):
            continue
        keys = [
            k.value
            for k in node.keys
            if isinstance(k, ast.Constant) and isinstance(k.value, str)
        ]
        for key, cnt in collections.Counter(keys).items():
            if cnt > 1:
                offenders.append((key, cnt))
    assert offenders == [], offenders


# -------------------------------------------------------- streaming funnel
def test_stream_funnel_monitor_equals_batch(spark, tmp_path):
    """Incremental funnel over event-time-ordered micro-batches must equal
    the one-shot events_ops.funnel (stage times are final once set under
    ordered arrival)."""
    import os
    import time

    from bytehub_spark import streaming as st
    from bytehub_spark.operators.events_ops import funnel

    ev = load_table(spark, SF, "events")
    expect = funnel(ev).toPandas().reset_index(drop=True)

    pdf = ev.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    src = str(tmp_path / "funnel_src")
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
    q, mon = st.stream_funnel_monitor(stream, str(tmp_path / "ckpt_funnel"))
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    got = mon.result().toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expect)


def test_funnel_monitor_mid_batch_stage_chain(spark):
    """A step-2 event in the SAME batch as the step-1 event it follows
    must count (the update joins batch data against the just-updated
    previous stage)."""
    from bytehub_spark.streaming import FunnelMonitor

    mon = FunnelMonitor()
    b1 = _events(
        spark,
        [
            (1, "view", "2024-01-01 10:00"),
            (1, "click", "2024-01-01 10:30"),  # same batch as its view
        ],
    )
    mon.process_batch(b1)
    b2 = _events(spark, [(1, "purchase", "2024-01-01 11:00")])
    mon.process_batch(b2)
    out = mon.result().toPandas().set_index("step")
    assert (out["n_users"] == 1).all()
    assert out.loc[3, "ppm_of_first"] == 1_000_000


# --------------------------------------------------------- token budget
def test_token_budget_arithmetic(spark):
    from bytehub_spark.operators.multimodal import (
        media_from_documents,
        token_budget,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],  # image, audio, video by doc_id % 3
                "text": ["one two three", "four five", "six"],
                "lang": ["en"] * 3,
                "source": ["s"] * 3,
                "n_chars": [13, 9, 3],
            }
        )
    )
    out = (
        token_budget(media_from_documents(docs), docs)
        .toPandas()
        .set_index("media_id")
    )
    # image doc 0: width 64, height 64, tile 32 -> 4 tiles * 85
    assert out.loc[0, "image_tokens"] == 4 * 85
    assert out.loc[0, "total_tokens"] == 3 + 340
    # audio doc 1: duration 1500ms -> ceil(1500/80) = 19 tokens
    assert out.loc[1, "audio_tokens"] == 19
    assert out.loc[1, "total_tokens"] == 2 + 19
    # video doc 2: duration 2000ms -> 2s * 2 tokens/s = 4
    assert out.loc[2, "video_tokens"] == 4
    assert out.loc[2, "total_tokens"] == 1 + 4


# ------------------------------------------------------ quality percentile
def test_quality_percentile_rank_normalizes_per_source(spark):
    from bytehub_spark.operators.text import quality_percentile

    docs = load_table(spark, SF, "documents")
    out = quality_percentile(docs).toPandas()
    for _, grp in out.groupby("source"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        assert grp["pct_ppm"].min() == 0
        assert grp["pct_ppm"].max() == 1_000_000
        # rank order follows score order (ties broken by doc_id)
        g = grp.sort_values("rank")
        assert (g["quality_score"].diff().dropna() >= -1e-12).all()


# ----------------------------------------------------------- active users
def test_active_users_sliding_distinct(spark):
    from bytehub_spark.operators.events_ops import active_users

    ev = _events(
        spark,
        [
            (1, "view", "2024-01-01 10:00"),
            (2, "view", "2024-01-01 11:00"),
            (1, "view", "2024-01-03 10:00"),
            (3, "view", "2024-01-09 10:00"),
        ],
    )
    out = active_users(ev).toPandas()
    out["day"] = out["day"].dt.strftime("%Y-%m-%d")
    out = out.set_index("day")
    assert out.loc["2024-01-01", "dau"] == 2
    assert out.loc["2024-01-03", "dau"] == 1
    # window ending Jan 3 covers Jan 1 activity: WAU = {1,2}
    assert out.loc["2024-01-03", "wau"] == 2
    # window ending Jan 9 covers only Jan 3..9: users {1(Jan3), 3} -> 2
    assert out.loc["2024-01-09", "wau"] == 2
    assert out.loc["2024-01-09", "stickiness_ppm"] == 500_000
    # user 1 active twice in one window still counts once
    assert out.loc["2024-01-01", "wau"] == 2


def test_active_users_full_table_invariants(spark):
    from bytehub_spark.operators.events_ops import active_users

    ev = load_table(spark, SF, "events")
    out = active_users(ev).toPandas()
    assert (out["wau"] >= out["dau"]).all()
    assert out["stickiness_ppm"].between(0, 1_000_000).all()
    n_users = ev.select("user_id").distinct().count()
    assert out["wau"].max() <= n_users


# ------------------------------------------------------------ url domains
def test_url_domains_extraction(spark):
    from bytehub_spark.operators.text import url_domains

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "see https://www.foo.com/a and https://foo.com/b done",
                    "visit http://bar.org/x today",
                    "no links here",
                ],
            }
        )
    )
    out = url_domains(docs).toPandas().set_index("domain")
    # www. is stripped -> both foo urls collapse to one domain
    assert out.loc["foo.com", "n_urls"] == 2
    assert out.loc["foo.com", "n_docs"] == 1
    assert out.loc["bar.org", "n_urls"] == 1
    assert len(out) == 2


# -------------------------------------------------------- hash embedding
def test_hash_embed_deterministic_and_conserves_tokens(spark):
    from bytehub_spark.operators.text import hash_embed

    docs = load_table(spark, SF, "documents")
    s1 = hash_embed(docs).toPandas()
    s2 = hash_embed(docs).toPandas()
    pd.testing.assert_frame_equal(s1, s2)
    # bucket counts conserve the token count exactly
    n_tokens = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .where(F.length("t") > 0)
        .count()
    )
    assert s1["cnt"].sum() == n_tokens
    assert s1["bucket"].between(0, 31).all()


def test_hash_embed_dense_matches_sparse(spark):
    """hash_embed's sparse (doc_id, bucket, cnt) rows, scattered into a
    dense vector, equal a dense bucket-count vector built in plain
    Python from the same Horner fold over code points."""
    from bytehub_spark.operators.text import hash_embed

    texts = ["aa bb aa cc", "dd dd"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": texts})
    )
    sp = hash_embed(docs, dim=8).toPandas()

    def bucket(token):
        acc = 0
        for ch in token:
            acc = (acc * 1000003 + ord(ch)) % 2147483647
        return acc % 8

    for doc_id, text in enumerate(texts):
        ref = np.zeros(8)
        for tok in text.split(" "):
            if tok:
                ref[bucket(tok)] += 1
        grp = sp[sp.doc_id == doc_id]
        vec = np.zeros(8)
        vec[grp["bucket"].to_numpy()] = grp["cnt"].to_numpy()
        assert list(vec) == list(ref)
    # same token -> same bucket: doc 0's "aa" x2 share a bucket (other
    # tokens may collide into it too at dim=8 — that's the hashing trick)
    assert sp[sp.doc_id == 0]["cnt"].max() >= 2
    assert sp[sp.doc_id == 0]["cnt"].sum() == 4
    assert sp[sp.doc_id == 1]["cnt"].tolist() == [2]


# -------------------------------------------------- streaming active users
def test_stream_active_users_equals_batch_any_order(spark, tmp_path):
    """Distinct-set state is order-independent: feed chunks in REVERSED
    time order and still match the batch kernel exactly."""
    import os
    import time

    from bytehub_spark import streaming as st
    from bytehub_spark.operators.events_ops import active_users

    ev = load_table(spark, SF, "events")
    expect = active_users(ev).toPandas().reset_index(drop=True)

    # chunks in reverse time order — would break an ordered-arrival twin
    pdf = ev.toPandas().sort_values("ts", ascending=False).reset_index(
        drop=True
    )
    src = str(tmp_path / "au_src")
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
    q, mon = st.stream_active_users(stream, str(tmp_path / "ckpt_au"))
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    got = mon.result().toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expect)
