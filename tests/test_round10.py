"""Round-10 contracts for the five new operators, each pinned on a
crafted frame that contains its hostile case (runs of NULLs, touching
intervals, tie values at tercile boundaries, exactly-threshold Jaccard,
a hot join key) — plus the reference-semantics checks the oracle gate
cannot express (the r07 lesson: an engine-CONSISTENT formula bug is
invisible to oracle comparison, so KN scores are re-derived with
unbounded Python ints and prefix filtering is compared against the
independent ngram_jaccard implementation).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import curation, dedup, events_ops, skew, text


# ------------------------------------------------ scd2_history


def _scd_events(spark):
    rows = [
        # user 1: click,click,view,view,click — 3 runs; equal-ts tie
        # between event_id 2 and 3 resolves by event_id
        (1, "2024-01-01 00:00:00", 1, "click"),
        (2, "2024-01-01 01:00:00", 1, "click"),
        (3, "2024-01-01 01:00:00", 1, "view"),
        (4, "2024-01-01 02:00:00", 1, "view"),
        (5, "2024-01-01 03:00:00", 1, "click"),
        # user 2: NULL-type run between two click runs — null-safe lag
        # must collapse the NULL run into ONE version
        (6, "2024-01-01 00:00:00", 2, "click"),
        (7, "2024-01-01 01:00:00", 2, None),
        (8, "2024-01-01 02:00:00", 2, None),
        (9, "2024-01-01 03:00:00", 2, "click"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_scd2_runs_and_tiling(spark):
    out = events_ops.scd2_history(_scd_events(spark)).toPandas()
    u1 = out[out.user_id == 1].reset_index(drop=True)
    assert list(u1.event_type) == ["click", "view", "click"]
    assert list(u1.n_events) == [2, 2, 1]
    assert list(u1.version) == [1, 2, 3]
    # half-open tiling: valid_to == next valid_from; last is open
    assert list(u1.valid_to)[:-1] == list(u1.valid_from)[1:]
    assert pd.isna(u1.valid_to.iloc[-1])


def test_scd2_null_attribute_run_collapses(spark):
    out = events_ops.scd2_history(_scd_events(spark)).toPandas()
    u2 = out[out.user_id == 2].reset_index(drop=True)
    assert len(u2) == 3
    assert list(u2.n_events) == [1, 2, 1]
    assert pd.isna(u2.event_type.iloc[1])


def test_scd2_null_leading_run_starts_at_version_one(spark):
    # a user whose FIRST event has NULL event_type: lag() is NULL and
    # NULL <=> NULL is true, so a bare null-safe change flag would
    # number that run 0 — the first row of a user must always open
    # run 1 (self-review r10 finding)
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 9, None),
         (2, "2024-01-01 01:00:00", 9, "click")],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = events_ops.scd2_history(ev).toPandas()
    assert list(out.version) == [1, 2]
    assert pd.isna(out.event_type.iloc[0])


def test_scd2_null_event_id_does_not_split_a_run(spark):
    """Only a user's first row opens a run: three `view` events with
    event ids 5, NULL, 7 are one version of 3 events in scd2_history,
    in Scd2Monitor (one batch, and one batch per event) and in the
    DuckDB oracle."""
    from datetime import datetime

    import duckdb

    import __spark_entry__ as entry
    from bytehub_spark.streaming import Scd2Monitor

    rows = [
        (5, 1, datetime(2024, 1, 1, 0, 10), "view"),
        (None, 1, datetime(2024, 1, 1, 0, 20), "view"),
        (7, 1, datetime(2024, 1, 1, 0, 30), "view"),
    ]

    def frame(rs):
        return spark.createDataFrame(
            rs, "event_id long, user_id long, ts timestamp, event_type string"
        )

    batch = frame(rows)
    want = [(1, 1, "view", pd.Timestamp("2024-01-01 00:10:00"), 3)]
    cols = ["user_id", "version", "event_type", "valid_from", "n_events"]

    def runs(pdf):
        assert pdf.valid_to.isna().all()
        return [tuple(r) for r in pdf[cols].itertuples(index=False)]

    assert runs(events_ops.scd2_history(batch).toPandas()) == want
    mon = Scd2Monitor()
    mon.process_batch(batch)
    assert runs(mon.result().toPandas()) == want
    mon = Scd2Monitor()
    for r in rows:
        mon.process_batch(frame([r]))
    assert runs(mon.result().toPandas()) == want
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "event_type"])
        .astype({"event_id": "Int64"}),
    )
    assert runs(con.execute(entry.oracle_sql()["ts_scd2_history"]).df()) == want


# ------------------------------------------------ intervals_merge


def _iv_events(spark):
    # value is MINUTES of duration. user 1: chain a-b-c transitively
    # overlapping (b starts inside a, c starts inside b but after a
    # ends) + d touching c's end EXACTLY (start == running max end —
    # merges, the half-open boundary) + e disjoint.
    rows = [
        (1, "2024-01-01 00:00:00", 1, 10.0),   # a: 00:00-00:10
        (2, "2024-01-01 00:05:00", 1, 10.0),   # b: 00:05-00:15
        (3, "2024-01-01 00:12:00", 1, 3.0),    # c: 00:12-00:15
        (4, "2024-01-01 00:15:00", 1, 5.0),    # d: 00:15-00:20 touches
        (5, "2024-01-01 01:00:00", 1, 1.0),    # e: disjoint island
        (6, "2024-01-01 00:00:00", 2, 1.0),    # user 2: one row
        (7, None, 2, 1.0),                     # NULL ts dropped
        (8, "2024-01-01 00:00:00", 3, None),   # NULL value dropped
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_intervals_merge_islands(spark):
    out = events_ops.intervals_merge(_iv_events(spark)).toPandas()
    u1 = out[out.user_id == 1].reset_index(drop=True)
    assert list(u1.n_intervals) == [4, 1]
    assert list(u1.span_s) == [20 * 60, 60]
    assert str(u1.end_ts.iloc[0]) == "2024-01-01 00:20:00"
    # NULL ts / NULL value rows never form intervals; user 3 is absent
    assert set(out.user_id) == {1, 2}
    # islands per user are disjoint and ordered
    assert (u1.start_ts.iloc[1] > u1.end_ts.iloc[0])


# ------------------------------------------------ ccnet_bucket


def test_ccnet_tercile_sizes_and_bounds(spark, sf001_documents):
    out = curation.ccnet_bucket(sf001_documents).toPandas()
    for src, g in out.groupby("source"):
        g = g.set_index("bucket")
        sizes = g.n_docs
        # row_number terciles: bucket sizes differ by at most 1 and
        # head <= middle <= tail in size (r*3 <= n floors the head)
        assert sizes.max() - sizes.min() <= 1
        if {"head", "middle", "tail"} <= set(g.index):
            # ranked assignment: value ranges are ordered (ties may
            # straddle, so <=, never <)
            assert g.loc["head", "hi_ubits"] <= g.loc["middle", "lo_ubits"] or \
                g.loc["head", "hi_ubits"] == g.loc["middle", "lo_ubits"]
            assert g.loc["middle", "hi_ubits"] <= g.loc["tail", "lo_ubits"] or \
                g.loc["middle", "hi_ubits"] == g.loc["tail", "lo_ubits"]


def test_ccnet_null_group_sorts_last(spark):
    # NULLS LAST pin (the r09 dataset_card convention): a NULL source
    # group must sort after every named source in BOTH engines
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat", "web"),
         (1, "the dog sat on the rug", "web"),
         (2, "a null source document here", None)],
        "doc_id long, text string, source string",
    )
    out = curation.ccnet_bucket(docs).toPandas()
    assert out.source.iloc[-1] is None or pd.isna(out.source.iloc[-1])
    assert out.source.notna()[:-1].all()


# ------------------------------------------------ prefix_filter_pairs


def _neardup_docs(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    words = base.split(" ")
    rows = [(0, base)]
    # 1: exact copy; 2: one word changed; 3: half the words; 4: disjoint
    rows.append((1, base))
    w2 = list(words)
    w2[3] = "DELTA"
    rows.append((2, " ".join(w2)))
    rows.append((3, " ".join(words[:10])))
    rows.append((4, "one two three four five six seven eight nine ten"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_matches_bruteforce_implementation(spark):
    """Lossless-pruning contract: prefix filtering must emit EXACTLY the
    pairs the independent inverted-index implementation emits, jaccard
    included (the two share no candidate-generation code)."""
    docs = _neardup_docs(spark)
    got = dedup.prefix_filter_pairs(docs, threshold_ppm=500_000).toPandas()
    ref = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    got_pairs = sorted(zip(got.doc_a, got.doc_b, got.jaccard))
    ref_pairs = sorted(zip(ref.doc_a, ref.doc_b, ref.jaccard))
    assert got_pairs == ref_pairs
    assert (0, 1, 1.0) in got_pairs  # the exact copy survives


def test_prefix_filter_exact_threshold_boundary(spark):
    """A pair at EXACTLY tau must be kept: 'a b c d e' vs 'a b c d f'
    share 2 of 4 distinct 3-gram shingles — i*1e6 == tau*union at
    tau=0.5, so >= keeps it and any float round-trip or >-flip drops
    it; one ppm above tau it must vanish."""
    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d f")], "doc_id long, text string"
    )
    at_tau = dedup.prefix_filter_pairs(docs, threshold_ppm=500_000).toPandas()
    assert len(at_tau) == 1
    assert (at_tau.inter[0], at_tau.union_sz[0]) == (2, 4)
    assert at_tau.jaccard[0] == 0.5
    above = dedup.prefix_filter_pairs(docs, threshold_ppm=500_001).toPandas()
    assert len(above) == 0


def test_prefix_filter_wide_doc_no_int32_wrap(spark):
    """INT32-overflow regression (self-review r10 finding): n_sh*1e6
    and tau*n_sh must go through BIGINT — two identical ~2500-shingle
    docs sit past the 2^31/1e6 ≈ 2148 wrap point of the length filter,
    where the unfixed predicate went negative and silently dropped the
    pair (breaking the lossless contract exactly at web-doc size)."""
    text = " ".join(f"w{i}" for i in range(2500))
    docs = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    out = dedup.prefix_filter_pairs(docs, threshold_ppm=900_000).toPandas()
    assert len(out) == 1
    assert out.jaccard[0] == 1.0
    assert out.union_sz[0] == 2498


def test_prefix_filter_prunes_candidates(spark, sf001_documents):
    """The scale claim: the prefix index is strictly smaller than the
    full shingle index (by ~tau fraction), so the quadratic join runs
    on less input than ngram_jaccard's."""
    sh = dedup._shingle_pair_source(
        sf001_documents, 3, "text", "doc_id", None
    )
    n_full = sh.count()
    tau = 800_000
    pre = (
        sh.join(
            sh.groupBy("shingle").agg(F.count("*").alias("__df")), "shingle"
        )
    )
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    plen = (
        F.col("n_sh") - F.expr(f"({tau} * n_sh + 999999) div 1000000") + F.lit(1)
    )
    n_prefix = (
        pre.withColumn("__rk", F.row_number().over(wd))
        .where(F.col("__rk") <= plen)
        .count()
    )
    assert n_prefix < n_full * 0.4  # tau=0.8 keeps ~20% + 1 per doc


def test_prefix_filter_rejects_bad_threshold(spark):
    with pytest.raises(ValueError):
        dedup.prefix_filter_pairs(_neardup_docs(spark), threshold_ppm=0)


# ------------------------------------------------ salted_join_agg


def _skewed_fact(spark):
    rows = [(i, 1 if i % 10 != 0 else (i // 10) % 3 + 2, float(i % 7))
            for i in range(200)]
    rows.append((1000, None, 5.0))  # NULL key: drops in both forms
    rows.append((1001, 1, None))    # NULL value: counts, 0 µ-units
    return spark.createDataFrame(rows, "event_id long, k long, value double")


def _dim(spark):
    return spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (4, "c"), (99, "unmatched")],
        "dk long, seg string",
    )


@pytest.mark.parametrize("salt", [1, 7])
def test_salted_join_equals_plain_join(spark, salt):
    fact, dim = _skewed_fact(spark), _dim(spark)
    got = skew.salted_join_agg(
        fact, dim, "k", "dk", "seg", "value", "event_id", salt=salt
    ).toPandas()
    plain = (
        fact.join(dim, fact.k == dim.dk)
        .groupBy("seg")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.expr(
                    "CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT)"
                )),
                F.lit(0),
            ).cast("long").alias("value_u"),
        )
        .orderBy("seg")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, plain)
    # the hot key funnels 90% of rows through seg 'hot'; NULL key
    # dropped; NULL value counted
    hot = got[got.seg == "hot"].iloc[0]
    assert hot.n_rows == 181  # 180 hot rows + the NULL-value row


def test_salted_join_rejects_bad_salt(spark):
    with pytest.raises(ValueError):
        skew.salted_join_agg(
            _skewed_fact(spark), _dim(spark),
            "k", "dk", "seg", "value", "event_id", salt=0,
        )


# ------------------------------------------------ kn_bigram_top


def test_kn_scores_match_unbounded_int_reference(spark):
    """Reference-semantics pin (the oracle can only prove both engines
    agree; THIS proves the formula): re-derive every emitted score with
    unbounded Python ints from raw bigram counts."""
    corpus = [
        (0, "a b a b a c"),
        (1, "a b c a b"),
        (2, "b c b c"),
        (3, "solo"),  # < 2 tokens: no bigrams
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = text.kn_bigram_top(docs, k=100).toPandas()

    from collections import Counter

    bi = Counter()
    for _, t in corpus:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] += 1
    c1 = Counter()
    nf1 = Counter()
    nb2 = Counter()
    for (a, b), c in bi.items():
        c1[a] += c
        nf1[a] += 1
        nb2[b] += 1
    nbtot = len(bi)
    assert len(out) == nbtot
    for _, r in out.iterrows():
        w1, w2 = r.bigram.split(" ")
        c12 = bi[(w1, w2)]
        expect = (max(4 * c12 - 3, 0) * 10**9) // (4 * c1[w1]) + (
            3 * nf1[w1] * nb2[w2] * 10**9
        ) // (4 * c1[w1] * nbtot)
        assert r.score_ppb == expect, r.bigram
        assert (r.c12, r.c1, r.nf1, r.nb2) == (
            c12, c1[w1], nf1[w1], nb2[w2],
        )
    # deterministic continuations score near 1e9; everything positive
    assert out.score_ppb.max() <= 10**9
    assert (out.score_ppb > 0).all()


def test_kn_topk_ordering(spark):
    docs = spark.createDataFrame(
        [(0, "x y x y x y"), (1, "p q r")], "doc_id long, text string"
    )
    out = text.kn_bigram_top(docs, k=3).toPandas()
    assert len(out) == 3
    scores = list(out.score_ppb)
    assert scores == sorted(scores, reverse=True)


# ------------------------------------------------ fixtures


@pytest.fixture(scope="module")
def sf001_documents(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


# ------------------------------------------------ Scd2Monitor (streaming)


def test_stream_scd2_equals_batch(spark, tmp_path):
    """Incremental SCD2 maintenance over event-time-ordered
    micro-batches must equal the one-shot events_ops.scd2_history on
    the union — versions, validity tiling, counts, open rows."""
    import os
    import time

    from bytehub_spark import streaming as st
    from bytehub_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    expect = events_ops.scd2_history(ev).toPandas().reset_index(drop=True)

    pdf = ev.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    src = str(tmp_path / "scd2_src")
    os.makedirs(src)
    bounds = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    for i in range(3):
        chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q, mon = st.stream_scd2(stream, str(tmp_path / "ckpt_scd2"))
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = mon.result().toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expect)
    # open state: exactly one row per user
    n_users = ev.select("user_id").distinct().count()
    assert mon.open.count() == n_users


def _mon_batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "event_id": eid,
                    "ts": pd.Timestamp(t),
                    "user_id": uid,
                    "event_type": typ,
                }
                for eid, uid, t, typ in rows
            ]
        )
    )


def test_scd2_monitor_merges_run_split_across_batches(spark):
    """A same-type run split across two micro-batches must stay ONE
    version with summed n_events and the first batch's valid_from; a
    type change in a later batch closes it with the correct valid_to."""
    from bytehub_spark.streaming import Scd2Monitor

    mon = Scd2Monitor()
    mon.process_batch(_mon_batch(spark, [(1, 7, "2024-01-01 00:00:00", "a")]))
    mon.process_batch(_mon_batch(spark, [(2, 7, "2024-01-01 01:00:00", "a")]))
    mid = mon.result().toPandas()
    assert len(mid) == 1
    assert (mid.version[0], mid.n_events[0]) == (1, 2)
    assert mid.valid_from[0] == pd.Timestamp("2024-01-01 00:00:00")
    assert pd.isna(mid.valid_to[0])

    mon.process_batch(_mon_batch(spark, [(3, 7, "2024-01-01 02:00:00", "b")]))
    out = mon.result().toPandas()
    assert list(out.version) == [1, 2]
    assert list(out.event_type) == ["a", "b"]
    assert out.valid_to[0] == pd.Timestamp("2024-01-01 02:00:00")
    assert pd.isna(out.valid_to[1])
    assert list(out.n_events) == [2, 1]


def test_scd2_monitor_null_type_stitch(spark):
    """NULL event_type runs stitch null-safely across batches (one
    version), and a NULL-leading user still numbers from version 1."""
    from bytehub_spark.streaming import Scd2Monitor

    mon = Scd2Monitor()
    mon.process_batch(_mon_batch(spark, [(1, 9, "2024-01-01 00:00:00", None)]))
    mon.process_batch(_mon_batch(spark, [(2, 9, "2024-01-01 01:00:00", None)]))
    out = mon.result().toPandas()
    assert len(out) == 1
    assert (out.version[0], out.n_events[0]) == (1, 2)
    assert pd.isna(out.event_type[0])


# ------------------------------------------------ edit_distance_pairs


def test_edit_pairs_k1_substitution_insertion_case(spark):
    """dist-0 (case-only), dist-1 substitution, dist-1 deletion all
    found at k=1; a dist-2 string excluded at k=1 but found at k=2."""
    docs = spark.createDataFrame(
        [(0, "Hello World Title"), (1, "hello world title"),
         (2, "hello world titXe"), (3, "hello world titl"),
         (4, "hello worXd tiXle"), (5, "a totally different string")],
        "doc_id long, text string",
    )
    k1 = dedup.edit_distance_pairs(docs, k=1).toPandas()
    got = {(r.doc_a, r.doc_b): r.dist for _, r in k1.iterrows()}
    assert got[(0, 1)] == 0      # case-folded exact
    assert got[(0, 2)] == 1      # substitution
    assert got[(0, 3)] == 1      # deletion
    assert (0, 4) not in got     # dist 2 invisible at k=1
    assert not any(5 in p for p in got)
    k2 = dedup.edit_distance_pairs(docs, k=2).toPandas()
    got2 = {(r.doc_a, r.doc_b): r.dist for _, r in k2.iterrows()}
    assert got2[(0, 4)] == 2
    assert got2[(2, 3)] == 2     # substitution + deletion


def test_edit_pairs_prefix_window_only(spark):
    """Edits past prefix_chars are invisible — the op dedups TITLES,
    not bodies."""
    base = "x" * 30
    docs = spark.createDataFrame(
        [(0, base + " tail one"), (1, base + " completely other tail")],
        "doc_id long, text string",
    )
    out = dedup.edit_distance_pairs(docs, k=1, prefix_chars=30).toPandas()
    assert len(out) == 1 and out.dist[0] == 0


def test_edit_pairs_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        dedup.edit_distance_pairs(
            spark.createDataFrame([(0, "a")], "doc_id long, text string"),
            k=3,
        )
