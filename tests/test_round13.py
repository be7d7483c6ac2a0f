"""Round-13 tests: ADVICE-r12 fixes (HLL m BIGINT bound, pickleable
QgramBudgetExceeded, HLL monitor n_batches ordering, persisted
hll_overlap register frames) and the VERDICT-r12 embedding_cosine_dups
probe-then-collect cap guard.
"""

import pickle

import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import dedup
from bytehub_spark.operators import sketches as S
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"
# the sketch monitors' optional group column: ungrouped and per type
GROUP_COLS = (None, "event_type")


# --------------------------- HLL m bound (ADVICE r12 #1)


def test_hll_estimate_rejects_bigint_unsafe_m(spark):
    """709*m^2*2^31 overflows BIGINT at m=4096 (2.55e19 > 2^63-1); the
    estimator must refuse rather than return NULL/overflowed est on the
    harmonic branch."""
    regs = spark.createDataFrame([(0, 1)], "bucket int, rho int")
    for fn in (S.hll_estimate, S.hll_estimate_corrected):
        with pytest.raises(ValueError, match="2048"):
            fn(regs, m=4096)
        with pytest.raises(ValueError):
            fn(regs, m=96)  # not a power of two


def test_hll_estimate_m2048_is_bigint_safe(spark):
    """m=2048 is the documented safe max: numerator 709*2048^2*2^31 ~
    6.4e18 < 2^63-1. A single occupied register must produce a sane
    positive estimate (not NULL, not negative-overflow)."""
    assert 709 * 2048 * 2048 * (1 << 31) < 2**63 - 1
    assert 709 * 4096 * 4096 * (1 << 31) > 2**63 - 1
    regs = spark.createDataFrame([(0, 1)], "bucket int, rho int")
    row = S.hll_estimate_corrected(regs, m=2048).collect()[0]
    assert row["est_raw"] is not None and row["est_raw"] > 0
    # sparse -> LC branch: occ=1 of 2048 -> round(2048*ln(2048/2047)) = 1
    assert row["est_distinct"] == 1


def test_hll_lc_values_bound_matches_estimator():
    """The LC literal-table bound now equals hll_estimate's BIGINT-safe
    bound — a CASE table the finisher can't legally consume is a trap."""
    assert len(S.hll_lc_values(2048)) == 2048
    with pytest.raises(ValueError, match="2048"):
        S.hll_lc_values(4096)


# --------------------------- QgramBudgetExceeded pickle (ADVICE r12 #2)


def test_qgram_budget_exceeded_pickle_roundtrip():
    """super().__init__(msg) sets args=(msg,), so the default
    BaseException reduce re-calls the 3-arg __init__ with one arg —
    any cross-process re-raise (pytest-xdist, multiprocessing) died
    with TypeError instead of the original error. __reduce__ fixes it."""
    e = dedup.QgramBudgetExceeded(
        "over budget", {"volume": 10}, {"volume": 7}
    )
    e2 = pickle.loads(pickle.dumps(e))
    assert isinstance(e2, dedup.QgramBudgetExceeded)
    assert str(e2) == "over budget"
    assert e2.plan_direct == {"volume": 10}
    assert e2.plan_collapsed == {"volume": 7}


# --------------------------- HllDistinctMonitor ordering (ADVICE r12 #3)


def test_grouped_hll_monitor_failed_batch_not_counted(spark, monkeypatch):
    """n_batches must increment only AFTER the collect succeeds (the
    hardened CountMinMonitor ordering): a failed-then-replayed batch
    must not double-count — register state is already idempotent, this
    keeps throughput logs and the result() guard honest."""
    from bytehub_spark.operators import sketches as sk_mod
    from bytehub_spark.streaming import HllDistinctMonitor

    ev = load_table(spark, SF, "events").limit(50)
    real = sk_mod.hll_registers

    def boom(*a, **kw):
        raise RuntimeError("executor lost")

    for group_col in GROUP_COLS:
        mon = HllDistinctMonitor(group_col=group_col)
        monkeypatch.setattr(sk_mod, "hll_registers", boom)
        with pytest.raises(RuntimeError):
            mon.process_batch(ev, epoch_id=5)
        assert mon.n_batches == 0  # NOT counted
        assert mon.regs == {}
        with pytest.raises(RuntimeError):
            mon.result()  # guard still sees zero batches

        monkeypatch.setattr(sk_mod, "hll_registers", real)
        mon.process_batch(ev, epoch_id=5)  # re-delivery: processed + counted
        assert mon.n_batches == 1
        state = dict(mon.regs)
        assert state
        mon.process_batch(ev, epoch_id=5)  # re-delivery again: idempotent
        assert mon.n_batches == 2
        assert mon.regs == state


def test_grouped_hll_monitor_empty_batch_counts(spark):
    """An empty micro-batch IS fully processed (max-merge identity) —
    it counts toward n_batches and unblocks result()."""
    from bytehub_spark.streaming import HllDistinctMonitor

    ev = load_table(spark, SF, "events").limit(0)
    for group_col in GROUP_COLS:
        mon = HllDistinctMonitor(group_col=group_col)
        mon.process_batch(ev, epoch_id=0)
        assert mon.n_batches == 1
        assert mon.result().count() == 0


# --------------------------- hll_overlap persists registers (ADVICE r12 #4)


def test_hll_overlap_persists_both_register_frames(spark):
    """Each register frame feeds two consumers (own estimate + union
    max-merge); the no-double-scan property must not ride on exchange
    reuse, which AQE can defeat — both frames get scratch_persist'd."""
    from bytehub_spark.plans import scratch as scratch_mod

    a = spark.range(0, 200).select(F.col("id").alias("k"))
    b = spark.range(100, 300).select(F.col("id").alias("k"))
    before = len(scratch_mod._scratch)
    row = S.hll_overlap(a, b, "k", 64).collect()[0]
    registered = scratch_mod._scratch[before:]
    assert len(registered) == 2
    assert all(df.storageLevel.useMemory for df in registered)
    # values unchanged by the persist
    assert row["est_inter"] == row["est_a"] + row["est_b"] - row["est_union"]
    assert row["occupied_union"] >= max(row["occupied_a"], row["occupied_b"])
    scratch_mod.release_scratch()


# --------------------------- embedding_cosine_dups probe (VERDICT r12 #1)


def test_embedding_cosine_dups_cap_probe_raises_cleanly(spark, monkeypatch):
    """The exact path must probe with limit(cap+1) BEFORE materializing
    — at 100x scale the old order's refusal was a driver OOM, not a
    ValueError. With the cap monkeypatched below a small corpus the
    guard must fire (and the probe pulls at most cap+1 rows)."""
    emb = load_table(spark, SF, "embeddings")
    assert emb.count() > 3
    monkeypatch.setattr(dedup, "MAX_BROADCAST_VECTORS", 3)
    with pytest.raises(ValueError, match="more than 3"):
        dedup.embedding_cosine_dups(emb, 0.4)

    # spy: the frame that reaches toPandas is the LIMITED probe, never
    # the full table
    cls = type(emb)  # the concrete (classic) DataFrame class — pyspark 4
    real_toPandas = cls.toPandas
    seen: list[int] = []

    def spy(self):
        out = real_toPandas(self)
        seen.append(len(out))
        return out

    monkeypatch.setattr(cls, "toPandas", spy)
    with pytest.raises(ValueError):
        dedup.embedding_cosine_dups(emb, 0.4)
    assert seen == [4]  # cap+1, not the full corpus


def test_embedding_cosine_dups_under_cap_unchanged(spark):
    """The probe IS the side table when under cap — exact results are
    byte-identical to the pre-fix path (pins the limit() refactor)."""
    emb = load_table(spark, SF, "embeddings").limit(40)
    got = dedup.embedding_cosine_dups(emb, 0.4).toPandas()
    assert (got["id_a"] < got["id_b"]).all()
    assert (got["cosine_sim"] >= 0.4).all()


# ------------------ priced exact-Jaccard router (VERDICT r12 #4)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _plant_neardups(spark):
    """sf0.001 documents + a last-word-dropped copy of every 29th doc
    (the gate corpus recipe) — guarantees J >= 0.6 pairs exist so the
    equality assertions are non-vacuous."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    ws = F.split(F.col("text"), " ")
    return docs.unionByName(
        docs.where((F.col("doc_id") % 29 == 0) & (F.size(ws) >= 5)).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.array_join(F.slice(ws, 1, F.size(ws) - 1), " ").alias("text"),
        )
    )


def test_jaccard_routed_inverted_route_equals_prefix_filter(spark):
    """Unbounded budget takes the inverted-index route; its output must
    equal prefix_filter_pairs exactly (both lossless — the prefix
    lemma), including the planted near-dup pairs."""
    corpus = _plant_neardups(spark)
    direct = sorted(
        map(tuple, dedup.prefix_filter_pairs(corpus, 600_000).collect())
    )
    routed = sorted(
        map(
            tuple,
            dedup.jaccard_pairs_routed(corpus, 10**18, 600_000).collect(),
        )
    )
    assert routed == direct
    assert len(direct) > 0


def test_jaccard_routed_prefix_route_equals_inverted(spark):
    """Budget strictly between the two priced volumes rejects the
    inverted join and takes the prefix route — output identical (the
    gate corpus regime, pinned here against the other route)."""
    corpus = _plant_neardups(spark)
    plan = dedup.jaccard_plan(corpus, 600_000).collect()[0]
    inv, pf = int(plan["inverted_pairs"]), int(plan["prefix_pairs"])
    assert pf < inv  # natural text: stopword shingles dominate Σ C(f,2)
    budget = (inv + pf) // 2
    routed = sorted(
        map(
            tuple,
            dedup.jaccard_pairs_routed(corpus, budget, 600_000).collect(),
        )
    )
    direct = sorted(
        map(tuple, dedup.prefix_filter_pairs(corpus, 600_000).collect())
    )
    assert routed == direct
    assert len(routed) > 0


def test_jaccard_routed_refusal_carries_both_plans(spark):
    """Boilerplate corpus (every doc shares most shingles): both routes
    over a tiny budget -> JaccardBudgetExceeded with BOTH plan rows
    (the budget-refusal honesty contract)."""
    rows = [
        (i, "the same shared boilerplate words everywhere %d" % (i % 3))
        for i in range(120)
    ]
    with pytest.raises(dedup.JaccardBudgetExceeded) as ei:
        dedup.jaccard_pairs_routed(_docs(spark, rows), 10, 500_000)
    exc = ei.value
    assert int(exc.plan_inverted["cand_pairs"]) > 10
    assert int(exc.plan_prefix["cand_pairs"]) > 10
    assert exc.plan_inverted["n_docs"] == 120
    assert exc.plan_prefix["threshold_ppm"] == 500_000


def test_jaccard_budget_exceeded_pickle_roundtrip():
    """__reduce__ keeps the plan rows across process boundaries (the
    QgramBudgetExceeded ADVICE-r12 lesson applied at birth)."""
    exc = dedup.JaccardBudgetExceeded(
        "over budget", {"cand_pairs": 9}, {"cand_pairs": 7}
    )
    back = pickle.loads(pickle.dumps(exc))
    assert isinstance(back, dedup.JaccardBudgetExceeded)
    assert str(back) == "over budget"
    assert back.plan_inverted == {"cand_pairs": 9}
    assert back.plan_prefix == {"cand_pairs": 7}


def test_jaccard_routed_validation(spark):
    docs = _docs(spark, [(1, "a b c d")])
    with pytest.raises(ValueError):
        dedup.jaccard_pairs_routed(docs, -1)
    with pytest.raises(ValueError):
        dedup.jaccard_pairs_routed(docs, 10, threshold_ppm=0)
    with pytest.raises(ValueError):
        dedup.jaccard_plan(docs, threshold_ppm=2_000_000)


def test_jaccard_plan_masses_match_pure_python(spark):
    """jaccard_plan's priced volumes recomputed independently in pure
    python (shingle doc-freqs -> Σ C(f,2); canonical (df, shingle)
    order -> rarest-first prefixes -> the same mass over prefix rows).
    Corpus includes df ties so the shingle-asc tie-break is exercised."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        (3, "alpha beta gamma other words here"),
        (4, "completely different text lives here now"),
        (5, "alpha beta gamma delta epsilon"),  # exact dup of 1
        (6, "zeta eta theta iota kappa lambda"),
    ]
    tau = 500_000
    n = 3
    sh = {}  # doc -> sorted distinct shingles (insertion order kept)
    for i, t in rows:
        ws = t.split(" ")
        seen, ordered = set(), []
        for j in range(len(ws) - n + 1):
            s = " ".join(ws[j : j + n])
            if s not in seen:
                seen.add(s)
                ordered.append(s)
        sh[i] = ordered
    df_cnt = {}
    for ss in sh.values():
        for s in ss:
            df_cnt[s] = df_cnt.get(s, 0) + 1
    inv = sum(f * (f - 1) // 2 for f in df_cnt.values())
    pf_cnt = {}
    for ss in sh.values():
        n_sh = len(ss)
        plen = n_sh - (tau * n_sh + 999_999) // 1_000_000 + 1
        ranked = sorted(ss, key=lambda s: (df_cnt[s], s))
        for s in ranked[: int(plen)]:
            pf_cnt[s] = pf_cnt.get(s, 0) + 1
    pf = sum(f * (f - 1) // 2 for f in pf_cnt.values())
    plan = dedup.jaccard_plan(_docs(spark, rows), tau, n=n).collect()[0]
    assert int(plan["inverted_pairs"]) == inv
    assert int(plan["prefix_pairs"]) == pf
    assert int(plan["n_docs"]) == 6
    assert int(plan["brute_pairs"]) == 15


# --------------------------------- grouped Count-Min (NEXT.md r13 #2)


def test_cms_grouped_equals_per_group_builds(spark):
    """The grouped sketch restricted to one group == cms_build over
    that group's rows alone — per-group sketches are INDEPENDENT (the
    reason they exist: a hot key in group A cannot inflate group B)."""
    ev = load_table(spark, SF, "events").where(F.col("user_id").isNotNull())
    grouped = {
        (r["event_type"], r["row"], r["col"]): r["cnt"]
        for r in S.cms_build(
            ev, "user_id", 4, 64, group_col="event_type"
        ).collect()
    }
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    assert len(types) >= 2
    for t in types[:3]:
        solo = {
            (t, r["row"], r["col"]): r["cnt"]
            for r in S.cms_build(
                ev.where(F.col("event_type") == t), "user_id", 4, 64
            ).collect()
        }
        assert solo == {k: v for k, v in grouped.items() if k[0] == t}


def test_cms_grouped_probe_isolation(spark):
    """Synthetic two-group frame: user 1 is 100-hot in group A and
    2-hot in group B. The grouped probe of (B, 1) must answer from B's
    own sketch (est == 2 — no cross-group collision is even possible
    at 2 keys in 256 cells), while an ungrouped sketch would be
    polluted to >= 102."""
    rows = [("A", 1)] * 100 + [("B", 1)] * 2 + [("B", 2)] * 5
    df = spark.createDataFrame(rows, "g string, user_id long")
    cms = S.cms_build(df, "user_id", 4, 256, group_col="g")
    keys = spark.createDataFrame(
        [("A", 1), ("B", 1), ("B", 2)], "g string, user_id long"
    )
    got = {
        (r["g"], r["user_id"]): r["est_cnt"]
        for r in S.cms_probe(cms, keys, "user_id", 4, 256, group_col="g").collect()
    }
    assert got == {("A", 1): 100, ("B", 1): 2, ("B", 2): 5}
    flat = S.cms_build(df, "user_id", 4, 256)
    flat_probe = {
        r["user_id"]: r["est_cnt"]
        for r in S.cms_probe(
            flat, keys.select("user_id").distinct(), "user_id", 4, 256
        ).collect()
    }
    assert flat_probe[1] == 102  # the pollution the grouped form avoids


def test_cms_grouped_merge_law(spark):
    """Additivity holds per group: summing the two halves' grouped
    sketches cell-by-cell == the one-shot grouped sketch (the law that
    makes grouped sketches mergeable across shards/days)."""
    ev = load_table(spark, SF, "events").where(F.col("user_id").isNotNull())
    whole = {
        (r["event_type"], r["row"], r["col"]): r["cnt"]
        for r in S.cms_build(
            ev, "user_id", 4, 64, group_col="event_type"
        ).collect()
    }
    merged: dict = {}
    for part in (
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
    ):
        for r in S.cms_build(
            part, "user_id", 4, 64, group_col="event_type"
        ).collect():
            k = (r["event_type"], r["row"], r["col"])
            merged[k] = merged.get(k, 0) + r["cnt"]
    assert merged == whole


def test_cms_grouped_null_group_probes_null_sketch(spark):
    """A NULL group value is a group like any other: build keeps it and
    the probe's null-safe group join answers from it (plain equality
    would return est 0 and break est >= true)."""
    rows = [(None, 7)] * 4 + [("X", 7)] * 9
    df = spark.createDataFrame(rows, "g string, user_id long")
    cms = S.cms_build(df, "user_id", 4, 256, group_col="g")
    keys = spark.createDataFrame([(None, 7), ("X", 7)], "g string, user_id long")
    got = {
        (r["g"], r["user_id"]): r["est_cnt"]
        for r in S.cms_probe(cms, keys, "user_id", 4, 256, group_col="g").collect()
    }
    assert got == {(None, 7): 4, ("X", 7): 9}


# ------------------------------ HLL overlap matrix (NEXT.md r13 #2)


def test_hll_matrix_matches_pairwise_hll_overlap(spark):
    """Every matrix row must equal hll_overlap run on that pair's two
    slices — the matrix is the k-way generalization, not a different
    estimator."""
    ev = load_table(spark, SF, "events").where(F.col("user_id").isNotNull())
    mat = S.hll_overlap_matrix(ev, "user_id", "event_type", 64).collect()
    types = sorted(
        r[0] for r in ev.select("event_type").distinct().collect()
    )
    assert len(mat) == len(types) * (len(types) - 1) // 2
    by_pair = {(r["group_a"], r["group_b"]): r for r in mat}
    for ga, gb in list(by_pair)[:3]:
        solo = S.hll_overlap(
            ev.where(F.col("event_type") == ga),
            ev.where(F.col("event_type") == gb),
            "user_id",
            64,
        ).collect()[0]
        row = by_pair[(ga, gb)]
        for c in (
            "occupied_a", "occupied_b", "occupied_union",
            "est_a", "est_b", "est_union", "est_inter",
        ):
            assert row[c] == solo[c], (ga, gb, c)


def test_hll_matrix_identical_groups(spark):
    """Two groups over the SAME key set: union registers == each side's
    registers, so est_union == est_a == est_b and est_inter == est_a
    exactly (register-level identity, no estimator slack)."""
    rows = [("p", i) for i in range(50)] + [("q", i) for i in range(50)]
    df = spark.createDataFrame(rows, "g string, user_id long")
    row = S.hll_overlap_matrix(df, "user_id", "g", 64).collect()[0]
    assert row["group_a"] == "p" and row["group_b"] == "q"
    assert row["est_a"] == row["est_b"] == row["est_union"]
    assert row["est_inter"] == row["est_a"]
    assert row["occupied_union"] == row["occupied_a"]


def test_hll_matrix_single_group_is_empty(spark):
    """One group -> no pairs: empty result with the full 9-column
    schema intact."""
    df = spark.createDataFrame([("only", 1)], "g string, user_id long")
    mat = S.hll_overlap_matrix(df, "user_id", "g", 64)
    assert mat.count() == 0
    assert mat.columns == [
        "group_a", "group_b", "occupied_a", "occupied_b",
        "occupied_union", "est_a", "est_b", "est_union", "est_inter",
    ]


def test_grouped_hll_monitor_group_equals_key(spark):
    """group_col == key_col is a legal config (group by the key
    itself); the per-batch projection must not duplicate the column
    (review-pass catch: select(k, k) made every downstream reference
    ambiguous and killed the stream on batch one)."""
    from bytehub_spark.streaming import HllDistinctMonitor

    mon = HllDistinctMonitor(key_col="user_id", group_col="user_id")
    df = spark.createDataFrame([(i % 3,) for i in range(30)], "user_id long")
    mon.process_batch(df, epoch_id=0)
    assert mon.n_batches == 1
    assert len(mon.regs) == 3  # one register group per key value


# ------------------------------------------ CountMinMonitor per group


def test_grouped_cms_monitor_stream_equals_batch(spark, tmp_path):
    """Per-group CountMinMonitor over arbitrary file micro-batches ==
    one-shot grouped cms_build on the full table, to the integer —
    per-group additivity, no arrival-order assumption."""
    import os
    import time

    import pandas as pd

    from bytehub_spark import streaming as st

    ev = load_table(spark, SF, "events")
    pdf = ev.select("event_id", "user_id", "event_type").toPandas()
    src = str(tmp_path / "gcms_src")
    os.makedirs(src)
    bounds = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    for i in range(3):
        spark.createDataFrame(pdf.iloc[bounds[i]:bounds[i + 1]]).coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q, mon = st.stream_cms_by_group(stream, str(tmp_path / "ck_gcms"))
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    # both sides sorted by the SAME engine + na_position (ADVICE r13:
    # pandas sort_values puts NaN/None last, Spark orderBy puts NULLs
    # first ascending — a NULL event_type in the corpus would misalign
    # the frames and fail the exact-equality assert spuriously)
    got = (
        mon.result()
        .toPandas()
        .sort_values(["event_type", "row", "col"], na_position="first")
        .reset_index(drop=True)
    )
    want = (
        S.cms_build(ev, "user_id", group_col="event_type")
        .select(
            F.col("event_type").cast("string"), "row", "col", "cnt"
        )
        .toPandas()
        .sort_values(["event_type", "row", "col"], na_position="first")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    n_groups = got["event_type"].nunique()
    assert len(got) <= n_groups * 4 * 256  # bounded-state claim


def test_grouped_cms_monitor_epoch_replay_guard(spark):
    """Additive counters double-count a replayed epoch — the guard and
    its hardened ordering (state/epoch untouched until the collect
    succeeds) hold per group as they do ungrouped."""
    from bytehub_spark.streaming import CountMinMonitor

    ev = load_table(spark, SF, "events").limit(200)
    mon = CountMinMonitor(group_col="event_type")
    mon.process_batch(ev, epoch_id=0)
    cells0 = dict(mon.cells)
    assert cells0
    mon.process_batch(ev, epoch_id=0)  # replay — no-op
    assert mon.cells == cells0
    mon.process_batch(ev, epoch_id=1)  # new epoch — counts again
    assert mon.cells == {k: 2 * v for k, v in cells0.items()}


def test_grouped_cms_monitor_failed_batch_not_stamped(spark, monkeypatch):
    """A batch that dies mid-collect must leave cells AND the epoch
    stamp untouched, so the re-delivery (the one case the guard exists
    for) counts exactly once."""
    from bytehub_spark.streaming import CountMinMonitor

    ev = load_table(spark, SF, "events").limit(100)
    mon = CountMinMonitor(group_col="event_type")
    import bytehub_spark.operators.sketches as sk

    real = sk.cms_build

    def boom(*a, **k):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(sk, "cms_build", boom)
    with pytest.raises(RuntimeError):
        mon.process_batch(ev, epoch_id=5)
    assert mon.cells == {} and mon.n_batches == 0
    monkeypatch.setattr(sk, "cms_build", real)
    mon.process_batch(ev, epoch_id=5)  # the re-delivery
    assert mon.n_batches == 1 and mon.cells


def test_grouped_cms_monitor_isolation_and_guard(spark):
    """Group isolation carries into the monitor (a hot key in group A
    never inflates group B's cells), and result() refuses before any
    batch."""
    from bytehub_spark.streaming import CountMinMonitor

    rows = [("A", 1)] * 50 + [("B", 1)] * 2
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    mon = CountMinMonitor(group_col="event_type")
    mon.process_batch(df)
    b_cells = {k: v for k, v in mon.cells.items() if k[0] == "B"}
    assert set(b_cells.values()) == {2}
    for group_col in GROUP_COLS:
        with pytest.raises(RuntimeError):
            CountMinMonitor(group_col=group_col).result()
        with pytest.raises(ValueError):
            CountMinMonitor(width=1, group_col=group_col)


# ------------------- weighted deterministic sample (A-ES, r14 prepay)


def test_weighted_sample_matches_pure_python(spark):
    """Selection == a pure-python replay of the same integer draws
    (clamp, NULL weight, tie-break and all) — the op is deterministic
    arithmetic, so the pin is exact equality, not statistics."""
    from bytehub_spark.operators import curation
    from bytehub_spark.operators.hashing import int_mix

    rows = [(i, [None, -3, 1, 2, 5, 8, 99][i % 7]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w int")
    got = [
        (r["doc_id"], r["weight"], r["w_eff"], r["priority"])
        for r in curation.weighted_sample(df, 30, "w", cap=8).collect()
    ]
    py = []
    for i, w in rows:
        weff = max(1, min(w if w is not None else 1, 8))
        pri = max(
            int_mix(i, curation.WSAMPLE_SEED + r)
            for r in range(1, weff + 1)
        )
        py.append((i, w, weff, pri))
    py.sort(key=lambda t: (-t[3], t[0]))
    assert got == py[:30]


def test_weighted_sample_monotone_in_weight(spark):
    """priority is max over the first w draws, so raising a key's
    weight can only raise its priority (superset max) — the exact
    structural law behind 'heavier keys win more often'."""
    from bytehub_spark.operators import curation

    ids = spark.range(300).withColumnRenamed("id", "doc_id")
    lo = curation.weighted_sample(
        ids.withColumn("w", F.lit(1)), 300, "w", cap=8
    )
    hi = curation.weighted_sample(
        ids.withColumn("w", F.lit(8)), 300, "w", cap=8
    )
    pl = {r["doc_id"]: r["priority"] for r in lo.collect()}
    ph = {r["doc_id"]: r["priority"] for r in hi.collect()}
    assert all(ph[i] >= pl[i] for i in pl)
    assert any(ph[i] > pl[i] for i in pl)


def test_weighted_sample_favors_heavy_keys(spark):
    """1,000 ids, half weight 8 / half weight 1: the A-ES law gives a
    weight-8 id ~8x the selection odds, so the top-100 is dominated by
    heavy ids (deterministic outcome of fixed hashes — not a flaky
    statistical bound)."""
    from bytehub_spark.operators import curation

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 8).otherwise(1).alias("w"),
    )
    top = curation.weighted_sample(df, 100, "w", cap=8).collect()
    heavy = sum(1 for r in top if r["weight"] == 8)
    assert heavy >= 70


def test_weighted_sample_validation_and_plan(spark):
    from bytehub_spark.operators import curation

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("w")
    )
    with pytest.raises(ValueError):
        curation.weighted_sample(df, 0, "w")
    # cap=65 does not raise (the refusal is WSAMPLE_MAX_CAP, pinned in
    # test_round14); the zero-exchange plan holds there too
    routed = curation.weighted_sample(df, 5, "w", cap=65)
    pr = routed._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in pr and pr.count("Exchange") == 0
    # the no-shuffle claim: TakeOrderedAndProject, zero exchanges
    out = curation.weighted_sample(df, 5, "w", cap=4)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") == 0
