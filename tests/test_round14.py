"""Round-14 tests: ADVICE-r13 fixes (grouped sketch monitors accept
non-string group columns, cms_probe grouped/ungrouped mismatch guards), grouped
KMV (+ GroupedKmvMonitor), the weighted_sample priority law (+
WeightedSampleMonitor), and kmv_overlap_matrix.
"""

import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import sketches as S
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"


# ------------------- grouped monitors: non-string group (ADVICE r13 #1)


def test_grouped_monitors_accept_int_group_col(spark):
    """result() surfaces the group column as STRING; with an int
    group_col (a documented-legal config — source ids, dates) the row
    build must CAST, not hand raw ints to a string-typed
    createDataFrame (TypeError at schema verification pre-fix). The
    string values must match Spark's own CAST(x AS STRING) so a batch
    twin comparison stays exact."""
    from bytehub_spark.streaming import CountMinMonitor, HllDistinctMonitor

    ev = load_table(spark, SF, "events").where(
        F.col("user_id").isNotNull()
    )
    # int group: user_id % 3; also exercises NULL preservation via a
    # NULL-group slice
    src = ev.select(
        "user_id",
        F.when(F.col("event_id") % 7 != 0, F.col("user_id") % 3).alias(
            "grp"
        ),
    )
    mon = CountMinMonitor(key_col="user_id", group_col="grp")
    mon.process_batch(src, epoch_id=0)
    got = mon.result()  # pre-fix: TypeError here
    want = (
        S.cms_build(src, "user_id", group_col="grp")
        .select(F.col("grp").cast("string"), "row", "col", "cnt")
    )
    key = lambda t: (t[0] is None, str(t[0]), t[1], t[2])  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )
    assert {r["grp"] for r in got.collect()} >= {"0", "1", "2", None}

    hmon = HllDistinctMonitor(key_col="user_id", group_col="grp")
    hmon.process_batch(src)
    hgot = hmon.result()
    hwant = S.hll_registers(src, "user_id", "grp", 64).select(
        F.col("grp").cast("string"), "bucket", "rho"
    )
    assert sorted(map(tuple, hgot.collect()), key=key) == sorted(
        map(tuple, hwant.collect()), key=key
    )


def test_group_to_string_matches_spark_cast(spark):
    """_group_to_string must equal Spark's CAST(x AS STRING) for the
    group types a monitor can legally see — incl. the bool lowercase
    edge Python's str() gets wrong."""
    import datetime

    from bytehub_spark.streaming.ingest import _group_to_string

    vals = [
        (5, "int"),
        (True, "boolean"),
        (False, "boolean"),
        (datetime.date(2024, 1, 2), "date"),
        (datetime.datetime(2024, 1, 2, 3, 4, 5), "timestamp"),
        (2.5, "double"),
        ("s", "string"),
        (None, "string"),
    ]
    df = spark.createDataFrame(
        [(i,) for i in range(len(vals))], "i int"
    ).select(
        F.array(
            *[
                F.lit(v).cast(t).cast("string")
                for v, t in vals
            ]
        ).alias("casts")
    )
    spark_casts = df.collect()[0]["casts"]
    for (v, _), want in zip(vals, spark_casts):
        assert _group_to_string(v) == want, (v, want)


# ------------------- cms_probe mismatch guards (ADVICE r13 #2)


def test_cms_probe_grouped_ungrouped_mismatch_raises(spark):
    """Ungrouped probe of a grouped sketch can return est < true (min
    across groups) — must raise, not silently break the contract; the
    symmetric misuse (grouped probe of an ungrouped sketch / group_col
    missing from keys) raises too. The correct pairings still work and
    est >= true holds."""
    ev = load_table(spark, SF, "events").where(
        F.col("user_id").isNotNull()
    )
    grouped = S.cms_build(ev, "user_id", group_col="event_type")
    flat = S.cms_build(ev, "user_id")
    keys = ev.select("user_id", "event_type").distinct().limit(20)

    with pytest.raises(ValueError, match="grouped sketch"):
        S.cms_probe(grouped, keys.select("user_id"), "user_id")
    with pytest.raises(ValueError, match="without that column"):
        S.cms_probe(flat, keys, "user_id", group_col="event_type")
    with pytest.raises(ValueError, match="column of keys"):
        S.cms_probe(
            grouped, keys.select("user_id"), "user_id",
            group_col="event_type",
        )

    # correct pairings: est >= true on every probed row
    true_flat = {
        r["user_id"]: r["c"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("c"))
        .join(keys.select("user_id").distinct(), "user_id")
        .collect()
    }
    for r in S.cms_probe(flat, keys.select("user_id").distinct(),
                         "user_id").collect():
        assert r["est_cnt"] >= true_flat[r["user_id"]]
    true_grp = {
        (r["user_id"], r["event_type"]): r["c"]
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
        .join(keys, ["user_id", "event_type"])
        .collect()
    }
    for r in S.cms_probe(
        grouped, keys, "user_id", group_col="event_type"
    ).collect():
        assert r["est_cnt"] >= true_grp[(r["user_id"], r["event_type"])]


# ------------------- grouped KMV (NEXT.md r14 candidate)


def test_kmv_sketch_merge_law_and_isolation(spark):
    """bottom-k of a union == merged bottom-ks (the shard/stream state
    update), re-merge of the SAME sketch is a no-op (idempotence), and
    a grouped build equals per-group solo builds (independence — the
    grouped-CMS isolation convention)."""
    ev = load_table(spark, SF, "events").where(
        F.col("user_id").isNotNull()
    )
    key = lambda t: (str(t[0]), t[1])  # noqa: E731
    whole = sorted(
        map(tuple, S.kmv_sketch(
            ev, "user_id", 8, group_col="event_type").collect()),
        key=key,
    )
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    ska = S.kmv_sketch(a, "user_id", 8, group_col="event_type")
    skb = S.kmv_sketch(b, "user_id", 8, group_col="event_type")
    merged = S.kmv_merge(ska.unionByName(skb), 8, ["event_type"])
    assert sorted(map(tuple, merged.collect()), key=key) == whole
    # idempotence: merging a sketch with itself changes nothing
    re = S.kmv_merge(
        merged.unionByName(merged), 8, ["event_type"]
    )
    assert sorted(map(tuple, re.collect()), key=key) == whole
    # isolation: grouped build == per-group solo builds
    for g in ["click", "view"]:
        solo = sorted(
            r["h"]
            for r in S.kmv_sketch(
                ev.where(F.col("event_type") == g), "user_id", 8
            ).collect()
        )
        grp = sorted(t[1] for t in whole if t[0] == g)
        assert solo == grp, g


def test_kmv_estimate_branches_and_contracts(spark):
    """Complete sketch (m < k): est == m == the true distinct-hash
    count. Estimator branch (m == k): est = (k-1)*P div u_k, checked
    against a pure-python replay of the same hashes; accuracy within
    the sketch's ~1/sqrt(k-2) law (x4 slack). NULL keys excluded; a
    NULL group is a group like any other; k < 2 raises."""
    from bytehub_spark.operators.hashing import MINHASH_PRIME, int_mix

    ev = load_table(spark, SF, "events").where(
        F.col("user_id").isNotNull()
    )
    users = [r["user_id"] for r in ev.select("user_id").distinct().collect()]
    hs = sorted({int_mix(u, 0) for u in users})
    # complete: k = 64 > 15 users
    est = S.kmv_estimate(S.kmv_sketch(ev, "user_id", 64), 64).collect()
    assert len(est) == 1 and est[0]["m"] == len(hs)
    assert est[0]["est_distinct"] == len(hs)
    # estimator branch: k = 8 < 15 — replay exactly
    est8 = S.kmv_estimate(S.kmv_sketch(ev, "user_id", 8), 8).collect()[0]
    u_k = hs[7]
    want = 7 * MINHASH_PRIME // u_k
    assert (est8["m"], est8["u_k"], est8["est_distinct"]) == (8, u_k, want)
    assert abs(want - len(hs)) <= 4 * len(hs) / (8 - 2) ** 0.5
    # NULL keys excluded / NULL group kept
    src = spark.createDataFrame(
        [(None, "g"), (1, "g"), (2, None), (None, None)],
        "k int, g string",
    )
    sk = S.kmv_sketch(src, "k", 4, group_col="g")
    got = {(r["g"], r["h"] is not None) for r in sk.collect()}
    assert got == {("g", True), (None, True)}
    with pytest.raises(ValueError, match="k >= 2"):
        S.kmv_sketch(src, "k", 1)


def test_kmv_sketch_group_eq_key_col(spark):
    """group_col == key_col is legal (sketch the key domain grouped by
    itself — the r13 GroupedHll lesson): one h per group, each the
    key's own mixer hash."""
    from bytehub_spark.operators.hashing import int_mix

    src = spark.createDataFrame([(i % 4,) for i in range(40)], "k int")
    sk = S.kmv_sketch(src, "k", 8, group_col="k")
    rows = {(r["k"], r["h"]) for r in sk.collect()}
    assert rows == {(v, int_mix(v, 0)) for v in range(4)}


# ------------------- weighted_sample's priority law


@pytest.mark.parametrize("cap", [8, 200])
def test_weighted_sample_replays_int_mix_law(spark, cap):
    """The selection equals a pure-Python replay of the A-ES
    max-of-w-uniforms law, priority = max over r = 1..w_eff of
    int_mix(id, WSAMPLE_SEED + r), at a small cap and at one with
    weights up to 200 (null weights count 1, weights past the cap
    clamp to it); the plan keeps TakeOrderedAndProject with zero
    exchanges."""
    from bytehub_spark.operators.curation import WSAMPLE_SEED, weighted_sample
    from bytehub_spark.operators.hashing import int_mix

    data = [(i, 1 + (i * 37) % 200 if i % 9 else None) for i in range(400)]
    src = spark.createDataFrame(data, "doc_id int, w int")
    got = weighted_sample(src, 25, "w", id_col="doc_id", cap=cap)
    rows = [tuple(r) for r in got.collect()]
    want = []
    for i, w in data:
        w_eff = max(1, min(1 if w is None else w, cap))
        pri = max(int_mix(i, WSAMPLE_SEED + r) for r in range(1, w_eff + 1))
        want.append((i, w, w_eff, pri))
    want.sort(key=lambda t: (-t[3], t[0]))
    assert rows == want[:25]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_weighted_sample_cap_refusal(spark):
    """cap past WSAMPLE_MAX_CAP raises (per-row work is O(cap) mixer
    rounds in the routed shape — refuse, don't run); the old ≤64
    validation ceiling is gone."""
    from bytehub_spark.operators.curation import (
        WSAMPLE_MAX_CAP,
        weighted_sample,
    )

    src = spark.createDataFrame([(1, 2)], "doc_id int, w int")
    with pytest.raises(ValueError, match="pre-bucket"):
        weighted_sample(src, 1, "w", cap=WSAMPLE_MAX_CAP + 1)
    # boundary itself is legal
    assert weighted_sample(
        src, 1, "w", cap=WSAMPLE_MAX_CAP
    ).collect()[0]["w_eff"] == 2


# ------------------- GroupedKmvMonitor (20th monitor)


def test_grouped_kmv_monitor_stream_equals_batch(spark, tmp_path):
    """GroupedKmvMonitor over arbitrary file micro-batches ==
    kmv_sketch(group_col=) on the full table, hash for hash — the
    bottom-k-of-union merge law, no arrival-order assumption; and
    estimates() == kmv_estimate over the same sketch."""
    import os
    import time

    import pandas as pd

    from bytehub_spark import streaming as st

    ev = load_table(spark, SF, "events")
    pdf = ev.select("event_id", "user_id", "event_type").toPandas()
    src = str(tmp_path / "gkmv_src")
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
    q, mon = st.stream_kmv_by_group(stream, str(tmp_path / "ck_gkmv"), k=8)
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    assert mon.n_batches == 3
    got = (
        mon.result()
        .toPandas()
        .sort_values(["event_type", "h"], na_position="first")
        .reset_index(drop=True)
    )
    want = (
        S.kmv_sketch(ev, "user_id", 8, group_col="event_type")
        .select(F.col("event_type").cast("string"), "h")
        .toPandas()
        .sort_values(["event_type", "h"], na_position="first")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    n_groups = got["event_type"].nunique()
    assert len(got) <= n_groups * 8  # bounded-state claim
    est = (
        mon.estimates()
        .toPandas()
        .sort_values("event_type", na_position="first")
        .reset_index(drop=True)
    )
    want_est = (
        S.kmv_estimate(
            S.kmv_sketch(ev, "user_id", 8, group_col="event_type")
            .select(F.col("event_type").cast("string"), "h"),
            8,
            ["event_type"],
        )
        .toPandas()
        .sort_values("event_type", na_position="first")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(est, want_est, check_dtype=False)


def test_grouped_kmv_monitor_replay_idempotent(spark):
    """Bottom-k-of-union is IDEMPOTENT — a replayed batch (same or
    different epoch id) cannot move the state, so the monitor needs no
    epoch guard (contrast the additive CMS monitors). Also: int
    group_col accepted (STRING surfacing), group==key legal,
    result() before any batch raises, k < 2 raises."""
    from bytehub_spark.streaming import GroupedKmvMonitor

    ev = load_table(spark, SF, "events").limit(200)
    mon = GroupedKmvMonitor(k=8)
    mon.process_batch(ev, epoch_id=0)
    state0 = {g: list(v) for g, v in mon.hashes.items()}
    assert state0
    mon.process_batch(ev, epoch_id=1)  # replayed content, new epoch
    assert {g: list(v) for g, v in mon.hashes.items()} == state0
    # int group col -> string surfacing via the shared cast helper
    intg = GroupedKmvMonitor(key_col="user_id", group_col="grp", k=4)
    src = ev.select("user_id", (F.col("user_id") % 3).alias("grp"))
    intg.process_batch(src, epoch_id=0)
    gvals = {r["grp"] for r in intg.result().collect()}
    assert gvals <= {"0", "1", "2"} and gvals
    # group == key is legal
    gk = GroupedKmvMonitor(key_col="user_id", group_col="user_id", k=4)
    gk.process_batch(ev.select("user_id"), epoch_id=0)
    assert all(len(v) == 1 for v in gk.hashes.values())
    with pytest.raises(RuntimeError, match="before any micro-batch"):
        GroupedKmvMonitor().result()
    with pytest.raises(ValueError, match="k >= 2"):
        GroupedKmvMonitor(k=1)


# ------------------- WeightedSampleMonitor (21st monitor)


def test_weighted_sample_monitor_stream_equals_batch(spark, tmp_path):
    """WeightedSampleMonitor over file micro-batches == the batch
    weighted_sample over the full table, row for row (priority desc,
    id asc) — top-k-of-union == top-k of per-batch top-ks for a
    priority that is a pure function of (id, w_eff)."""
    import os
    import time

    import pandas as pd

    from bytehub_spark import streaming as st
    from bytehub_spark.operators.curation import weighted_sample

    docs = load_table(spark, SF, "documents").select(
        "doc_id", (1 + F.col("n_chars") % 8).alias("w")
    )
    pdf = docs.toPandas()
    src = str(tmp_path / "wsm_src")
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
    q, mon = st.stream_weighted_sample(
        stream, str(tmp_path / "ck_wsm"), k=17, cap=8
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    assert mon.n_batches == 3
    got = mon.result().toPandas()
    want = weighted_sample(docs, 17, "w", "doc_id", cap=8).toPandas()
    pd.testing.assert_frame_equal(got, want)


def test_weighted_sample_monitor_replay_idempotent(spark):
    """Re-delivered batches produce byte-identical candidates that
    dedupe on id — the state cannot move (no epoch guard needed);
    result() before any batch raises; k < 1 raises."""
    from bytehub_spark.streaming import WeightedSampleMonitor

    docs = load_table(spark, SF, "documents").select(
        "doc_id", (1 + F.col("n_chars") % 8).alias("w")
    ).limit(60)
    mon = WeightedSampleMonitor(k=9, cap=8)
    mon.process_batch(docs, epoch_id=0)
    state0 = dict(mon.rows)
    assert 0 < len(state0) <= 9
    mon.process_batch(docs, epoch_id=1)  # replayed content
    assert mon.rows == state0
    with pytest.raises(RuntimeError, match="before any micro-batch"):
        WeightedSampleMonitor().result()
    with pytest.raises(ValueError, match="k >= 1"):
        WeightedSampleMonitor(k=0)


# ------------------- kmv_overlap_matrix (r15 gate candidate)


def _kmv_matrix_replay(groups_to_users, k):
    """Pure-python replay of kmv_overlap_matrix on a {group: set(keys)}
    dict — every output column, exact."""
    from bytehub_spark.operators.hashing import MINHASH_PRIME, int_mix

    sk = {
        g: sorted({int_mix(u, 0) for u in us})[:k]
        for g, us in groups_to_users.items()
    }
    est = {}
    for g, hs in sk.items():
        m, u_k = len(hs), hs[-1] if hs else None
        est[g] = m if m < k else (k - 1) * MINHASH_PRIME // u_k
    out = []
    gs = sorted(g for g in groups_to_users if g is not None)
    for i, a in enumerate(gs):
        for b in gs[i + 1:]:
            union = sorted(set(sk[a]) | set(sk[b]))[:k]
            kk, u_kk = len(union), union[-1]
            p = sum(1 for h in union if h in set(sk[a]) and h in set(sk[b]))
            eu = kk if kk < k else (k - 1) * MINHASH_PRIME // u_kk
            out.append((a, b, len(sk[a]), len(sk[b]), est[a], est[b],
                        kk, u_kk, eu, p, p * eu // kk,
                        p * 10**6 // kk))
    return out


@pytest.mark.parametrize("k", [64, 4])
def test_kmv_overlap_matrix_replays_exactly(spark, k):
    """Both CASE arms (k=64: every sf0.001 sketch complete — EXACT
    unions/intersections; k=4: estimator branch live) replay
    bit-exact in pure python; when complete, est_inter equals the true
    per-pair distinct-user intersection."""
    ev = load_table(spark, SF, "events").where(
        F.col("user_id").isNotNull()
    )
    rows = S.kmv_overlap_matrix(ev, "user_id", "event_type", k).collect()
    got = [tuple(r) for r in rows]
    gu = {}
    for r in ev.select("event_type", "user_id").distinct().collect():
        gu.setdefault(r["event_type"], set()).add(r["user_id"])
    want = _kmv_matrix_replay(gu, k)
    assert got == want
    if k == 64:
        # complete regime: exact set algebra, not estimates
        for r in rows:
            inter = len(gu[r["group_a"]] & gu[r["group_b"]])
            union = len(gu[r["group_a"]] | gu[r["group_b"]])
            assert r["est_inter"] == inter
            assert r["est_union"] == union
            assert r["p_both"] == inter


def test_kmv_overlap_matrix_null_group_excluded(spark):
    """A NULL group sketches (kmv_sketch keeps it) but never pairs —
    '<' admits no NULL side; pair count is C(non-null groups, 2)."""
    src = spark.createDataFrame(
        [(i, ["a", "b", "c", None][i % 4]) for i in range(80)],
        "k int, g string",
    )
    out = S.kmv_overlap_matrix(src, "k", "g", 16).collect()
    assert len(out) == 3  # C(3,2)
    assert all(
        r["group_a"] is not None and r["group_b"] is not None
        for r in out
    )
