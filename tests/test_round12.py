"""Round-12 tests: ADVICE-r11 fixes (monitor epoch stamping, cms_probe
NULL keys), the executable qgram routing (qgram_edit_pairs_routed), and
the linear-counting-corrected HLL estimator + HLL set algebra.

All extension surface (SURVEY.md §2 additions) — contracts pinned are
the operators' own documented ones.
"""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import dedup
from bytehub_spark.operators import sketches as S
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------ qgram routed (VERDICT r11 #4)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_qgram_routed_equals_direct_on_copy_corpus(spark):
    """The collapse route (price → island-collapse → re-price → join →
    expand) must reproduce the direct join EXACTLY on a corpus with
    identical-prefix islands AND cross-island near pairs — the dropped
    island pairs reconstruct by arithmetic, the cross pairs by
    membership expansion with lens following the prefix."""
    base = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # same 30-char prefix as doc 1 -> same island
        (3, "a completely different document about spark"),
        (4, "the quick brewn fax jumps over something"),  # ~2 edits in prefix
        (5, "zzz unrelated text far from everything else"),
    ]
    rows = list(base)
    # 3 exact copies of every doc -> islands of 4
    for c in range(1, 4):
        rows += [(i + 1000 * c, t) for i, t in base]
    docs = _docs(spark, rows)
    plan = dedup.qgram_plan(docs, k=3, q=2).collect()[0]
    budget = int(plan["seg_join_tuples"]) // 4  # forces the collapse
    direct = sorted(
        map(tuple, dedup.qgram_edit_pairs(docs, k=3, q=2).collect())
    )
    routed = sorted(
        map(tuple, dedup.qgram_edit_pairs_routed(docs, budget, k=3, q=2).collect())
    )
    assert routed == direct
    assert len(direct) > 0
    # both pair classes present: dist-0 island pairs and cross pairs
    dists = {d for _, _, d, _, _ in direct}
    assert 0 in dists and any(d > 0 for d in dists)


def test_qgram_routed_direct_route_under_budget(spark):
    """Volume within budget: the routed operator IS the direct one."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    direct = sorted(
        map(tuple, dedup.qgram_edit_pairs(docs, k=3, q=2).collect())
    )
    routed = sorted(
        map(
            tuple,
            dedup.qgram_edit_pairs_routed(docs, 10**18, k=3, q=2).collect(),
        )
    )
    assert routed == direct


def test_qgram_routed_refuses_boilerplate_corpus(spark):
    """DISTINCT prefixes behind shared segment text (boilerplate) don't
    collapse — the re-priced volume must be re-checked against the
    budget and refused with BOTH plan rows attached (the r11 review
    catch: the first draft would have sailed into the same 30 GB
    spill)."""
    rows = [
        (i, "shared boilerplate prefix %03d and trailing text" % i)
        for i in range(150)
    ]
    docs = _docs(spark, rows)
    with pytest.raises(dedup.QgramBudgetExceeded) as ei:
        dedup.qgram_edit_pairs_routed(docs, 50, k=3, q=2)
    exc = ei.value
    assert int(exc.plan_direct["seg_join_tuples"]) > 50
    assert int(exc.plan_collapsed["seg_join_tuples"]) > 50
    # all prefixes distinct -> collapse changed nothing
    assert exc.plan_direct["n_distinct_prefixes"] == 150
    assert (
        exc.plan_collapsed["seg_join_tuples"]
        == exc.plan_direct["seg_join_tuples"]
    )


def test_qgram_routed_budget_validation(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    with pytest.raises(ValueError):
        dedup.qgram_edit_pairs_routed(docs, -1)


# ------------------------------- HLL linear counting (VERDICT r11 #5)


def test_hll_lc_values_match_formula():
    """The literal table IS m·ln(m/(m−occ)) rounded — evaluated once
    in Python and shared by both engines as integers."""
    m = 64
    vals = S.hll_lc_values(m)
    assert len(vals) == m
    assert vals[0] == 0
    for occ in range(m):
        assert vals[occ] == round(m * math.log(m / (m - occ)))
    with pytest.raises(ValueError):
        S.hll_lc_values(63)  # not a power of two
    with pytest.raises(ValueError):
        S.hll_lc_values(8192)  # literal-table bound


def test_hll_lc_case_sql_cross_engine(spark):
    """The generated CASE evaluates to the table verbatim in BOTH
    engines (the rho_sql convention)."""
    m = 64
    vals = S.hll_lc_values(m)
    case = S.hll_lc_case_sql(m, "occ")
    got_spark = (
        spark.range(m)
        .selectExpr("CAST(id AS INT) AS occ")
        .selectExpr("occ", f"{case} AS lc")
        .orderBy("occ")
        .collect()
    )
    assert [r["lc"] for r in got_spark] == vals
    got_duck = duckdb.sql(
        f"SELECT {case} AS lc FROM (SELECT unnest(range({m})) AS occ) "
        "ORDER BY occ"
    ).fetchall()
    assert [r[0] for r in got_duck] == vals


def test_hll_estimate_corrected_spans_full_range(spark):
    """The corrected estimator is usable from n = 0 to n ≫ m: exact at
    tiny n (no more α·m floor), within LC accuracy while registers are
    sparse, harmonic once saturated. Deterministic (fixed hash), so
    the bounds are measured-plus-margin, not statistical."""
    m = 64
    for n in [0, 1, 2, 5, 15, 40, 100, 160, 200, 300, 1000, 5000]:
        df = spark.range(n).selectExpr("id * 7919 + 13 AS k")
        row = S.hll_estimate_corrected(
            S.hll_registers(df, "k", None, m), m
        ).collect()[0]
        est = row["est_distinct"]
        if n <= 5:
            assert est == n, f"n={n}: est={est}"
        elif n <= 128:
            assert abs(est - n) <= max(3, 0.2 * n), f"n={n}: est={est}"
        else:
            assert abs(est - n) <= 0.25 * n, f"n={n}: est={est}"
        # the switch: raw estimator above 2.5m, LC below
        if row["occupied"] < m and row["est_raw"] * 2 <= 5 * m:
            assert est == S.hll_lc_values(m)[row["occupied"]]
        else:
            assert est == row["est_raw"]


def test_hll_estimate_corrected_empty_is_zero(spark):
    """occupied = 0 routes through LC → est 0 (the raw estimator's
    empty-sketch value is its ≈ α·m floor)."""
    empty = spark.createDataFrame([], "bucket int, rho int")
    row = S.hll_estimate_corrected(empty, m=64).collect()[0]
    assert row["occupied"] == 0
    assert row["est_distinct"] == 0
    assert row["est_raw"] > 0  # the documented floor, still reported


# ----------------------------------------------- HLL overlap algebra


def test_hll_overlap_identical_inputs(spark):
    """a == b ⟹ union registers == either side ⟹ est_inter == est_a
    (inclusion-exclusion collapses exactly — integer arithmetic)."""
    df = spark.range(500).selectExpr("id * 31 + 7 AS k")
    row = S.hll_overlap(df, df, "k", 64).collect()[0]
    assert row["occupied_union"] == row["occupied_a"] == row["occupied_b"]
    assert row["est_union"] == row["est_a"] == row["est_b"]
    assert row["est_inter"] == row["est_a"]


def test_hll_overlap_disjoint_and_partial(spark):
    """Union occupancy dominates both sides (max-merge); est_inter
    tracks the true intersection within sketch error on a planted
    50%-overlap split, and on DISJOINT inputs it sits near 0 and is
    reported AS-IS (possibly negative — difference of estimators, the
    documented contract; a clamp to 0 would break this pin)."""
    a = spark.range(0, 600).selectExpr("id AS k")  # 0..599
    b = spark.range(300, 900).selectExpr("id AS k")  # 300..899, inter=300
    row = S.hll_overlap(a, b, "k", 64).collect()[0]
    assert row["occupied_union"] >= max(row["occupied_a"], row["occupied_b"])
    assert row["est_inter"] == row["est_a"] + row["est_b"] - row["est_union"]
    assert abs(row["est_inter"] - 300) <= 0.45 * 300  # 3 estimators stack

    d = spark.range(10_000, 10_600).selectExpr("id AS k")  # disjoint from a
    row = S.hll_overlap(a, d, "k", 64).collect()[0]
    # true intersection 0: the estimate must be near zero relative to
    # the side sizes, and exactly the inclusion-exclusion arithmetic
    # (no clamping) — negative values are allowed by contract
    assert row["est_inter"] == row["est_a"] + row["est_b"] - row["est_union"]
    assert abs(row["est_inter"]) <= 0.25 * 600


# -------------------------------------------------- ADVICE r11 fixes


def test_cms_probe_excludes_null_keys(spark):
    """A NULL key hashes nowhere; probing it returned est_cnt = 0,
    silently violating est ≥ true. cms_probe now excludes NULL keys,
    matching cms_build (ADVICE r11)."""
    df = spark.range(100).selectExpr("id % 7 AS k")
    cms = S.cms_build(df, "k")
    keys = spark.createDataFrame(
        [(0,), (3,), (None,)], "k long"
    )
    out = S.cms_probe(cms, keys, "k").collect()
    assert len(out) == 2  # NULL row excluded
    for r in out:
        true_cnt = 15 if r["k"] == 0 else 14  # 100 over 7 residues
        assert r["est_cnt"] >= true_cnt


def test_cms_monitor_failed_batch_replays(spark, monkeypatch):
    """ADVICE r11 (medium): the epoch stamp must land only AFTER the
    batch is processed — a mid-batch failure followed by the restart's
    re-delivery of the SAME epoch id must count the batch, not skip
    it as a replay."""
    from bytehub_spark.operators import sketches as sk_mod
    from bytehub_spark.streaming import CountMinMonitor

    ev = load_table(spark, SF, "events").limit(100)
    mon = CountMinMonitor()

    real = sk_mod.cms_build

    def boom(*a, **kw):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(sk_mod, "cms_build", boom)
    with pytest.raises(RuntimeError):
        mon.process_batch(ev, epoch_id=3)
    assert mon._last_epoch is None  # NOT stamped
    assert mon.cells == {}

    monkeypatch.setattr(sk_mod, "cms_build", real)
    mon.process_batch(ev, epoch_id=3)  # re-delivery: must process
    assert mon._last_epoch == 3
    assert sum(mon.cells.values()) == 4 * 100  # depth * rows
    mon.process_batch(ev, epoch_id=3)  # true replay: no-op
    assert sum(mon.cells.values()) == 4 * 100


def test_funnel_monitor_failed_batch_replays(spark, monkeypatch):
    """Same contract for CurationFunnelMonitor: a failed batch leaves
    the epoch un-stamped so the re-delivery appends its (single)
    funnel row instead of being dropped."""
    from bytehub_spark.operators import curation as cur_mod
    from bytehub_spark.streaming import CurationFunnelMonitor

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    mon = CurationFunnelMonitor()

    real = cur_mod._funnel_flags

    def boom(*a, **kw):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(cur_mod, "_funnel_flags", boom)
    with pytest.raises(RuntimeError):
        mon.process_batch(docs, epoch_id=9)
    assert mon._last_epoch is None
    assert mon.rows == []

    monkeypatch.setattr(cur_mod, "_funnel_flags", real)
    mon.process_batch(docs, epoch_id=9)
    assert len(mon.rows) == 1
    mon.process_batch(docs, epoch_id=9)  # replay: no-op
    assert len(mon.rows) == 1


# ------------------------------------- HllDistinctMonitor per group


def test_grouped_hll_monitor_stream_equals_batch(spark):
    """Per-group registers over arbitrary micro-batches == the one-shot
    grouped hll_registers (max-merge per (group, bucket) is structural
    — shared kernel), and re-processing the SAME batch leaves state
    unchanged (idempotence, the at-least-once claim)."""
    from bytehub_spark.streaming import HllDistinctMonitor

    ev = load_table(spark, SF, "events").where(
        F.col("user_id").isNotNull()
    )
    mon = HllDistinctMonitor(group_col="event_type")
    # 3 uneven batches by event_id ranges (arrival order irrelevant)
    for lo, hi in [(0, 300), (300, 1100), (1100, 10**9)]:
        mon.process_batch(
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        )
    got = sorted(map(tuple, mon.result().collect()))
    want = sorted(
        map(
            tuple,
            S.hll_registers(ev, "user_id", "event_type", 64)
            .select(
                F.col("event_type").cast("string"), "bucket", "rho"
            )
            .collect(),
        )
    )
    assert got == want
    # idempotence: same batch twice — state unchanged
    before = dict(mon.regs)
    mon.process_batch(ev.where(F.col("event_id") < 300))
    assert mon.regs == before
    # estimates() rides the corrected estimator (usable at ~15 users)
    est = {
        r["event_type"]: r["est_distinct"]
        for r in mon.estimates().collect()
    }
    exact = {
        r["event_type"]: r["x"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    for g, x in exact.items():
        assert abs(est[g] - x) <= max(3, 0.2 * x), (g, est[g], x)


def test_grouped_hll_monitor_guard(spark):
    from bytehub_spark.streaming import HllDistinctMonitor

    for group_col in (None, "event_type"):
        with pytest.raises(RuntimeError):
            HllDistinctMonitor(group_col=group_col).result()
        with pytest.raises(ValueError):
            HllDistinctMonitor(m=48, group_col=group_col)
