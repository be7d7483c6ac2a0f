"""Round-11 sketch family: Count-Min + HyperLogLog registers.

Pins (a) the engine-portable integer double-hash (int_mix / rho) across
Python reference, Spark SQL, and DuckDB; (b) the CM one-sided-error
guarantee (est ≥ true for EVERY key); (c) the merge laws the streaming
story rests on — CMS additivity and HLL max-merge; (d) the
CountMinMonitor stream==batch EXACT contract (additive counters need no
arrival-order assumption, unlike the history monitors).
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import hashing as H
from bytehub_spark.operators import sketches as S
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"
# the sketch monitors' optional group column: ungrouped and per type
GROUP_COLS = (None, "event_type")

KEYS = [
    0, 1, 2, 7, -1, -17, 12345678901, 2147483646, 2147483647,
    2147483648, -2147483649, 999999999999999, 4611686018427387904,
]


def test_int_mix_three_way(spark):
    """int_mix/rho/2^(31-rho): Python ref == Spark SQL == DuckDB on
    hostile keys (negatives, the modulus, ±2^31, near-2^62)."""
    expect = []
    for k in KEYS:
        h1, h2 = H.int_h1_h2(k)
        rho = H.rho_py(h2)
        expect.append((k, h1, h2, rho, 1 << (31 - rho)))

    exprs = [
        f"{H.int_h1_sql('k')} AS h1",
        f"{H.int_h2_sql('k')} AS h2",
        f"{H.rho_sql(H.int_h2_sql('k'))} AS rho",
        f"{H.pow2_31_minus_rho_sql(H.rho_sql(H.int_h2_sql('k')))} AS p2",
    ]
    got_spark = [
        (r.k, r.h1, r.h2, r.rho, r.p2)
        for r in spark.createDataFrame([(k,) for k in KEYS], "k long")
        .selectExpr("k", *exprs)
        .orderBy("k")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"(CAST({k} AS BIGINT))" for k in KEYS)
        + ") v(k)"
    )
    got_duck = con.execute(
        f"SELECT k, {', '.join(exprs)} FROM t ORDER BY k"
    ).fetchall()
    expect.sort()
    assert got_spark == expect
    assert [tuple(map(int, r)) for r in got_duck] == expect
    # h2 never 0 (the Kirsch-Mitzenmacher walk must walk)
    assert all(h2 >= 1 for _, _, h2, _, _ in expect)


def test_cms_estimate_dominates_true_count_everywhere(spark):
    """est ≥ true for EVERY key (not just the gated top-10): the CM
    one-sided guarantee. Width 4 × depth 2 on 15 keys makes strict
    overestimates a PIGEONHOLE certainty (≤ 3 singleton cells per
    4-cell row ⇒ ≥ 9 of 15 keys collide in both rows) — at width 16
    the depth-min erased every collision and the assert was vacuous."""
    ev = load_table(spark, SF, "events").where(F.col("user_id").isNotNull())
    cms = S.cms_build(ev, "user_id", depth=2, width=4)
    truth = ev.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
    probed = S.cms_probe(cms, truth, "user_id", depth=2, width=4)
    pdf = probed.toPandas()
    assert len(pdf) > 0
    assert (pdf.est_cnt >= pdf.true_cnt).all()
    assert (pdf.est_cnt > pdf.true_cnt).any()  # collisions happened


def test_cms_additive_merge_law(spark):
    """cms(A ∪ B) == cell-wise sum of cms(A) and cms(B) — the law that
    makes the streaming monitor's result exact under ANY batching."""
    ev = load_table(spark, SF, "events")
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 != 0)
    merged = (
        S.cms_build(a, "user_id")
        .unionByName(S.cms_build(b, "user_id"))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    oneshot = S.cms_build(ev, "user_id")
    assert merged.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(merged).count() == 0


def test_hll_max_merge_law_and_estimate_floor(spark):
    """registers(A ∪ B) == per-bucket MAX of the shard registers
    (idempotent merge — re-delivery safe), and the finished estimate's
    documented small-range floor ≈ α·m when n ≪ m."""
    ev = load_table(spark, SF, "events")
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 != 0)
    merged = (
        S.hll_registers(a, "user_id", m=64)
        .unionByName(S.hll_registers(b, "user_id", m=64))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    oneshot = S.hll_registers(ev, "user_id", m=64)
    assert merged.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(merged).count() == 0
    est = S.hll_estimate(oneshot, m=64).collect()[0]
    # 15 distinct users << m=64: the raw harmonic estimator sits at its
    # documented floor near alpha*m ~ 45, NOT near the true 15 — the
    # bias hll_estimate's docstring routes to linear counting
    assert 35 <= est["est_distinct"] <= 64
    assert est["occupied"] == 15  # the linear-counting input is exact


def test_hll_registers_rejects_non_power_of_two():
    with pytest.raises(ValueError):
        S.hll_registers(None, "k", m=48)
    with pytest.raises(ValueError):
        S.cms_build(None, "k", depth=0)


def test_stream_cms_equals_batch_exactly(spark, tmp_path):
    """CountMinMonitor over arbitrary micro-batches == one-shot
    cms_build on the full table, to the integer — additivity makes the
    contract hold with NO arrival-order assumption (files are written
    id-ordered here, but nothing in the monitor uses that)."""
    import os
    import time

    from bytehub_spark import streaming as st

    ev = load_table(spark, SF, "events")
    pdf = ev.select("event_id", "user_id").toPandas()
    src = str(tmp_path / "cms_src")
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
    q, mon = st.stream_cms(stream, str(tmp_path / "ck_cms"))
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    got = mon.result().toPandas().sort_values(["row", "col"])
    want = (
        S.cms_build(ev, "user_id")
        .orderBy("row", "col")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want, check_dtype=False
    )
    # bounded-state claim: never more cells than depth*width
    assert len(got) <= 4 * 256


def test_cms_monitor_guards_result_before_any_batch():
    from bytehub_spark.streaming import CountMinMonitor

    for group_col in GROUP_COLS:
        with pytest.raises(RuntimeError):
            CountMinMonitor(group_col=group_col).result()
        # depth/width are validated at construction, grouped or not
        with pytest.raises(ValueError):
            CountMinMonitor(width=1, group_col=group_col)


def test_stream_hll_equals_batch_and_idempotent(spark, tmp_path):
    """HllDistinctMonitor over micro-batches == one-shot
    hll_registers, AND re-processing a batch leaves state unchanged —
    the max-merge idempotence that makes the sketch safe under
    at-least-once delivery (an additive counter would double-count;
    this is the claim with teeth)."""
    import os
    import time

    from bytehub_spark import streaming as st

    ev = load_table(spark, SF, "events")
    pdf = ev.select("event_id", "user_id").toPandas()
    src = str(tmp_path / "hll_src")
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
    q, mon = st.stream_hll_distinct(stream, str(tmp_path / "ck_hll"))
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    want = {
        (r["bucket"], r["rho"])
        for r in S.hll_registers(ev, "user_id", m=64).collect()
    }
    got = {(r["bucket"], r["rho"]) for r in mon.result().collect()}
    assert got == want

    # re-deliver the FIRST batch: state must not move (idempotence)
    before = dict(mon.regs)
    mon.process_batch(
        spark.createDataFrame(pdf.iloc[bounds[0]:bounds[1]])
    )
    assert mon.regs == before
    # estimates() without a group column: one corrected estimate
    (est,) = mon.estimates().collect()
    exact = ev.select("user_id").distinct().count()
    assert abs(est["est_distinct"] - exact) <= max(3, 0.2 * exact)


def test_epoch_replay_guard_cms_and_funnel(spark):
    """foreachBatch re-delivers the LAST epoch under the SAME epoch_id
    after a restart: CountMinMonitor must not double-count it, and
    CurationFunnelMonitor must not append a spurious all-dup row
    (which would also shift later batch indices). Direct calls with
    epoch_id=None keep the no-dedup semantics tests rely on."""
    from bytehub_spark.streaming import CountMinMonitor, CurationFunnelMonitor

    ev = load_table(spark, SF, "events").limit(200)
    mon = CountMinMonitor()
    mon.process_batch(ev, epoch_id=0)
    cells0 = dict(mon.cells)
    mon.process_batch(ev, epoch_id=0)  # replay — must be a no-op
    assert mon.cells == cells0
    mon.process_batch(ev, epoch_id=1)  # new epoch — counts again
    assert mon.cells == {k: 2 * v for k, v in cells0.items()}
    # None = no dedup (direct-caller semantics)
    mon2 = CountMinMonitor()
    mon2.process_batch(ev)
    mon2.process_batch(ev)
    assert mon2.cells == {k: 2 * v for k, v in cells0.items()}

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    fmon = CurationFunnelMonitor()
    fmon.process_batch(docs, epoch_id=7)
    assert len(fmon.rows) == 1
    fmon.process_batch(docs, epoch_id=7)  # replay — no spurious row
    assert len(fmon.rows) == 1


def test_hll_estimate_empty_registers_is_defined(spark):
    """An empty register table (fresh monitor, all-empty batches) must
    finish to the DEFINED empty-sketch values — harmonic_scaled =
    m·2^31, est ≈ α·m — not a NULL row from the global aggregate."""
    empty = spark.createDataFrame([], "bucket int, rho int")
    row = S.hll_estimate(empty, m=64).collect()[0]
    assert row["occupied"] == 0
    assert row["harmonic_scaled"] == 64 * (1 << 31)
    assert row["est_distinct"] == (
        S.HLL_ALPHA_NUM * 64 * 64 * (1 << 31)
        // (S.HLL_ALPHA_DEN * 64 * (1 << 31))
    )


def test_qgram_plan_equals_literal_join_volume(spark):
    """qgram_plan's seg_join_tuples must equal the ACTUAL (i, l, sub)
    equi-join cardinality (the pre-filter volume qgram_edit_pairs
    materializes) — on the natural corpus AND on an island-heavy frame
    (injected 40× exact copies, the regime that drove the unpriced
    500k join to a 30 GB single-task spill). The shared
    _passjoin_seg_probe_exprs makes priced == joined structural; this
    pins it numerically."""
    from bytehub_spark.operators.dedup import (
        _passjoin_seg_probe_exprs,
        qgram_plan,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    heavy = docs
    for c in range(1, 41):
        heavy = heavy.unionByName(
            docs.where(F.col("doc_id") % 25 == 0).select(
                (F.col("doc_id") + 10_000 * c).alias("doc_id"), "text"
            )
        )
    k, q = 3, 2
    min_len = q * (k + 1)
    seg_expr, probe_expr = _passjoin_seg_probe_exprs(k, min_len)
    rows = {}
    for name, frame in (("docs", docs), ("heavy", heavy)):
        row = rows[name] = qgram_plan(frame, k=k, q=q).collect()[0]
        s = F.lower(F.substring(F.col("text"), 1, 30))
        base = (
            frame.select("doc_id", s.alias("s"))
            .where(F.length("s") >= min_len)
            .withColumn("len", F.length("s").cast("int"))
        )
        segs = base.select(
            F.col("len").alias("l"),
            F.explode(F.expr(seg_expr)).alias("sg"),
        ).select("l", F.col("sg.i").alias("i"), F.col("sg.sub").alias("sub"))
        probes = base.select(
            F.explode(F.expr(probe_expr)).alias("pr")
        ).select(
            F.col("pr.i").alias("i"),
            F.col("pr.l").alias("l"),
            F.col("pr.sub").alias("sub"),
        )
        literal = segs.join(probes, ["i", "l", "sub"]).count()
        assert int(row["seg_join_tuples"]) == literal
    # the heavy frame's volume is island-dominated — the routing signal
    heavy_row = rows["heavy"]
    assert heavy_row["max_island"] >= 41
    assert int(heavy_row["island_pairs"]) > 0
