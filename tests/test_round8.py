"""Round-8 contracts: the ε-band planner family + skew/savings/card ops.

- ``asof.band_plan``'s ``cand_pairs`` is the EXACT equi-join output row
  count of the self band join at that ε (pinned against a literal
  ``band_join`` replay), its buckets are exact BIGINT floor division
  (property-pinned beyond 2^53 where the old DOUBLE divide rounds),
  and ``recommended`` is the widest ε within budget.
- ``streaming.BandPlanMonitor`` equals the batch ``band_plan`` on the
  union of its batches in ANY arrival order (additive counts), with
  state bounded by the distinct (ε, keys, bucket) combinations.
- ``skew.key_skew_profile`` prices join-key skew: exact shares, ceil
  salt factors, NULL keys excluded, top-n by (count desc, key asc).
- ``dedup.savings_profile`` counts the canonical member's OWN token
  count via min_by (copies share normalized text, not raw text).
- ``curation.dataset_card`` rollup levels are mutually consistent.
"""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import asof, curation, dedup, skew
from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_band_plan_cand_pairs_is_exact_join_volume(spark):
    # crafted frame with negative values, boundary adjacency and a hot
    # bucket; cand_pairs must equal the literal self-band_join's
    # equi-join OUTPUT volume (pre-filter, self-pairs + both orders)
    rows = [
        (i, "k", v)
        for i, v in enumerate(
            [-0.011, -0.005, -0.0049, 0.0, 0.001, 0.0049, 0.005, 0.0051,
             0.02, 0.02, 0.02, 0.02]
        )
    ]
    df = spark.createDataFrame(rows, "event_id long, k string, value double")
    plan = (
        asof.band_plan(df, ["k"], "value", (5_000,), 10**9)
        .toPandas()
        .iloc[0]
    )
    # literal replay: fan-out join WITHOUT the |Δ|<=eps filter
    from bytehub_spark.operators.asof import _band_bucket_counts, _band_quantized

    base = _band_quantized(df, ["k"], "value")
    cnt = _band_bucket_counts(base, ["k"], (5_000,)).toPandas()
    c = dict(zip(cnt["bucket"], cnt["c"]))
    expect = sum(
        n * (c.get(b - 1, 0) + n + c.get(b + 1, 0)) for b, n in c.items()
    )
    assert int(plan.cand_pairs) == expect
    assert int(plan.n_rows) == len(rows)
    assert int(plan.max_bucket_rows) == max(c.values())


def test_band_bucket_exact_floor_div_beyond_2_53(spark):
    # v_u beyond 2^53: the old floor(v_u / eps) DOUBLE path can shift a
    # bucket by 1; the BIGINT div + remainder correction cannot. Pin
    # bucket == math.floor(v_u / eps) for hostile magnitudes and signs.
    eps = 5_000
    vals = [
        2**60 + 1, 2**60 - 1, -(2**60) - 1, -(2**60) + 1,
        2**53 + 1, -(2**53) - 1, -1, 0, 1, 4_999, -4_999, 5_000, -5_000,
    ]
    base = spark.createDataFrame(
        [("k", v) for v in vals], "k string, v_u long"
    )
    from bytehub_spark.operators.asof import _band_bucket_counts

    got = (
        _band_bucket_counts(base, ["k"], (eps,))
        .select("bucket")
        .toPandas()["bucket"]
        .tolist()
    )
    expect = sorted({v // eps for v in vals})  # python // floors exactly
    assert sorted(set(got)) == expect


def test_band_plan_recommends_widest_within_budget(spark):
    ev = load_table(spark, SF, "events")
    out = asof.band_plan(
        ev, ["event_type"], "value", (100_000, 1_000_000), 10**15
    ).toPandas()
    # huge budget: everything fits, the WIDEST eps is recommended
    assert out["within_budget"].all()
    assert out.loc[out.eps_u.idxmax(), "recommended"]
    assert out["recommended"].sum() == 1
    none = asof.band_plan(
        ev, ["event_type"], "value", (100_000, 1_000_000), 0
    ).toPandas()
    assert not none["within_budget"].any()
    assert none["recommended"].notna().all()
    assert not none["recommended"].any()
    with pytest.raises(ValueError):
        asof.band_plan(ev, ["event_type"], "value", (), 1)


def test_band_plan_monitor_equals_batch_any_order(spark):
    from bytehub_spark.streaming import BandPlanMonitor

    ev = load_table(spark, SF, "events").select("event_type", "value")
    batches = [
        ev.where(F.col("value") < 30),
        ev.where((F.col("value") >= 30) & (F.col("value") < 70)),
        ev.where((F.col("value") >= 70) | F.col("value").isNull()),
    ]
    expect = (
        asof.band_plan(
            ev, ["event_type"], "value", (1_000_000, 5_000_000), 1_000_000
        )
        .toPandas()
        .reset_index(drop=True)
    )
    for order in ([0, 1, 2], [2, 0, 1]):
        mon = BandPlanMonitor(
            ["event_type"], "value", (1_000_000, 5_000_000), 1_000_000
        )
        for i in order:
            mon.process_batch(batches[i])
        got = mon.result().toPandas().reset_index(drop=True)
        pd.testing.assert_frame_equal(got, expect)
        # state bound: one row per distinct (eps, key, bucket)
        st = mon.state.toPandas()
        assert len(st) == len(
            st[["eps_u", "event_type", "bucket"]].drop_duplicates()
        )
    with pytest.raises(ValueError):
        BandPlanMonitor(["event_type"], "value", ())
    fresh = BandPlanMonitor(["event_type"], "value")
    with pytest.raises(RuntimeError):
        fresh.result()


def test_key_skew_profile_exact_math(spark):
    rows = (
        [("hot", i) for i in range(130)]
        + [("warm", i) for i in range(64)]
        + [("cold", 0)]
        + [(None, 0)]  # NULL key: excluded entirely
    )
    df = spark.createDataFrame(rows, "k string, x long")
    out = skew.key_skew_profile(df, "k", target_rows_per_task=64, top_n=2)
    got = out.toPandas().set_index("key")
    assert list(got.index) == ["hot", "warm"]  # top-2 only, count desc
    assert int(got.loc["hot", "n_rows"]) == 130
    assert int(got.loc["hot", "salt_factor"]) == math.ceil(130 / 64)
    assert int(got.loc["warm", "salt_factor"]) == 1
    # table scalars exclude the NULL row but include 'cold'
    assert int(got.loc["hot", "n_rows_total"]) == 130 + 64 + 1
    assert int(got.loc["hot", "n_keys"]) == 3
    # exact share: 130 * 1e6 div 195
    assert int(got.loc["hot", "share_ppm"]) == 130 * 1_000_000 // 195
    # exact two-term imbalance identity vs unbounded-int reference
    n, mx, nk = 195, 130, 3
    assert int(got.loc["hot", "skew_ppm"]) == mx * 1_000_000 * nk // n
    with pytest.raises(ValueError):
        skew.key_skew_profile(df, "k", target_rows_per_task=0)


def test_savings_profile_min_by_canonical_tokens(spark):
    # doc 1 is canonical (min id) with 3 tokens; doc 2 is a normalized
    # copy whose RAW text has a double space -> 4 whitespace tokens.
    # dup_tokens must charge doc 2's own 4 tokens, not doc 1's 3.
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b c"), (3, "unique text here")],
        "doc_id long, text string",
    )
    out = dedup.savings_profile(docs).toPandas().set_index("cluster_size")
    assert int(out.loc[2, "n_clusters"]) == 1
    assert int(out.loc[2, "n_dup_docs"]) == 1
    assert int(out.loc[2, "dup_tokens"]) == 4
    assert int(out.loc[1, "n_clusters"]) == 1
    assert int(out.loc[1, "dup_tokens"]) == 0


def test_dataset_card_levels_consistent(spark):
    docs = load_table(spark, SF, "documents")
    card = curation.dataset_card(docs).toPandas()
    total = card[card.level == 2]
    assert len(total) == 1
    assert total.iloc[0]["source"] == "<all>"
    for col in ("n_docs", "n_tokens", "sum_chars"):
        assert (
            card[card.level == 0][col].sum()
            == card[card.level == 1][col].sum()
            == total.iloc[0][col]
        )
    # exact ppm mean on the total row
    t = total.iloc[0]
    assert int(t.avg_tokens_ppm) == int(t.n_tokens) * 1_000_000 // int(
        t.n_docs
    )
