"""Round-9 contracts — the ADVICE r08 closures, each pinned cross-engine
on a crafted frame that CONTAINS the hostile case (the testdata has no
NULL values/keys, so the driver gate is structurally blind to these;
the r07 lesson about engine-consistent bugs applies to engine-consistent
*NULL handling* too).

- ``asof.band_plan`` excludes NULL values: band_join's equi-join on
  (keys, bucket) can never match a NULL bucket, so a NULL-value row
  contributes zero candidate pairs — ``cand_pairs`` must equal the
  literal fan-out equi-join volume on a frame WITH NULLs, and the
  DuckDB oracle must agree row-for-row.
- ``curation.dataset_card``'s ``avg_tokens_ppm`` uses the two-term
  divmod identity (exact where n_tokens*1e6 overflows BIGINT), and its
  ordering pins NULLs last on both engines so genuinely-NULL group
  keys (distinct from '<all>' rollup placeholders) cannot flip the
  gate's row order.
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytehub_spark.operators import asof, curation


def _oracle_on(frames: dict[str, pd.DataFrame], sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name, pdf in frames.items():
        con.register(name, pdf)
    try:
        return con.sql(sql).df()
    finally:
        con.close()


def _entry_oracle(key: str) -> str:
    import __spark_entry__ as E

    return E.oracle_sql()[key]


# ------------------------------------------------ band_plan NULL values


def _null_events(spark):
    rows = [
        ("a", -0.011), ("a", None), ("a", 0.0), ("a", 0.001),
        ("a", 0.0049), ("b", None), ("b", None), ("b", 5.0),
        ("b", 5.0001), ("b", 5.02),
    ]
    return spark.createDataFrame(rows, "event_type string, value double")


def test_band_plan_null_values_match_join_replay(spark):
    """ADVICE r08 (medium): NULL values must not count toward n_rows /
    n_buckets / cand_pairs. The replay KEEPS the NULL rows and lets the
    equi-join drop them naturally — plan and replay must agree."""
    df = _null_events(spark)
    eps = 5_000
    plan = asof.band_plan(df, ["event_type"], "value", (eps,), 10**9)
    row = plan.toPandas().iloc[0]

    # literal fan-out equi-join volume, NULL rows left IN the inputs:
    # the join on (keys, bucket) drops them exactly like band_join does
    v_u = F.expr("CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT)")
    q = df.select("event_type", v_u.alias("v_u")).withColumn(
        "bucket",
        F.expr(
            f"CAST((v_u div {eps}) - (CASE WHEN v_u % {eps} < 0 "
            f"THEN 1 ELSE 0 END) AS BIGINT)"
        ),
    )
    l = q.withColumn(
        "bucket",
        F.explode(
            F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1)
        ),
    )
    replay = l.join(
        q.withColumnRenamed("v_u", "v_u_b"), ["event_type", "bucket"]
    ).count()
    assert int(row.cand_pairs) == replay
    assert int(row.n_rows) == 7  # 10 rows, 3 NULL values
    # and the actual band_join emits no NULL-valued pairs
    bj = asof.band_join(
        df, df, ["event_type"], "value", eps, ["value"], ["value"]
    ).toPandas()
    assert bj["v_u_a"].notna().all() and bj["v_u_b"].notna().all()


def test_join_band_plan_oracle_agrees_on_nulls(spark):
    """The gate's own SQL, replayed on a NULL-bearing events frame, must
    match the Spark op value-for-value (the driver-gate compare, made
    non-vacuous for NULLs)."""
    df = _null_events(spark)
    got = (
        asof.band_plan(
            df, ["event_type"], "value",
            (100_000, 1_000_000, 5_000_000), 10_000_000,
        )
        .toPandas()
        .sort_values("eps_u")
        .reset_index(drop=True)
    )
    want = (
        _oracle_on({"events": df.toPandas()}, _entry_oracle("join_band_plan"))
        .sort_values("eps_u")
        .reset_index(drop=True)
    )
    for c in got.columns:
        assert list(got[c]) == list(want[c]), f"column {c} diverges"


# ------------------------------------------------ dataset_card hardening


def test_dataset_card_ppm_two_term_identity_beyond_2_53(spark):
    """ADVICE r08 (low): n_tokens * 1e6 overflows BIGINT past ~9.2e12
    tokens (plausible for a 100 TB grand-total row); the two-term
    divmod identity stays exact. Pin the expression dataset_card uses
    against unbounded-int Python on hostile magnitudes."""
    # exactness domain: quotient (= avg tokens/doc) must itself stay
    # under ~9.2e12 — always true for real corpora; it's the TOTAL
    # (n_tokens) that plausibly crosses 9.2e12 at 100 TB, which is
    # exactly where multiply-first breaks and the identity doesn't.
    cases = [
        (2**60 + 7, 1_000_000), (2**53 + 1, 10_007), (9_300_000_000_000, 11),
        (9_223_372_036_854, 1), (1, 3), (0, 5), (41, 41),
    ]
    df = spark.createDataFrame(cases, "n_tokens long, n_docs long")
    got = df.select(
        "n_tokens",
        "n_docs",
        F.expr(
            "(n_tokens div n_docs) * 1000000"
            " + ((n_tokens % n_docs) * 1000000) div n_docs"
        ).cast("long").alias("ppm"),
    ).toPandas()
    for _, r in got.iterrows():
        t, d = int(r.n_tokens), int(r.n_docs)
        exact = (t // d) * 1_000_000 + ((t % d) * 1_000_000) // d
        assert int(r.ppm) == exact, (t, d)
        # the naive multiply-first form really is wrong up here
        if t * 1_000_000 >= 2**63:
            naive_wrapped = ((t * 1_000_000) % 2**64)
            if naive_wrapped >= 2**63:
                naive_wrapped -= 2**64
            assert naive_wrapped // d != exact


def test_dataset_card_null_keys_order_nulls_last_cross_engine(spark):
    """ADVICE r08 (low): a genuinely-NULL source/lang renders as NULL
    (not '<all>'), sorts NULLS LAST on BOTH engines, and carries the
    exact ppm mean — full cross-engine row-for-row agreement on a
    NULL-bearing documents frame."""
    rows = [
        (1, "web", "en", "a b c", 5),
        (2, "web", None, "a b", 3),
        (3, None, "en", "x", 1),
        (4, "api", "de", None, 0),
        (5, None, None, "p q r s", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    )
    got = curation.dataset_card(df).toPandas().reset_index(drop=True)
    want = _oracle_on(
        {"documents": df.toPandas()}, _entry_oracle("cur_dataset_card")
    ).reset_index(drop=True)
    assert len(got) == len(want)
    for c in got.columns:
        assert list(got[c].fillna("∅")) == list(want[c].fillna("∅")), (
            f"column {c} diverges"
        )
    # NULL keys are real NULLs, placed after every non-NULL source at
    # their level, and never collide with the '<all>' placeholders
    lvl1 = got[got.level == 1]
    assert lvl1["source"].iloc[-1] is None or pd.isna(lvl1["source"].iloc[-1])
    assert (got[got.level == 2]["source"] == "<all>").all()
    assert got[got.level == 0]["source"].isna().sum() == 2  # (None,en),(None,None)


# ------------------------------------------------ pipeline_card


def _card_corpus(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    rows = [
        (1, base),                    # keeper; contaminated at stage 3
        (2, base),                    # exact dup of 1 -> stage 1 drop
        (3, base + " tail"),          # near dup of 1 -> stage 2 drop
        (4, None),                    # NULL text -> gate drop
        (5, "z1 z2 z3 z4 z5 z6 z7 z8"),  # clean survivor
    ]
    bench = [(100, "q0 w1 w2 w3 w4 q9")]  # shares 4-gram "w1 w2 w3 w4"
    return (
        spark.createDataFrame(rows, "doc_id long, text string"),
        spark.createDataFrame(bench, "doc_id long, text string"),
    )


def test_pipeline_card_hand_computed_stages(spark):
    """Each stage drops exactly the planted doc: NULL text at the gate,
    the exact copy at dedup, the near copy at LSH (J = 14/15 over
    3-gram shingles), the benchmark-overlapping keeper at
    decontamination; the clean 8-token survivor packs into 1 chunk."""
    docs, bench = _card_corpus(spark)
    out = curation.pipeline_card(docs, bench).toPandas()
    assert list(out["name"]) == [
        "gate", "exact_dedup", "lsh_neardedup", "decontaminate", "pack",
    ]
    assert list(out["n_in"]) == [5, 4, 3, 2, 1]
    assert list(out["n_out"]) == [4, 3, 2, 1, 1]
    assert list(out["n_dropped"]) == [1, 1, 1, 1, 0]
    # stages chain: each stage's n_out is the next stage's n_in
    assert list(out["n_out"])[:-1] == list(out["n_in"])[1:]


def test_pipeline_card_pack_count_is_pack_sequences_bins(spark):
    """The card's pack n_out equals pack_sequences' actual bin count on
    the same survivors (the ceil(Σ tokens / max_tokens) contract)."""
    docs, bench = _card_corpus(spark)
    card = curation.pipeline_card(docs, bench, max_tokens=5).toPandas()
    # survivors after the chain: doc 5 only (8 tokens, 5-token bins)
    survivors = docs.where(F.col("doc_id") == 5)
    packed = curation.pack_sequences(survivors, 5).toPandas()
    n_bins = int(packed["end_bin"].max()) + 1
    assert int(card.loc[card.stage == 4, "n_out"].iloc[0]) == n_bins == 2


def test_pipeline_card_rejects_bad_shape(spark):
    docs, bench = _card_corpus(spark)
    with pytest.raises(ValueError):
        curation.pipeline_card(docs, bench, n_hashes=64, bands=7)


# --------------------------------------- token-scale ppm ratio audit


def test_token_scale_ppm_decimal_exact_cross_engine(spark):
    """Proactive r09 audit closure: ppm ratios whose NUMERATOR is a
    corpus-token total (inflation_ppm, coverage_ppm, rate_ppm) cross
    the BIGINT*1e6 bound at 100 TB (~2e13 tokens), and the two-term
    divmod identity cannot help because the REMAINDER is also
    token-scaled. The DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) form is
    exact — pinned here against unbounded-int Python at hostile
    magnitudes on both engines."""
    cases = [
        (19_999_999_999_999, 3_333_333_333_333),   # 2e13 over 3.3e12
        (2**61, 2**61 + 1),                        # just-below ratio
        (9_223_372_036_855, 9_223_372_036_854),    # straddles 2^63/1e6
        (1, 20_000_000_000_000), (0, 5), (7, 7),
    ]
    df = spark.createDataFrame(cases, "num long, den long")
    got = df.select(
        "num",
        "den",
        F.expr(
            "CAST(CAST(num AS DECIMAL(38,0)) * 1000000 div den AS BIGINT)"
        ).alias("ppm"),
    ).toPandas()
    import duckdb

    for _, r in got.iterrows():
        n, d = int(r.num), int(r.den)
        exact = n * 1_000_000 // d
        assert int(r.ppm) == exact, (n, d)
        (dd,) = duckdb.sql(
            f"SELECT CAST(({n}::HUGEINT * 1000000) // {d} AS BIGINT)"
        ).fetchone()
        assert int(dd) == exact, (n, d)


def test_band_balance_null_and_short_text_cross_engine(spark):
    """NULL-text and sub-shingle docs must be excluded IDENTICALLY by
    the Spark op (size(split(NULL)) -> NULL -> filtered) and the gate's
    DuckDB SQL (len(string_split(NULL)) -> NULL -> filtered) — the
    engine-consistent-NULL class the driver gate can't probe because
    the testdata has no NULL texts. Row-for-row on a hostile frame."""
    from bytehub_spark.operators import dedup

    rows = [
        (1, "a b c d e f"), (2, None), (3, "xy"), (4, "a b"),
        (5, "a b c d e f"), (6, "p q r s t u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        dedup.minhash_band_balance(df)
        .toPandas()
        .sort_values(["bands", "band"])
        .reset_index(drop=True)
    )
    want = (
        _oracle_on({"documents": df.toPandas()}, _entry_oracle("dedup_band_balance"))
        .sort_values(["bands", "band"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in got.columns:
        assert list(got[c]) == list(want[c]), f"column {c} diverges"
    # the two NULL/short docs are excluded: every shape counts 4 docs
    assert (got.groupby("bands")["n_rows"].max() <= 4 * got["bands"].max()).all()


def test_join_skew_profile_null_keys_cross_engine(spark):
    """key_skew_profile excludes NULL keys (they never match an
    equi-join); the gate's own SQL must agree row-for-row on a frame
    WITH NULL user_ids and NULL event_types — the same
    engine-consistent-NULL class as band_plan, pinned for the skew
    profiler (testdata has no NULL keys, so the driver gate is blind
    here)."""
    from bytehub_spark.operators import skew

    rows = [
        (1, "click"), (1, "click"), (1, None), (2, "view"),
        (None, "click"), (None, None), (3, "view"), (1, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = (
        skew.key_skew_profile(df, "user_id", 64, 5)
        .unionByName(skew.key_skew_profile(df, "event_type", 64, 5))
        .orderBy("key_col", F.col("n_rows").desc(), "key")
        .toPandas()
        .reset_index(drop=True)
    )
    # keep user_id integral through pandas (toPandas turns a nullable
    # long into float64, and the oracle's CAST AS VARCHAR would render
    # '2.0' — a registration artifact, not an engine difference)
    pdf = df.toPandas()
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    want = _oracle_on(
        {"events": pdf}, _entry_oracle("join_skew_profile")
    ).reset_index(drop=True)
    assert len(got) == len(want) > 0
    for c in got.columns:
        assert list(got[c]) == list(want[c]), f"column {c} diverges"
    # NULL keys excluded from totals on both sides: user_id profile
    # counts 6 rows (8 minus 2 NULL users)
    u = got[got.key_col == "user_id"]
    assert int(u["n_rows_total"].iloc[0]) == 6
