"""Scale-pattern tests: salted aggregation correctness on skewed keys,
no global data window in sequence packing, AQE skew splits on a hot
LSH bucket."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bytehub_spark import plans
from bytehub_spark.operators.skew import salted_agg

SF = "/root/testdata/sf0.001"


def test_salted_agg_matches_plain_agg_on_skew(spark):
    """90%-hot-key distribution: salted two-stage agg == plain agg."""
    rng = np.random.default_rng(7)
    n = 50_000
    keys = np.where(rng.random(n) < 0.9, "hot", rng.choice(["a", "b", "c"], n))
    pdf = pd.DataFrame({"k": keys, "v": rng.normal(size=n)})
    df = spark.createDataFrame(pdf)
    got = (
        salted_agg(df, ["k"], {"n": ("v", "count"), "mx": ("v", "max")}, salt=8)
        .toPandas().set_index("k").sort_index()
    )
    exp = (
        df.groupBy("k").agg(F.count("v").alias("n"), F.max("v").alias("mx"))
        .toPandas().set_index("k").sort_index()
    )
    pd.testing.assert_frame_equal(got, exp)


def test_salted_agg_scatters_hot_key(spark):
    """Stage 1 must actually split the hot key across salt buckets."""
    pdf = pd.DataFrame({"k": ["hot"] * 10_000, "v": range(10_000)})
    df = spark.createDataFrame(pdf)
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(8))
    )
    n_buckets = salted.select("__salt").distinct().count()
    assert n_buckets == 8


def test_pack_sequences_no_global_data_window(spark):
    """pack_sequences must never run a partition-less window over the doc
    frame (single-task straggler); the only allowed one is the prefix scan
    over the tiny per-shard totals frame (<= shuffle-partitions rows)."""
    from bytehub_spark.operators import curation
    from bytehub_spark.sources import load_table

    out = curation.pack_sequences(load_table(spark, SF, "documents"), 512)
    gw = plans.global_windows(out)
    assert gw, "expected the per-shard offset prefix scan to be present"
    assert all("__tot" in g for g in gw), gw


def test_lsh_hot_bucket_join_aqe_skew_split(spark):
    """Pin the "AQE-skew-splittable" claim in margin_pairs_lsh's docstring:
    a deliberately hot (band, bucket) — every vector identical, so ALL
    rows of both sides share one bucket per band — must complete AND
    actually engage AQE's skew-join split on the bucket equi-join, with
    test-scoped thresholds lowered so the sandbox-sized fixture crosses
    the skew bar (production: hot partitions cross the default 256 MB
    threshold on their own; near-identical rows also LZ4-compress hard,
    which is why the test threshold is 8KB not 64KB — skew detection
    reads COMPRESSED map-output sizes).

    The executed plan is read from the SAME DataFrame that was collected
    (df.count() would run its own QueryExecution and leave this one
    un-executed/un-adapted)."""
    from bytehub_spark.operators.similarity import lsh_cosine_buckets

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        vec = [0.5] * 8
        pdf_a = pd.DataFrame({"vec_id": range(60_000), "embedding": [vec] * 60_000})
        pdf_b = pd.DataFrame(
            {"vec_id": range(100_000, 100_100), "embedding": [vec] * 100}
        )
        emb_a = spark.createDataFrame(pdf_a).repartition(8)
        emb_b = spark.createDataFrame(pdf_b).repartition(2)
        ba = lsh_cosine_buckets(emb_a, 8, "vec_id", "embedding", bands=2).select(
            F.col("vec_id").alias("a_id"), "band", "bucket"
        )
        bb = lsh_cosine_buckets(emb_b, 8, "vec_id", "embedding", bands=2).select(
            F.col("vec_id").alias("b_id"), "band", "bucket"
        )
        agg = (
            ba.join(bb, ["band", "bucket"])
            .select("a_id", "b_id")
            .groupBy()
            .agg(F.count("*").alias("n"))
        )
        n = agg.collect()[0]["n"]
        # identical vectors agree on every band: 60k x 100 pairs x 2 bands
        assert n == 60_000 * 100 * 2
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
