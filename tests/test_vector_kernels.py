"""The shared vector kernels of the embedding operators: one cosine
rounding rule across the Spark, numpy and DuckDB forms; any vector
column name; query-side SRP buckets equal to the corpus side.
"""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pytest

from bytehub_spark.operators import dedup, ivf, similarity

# cosines whose 4-decimal half point sits just below the double's value:
# shortest-decimal rounding (Spark's round) and scaled-binary rounding
# (DuckDB's round) disagree on 0.70715
HALF_POINTS = (0.12345, 0.56785, 0.33335, 0.70715, 0.25005, 0.90005)


@pytest.fixture(scope="module")
def half_points(spark):
    rows = [(0, [1.0, 0.0])] + [
        (i + 1, [c, math.sqrt(1 - c * c)]) for i, c in enumerate(HALF_POINTS)
    ]
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_paths_round_alike_on_half_points(spark, half_points):
    """cosine_topk, cosine_topk_gemm, a full-probe ivf_topk and the
    emb_cosine_topk DuckDB oracle give one answer on half points."""
    import __spark_entry__ as E

    rows, df = half_points
    exact = similarity.cosine_topk(df, [0], 6).toPandas()
    got = dict(zip(exact["neighbor_id"], exact["cosine_sim"]))
    assert got[4] == 0.7071
    for other in (
        similarity.cosine_topk_gemm(df, [0], 6),
        ivf.ivf_topk(df, [0], 6, n_cells=2, n_probe=2),
    ):
        pd.testing.assert_frame_equal(exact, other.toPandas())

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}),
    )
    want = con.sql(E.oracle_sql()["emb_cosine_topk"]).df()
    for fn in (similarity.cosine_topk, similarity.cosine_topk_gemm):
        spark_rows = fn(df, [0, 1, 2, 3, 4], 5).toPandas()
        assert list(spark_rows.itertuples(index=False, name=None)) == list(
            want.itertuples(index=False, name=None)
        )


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(13)
    rows = [
        (i, i % 2, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)
    ]
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")


QUOTED = {
    "cosine_topk": lambda e, v: similarity.cosine_topk(e, [0, 1, 2], 4, vec_col=v),
    "cosine_topk_gemm": lambda e, v: similarity.cosine_topk_gemm(
        e, [0, 1, 2], 4, vec_col=v
    ),
    "lsh_cosine_topk": lambda e, v: similarity.lsh_cosine_topk(
        e, [0, 1, 2], 4, vec_col=v
    ),
    "ivf_topk": lambda e, v: ivf.ivf_topk(e, [0, 1, 2], 4, n_cells=4, vec_col=v),
    "knn_graph": lambda e, v: similarity.knn_graph(e, 3, vec_col=v),
    "embedding_health": lambda e, v: similarity.embedding_health(e, vec_col=v),
    "embedding_cosine_dups": lambda e, v: dedup.embedding_cosine_dups(
        e, 0.4, vec_col=v
    ),
    "embedding_cosine_dups_lsh": lambda e, v: dedup.embedding_cosine_dups(
        e, 0.4, n_planes=4, vec_col=v
    ),
    "margin_pairs_lsh": lambda e, v: similarity.margin_pairs_lsh(
        e, k=3, threshold_u=0, n_planes=4, vec_col=v
    ),
}


@pytest.mark.parametrize("op", sorted(QUOTED))
def test_vector_column_name_needing_quotes(spark, vecs, op):
    """A vector column whose name needs quoting in SQL text gives the
    answer the operator gives on ``embedding``."""
    fn = QUOTED[op]
    renamed = vecs.withColumnRenamed("embedding", "my emb")
    want = fn(vecs, "embedding").toPandas()
    got = fn(renamed, "my emb").toPandas()
    assert len(want) > 0
    pd.testing.assert_frame_equal(want, got)


def test_multiprobe_without_flips_equals_lsh_topk(spark, vecs):
    """n_flip=0 probes only the query's own buckets, computed driver-side;
    they must equal the corpus UDF's buckets bit for bit."""
    qids = list(range(10))
    for n_planes, bands in ((4, 5), (6, 3)):
        base = similarity.lsh_cosine_topk(
            vecs, qids, 5, n_planes=n_planes, bands=bands
        ).toPandas()
        probed = similarity.lsh_cosine_topk_multiprobe(
            vecs, qids, 5, n_planes=n_planes, bands=bands, n_flip=0
        ).toPandas()
        assert len(base) > 0
        pd.testing.assert_frame_equal(base, probed)
