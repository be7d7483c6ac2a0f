"""IVF (inverted-file) approximate nearest neighbor over embedding columns.

The classic two-stage ANN: coarse-quantize vectors into cells around
k-means centroids, then search only the `n_probe` cells nearest the query.
At 100 TB this turns a full-corpus scan into a handful of cell scans; the
stored index whose cell column is a physical partition key, so probes
prune at the parquet layer, is ``pq.build_ivf_pq_index``.

Training is driver-side numpy over a deterministic sample (a few thousand
rows — the standard IVF recipe; centroids are tiny and broadcast to
executors inside an Arrow-vectorized pandas UDF that does one matmul per
batch — no per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import _query_vectors, _rerank, _vec_stack


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Rows of ``x`` scaled to unit L2 norm (all-zero rows stay zero)."""
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


def _nearest_cells(
    queries: np.ndarray, centroids: np.ndarray, n_probe: int
) -> np.ndarray:
    """(n_queries, n_probe) ids of each query's most cosine-similar cells."""
    return np.argsort(-(_unit_rows(queries) @ centroids.T), axis=1)[:, :n_probe]


def train_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    sample_size: int = 4096,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """K-means centroids from a deterministic sample (hash-ordered, so the
    sample is stable across runs and cluster layouts)."""
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_size)
        .toPandas()
    )
    # normalize → cosine k-means (spherical)
    x = _unit_rows(_vec_stack(sample[vec_col]))
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(n_iter):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / np.maximum(np.linalg.norm(m), 1e-12)
    return cents


def assign_cells(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Add the nearest-centroid cell id — one numpy matmul per Arrow batch."""
    cents = centroids  # captured; broadcast with the serialized UDF (small)

    @F.pandas_udf(T.IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        x = _unit_rows(_vec_stack(vecs))
        return pd.Series((x @ cents.T).argmax(axis=1).astype(np.int32))

    return embeddings.withColumn(out_col, nearest(F.col(vec_col)))


def _probe_join(celled: DataFrame, probes: DataFrame, id_col: str) -> DataFrame:
    """Rows of ``celled`` in a cell their query probes (``probes``:
    query_id, probe_cells, ...), the query itself excluded."""
    return celled.join(
        F.broadcast(probes),
        F.array_contains(F.col("probe_cells"), F.col("cell"))
        & (F.col(id_col) != F.col("query_id")),
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine: probe the n_probe nearest cells per query,
    exact re-rank inside (similarity._rerank, the scoring of
    similarity.cosine_topk; query vectors come from the corpus frame)."""
    from ..plans.scratch import scratch_persist

    cents = train_centroids(embeddings, n_cells, id_col=id_col, vec_col=vec_col)
    celled = scratch_persist(assign_cells(embeddings, cents, vec_col))

    queries = (
        celled.where(F.col(id_col).isin(query_ids)).select(id_col, vec_col).toPandas()
    )
    cells = _nearest_cells(_vec_stack(queries[vec_col]), cents, n_probe)
    probes = embeddings.sparkSession.createDataFrame(
        [(int(q), [int(c) for c in row]) for q, row in zip(queries[id_col], cells)],
        "query_id long, probe_cells array<int>",
    )
    cand = _probe_join(celled, probes, id_col).join(
        F.broadcast(_query_vectors(celled, query_ids, id_col, vec_col)), "query_id"
    )
    return _rerank(cand, k, id_col, vec_col)

