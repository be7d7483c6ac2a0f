"""Product quantization (PQ) ANN: compress embeddings to m sub-codes and
search with asymmetric distance computation (ADC) — Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search".

The third ANN scale path next to hyperplane LSH (similarity.py) and IVF
(ivf.py), and the one that changes the STORAGE story: a 64-dim float
vector (256 B) compresses to m one-byte codes (16 B at the m=16 default,
16x smaller) — and query-time distances are m table lookups + adds per
candidate instead of a d-dim dot product.

Layout mirrors ivf.py: codebooks train driver-side on a deterministic
hash-ordered sample (the standard recipe — codebooks are KBs), encode and
search are Arrow-vectorized mapInPandas with one numpy gather/matmul per
batch, never per-row Python. At 100 TB, compose with IVF: coarse cells
prune the corpus, PQ codes rank inside cells.

PQ distances are approximate and codebooks come from float k-means, so
the registered query is rows-only gated (like emb_ivf_topk); quality is
pinned by recall tests against exact L2 ranking (defaults m=16/ksub=64
measured ~0.7 recall@10 on the synthetic sf0.001 embeddings — isotropic
noise, the hard case for PQ; structured real embeddings fare better).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import _topk, _vec_stack


def _sq_dists(xs: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(len(xs), len(cents)) squared L2 distances via
    ||a-b||^2 = ||a||^2 - 2ab + ||b||^2."""
    return (
        (xs * xs).sum(1)[:, None]
        - 2.0 * xs @ cents.T
        + (cents * cents).sum(1)[None, :]
    )


def train_codebooks(
    embeddings: DataFrame,
    m: int = 16,
    ksub: int = 64,
    sample_size: int = 4096,
    n_iter: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """(m, ksub, d/m) codebooks: independent k-means per subspace over a
    deterministic hash-ordered sample (stable across runs and layouts)."""
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_size)
        .toPandas()
    )
    x = _vec_stack(sample[vec_col])
    n, d = x.shape
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        k = min(ksub, n)
        cents = xs[rng.choice(n, size=k, replace=False)]
        for _ in range(n_iter):
            assign = _sq_dists(xs, cents).argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j, :k] = cents
        if k < ksub:  # degenerate tiny-sample case: pad with copies
            books[j, k:] = cents[rng.integers(0, k, size=ksub - k)]
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<int>[, carry...]): nearest sub-centroid per
    subspace — the stored compressed form (m small ints per vector).
    ``carry_cols`` pass through untouched (e.g. the IVF cell id), so the
    encoded table needs no post-hoc join to regain them."""
    books = codebooks
    m, ksub, dsub = books.shape

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _vec_stack(pdf[vec_col])
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                xs = X[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = _sq_dists(xs, books[j]).argmin(axis=1)
            out = {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            for c in carry_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    # carry columns keep their INPUT types (a hardcoded 'int' silently
    # truncated long ids / failed on strings — ADVICE r02)
    in_types = {f.name: f.dataType for f in embeddings.schema.fields}
    missing = [c for c in carry_cols if c not in in_types]
    if missing:
        raise ValueError(f"carry_cols not in embeddings schema: {missing}")
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
        + [T.StructField(c, in_types[c]) for c in carry_cols]
    )
    return embeddings.select(id_col, vec_col, *carry_cols).mapInPandas(
        encode, schema=schema
    )


def _adc_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: np.ndarray,
    k: int,
    id_col: str,
    probe: np.ndarray | None = None,
) -> DataFrame:
    """ADC top-k shared by every PQ search: per query an (m, ksub) table
    of exact sub-distances to every sub-centroid is precomputed
    driver-side (KBs) and captured in the UDF; a candidate scores m table
    gathers + a sum, each partition emits its k best per query, and the
    final ``_topk`` window breaks ties on the id. With ``probe``
    ((n_queries, n_probe) cell ids), a query scores only rows of its
    probed cells (``codes`` then carries a ``cell`` column)."""
    books = codebooks
    m, ksub, dsub = books.shape
    Q = np.asarray(queries, dtype=np.float64)
    nq = len(Q)
    # distance tables: tabs[q, j, c] = ||Q[q] subspace j - books[j, c]||^2
    tabs = np.empty((nq, m, ksub), dtype=np.float64)
    for j in range(m):
        tabs[:, j, :] = _sq_dists(Q[:, j * dsub : (j + 1) * dsub], books[j])

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())  # (n, m)
            ids = pdf[id_col].to_numpy()
            cells = None if probe is None else pdf["cell"].to_numpy()
            out_ids, out_q, out_d = [], [], []
            for q in range(nq):
                rows = slice(None) if cells is None else np.isin(cells, probe[q])
                q_ids = ids[rows]
                if not len(q_ids):
                    continue
                # gather: dist[i] = sum_j tabs[q, j, C[i, j]]
                dist = tabs[q, np.arange(m)[None, :], C[rows]].sum(axis=1)
                # per-partition pre-cut to k best (heap analogue)
                take = min(k, len(dist))
                part = np.argpartition(dist, take - 1)[:take]
                out_ids.append(q_ids[part])
                out_q.append(np.full(take, q, dtype=np.int32))
                out_d.append(dist[part])
            if not out_ids:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_ids),
                    "approx_dist2": np.concatenate(out_d),
                }
            )

    schema = T.StructType(
        [
            T.StructField("query_id", T.IntegerType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("approx_dist2", T.DoubleType()),
        ]
    )
    scored = codes.mapInPandas(score, schema=schema)
    order = [F.col("approx_dist2").asc(), F.col(id_col).asc()]
    return (
        _topk(scored, k, order)
        .select("query_id", id_col, "approx_dist2", "rank")
        .orderBy("query_id", "rank")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search over an encoded corpus: per query, an (m, ksub) table
    of exact sub-distances to every sub-centroid is precomputed
    driver-side (KBs) and broadcast; scoring a candidate is then m table
    gathers + a sum — no decode, no d-dim arithmetic.

    Returns (query_id, vec_id, approx_dist2, rank), rank 1..k per query —
    ties broken by vec_id for determinism. Each partition pre-cuts its k
    best per query, so the query-keyed rank window sees at most
    k·|queries|·n_partitions rows.
    """
    return _adc_topk(codes, codebooks, queries, k, id_col)


def _ivf_pq_codes(
    embeddings: DataFrame,
    n_cells: int,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """(centroids, codebooks, codes): IVF cells and PQ codebooks trained
    on ``embeddings``, and its rows encoded with their ``cell`` carried."""
    from . import ivf

    cents = ivf.train_centroids(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    books = train_codebooks(
        embeddings, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
    )
    with_cell = ivf.assign_cells(embeddings, cents, vec_col=vec_col)
    codes = pq_encode(
        with_cell, books, id_col=id_col, vec_col=vec_col, carry_cols=("cell",)
    )
    return cents, books, codes


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN stack — coarse k-means cells prune the
    corpus to ~n_probe/n_cells of its rows per query, PQ/ADC ranks inside
    the probed cells only. At 100 TB the cell id doubles as a physical
    partition key (ivf.build_cell_index), the PQ codes are the only bytes
    scanned, and per-candidate cost is m table gathers + adds.

    Query vectors are corpus rows (query_ids), fetched with one bounded
    prepass; query->probe-cell assignment happens driver-side over the
    KB-sized centroid matrix (cosine, matching IVF's spherical k-means);
    executors capture the (query, probed-cells) map in the UDF closure
    and score a candidate only for queries probing its cell.

    Returns (query_id, vec_id, approx_dist2, rank), rank 1..k per query,
    query_id = position in ``query_ids``.

    Row-count contract: a query yields fewer than k rows iff its probed
    cells hold fewer than k candidates — that is a signal to raise
    ``n_probe`` (or n_cells is oversized for the corpus), not an error.
    The registered driver gate asserts the full k·|Q| count at its scale;
    query_ids absent from the corpus raise immediately (ADVICE r02).
    """
    from .ivf import _nearest_cells

    cents, books, codes = _ivf_pq_codes(
        embeddings, n_cells, m, ksub, id_col, vec_col
    )
    qrows = (
        embeddings.where(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    by_id = {r[id_col]: r[vec_col] for r in qrows}
    absent = [i for i in query_ids if i not in by_id]
    if absent:
        raise ValueError(
            f"query_ids {absent} not found in the corpus ({id_col}); "
            "ivf_pq_topk queries must be corpus rows — fetch external "
            "query vectors with pq_topk instead"
        )
    Q = _vec_stack(by_id[i] for i in query_ids)
    probe = _nearest_cells(Q, cents, n_probe)
    return _adc_topk(codes, books, Q, k, id_col, probe)


def build_ivf_pq_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 16,
    ksub: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Materialize the production ANN index: PQ codes written Hive-
    partitioned by IVF cell — the stored form that makes 100 TB search a
    directory-pruned scan of ~16 bytes/vector. Composes ivf.train/assign
    with pq_encode(carry_cols=("cell",)); returns (centroids, codebooks)
    — KB-sized, persist them next to the index.
    """
    cents, books, codes = _ivf_pq_codes(
        embeddings, n_cells, m, ksub, id_col, vec_col
    )
    (
        codes.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return cents, books


def ivf_pq_query_index(
    spark,
    path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a stored IVF-PQ index: static partition pruning reads ONLY
    the n_probe nearest cells' code files per query set (assert via
    plans.partition_filters), then ADC-ranks the candidates. The scan
    touches m bytes/candidate in the probed cells — nothing else.

    Full-probe (n_probe = n_cells) is row-for-row identical to in-memory
    pq_topk over the same codes/books: storage round-trip and pruning
    change WHICH candidates are scored, never their scores.
    """
    from .ivf import _nearest_cells

    probe = _nearest_cells(np.asarray(queries, dtype=np.float64), centroids, n_probe)
    all_cells = sorted({int(c) for row in probe for c in row})
    codes = spark.read.parquet(path).where(F.col("cell").isin(all_cells))
    return _adc_topk(codes, codebooks, queries, k, id_col, probe)


def append_ivf_pq_index(
    spark,
    path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental ANN index maintenance: encode ONLY the arriving
    vectors with the frozen centroids/codebooks and append their code
    rows to the cell-partitioned store — the daily-ingest path that
    never retrains or rewrites history (periodic retraining is a
    separate offline job; until then new vectors quantize into the
    existing geometry, exactly like every production IVF deployment).

    Cost scales with the increment: one Arrow encode pass + an append
    write of the touched cell partitions. Returns the number of rows
    appended. The append path is bit-identical to having encoded the
    union in one shot with the same (centroids, codebooks) — pinned by
    the registered gate and tests.
    """
    from . import ivf

    with_cell = ivf.assign_cells(new_vecs, centroids, vec_col=vec_col)
    codes = pq_encode(
        with_cell, codebooks, id_col=id_col, vec_col=vec_col, carry_cols=("cell",)
    )
    n = codes.count()
    if n:
        (
            codes.repartition(F.col("cell"))
            .write.mode("append")
            .partitionBy("cell")
            .parquet(path)
        )
    return n
