"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k — broadcast the (small) query set,
  JVM-side zip_with/aggregate dot products, per-query window top-k. The
  baseline and the correctness oracle.
- `lsh_cosine_buckets` / `lsh_cosine_topk`: random-hyperplane LSH — the
  scale path. Hyperplanes are deterministic ±1 sign patterns from an
  engine-portable integer hash (hashing.plane_sign; no RNG state), and
  projections are int64 dots over 1e6-quantized components — signatures
  are reproducible across runs AND replayable exactly by the DuckDB
  oracle. ``bands`` independent plane sets are OR'd for recall
  amplification. Candidates come only from matching buckets, then exact
  re-rank — at 100 TB this turns an O(N·Q) scan into bucket lookups.

Every operator here, in ivf.py, pq.py and dedup.py builds on one kernel
per vector primitive:

- ``cosine4`` (Column) / ``round4`` (numpy): cosine rounded to 4
  decimals under ONE rule — half away from zero on the scaled binary
  value, ``s·1e4 >= 0 ? floor(s·1e4 + 0.5) : ceil(s·1e4 - 0.5)``, the
  rule DuckDB's ``round`` applies. Spark's own ``round`` rounds the
  double's shortest decimal form instead (0.70715 → 0.7072 there, 0.7071
  here), so no operator calls it on a similarity. ``_dot`` builds the
  dot products as Column expressions, never SQL text, so any column
  name works.
- ``_vec_stack`` / ``_cosine_matrix``: the float64 vector stack and the
  ``(A·Bᵀ) / (|A|·|B|)`` cosine matrix of every Arrow-batched GEMM path.
- ``_topk``: the per-query ``row_number`` cut; ``_rerank``: cosine4
  scoring + ``_topk`` over a candidate frame (exact, LSH and IVF paths);
  ``_gemm_topk``: the broadcast-queries GEMM block (``cosine_topk_gemm``,
  ``hard_negatives``).
- ``_srp_projections`` / ``_srp_pack``: int64 SRP plane dots and their
  per-band sign-bit buckets, for corpus UDFs and driver-side queries.
- ``_bucket_occupancy``: the per-key bucket statistics of
  ``lsh_bucket_balance``, ``lsh_plane_plan`` and
  ``dedup.minhash_band_balance``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: F.Column, b: F.Column, t: str = "double") -> F.Column:
    """Σ a_i·b_i with both sides cast to ``t``, summed left to right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast(t) * y.cast(t)),
        F.lit(0).cast(t),
        lambda acc, v: acc + v,
    )


def cosine4(a: F.Column, b: F.Column) -> F.Column:
    """Cosine of two array columns, rounded to 4 decimals half away from
    zero on the scaled binary value (the ``round4`` rule)."""
    s = _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))) * 1e4
    return F.when(s >= 0, F.floor(s + 0.5)).otherwise(F.ceil(s - 0.5)) / 1e4


def round4_units(x: np.ndarray) -> np.ndarray:
    """x·1e4 rounded half away from zero, as int64 (1e-4 units)."""
    s = x * 1e4
    return np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5)).astype(np.int64)


def round4(x: np.ndarray) -> np.ndarray:
    """numpy twin of ``cosine4``'s rounding: x to 4 decimals."""
    return round4_units(x) / 1e4


def _vec_stack(vecs) -> np.ndarray:
    """(n, dim) float64 matrix from a sequence of vectors ((0, 0) if
    there are none)."""
    rows = [np.asarray(v, dtype=np.float64) for v in vecs]
    return np.array(rows) if rows else np.zeros((0, 0))


def _cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a), len(b)) cosines: one GEMM divided by the norm products."""
    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    return (a @ b.T) / (na[:, None] * nb[None, :])


def _cosine_order() -> list[F.Column]:
    """The ranking rule of every cosine top-k: similarity descending,
    ties to the lower neighbor id."""
    return [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()]


def _topk(scored: DataFrame, k: int, order: list) -> DataFrame:
    """The first k rows of each query_id under ``order``: (query_id, rank,
    the other columns), sorted by query_id and rank."""
    w = Window.partitionBy("query_id").orderBy(*order)
    rest = [c for c in scored.columns if c != "query_id"]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", *rest)
        .orderBy("query_id", "rank")
    )


def _query_vectors(
    embeddings: DataFrame, query_ids: list[int], id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, q_vec) rows of the query ids."""
    return embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )


def _rerank(cand: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact re-rank of candidate rows (query_id, id_col, vec_col, q_vec):
    cosine4 score, first k per query by similarity then neighbor id."""
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine4(F.col(vec_col), F.col("q_vec")).alias("cosine_sim"),
    )
    return _topk(scored, k, _cosine_order())


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Similarity is rounded to 4 decimals BEFORE ranking so that ranking is
    stable across engines; ties break on neighbor id.
    """
    q = _query_vectors(embeddings, query_ids, id_col, vec_col)
    cand = embeddings.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col("query_id")
    )
    return _rerank(cand, k, id_col, vec_col)


def _gemm_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Broadcast-queries GEMM top-k: the query rows are collected and
    broadcast once; each partition scores its rows with one
    ``_cosine_matrix`` and emits only its local top-k per query, so the
    final ``_topk`` window sees n_partitions·k·|Q| rows. With
    ``label_col`` a candidate must carry a label different from the
    query's, and its label is emitted as ``neighbor_label``."""
    from ..plans import ensure_parallelism

    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(*cols).toPandas()
    bc = embeddings.sparkSession.sparkContext.broadcast(
        (
            q[id_col].to_numpy(),
            _vec_stack(q[vec_col]),
            q[label_col].to_numpy() if label_col else None,
        )
    )

    def block(it):
        qi, qm, ql = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            labels = pdf[label_col].to_numpy() if label_col else None
            sims = round4(_cosine_matrix(_vec_stack(pdf[vec_col]), qm))
            picks, owners = [], []
            for j in range(len(qi)):
                mask = ids != qi[j]
                if label_col:
                    mask &= labels != ql[j]
                rows = np.flatnonzero(mask)
                picks.append(rows[np.lexsort((ids[rows], -sims[rows, j]))[:k]])
                owners.append(np.full(len(picks[-1]), j))
            top, j = np.concatenate(picks), np.concatenate(owners)
            out = {"query_id": qi[j], "neighbor_id": ids[top]}
            if label_col:
                out["neighbor_label"] = labels[top]
            out["cosine_sim"] = sims[top, j]
            yield pd.DataFrame(out)

    schema = "query_id long, neighbor_id long, " + (
        "neighbor_label int, " if label_col else ""
    ) + "cosine_sim double"
    local = ensure_parallelism(embeddings.select(*cols)).mapInPandas(
        block, schema=schema
    )
    return _topk(local, k, _cosine_order())


def cosine_topk_gemm(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact batch-query top-k via Arrow-batched numpy GEMM.

    Same semantics as ``cosine_topk`` but the scoring path is one matrix
    multiply per partition instead of |Q| interpreted higher-order-function
    dot products per row — measured ~150× faster per pair, the difference
    that matters when |Q| is tens-to-thousands. The query matrix (|Q| rows)
    is collected and broadcast once; each partition emits only its local
    top-k per query (k·|Q| rows), so the final global re-rank window sees
    n_partitions·k·|Q| rows — driver-scale regardless of corpus size.

    Similarity is rounded to 4 decimals BEFORE ranking with ``round4``
    (the rule of ``cosine4``), ties break on neighbor id — identical
    ordering rules to ``cosine_topk``.
    """
    return _gemm_topk(embeddings, query_ids, k, id_col, vec_col)


def _srp_projections(vecs: np.ndarray, n_total: int) -> np.ndarray:
    """(n, n_total) int64 dots of floor(v·1e6) with the first ``n_total``
    ±1 planes (hashing.plane_sign_matrix): pure integer arithmetic, so
    independent of summation order and bit-identical in the DuckDB
    oracle."""
    from .hashing import plane_sign_matrix

    q = np.floor(vecs * 1e6).astype(np.int64)
    return q @ plane_sign_matrix(n_total, q.shape[1], 0)


def _srp_pack(dots: np.ndarray, n_planes: int, bands: int) -> np.ndarray:
    """(n, bands) int64 buckets: band b packs the sign bits of plane
    columns [b·n_planes, (b+1)·n_planes), plane j as bit j."""
    bits = (dots > 0).astype(np.int64)
    w = 1 << np.arange(n_planes, dtype=np.int64)
    return np.stack(
        [bits[:, b * n_planes : (b + 1) * n_planes] @ w for b in range(bands)],
        axis=1,
    )


def lsh_cosine_buckets(
    embeddings: DataFrame, n_planes: int = 16, id_col: str = "vec_id",
    vec_col: str = "embedding", bands: int = 1,
) -> DataFrame:
    """(id, vec, band, bucket) rows: ``bands`` independent plane sets of
    ``n_planes`` bits each (band b uses planes [b·n, (b+1)·n)). Candidates
    later match on (band, bucket) — OR-composition across bands, the same
    recall amplification _band_buckets gives MinHash (P[miss] =
    (1-p^n)^bands instead of 1-p^n).

    All bands come from ONE Arrow-batched GEMM over the full
    bands·n_planes plane set (``_srp_projections``), each band's bucket
    packed from its own bit columns (``_srp_pack``) — the same kernel
    ``lsh_plane_plan`` and the multi-probe query side use.
    """
    n = int(n_planes)
    nb = int(bands)

    @F.pandas_udf("array<long>")
    def _band_sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        dots = _srp_projections(_vec_stack(vecs), n * nb)
        return pd.Series(list(_srp_pack(dots, n, nb)))

    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(_band_sigs(F.col(vec_col))).alias("band", "bucket"),
    )


def _lsh_rerank(
    embeddings: DataFrame,
    buckets: DataFrame,
    probes: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact re-rank of the ids sharing any probed (band, bucket) with
    their query (``probes``: query_id, q_band, q_bucket). Candidate ids
    are distinct before the vector fetch, so each is scored once."""
    cand_ids = (
        buckets.select(id_col, "band", "bucket")
        .join(
            F.broadcast(probes),
            (F.col("band") == F.col("q_band"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .select("query_id", id_col)
        .distinct()
    )
    cand = cand_ids.join(embeddings.select(id_col, vec_col), id_col).join(
        F.broadcast(_query_vectors(embeddings, query_ids, id_col, vec_col)),
        "query_id",
    )
    return _rerank(cand, k, id_col, vec_col)


def lsh_cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5,
    n_planes: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
    bands: int = 20,
) -> DataFrame:
    """Approximate top-k: candidates share any band's LSH bucket, exact
    re-rank on the (deduplicated) candidate set.

    Recall tunes with n_planes (fewer planes → bigger buckets → higher
    recall, more compute) and bands (more independent plane sets OR'd →
    recall amplification at proportional candidate cost) — mirroring the
    banded MinHash composition. Defaults (4 planes × 20 bands) pin
    recall@5 ≥ 0.8 vs the exact GEMM baseline in tests — tuned for the
    ISOTROPIC test vectors, whose true top-5 sit at cosine ≈ 0.3 (SRP bit
    agreement ~0.6, the hardest regime). Production embedding spaces put
    near neighbors at cosine ≥ 0.8 (bit agreement ≥ 0.8), where fewer,
    longer signatures (e.g. 8×4) prune far harder at the same recall —
    the knobs are data-dependent by nature.
    """
    b = lsh_cosine_buckets(embeddings, n_planes, id_col, vec_col, bands=bands)
    q = b.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("band").alias("q_band"),
        F.col("bucket").alias("q_bucket"),
    )
    return _lsh_rerank(embeddings, b, q, query_ids, k, id_col, vec_col)


def group_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean embedding per group (centroid / mean-pooling), one row per
    (group, dimension) — class prototypes, cluster seeds, or pooled
    document representations.

    Shape at scale: posexplode fans each vector into dim rows, the sum
    map-side-combines before ONE shuffle on (group, dim) — shuffle volume
    is |groups| x dim partial aggregates per task, never corpus-sized.

    Exactness scheme: each value is quantized at 1e-12 via
    round(v * 1e12) — a correctly-rounded double multiply plus a
    half-away-from-zero integer round, both of which every engine
    computes identically on identical doubles — then summed as EXACT
    decimal(20,0) integers (no overflow below 1e38, vs ~9e6 rows for a
    bigint at this scale). One final double division. The centroid is
    therefore independent of row order, partitioning, and engine (float
    adds are not associative; integer adds are). NOT used: cast to
    decimal(p,12) — engines disagree on double->decimal ties (DuckDB
    double-rounds via a 1e12 multiply; the JVM converts exactly), which
    was measured as 1-ulp sum differences.

    Per-dimension rows rather than an assembled array keep every output
    column scalar (exactly hashable cross-engine); collect with
    array_sort(collect_list(struct(dim, val))) downstream if an array
    form is needed.
    """
    ex = embeddings.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    q = F.round(F.col("v").cast("double") * F.lit(1e12)).cast("decimal(20,0)")
    return (
        ex.groupBy(group_col, "dim")
        .agg(
            (
                F.sum(q).cast("double")
                / (F.count("*").cast("double") * F.lit(1e12))
            ).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
        .orderBy(group_col, "dim")
    )


def dim_stats(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension embedding health statistics: count, mean, std, min,
    max for every vector dimension. The standard embedding-space
    diagnostic — collapsed dimensions (std ~ 0), dead dimensions
    (min = max = 0) and scale outliers show up immediately, and the table
    is what a whitening / re-normalization step consumes.

    Exactness scheme: values are quantized at 1e-6 (round(v * 1e6) into
    decimal integers); sums and sums-of-squares over the quantized values
    are then EXACT integer arithmetic — independent of row order,
    partitioning, and engine — and mean/std are derived with one fixed
    double expression shape:  std = sqrt((sq - s*s/n) / n) / 1e6.
    sqrt and divide are correctly rounded, so the doubles match
    bit-for-bit cross-engine. Stats are over the quantized values (1e-6
    is far below any embedding noise floor — documented contract).
    Overflow: |q| <= ~1e7 (|v| <= 10), q^2 <= 1e14, decimal(38) holds
    1e9-row sums with 1e14-per-row headroom to spare.

    Scale shape: posexplode fans vectors into dim rows; ONE shuffle on
    dim with map-side partial aggregation (sum/min/max all combine), and
    the output is |dim| rows regardless of corpus size.
    """
    ex = embeddings.select(F.posexplode(F.col(vec_col)).alias("dim", "v"))
    q = F.round(F.col("v").cast("double") * F.lit(1e6)).cast("decimal(18,0)")
    agg = ex.groupBy("dim").agg(
        F.count("*").alias("n_vectors"),
        F.sum(q).alias("__s"),
        F.sum(q * q).alias("__sq"),
        F.min(F.col("v").cast("double")).alias("min_val"),
        F.max(F.col("v").cast("double")).alias("max_val"),
    )
    n = F.col("n_vectors").cast("double")
    s = F.col("__s").cast("double")
    sq = F.col("__sq").cast("double")
    return agg.select(
        "dim",
        "n_vectors",
        (s / (n * F.lit(1e6))).alias("mean_val"),
        (
            F.sqrt((sq - s * s / n) / n) / F.lit(1e6)
        ).alias("std_val"),
        "min_val",
        "max_val",
    ).orderBy("dim")


def label_outliers(
    embeddings: DataFrame,
    k: int = 20,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Mislabel / outlier detection: distance of every vector to its own
    label centroid, top-k farthest — the standard label-noise audit (a
    vector far from its class prototype is a candidate mislabel).

    Exactness: centroids and vector components are re-quantized at 1e-6
    (label_affinity's scheme); squared distances are then EXACT integer
    sums — engine- and order-independent — and the final distance is one
    sqrt/divide on doubles. Top-k is TakeOrdered with id tie-break.

    Scale shape: the centroid table is |labels| x dim rows (KBs),
    broadcast to the posexplode stream; ONE corpus shuffle (the per-
    vector distance groupBy), output k rows.
    """
    cent = group_centroids(embeddings, group_col=group_col, vec_col=vec_col)
    qc = F.round(F.col("centroid_val") * F.lit(1e6)).cast("decimal(18,0)")
    cq = cent.select(
        F.col(group_col).alias("c_g"), F.col("dim").alias("c_dim"),
        qc.alias("qc"),
    )
    ex = embeddings.select(
        id_col, group_col, F.posexplode(F.col(vec_col)).alias("dim", "v")
    )
    qv = F.round(F.col("v").cast("double") * F.lit(1e6)).cast("decimal(18,0)")
    d = F.col("qv") - F.col("qc")
    return (
        ex.select(id_col, group_col, "dim", qv.alias("qv"))
        .join(
            F.broadcast(cq),
            (F.col(group_col) == F.col("c_g")) & (F.col("dim") == F.col("c_dim")),
        )
        .groupBy(id_col, group_col)
        .agg(F.sum(d * d).alias("__d2"))
        .select(
            id_col,
            group_col,
            (F.sqrt(F.col("__d2").cast("double")) / F.lit(1e6)).alias(
                "centroid_dist"
            ),
        )
        .orderBy(F.col("centroid_dist").desc(), F.col(id_col).asc())
        .limit(k)
    )


def label_affinity(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine similarity between every pair of group centroids — the
    class-confusability / cluster-separation matrix (upper triangle,
    label_a < label_b).

    Exactness: centroid values (already engine-exact, see
    ``group_centroids``) are re-quantized at 1e-6 into decimal integers;
    dot products and squared norms are then EXACT decimal sums —
    independent of row order and engine — and the final similarity is
    dot / (sqrt(na)·sqrt(nb)) on doubles, all correctly-rounded ops.
    Magnitudes: |q| <= ~1e6, squares <= 1e12, 64-dim sums <= ~6.4e13 —
    exactly representable as double after the cast (< 2^53).

    Scale shape: the centroid table is |groups| x dim rows — KB-sized for
    any real label set — so the dim-keyed self-join and the two norm
    lookups are broadcast joins; nothing here ever touches corpus-sized
    data (the one big shuffle lives inside group_centroids).
    """
    cent = group_centroids(embeddings, group_col=group_col, vec_col=vec_col)
    q = F.round(F.col("centroid_val") * F.lit(1e6)).cast("decimal(18,0)")
    cq = cent.select(F.col(group_col).alias("g"), "dim", q.alias("q"))
    norms = cq.groupBy("g").agg(F.sum(F.col("q") * F.col("q")).alias("norm2"))
    a = cq.select(F.col("g").alias("label_a"), "dim", F.col("q").alias("qa"))
    b = cq.select(
        F.col("g").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("q").alias("qb"),
    )
    dots = (
        a.join(F.broadcast(b), (F.col("dim") == F.col("dim_b")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    na = norms.select(F.col("g").alias("n_a"), F.col("norm2").alias("norm2_a"))
    nb = norms.select(F.col("g").alias("n_b"), F.col("norm2").alias("norm2_b"))
    sim = F.col("dot").cast("double") / (
        F.sqrt(F.col("norm2_a").cast("double"))
        * F.sqrt(F.col("norm2_b").cast("double"))
    )
    return (
        dots.join(F.broadcast(na), F.col("label_a") == F.col("n_a"))
        .join(F.broadcast(nb), F.col("label_b") == F.col("n_b"))
        .select("label_a", "label_b", sim.alias("centroid_cosine"))
        .orderBy("label_a", "label_b")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the k
    most-similar vectors with a DIFFERENT label — the negatives that
    actually teach the margin (random negatives are trivially far).

    Same GEMM block and ranking rules as cosine_topk_gemm (``_gemm_topk``:
    one matmul per partition, per-partition top-k, driver-scale
    re-rank), plus a label-inequality mask applied before the local cut.
    Rounded to 4 decimals before ranking — exactly SQL-replayable.
    """
    return _gemm_topk(embeddings, query_ids, k, id_col, vec_col, label_col)


def lsh_cosine_topk_multiprobe(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 20,
    n_flip: int = 1,
) -> DataFrame:
    """Multi-probe variant of lsh_cosine_topk: each query also probes the
    buckets reached by flipping its ``n_flip`` lowest-margin sign bits
    per band (the planes whose dot product is closest to zero — exactly
    the bits most likely to disagree for a true near neighbor). Extra
    recall comes from MORE PROBES on the query side only; the corpus
    keeps one bucket row per band, so index size and build cost are
    unchanged (the standard multi-probe trade — Lv et al. 2007).

    Probe buckets are derived driver-side from the |Q|-row query matrix
    by the corpus UDF's own kernel (``_srp_projections`` + ``_srp_pack``,
    so base buckets agree bit-for-bit) and broadcast; the candidate join
    stays a (band, bucket) equi-join. Flip choice breaks margin ties
    toward the lowest plane index — deterministic and SQL-replayable.
    """
    q = (
        embeddings.where(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .toPandas()
    )
    n = int(n_planes)
    dots = _srp_projections(_vec_stack(q[vec_col]), n * bands)
    buckets = _srp_pack(dots, n, bands)
    probe_rows = []
    for i, qid in enumerate(q[id_col]):
        for b in range(bands):
            bucket = int(buckets[i, b])
            probe_rows.append((int(qid), b, bucket))
            margins = np.abs(dots[i, b * n : (b + 1) * n])
            for j in np.lexsort((np.arange(n), margins))[:n_flip]:
                probe_rows.append((int(qid), b, bucket ^ (1 << int(j))))
    probes = embeddings.sparkSession.createDataFrame(
        probe_rows, "query_id long, q_band int, q_bucket long"
    ).distinct()
    b = lsh_cosine_buckets(embeddings, n_planes, id_col, vec_col, bands=bands)
    return _lsh_rerank(embeddings, b, probes, query_ids, k, id_col, vec_col)


def ann_recall_eval(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN quality evaluation as a first-class operator: run the banded
    LSH top-k AND the exact GEMM top-k over the same queries and emit
    per-query hit counts + recall@k — the continuous-monitoring signal
    an ANN deployment ships next to its index (recall silently decays as
    the data distribution drifts away from the index's tuning; this is
    the detector). Integer hits and one exact division — engine-exact,
    so the whole evaluation is SQL-replayable.
    """
    exact = cosine_topk_gemm(embeddings, query_ids, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = lsh_cosine_topk(embeddings, query_ids, k, id_col=id_col,
                             vec_col=vec_col).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    hits = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("a_nid").alias("n_hits"),
        )
    )
    return (
        hits.select(
            "query_id",
            "n_exact",
            "n_hits",
            (
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def lsh_bucket_balance(
    embeddings: DataFrame,
    n_planes: int = 8,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH index-health monitor: per-band bucket occupancy statistics —
    the operator that tells you when to grow ``n_planes``. Every
    bucketed operator in this engine (lsh_cosine_topk, margin_pairs_lsh,
    embedding_cosine_dups) documents "n_planes must grow with corpus
    size to hold candidate counts flat"; this emits the number that
    rule protects: ``cand_pairs`` = Σ_buckets c·(c-1)/2 per band, the
    exact pair volume the bucket equi-join will produce. Alert when
    cand_pairs grows superlinearly in corpus size or ``imbalance_ppm``
    (max bucket over mean bucket, ppm) spikes — both mean buckets are
    too coarse (or the embedding distribution collapsed; cross-check
    embedding_health).

    One bucket pass (the same integer SRP signatures as the operators it
    monitors — what you measure is literally what they join on) and a
    two-level aggregation (``_bucket_occupancy``, whose exact
    ``imbalance_ppm`` identity ``minhash_band_balance`` and
    ``lsh_plane_plan`` share); everything integer, replayed exactly by
    the DuckDB oracle.
    """
    per_bucket = (
        lsh_cosine_buckets(embeddings, n_planes, id_col, vec_col, bands=bands)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("c"))
    )
    return _bucket_occupancy(per_bucket, ["band"]).orderBy("band")


def _bucket_occupancy(per_bucket: DataFrame, keys: list[str]) -> DataFrame:
    """Per-``keys`` occupancy of bucket row counts ``c`` (one row per
    bucket): n_rows, n_buckets, max_bucket_rows, cand_pairs = Σ c·(c-1)/2
    and imbalance_ppm = floor(max·n_buckets·1e6 / n_rows), exact via the
    two-term divide-first identity (q·nb + (r·nb) div n with q, r =
    divmod(max·1e6, n_rows)) — BIGINT-safe to ~9.2e12 rows per key (first
    term) and n_rows·n_buckets ≈ 9.2e18 (correction term), where the
    naive max·nb·1e6 form wraps at a few million rows."""
    return (
        per_bucket.groupBy(*keys)
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_buckets"),
            F.max("c").cast("long").alias("max_bucket_rows"),
            F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("cand_pairs"),
        )
        .withColumn(
            "imbalance_ppm",
            F.expr(
                "(max_bucket_rows * 1000000 div n_rows) * n_buckets + ((max_bucket_rows * 1000000 % n_rows) * n_buckets) div n_rows"
            ).cast("long"),
        )
    )


def matryoshka_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dims: tuple[int, ...] = (32, 16),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022): recall@k
    of cosine top-k computed on PREFIX-truncated embeddings versus the
    full-dimension exact top-k — the table that tells you how many dims
    you can drop from the stored index (2–4× memory/IO at 100 TB) before
    retrieval quality degrades. One row per (trunc_dims, query).

    Scale shape: the full-dim reference runs once (persisted, driver-
    scale k·|Q| rows); each truncation is the same per-partition GEMM
    top-k (cosine_topk_gemm) over a narrower matrix — slicing happens
    before the Arrow transfer so the truncated runs move d'/d of the
    bytes. Integer hit counts + one exact division — SQL-replayable.
    """
    from ..plans.scratch import scratch_persist

    full = scratch_persist(
        cosine_topk_gemm(embeddings, query_ids, k, id_col, vec_col).select(
            "query_id", "neighbor_id"
        )
    )
    outs = []
    for d in dims:
        trunc = embeddings.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        t = cosine_topk_gemm(trunc, query_ids, k, id_col, vec_col).select(
            F.col("query_id").alias("t_qid"),
            F.col("neighbor_id").alias("t_nid"),
        )
        outs.append(
            full.join(
                t,
                (F.col("query_id") == F.col("t_qid"))
                & (F.col("neighbor_id") == F.col("t_nid")),
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count("*").alias("n_exact"),
                F.count("t_nid").alias("n_hits"),
            )
            .select(F.lit(d).alias("trunc_dims"), "query_id", "n_exact", "n_hits")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return (
        res.withColumn(
            "recall_at_k",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
        .orderBy(F.col("trunc_dims").desc(), "query_id")
    )


MARGIN_BROADCAST_CAP = 2_000_000


def margin_pairs(
    embeddings: DataFrame,
    label_a: int = 0,
    label_b: int = 1,
    k: int = 4,
    threshold_u: int = 1_020_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Margin-based cross-group pair mining (bitext-mining style,
    cf. the ratio-margin criterion of LASER/CCMatrix): for each vector x
    in group ``label_a``, its best match y in group ``label_b`` scored by

        margin(x, y) = 2 * cos(x, y) / (avg_topk_B(x) + avg_topk_A(y))

    — cosine normalized by the mean of each side's k nearest cosines, so
    a pair only survives when it stands OUT of both neighborhoods (a hub
    vector that is near everything scores ~1 and is dropped). Output is
    one row per a-vector whose best pair clears ``threshold_u``
    (margin in integer micro-units), with a ``mutual`` flag set when the
    pair is also y's best a.

    Scale shape: group B is collected and broadcast once (hard cap
    ``MARGIN_BROADCAST_CAP``, mirroring dedup.embedding_dedup's exact
    mode — beyond that, block B or pre-bucket with the LSH path); one
    Arrow-batched GEMM pass over A computes, per partition, each a-row's
    GLOBAL top-k over B (full B visible) plus each b-column's LOCAL
    top-k partial — so the only shuffle after the scan carries
    O(k · (|A| + n_partitions · |B|)) id/score rows, never the |A|·|B|
    similarity matrix. Backward top-k combines partials with one window.

    Numeric discipline: cosines are rounded half-away-from-zero to 4
    decimals and carried as BIGINT micro-units; the margin is pure
    integer arithmetic (2·k·cos_u·1e6 div (sum_a + sum_b)) — every
    surviving value is bit-exact replayable in the DuckDB oracle.
    """
    from ..plans import ensure_parallelism

    spark = embeddings.sparkSession
    b = (
        embeddings.where(F.col(label_col) == label_b)
        .select(id_col, vec_col)
        .toPandas()
    )
    if len(b) > MARGIN_BROADCAST_CAP:
        raise ValueError(
            f"margin_pairs exact mode broadcasts group B ({len(b)} rows > "
            f"cap {MARGIN_BROADCAST_CAP}); block B or pre-bucket with "
            "lsh_cosine_buckets before pairing"
        )
    if len(b) < k:
        raise ValueError(f"group B has {len(b)} rows < k={k}")
    bc = spark.sparkContext.broadcast(
        (b[id_col].to_numpy(), _vec_stack(b[vec_col]))
    )

    def block(it):
        bi, bm = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cos_u = round4_units(_cosine_matrix(_vec_stack(pdf[vec_col]), bm))
            d, ai, bj, cu = [], [], [], []
            for i in range(len(ids)):  # forward: global top-k (full B here)
                top = np.lexsort((bi, -cos_u[i]))[:k]
                d.extend("f" * len(top))
                ai.extend([ids[i]] * len(top))
                bj.extend(bi[top])
                cu.extend(cos_u[i][top])
            for j in range(len(bi)):  # backward: partition-local partial
                top = np.lexsort((ids, -cos_u[:, j]))[:k]
                d.extend("b" * len(top))
                ai.extend(ids[top])
                bj.extend([bi[j]] * len(top))
                cu.extend(cos_u[top, j])
            yield pd.DataFrame(
                {"dir": d, "a_id": ai, "b_id": bj, "cos_u": cu}
            )

    a_side = ensure_parallelism(
        embeddings.where(F.col(label_col) == label_a).select(id_col, vec_col)
    )
    # the partial table feeds four downstream branches (forward ranks,
    # forward sums, backward ranks, backward sums) — persist it or the
    # Arrow GEMM pass re-runs per branch (measured 1.6s -> ~0.9s at
    # sf0.1). k-bounded rows: k·(|A| + n_partitions·|B|) ids, never the
    # similarity matrix.
    from ..plans.scratch import scratch_persist

    parts = scratch_persist(
        a_side.mapInPandas(
            block, schema="dir string, a_id long, b_id long, cos_u long"
        )
    )
    # Forward side needs NO window at all: the UDF already emitted each
    # a-row's global top-k, so sa = plain sum and the best pair is a
    # min_by under the (cos_u desc, b_id asc) tie rule — one aggregation
    # replaces the rank window + the rank-1/sum branch join (r14 opt).
    fstats = (
        parts.where("dir = 'f'")
        .groupBy("a_id")
        .agg(
            F.sum("cos_u").alias("sa"),
            F.min_by(
                F.struct("b_id", "cos_u"),
                F.struct((-F.col("cos_u")).alias("nc"), F.col("b_id")),
            ).alias("__best"),
        )
        .select(
            "a_id",
            F.col("__best.b_id").alias("b_id"),
            F.col("__best.cos_u").alias("cos_u"),
            "sa",
        )
    )
    # Backward side still needs the window (partition-local partials
    # must combine to a global top-k first), but runs it ONCE: sum and
    # best-a come from one aggregation over the top-k rows instead of
    # two branches re-running the window.
    wb = Window.partitionBy("b_id").orderBy(
        F.col("cos_u").desc(), F.col("a_id").asc()
    )
    bstats = (
        parts.where("dir = 'b'")
        .withColumn("r", F.row_number().over(wb))
        .where(F.col("r") <= k)
        .groupBy("b_id")
        .agg(
            F.sum("cos_u").alias("sb"),
            F.min_by(
                F.col("a_id"),
                F.struct((-F.col("cos_u")).alias("nc"), F.col("a_id")),
            ).alias("best_a"),
        )
    )
    return (
        fstats.join(F.broadcast(bstats), "b_id")
        .where(F.col("sa") + F.col("sb") > 0)
        .withColumn(
            "margin_u", F.expr(f"(2 * {k} * cos_u * 1000000) div (sa + sb)")
        )
        .where(F.col("margin_u") >= threshold_u)
        .select(
            "a_id", "b_id", "cos_u", "margin_u",
            (F.col("best_a") == F.col("a_id")).alias("mutual"),
        )
        .orderBy("a_id")
    )


def _quantized_vectors(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, [extra...], q, nq): 1e6-quantized int64 components + integer
    self-dot norm; zero-norm vectors excluded (no cosine neighborhood).
    THE shared quantization for every bit-exact integer-cosine operator
    (margin_pairs_lsh, knn_graph) — one definition so the DuckDB replay
    contract can never drift between them."""
    q_expr = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * 1000000).cast("long")
    )
    return (
        embeddings.withColumn("q", q_expr)
        .withColumn("nq", _dot(F.col("q"), F.col("q"), "long"))
        .where(F.col("nq") > 0)
        .select(id_col, *extra_cols, "q", "nq")
    )


def _int_gemm_scored(cand: DataFrame, qa: DataFrame, qb: DataFrame) -> DataFrame:
    """Score (a_id, b_id) candidates to integer cosine units in ONE
    Arrow-batched pass: exact order-independent int64 dots, per-op IEEE
    sqrt/div, ``round4_units`` rounding to 1e-4 units —
    the shared kernel whose every step is replayed in the oracles.
    Result is scratch-persisted (both ranking directions read it).

    The id output type is derived from ``cand``'s schema (long doc ids
    and string vec_ids both work — same contract connected_components
    provides) rather than hardcoded long."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..plans import ensure_parallelism
    from ..plans.scratch import scratch_persist

    out_schema = StructType(
        [
            StructField("a_id", cand.schema["a_id"].dataType, True),
            StructField("b_id", cand.schema["b_id"].dataType, True),
            StructField("cos_u", LongType(), True),
        ]
    )

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            A = np.array(pdf["qa"].tolist(), dtype=np.int64)
            B = np.array(pdf["qb"].tolist(), dtype=np.int64)
            dab = (A * B).sum(axis=1)  # int64: exact, order-independent
            naa = pdf["naa"].to_numpy(dtype=np.int64)
            nbb = pdf["nbb"].to_numpy(dtype=np.int64)
            c = dab.astype(np.float64) / (
                np.sqrt(naa.astype(np.float64))
                * np.sqrt(nbb.astype(np.float64))
            )
            yield pd.DataFrame(
                {
                    "a_id": pdf["a_id"].to_numpy(),
                    "b_id": pdf["b_id"].to_numpy(),
                    "cos_u": round4_units(c),
                }
            )

    return scratch_persist(
        ensure_parallelism(cand.join(qa, "a_id").join(qb, "b_id"))
        .mapInPandas(score, schema=out_schema)
    )


def margin_pairs_lsh(
    embeddings: DataFrame,
    label_a: int = 0,
    label_b: int = 1,
    k: int = 4,
    threshold_u: int = 1_020_000,
    n_planes: int = 8,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Margin-based cross-group pair mining, LSH-bucketed — the 100 TB
    scale mode of ``margin_pairs``: instead of broadcasting group B
    (capped at MARGIN_BROADCAST_CAP rows in the exact mode), both groups
    are pre-bucketed with ``lsh_cosine_buckets`` and only pairs sharing a
    (band, bucket) are scored. No broadcast of B, no |A|·|B| matrix: the
    pairing is a plain (band, bucket) equi-join over slim id rows, then
    one Arrow-batched pass scores the distinct candidate set.

    Semantics differ from the exact mode in exactly two documented ways:
    (1) neighborhood sums run over each side's CANDIDATE top-k (<= k
    rows; the ratio margin generalizes to
    ``2·ca·cb·cos_u·1e6 div (cb·sa + ca·sb)``, which reduces to the exact
    formula when ca = cb = k), and (2) cosines are computed over
    1e6-quantized components — int64 dots are order-independent and the
    remaining per-op IEEE float steps (sqrt, mul, div, round) are
    correctly rounded in both engines, so every emitted value is
    bit-exact replayable in the DuckDB oracle with NO rounding-boundary
    hazard (the exact mode's GEMM relies on round-to-4 absorbing
    summation-order ulps). Zero-norm vectors are excluded (a dead vector
    has no cosine neighborhood); best-matches at cos_u <= 0 are dropped
    before the margin (never pairs semantically, and keeps the integer
    division on positive operands where Spark ``div`` and DuckDB ``//``
    agree).

    Scale shape: bucket width tunes with ``n_planes`` (buckets per band =
    2^n_planes — grow it logarithmically with corpus size to hold
    candidate counts flat) and recall with ``bands`` (OR-composition).
    Shuffles: one per bucket join + one per vector fetch + the two
    top-k windows — all keyed, all AQE-skew-splittable; nothing is
    collected to the driver.
    """
    from ..plans import ensure_parallelism
    from ..plans.scratch import scratch_persist

    both = embeddings.where(
        F.col(label_col).isin([label_a, label_b])
    ).select(id_col, vec_col, label_col)
    quant = _quantized_vectors(both, id_col, vec_col, extra_cols=(label_col,))
    qa = quant.where(F.col(label_col) == label_a).select(
        F.col(id_col).alias("a_id"), F.col("q").alias("qa"),
        F.col("nq").alias("naa"),
    )
    qb = quant.where(F.col(label_col) == label_b).select(
        F.col(id_col).alias("b_id"), F.col("q").alias("qb"),
        F.col("nq").alias("nbb"),
    )
    # banded SRP buckets per side; candidates = any shared (band, bucket)
    buck_a = lsh_cosine_buckets(
        embeddings.where(F.col(label_col) == label_a), n_planes,
        id_col, vec_col, bands=bands,
    ).select(F.col(id_col).alias("a_id"), "band", "bucket")
    buck_b = lsh_cosine_buckets(
        embeddings.where(F.col(label_col) == label_b), n_planes,
        id_col, vec_col, bands=bands,
    ).select(F.col(id_col).alias("b_id"), "band", "bucket")
    cand = (
        buck_a.join(buck_b, ["band", "bucket"])
        .select("a_id", "b_id")
        .distinct()
    )
    scored = _int_gemm_scored(cand, qa, qb)
    # Each side's rank window runs ONCE: top-k sum/count and the rank-1
    # row come from a single aggregation over the windowed rows
    # (min_by under the same (cos_u desc, id asc) tie rule), replacing
    # the two-branch-per-side shape whose four consumers re-ran the
    # windows and needed three joins to reassemble (r14 opt).
    wa = Window.partitionBy("a_id").orderBy(
        F.col("cos_u").desc(), F.col("b_id").asc()
    )
    wb = Window.partitionBy("b_id").orderBy(
        F.col("cos_u").desc(), F.col("a_id").asc()
    )
    a_stats = (
        scored.withColumn("r", F.row_number().over(wa))
        .where(F.col("r") <= k)
        .groupBy("a_id")
        .agg(
            F.sum("cos_u").alias("sa"),
            F.count("*").alias("ca"),
            F.min_by(
                F.struct("b_id", "cos_u"),
                F.struct((-F.col("cos_u")).alias("nc"), F.col("b_id")),
            ).alias("__best"),
        )
        .select(
            "a_id",
            F.col("__best.b_id").alias("b_id"),
            F.col("__best.cos_u").alias("cos_u"),
            "sa",
            "ca",
        )
    )
    b_stats = (
        scored.withColumn("r", F.row_number().over(wb))
        .where(F.col("r") <= k)
        .groupBy("b_id")
        .agg(
            F.sum("cos_u").alias("sb"),
            F.count("*").alias("cb"),
            F.min_by(
                F.col("a_id"),
                F.struct((-F.col("cos_u")).alias("nc"), F.col("a_id")),
            ).alias("best_a"),
        )
    )
    return (
        a_stats.where(F.col("cos_u") > 0)
        .join(b_stats, "b_id")
        .where(F.col("cb") * F.col("sa") + F.col("ca") * F.col("sb") > 0)
        .withColumn(
            "margin_u",
            F.expr(
                "(2 * ca * cb * cos_u * 1000000) div (cb * sa + ca * sb)"
            ),
        )
        .where(F.col("margin_u") >= threshold_u)
        .select(
            "a_id", "b_id", "cos_u", "margin_u",
            (F.col("best_a") == F.col("a_id")).alias("mutual"),
        )
        .orderBy("a_id")
    )


SEMANTIC_DEDUP_CELL_TARGET = 100_000  # aim ≤ this many rows per k-means cell


def semantic_dedup_cells(n_rows: int, target: int = SEMANTIC_DEDUP_CELL_TARGET) -> int:
    """Sizing rule for semantic_dedup's k-means cell count: enough cells
    that the average cluster fits one applyInPandas task (~``target``
    rows), floored at 16 so small corpora still get real clustering.
    At 100 TB this is the knob that keeps the per-task GEMM bounded —
    a fixed k means ~n/k-row clusters in ONE task each (the r03 verdict
    trap); k ≈ n/1e5 matches the SemDeDup paper's k≈10⁴⁻⁵ regime."""
    return max(16, -(-n_rows // target))


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse k-means clustering, then WITHIN-cluster
    pairwise cosine — a vector is dropped when some lower-id member of
    its cluster sits above ``threshold`` (low-id-wins is deterministic
    and auditable; the paper keeps the member farthest from the
    centroid, an orthogonal choice). Near-dup semantics without any
    all-pairs corpus compare: k-means confines the O(m²) GEMM to
    cluster-local matrices.

    Output: one row per input vector — (vec_id, cell, keep,
    max_dup_ppm) where max_dup_ppm is the highest cosine (micro-units)
    to any lower-id cluster member, -1 when the vector is the cluster's
    lowest id.

    Scale shape: centroid training is a bounded driver sample
    (ivf.train_centroids), assignment is one Arrow matmul per batch,
    and the dedup pass is applyInPandas grouped by cell — each task
    holds one cluster, and the in-task GEMM is row-blocked (``block``)
    so memory is O(block × |cluster|) not O(|cluster|²). ``n_cells``
    defaults to the ``semantic_dedup_cells`` sizing rule (one count()
    prepass; k ≈ n/1e5 so average clusters stay task-sized — the paper
    runs k≈10⁴⁻⁵); pass an explicit value to skip the prepass. A
    pathological mega-cluster remains the documented skew risk even
    with correct k — raise n_cells further if one hot cell dominates.
    """
    from pyspark.sql import types as T

    from .ivf import _unit_rows, assign_cells, train_centroids

    if n_cells is None:
        n_cells = semantic_dedup_cells(embeddings.count())
    cents = train_centroids(
        embeddings, n_cells, id_col=id_col, vec_col=vec_col
    )
    celled = assign_cells(embeddings, cents, vec_col)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
            T.StructField("max_dup_ppm", T.LongType()),
        ]
    )
    thr = float(threshold)

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        x = _unit_rows(_vec_stack(pdf[vec_col]))
        m = len(pdf)
        best = np.full(m, -1.0)
        for lo in range(1, m, block):
            hi = min(lo + block, m)
            # rows lo..hi against ALL strictly-lower rows (0..hi-1 tri)
            sims = x[lo:hi] @ x[:hi].T
            for r in range(lo, hi):
                best[r] = sims[r - lo, :r].max()
        keep = best < thr
        return pd.DataFrame(
            {
                "vec_id": pdf[id_col].astype("int64"),
                "cell": pdf["cell"].astype("int32"),
                "keep": keep,
                "max_dup_ppm": np.where(
                    best < 0, -1, np.floor(best * 1_000_000)
                ).astype("int64"),
            }
        )

    return (
        celled.select(id_col, vec_col, "cell")
        .groupBy("cell")
        .applyInPandas(dedup_cluster, schema)
        .orderBy("vec_id")
    )


def embedding_health(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus embedding-health monitor — the one-row table a training
    pipeline alerts on: squared-norm mass (dead/exploding vectors) and
    the adjacent-pair cosine profile (representation collapse pushes the
    mean pairwise cosine toward 1; healthy high-dim embeddings sit near
    0). The pair sample is the deterministic adjacent-id stride
    (vec_id, vec_id+1) — unbiased enough for a monitor, reproducible
    everywhere, and NOT an all-pairs scan: at 100 TB the monitor costs
    one pass plus one slim self-join on the id.

    Exactness: components are floor-quantized to milli-units FIRST, so
    dots and norms are pure BIGINT arithmetic; the cosine then divides
    identical integers through single IEEE ops (cast/sqrt/mul/div are
    each correctly rounded), so floor(cos·1e6) is deterministic
    cross-engine — stricter than the round-4 policy the GEMM dedup ops
    use, as befits a monitor that integer-sums its quantities.
    Zero-norm vectors are counted in n_near_zero and excluded from the
    pair profile (cosine undefined).
    """
    from ..plans.scratch import scratch_persist

    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * 1000).cast("long")
    )
    q = scratch_persist(
        embeddings.select(F.col(id_col), qv.alias("qv")).withColumn(
            "qnorm2", _dot(F.col("qv"), F.col("qv"), "long")
        )
    )
    stats = q.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("qnorm2").alias("sum_qnorm2"),
        F.min("qnorm2").alias("min_qnorm2"),
        F.max("qnorm2").alias("max_qnorm2"),
        F.sum((F.col("qnorm2") < 10_000).cast("long")).alias("n_near_zero"),
    )
    a = q.select(
        F.col(id_col).alias("ida"),
        F.col("qv").alias("va"),
        F.col("qnorm2").alias("qa2"),
    )
    b = q.select(
        (F.col(id_col) - 1).alias("ida"),
        F.col("qv").alias("vb"),
        F.col("qnorm2").alias("qb2"),
    )
    cos_u = F.floor(
        _dot(F.col("va"), F.col("vb"), "long").cast("double") * 1000000
        / (F.sqrt(F.col("qa2").cast("double")) * F.sqrt(F.col("qb2").cast("double")))
    ).cast("long")
    pairs = (
        a.join(b, "ida")
        .where((F.col("qa2") > 0) & (F.col("qb2") > 0))
        .select(cos_u.alias("qcos"))
    )
    pstats = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("qcos").alias("sum_qcos"),
        F.min("qcos").alias("min_qcos"),
        F.max("qcos").alias("max_qcos"),
    )
    return stats.crossJoin(pstats)


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed approximate k-NN GRAPH: every vector's top-k cosine
    neighbors among the candidates that share at least one SRP
    (band, bucket) — the all-pairs generalization of lsh_cosine_topk
    (which serves a fixed query set) and the substrate for graph-based
    semantic dedup, label propagation, and diversity sampling over a
    whole corpus. No broadcast, no |N|² matrix: candidate generation is
    the bucket self-join over slim id rows, scoring is one Arrow-batched
    integer-GEMM pass over the distinct DIRECTED candidate set, ranking
    is a per-source-vector window (parallel across vectors).

    Same bit-exact float policy as margin_pairs_lsh: 1e6-quantized int64
    component dots, per-op IEEE sqrt/div, half-away-from-zero rounding
    to 1e-4 cosine units — every row replayable in the DuckDB oracle.
    Zero-norm vectors are excluded (no cosine neighborhood). A vector
    whose buckets hold fewer than k candidates emits fewer than k rows
    (LSH recall, not an error — emb_lsh_balance monitors bucket sizes;
    grow n_planes with corpus size to hold candidates/vector flat).
    """
    return _knn_rows(
        embeddings, k, n_planes, bands, id_col, vec_col
    ).orderBy(id_col, "rank")


def _knn_rows(
    embeddings: DataFrame,
    k: int,
    n_planes: int,
    bands: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """knn_graph's rows WITHOUT the final presentation sort — the form
    internal consumers (mutual-kNN edges) build on, so persisting their
    intermediates never materializes a global sort nobody reads (the
    cluster_quality anti-lesson, r14 optimization round). quant and
    buck each feed BOTH sides of a self-join and Spark does not CSE
    across join sides, so both are scratch-persisted: each is slim
    (ids + 8-byte buckets / ≤dim longs per row — corpus-row-sized, not
    candidate-sized; MEMORY_AND_DISK spills at scale)."""
    from pyspark import StorageLevel

    from ..plans.scratch import scratch_persist

    quant = scratch_persist(
        _quantized_vectors(embeddings, id_col, vec_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    buck = scratch_persist(
        lsh_cosine_buckets(
            embeddings, n_planes, id_col, vec_col, bands=bands
        ).select(id_col, "band", "bucket"),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = buck.select(F.col(id_col).alias("a_id"), "band", "bucket")
    b = buck.select(F.col(id_col).alias("b_id"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    qa = quant.select(
        F.col(id_col).alias("a_id"), F.col("q").alias("qa"), F.col("nq").alias("naa")
    )
    qb = quant.select(
        F.col(id_col).alias("b_id"), F.col("q").alias("qb"), F.col("nq").alias("nbb")
    )
    scored = _int_gemm_scored(cand, qa, qb)
    w = Window.partitionBy("a_id").orderBy(F.col("cos_u").desc(), F.col("b_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("a_id").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("b_id").alias("neighbor_id"),
            "cos_u",
        )
    )


def graph_clusters(
    embeddings: DataFrame,
    k: int = 5,
    min_cos_u: int = 9_000,
    n_planes: int = 8,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic clusters from the MUTUAL k-NN graph: two vectors are
    linked iff EACH appears in the other's LSH top-k at cosine >=
    ``min_cos_u`` (1e-4 units), and clusters are the connected
    components of that symmetric graph — the mutual-kNN clustering used
    for corpus topic discovery and embedding-space dedup review queues.
    Mutuality is the standard hub-suppressor: a hub vector that shows up
    in everyone's top-k only links where the relation is reciprocal, so
    components stay tight instead of collapsing into one giant cluster.

    Composition of two already-exact pieces: knn_graph (SRP buckets +
    integer-quantized cosine) self-joined on reversed (id, neighbor)
    for mutuality, then connected_components (driver union-find fast
    path under the bounded cap, distributed min-label loop above it).
    Every vector appears in the output; non-clustered vectors are
    their own singleton component (component = own id).
    """
    mutual = _mutual_knn_edges(
        embeddings, k, min_cos_u, n_planes, bands, id_col, vec_col
    ).select("doc_a", "doc_b")
    from .dedup import connected_components

    verts = embeddings.select(F.col(id_col))
    return connected_components(mutual, vertices=verts, id_col=id_col)


def _mutual_knn_edges(
    embeddings: DataFrame,
    k: int,
    min_cos_u: int,
    n_planes: int,
    bands: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(doc_a, doc_b, cos_u) mutual-kNN edges with doc_a < doc_b — the
    single definition of mutuality (threshold placement, reciprocity
    join, tie rule) shared by graph_clusters and cluster_quality so the
    two can never drift (code-review r07).

    fwd feeds BOTH sides of the reciprocity join; persisting it pays
    the rank window once instead of twice (edge-sized: ≤ k rows per
    vector after the threshold filter). Built on _knn_rows, not
    knn_graph, so the persist materializes no presentation sort."""
    from ..plans.scratch import scratch_persist

    knn = _knn_rows(embeddings, k, n_planes, bands, id_col, vec_col)
    fwd = scratch_persist(
        knn.where(F.col("cos_u") >= min_cos_u).select(
            id_col, "neighbor_id", "cos_u"
        )
    )
    rev = fwd.select(
        F.col("neighbor_id").alias(id_col),
        F.col(id_col).alias("neighbor_id"),
    )
    return (
        fwd.join(rev, [id_col, "neighbor_id"])
        .where(F.col(id_col) < F.col("neighbor_id"))
        .select(
            F.col(id_col).alias("doc_a"),
            F.col("neighbor_id").alias("doc_b"),
            "cos_u",
        )
    )


def quantize_int8_audit(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar (per-dimension min-max) int8 quantization audit: the
    4x-storage-compression decision table for an embedding column at
    100 TB. For every dimension it fits the affine code
    ``code = floor((v - min) * 255 / (max - min))`` (clamped to 255 at
    v = max) and reports the achieved precision — codes actually used,
    max and mean absolute reconstruction error against the midpoint
    decode ``min + (code + 0.5)·(max - min)/255`` — per dimension, so a
    capacity planner can see which dims survive int8 and which need
    fp16. Constant dimensions (max = min) map to code 0 with zero error.

    Exactness: min/max are exact picks; the affine map is one sub, one
    mul, one div in DOUBLE — the same expression shape in both engines,
    so every code and every floor(err·1e9) nano-unit is identical. One
    posexplode + a dim-keyed agg + a <=dims-row broadcast back: the only
    data-sized shuffle is the per-dim aggregation, map-side combined.
    """
    dims = embeddings.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    ).select(id_col, "dim", F.col("__v").cast("double").alias("v"))
    rng = dims.groupBy("dim").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    coded = (
        dims.join(F.broadcast(rng), "dim")
        .withColumn(
            "code",
            F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
                F.least(
                    F.lit(255),
                    F.floor(
                        (F.col("v") - F.col("vmin"))
                        * F.lit(255.0)
                        / (F.col("vmax") - F.col("vmin"))
                    ).cast("int"),
                )
            ),
        )
        .withColumn(
            "err_nu",
            F.when(F.col("vmax") == F.col("vmin"), F.lit(0).cast("long")).otherwise(
                F.expr(
                    "CAST(floor(abs(vmin + (code + 0.5) * (vmax - vmin) / 255.0"
                    " - v) * 1e9) AS BIGINT)"
                )
            ),
        )
    )
    return (
        coded.groupBy("dim")
        .agg(
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.countDistinct("code").alias("codes_used"),
            F.max("err_nu").alias("max_err_nu"),
            F.expr("sum(err_nu) div count(*)").alias("mean_err_nu"),
        )
        .orderBy("dim")
    )


def snapshot_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-distribution drift between two snapshots (e.g. the same
    corpus re-embedded by a new model version, or this week's ingest vs
    last week's): per group, the squared L2 shift of the centroid and
    the change in mean squared norm — the monitor that catches a
    re-embedding or collapse event before a retrieval index is rebuilt
    on mixed vectors (cross-check embedding_health for within-snapshot
    collapse).

    All-integer exactness scheme (the emb_health/_quantized_vectors
    policy): components quantize at 1e6 via floor(v·1e6) BIGINT; per
    (group, dim) the centroid is sum_q div n in µ-units (both engines
    truncate toward zero); drift is Σ_dim (c_a − c_b)² in µ²-units
    (≤ 64·4e12 — no overflow), mean norms are Σ_dim (Σq² div n). Shape at
    scale: one posexplode + (group, dim) partial-aggregated shuffle per
    snapshot — shuffle volume is |groups|·dims rows, never corpus-sized;
    the final join is on the tiny (group, dim) frame.

    Composition note: the per-dim RAW SUMS (sum_q, ss, n) are ADDITIVE —
    drift_per_dim_sums frames from disjoint row sets merge by plain sum,
    which is what streaming.EmbeddingDriftMonitor exploits; all derived
    quantities (centroids, means) are computed only at assembly time in
    drift_from_sums, so batch and stream can never disagree.
    """
    return drift_from_sums(
        drift_per_dim_sums(emb_a, group_col, vec_col),
        drift_per_dim_sums(emb_b, group_col, vec_col),
        group_col,
    )


def drift_per_dim_sums(
    df: DataFrame, group_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """(group, dim, sum_q, ss, n) raw integer sums of floor-1e6 quantized
    components — the additive (hence streaming-mergeable) core of
    snapshot_drift. Bounded at |groups|·dims rows."""
    ex = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    ).withColumn("q", F.expr("CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)"))
    return ex.groupBy(group_col, "dim").agg(
        F.sum("q").alias("sum_q"),
        F.sum(F.expr("q * q")).alias("ss"),
        F.count("*").alias("n"),
    )


def drift_from_sums(
    sums_a: DataFrame, sums_b: DataFrame, group_col: str = "label"
) -> DataFrame:
    """Assemble the snapshot_drift output table from two per-dim sum
    frames (see drift_per_dim_sums). Centroids derive as sum_q div n —
    truncating integer division, identical in Spark and DuckDB."""

    def derived(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            group_col,
            "dim",
            F.expr("sum_q div greatest(n, 1)").alias(f"c_{tag}_u"),
            F.col("ss").alias(f"ss_{tag}"),
            F.col("n").alias(f"n_{tag}"),
        )

    j = derived(sums_a, "a").join(
        derived(sums_b, "b"), [group_col, "dim"], "outer"
    ).na.fill({"c_a_u": 0, "c_b_u": 0, "ss_a": 0, "ss_b": 0, "n_a": 0, "n_b": 0})
    return (
        j.groupBy(group_col)
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(
                F.expr("(c_a_u - c_b_u) * (c_a_u - c_b_u)")
            ).alias("centroid_dist2_u2"),
            # per-dim mean BEFORE the cross-dim sum: bounds every integer
            # at dims · q²_max (engine-identical truncation per dim) so
            # the ceiling is ~2.5e7 vectors/group at |v|<1, not ~1e6
            F.sum(F.expr("ss_a div greatest(n_a, 1)")).alias("mean_norm2_a_u2"),
            F.sum(F.expr("ss_b div greatest(n_b, 1)")).alias("mean_norm2_b_u2"),
        )
        .withColumn(
            "norm2_delta_u2",
            F.expr("mean_norm2_b_u2 - mean_norm2_a_u2"),
        )
        .orderBy(group_col)
    )


def lsh_plane_plan(
    embeddings: DataFrame,
    planes_options: tuple[int, ...] = (8, 12, 16),
    bands: int = 6,
    budget_pairs: int = 20_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP plane-count decision table — the ANN twin of
    ``dedup.minhash_band_balance``: per candidate ``n_planes`` (at the
    same band count) the per-band bucket occupancy of
    ``lsh_bucket_balance`` PLUS the shape-level verdict — total
    candidate-pair volume, whether it fits ``budget_pairs``, and
    ``recommended`` = the smallest fitting plane count (cheapest shape
    inside budget = highest recall inside budget, since recall falls as
    planes grow). Run this one prepass BEFORE committing knn_graph /
    margin_pairs_lsh to a shape.

    Measured motivation (500k vectors, 64 dims, 10k near-dup groups of
    50 at within-group cos ≈ 0.93): n_planes=12 → 286M candidate pairs
    (the GEMM join would shuffle ~10² GB), 16 → 33.7M, 20 → 8.5M; the
    whole three-shape table cost 13.5s — the same "selectivity must
    grow with corpus size" rule minhash_band_balance encodes for
    (bands, rows). ALL shapes come from ONE Arrow-batched GEMM over
    the largest shape's plane set (each shape's buckets are bit-slices
    of the shared sign matrix — bit-identical to per-shape signatures
    by construction) + one two-level aggregation; cost is one linear
    corpus pass for the whole table, never quadratic. All integer;
    replayed exactly by the DuckDB oracle.
    When NO shape fits the budget every ``recommended`` is false —
    grow planes_options or bands.
    """
    from ..plans.scratch import scratch_persist

    # Fused shape evaluation (r14 optimization round, the
    # minhash_band_balance pattern): ONE Arrow GEMM against the largest
    # shape's full plane set (max(p)·bands columns — shape p's band b
    # reads bit columns [b·p, (b+1)·p), exactly lsh_cosine_buckets' band b
    # at n_planes = p) emits every shape's bucket per row, so the
    # source is scanned and the signature bits computed ONCE for all
    # shapes, vs one pass + an independent (and overlapping) GEMM per
    # shape. Bucket values are bit-identical to the per-shape path by
    # construction — the same _srp_projections / _srp_pack kernel.
    shapes = [int(p) for p in planes_options]
    total_planes = max(p * bands for p in shapes)

    @F.pandas_udf("array<long>")
    def _multi_sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        dots = _srp_projections(_vec_stack(vecs), total_planes)
        packed = [_srp_pack(dots, p, bands) for p in shapes]
        return pd.Series(list(np.concatenate(packed, axis=1)))

    planes_arr = F.array(*[F.lit(p).cast("int") for p in shapes])
    buck = (
        embeddings.select(_multi_sig(F.col(vec_col)).alias("bk"))
        .select(F.posexplode("bk").alias("pos", "bucket"))
        .select(
            F.element_at(
                planes_arr, (F.col("pos") / F.lit(bands)).cast("int") + 1
            ).alias("n_planes"),
            F.expr(f"CAST(pos % {int(bands)} AS INT)").alias("band"),
            "bucket",
        )
    )
    per_bucket = buck.groupBy("n_planes", "band", "bucket").agg(
        F.count("*").alias("c")
    )
    # <= len(shapes)·bands rows, but consumed by the shape rollup, the
    # best-shape scalar AND the final join — persist or the whole
    # signature pass re-runs per consumer (measured 26 jobs / 90 stages
    # for this 18-row frame's 4 appearances)
    out = scratch_persist(_bucket_occupancy(per_bucket, ["n_planes", "band"]))
    tot = (
        out.groupBy("n_planes")
        .agg(F.sum("cand_pairs").cast("long").alias("shape_cand_pairs"))
        .withColumn(
            "within_budget",
            F.col("shape_cand_pairs") <= F.lit(int(budget_pairs)),
        )
    )
    best = tot.agg(
        F.min(F.when(F.col("within_budget"), F.col("n_planes"))).alias("_best")
    )
    tot = (
        tot.crossJoin(F.broadcast(best))
        .withColumn(
            "recommended",
            F.coalesce(F.col("n_planes") == F.col("_best"), F.lit(False)),
        )
        .drop("_best")
    )
    return out.join(tot, "n_planes").orderBy("n_planes", "band")


def cluster_quality(
    embeddings: DataFrame,
    k: int = 5,
    min_cos_u: int = 9_000,
    n_planes: int = 8,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-tightness audit over the mutual-kNN semantic clusters —
    the review-queue companion to ``graph_clusters``: for every
    multi-member component, its size, its mutual-edge count, and the
    mean edge cosine (1e-4 units, integer-div) — the number that
    separates a tight duplicate cluster (mean ≈ 10000: candidates for
    auto-collapse) from a loose topical blob (barely above the
    ``min_cos_u`` floor: needs human review before deduping). Same
    composition as graph_clusters with the edge cosines carried
    through; the mutual-edge frame is scratch-persisted so the GEMM
    scoring pass is paid once for both the component build and the
    quality rollup.

    Shape at scale: everything downstream of knn_graph is edge-sized
    (mutual edges ≤ k·|V|/2), and the rollup is two keyed aggregations
    plus a broadcast-joinable component map — nothing corpus-quadratic.
    Exact DuckDB oracle extends the graph_clusters recursive-CC chain.
    """
    from pyspark import StorageLevel

    from ..plans.scratch import scratch_persist
    from .dedup import connected_components

    mutual = scratch_persist(
        _mutual_knn_edges(
            embeddings, k, min_cos_u, n_planes, bands, id_col, vec_col
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    # comp is consumed twice (multi-member rollup + the edge-component
    # join) but deliberately NOT persisted: its tail is an orderBy that
    # Catalyst elides under both aggregating consumers, while a persist
    # would materialize the global sort (measured r14-opt: 15 jobs/32
    # stages -> 18/43 WITH a persist here). The duplicated work is only
    # the vertex-distinct + broadcast attach over the cached edge probe.
    comp = connected_components(
        mutual.select("doc_a", "doc_b"),
        vertices=embeddings.select(F.col(id_col)),
        id_col=id_col,
    )
    members = (
        comp.groupBy("component")
        .agg(F.count("*").cast("long").alias("n_members"))
        .where(F.col("n_members") >= 2)
    )
    edges = (
        mutual.join(
            comp.select(
                F.col(id_col).alias("doc_a"), "component"
            ),
            "doc_a",
        )
        .groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("cos_u").alias("_s"),
        )
    )
    return (
        members.join(edges, "component")
        .select(
            "component",
            "n_members",
            "n_edges",
            F.expr("_s div n_edges").cast("long").alias("mean_edge_cos_u"),
        )
        .orderBy("component")
    )
