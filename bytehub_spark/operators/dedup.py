"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed as a staged pipeline for 100 TB corpora:

1. `exact_dedup` — md5-of-normalized-text groupBy: one shuffle on a short
   hash key, removes byte-identical copies.
2. `ngram_jaccard_pairs` — exact Jaccard over distinct word n-gram shingles
   via an inverted-index self-join: cost ∝ Σ f(shingle)², not n_docs².
3. `minhash_lsh_pairs` — the scale path: fixed-size signature per doc (one
   pass), banded LSH so only same-bucket docs are compared. Probabilistic;
   hashes are deterministic engine-portable FNV-1a (hashing.py), so runs
   are reproducible AND the DuckDB oracle replays every bucket id exactly.
4. `simhash64` — 64-bit near-dup fingerprint via a vectorized pandas UDF
   (numpy bit ops; Arrow batches — no per-row Python).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import MINHASH_PRIME


def normalized(text_col: str = "text") -> F.Column:
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def exact_dedup(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: representative = min id per normalized-text hash.

    Returns one row per distinct content hash with the group size; join
    back on fingerprint to drop duplicates.
    """
    return (
        documents.select(F.col(id_col), F.md5(normalized(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


def dup_rate_by_group(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source duplication accounting: how much of each source is
    exact-duplicate content (docs minus distinct normalized fingerprints)
    — the dashboard that says WHICH crawl/feed is flooding the corpus
    with copies, driving per-source cleanup priorities.

    One fingerprint+group aggregation (map-side combined) then a tiny
    per-group rollup; dup_rate is integer-derived — exact cross-engine.
    """
    per_fp = (
        documents.select(
            F.col(group_col),
            F.md5(normalized(text_col)).alias("__fp"),
        )
        .groupBy(group_col, "__fp")
        .agg(F.count("*").alias("__n"))
    )
    return (
        per_fp.groupBy(group_col)
        .agg(
            F.sum("__n").alias("n_docs"),
            F.count("*").alias("n_distinct"),
        )
        .select(
            group_col,
            "n_docs",
            "n_distinct",
            (
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs")
            ).alias("dup_rate"),
        )
        .orderBy(group_col)
    )


def word_ngrams(n: int) -> F.Column:
    """The positional word n-grams of the split-text array column
    ``__w``: element i is words i..i+n-1 joined by one space, in order,
    duplicates kept. Callers that need a set wrap it in
    ``F.array_distinct``; ``__w`` must hold at least ``n`` words (filter
    or guard first — a shorter array makes the sequence run backwards)."""
    return F.expr(
        f"transform(sequence(0, size(__w) - {n}), i -> concat_ws(' ', slice(__w, i + 1, {n})))"
    )


def shingle_sets(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle) exploded rows.

    The explode multiplies rows ~n_words-fold and everything downstream
    (hashing, min-aggregates, inverted-index joins) is CPU-bound, so the
    *input* docs are fanned out first — a tiny shuffle that parallelizes
    the whole expansion stage (no-op when partitioning is already wide).
    """
    from ..plans import ensure_parallelism

    df = ensure_parallelism(documents).withColumn(
        "__w", F.split(F.col(text_col), " ")
    )
    df = df.where(F.size("__w") >= n)
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(word_ngrams(n))).alias("shingle")
    )


def _shingle_pair_source(
    documents: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_doc_freq: int | None,
) -> DataFrame:
    """Exploded distinct-shingle frame (id, n_sh, shingle), persisted,
    with the optional df-cut applied — the input both pair generators
    self-join on."""
    from ..plans import ensure_parallelism

    df = ensure_parallelism(documents).withColumn(
        "__w", F.split(F.col(text_col), " ")
    )
    df = df.where(F.size("__w") >= n)
    shingles = F.array_distinct(word_ngrams(n))
    # two-step select so the transform() evaluates once per row (no CSE in
    # Spark projections); the Generate node explodes the materialized array
    arr = df.select(F.col(id_col), shingles.alias("__sh_arr"))
    sh = arr.select(
        F.col(id_col),
        F.size("__sh_arr").alias("n_sh"),
        F.explode("__sh_arr").alias("shingle"),
    )
    # persist: the self-join reads the shingle table twice (and the df-cut
    # a third time); without it the explode DAG re-executes per reference
    from ..plans.scratch import scratch_persist

    sh = scratch_persist(sh)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        return sh.join(rare, "shingle")
    return sh


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingles, via inverted index.

    Self-join on the shingle (cost ∝ Σ freq²), then jaccard = |∩| / |∪|.
    Integer-derived division — exact cross-engine.

    ``max_doc_freq`` is the scale knob: shingles appearing in more than
    that many docs are dropped from PAIR GENERATION only (their quadratic
    blow-up dominates Σ f² while contributing little discrimination — the
    classic df-cut). Sizes still count every shingle, so jaccard becomes a
    slight underestimate for pairs whose overlap was mostly stopword-like
    shingles. None (default) = fully exact, matches the DuckDB oracle.

    Plan shape: each doc's DISTINCT shingle count rides along through the
    explode (one extra int per row), so there is no separate sizes
    aggregation and no join of the pair frame back to it — the whole op
    is explode → (optional df-cut) → one self-join → one groupBy. At any
    scale that removes one shuffle and two shuffle-joins vs the textbook
    inverted-index formulation.
    """
    pair_src = _shingle_pair_source(
        documents, n, text_col, id_col, max_doc_freq
    )
    inter = _pair_counts(pair_src, id_col)
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def _pair_counts(pair_src: DataFrame, id_col: str) -> DataFrame:
    """(doc_a, doc_b, i, na, nb) from an exploded shingle frame carrying
    per-doc distinct-shingle counts — the shared core of the jaccard and
    containment pair generators (one self-join, one groupBy)."""
    a = pair_src.alias("a")
    b = pair_src.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(
            F.count("*").alias("i"),
            F.first("a.n_sh").alias("na"),
            F.first("b.n_sh").alias("nb"),
        )
    )


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle containment
    |A ∩ B| / min(|A|, |B|) — catches a short document embedded inside a
    long one (quotes, boilerplate wrappers, chunk-of-other-doc), which
    symmetric Jaccard misses because the union is dominated by the long
    side. Same inverted-index plan as ngram_jaccard_pairs (and the same
    ``max_doc_freq`` df-cut scale knob); integer-derived division —
    exact cross-engine.
    """
    pair_src = _shingle_pair_source(
        documents, n, text_col, id_col, max_doc_freq
    )
    inter = _pair_counts(pair_src, id_col)
    cont = F.col("i").cast("double") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.select("doc_a", "doc_b", cont.alias("containment"))
        .where(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram shingle with an eval/benchmark corpus.

    Standard practice before training on web-scale corpora (eval answers
    leak into crawls). The benchmark shingle set is usually tiny relative
    to the corpus, so the join against it broadcasts under AQE; the
    training-side shingle explosion is embarrassingly parallel. Returns
    (id, n_hit_shingles) for contaminated docs — downstream either drops
    them or masks the overlapping spans.

    ``train_shingles`` / ``bench_shingles`` (optional) are precomputed
    stand-ins for the internally derived shingle frames — (id, shingle)
    exploded rows and a distinct (shingle,) relation respectively — for
    callers that run several decontamination operators over the same
    corpus in one plan (r14 optimization round): passing one persisted
    frame to each operator turns N corpus scans + shingle explodes into
    one at any scale. Results are identical by construction.
    """
    train_sh = (
        train_shingles
        if train_shingles is not None
        else shingle_sets(documents, text_col, id_col, n)
    )
    bench_sh = (
        bench_shingles
        if bench_shingles is not None
        else shingle_sets(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )
    return (
        train_sh.join(bench_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_shingles"))
        .orderBy(id_col)
    )


def canonical_per_cluster(
    documents: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Quality-aware canonical selection: cluster near-duplicates (n-gram
    Jaccard pairs → connected components), then keep the highest-quality
    member per cluster instead of an arbitrary one — standard practice so
    dedup does not systematically keep the truncated/boilerplate variant.

    Quality is text_stats' score; ties break to the lowest doc id (exact
    cross-engine determinism). Singleton docs are their own canonical.
    Returns (doc_id, component, quality_score, is_canonical) — downstream
    filters is_canonical to materialize the deduped corpus.

    ``max_doc_freq`` passes through to the pair stage's df-cut — set it
    at scale so clustering never pays the quadratic hot-shingle blow-up.
    """
    from .text import text_stats

    pairs = ngram_jaccard_pairs(
        documents, threshold, n, text_col, id_col, max_doc_freq
    )
    comp = connected_components(pairs, vertices=documents, id_col=id_col)
    quality = text_stats(documents).select(
        F.col(id_col), F.col("quality_score")
    )
    member = comp.join(quality, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col(id_col).asc()
    )
    return (
        member.withColumn("rn", F.row_number().over(w))
        .select(
            id_col,
            "component",
            "quality_score",
            (F.col("rn") == 1).alias("is_canonical"),
        )
        .orderBy(id_col)
    )


def _h1_h2(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, __h1, __h2) from (id, shingle): the MinHash double-hash bases.

    FNV-1a over code points (hashing.py), computed in ONE vectorized Arrow
    batch pass (a padded code-point matrix, ~max_len numpy ops per batch —
    no per-string Python). FNV rather than xxhash64 because the identical
    fold is expressible in the DuckDB oracle (list_reduce + HUGEINT), so
    every bucket id and candidate pair is cross-engine verifiable; the
    narrow map stage emits slim (id, long, long) rows, and everything
    downstream (shuffle, min-aggregates) is unchanged.
    """

    @F.pandas_udf("h1 long, h2 long")
    def _hh(s: pd.Series) -> pd.DataFrame:
        from .hashing import shingle_h1_h2_np

        h1, h2 = shingle_h1_h2_np(s.tolist())
        return pd.DataFrame({"h1": h1, "h2": h2})

    return sh.select(F.col(id_col), _hh(F.col("shingle")).alias("__hh")).select(
        F.col(id_col),
        F.col("__hh.h1").alias("__h1"),
        F.col("__hh.h2").alias("__h2"),
    )


def minhash_signatures(
    documents: DataFrame,
    n_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: (id, sig array<long>[n_hashes]) where
    sig[j] = min over shingles of h_j(shingle).

    h_j uses Kirsch-Mitzenmacher double hashing — h_j = (h1 + j·h2) mod p
    (p = 2^31-1) from TWO FNV-1a evaluations per shingle instead of
    n_hashes (32× fewer hash passes in the hot path; minwise independence
    is preserved because both terms are uniform mod the SAME prime — a
    truncated/unreduced variant correlates the j-th hashes). The base
    hashes are engine-portable (hashing.fnv1a_cp*), so signatures — and
    every LSH bucket derived from them — are bit-identical in the DuckDB
    oracle. All downstream arithmetic fits in 38 bits (no ANSI overflow).

    The mins run in numpy: slim (id, h1, h2) rows are repartitioned on
    id, then one kernel per partition (argsort + n_hashes
    minimum.reduceat passes). It replaced n_hashes per-row JVM
    min-aggregates (groupBy(id) with one min per hash) — measured 1.5s →
    0.9s on 1M shingles / 5k docs. The trade: every shingle row is
    shuffled, where the aggregate's map-side combine shuffled one
    signature per (doc, map task).
    """
    p = MINHASH_PRIME
    sh = shingle_sets(documents, text_col, id_col, n)
    slim = _h1_h2(sh, id_col)

    def kernel(batches):
        parts = [pdf for pdf in batches]
        if not parts:
            return
        pdf = pd.concat(parts)
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        h1v = pdf["__h1"].to_numpy()[order]
        h2v = pdf["__h2"].to_numpy()[order]
        uids, offsets = np.unique(ids, return_index=True)
        sig = np.empty((len(uids), n_hashes), dtype=np.int64)
        for j in range(n_hashes):
            sig[:, j] = np.minimum.reduceat((h1v + j * h2v) % p, offsets)
        yield pd.DataFrame({id_col: uids, "sig": list(sig)})

    return slim.repartition(id_col).mapInPandas(
        kernel, schema=f"{id_col} long, sig array<long>"
    )


def _band_fold(b: int, r: int, sig: str = "sig") -> str:
    """SQL text of the Horner fold of one band's signature slice, mod
    2^31-1: acc = acc·K + sig[j] (mod p) per member — sig values < p and
    K ≈ 2^20, so every intermediate < 2^51: plain BIGINT in Spark
    (ANSI-safe) and in the DuckDB oracle. Collisions (bucket space 2^31)
    only ADD candidate pairs — LSH recall is unaffected and both engines
    collide identically.

    Emitted as SQL TEXT, not a Column chain (r14 opt, guide §7.3 driver
    cost): the Column form cost ~6 Py4J round-trips per fold member ×
    Σbands folds per query — ~2.6s of pure driver time per
    band_recall plan build. One F.expr over the generated text is one
    round-trip; the parsed tree (pmod/GetArrayItem/int literals) is
    node-identical to what the Column API built, so every bucket value
    is unchanged by construction.
    """
    from .hashing import BAND_K

    # guard the text interpolation (ADVICE r14): a column name needing
    # backticks would generate invalid/subtly-wrong SQL silently
    if not sig.isidentifier():
        raise ValueError(f"_band_fold: sig must be a plain identifier, got {sig!r}")
    acc = f"{sig}[{b * r}]"
    for i in range(1, r):
        acc = f"pmod({acc} * {BAND_K} + {sig}[{b * r + i}], {MINHASH_PRIME})"
    return acc


def _band_buckets(
    sig: DataFrame, n_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """(id, band, bh) bucket rows from a signature table: one Horner fold
    of each band's signature slice (engine-portable — no xxhash64). Slim
    rows — the shuffle unit for every LSH join."""
    r = n_hashes // bands
    folds = ", ".join(
        f"named_struct('band', {b}, 'bh', {_band_fold(b, r)})"
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({folds}))").alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def build_lsh_index(
    documents: DataFrame,
    n_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH bucket index of a corpus: (band, bh, doc_id) rows.

    The persisted form of near-dup state: write it partitioned on ``band``
    (32 ways) and each day's increment joins against ~1/bands of the index
    per bucket lookup. Index size is bands rows/doc of 3 longs — ~1/1000
    of corpus bytes, so it stays joinable even when the corpus does not.
    """
    assert n_hashes % bands == 0
    sig = minhash_signatures(documents, n_hashes, n, text_col, id_col)
    return _band_buckets(sig, n_hashes, bands, id_col)


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    n_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup dedup: flag new docs colliding with a stored
    corpus index (build_lsh_index) — the daily-increment pattern: the
    historical corpus is never rescanned, only its bucket table is joined.

    Returns (doc_id, n_hit_bands, matched_doc, is_novel); matched_doc is
    the smallest colliding corpus id (deterministic witness). The join
    shuffles increment-sized bucket rows against the (broadcast-or-
    bucketed) index — cost scales with the increment, not the corpus.
    """
    assert n_hashes % bands == 0
    sig = minhash_signatures(new_docs, n_hashes, n, text_col, id_col)
    buckets = _band_buckets(sig, n_hashes, bands, id_col)
    idx = index.select(
        F.col("band").alias("i_band"),
        F.col("bh").alias("i_bh"),
        F.col(id_col).alias("corpus_id"),
    )
    hits = (
        buckets.join(
            idx,
            (F.col("band") == F.col("i_band")) & (F.col("bh") == F.col("i_bh")),
        )
        .groupBy(id_col)
        .agg(
            F.countDistinct("band").alias("n_hit_bands"),
            F.min("corpus_id").alias("matched_doc"),
        )
    )
    return (
        new_docs.select(id_col)
        .distinct()
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hit_bands"), F.lit(0)).alias("n_hit_bands"),
            "matched_doc",
            (F.coalesce(F.col("n_hit_bands"), F.lit(0)) == 0).alias("is_novel"),
        )
        .orderBy(id_col)
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    rows/band = n_hashes/bands; a pair collides if any band matches
    (P ≈ 1-(1-j^r)^b; defaults b=32, r=2 → detection threshold ≈ 0.18,
    j=0.5 pairs caught w.p. ≈ 1-(1-0.25)^32 ≈ 1). Self-join happens only
    inside (band, band_hash) buckets. Returns candidates with estimated
    jaccard (signature agreement fraction); filter on it to trade
    precision/recall.
    """
    assert n_hashes % bands == 0
    # Persist the signature table: it feeds BOTH self-join sides and the
    # final signature fetch — without it the shingle-explode + 64-way
    # min-agg DAG executes three times. Signatures are n_docs × 64 longs
    # (~0.5 KB/doc), orders of magnitude smaller than the corpus, so this
    # persists fine even at 100 TB corpus scale (MEMORY_AND_DISK spills).
    from pyspark import StorageLevel

    from ..plans.scratch import scratch_persist

    sig = scratch_persist(
        minhash_signatures(documents, n_hashes, n, text_col, id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    # candidate generation carries ONLY ids through the bucket self-join —
    # the (band, bh) equi-join shuffles slim rows, not signature arrays
    buckets = _band_buckets(sig, n_hashes, bands, id_col)
    a, b2 = buckets.alias("a"), buckets.alias("b")
    # join condition and agreement estimate as single SQL texts (r15
    # opt, the _band_fold pattern): parses to the same operator tree as
    # the Column chain at a fraction of the plan-build round-trips
    pairs = (
        a.join(
            b2,
            F.expr(
                f"a.band = b.band AND a.bh = b.bh "
                f"AND a.{id_col} < b.{id_col}"
            ),
        )
        .selectExpr(f"a.{id_col} AS doc_a", f"b.{id_col} AS doc_b")
        .distinct()
    )
    sig_a = sig.selectExpr(f"{id_col} AS doc_a", "sig AS sig_a")
    sig_b = sig.selectExpr(f"{id_col} AS doc_b", "sig AS sig_b")
    est = (
        "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
        f"v -> v)) AS DOUBLE) / CAST({float(n_hashes)} AS DOUBLE)"
    )
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .selectExpr("doc_a", "doc_b", f"{est} AS est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


def minhash_band_balance(
    documents: DataFrame,
    n_hashes: int = 64,
    bands_options: tuple[int, ...] = (32, 16, 8),
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Band-shape decision table for MinHash LSH: per-(bands, band) bucket
    occupancy statistics at each candidate band count — the monitor that
    tells you when to SHARPEN the band shape (fewer bands, more rows per
    band) as the corpus grows. ``cand_pairs`` = Σ_buckets c·(c-1)/2 is
    the EXACT raw pair volume ``minhash_lsh_pairs`` would feed its
    distinct at that shape; run this one-signature-pass prepass before
    committing to the quadratic join.

    Measured motivation (500k-doc corpus, 10-word docs over a ~31-word
    vocabulary): the default b=32/r=2 shape (threshold j≈0.18) let random
    small-vocab collisions form 28k-row hot buckets — 9.0e9 candidate
    pairs; b=16/r=4 cut that to 1.75e8 and b=8/r=8 to 1.4e7. The same
    "grow selectivity with corpus size" rule emb_lsh_balance documents
    for SRP n_planes applies to (bands, rows) here: detection threshold
    is ≈ (1/b)^(1/r), so halving bands squares-up per-band selectivity
    while each halving only costs recall below the threshold knee.

    One signature computation (scratch-persisted) feeds every shape; each
    shape costs one slim bucket pass + a two-level aggregation. All
    arithmetic is integer and replayed exactly by the DuckDB oracle.
    ``imbalance_ppm`` (max bucket over mean bucket) is the EXACT
    floor(max·n_buckets·1e6 / n_rows) of the occupancy kernel
    ``similarity._bucket_occupancy`` that the SRP monitors share (a
    truncate-first-only form read 0 ppm on singleton-heavy bands where
    the mean bucket is ~1 — exactly the skew regime the monitor exists
    for).
    Mirrors the near-dup sizing advice in the reference's dedup test
    suite only abstractly — the reference has no banding monitor; this is
    the scale tool its fixed-shape design lacks.
    """
    from pyspark import StorageLevel

    from ..plans.scratch import scratch_persist

    sig = scratch_persist(
        minhash_signatures(documents, n_hashes, n, text_col, id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    # ONE generator emits every shape's (bands, band, bh) bucket keys
    # (Σ bands rows/doc, e.g. 32+16+8=56) and ONE two-level aggregation
    # serves all shapes — the r14 optimization round fused the previous
    # per-shape loop (3 explodes over sig + 3×2 aggregation exchanges +
    # a 3-way union) into a single pass; same rows, same integer
    # arithmetic, one signature-table scan at any corpus size
    # (guide §2.3/§2.4).
    for bands in bands_options:
        assert n_hashes % bands == 0
    shape_structs = ", ".join(
        f"named_struct('bands', {bands}, 'band', {b}, "
        f"'bh', {_band_fold(b, n_hashes // bands)})"
        for bands in bands_options
        for b in range(bands)
    )
    from .similarity import _bucket_occupancy

    buckets = sig.select(
        F.expr(f"explode(array({shape_structs}))").alias("bb")
    ).select("bb.bands", "bb.band", "bb.bh")
    per_bucket = buckets.groupBy("bands", "band", "bh").agg(
        F.count("*").alias("c")
    )
    return _bucket_occupancy(per_bucket, ["bands", "band"]).orderBy(
        "bands", "band"
    )


def simhash64(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """64-bit SimHash over word n-gram features (vectorized numpy, Arrow
    batches). N-grams (not unigrams) so corpora with a narrow vocabulary
    still discriminate — unigram multisets of same-domain docs are nearly
    identical, their 3-gram sets are not.

    Token hashes are FNV-1a over code points (hashing.py) — the identical
    fold is replayed in the DuckDB oracle, so every simhash value is
    cross-engine exact (r02 verdict: the xxhash64 variant was
    unverifiable).

    Near-dups are pairs within small Hamming distance; at scale, bucket on
    bit-chunks (4×16-bit keys) and compare within buckets.
    """

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        from .hashing import fnv1a_cp_np

        # token lists per doc, then ONE vectorized FNV pass over the flat
        # token stream (hashing.fnv1a_cp_np) — the same engine-portable
        # code-point fold the DuckDB oracle replays, no per-token Python
        # hashing loop.
        tok_lists = []
        for t in texts:
            if not t:
                tok_lists.append([])
                continue
            words = t.split()
            tok_lists.append(
                [" ".join(words[j : j + ngram]) for j in range(len(words) - ngram + 1)]
                if len(words) >= ngram
                else words
            )
        flat = [tok for toks in tok_lists for tok in toks]
        hs_flat = fnv1a_cp_np(flat)
        out = np.zeros(len(texts), dtype=np.uint64)
        pos = 0
        for i, toks in enumerate(tok_lists):
            if not toks:
                continue
            hs = hs_flat[pos : pos + len(toks)]
            pos += len(toks)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1)
            # +1/-1 majority per bit (signed! uint64 would wrap on negatives)
            votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hs)
            sim = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                sim |= np.uint64(1) << np.uint64(b)
            out[i] = sim
        return pd.Series(out.astype(np.int64))

    from ..plans import ensure_parallelism

    return ensure_parallelism(documents).select(
        F.col(id_col), _simhash(F.col(text_col)).alias("simhash")
    ).orderBy(id_col)


MAX_BROADCAST_VECTORS = 2_000_000  # ~0.5 GB at 64 float64 dims


def embedding_cosine_dups(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity (id_a < id_b).

    Exact mode (``n_planes=None``): blocked matrix multiply — the full
    normalized matrix is broadcast once and each partition of rows computes
    its similarity block with one numpy GEMM, emitting only above-threshold
    pairs. A per-pair SQL dot product (higher-order functions are
    interpreted, not codegen'd) measured 150s on 2k×2k pairs; the GEMM is
    <0.5s. Bounded by MAX_BROADCAST_VECTORS — beyond that exact all-pairs
    is infeasible on any engine; use the LSH mode. Scale mode (``n_planes``
    set): candidates are blocked on ``bands`` independent random-hyperplane
    LSH bucket tables OR'd together (engine-portable ±1 planes — see
    similarity.lsh_cosine_buckets), turning O(n²) pair generation into
    bucket equi-joins — the strategy that survives 100 TB. Similarity is
    rounded to 4 decimals (similarity.cosine4 / round4: half away from
    zero on the scaled value, DuckDB's ``round``) BEFORE thresholding so
    membership is stable across engines.
    """
    from .similarity import _cosine_matrix, _vec_stack, cosine4, round4

    if n_planes:
        from .similarity import lsh_cosine_buckets

        # banded bucket rows (bands independent plane sets, OR'd): pair
        # candidates are ids sharing ANY (band, bucket) — slim id-only
        # self-join per bucket, distinct, then ONE vector fetch per side.
        # Recall amplifies exactly like banded MinHash; every bucket id is
        # engine-portable so the DuckDB oracle replays the full pair set.
        bk = lsh_cosine_buckets(
            embeddings, n_planes, id_col, vec_col, bands=bands
        ).select(id_col, "band", "bucket")
        a = bk.select(F.col(id_col).alias("id_a"), "band", "bucket")
        b = bk.select(F.col(id_col).alias("id_b"), F.col("band").alias("band_b"), F.col("bucket").alias("bucket_b"))
        pair_ids = (
            a.join(
                b,
                (F.col("band") == F.col("band_b"))
                & (F.col("bucket") == F.col("bucket_b"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .select("id_a", "id_b")
            .distinct()
        )
        va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
        vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
        joined = pair_ids.join(va, "id_a").join(vb, "id_b")
        sim = cosine4(F.col("vec_a"), F.col("vec_b"))
        return (
            joined.select("id_a", "id_b", sim.alias("cosine_sim"))
            .where(F.col("cosine_sim") >= F.lit(threshold))
            .orderBy("id_a", "id_b")
        )

    spark = embeddings.sparkSession
    from ..plans import ensure_parallelism

    # Probe-then-collect (the connected_components cap pattern): limit to
    # cap+1 BEFORE toPandas so an over-cap corpus raises a clean
    # ValueError instead of OOMing the driver materializing the whole
    # vector table first. At <= cap rows the limited frame IS the table.
    side = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .limit(MAX_BROADCAST_VECTORS + 1)
        .toPandas()
    )
    if len(side) > MAX_BROADCAST_VECTORS:
        raise ValueError(
            f"exact all-pairs over more than {MAX_BROADCAST_VECTORS} "
            "vectors is infeasible; pass n_planes to use LSH-blocked "
            "candidates"
        )
    bc = spark.sparkContext.broadcast(
        (side[id_col].to_numpy(), _vec_stack(side[vec_col]))
    )

    def block(it):
        b_ids, b_mat = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            a_ids = pdf[id_col].to_numpy()
            sims = round4(_cosine_matrix(_vec_stack(pdf[vec_col]), b_mat))
            ii, jj = np.nonzero(
                (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ii],
                    "id_b": b_ids[jj],
                    "cosine_sim": sims[ii, jj],
                }
            )

    out = ensure_parallelism(
        embeddings.select(F.col(id_col), F.col(vec_col))
    ).mapInPandas(block, schema="id_a long, id_b long, cosine_sim double")
    return out.orderBy("id_a", "id_b")


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 8,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowed substring fingerprints (Schleimer/Wilkerson/Aiken MOSS
    scheme) at word granularity: hash every k-word gram, then keep only
    the MINIMUM hash of each window of ``w`` consecutive gram hashes.

    The winnowing guarantee: any two documents sharing an exact run of at
    least k + w - 1 consecutive words are guaranteed to share at least one
    selected fingerprint, while only ~2/(w+1) of gram hashes are kept —
    the index is a fraction of the full gram set, independent of where the
    shared run falls in either document (window-min selection is content-
    anchored, not position-anchored, so no alignment is needed).

    This is the practical Spark form of exact-substring dedup (suffix
    arrays don't distribute; winnowing does): one narrow map stage per doc
    computes grams → md5 → window-min → distinct, all inside higher-order
    functions (whole-stage codegen, no Python). md5 + lexicographic min on
    lowercase hex are engine-portable, so the DuckDB oracle reproduces the
    selection bit-for-bit. Reference parity: the reference has no
    substring dedup; this extends its dedup story for LLM corpora.
    """
    # Two traps shape this expression:
    # (a) sequence(0, negative) is DESCENDING in Spark, not empty, so short
    #     docs must short-circuit to array() inside a CASE — the where()
    #     below is not enough once projections collapse.
    # (b) Spark projections have NO common-subexpression elimination: a
    #     withColumn("__h", grams) intermediate gets INLINED into every
    #     slice(__h, j+1, w) of the winnow pass, re-hashing the whole gram
    #     array per window — O(n_grams²) md5 calls per doc (measured 17s →
    #     0.65s on 500 docs). Binding the gram array as a LAMBDA VARIABLE
    #     (transform over a 1-element array) materializes it exactly once
    #     per row: lambda args are evaluated values, not expression trees.
    grams = (
        f"CASE WHEN size(__w) >= {k + w - 1} THEN "
        f"transform(sequence(0, size(__w) - {k}), "
        f"i -> md5(concat_ws(' ', slice(__w, i + 1, {k})))) "
        f"ELSE array() END"
    )
    winnowed = F.expr(
        f"element_at(transform(array({grams}), hh -> "
        f"CASE WHEN size(hh) >= {w} THEN "
        f"array_distinct(transform(sequence(0, size(hh) - {w}), "
        f"j -> array_min(slice(hh, j + 1, {w})))) "
        f"ELSE array() END), 1)"
    )
    from ..plans import ensure_parallelism

    df = ensure_parallelism(documents).withColumn(
        "__w", F.split(F.col(text_col), " ")
    )
    # need at least k+w-1 words to fill one winnow window
    df = df.where(F.size("__w") >= k + w - 1)
    return df.select(F.col(id_col), F.explode(winnowed).alias("fingerprint"))


def substring_dup_pairs(
    documents: DataFrame,
    k: int = 8,
    w: int = 5,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact-substring near-dup pairs: documents sharing >= ``min_hits``
    winnowed fingerprints — i.e. sharing exact word runs of length >= k
    (guaranteed detection for shared runs >= k + w - 1; see
    winnow_fingerprints). The Lee et al. "Deduplicating Training Data"
    signal, distributed: inverted-index self-join on the fingerprint, so
    cost is ∝ Σ f(fingerprint)², never n_docs².

    ``max_doc_freq`` is the same scale knob as ngram_jaccard_pairs:
    fingerprints hot enough to blow up pair generation (boilerplate
    shared by thousands of docs) are cut from candidate generation.
    """
    fp = winnow_fingerprints(documents, k, w, text_col, id_col)
    if max_doc_freq is not None:
        from ..plans.scratch import scratch_persist

        fp = scratch_persist(fp)
        rare = (
            fp.groupBy("fingerprint")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_doc_freq)
            .select("fingerprint")
        )
        fp = fp.join(rare, "fingerprint")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_fingerprints"))
        .where(F.col("n_shared_fingerprints") >= min_hits)
        .orderBy("doc_a", "doc_b")
    )


# observability: rounds the last distributed connected_components run
# took (0 = fast path / not run) — scale experiments and ops dashboards
# read it; never an API input
_cc_last_rounds: int = 0


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 50,
    driver_edge_cap: int = 1_000_000,
) -> DataFrame:
    """Dedup clusters from near-dup pairs: connected components by
    iterative min-label propagation (component id = min doc id reachable).

    **Small-graph fast path**: when the PAIR table fits the driver
    (≤ ``driver_edge_cap`` edges — a bounded materialization, same
    policy as MARGIN_BROADCAST_CAP), components come from an in-driver
    union-find in one collect: the pair graph after LSH banding is
    usually tiny relative to the corpus even at 100 TB, and the
    distributed loop's per-round scheduling overhead (2 jobs × rounds)
    dwarfs the actual work (measured 4.1s for a 256-edge graph at
    sf0.1 vs ~1.5s via union-find). The VERTEX table is never
    collected: singletons from a corpus-scale ``vertices`` frame join
    the broadcast component map distributively.

    **Distributed path** (> cap): each round does (a) label <-
    min(label, neighbors' labels) and (b) pointer jumping (label <-
    label's label) — convergence bounded by the graph's min-propagation
    depth (measured 25 rounds on a 533k-edge chain-heavy corpus; extra
    jump hops per round do NOT reduce rounds — the bottleneck is the
    one-edge-hop-per-round min walk, not label-chain depth). Every
    round ends with an EAGER checkpoint that truncates lineage AND
    propagated stats (plans.iterate — without the lineage cut, planning
    OOMs the driver on a 30-node path; without the stats cut, the
    self-join's size estimate squares per round and Catalyst's BigInt
    stats math dominates from ~iter 15, measured 0.7→153 s/iter at 50k
    labels). Raises if max_iter rounds pass without convergence — a
    truncated label table is a WRONG answer for a dedup operator, never
    a degraded one. Vertices default to ids present in pairs; pass the
    full corpus to include singletons.
    """
    from pyspark.sql.types import StructField, StructType

    from ..plans.iterate import eager_checkpoint
    from ..plans.scratch import scratch_persist

    # Persist the slim (src, dst) projection BEFORE probing: the probe's
    # limit job caches the edge partitions it scans, so a >cap graph's
    # distributed path reuses them instead of re-running the whole pair
    # pipeline for its second pass (previously the probe was discarded
    # and >cap inputs paid the pair scan twice).
    # reset the observability counter HERE so a fast-path run reads 0
    # (its documented contract), not the previous distributed run's count
    global _cc_last_rounds
    _cc_last_rounds = 0
    # Null endpoints are meaningless edges; they must be dropped BEFORE
    # the Arrow probe — createDataFrame on the non-nullable component
    # schema raises on None, and the non-Arrow fallback would coerce a
    # long column with nulls to float64, corrupting ids.
    edge_rows = scratch_persist(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    id_type = pairs.schema[a_col].dataType
    # Probe via Arrow (toPandas on the limited frame): at the 1M-edge cap
    # a Row-object collect holds ~1M two-field Rows (~hundreds of MB of
    # Python object overhead on a default driver heap); two Arrow-backed
    # numpy/object columns are ~16 MB for long ids. Size the driver heap
    # for driver_edge_cap * ~16 B/edge (+ the union-find dict, ~2x that).
    probe = edge_rows.limit(driver_edge_cap + 1).toPandas()
    if len(probe) <= driver_edge_cap:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        endpoints: set = set()
        for a, b in zip(probe["src"].tolist(), probe["dst"].tolist()):
            endpoints.add(a)
            endpoints.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min root wins -> component id = min id reachable
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        spark = pairs.sparkSession
        # component ids inherit the pair column's type (long doc ids and
        # string ids both work — the distributed path always did)
        schema = StructType(
            [StructField(id_col, id_type, False), StructField("component", id_type, False)]
        )
        comp_df = spark.createDataFrame(
            [(v, find(v)) for v in endpoints], schema=schema
        )
        if vertices is not None:
            return (
                vertices.select(F.col(id_col))
                .distinct()
                .join(F.broadcast(comp_df), id_col, "left")
                .select(
                    id_col,
                    F.coalesce("component", F.col(id_col)).alias("component"),
                )
                .orderBy(id_col)
            )
        return comp_df.orderBy(id_col)

    edges = eager_checkpoint(
        edge_rows.unionByName(
            edge_rows.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    if vertices is not None:
        verts = vertices.select(F.col(id_col).alias("src")).distinct()
    else:
        verts = edges.select("src").distinct()
    labels = eager_checkpoint(verts.withColumn("component", F.col("src")))

    converged = False
    for _round in range(1, max_iter + 1):
        _cc_last_rounds = _round
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst2"),
                       F.col("dst") == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, "src", "left")
            .select(
                "src",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jumping: follow the label one more hop (label of label)
        parents = stepped.select(
            F.col("src").alias("p_src"), F.col("component").alias("p_comp")
        )
        new_labels = eager_checkpoint(
            stepped.join(parents, stepped["component"] == parents["p_src"], "left")
            .select(
                "src",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "src")
            .where(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (labels would be silently wrong if returned)"
        )
    return labels.select(F.col("src").alias(id_col), "component").orderBy(id_col)


def source_overlap_matrix(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, how
    many distinct normalized fingerprints appear in BOTH — the dashboard
    that says which two feeds are re-crawling each other (and whose
    overlap should be deduped by source priority rather than doc id).

    Shape: collapse to distinct (source, fingerprint) first (one map-side
    combined aggregation — the corpus never self-joins at full size),
    then a self-equi-join on the fingerprint key whose per-key fan-out is
    #sources-bounded, then a tiny pair rollup. Linear in corpus size,
    quadratic only in the source count.
    """
    per_src = (
        documents.select(
            F.col(group_col).alias("src"),
            F.md5(normalized(text_col)).alias("__fp"),
        )
        .distinct()
    )
    a = per_src.alias("a")
    b = per_src.select(
        F.col("src").alias("src_b"), F.col("__fp").alias("__fp_b")
    )
    return (
        a.join(b, (F.col("__fp") == F.col("__fp_b")) & (F.col("src") < F.col("src_b")))
        .groupBy(F.col("src").alias("source_a"), F.col("src_b").alias("source_b"))
        .agg(F.count("*").alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


def two_stage_dedup(
    documents: DataFrame,
    embeddings: DataFrame,
    cos_threshold: float = 0.4,
    jac_threshold: float = 0.1,
    n_planes: int = 8,
    ngram: int = 3,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """The production two-stage near-dup pipeline: cheap semantic
    CANDIDATES (banded cosine-LSH bucket pairs over the embeddings, 16 B
    of hash per vector) verified by an exact lexical check (n-gram
    Jaccard on the texts) before anything is deleted. ANN recall misses
    are acceptable (candidates only), but nothing is dropped on embedding
    evidence alone — the guardrail every large-scale dedup deployment
    ends up with.

    Stage 1 reuses embedding_cosine_dups' LSH mode (bucket equi-join —
    never all-pairs); stage 2 joins the CANDIDATE pairs (a set that is
    orders of magnitude smaller than the corpus) back to per-doc distinct
    shingle arrays and intersects in-memory per pair. Returns
    (id_a, id_b, cosine_sim, jaccard) for pairs passing BOTH thresholds.
    Engine-portable hashing end-to-end — the full output is exactly
    SQL-replayable.
    """
    cand = embedding_cosine_dups(
        embeddings, cos_threshold, n_planes=n_planes, id_col=vec_id_col
    )
    df = documents.withColumn("__w", F.split(F.col("text"), " "))
    df = df.where(F.size("__w") >= ngram)
    shingles = F.array_distinct(word_ngrams(ngram))
    arrs = df.select(F.col(doc_id_col).alias("__id"), shingles.alias("__sh"))
    a = arrs.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")
    )
    b = arrs.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= jac_threshold)
        .select("id_a", "id_b", "cosine_sim", "jaccard")
        .orderBy("id_a", "id_b")
    )


def line_dedup(
    documents: DataFrame,
    min_docs: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal (Wenzek et al. 2019
    §3.1): hash every line, count the DISTINCT documents each line occurs
    in corpus-wide, and drop lines that appear in >= ``min_docs`` docs
    (nav bars, cookie banners, copyright footers). Returns per document
    the surviving text with line order preserved plus kept/total counts —
    the standard pre-dedup cleaning stage of a crawl pipeline.

    Scale shape: posexplode is a narrow map; the line-frequency table is
    ONE map-side-combined aggregation on a 32-hex key; the boilerplate
    set (lines with >= min_docs docs) is tiny relative to the corpus, so
    the membership join is AQE-broadcastable; the final per-doc re-join
    groups on doc_id. No global windows, cost linear in total line count.
    Sort-by-pos happens inside each doc's collected array (bounded by
    lines-per-doc), not as a shuffle.
    """
    from ..plans.scratch import scratch_persist

    # the line frame feeds BOTH the boilerplate-frequency aggregate and
    # the membership join; Spark does not CSE across those branches, so
    # without the persist the split+posexplode+md5 (and whatever text
    # derivation the caller stacked under text_col) runs twice per
    # action (r15 opt, the bigram_xent_terms pattern).
    lines = scratch_persist(
        documents.select(
            id_col,
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        ).withColumn("__lh", F.md5(F.trim(F.col("line"))))
    )
    boiler = (
        lines.groupBy("__lh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= F.lit(min_docs))
        .select("__lh", F.lit(1).alias("__boiler"))
    )
    flagged = lines.join(boiler, "__lh", "left")
    kept = F.when(
        F.col("__boiler").isNull(), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("__boiler").isNull(), 1).otherwise(0)).alias(
                "n_kept"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["line"]
                ),
                "\n",
            ).alias("kept_text"),
        )
        .orderBy(id_col)
    )


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate PAIRS from the 64-bit SimHash via Manku-style band
    blocking (Manku/Jain/Sarma, WWW'07 §3): split each signature into
    4 × 16-bit bands; any pair within Hamming distance <= 3 must agree on
    at least one whole band (pigeonhole), so candidates are the union of
    four equi-self-joins on the band value — never an all-pairs compare.
    Candidates are verified with an exact popcount of the XOR, so for
    ``max_hamming <= 3`` the result is EXACT; above 3 the band filter
    caps recall (documented, use more/narrower bands).

    Band keys are the signature AND a 16-bit mask (no shifts: masked
    equality == band equality, and two's-complement AND is identical
    cross-engine). One signature pass (persisted), four bucket joins
    whose fan-out is bucket-bounded, popcount verify — the same
    linear-in-corpus shape as the MinHash LSH path.
    """
    from ..plans.scratch import scratch_persist

    sigs = scratch_persist(
        simhash64(documents, text_col=text_col, id_col=id_col)
    )
    return banded_hamming_pairs(
        sigs, id_col=id_col, sig_col="simhash", max_hamming=max_hamming
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Manku 4×16-bit band blocking + exact popcount verify over ANY
    64-bit signature table ``(id_col, sig_col)`` — shared by the text
    SimHash path (simhash_pairs) and the multimodal average-hash path
    (multimodal.ahash_pairs). EXACT for ``max_hamming <= 3`` by the
    pigeonhole argument; the join fan-out is band-bucket bounded, never
    all-pairs."""

    def _signed(m: int) -> int:
        return m - (1 << 64) if m >= (1 << 63) else m

    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(sig_col)
                .bitwiseAND(F.lit(_signed(0xFFFF << (16 * b))))
                .alias("bkey"),
            )
            for b in range(4)
        ]
    )
    exploded = sigs.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.explode(band_arr).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a = exploded.select(
        "band", "bkey", F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    b = exploded.select(
        "band", "bkey", F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def lsh_dedup_eval(
    documents: DataFrame,
    threshold: float = 0.2,
    n_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup-quality monitor: precision/recall of the banded MinHash-LSH
    candidate set against EXACT n-gram-Jaccard ground truth at
    ``threshold`` — the dedup twin of similarity.ann_recall_eval, and
    the number an operator watches before trusting an LSH configuration
    on the full corpus (b/r trade recall against candidate volume; this
    op turns that curve into a measured row). Both pair sets are
    deterministic (FNV-hashed signatures, integer-derived Jaccard), so
    precision/recall are integer-exact cross-engine.

    One full-outer join of the two pair tables on the pair key, then a
    single global count row — the heavy lifting stays in the two
    operators being compared (each linear-in-corpus by their df-cut/
    banding arguments); the eval adds one pair-keyed shuffle.
    """
    cand = minhash_lsh_pairs(
        documents, n_hashes, bands, n, text_col, id_col
    ).select("doc_a", "doc_b", F.lit(1).alias("c"))
    truth = ngram_jaccard_pairs(
        documents, threshold, n, text_col, id_col
    ).select("doc_a", "doc_b", F.lit(1).alias("t"))
    j = cand.join(truth, ["doc_a", "doc_b"], "outer")
    # coalesce every aggregate: on a corpus with no near-dups (or no LSH
    # candidates) sum() over all-NULL is NULL in Spark while the DuckDB
    # oracle COALESCEs per-row to 0 — the counts contract is integer 0.
    return j.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum(F.col("c") * F.col("t")), F.lit(0))
        .cast("long")
        .alias("n_hits"),
        F.expr(
            "CAST(coalesce(sum(c * t), 0) * 1000000"
            " div greatest(coalesce(sum(c), 0), 1) AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(coalesce(sum(c * t), 0) * 1000000"
            " div greatest(coalesce(sum(t), 0), 1) AS BIGINT)"
        ).alias("recall_ppm"),
    )


def kmv_fingerprints(
    documents: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Distinct (src, h) fingerprint rows for the KMV sketch family:
    FNV-1a over whitespace-normalized text mod 2^31-1 — the same
    engine-portable integer hash the MinHash family replays in SQL,
    in the hash space of sketches.kmv_sketch, so the text corpus rides
    the one KMV kernel (sketches.kmv_bottom_k / kmv_estimate)."""
    from pyspark.sql import types as T

    from ..plans import ensure_parallelism

    @F.pandas_udf(T.LongType())
    def _fp(texts: pd.Series) -> pd.Series:
        from .hashing import fnv1a_cp_np

        return pd.Series(
            (fnv1a_cp_np(texts.tolist()) % np.uint64(MINHASH_PRIME)).astype(
                np.int64
            )
        )

    return (
        ensure_parallelism(documents)
        .select(
            F.col(group_col).alias("src"),
            _fp(normalized(text_col)).alias("h"),
        )
        .distinct()
    )


def kmv_source_distinct(
    documents: DataFrame,
    k: int = 256,
    text_col: str = "text",
    group_col: str = "source",
    include_exact: bool = True,
) -> DataFrame:
    """Per-source distinct-document estimation from a KMV bottom-k
    sketch — the sub-linear cardinality monitor for a corpus too big to
    COUNT(DISTINCT) per source (and the batch twin of the streaming
    KMVDistinctMonitor, whose merged state must finish to EXACTLY these
    rows — sketch merging is order-independent). ``include_exact``
    (default, for the gate) adds the true distinct count and err_ppm;
    at 100 TB run est-only (src, m, u_k, est_distinct).
    """
    from .sketches import kmv_bottom_k, kmv_estimate

    fp = kmv_fingerprints(documents, text_col, group_col)
    est = kmv_estimate(kmv_bottom_k(fp, k, ["src"]), k, ["src"])
    if not include_exact:
        return est.orderBy("src")
    exact = fp.groupBy("src").agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    return (
        est.join(exact, "src")
        .withColumn(
            "err_ppm",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000000"
                " div greatest(exact_distinct, 1)"
            ).cast("long"),
        )
        .select(
            F.col("src").alias(group_col),
            "m", "u_k", "est_distinct", "exact_distinct", "err_ppm",
        )
        .orderBy(group_col)
    )


def kmv_source_overlap(
    documents: DataFrame,
    k: int = 256,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    include_exact: bool = True,
) -> DataFrame:
    """Cross-source distinct/overlap estimation from KMV sketches — the
    sub-linear twin of ``source_overlap_matrix``: per source keep only
    the k MINIMUM fingerprint hash values (a KMV / bottom-k sketch,
    Bar-Yossef et al. 2002); merging two sketches estimates the pair's
    distinct-union count as ``(k-1)·P div U_k`` (U_k = k-th smallest of
    the union) and the intersection as ``both·est_union div k`` (both =
    values of the merged top-k present in BOTH sketches). When a pair
    has fewer than k distinct values total, the sketches are complete
    and both estimates ARE the exact counts.

    The fingerprint is FNV-1a over whitespace-normalized text mod
    2^31-1 — the engine-portable integer family every sketch op here
    uses, so the sketch contents, estimates, and error are bit-exact
    replayable in SQL (a DETERMINISTIC sketch: "approximate" describes
    the estimate's relation to the truth, never run-to-run variance).

    ``include_exact`` (the default, for the accuracy gate — cf.
    hll_accuracy) joins the full fingerprint sets for the true
    intersection and an err_ppm column; at 100 TB run est-only
    (include_exact=False) — the whole point of the sketch is that the
    exact join is the thing you can no longer afford.

    Scale shape: one (source, h)-keyed distinct, then the per-source
    sketch and the pair merge are sketches.kmv_bottom_k and
    sketches.kmv_pair_merge — the kmv_overlap_matrix kernel, projected
    here onto (src_a, src_b, m, est_union, est_intersection).
    """
    from ..plans.scratch import scratch_persist
    from .sketches import kmv_bottom_k, kmv_pair_merge

    # fp is read by several branches (sketch, source list, and in
    # include_exact mode both sides of the exact join); unpersisted it
    # re-ran the whole scan + Arrow-UDF hash + distinct per branch
    # (r14 optimization round, guide §2.4/§4) — persist it once.
    fp = scratch_persist(kmv_fingerprints(documents, text_col, group_col))
    # the sketch is likewise read twice (the pair fan-outs); coalesce(1):
    # bounded at sources*k rows no matter the corpus size, and the
    # inherited shuffle partitioning otherwise schedules a full task
    # wave per consumer over a few hundred cached rows (r15 opt, the
    # sketches.py hll_overlap_matrix measurement)
    sketch = scratch_persist(kmv_bottom_k(fp, k, ["src"]).coalesce(1))
    est = kmv_pair_merge(sketch, k, "src").select(
        F.col("group_a").alias("src_a"),
        F.col("group_b").alias("src_b"),
        F.col("kk").alias("m"),
        "est_union",
        F.col("est_inter").alias("est_intersection"),
    )
    if not include_exact:
        return est.orderBy("src_a", "src_b")
    fpa = fp.select(F.col("src").alias("src_a"), "h")
    fpb = fp.select(F.col("src").alias("src_b"), "h")
    exact = (
        fpa.join(fpb, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    return (
        est.join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "m",
            "est_union",
            "est_intersection",
            F.coalesce("exact_intersection", F.lit(0))
            .cast("long")
            .alias("exact_intersection"),
        )
        .withColumn(
            "err_ppm",
            F.expr(
                "abs(est_intersection - exact_intersection) * 1000000"
                " div greatest(exact_intersection, 1)"
            ).cast("long"),
        )
        .orderBy("src_a", "src_b")
    )


def token_dup_inflation(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-weighted exact-dup inflation — the "what fraction of my
    100 TB is copies" dashboard: corpus-wide exact dedup (min-id per
    normalized fingerprint wins), then per-source counts of documents
    and TOKENS that would be removed, plus a __total__ row. Token
    weighting is the operational number (storage/compute cost scales
    with tokens, not docs — a source whose few dups are its longest
    docs is worse than dup_rate_by_group suggests). Keep-attribution is
    GLOBAL: a copy in source B of a doc first seen in source A counts
    against B — the same low-id-wins rule as exact_dedup, so this
    rollup exactly prices what that operator would delete.

    One fingerprint groupBy (map-side combined) + one join back on the
    fingerprint + a #sources-row rollup; all integers — exact oracle.
    """
    fp = documents.select(
        F.col(group_col).alias("grp"),
        F.col(id_col),
        F.md5(normalized(text_col)).alias("fingerprint"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tok"),
    )
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias("keep_id"))
    marked = fp.join(keep, "fingerprint").withColumn(
        "is_dup", (F.col(id_col) != F.col("keep_id")).cast("int")
    )
    per_src = marked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("is_dup").cast("long").alias("n_dup_docs"),
        F.sum(F.col("is_dup") * F.col("n_tok")).cast("long").alias("dup_tokens"),
    )
    from ..plans.scratch import scratch_persist

    per_src = scratch_persist(per_src)
    # the __total__ row re-aggregates the #sources-row rollup, NOT the
    # corpus (per-source sums of per-row quantities compose) — one scan
    # of the data total, not two
    total = per_src.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_dup_docs").cast("long").alias("n_dup_docs"),
        F.sum("dup_tokens").cast("long").alias("dup_tokens"),
    ).select(F.lit("__total__").alias("grp"), "*")
    return (
        per_src.unionByName(total)
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_tokens",
            "n_dup_docs",
            "dup_tokens",
            # DECIMAL(38,0) numerator: dup_tokens is a corpus-token
            # total — ~2e13 at 100 TB, past the 9.2e12 BIGINT*1e6
            # bound (the r08 avg_tokens_ppm lesson); and the two-term
            # divmod identity can't help when the REMAINDER is also
            # token-scaled. Exact in both engines (DuckDB: HUGEINT).
            F.expr(
                "CAST(CAST(dup_tokens AS DECIMAL(38,0)) * 1000000"
                " div greatest(n_tokens, 1) AS BIGINT)"
            ).alias("inflation_ppm"),
        )
        .orderBy(group_col)
    )


def bloom_build_words(
    documents: DataFrame,
    n: int = 4,
    m_bits: int = 1 << 18,
    k_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Build the packed Bloom-filter word table (word_idx, word) over a
    corpus's distinct word n-gram shingles — the construction half of
    ``bloom_decontaminate``, exposed separately because the filter is
    also the natural STREAMING dedup/decontamination state: bit_or is
    commutative, associative and idempotent, so word tables built from
    any partitioning of the corpus into micro-batches OR-merge to the
    identical filter (streaming.BloomFilterMonitor holds exactly this
    frame, bounded at m_bits/32 rows forever). Shingle → FNV-1a (h1,h2)
    → Kirsch-Mitzenmacher positions pos_j = (h1 + j·h2) mod m_bits,
    packed 32 bits/word (keeps every word positive in BIGINT in Spark
    AND the DuckDB oracle). Built by ONE bit_or aggregate straight over
    the shingle occurrences; output ≤ m_bits/32 rows regardless of
    corpus size.

    No distinct: bit_or is idempotent, so duplicate occurrences set the
    same bits and the word table is identical with or without it — and
    the distinct was the plan's only corpus-sized exchange (it shuffled
    every shingle STRING; measured 4.9 MB vs the agg's ≤ m_bits/32-row
    partials at sf0.1). Without it the bit_or's map-side partial
    aggregation bounds what crosses the wire at m_bits/32 rows per map
    task no matter the corpus size (guide §2.3 "aggregate before you
    shuffle"), and the hash UDF's extra duplicate rows are one
    vectorized Arrow pass (r14 optimization round).
    """
    m = int(m_bits)
    k = int(k_hashes)
    # ``shingles`` (optional): a precomputed distinct (shingle,) frame —
    # the decontaminate sharing hook (r14 optimization round)
    sh = (
        shingles
        if shingles is not None
        else shingle_sets(documents, text_col, id_col, n).select("shingle")
    ).withColumn("__bid", F.lit(0))
    bh = _h1_h2(sh, "__bid")
    bpos = bh.select(
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
        F.col("__h1"),
        F.col("__h2"),
    ).select(
        F.pmod(F.col("__h1") + F.col("j") * F.col("__h2"), F.lit(m)).alias("pos")
    )
    return (
        bpos.select(
            F.expr("pos div 32").alias("word_idx"),
            F.expr("CAST(pos % 32 AS INT)").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("word"))
    )


def _bloom_probe_set_count(
    th: DataFrame, bloom: DataFrame, m: int, k: int
) -> DataFrame:
    """Attach ``__s`` = how many of the row's k Kirsch-Mitzenmacher
    probe bits are set in the packed word table ``bloom`` — WITHOUT
    exploding k probe rows per shingle: k broadcast hash joins (one
    per probe, each an O(1) codegen probe of the ≤ m/32-row table)
    replace the r14 explode + single join + k×-row shuffle shape, so
    the downstream (id, h1, h2) exchange carries ONE slim row per
    shingle. Shared by bloom_decontaminate and
    streaming.BloomFilterMonitor so batch and stream probes cannot
    drift.

    Measured out (recorded so nobody retries them): (a) all-k probes
    via a collected map/dense-array cell cross-joined onto the rows —
    element_at on a MAP is a linear key scan (the m=2^22 monitor ran
    ~5x slower), and even the O(1) dense ARRAY loses because the
    nested-loop join copies the whole cell into every joined row
    buffer (stage-sum 1.18 → 1.94s at sf0.1); (b) an aggregate()
    lambda over the probes — higher-order-function lambdas run
    interpreted (6.8s vs 1.6s). Expects ``__h1``/``__h2`` columns;
    the k word columns are dropped before return."""
    probed = th
    hits = []
    for j in range(int(k)):
        bj = bloom.selectExpr(
            f"word_idx AS __wi{j}", f"word AS __w{j}"
        )
        probed = probed.join(
            F.broadcast(bj),
            F.expr(
                f"pmod(__h1 + {j} * __h2, {m}) div 32 = __wi{j}"
            ),
            "left",
        )
        hits.append(
            f"CASE WHEN __w{j} IS NOT NULL AND (shiftright(__w{j}, "
            f"CAST(pmod(__h1 + {j} * __h2, {m}) % 32 AS INT)) & 1) = 1 "
            f"THEN 1 ELSE 0 END"
        )
    keep = [c for c in th.columns]
    return probed.selectExpr(*keep, f"{' + '.join(hits)} AS __s")


def bloom_decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    m_bits: int = 1 << 18,
    k_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Bounded-memory benchmark decontamination: a Bloom filter over the
    benchmark's word n-gram shingles replaces the exact shingle set, so
    the contamination check against a 100 TB corpus carries a FIXED
    ``m_bits/32``-row broadcast table instead of the benchmark's full
    (unbounded) distinct-shingle relation — the scale mode of
    ``decontaminate``, with the textbook Bloom guarantee: NO false
    negatives (every truly contaminated doc is flagged), false positives
    at ≈ (1 - e^(-k·n_shingles/m))^k. For a <1% FP target size m_bits
    for ~10 bits/shingle and raise k_hashes to ≈7; the defaults here
    (m_bits=2^18, k_hashes=4) are sized for the gate corpora and give
    ~2.4% at 10 bits/shingle — the registered audit query measures the
    real rate against the exact join, so an under-sized filter is
    visible, never silent. Note ``n_maybe_shingles`` counts distinct
    (h1, h2) FNV pairs, not distinct shingles: two shingles colliding on
    the 2-hash pair merge into one count (the oracle mirrors this, so
    the parity contract is unaffected; the deviation from a literal
    per-shingle reading only matters at astronomically small odds,
    ~n²/2^128).

    Engine-portable construction: shingle → FNV-1a (h1, h2) (the same
    hashing.py primitives MinHash uses), Kirsch-Mitzenmacher positions
    pos_j = (h1 + j·h2) mod m_bits, packed into 32-bit words
    (word = pos div 32 — 32 keeps every word value positive in BIGINT in
    both engines; 64 would need two's-complement top-bit care). The
    filter is built with one bit_or aggregate over the benchmark
    positions; the corpus side joins its positions against the
    ≤ m_bits/32-row word table (broadcast under AQE) and a shingle is
    "maybe present" iff ALL k probed bits are set. Returns
    (id, n_maybe_shingles) for flagged docs — same shape as the exact
    op, deterministically replayable in the DuckDB oracle bit for bit.
    """
    m = int(m_bits)
    k = int(k_hashes)
    # optional precomputed frames, same contract as ``decontaminate``'s:
    # train_shingles = (id, shingle) exploded rows, bench_shingles = the
    # benchmark's distinct (shingle,) relation (r14 optimization round)
    from ..plans.scratch import scratch_persist

    # persist + coalesce: the k probe joins below each broadcast the
    # word table — unpersisted, every broadcast build re-ran the whole
    # benchmark scan + Arrow hash + bit_or pipeline (k×). Bounded at
    # m_bits/32 rows no matter the benchmark size, so one partition
    # (r15 opt, the sketches.py bounded-frame convention).
    bloom = scratch_persist(
        bloom_build_words(
            benchmark, n, m, k, text_col, id_col, shingles=bench_shingles
        ).coalesce(1)
    )

    train_sh = (
        train_shingles
        if train_shingles is not None
        else shingle_sets(documents, text_col, id_col, n)
    )
    th = _h1_h2(train_sh, id_col)
    # All k probes are evaluated PER SHINGLE ROW (k broadcast hash
    # probes of the ≤ m_bits/32-row word table), replacing the r14
    # shape's explode(k) + word_idx broadcast-join + k×-row shuffle
    # into the (id, h1, h2) aggregate (guide §2.3 shuffle-fewer-bytes:
    # the exploded position frame was the query's one corpus-sized
    # exchange — 4 probe rows per shingle at k=4, measured 5.1 MB vs
    # 1.3 MB at sf0.1; at any corpus size this cuts the exchange to 1
    # slim row per shingle). The (id, h1, h2) group-then-==k stays
    # EXACTLY as documented: the per-row set-bit count __s sums over a
    # colliding group's rows to the same n_set the per-probe-row sum
    # produced, so (h1, h2)-collision merging — including the
    # degenerate n_rows·s == k keeps — is bit-identical.
    return (
        _bloom_probe_set_count(th, bloom, m, k)
        .groupBy(id_col, "__h1", "__h2")
        .agg(F.sum("__s").alias("n_set"))
        .where(F.col("n_set") == k)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_maybe_shingles"))
        .orderBy(id_col)
    )


def decontaminate_mask(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    mask_token: str = "<MASK>",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level decontamination: instead of DROPPING a contaminated doc
    (decontaminate's flag), censor exactly the word positions covered by
    any benchmark-shared n-gram — the "mask the overlapping spans"
    treatment that keeps the rest of a long document trainable (dropping
    whole books over one leaked quiz answer wastes data at 100 TB).

    A shingle starting at word i covers positions [i, i+n); the covered
    set per doc is the union over all hit shingles. Returns every doc
    (id, masked text, n_masked_tokens) — clean docs pass through with
    count 0. Masking is positional membership, not ordering, so the
    unordered collect_set is safe and the output is exactly replayable
    in SQL.

    Scale shape: the shingle explode + the (tiny, broadcast) benchmark
    join are the same stages decontaminate runs; the mask itself is one
    row-local transform over the words array — no extra shuffle beyond
    the per-doc position union.
    """
    from ..plans import ensure_parallelism

    df = ensure_parallelism(documents).withColumn(
        "__w", F.split(F.col(text_col), " ")
    )
    idx_sh = (
        df.where(F.size("__w") >= n)
        .select(
            F.col(id_col),
            F.posexplode(word_ngrams(n)).alias("__i", "shingle"),
        )
    )
    bench_sh = (
        shingle_sets(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )
    hits = (
        idx_sh.join(bench_sh, "shingle")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__i"), F.col("__i") + F.lit(n - 1))
            ).alias("__p"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("__p").alias("__hits"))
    )
    # escape the token for the SQL string literal (quotes/backslashes in
    # a user-supplied mask would otherwise break or mutate the lambda)
    tok = mask_token.replace("\\", "\\\\").replace("'", "\\'")
    masked = F.expr(
        "concat_ws(' ', zip_with(__w, sequence(0, size(__w) - 1), "
        f"(w, p) -> IF(array_contains(coalesce(__hits, CAST(array() AS ARRAY<INT>)), p), "
        f"'{tok}', w)))"
    )
    return (
        df.join(hits, id_col, "left")
        .select(
            id_col,
            masked.alias("text_masked"),
            F.coalesce(F.size("__hits"), F.lit(0)).cast("long").alias(
                "n_masked_tokens"
            ),
        )
        .orderBy(id_col)
    )


def dup_span_coverage(
    documents: DataFrame,
    n: int = 4,
    min_count: int = 2,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Memorization-risk audit: the fraction of corpus TOKENS that sit
    inside a word n-gram occurring at least ``min_count`` times corpus-
    wide — the number the dedup literature uses to quantify how much of
    a training set is verbatim-repeatable (duplicated spans are what
    models memorize; post-dedup this should collapse). Reported per
    source: total token positions, covered positions, coverage_ppm —
    the per-feed ranking tells you WHICH ingest is feeding the model
    boilerplate.

    Shape: indexed shingles (the decontaminate_mask projection), one
    corpus-wide shingle count (map-side combined), a frequency-filtered
    join back, and a position-union distinct — all keyed shuffles; the
    covered-position explode is bounded by n · hit-shingles. Docs
    shorter than ``n`` words contribute positions but can never be
    covered (a 3-word doc has no 4-gram). Integer counts + floor-div
    ppm — exact cross-engine.
    """
    from ..plans import ensure_parallelism

    df = ensure_parallelism(documents).withColumn(
        "__w", F.split(F.col(text_col), " ")
    )
    totals = df.groupBy(group_col).agg(
        F.sum(F.size("__w").cast("long")).alias("total_tokens")
    )
    from ..plans.scratch import scratch_persist

    # consumed twice (corpus-wide count + the frequency-filtered join
    # back); without the persist the whole posexplode — the CPU-dense
    # stage — runs once per consumer (r14 opt; the _shingle_pair_source
    # precedent)
    idx_sh = scratch_persist(
        df.where(F.size("__w") >= n).select(
            F.col(id_col),
            F.col(group_col),
            F.posexplode(word_ngrams(n)).alias("__i", "shingle"),
        )
    )
    hot = (
        idx_sh.groupBy("shingle")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("shingle")
    )
    covered = (
        idx_sh.join(hot, "shingle")
        .select(
            id_col,
            group_col,
            F.explode(
                F.sequence(F.col("__i"), F.col("__i") + F.lit(n - 1))
            ).alias("__p"),
        )
        .distinct()
        .groupBy(group_col)
        .agg(F.count("*").alias("covered_tokens"))
    )
    return (
        totals.join(covered, group_col, "left")
        .select(
            group_col,
            "total_tokens",
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
        )
        .withColumn(
            # DECIMAL(38,0): token totals cross the BIGINT*1e6 bound at
            # 100 TB (see inflation_ppm); exact in both engines
            "coverage_ppm",
            F.expr(
                "CAST(CAST(covered_tokens AS DECIMAL(38,0)) * 1000000"
                " div total_tokens AS BIGINT)"
            ),
        )
        .orderBy(group_col)
    )


def minhash_band_recall(
    documents: DataFrame,
    n_hashes: int = 64,
    bands_options: tuple[int, ...] = (32, 16, 8),
    n: int = 3,
    min_j_ppm: int = 400_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """The RECALL side of the band-shape decision —
    ``minhash_band_balance``'s companion: per candidate band count, the
    measured fraction of EXACT-Jaccard true pairs (integer ppm, from the
    inverted-index pair source) that the banding's candidate set
    captures, bucketed by true-Jaccard decile (``j_bucket`` =
    j_ppm div 100000). band_balance prices each shape in candidate
    volume; this prices it in missed true pairs across the similarity
    spectrum, so "sharpen the shape as the corpus grows" becomes a
    two-sided measured trade instead of the (1-(1-j^r)^b) formula on
    faith. ``lsh_dedup_eval`` is the one-row single-shape special case.

    Shape at scale: exact ground truth is inverted-index cost
    (Σ df² — the lsh_dedup_eval / kmv ``include_exact`` audit pattern:
    run on a shard or a deterministic sample, not the full corpus; the
    banding shapes themselves are corpus-feasible). One signature pass
    (scratch-persisted) feeds every shape; each shape adds a slim
    bucket self-join + a distinct + one broadcast-joined rollup over
    the (truth-sized, not corpus-sized) pair frame. All integer,
    replayed exactly by the DuckDB oracle (at the default
    ``max_doc_freq=None``). On duplicate-heavy / narrow-vocabulary
    shards the truth join's Σdf² explodes on stopword-like shingles —
    pass ``max_doc_freq`` (the same df-cut knob as
    ``ngram_jaccard_pairs``, truth j becomes a slight underestimate)
    or shrink the shard; measured: a 20k-doc shard of the 500k
    low-diversity corpus needs the df-cut to finish at all.
    """
    from ..plans.scratch import scratch_persist

    pair_src = _shingle_pair_source(
        documents, n, text_col, id_col, max_doc_freq
    )
    truth = scratch_persist(
        _pair_counts(pair_src, id_col)
        .select(
            "doc_a",
            "doc_b",
            F.expr("i * 1000000 div (na + nb - i)").alias("j_ppm"),
        )
        .where(F.col("j_ppm") >= min_j_ppm)
    )
    sig = scratch_persist(
        minhash_signatures(documents, n_hashes, n, text_col, id_col)
    )
    # Fused shape evaluation (r14 optimization round, the band_balance
    # pattern): one shape-tagged bucket frame, ONE candidate self-join
    # on (bands, band, bh) and ONE truth left-join/rollup serve every
    # shape — the previous per-shape loop ran 3 bucket self-joins,
    # 3 distincts and 3 truth joins over the same signature table.
    # Same rows, one signature scan + one candidate join at any size.
    for bands in bands_options:
        assert n_hashes % bands == 0
    shape_structs = ", ".join(
        f"named_struct('bands', {bands}, 'band', {b}, "
        f"'bh', {_band_fold(b, n_hashes // bands)})"
        for bands in bands_options
        for b in range(bands)
    )
    buckets = sig.select(
        F.col(id_col), F.expr(f"explode(array({shape_structs}))").alias("bb")
    ).select(id_col, "bb.bands", "bb.band", "bb.bh")
    left = buckets.select(
        F.col(id_col).alias("doc_a"), "bands", "band", "bh"
    )
    right = buckets.select(
        F.col(id_col).alias("doc_b"), "bands", "band", "bh"
    )
    cand = (
        left.join(right, ["bands", "band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("bands", "doc_a", "doc_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    truth_x = truth.withColumn(
        "bands",
        F.explode(
            F.array(*[F.lit(b).cast("int") for b in bands_options])
        ),
    )
    return (
        truth_x.join(cand, ["bands", "doc_a", "doc_b"], "left")
        .withColumn("j_bucket", F.expr("CAST(j_ppm div 100000 AS INT)"))
        .groupBy("bands", "j_bucket")
        .agg(
            F.count("*").cast("long").alias("n_true"),
            F.coalesce(F.sum("hit"), F.lit(0))
            .cast("long")
            .alias("n_captured"),
        )
        .select(
            "bands",
            "j_bucket",
            "n_true",
            "n_captured",
            F.expr("n_captured * 1000000 div n_true")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("bands", "j_bucket")
    )


def savings_profile(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-dup cluster-size profile with the TOKEN savings of
    collapsing each cluster to its canonical (min-id) member — the
    "what does dedup buy us" dashboard: one row per cluster size with
    how many clusters/docs sit there and how many whitespace tokens
    the non-canonical copies hold. Uses the SAME normalized-text
    fingerprint as ``exact_dedup``/``dup_rate_by_group``, so the
    numbers compose with the rest of the exact-dedup family.

    Copies share normalized text but not necessarily raw text, so
    token counts are per-document (the canonical's own count comes via
    min_by, never an assume-equal shortcut). Plan: one fingerprint
    aggregation (map-side combined) then a cluster-sized rollup —
    linear, one shuffle, same cost class as exact_dedup at 100 TB.
    """
    tok = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        F.size(F.split(F.col(text_col), " "))
    )
    per_doc = documents.select(
        F.md5(normalized(text_col)).alias("__fp"),
        F.col(id_col).alias("__id"),
        tok.cast("long").alias("__tok"),
    )
    groups = per_doc.groupBy("__fp").agg(
        F.count("*").cast("long").alias("__sz"),
        F.sum("__tok").cast("long").alias("__tok_sum"),
        F.expr("min_by(__tok, __id)").cast("long").alias("__keep_tok"),
    )
    return (
        groups.groupBy(F.col("__sz").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("__sz").cast("long").alias("n_docs"),
            (F.sum("__sz") - F.count("*")).cast("long").alias("n_dup_docs"),
            F.sum(F.col("__tok_sum") - F.col("__keep_tok"))
            .cast("long")
            .alias("dup_tokens"),
        )
        .orderBy("cluster_size")
    )


def prefix_filter_pairs(
    documents: DataFrame,
    threshold_ppm: int = 500_000,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity self-join via prefix filtering
    (Chaudhuri/Ganti/Kaushik SSJoin, ICDE 2006; Xiao et al. PPJoin,
    WWW 2008) — same output contract as ngram_jaccard_pairs, radically
    smaller candidate set: order every doc's distinct shingles by a
    global canonical order (document frequency asc, shingle asc —
    rarest first) and join only on each doc's PREFIX of length
    |d| − ceil(τ·|d|) + 1. The prefix lemma makes this LOSSLESS: if
    J(a,b) ≥ τ, the globally-smallest common shingle must sit inside
    BOTH prefixes (were it outside a's prefix, all of a∩b would fit in
    a's suffix of size ceil(τ·|a|) − 1 < required overlap ceil(τ·|a|)).
    So unlike the MinHash/LSH family there are NO false negatives, and
    unlike the full inverted-index join the quadratic term is
    Σ_prefix-shingle f² — prefixes hold the RARE shingles, exactly
    where f is small, while the stopword-like high-f shingles that
    dominate ngram_jaccard's Σ f² land in suffixes and never generate
    a candidate. The length filter (τ·|a| ≤ |b| ≤ |a|/τ, integer ppm
    form) prunes cross-size pairs inside the same join.

    Thresholds are integer ppm end-to-end: prefix length uses
    ceil(τ|d|) = (τ_ppm·|d| + 999999) div 1e6, and the final keep test
    is i·1e6 ≥ τ_ppm·(|a|+|b|−i) — no float round-trip at the
    boundary (the est_jaccard lesson from pipeline_card). The emitted
    jaccard double is display-only, derived from the same integers.

    ``prefix`` (optional, ADVICE r14 contract note): a PREPARED ranked-
    prefix frame — it must be ``_ranked_prefix(sh, dfc, tau, id_col)``
    over the SAME documents/n/threshold_ppm/text_col/id_col this call
    receives (columns: id_col, n_sh, __rk, shingle), normally already
    repartitioned on the shingle and scratch-persisted. A frame built
    with different parameters silently yields FALSE NEGATIVES (the
    prefix lemma no longer covers every qualifying pair). The only
    intended caller is ``jaccard_pairs_routed``, which hands in the
    exact frame its pricing pass filled (r14 opt).

    PPJoin's POSITIONAL filter tightens the candidate join further
    (also lossless — proof at the predicate): a match at prefix ranks
    (rk_a, rk_b) bounds the whole overlap by 1 + min(na−rk_a, nb−rk_b),
    which must reach o_min = ceil(τ(na+nb)/(1+τ)).

    Scale: candidate generation cost is sized BEFORE the verify join by
    construction (prefix rows ≈ (1−τ)·shingle rows); verification cost
    is Σ_cand |a| via two semi-structured joins keyed on (doc, shingle)
    — linear in candidates · doc size, never all-pairs. The df-ordered
    prefix needs one extra groupBy (shingle df counts) + one per-doc
    window (partitioned by doc, never global). CROSSOVER HONESTY: at
    small Σ f² (e.g. sf0.1's 5k docs) the extra stages make this ~5x
    slower than ngram_jaccard_pairs' single inverted-index join — this
    operator is for when the pre-join arithmetic says brute is
    unaffordable (measured on a 500k-doc table: 227e9 brute tuples vs
    3.2e9 at τ=0.9). Run the cheap Σ C(f,2) aggregate first and pick
    the join the numbers pick.
    """
    if not (0 < int(threshold_ppm) <= 1_000_000):
        raise ValueError("threshold_ppm must be in (0, 1e6]")
    tau = int(threshold_ppm)
    from ..plans.scratch import scratch_persist

    sh = _shingle_pair_source(documents, n, text_col, id_col, None)
    if prefix is None:
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        # persist the ranked prefix: the self-join reads it on BOTH sides
        # (without the cache the df-join + per-doc rank window executes
        # twice — measured as two identical 3.9 MB exchange fills at
        # sf0.1), and pin the join-side partitioning to the session's
        # shuffle parallelism on the join key: the candidate join's
        # per-row cost (PPJoin predicate over f² shingle matches) is
        # compute-dense while its input bytes are tiny, so AQE's
        # byte-based coalescing serialized it onto 1-5 tasks. The
        # explicit-N repartition is the same shingle-hash exchange the
        # join requires, opted out of coalescing; N follows
        # spark.sql.shuffle.partitions (conf-parameterised, not a local
        # constant).
        n_part = int(
            documents.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"
            )
        )
        prefix = scratch_persist(
            _ranked_prefix(sh, dfc, tau, id_col).repartition(
                n_part, "shingle"
            )
        )
    # else: the caller (jaccard_pairs_routed) hands in ITS persisted
    # ranked-prefix frame — the same _ranked_prefix + repartition
    # construction its pricing pass already filled, so the route pays
    # no second df-count + rank-window execution (r14 opt).
    a, b = prefix.alias("a"), prefix.alias("b")
    ai, bi = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    # PPJoin positional filter, LOSSLESS: for a qualifying pair's
    # globally-smallest common shingle s*, every other common shingle
    # ranks after s* in BOTH docs, so overlap <= 1 + min(na - rk_a,
    # nb - rk_b); a pair with J >= tau needs overlap >=
    # o_min = ceil(tau*(na+nb)/(1e6+tau)) (from o*1e6 >= tau*(na+nb-o)),
    # and since s* generates one of the pair's match rows, keeping
    # pairs where ANY row passes the bound keeps every true pair.
    na_l = F.col("a.n_sh").cast("long")
    nb_l = F.col("b.n_sh").cast("long")
    o_min = F.expr(
        f"(CAST({tau} AS BIGINT) * (a.n_sh + CAST(b.n_sh AS BIGINT))"
        f" + {1_000_000 + tau - 1}) div {1_000_000 + tau}"
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (ai < bi)
            & (na_l * 1_000_000 >= F.lit(tau).cast("long") * F.col("b.n_sh"))
            & (nb_l * 1_000_000 >= F.lit(tau).cast("long") * F.col("a.n_sh"))
            & (
                F.lit(1)
                + F.least(
                    na_l - F.col("a.__rk"), nb_l - F.col("b.__rk")
                )
                >= o_min
            ),
        )
        .select(
            ai.alias("doc_a"),
            F.col("a.n_sh").alias("na"),
            bi.alias("doc_b"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()
    )
    # The verify join below amplifies every candidate row into ~|a| shingle
    # rows before the (doc_b, shingle) probe — per-row compute the AQE
    # byte-based coalescing cannot see (measured at sf0.1: the distinct
    # output coalesced to ONE task and the verify ran serial, 2×~1.5s).
    # Pin the candidate frame to the session's shuffle parallelism on
    # the verify key: the SAME hash partitioning the join needs anyway,
    # so at scale this exchange replaces (not adds to) the join's
    # ENSURE_REQUIREMENTS exchange; the explicit N opts it out of AQE
    # coalescing. Parameterised via spark.sql.shuffle.partitions.
    n_part = int(
        cand.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cand = cand.repartition(n_part, "doc_a")
    sa = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("i"))
    )
    union_sz = F.col("na").cast("long") + F.col("nb") - F.col("i")
    return (
        inter.where(F.col("i") * 1_000_000 >= F.lit(tau) * union_sz)
        .select(
            "doc_a",
            "doc_b",
            F.col("i").cast("long").alias("inter"),
            union_sz.cast("long").alias("union_sz"),
            (F.col("i").cast("double") / union_sz).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _choose2_sql(f_col: str) -> str:
    """C(f,2) EXACT in DECIMAL(38,0) for a BIGINT f: halve the even
    factor BEFORE the product — ``x div 2`` on a DECIMAL returns LONG
    and silently wraps (measured: 9e19 div 2 → 8.1e18 garbage), and
    f·(f−1) itself crosses BIGINT near f ≈ 3e9, so neither
    multiply-then-div nor BIGINT arithmetic survives 100 TB counts.
    f=0/1 both yield 0 (the 0·(−1) term)."""
    f = f_col
    return (
        f"(CAST(({f}) div 2 AS DECIMAL(38,0)) * (({f}) - 1) "
        f"+ (({f}) % 2) * CAST((({f}) - 1) div 2 AS DECIMAL(38,0)))"
    )


def _shingle_pair_mass_expr(f_col: str) -> str:
    """Σ C(f,2) as DECIMAL(38,0) — the ONE definition of a route's
    candidate-pair volume, shared by jaccard_plan and
    jaccard_pairs_routed so the standalone pricer and the router can
    never drift (the r12 qgram-pricing-dedup lesson). Bounded by
    (Σf)² — inside DECIMAL(38) through ~1e19 shingle rows."""
    return (
        f"coalesce(sum({_choose2_sql(f_col)}), "
        f"CAST(0 AS DECIMAL(38,0)))"
    )


def _ranked_prefix(
    sh: DataFrame, dfc: DataFrame, tau: int, id_col: str
) -> DataFrame:
    """THE rarest-first prefix construction — the one definition both
    the operator (prefix_filter_pairs' candidate join) and the pricer
    (_prefix_shingle_counts → jaccard_plan / jaccard_pairs_routed)
    consume, so priced rows ARE joined rows by construction (the r12
    qgram-pricing-dedup lesson, applied to the prefix build itself):
    rank each doc's distinct shingles by the global canonical order
    (document frequency asc, shingle asc), keep ranks ≤
    |d| − ceil(τ·|d|) + 1 in integer ppm. Returns (id, n_sh, __rk,
    shingle) — __rk feeds PPJoin's positional filter.

    BIGINT before the ppm product: n_sh is INT32 and tau*n_sh wraps
    past ~2148 distinct shingles (the repo-pinned CAST-first gotcha).
    The per-doc window partitions by doc — never global."""
    wd = Window.partitionBy(id_col).orderBy("__df", "shingle")
    ranked = sh.join(dfc, "shingle").withColumn(
        "__rk", F.row_number().over(wd)
    )
    prefix_len = (
        F.col("n_sh")
        - F.expr(f"(CAST({tau} AS BIGINT) * n_sh + 999999) div 1000000")
        + F.lit(1)
    )
    return ranked.where(F.col("__rk") <= prefix_len).select(
        id_col, "n_sh", "__rk", "shingle"
    )


def _prefix_shingle_counts(
    sh: DataFrame, dfc: DataFrame, tau: int, id_col: str
) -> DataFrame:
    """Per-shingle doc frequency INSIDE the rarest-first prefixes —
    (shingle, f) for the prefix-filter route's candidate join, grouped
    straight off _ranked_prefix so pricer and operator share one
    prefix definition; the equivalence is pinned in tests."""
    return (
        _ranked_prefix(sh, dfc, tau, id_col)
        .groupBy("shingle")
        .agg(F.count("*").cast("long").alias("f"))
    )


def jaccard_plan(
    documents: DataFrame,
    threshold_ppm: int = 500_000,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT candidate-pair volume of BOTH exact-Jaccard joins, priced
    BEFORE any pair join — the qgram_plan/band_plan methodology applied
    to the set-similarity family. ONE row:

    - ``n_docs`` / ``shingle_rows`` / ``distinct_shingles`` /
      ``max_freq``: corpus shape after the ≥ n-words floor;
    - ``brute_pairs``: n·(n−1)/2, the all-pairs baseline;
    - ``inverted_pairs``: Σ C(f,2) over every shingle's doc frequency —
      the exact candidate-pair count ngram_jaccard_pairs' single
      inverted-index self-join materializes (its Σ f² cost term, in
      ordered-pair form);
    - ``prefix_pairs``: the same mass restricted to the rarest-first
      PREFIXES — what prefix_filter_pairs' candidate join materializes
      on its equality key (its length/positional filters prune further,
      so this is the honest upper bound of that join's work).

    Decision rule (prefix_filter_pairs' crossover, now executable via
    jaccard_pairs_routed): inverted affordable → inverted (fewer
    stages, no df-rank window — ~5× faster when Σ f² is small);
    inverted over budget → prefix (rare-shingle prefixes collapse the
    stopword-dominated f² terms: 227e9 → 3.2e9 at τ=0.9 on the 500k
    corpus); both over budget → don't run the join. All pair counts
    are DECIMAL(38,0) — f² crosses BIGINT near 3e9 docs."""
    if not (0 < int(threshold_ppm) <= 1_000_000):
        raise ValueError("threshold_ppm must be in (0, 1e6]")
    tau = int(threshold_ppm)
    from ..plans.scratch import scratch_persist

    sh = _shingle_pair_source(documents, n, text_col, id_col, None)
    dfc = scratch_persist(
        sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    )
    shape = sh.agg(
        F.countDistinct(id_col).cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("shingle_rows"),
    )
    inv = dfc.agg(
        F.count("*").cast("long").alias("distinct_shingles"),
        F.coalesce(F.max("__df"), F.lit(0)).cast("long").alias("max_freq"),
        F.expr(_shingle_pair_mass_expr("__df")).alias("__inv2"),
    )
    pf = _prefix_shingle_counts(sh, dfc, tau, id_col).agg(
        F.expr(_shingle_pair_mass_expr("f")).alias("__pf2")
    )
    # 1-row scalar attaches (the declared cartesian pattern)
    return (
        shape.crossJoin(inv)
        .crossJoin(pf)
        .select(
            "n_docs",
            "shingle_rows",
            "distinct_shingles",
            "max_freq",
            F.expr(_choose2_sql("n_docs")).alias("brute_pairs"),
            F.col("__inv2").alias("inverted_pairs"),
            F.col("__pf2").alias("prefix_pairs"),
        )
    )


class _BudgetExceeded(ValueError):
    """Base for priced-join budget refusals: stores the refused msg +
    two plan dicts and pickles cleanly. BaseException's default reduce
    re-calls __init__(*args) with args=(msg,) only, so without this
    ONE __reduce__ every subclass's unpickle (pytest-xdist,
    multiprocessing, any cross-process re-raise) would TypeError
    instead of re-raising the original error with its plan rows (the
    ADVICE r12 QgramBudgetExceeded bug — fixed here once so the next
    budget-refusal exception can't re-introduce it)."""

    def __init__(self, msg: str, plan_a: dict, plan_b: dict):
        super().__init__(msg)
        self._plans = (plan_a, plan_b)

    def __reduce__(self):
        return (type(self), (self.args[0], *self._plans))


class JaccardBudgetExceeded(_BudgetExceeded):
    """Raised by jaccard_pairs_routed when the candidate-pair mass
    exceeds the caller's budget on BOTH routes (inverted-index and
    prefix-filtered). Carries both plan rows so the caller can raise
    the threshold, apply a df-cut (ngram_jaccard_pairs' max_doc_freq),
    or exact-dedup first without re-pricing."""

    def __init__(self, msg: str, plan_inverted: dict, plan_prefix: dict):
        super().__init__(msg, plan_inverted, plan_prefix)
        self.plan_inverted = plan_inverted
        self.plan_prefix = plan_prefix


def jaccard_pairs_routed(
    documents: DataFrame,
    budget: int | Callable[[int, int], int],
    threshold_ppm: int = 500_000,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The exact-Jaccard family behind its own pricer — the decision
    rule prefix_filter_pairs' docstring specifies ("run the cheap
    Σ C(f,2) aggregate first and pick the join the numbers pick"),
    executable, with budget refusal (the qgram_edit_pairs_routed shape
    applied to set similarity). Output contract == prefix_filter_pairs
    EXACTLY: (doc_a, doc_b, inter, union_sz, jaccard), doc_a < doc_b,
    ordered — both routes are lossless (the prefix lemma), so the
    result is route-independent; only the cost differs.

    Routing:

    1. Price the inverted-index join: Σ C(f,2) over the full shingle
       df table (one aggregate on the persisted shingle frame — the
       cheap pricing the crossover note asks for). Affordable: run it
       (single self-join + groupBy, no df-rank window — the fast route
       whenever stopword-like shingles don't dominate).
    2. Over budget: price the prefix-filtered join — the same mass
       restricted to rarest-first prefixes (one window + aggregate
       over the SAME cached shingle table, no corpus rescan).
       Affordable: run prefix_filter_pairs — its internal
       _shingle_pair_source call analyzes to the identical plan, so
       scratch_persist's plan-equality lookup serves the cached
       shingle table and the route pays no second corpus scan.
    3. Both over budget: raise JaccardBudgetExceeded carrying both
       plan rows (raise τ, df-cut via ngram_jaccard_pairs'
       max_doc_freq, or exact-dedup first — boilerplate corpora where
       even rare-prefix shingles are hot are exactly the corpora whose
       answer is dominated by duplicate islands).

    routed == prefix_filter_pairs == the brute oracle is pinned in
    pytest on natural and near-dup-injected corpora across both budget
    regimes; the registered gate's oracle recomputes the pair set
    independently in SQL every round."""
    if not callable(budget) and budget < 0:
        raise ValueError("budget must be >= 0")
    if not (0 < int(threshold_ppm) <= 1_000_000):
        raise ValueError("threshold_ppm must be in (0, 1e6]")
    tau = int(threshold_ppm)
    from ..plans.scratch import scratch_persist

    sh = _shingle_pair_source(documents, n, text_col, id_col, None)
    # the SAME analyzed plan prefix_filter_pairs builds internally —
    # persisted so route 2's re-derivation is a cache hit, not a rescan
    dfc = scratch_persist(
        sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    )
    # The ranked-prefix frame, built lazily (only routes that price or
    # join the prefix mass pay for it) with prefix_filter_pairs' OWN
    # construction — repartitioned on the join key and persisted, so
    # the pricing pass FILLS the exact frame the prefix route joins
    # (r14 opt: previously the pricing ran the df-join + rank-window
    # pipeline transiently and the operator re-ran it from scratch).
    ranked: DataFrame | None = None

    def _ranked() -> DataFrame:
        nonlocal ranked
        if ranked is None:
            n_part = int(
                documents.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions", "200"
                )
            )
            ranked = scratch_persist(
                _ranked_prefix(sh, dfc, tau, id_col).repartition(
                    n_part, "shingle"
                )
            )
        return ranked

    pf_mass: int | None = None
    if callable(budget):
        # budget as a function of (inverted_pairs, prefix_pairs) — r14
        # opt, the qgram_edit_pairs_routed shape: callers whose budget
        # is derived from the pricing (the gate's midpoint rule)
        # previously ran a standalone jaccard_plan pass just to compute
        # the int, duplicating every pricing aggregate this function
        # re-runs. Both masses come from ONE fused collect here (the
        # 1-row scalar-attach crossJoin, jaccard_plan's own shape); the
        # callable returns the int budget and routing proceeds
        # identically to passing the same int directly. The prefix
        # mass aggregates the PERSISTED ranked frame — identical rows
        # to _prefix_shingle_counts (repartition is row-preserving;
        # the round13 pricer==operator pin covers it).
        row = (
            dfc.agg(F.expr(_shingle_pair_mass_expr("__df")).alias("__inv"))
            .crossJoin(
                _ranked()
                .groupBy("shingle")
                .agg(F.count("*").cast("long").alias("f"))
                .agg(F.expr(_shingle_pair_mass_expr("f")).alias("__pf"))
            )
            .collect()[0]
        )
        inv_mass, pf_mass = int(row["__inv"]), int(row["__pf"])
        budget = int(budget(inv_mass, pf_mass))
        if budget < 0:
            raise ValueError("budget must be >= 0")
    else:
        inv_mass = int(
            dfc.agg(F.expr(_shingle_pair_mass_expr("__df")).alias("m"))
            .collect()[0]["m"]
        )
    if inv_mass <= int(budget):
        # inverted route over the cached shingle frame; dfc (and the
        # ranked prefix, when the callable pricing filled it) is dead
        dfc.unpersist()
        if ranked is not None:
            ranked.unpersist()
        inter = _pair_counts(sh, id_col)
        union_sz = F.col("na").cast("long") + F.col("nb") - F.col("i")
        return (
            inter.where(
                F.col("i") * 1_000_000 >= F.lit(tau).cast("long") * union_sz
            )
            .select(
                "doc_a",
                "doc_b",
                F.col("i").cast("long").alias("inter"),
                union_sz.cast("long").alias("union_sz"),
                (F.col("i").cast("double") / union_sz).alias("jaccard"),
            )
            .orderBy("doc_a", "doc_b")
        )
    if pf_mass is None:
        pf_mass = int(
            _ranked()
            .groupBy("shingle")
            .agg(F.count("*").cast("long").alias("f"))
            .agg(F.expr(_shingle_pair_mass_expr("f")).alias("m"))
            .collect()[0]["m"]
        )
    if pf_mass <= int(budget):
        # prefix route over the pricing's OWN ranked-prefix frame — the
        # candidate join reads the rows the mass aggregate just filled;
        # dfc stays persisted because the frame's lineage reads it
        return prefix_filter_pairs(
            documents,
            threshold_ppm=tau,
            n=n,
            text_col=text_col,
            id_col=id_col,
            prefix=_ranked(),
        )
    # refusal: fill both plan rows from the cached frames, release
    stats = (
        sh.agg(
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("shingle_rows"),
        )
        .crossJoin(
            dfc.agg(
                F.count("*").cast("long").alias("distinct_shingles"),
                F.coalesce(F.max("__df"), F.lit(0))
                .cast("long")
                .alias("max_freq"),
            )
        )
        .collect()[0]
    )
    dfc.unpersist()
    if ranked is not None:
        ranked.unpersist()
    sh.unpersist()
    n_docs = int(stats["n_docs"])
    plan_inverted = {
        "n_docs": n_docs,
        "shingle_rows": int(stats["shingle_rows"]),
        "distinct_shingles": int(stats["distinct_shingles"]),
        "max_freq": int(stats["max_freq"]),
        "brute_pairs": n_docs * (n_docs - 1) // 2,
        "cand_pairs": inv_mass,
    }
    plan_prefix = {
        "n_docs": n_docs,
        "threshold_ppm": tau,
        "cand_pairs": pf_mass,
    }
    raise JaccardBudgetExceeded(
        "exact-Jaccard join over budget on both routes: inverted-index "
        f"{inv_mass} candidate pairs, prefix-filtered {pf_mass} vs "
        f"budget {budget} (n_docs={n_docs}, max_shingle_freq="
        f"{plan_inverted['max_freq']}) -- raise threshold_ppm, df-cut "
        "via ngram_jaccard_pairs(max_doc_freq=...), or exact-dedup "
        "first",
        plan_inverted,
        plan_prefix,
    )


def edit_distance_pairs(
    documents: DataFrame,
    k: int = 1,
    prefix_chars: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level near-duplicate pairs by TRUE Levenshtein
    distance ≤ ``k`` over each doc's lowercased ``prefix_chars``-char
    prefix (the title/URL-granularity dedup modality the token-level
    family can't see: a one-character edit in a 30-char title is
    invisible to 3-gram shingles but is exactly what retitled reposts
    look like). Emits (doc_a, doc_b, dist, len_a, len_b).

    Candidate generation is the DELETION NEIGHBORHOOD (Mor & Fraenkel
    1982; popularized as SymSpell): every string's variants under ≤ k
    character deletions. LOSSLESS: if lev(a,b) ≤ k, each edit op can be
    resolved by at most one deletion on each side (substitution →
    delete the position from both; insert/delete → delete it from the
    longer side), so D_k(a) ∩ D_k(b) ≠ ∅ and the equi-join on variants
    finds the pair — pinned by a property sweep against brute-force DP
    in tests/test_property_round10.py. False positives are removed by
    an exact ``levenshtein()`` verify (built-in both engines — on
    ASCII data the oracle's brute all-pairs join doubles as a
    cross-engine equality check of the DP itself. The caveat is real:
    Spark's levenshtein counts CODEPOINTS, DuckDB's counts BYTES —
    measured: DuckDB levenshtein('cafe','café') = 2, Spark = 1 — so
    the gate wrapper restricts the compared prefixes to ASCII, and a
    multi-byte corpus should too, or accept Spark-only semantics).

    Scale: the blow-up is C(|s|, ≤k) variants per doc — 31 at k=1,
    ~466 at k=2 for 30-char strings — against the all-pairs |D|²/2
    the brute join pays; the verify cost is one integer DP per
    candidate pair. The variant join is a plain equi-join (shuffle on
    the variant string); hot variants (shared boilerplate prefixes)
    are real duplicate islands, the same skew story as exact_dedup.
    k > 2 explodes combinatorially — past that, switch to the q-gram
    count filter or token-level MinHash.
    """
    if k not in (1, 2):
        raise ValueError("k must be 1 or 2 (deletion-neighborhood blowup)")
    from ..plans import ensure_parallelism

    s = F.lower(F.substring(F.col(text_col), 1, int(prefix_chars)))
    base = ensure_parallelism(documents).select(
        F.col(id_col).alias("doc_id"), s.alias("s")
    ).where(F.length("s") > 0)
    del1 = (
        "transform(sequence(1, length({v})), i ->"
        " concat(substring({v}, 1, i - 1),"
        " substring({v}, i + 1, length({v}))))"
    )
    vexpr = f"array_union(array(s), {del1.format(v='s')})"
    if k == 2:
        vexpr = (
            f"array_distinct(flatten(transform({vexpr}, s2 ->"
            f" array_union(array(s2), {del1.format(v='s2')}))))"
        )
    from ..plans.scratch import scratch_persist

    # persisted: the self-join reads the variant table twice (once per
    # side) and the 31x/466x explode must not re-execute per reference
    variants = scratch_persist(
        base.select("doc_id", "s", F.explode(F.expr(vexpr)).alias("v"))
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.s").alias("sa"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    # THRESHOLD form of the DP (r14 opt): levenshtein(sa, sb, k) runs
    # the banded O(k·L) diagonal algorithm and returns the exact
    # distance when <= k, -1 otherwise — emitted values are identical
    # to the full DP on every surviving row by definition. This also
    # defuses the pushdown duplication: Catalyst substitutes the dist
    # alias into the pushed filter (the plan showed TWO levenshtein
    # nodes despite the project-then-filter shape), so each candidate
    # paid the full O(L²) DP twice; now even the duplicated eval is the
    # k-banded early-exit form.
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.levenshtein("sa", "sb", int(k)).cast("long").alias("dist"),
            F.length("sa").cast("long").alias("len_a"),
            F.length("sb").cast("long").alias("len_b"),
        )
        .where(F.col("dist") >= 0)
        .orderBy("doc_a", "doc_b")
    )


def _passjoin_seg_probe_exprs(k: int, min_len: int) -> tuple[str, str]:
    """The PassJoin segment/probe SQL expression pair over a frame with
    columns (s, len) — ONE definition shared by qgram_edit_pairs (the
    join) and qgram_plan (the pricer), so the priced volume is the
    joined volume by construction."""
    k1 = k + 1
    lam = f"(({{l}} div {k1}) + if({{i}} >= {k1} - ({{l}} % {k1}), 1, 0))"
    sig = (
        f"({{i}} * ({{l}} div {k1})"
        f" + greatest(0, {{i}} - ({k1} - ({{l}} % {k1}))))"
    )
    seg_expr = (
        f"transform(sequence(0, {k}), i -> struct(i AS i, "
        f"substring(s, {sig.format(i='i', l='len')} + 1, "
        f"{lam.format(i='i', l='len')}) AS sub))"
    )
    lam_il = lam.format(i="i", l="l")
    sig_il = sig.format(i="i", l="l")
    probe_expr = (
        f"flatten(transform(sequence(greatest(len - {k}, {min_len}),"
        f" len + {k}), l -> "
        f"flatten(transform(sequence(0, {k}), i -> "
        f"if(greatest(0, {sig_il} - {k})"
        f" <= least(len - {lam_il}, {sig_il} + {k}), "
        f"transform(sequence(greatest(0, {sig_il} - {k}),"
        f" least(len - {lam_il}, {sig_il} + {k})), p -> "
        f"struct(i AS i, l AS l,"
        f" substring(s, p + 1, {lam_il}) AS sub)), "
        f"array())))))"
    )
    return seg_expr, probe_expr


def qgram_plan(
    documents: DataFrame,
    k: int = 3,
    q: int = 2,
    prefix_chars: int = 30,
    text_col: str = "text",
) -> DataFrame:
    """EXACT candidate-tuple volume of qgram_edit_pairs' segment join,
    priced BEFORE any pair join — the band_plan methodology applied to
    the PassJoin side. ONE row:

    - ``n_docs`` / ``n_distinct_prefixes``: population after the
      q·(k+1) floor, and its distinct 30-char-prefix count;
    - ``max_island``: the largest identical-prefix island — the skew
      knob (the segment join is quadratic PER ISLAND);
    - ``island_pairs``: Σ C(island, 2) — the pair mass EXACT DEDUP
      (on the prefix) would remove before this operator ever runs;
    - ``brute_pairs``: n·(n−1)/2, the all-pairs baseline;
    - ``seg_join_tuples``: the exact tuple count the (i, l, sub)
      equi-join materializes, computed as Σ_key cnt_segs·cnt_probes
      over per-DISTINCT-prefix weighted seg/probe tables — ~thousands
      of rows regardless of corpus size. DECIMAL(38,0): the weighted
      product sum crosses BIGINT near n ≈ 1e10.

    Decision rule (the r11 500k lesson, learned the expensive way: the
    reconstructed 100×-exact-copy corpus drove the unpriced join to a
    30 GB single-task spill): when island_pairs dominates
    seg_join_tuples — the volume IS duplicate islands — collapse
    identical-PREFIX islands first (keep one representative per
    distinct lowercased prefix: island members are at raw-prefix
    distance 0 BY DEFINITION, so dropped pairs reconstruct by pure
    island arithmetic — rep_a within d of rep_b ⟺ every cross-island
    member pair is; note full-text exact_dedup is NOT a valid stand-in
    here, its normalized fingerprint can merge docs whose raw prefixes
    differ). When the re-priced volume still exceeds budget — islands
    are distinct docs behind shared boilerplate — shard, or fall back
    to edit_distance_pairs at k ≤ 2. The pricer is one pass over the
    corpus plus aggregates on the distinct-prefix frame; plan == join
    volume is pinned in tests.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if q < 2:
        raise ValueError(
            "q must be >= 2 (mirror of qgram_edit_pairs — pricing a "
            "configuration the join rejects would void the contract)"
        )
    min_len = q * (k + 1)
    from ..plans import ensure_parallelism
    from ..plans.scratch import scratch_persist

    s = F.lower(F.substring(F.col(text_col), 1, int(prefix_chars)))
    freq = scratch_persist(
        ensure_parallelism(documents)
        .select(s.alias("s"))
        .where(F.length("s") >= min_len)
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("len", F.length("s").cast("int"))
    )
    return _qgram_volume_from_freq(freq, int(k), min_len)


def _qgram_exploded(
    freq: DataFrame, k: int, min_len: int
) -> tuple[DataFrame, DataFrame]:
    """The PassJoin segment/probe tables exploded at the
    per-distinct-prefix level, keyed by the prefix string itself:
    seg rows (s, c, i, l, sub) where l is the prefix's own length, and
    probe rows (s, c, i, l, sub) where l is the partner length. ONE
    definition of the exploded tables: the pricing aggregates
    (_qgram_volumes_from_exploded) and the routed operator's collapsed
    join both read these exact frames, so priced volume == joined
    volume stays structural (r14 opt: the collapsed route previously
    re-ran both interpreted-lambda explodes a second time over the
    rep frame — the same rows these tables already hold)."""
    seg_expr, probe_expr = _passjoin_seg_probe_exprs(int(k), min_len)
    seg_s = freq.select(
        "s", "c", F.col("len").alias("l"), F.explode(F.expr(seg_expr)).alias("sg")
    ).select("s", "c", "l", F.col("sg.i").alias("i"), F.col("sg.sub").alias("sub"))
    # NOTE: freq lacks an `l` column for probes' transform over partner
    # lengths — probe_expr reads len (the doc's own length); explode
    # yields pr.l = the partner length, the join key
    probe_s = freq.select(
        "s", "c", F.explode(F.expr(probe_expr)).alias("pr")
    ).select(
        "s",
        "c",
        F.col("pr.i").alias("i"),
        F.col("pr.l").alias("l"),
        F.col("pr.sub").alias("sub"),
    )
    return seg_s, probe_s


def _qgram_volumes_from_exploded(
    seg_s: DataFrame, probe_s: DataFrame
) -> DataFrame:
    """BOTH route volumes from prepared exploded segment/probe tables:
    (seg_join_tuples, collapsed_tuples), where collapsed is the same
    aggregate with every island weight at 1 (one representative per
    prefix). The two sums share the exploded tables and the (i, l, sub)
    equi-join — pricing the re-route costs one extra SUM column, not a
    second pricing job (qgram_edit_pairs_routed's hot path)."""
    segs_w = seg_s.groupBy("i", "l", "sub").agg(
        F.sum("c").alias("cs"),
        F.count("*").cast("long").alias("cs1"),
    )
    probes_w = probe_s.groupBy("i", "l", "sub").agg(
        F.sum("c").alias("cp"),
        F.count("*").cast("long").alias("cp1"),
    )
    return segs_w.join(probes_w, ["i", "l", "sub"]).agg(
        F.coalesce(
            F.sum(
                F.col("cs").cast("decimal(38,0)")
                * F.col("cp").cast("decimal(38,0)")
            ),
            F.lit(0),
        ).cast("decimal(38,0)").alias("seg_join_tuples"),
        F.coalesce(
            F.sum(
                F.col("cs1").cast("decimal(38,0)")
                * F.col("cp1").cast("decimal(38,0)")
            ),
            F.lit(0),
        ).cast("decimal(38,0)").alias("collapsed_tuples"),
    )


def _qgram_volumes_both(freq: DataFrame, k: int, min_len: int) -> DataFrame:
    """BOTH route volumes in one pass over a prepared distinct-prefix
    frequency frame (s, c, len) — the _qgram_exploded tables aggregated
    by _qgram_volumes_from_exploded (one definition each)."""
    return _qgram_volumes_from_exploded(
        *_qgram_exploded(freq, int(k), min_len)
    )


def _qgram_freq_stats(freq: DataFrame) -> DataFrame:
    """ONE row of corpus-shape stats over a distinct-prefix frequency
    frame (s, c, len): n_docs, n_distinct_prefixes, max_island,
    island_pairs. Shared by qgram_plan and the routed operator's
    refusal path — one definition of the island arithmetic."""
    return freq.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_distinct_prefixes"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_island"),
        # DECIMAL BEFORE the multiply: c*(c-1) in BIGINT wraps at
        # islands >= ~3.04e9 — the very regime the DECIMAL contract
        # claims to cover (the product is even, so /2 is exact)
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(CAST(c AS DECIMAL(38,0)) * (c - 1) / 2"
                    " AS DECIMAL(38,0))"
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("island_pairs"),
    )


def _qgram_volume_from_freq(freq: DataFrame, k: int, min_len: int) -> DataFrame:
    """qgram_plan's full plan row over a prepared distinct-prefix
    frequency frame (s, c, len). The priced volume itself comes from
    _qgram_volumes_both — ONE definition of the pricing tables for the
    plan, the routed operator, and any future caller (the seg/probe
    SQL pair makes priced == joined volume structural); the unused
    collapsed column costs one extra SUM, not a second job."""
    volume = _qgram_volumes_both(freq, int(k), min_len).select(
        "seg_join_tuples"
    )
    return _qgram_freq_stats(freq).join(volume).select(
        "n_docs",
        "n_distinct_prefixes",
        "max_island",
        "island_pairs",
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0))"
            " * (n_docs - 1) / 2 AS DECIMAL(38,0))"
        ).alias("brute_pairs"),
        "seg_join_tuples",
    )


def qgram_edit_pairs(
    documents: DataFrame,
    k: int = 3,
    q: int = 2,
    prefix_chars: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level near-duplicate pairs by TRUE Levenshtein distance
    ≤ ``k`` over lowercased ``prefix_chars``-char prefixes — the k > 2
    routing target edit_distance_pairs documents (its SymSpell deletion
    neighborhood blows up combinatorially past k = 2: C(30, 3) ≈ 4060
    variants per doc at k = 3). Same output contract:
    (doc_a, doc_b, dist, len_a, len_b).

    Population contract: only prefixes of length ≥ q·(k+1) participate
    (both sides). Short strings are exactly what the k ≤ 2
    deletion-neighborhood operator covers.

    Three LOSSLESS pruning stages, then one exact DP:

    1. **Pigeonhole segment candidates** (PassJoin, Li/Deng/Feng/Wang
       VLDB 2011 — the short-string edit join). Each string splits
       into k+1 contiguous segments (first segments get ⌊l/(k+1)⌋
       chars, the last l mod (k+1) get one extra). If dist(x, y) ≤ k,
       the ≤ k edit ops touch ≤ k segments of x, so SOME segment
       survives untouched and appears in y VERBATIM, shifted by at
       most the ±k net insert/delete drift before it. The candidate
       join therefore matches x's segment table against y's probe
       substrings of the partner lengths l ∈ [m−k, m+k] at positions
       within ±k of that segment's start under an l-length split —
       ~(2k+1)²·(k+1) ≈ 200 slim probe rows/doc at k=3, keyed by
       ~⌈l/(k+1)⌉-char substrings (SELECTIVE keys, unlike character
       q-grams: a df-ordered Ed-Join prefix was measured
       collision-bound on this corpus — 6.6M candidate tuples at 5k
       docs because 30-char prefixes have a FLAT trigram df, rarest
       element df ≈ 600).
    2. Exact ``levenshtein()`` verify (built-in both engines; the
       Spark-codepoints vs DuckDB-bytes caveat from edit_distance_pairs
       applies — ASCII-guard multi-byte corpora).

    The r11-r13 implementation ran a third stage between them — the
    Gravano (VLDB 2001) positional q-gram count bound as a pre-DP
    filter. MEASURED OUT in the r14 optimization round: at the default
    30-char prefix the DP verify is ≤ ~900 codegen integer ops per
    candidate with ZERO extra shuffles (the sa/sb string joins exist
    either way), while the count filter cost a (doc, gram) window
    shuffle, a persisted gram table, two candidate×~29-gram explode
    joins and an aggregation exchange BEFORE the same DP on survivors —
    more network per candidate than the DP it saved (guide §2.3/§2.4:
    the filter only pays for prefixes long enough that O(L²) DP
    dominates O(L) gram rows, i.e. hundreds of chars, not 30). The
    lossless-chain property sweep (tests/test_property_round11.py)
    pins the candidate window + DP against brute force; output is
    bit-identical with or without the count filter by construction.

    Scale: index is k+1 rows/doc, probes ~200 rows/doc, both slim; the
    equi-join shuffles on (segment_idx, partner_len, substring) — hot
    keys are shared boilerplate prefixes, i.e. real duplicate islands
    (the exact_dedup skew story). Nothing global. Verify cost is one
    integer DP per candidate.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if q < 2:
        raise ValueError("q must be >= 2 (q=1 grams carry no position)")
    min_len = q * (k + 1)
    from ..plans import ensure_parallelism
    from ..plans.scratch import scratch_persist

    s = F.lower(F.substring(F.col(text_col), 1, int(prefix_chars)))
    base = scratch_persist(
        ensure_parallelism(documents)
        .select(F.col(id_col).alias("doc_id"), s.alias("s"))
        .where(F.length("s") >= min_len)
        .withColumn("len", F.length("s").cast("int"))
    )
    # segment arithmetic under an l-length split: first k1 - (l % k1)
    # segments have floor(l/k1) chars, the rest one extra — the
    # expression pair is shared with qgram_plan (the pricer), so the
    # priced volume IS this join's volume
    seg_expr, probe_expr = _passjoin_seg_probe_exprs(int(k), min_len)
    segs = base.select(
        "doc_id", "len", F.explode(F.expr(seg_expr)).alias("sg")
    ).select(
        F.col("doc_id").alias("x_id"),
        F.col("len").alias("l"),
        F.col("sg.i").alias("i"),
        F.col("sg.sub").alias("sub"),
    )
    # probe substrings of every partner length l in [m-k, m+k] (>= the
    # population floor — shorter partners don't exist), at positions
    # within +-k of segment i's start under the l-split; empty windows
    # yield array() (Spark's sequence(a, b) DESCENDS when a > b)
    probes = base.select(
        "doc_id", F.explode(F.expr(probe_expr)).alias("pr")
    ).select(
        F.col("doc_id").alias("y_id"),
        F.col("pr.i").alias("i"),
        F.col("pr.l").alias("l"),
        F.col("pr.sub").alias("sub"),
    )
    cand = (
        segs.join(probes, ["i", "l", "sub"])
        .where(F.col("x_id") != F.col("y_id"))
        .select(
            F.least("x_id", "y_id").alias("doc_a"),
            F.greatest("x_id", "y_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    # threshold-banded DP (r14 opt — the edit_distance_pairs note):
    # levenshtein(sa, sb, k) is the O(k·L) early-exit form, exact on
    # every row it keeps; filter pushdown duplicates the expression
    # either way, so make each eval cheap instead of fighting Catalyst.
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("sa", "sb", int(k)).cast("long").alias("dist"),
            F.length("sa").cast("long").alias("len_a"),
            F.length("sb").cast("long").alias("len_b"),
        )
        .where(F.col("dist") >= 0)
        .orderBy("doc_a", "doc_b")
    )


class QgramBudgetExceeded(_BudgetExceeded):
    """Raised by qgram_edit_pairs_routed when the segment join's priced
    candidate volume exceeds the caller's budget on BOTH routes (direct
    and island-collapsed). Carries both plan rows so the caller can
    shard or fall back to edit_distance_pairs at k <= 2 without
    re-pricing."""

    def __init__(self, msg: str, plan_direct: dict, plan_collapsed: dict):
        super().__init__(msg, plan_direct, plan_collapsed)
        self.plan_direct = plan_direct
        self.plan_collapsed = plan_collapsed


def qgram_edit_pairs_routed(
    documents: DataFrame,
    budget: int | Callable[[int, int], int],
    k: int = 3,
    q: int = 2,
    prefix_chars: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """qgram_edit_pairs behind its own pricer: price -> route ->
    re-price -> join, so the r11 failure mode (an unpriced PassJoin
    segment join going quadratic per identical-prefix island -- one
    task, 30 GB spill, killed at 35 min on the 100x-copy corpus) is
    unreachable through the public API. Same output contract as the
    direct operator, EXACTLY: (doc_a, doc_b, dist, len_a, len_b),
    doc_a < doc_b, ordered.

    Routing (the qgram_plan decision rule, executable):

    1. Price the direct join (qgram_plan -- exact tuple volume from
       per-distinct-prefix frequencies, never runs the join). Volume
       <= budget: run qgram_edit_pairs directly.
    2. Over budget: collapse identical-PREFIX islands -- one
       representative per distinct lowercased prefix. Island members
       are at raw-prefix distance 0 BY DEFINITION (the operator's own
       measurement key), so every dropped pair reconstructs exactly:
       within an island, all C(c, 2) pairs at dist 0; across islands,
       rep_a within d of rep_b iff every member cross pair is, at the
       same d. (Full-text exact_dedup is NOT a valid stand-in -- its
       normalized fingerprint merges docs whose raw prefixes differ.)
    3. Re-price the rep-level join and CHECK it against the budget
       again -- boilerplate corpora (many DISTINCT prefixes sharing
       segment text) collapse to nothing and would sail into the same
       spill; those raise QgramBudgetExceeded carrying both plan rows
       (shard, or fall back to edit_distance_pairs at k <= 2).
    4. Join the reps, then expand: island-internal dist-0 pairs by an
       equi-self-join on the prefix (linear in OUTPUT size -- the
       pairs exist in the direct answer too), cross-island pairs by
       joining the rep pairs back to membership on the prefix key
       (two slim equi-joins, again output-sized).

    The routed path == the direct join is pinned in pytest on natural
    and copy-heavy frames; the registered gate's oracle recomputes the
    expanded pair set independently in SQL every round. Pricing both
    routes is ONE pass over the distinct-prefix frequency frame (the
    collapsed volume is the same aggregate with every weight at 1, so
    both sums share the exploded segment/probe tables) and one bounded
    1-row collect; nothing else leaves the executors.
    """
    from ..plans import ensure_parallelism
    from ..plans.scratch import scratch_persist

    if not callable(budget) and budget < 0:
        raise ValueError("budget must be >= 0")
    if k < 1:
        raise ValueError("k must be >= 1")
    if q < 2:
        raise ValueError("q must be >= 2 (q=1 grams carry no position)")
    min_len = q * (k + 1)
    s = F.lower(F.substring(F.col(text_col), 1, int(prefix_chars)))
    # ONE corpus scan feeds everything: membership (doc_id, s) is the
    # collapse/expansion key, and both pricings aggregate off the
    # distinct-prefix frequency frame derived from it (the collapsed
    # re-price is the same frame with c = 1 — no rescan)
    members = scratch_persist(
        ensure_parallelism(documents)
        .select(F.col(id_col).alias("doc_id"), s.alias("s"))
        .where(F.length("s") >= min_len)
    )
    freq = scratch_persist(
        members.groupBy("s")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("len", F.length("s").cast("int"))
    )
    # The exploded segment/probe tables are persisted HERE, above the
    # pricing aggregation (r14 opt): the pricing pass fills them, and
    # when the collapsed route wins, its candidate join reads the SAME
    # cached rows instead of re-running both interpreted-lambda
    # explodes over the rep frame (~half this query's executor CPU at
    # sf0.1). Size is bounded by distinct prefixes × ~(2k+1)²(k+1)
    # slim rows — island-collapsed by definition, never corpus-sized.
    seg_s, probe_s = _qgram_exploded(freq, int(k), min_len)
    seg_s = scratch_persist(seg_s)
    probe_s = scratch_persist(probe_s)
    vols = _qgram_volumes_from_exploded(seg_s, probe_s).collect()[0]
    direct_tuples = int(vols["seg_join_tuples"])
    collapsed_tuples = int(vols["collapsed_tuples"])
    if callable(budget):
        # budget as a function of the two priced volumes (r14 opt):
        # callers whose budget is DERIVED from the pricing (the gate's
        # "strictly between the routes" constructions) previously ran a
        # second, standalone qgram_plan pass just to compute the int —
        # a full duplicate of the pricing job this function already
        # runs. The callable sees (direct_tuples, collapsed_tuples)
        # from THIS pass and returns the int budget; routing and
        # output are identical to passing the same int directly.
        budget = int(budget(direct_tuples, collapsed_tuples))
        if budget < 0:
            raise ValueError("budget must be >= 0")
    if direct_tuples <= int(budget):
        # run the direct join OVER the persisted members frame (the
        # rep_frame trick: s is its own lowercased prefix, so the
        # operator's lower/substring re-derivation is idempotent) —
        # no second corpus scan; the dead pricing frames are released
        # (review r12: the first fix unpersisted members too and
        # delegated on `documents`, paying a redundant full rescan)
        freq.unpersist()
        seg_s.unpersist()
        probe_s.unpersist()
        return qgram_edit_pairs(
            members,
            k=k,
            q=q,
            prefix_chars=prefix_chars,
            text_col="s",
            id_col="doc_id",
        )
    if collapsed_tuples > int(budget):
        # refusal path only: one tiny stats job over the (persisted)
        # frequency frame to fill in the full plan rows for the caller
        stats = _qgram_freq_stats(freq).collect()[0]
        freq.unpersist()
        seg_s.unpersist()
        probe_s.unpersist()
        members.unpersist()
        n, ndp = int(stats["n_docs"]), int(stats["n_distinct_prefixes"])
        plan_direct = {
            "n_docs": n,
            "n_distinct_prefixes": ndp,
            "max_island": int(stats["max_island"]),
            "island_pairs": stats["island_pairs"],
            "brute_pairs": n * (n - 1) // 2,
            "seg_join_tuples": direct_tuples,
        }
        plan_collapsed = {
            "n_docs": ndp,
            "n_distinct_prefixes": ndp,
            "max_island": 1 if ndp else 0,
            "island_pairs": 0,
            "brute_pairs": ndp * (ndp - 1) // 2,
            "seg_join_tuples": collapsed_tuples,
        }
        raise QgramBudgetExceeded(
            "qgram segment join over budget on both routes: direct "
            f"{direct_tuples} tuples, island-collapsed "
            f"{collapsed_tuples} tuples vs budget "
            f"{budget} (n_docs={n}, "
            f"distinct_prefixes={ndp}, "
            f"max_island={plan_direct['max_island']}) -- distinct docs "
            "behind shared segment text: shard the corpus or fall back "
            "to edit_distance_pairs at k <= 2",
            plan_direct,
            plan_collapsed,
        )
    # freq is dead once both route volumes are collected (the refusal
    # path above takes its stats first) — release it here so the
    # rep-join/expansion job doesn't carry an O(distinct prefixes)
    # cached frame it never reads (review r12, second pass)
    freq.unpersist()
    # Collapsed candidate join DIRECTLY over the persisted pricing
    # tables (r14 opt): the prefix string is its own representative key
    # (distinct prefixes ↔ reps is a bijection, and lower/substring are
    # idempotent on s), so the rep-id indirection of the previous shape
    # — a min(doc_id) rep aggregate, a rep-level qgram_edit_pairs that
    # re-exploded both tables, and two rid-mapping joins back to the
    # prefix keys — collapses to ONE (i, l, sub) equi-join of the
    # cached seg/probe rows plus the banded-levenshtein verify on the
    # pair keys themselves. Pair set, distances and lens are identical:
    # string-ordered (sa, sb) instead of rep-id-ordered pairs feed the
    # symmetric member expansion below, which orders final ids itself.
    keyed = (
        seg_s.select(F.col("s").alias("sa_"), "i", "l", "sub")
        .join(
            probe_s.select(F.col("s").alias("sb_"), "i", "l", "sub"),
            ["i", "l", "sub"],
        )
        .where(F.col("sa_") != F.col("sb_"))
        .select(
            F.least("sa_", "sb_").alias("sa"),
            F.greatest("sa_", "sb_").alias("sb"),
        )
        .distinct()
        .select(
            "sa",
            "sb",
            F.levenshtein("sa", "sb", int(k)).cast("long").alias("dist"),
            F.length("sa").cast("long").alias("len_a"),
            F.length("sb").cast("long").alias("len_b"),
        )
        .where(F.col("dist") >= 0)
    )
    ma = members.select(F.col("s").alias("sa"), F.col("doc_id").alias("ia"))
    mb = members.select(F.col("s").alias("sb"), F.col("doc_id").alias("ib"))
    a_first = F.col("ia") < F.col("ib")
    cross = (
        keyed.join(ma, "sa")
        .join(mb, "sb")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "dist",
            # lens follow the PREFIX, so they swap with the ids
            F.when(a_first, F.col("len_a"))
            .otherwise(F.col("len_b"))
            .alias("len_a"),
            F.when(a_first, F.col("len_b"))
            .otherwise(F.col("len_a"))
            .alias("len_b"),
        )
    )
    island = (
        members.alias("x")
        .join(members.alias("y"), "s")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).cast("long").alias("dist"),
            F.length("s").cast("long").alias("len_a"),
            F.length("s").cast("long").alias("len_b"),
        )
    )
    return cross.unionByName(island).orderBy("doc_a", "doc_b")
