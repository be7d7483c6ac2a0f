"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partition-friendly
layout, Arrow-batched UDF signatures over mapInPandas; the codec step is a
clearly-marked stub (decode libraries are not in this container): pass
``fake=True`` for a deterministic fake decoder so pipelines are testable
end-to-end, or leave the default to get ``NotImplementedError`` at the
codec boundary.

Design for 100 TB: binary payloads ride in their own column so parquet
column pruning skips them unless the operator needs bytes; metadata-only
queries (resolution histograms, duration sums) never read the blobs.
mapInPandas streams Arrow record batches, so one task holds only a batch
of blobs in memory, never a whole partition.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),        # image | audio | video
        T.StructField("content", T.BinaryType()),     # opaque encoded bytes
        T.StructField("format", T.StringType()),      # png/jpeg/wav/mp4/...
        T.StructField("width", T.IntegerType()),      # images/video
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),   # audio/video
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

FEATURE_DIM = 16

_FEATURIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def synthesize_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic fake media table for tests (seeded bytes)."""
    rng = np.random.default_rng(42)
    rows = []
    for i in range(n):
        payload = rng.integers(0, 256, size=256 + (i % 7) * 32, dtype=np.uint8)
        rows.append(
            (
                i,
                kind,
                bytes(payload.tobytes()),
                "png" if kind == "image" else "wav",
                64 + i % 4, 64, None if kind == "image" else 1000 + i, 16000,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents table: the text
    payload becomes the opaque binary content, kind/format/dimensions are
    pure functions of doc_id. This gives multimodal pipelines a reproducible
    input that an external SQL oracle can reason about (byte lengths, frame
    counts) without decode libraries."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, "png")
        .when(F.col("doc_id") % 3 == 1, "wav")
        .otherwise("mp4")
    )
    is_image = F.col("doc_id") % 3 == 0
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        fmt.alias("format"),
        F.when(is_image, (64 + F.col("doc_id") % 4).cast("int")).alias("width"),
        F.when(is_image, F.lit(64).cast("int")).alias("height"),
        F.when(
            ~is_image, (1000 + (F.col("doc_id") % 10) * 500).cast("long")
        ).alias("duration_ms"),
        F.when(F.col("doc_id") % 3 == 1, F.lit(16000).cast("int")).alias(
            "sample_rate"
        ),
    )


def _decode_stub(content: bytes, fmt: str, fake: bool) -> np.ndarray:
    """Codec boundary. Real decoders (PIL/libav) are not in this container."""
    if not fake:
        raise NotImplementedError(
            "media decode requires codec libraries not present in this "
            "environment; pass fake=True for the deterministic stub"
        )
    # deterministic fake: interpret bytes as uint8 pixels/samples
    return np.frombuffer(content, dtype=np.uint8).astype(np.float32)


def featurize(media: DataFrame, fake: bool = False) -> DataFrame:
    """Decode + fixed-dim feature per blob via Arrow-batched mapInPandas.

    The feature is a FEATURE_DIM-bucket normalized byte histogram of the
    decoded payload — stands in for an embedding model forward pass; the
    batching/schema/shuffle shape is exactly what a real model UDF needs.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, nbytes = [], []
            for content, fmt in zip(pdf["content"], pdf["format"]):
                raw = _decode_stub(content, fmt, fake)
                hist, _ = np.histogram(raw, bins=FEATURE_DIM, range=(0, 256))
                total = max(hist.sum(), 1)
                feats.append((hist / total).astype(np.float32).tolist())
                nbytes.append(len(content))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": nbytes,
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=_FEATURIZE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000, fake: bool = False) -> DataFrame:
    """Frame sampling for video rows: explode one row per sampled frame."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, content, fmt, dur in zip(
                pdf["media_id"], pdf["content"], pdf["format"], pdf["duration_ms"]
            ):
                raw = _decode_stub(content, fmt, fake)
                n_frames = max(int((dur or 0) // every_ms), 1)
                for k in range(n_frames):
                    ids.append(mid)
                    idxs.append(k)
                    tss.append(k * every_ms)
                    lo = (k * len(raw)) // n_frames
                    hi = ((k + 1) * len(raw)) // n_frames
                    frames.append(bytes(raw[lo:hi].astype(np.uint8).tobytes()))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_ts_ms": tss, "frame": frames}
            )

    return media.where(F.col("kind") == "video").mapInPandas(run, schema=schema)


def chunk_audio_plan(
    media: DataFrame, chunk_ms: int = 400, overlap_ms: int = 100
) -> DataFrame:
    """Chunking plan for audio rows: overlapping windows of ``chunk_ms``
    every ``chunk_ms - overlap_ms``, clamped to the clip — the schedule a
    speech/audio featurizer consumes (each chunk becomes one model call;
    n_samples sizes the decode buffer). Plan only — no decoding — so it
    is pure integer arithmetic over the metadata columns and exactly
    SQL-oracle-able, like the rest of the multimodal plumbing.

    Scale shape: one narrow explode of ~duration/stride rows per clip;
    no shuffle at all (the presentation sort is the only exchange).
    """
    stride = chunk_ms - overlap_ms
    assert stride > 0, "overlap must be smaller than the chunk"
    a = media.where(
        (F.col("kind") == "audio") & F.col("duration_ms").isNotNull()
    )
    out = a.select(
        "media_id",
        "duration_ms",
        "sample_rate",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("duration_ms") - 1,
                F.lit(stride).cast("long"),
            )
        ).alias("start_ms"),
    )
    end = F.least(
        F.col("start_ms") + F.lit(chunk_ms), F.col("duration_ms")
    )
    return out.select(
        "media_id",
        (F.col("start_ms") / stride).cast("int").alias("chunk_idx"),
        "start_ms",
        end.alias("end_ms"),
        F.expr(
            "((least(start_ms + {c}, duration_ms) - start_ms)"
            " * sample_rate) div 1000".format(c=chunk_ms)
        ).alias("n_samples"),
    ).orderBy("media_id", "chunk_idx")


_AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def media_with_twins(documents: DataFrame) -> DataFrame:
    """media_from_documents plus an injected near-duplicate twin for every
    97th document (suffix-perturbed payload, media_id offset by 1e9) — the
    deterministic-injection pattern (cf. doc_redact_pii) that keeps the
    near-dup gate non-vacuous at every scale factor: a suffix edit leaves
    the first 64 payload bytes intact for any document >= 64 bytes, so
    each twin is a guaranteed Hamming-0 aHash pair."""
    twins = media_from_documents(
        documents.where(F.col("doc_id") % 97 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" twin-marker")))
        .withColumn("doc_id", F.col("doc_id") + F.lit(1000000000))
    )
    return media_from_documents(documents).unionByName(twins)


def ahash64(media: DataFrame, fake: bool = False) -> DataFrame:
    """64-bit average-hash perceptual signature per media blob: decode
    (stubbed codec boundary — a real pHash would DCT the decoded pixels
    here), take the first 64 samples zero-padded, threshold each against
    the integer mean, assemble bit k from sample k (two's complement for
    bit 63). Pure integer arithmetic end-to-end, so the DuckDB oracle
    can replay it byte-for-byte from hex(encode(text)).

    Arrow-batched mapInPandas, one pass over the blobs; the signature
    table is 16 bytes/row — the only thing downstream joins touch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for content, fmt in zip(pdf["content"], pdf["format"]):
                raw = _decode_stub(content, fmt, fake).astype(np.uint8)
                buf = np.zeros(64, dtype=np.uint8)
                n = min(64, len(raw))
                buf[:n] = raw[:64]
                mean = int(buf.sum()) // 64
                bits = buf > mean
                u = int(
                    (np.uint64(1) << np.arange(64, dtype=np.uint64))[bits]
                    .sum(dtype=np.uint64)
                )
                sigs.append(u - (1 << 64) if u >= (1 << 63) else u)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ahash": sigs}
            )

    return media.mapInPandas(run, schema=_AHASH_SCHEMA)


def ahash_pairs(
    documents: DataFrame, max_hamming: int = 3, fake: bool = False
) -> DataFrame:
    """Perceptual near-duplicate media pairs: aHash signatures (with
    injected twins, see media_with_twins) through the shared Manku
    4×16-bit band blocking + exact popcount verify
    (dedup.banded_hamming_pairs) — EXACT for hamming <= 3, join fan-out
    band-bucket bounded, never all-pairs. The multimodal mirror of the
    text simhash_pairs path; at 100 TB the blobs are read once by the
    signature pass and the join moves only 16-byte signatures."""
    from ..plans.scratch import scratch_persist
    from .dedup import banded_hamming_pairs

    sigs = scratch_persist(ahash64(media_with_twins(documents), fake=fake))
    return banded_hamming_pairs(
        sigs, id_col="media_id", sig_col="ahash", max_hamming=max_hamming
    )


def metadata_stats(media: DataFrame) -> DataFrame:
    """Metadata-only aggregate: never touches the binary column (column
    pruning keeps the blobs out of the scan — verify via ReadSchema)."""
    return (
        media.groupBy("kind", "format")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("duration_ms", F.lit(0))).alias("total_duration_ms"),
            F.avg(F.col("width") * F.col("height")).alias("avg_pixels"),
        )
        .orderBy("kind", "format")
    )


def tile_image_plan(
    media: DataFrame, tile: int = 32, overlap: int = 0
) -> DataFrame:
    """Tiling plan for image rows: the ViT-style patch grid as explicit
    (x0, y0, tile_w, tile_h) work items, clamped at the right/bottom
    edges — the schedule a vision featurizer consumes (each tile is one
    model call). Plan only — no decoding — pure integer arithmetic over
    the metadata columns, exactly SQL-oracle-able like chunk_audio_plan.

    One narrow explode of ~(w/stride)x(h/stride) rows per image; no
    shuffle (the presentation sort is the only exchange).
    """
    stride = tile - overlap
    assert stride > 0, "overlap must be smaller than the tile"
    imgs = media.where(
        (F.col("kind") == "image")
        & F.col("width").isNotNull()
        & F.col("height").isNotNull()
    )
    nx = F.ceil((F.col("width") - F.lit(overlap)).cast("double") / F.lit(stride))
    ny = F.ceil((F.col("height") - F.lit(overlap)).cast("double") / F.lit(stride))
    tiles = (
        imgs.withColumn("__nx", nx.cast("int"))
        .withColumn("__ny", ny.cast("int"))
        .select(
            "media_id",
            "width",
            "height",
            "__ny",
            F.explode(F.expr("sequence(0, __nx - 1)")).alias("tx"),
        )
        .select(
            "media_id",
            "width",
            "height",
            "tx",
            F.explode(F.expr("sequence(0, __ny - 1)")).alias("ty"),
        )
    )
    x0 = F.col("tx") * stride
    y0 = F.col("ty") * stride
    return tiles.select(
        "media_id",
        "tx",
        "ty",
        x0.alias("x0"),
        y0.alias("y0"),
        F.least(F.lit(tile), F.col("width") - x0).alias("tile_w"),
        F.least(F.lit(tile), F.col("height") - y0).alias("tile_h"),
    ).orderBy("media_id", "tx", "ty")


def modality_mix_plan(media: DataFrame, budget_items: int = 10000) -> DataFrame:
    """Multimodal training-mix accounting: per modality the measured
    inventory — item count, payload bytes, total duration, total pixels —
    plus an items-proportional allocation of a training budget (the table
    a mixed image/audio/video/text run plans its sampling from). All
    integers except the share (one exact division); allocation uses
    integer floor-division so engines agree bit-for-bit.

    Scale shape: one map-side-combined aggregation over the media table
    (3-row result), grand total via a broadcast cross join. The payload
    bytes come from length(content) — a metadata-only column read when
    parquet stores binary statistics, never a decode.
    """
    per = media.groupBy("kind").agg(
        F.count("*").alias("n_items"),
        F.sum(F.length(F.col("content"))).alias("total_bytes"),
        F.sum(F.coalesce(F.col("duration_ms"), F.lit(0))).alias(
            "total_duration_ms"
        ),
        F.sum(
            F.coalesce(F.col("width").cast("long") * F.col("height"), F.lit(0))
        ).alias("total_pixels"),
    )
    tot = per.agg(F.sum("n_items").alias("grand_total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "kind",
            "n_items",
            "total_bytes",
            "total_duration_ms",
            "total_pixels",
            (
                F.col("n_items").cast("double")
                / F.col("grand_total").cast("double")
            ).alias("item_share"),
            F.expr(f"div({budget_items}L * n_items, grand_total)").alias(
                "alloc_items"
            ),
        )
        .orderBy("kind")
    )


def _token_budget(
    media: DataFrame,
    documents: DataFrame,
    tokens_per_tile: int = 85,
    tile: int = 32,
    ms_per_audio_token: int = 80,
    fps_tokens_per_s: int = 2,
) -> DataFrame:
    """Multimodal training token budget: what each example COSTS in
    sequence positions once modalities are spliced into the token stream
    (LLaVA-style: an image contributes ceil(w/tile)·ceil(h/tile) tiles ×
    tokens_per_tile; audio one token per ``ms_per_audio_token``; video a
    fixed token rate per second) plus the document's own text tokens.
    The packer and the batch scheduler both key off this number — text
    token counts alone under-budget multimodal examples by orders of
    magnitude.

    Pure integer ceil-division arithmetic joined one-to-one on the id —
    a single co-partitioned join, no explode (the budget needs tile
    COUNTS, not tile work items — cf. tile_image_plan). Exact oracle.
    """
    tiles = F.when(
        F.col("kind") == "image",
        (
            F.expr(f"(width + {tile} - 1) div {tile}")
            * F.expr(f"(height + {tile} - 1) div {tile}")
        ).cast("long"),
    ).otherwise(F.lit(0))
    audio_toks = F.when(
        F.col("kind") == "audio",
        F.expr(
            f"(duration_ms + {ms_per_audio_token} - 1)"
            f" div {ms_per_audio_token}"
        ),
    ).otherwise(F.lit(0))
    video_toks = F.when(
        F.col("kind") == "video",
        F.expr(f"((duration_ms + 999) div 1000) * {fps_tokens_per_s}"),
    ).otherwise(F.lit(0))
    text_toks = F.size(F.split(F.col("text"), " ")).cast("long")
    m = media.select(
        "media_id",
        "kind",
        tiles.alias("n_tiles"),
        audio_toks.alias("audio_tokens"),
        video_toks.alias("video_tokens"),
    )
    d = documents.select(F.col("doc_id"), text_toks.alias("text_tokens"))
    return (
        m.join(d, m.media_id == d.doc_id)
        .select(
            "media_id",
            "kind",
            "text_tokens",
            (F.col("n_tiles") * tokens_per_tile).alias("image_tokens"),
            "audio_tokens",
            "video_tokens",
            (
                F.col("text_tokens")
                + F.col("n_tiles") * tokens_per_tile
                + F.col("audio_tokens")
                + F.col("video_tokens")
            ).alias("total_tokens"),
        )
    )


def token_budget(
    media: DataFrame,
    documents: DataFrame,
    tokens_per_tile: int = 85,
    tile: int = 32,
    ms_per_audio_token: int = 80,
    fps_tokens_per_s: int = 2,
) -> DataFrame:
    """``_token_budget`` + deterministic media_id output order. Compose
    downstream operators on ``_token_budget`` (unordered): a mid-plan
    global sort is a full-data range exchange the next shuffle destroys
    (the plan-fingerprint gate's global_sort flag caught exactly this in
    shard_manifest)."""
    return _token_budget(
        media, documents, tokens_per_tile, tile, ms_per_audio_token, fps_tokens_per_s
    ).orderBy("media_id")


def shard_manifest(
    media: DataFrame,
    documents: DataFrame,
    n_shards: int = 8,
    max_seq: int = 4096,
    **budget_kw,
) -> DataFrame:
    """WebDataset-style training-shard manifest for the multimodal corpus:
    price every example in sequence positions (token_budget), flag the
    ones that fit ``max_seq``, and hash-assign each to one of
    ``n_shards`` output shards with a deterministic integer hash of the
    id — shards are reproducible across runs and balanced in
    expectation, which is what a distributed data loader needs
    (re-sharding must not reshuffle history). ``seq_in_shard`` is the
    example's position within its shard (media_id order), the record a
    resumable loader checkpoints against.

    Pure integer arithmetic on the token_budget join plus one
    shard-keyed window — the window partitions on shard (n_shards
    groups), so at 100 TB this is the one place to raise n_shards in
    step with corpus size (real WebDataset runs use 1e4-1e5 shards,
    which also keeps the per-shard window tiny)."""
    b = _token_budget(media, documents, **budget_kw)
    from pyspark.sql import Window

    shard = F.expr(
        f"((media_id * 1000003 + 12345) % 2147483647) % {n_shards}"
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("media_id")
    return (
        b.select(
            "media_id",
            "kind",
            "total_tokens",
            shard.alias("shard"),
            (F.col("total_tokens") <= max_seq).alias("fits"),
        )
        .withColumn("seq_in_shard", F.row_number().over(w).cast("long"))
        .orderBy("media_id")
    )


def blob_dedup(media: DataFrame) -> DataFrame:
    """Byte-level media blob dedup: group identical content by SHA-256
    digest and report, per duplicate group, the canonical copy (lowest
    media_id), the replica count, and the storage the duplicates waste —
    the content-addressing pass every multimodal lake runs before
    anything touches pixels (the same frame/image re-crawled under ten
    URLs is the NORM at 100 TB, and byte-identity needs no decode).

    One digest projection (JVM-side sha2 over the binary column — no
    Python), one digest-keyed aggregate. Collision probability at 256
    bits is negligible and identical in the oracle (DuckDB sha256 ==
    Spark sha2(·, 256), verified byte-for-byte on UTF-8 payloads).
    Returns only groups with n_copies >= 2; bytes_saved is what
    deduplication reclaims ((n-1)·blob_bytes).
    """
    digested = media.select(
        "media_id",
        "kind",
        F.sha2(F.col("content"), 256).alias("digest"),
        F.length(F.col("content")).cast("long").alias("blob_bytes"),
    )
    return (
        digested.groupBy("digest")
        .agg(
            F.min("media_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.min("blob_bytes").alias("blob_bytes"),
            F.countDistinct("kind").alias("n_kinds"),
        )
        .where(F.col("n_copies") >= 2)
        .withColumn(
            "bytes_saved",
            ((F.col("n_copies") - 1) * F.col("blob_bytes")).cast("long"),
        )
        .orderBy("canonical_id")
    )
