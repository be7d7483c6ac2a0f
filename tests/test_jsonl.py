"""Document chunking and embedding-group centroids over the sf0.001
document and embedding tables."""

from bytehub_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_chunk_documents_reconstructs_text(spark):
    """Dropping each chunk's leading overlap and concatenating must
    reproduce the original text exactly; every chunk except the last is
    full-width; boundaries follow the stride."""
    from bytehub_spark.operators import curation

    texts = [
        (1, " ".join(f"w{i}" for i in range(100))),
        (2, " ".join(f"w{i}" for i in range(32))),   # exactly one chunk
        (3, " ".join(f"w{i}" for i in range(33))),   # one word spill
        (4, "short doc"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    out = curation.chunk_documents(docs, chunk_words=32, overlap=8).toPandas()
    stride = 24
    for doc_id, text in texts:
        ch = out[out["doc_id"] == doc_id].sort_values("chunk_idx")
        words = text.split(" ")
        rebuilt = []
        for _, row in ch.iterrows():
            cw = row["chunk_text"].split(" ")
            assert row["n_words"] == len(cw)
            rebuilt.extend(cw if row["chunk_idx"] == 0 else cw[8:])
            start = row["chunk_idx"] * stride
            assert cw == words[start : start + 32]
        assert rebuilt == words
    assert out[out["doc_id"] == 2]["chunk_idx"].tolist() == [0]
    assert out[out["doc_id"] == 3]["chunk_idx"].tolist() == [0, 1]


def test_group_centroids_match_numpy(spark):
    import numpy as np
    from bytehub_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings")
    got = similarity.group_centroids(emb).toPandas()
    pdf = emb.toPandas()
    for label in sorted(pdf["label"].unique()):
        mat = np.array([np.asarray(v, dtype=np.float64)
                        for v in pdf[pdf["label"] == label]["embedding"]])
        expect = mat.mean(axis=0)
        g = got[got["label"] == label].sort_values("dim")
        assert (g["n_vectors"] == len(mat)).all()
        assert np.allclose(g["centroid_val"].to_numpy(), expect, atol=1e-9)
