"""Multimodal plumbing (operators/multimodal.py) and the new dedup
variants (char n-gram Jaccard, embedding near-dup).

The codec-free contract: decode_media raises NotImplementedError
(clearly-marked stub), while the Spark-side plumbing — schemas, Arrow
batch iteration, fan-out, determinism — is real and fully exercised on
the raw payload bytes.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from search_engine_spark.operators import dedup
from search_engine_spark.operators.multimodal import (
    attach_media,
    decode_media,
    extract_features,
    sample_frames,
)


@pytest.fixture(scope="module")
def documents(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def media(documents):
    m = attach_media(documents).cache()
    m.count()
    return m


def test_media_schema_and_metadata(media):
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,kind:string,payload:binary,"
        "meta:struct<mime:string,width:int,height:int,sample_rate:int,"
        "n_frames:int,n_bytes:bigint>>"
    )
    rows = media.collect()
    assert {r["kind"] for r in rows} == {"image", "audio", "video"}
    for r in rows:
        meta = r["meta"]
        assert meta["n_bytes"] == len(bytes(r["payload"]))
        if r["kind"] == "image":
            assert meta["width"] >= 8 and meta["height"] >= 8
            assert meta["mime"] == "image/png"
        if r["kind"] == "audio":
            assert meta["sample_rate"] == 16_000
        if r["kind"] == "video":
            assert meta["n_frames"] >= 2


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG...", "image")
    with pytest.raises(NotImplementedError):
        decode_media(b"RIFF...", "audio")


def test_features_shape_norm_determinism(media):
    f1 = extract_features(media, dim=64)
    rows = f1.collect()
    assert len(rows) == media.count()
    for r in rows:
        assert len(r["feature"]) == 64
        norm = math.sqrt(sum(x * x for x in r["feature"]))
        assert norm == pytest.approx(1.0, abs=1e-5)
    again = {r["doc_id"]: r["feature"] for r in extract_features(media, dim=64).collect()}
    assert {r["doc_id"]: r["feature"] for r in rows} == again


def test_sample_frames_fanout(media):
    vids = {r["doc_id"]: r["meta"]["n_frames"]
            for r in media.filter(F.col("kind") == "video").collect()}
    out = sample_frames(media, every_n=2).collect()
    per_doc: dict[int, int] = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
        assert r["frame_idx"] % 2 == 0
    assert per_doc == {d: -(-nf // 2) for d, nf in vids.items()}


def test_features_feed_similarity(spark, media):
    """Media features are a valid embeddings table for the ANN ops."""
    emb = extract_features(media).select(
        F.col("doc_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    from search_engine_spark.operators.similarity import cosine_topk

    qid = emb.limit(1).collect()[0]["vec_id"]
    top = cosine_topk(emb, qid, k=5).collect()
    assert len(top) == 5
    assert all(-1.0 <= r["cos"] <= 1.0 for r in top)


# ---- new dedup variants ----------------------------------------------------

def test_ngram_jaccard_self_pairs(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzyyyy")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_embedding_pairs_exact_vs_lsh(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    base = rng.normal(size=(20, 64)).astype("float32")
    # make 3 exact near-dup pairs (tiny perturbations)
    vecs = list(base)
    for i in range(3):
        vecs.append(base[i] + rng.normal(scale=0.01, size=64).astype("float32"))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_cosine_pairs(emb, threshold=0.95).collect()
    }
    assert exact == {(0, 20), (1, 21), (2, 22)}
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    # LSH is a candidate filter over the same exact verification:
    # no false positives, and (at 8 planes / cos≥0.999) full recall here
    assert lsh <= exact
    assert len(lsh) >= 2


def test_minhash_dedup_groups_exact_dupes(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),    # near dup of 1
        (4, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    labels = {r["doc_id"]: r["keep_id"] for r in dedup.minhash_dedup(df).collect()}
    assert labels[1] == 1 and labels[2] == 1          # exact dupes share rep
    assert labels[4] == 4                             # unique doc keeps itself
    assert set(labels) == {1, 2, 3, 4}                # every doc labeled
