"""Streaming LSH maintenance (streaming/ann.py): drained epochs probe
identically to a fresh batch build, intake is exactly-once across
drains, tombstones apply."""

from __future__ import annotations

from pyspark.sql import functions as F

from search_engine_spark.operators import similarity as sim
from search_engine_spark.streaming.ann import (
    lsh_index_stream,
    read_lsh_stream_index,
)

SF = "/root/testdata/sf0.001"


def _probe(spark, idx, emb, qid, k=10):
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
    ]
    return [
        tuple(r)
        for r in sim.lsh_index_topk(
            spark, idx, qvec, query_vec_id=qid, k=k
        ).collect()
    ]


def test_stream_drains_equal_fresh_build_and_are_exactly_once(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    base = str(tmp_path)
    half_a.write.parquet(f"{base}/in/drop0")

    # first drain: index over half A only
    idx1 = lsh_index_stream(spark, f"{base}/in/drop*", f"{base}/state")
    fresh_a = str(tmp_path / "fresh_a")
    sim.build_lsh_index(half_a, fresh_a)
    assert _probe(spark, idx1, emb, 1) == _probe(
        spark, sim.load_lsh_index(spark, fresh_a), emb, 1
    )

    # second drain picks up ONLY the new file (exactly-once intake);
    # union of epochs == fresh build over everything. Its `label` is a
    # string: columns the index never uses are not read.
    half_b.withColumn("label", F.col("label").cast("string")).write.parquet(
        f"{base}/in/drop1"
    )
    idx2 = lsh_index_stream(spark, f"{base}/in/drop*", f"{base}/state")
    fresh_all = str(tmp_path / "fresh_all")
    sim.build_lsh_index(emb, fresh_all)
    assert _probe(spark, idx2, emb, 1) == _probe(
        spark, sim.load_lsh_index(spark, fresh_all), emb, 1
    )

    # a drain with nothing new is a no-op (no duplicate bucket rows)
    idx3 = lsh_index_stream(spark, f"{base}/in/drop*", f"{base}/state")
    assert idx3.count() == idx2.count()


def test_stream_state_honors_tombstones(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = str(tmp_path)
    emb.write.parquet(f"{base}/in/drop0")
    lsh_index_stream(spark, f"{base}/in/drop*", f"{base}/state")
    dead = [
        int(r["vec_id"])
        for r in emb.filter(F.col("vec_id") % 7 == 0).collect()
    ]
    sim.lsh_index_delete(spark, f"{base}/state", dead)
    idx = read_lsh_stream_index(spark, f"{base}/state")
    got = _probe(spark, idx, emb, 1)
    assert not {r[0] for r in got} & set(dead)
    fresh = str(tmp_path / "fresh_live")
    sim.build_lsh_index(emb.filter(F.col("vec_id") % 7 != 0), fresh)
    assert got == _probe(spark, sim.load_lsh_index(spark, fresh), emb, 1)
