"""Streaming incremental re-index (streaming/incremental.py).

Property: drain(files A) then drain(files A+B) must equal the one-shot
batch build over A+B, and the second drain must tokenize only B (the
stream checkpoint skips A's files — asserted via the per-epoch batch
dirs: epoch 0 postings stay byte-stable across the second run).
"""

from __future__ import annotations

import os

import pytest

from search_engine_spark.operators.index_build import build_index, prepare_docs
from search_engine_spark.sources.corpus import synth_pages
from search_engine_spark.streaming.incremental import (
    incremental_index_update,
    read_state_index,
)

N_A, N_B = 80, 60


def _postings_set(index):
    return {
        (r["term"], r["doc_id"], r["tf"])
        for r in index.postings.select("term", "doc_id", "tf").collect()
    }


def test_incremental_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "pages")
    state = str(tmp_path / "state")

    all_pages = synth_pages(spark, N_A + N_B, seed=11).cache()
    part_a = all_pages.limit(N_A).cache()
    urls_a = {r["url"] for r in part_a.select("url").collect()}
    part_b = all_pages.filter(~all_pages.url.isin(list(urls_a)))

    part_a.write.parquet(f"{inp}/drop_a")
    idx1 = incremental_index_update(spark, f"{inp}/drop_*", state)

    batch_a = build_index(prepare_docs(part_a, id_method="hash"))
    assert _postings_set(idx1) == _postings_set(batch_a)
    assert idx1.n_docs == batch_a.n_docs

    # second drop: only B's files are new
    epoch_dirs_before = sorted(os.listdir(f"{state}/postings_raw"))
    part_b.write.parquet(f"{inp}/drop_b")
    idx2 = incremental_index_update(spark, f"{inp}/drop_*", state)

    batch_ab = build_index(prepare_docs(all_pages, id_method="hash"))
    assert _postings_set(idx2) == _postings_set(batch_ab)
    assert idx2.n_docs == batch_ab.n_docs
    assert idx2.avgdl == pytest.approx(batch_ab.avgdl, rel=1e-12)

    epoch_dirs_after = sorted(os.listdir(f"{state}/postings_raw"))
    assert set(epoch_dirs_before) < set(epoch_dirs_after), "no new epoch dir"


def test_redelivered_doc_latest_wins(spark, tmp_path):
    """Re-crawl semantics: same url in a later batch replaces its postings
    (reference ON CONFLICT DO UPDATE, lib.rs:231-258)."""
    inp = str(tmp_path / "pages2")
    state = str(tmp_path / "state2")

    v1 = spark.createDataFrame(
        [("https://a.example/p", None, b"<html><body><p>old old words</p></body></html>", "old old words", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    v2 = spark.createDataFrame(
        [("https://a.example/p", None, b"<html><body><p>fresh words</p></body></html>", "fresh words", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    v1.write.parquet(f"{inp}/drop_1")
    incremental_index_update(spark, f"{inp}/drop_*", state)
    v2.write.parquet(f"{inp}/drop_2")
    idx = incremental_index_update(spark, f"{inp}/drop_*", state)

    terms = {r["term"]: r["tf"] for r in idx.postings.collect()}
    assert terms.get("fresh") == 1
    assert "old" not in terms, "stale postings survived re-delivery"
    assert idx.n_docs == 1


def test_compact_state_preserves_index_and_future_drains(spark, tmp_path):
    from search_engine_spark.streaming.incremental import compact_state

    inp = str(tmp_path / "pages")
    state = str(tmp_path / "state")
    all_pages = synth_pages(spark, N_A + N_B, seed=23).cache()
    part_a = all_pages.limit(N_A).cache()
    urls_a = {r["url"] for r in part_a.select("url").collect()}
    part_b = all_pages.filter(~all_pages.url.isin(list(urls_a))).cache()

    # two drains → two epoch dirs
    part_a.write.parquet(f"{inp}/drop_a")
    incremental_index_update(spark, f"{inp}/drop_*", state)
    part_b.write.parquet(f"{inp}/drop_b")
    before = incremental_index_update(spark, f"{inp}/drop_*", state)
    want = _postings_set(before)

    n = compact_state(spark, state)
    assert n == 1  # two dirs → one
    dirs = [
        d for d in os.listdir(f"{state}/postings_raw") if d.startswith("batch=")
    ]
    assert len(dirs) == 1
    after = read_state_index(spark, state)
    assert _postings_set(after) == want
    assert after.n_docs == before.n_docs

    # compacting a compacted state is a no-op
    assert compact_state(spark, state) == 0

    # a later drain (re-crawl of part A) still wins over compacted rows
    part_a.write.parquet(f"{inp}/drop_c")
    idx3 = incremental_index_update(spark, f"{inp}/drop_*", state)
    assert _postings_set(idx3) == want  # same pages → same postings


def _assert_term_sorted(root: str) -> bool:
    """Every data file under root is non-decreasing in (term, doc_id),
    NULL-term zero-token marker rows first (Spark's ascending order;
    UTF-8 byte order is code-point order). Returns whether any file
    holds a marker row."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(root)
        for f in names
        if f.endswith(".parquet")
    ]
    assert files, root
    markers = False
    for f in files:
        t = pq.read_table(f, columns=["term", "doc_id"]).to_pydict()
        keys = [(w is not None, w or "", d) for w, d in zip(t["term"], t["doc_id"])]
        assert keys == sorted(keys), f
        markers = markers or any(w is None for w in t["term"])
    return markers


def _index_rows(index) -> dict:
    return {
        "postings": sorted(
            map(tuple, index.postings.select("term", "doc_id", "tf", "dl").collect())
        ),
        "term_stats": sorted(map(tuple, index.term_stats.collect())),
        "doc_stats": sorted(map(tuple, index.doc_stats.collect())),
        "n_docs": index.n_docs,
    }


def test_state_files_are_term_sorted_and_index_equals_batch(spark, tmp_path):
    """Each drop's epoch and the compacted state are written in the
    written index's postings order, (term, doc_id), and the finalized
    state still equals a one-shot batch build."""
    from search_engine_spark.streaming.incremental import compact_state

    inp = str(tmp_path / "pages")
    state = str(tmp_path / "state")
    root = f"{state}/postings_raw"
    stop_only = spark.createDataFrame(
        [("https://stop.example/", None, b"<p>the of and</p>", "the of and", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    synth = synth_pages(spark, N_A + N_B, seed=29).cache()
    part_a = synth.limit(N_A).unionByName(stop_only).cache()
    urls_a = {r["url"] for r in part_a.select("url").collect()}
    part_b = synth.filter(~synth.url.isin(list(urls_a)))
    all_pages = synth.unionByName(stop_only)

    part_a.write.parquet(f"{inp}/drop_a")
    incremental_index_update(spark, f"{inp}/drop_*", state)
    assert _assert_term_sorted(root), "the stop-word-only page left no marker row"
    part_b.write.parquet(f"{inp}/drop_b")
    drained = incremental_index_update(spark, f"{inp}/drop_*", state)
    _assert_term_sorted(root)

    assert compact_state(spark, state) == 1
    assert _assert_term_sorted(root)
    compacted = read_state_index(spark, state)

    batch = build_index(prepare_docs(all_pages, id_method="hash"))
    want = _index_rows(batch)
    assert _index_rows(drained) == want
    assert _index_rows(compacted) == want
    assert compacted.avgdl == pytest.approx(batch.avgdl, rel=1e-12)
