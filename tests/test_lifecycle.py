"""Index lifecycle and corpus-drift operators: epoch diff
(index_build.index_diff), JS divergence (text_analytics.
divergence_contrib/js_divergence), and keyset pagination
(query.search_after). Oracle value parity runs in test_entry_oracle.py;
here: the invariants the SQL comparison can't pin.
"""

from __future__ import annotations

import math

import pytest

from search_engine_spark.operators.index_build import build_index, index_diff
from search_engine_spark.operators.query import search_after
from search_engine_spark.operators.text_analytics import (
    js_divergence,
    ws_tokens,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_index_diff_statuses(spark):
    old = build_index(
        _docs(spark, [(1, "stable shrunk shrunk removed grown"), (2, "shrunk")]),
        tokenizer=ws_tokens,
    )
    new = build_index(
        _docs(
            spark,
            [(1, "stable shrunk added grown"), (2, "grown"), (3, "grown")],
        ),
        tokenizer=ws_tokens,
    )
    got = {r["term"]: r for r in index_diff(old, new).collect()}
    assert got["added"]["status"] == "added" and got["added"]["df_old"] == 0
    assert got["removed"]["status"] == "removed" and got["removed"]["df_new"] == 0
    assert got["grown"]["status"] == "grown" and got["grown"]["delta"] == 2
    assert got["shrunk"]["status"] == "shrunk" and got["shrunk"]["delta"] == -1
    assert got["stable"]["status"] == "stable" and got["stable"]["delta"] == 0


def test_js_zero_for_identical_and_ln2_for_disjoint(spark):
    a = _docs(spark, [(1, "x y z"), (2, "x x")])
    same = js_divergence(a, a).first()
    assert same["js"] == 0.0
    b = _docs(spark, [(9, "p q r")])
    disjoint = js_divergence(a, b).first()
    assert disjoint["js"] == pytest.approx(math.log(2), abs=1e-6)


def test_js_symmetric_and_bounded(spark):
    a = _docs(spark, [(1, "x y z z")])
    b = _docs(spark, [(2, "x q q z")])
    ab = js_divergence(a, b).first()["js"]
    ba = js_divergence(b, a).first()["js"]
    assert ab == ba
    assert 0.0 < ab < math.log(2)


@pytest.fixture(scope="module")
def sf_index(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    return build_index(docs, tokenizer=ws_tokens).cache()


def test_search_after_pages_tile_the_ranking(sf_index):
    terms = ["spark", "merge", "batch"]
    p1 = search_after(sf_index, terms, k=10).collect()
    last = p1[-1]
    p2 = search_after(
        sf_index, terms, k=10, after=(last["score"], last["doc_id"])
    ).collect()
    top20 = search_after(sf_index, terms, k=20).collect()
    assert [(r["doc_id"], r["score"]) for r in p1 + p2] == [
        (r["doc_id"], r["score"]) for r in top20
    ]
    assert {r["doc_id"] for r in p1}.isdisjoint({r["doc_id"] for r in p2})


def test_search_after_walk_terminates(spark, sf_index):
    # paging past the last match returns empty, not an error
    terms = ["spark"]
    cursor, seen, pages = None, 0, 0
    while True:
        page = search_after(sf_index, terms, k=500, after=cursor).collect()
        if not page:
            break
        seen += len(page)
        cursor = (page[-1]["score"], page[-1]["doc_id"])
        pages += 1
        assert pages < 50
    total = search_after(sf_index, terms, k=1_000_000).count()
    assert seen == total


# ---------------------------------------------------------------------------
# highlight_snippet (serving-side snippet windows)
# ---------------------------------------------------------------------------


def test_highlight_window_tags_and_lead(spark):
    from search_engine_spark.operators.text_analytics import highlight_snippet

    text = " ".join(f"w{i}" for i in range(10)) + " hit " + " ".join(
        f"v{i}" for i in range(30)
    )
    docs = _docs(spark, [(1, text), (2, "no match here")])
    out = highlight_snippet(docs, ["hit", "v2"], width=8, lead=2).collect()
    assert len(out) == 1  # doc 2 dropped: no hit
    r = out[0]
    assert r["first_pos"] == 10
    # window starts lead=2 before the hit, runs width=8 tokens, and tags
    # EVERY query term inside it
    assert r["snippet"] == "w8 w9 <b>hit</b> v0 v1 <b>v2</b> v3 v4"


def test_highlight_window_clamps_at_doc_start(spark):
    from search_engine_spark.operators.text_analytics import highlight_snippet

    docs = _docs(spark, [(1, "hit a b c d e f g h")])
    r = highlight_snippet(docs, ["hit"], width=4, lead=5).first()
    assert r["first_pos"] == 0
    assert r["snippet"] == "<b>hit</b> a b c"


def test_highlight_matches_backslash_and_quote_terms(spark):
    from search_engine_spark.operators.text_analytics import highlight_snippet

    docs = _docs(spark, [(1, "x a\\b it's y")])
    r = highlight_snippet(docs, ["a\\b", "it's"], width=4, lead=1).first()
    assert r is not None and r["first_pos"] == 1
    assert r["snippet"] == "x <b>a\\b</b> <b>it's</b> y"


# ---------------------------------------------------------------------------
# tombstone serving (deletes between rebuilds)
# ---------------------------------------------------------------------------


def test_tombstones_exclude_docs_but_keep_stale_stats(spark, sf_index):
    from search_engine_spark.operators.query import (
        score_bm25,
        tombstone_search,
    )
    from pyspark.sql import functions as F

    terms = ["spark", "merge", "batch"]
    qt = spark.createDataFrame(
        [(0, t) for t in terms], "query_id int, term string"
    )
    base = (
        score_bm25(sf_index, qt, k=1_000_000, terms=terms)
        .withColumn("score", F.round("score", 6))
        .collect()
    )
    victims = {base[0]["doc_id"], base[2]["doc_id"]}
    gone = spark.createDataFrame([(d,) for d in victims], "doc_id long")
    served = tombstone_search(sf_index, gone, terms, k=10).collect()
    ids = [r["doc_id"] for r in served]
    assert victims.isdisjoint(ids)
    # stale-stats contract: surviving docs keep their ORIGINAL scores
    # and order, and the page refills to k from below the cut
    expect = [
        (r["doc_id"], r["score"]) for r in base if r["doc_id"] not in victims
    ][:10]
    assert [(r["doc_id"], r["score"]) for r in served] == expect
    assert len(served) == 10


# ---------------------------------------------------------------------------
# scatter-gather sharded serving
# ---------------------------------------------------------------------------


def test_sharded_equals_global_for_any_shard_count(spark, sf_index):
    from search_engine_spark.operators.query import (
        score_bm25,
        sharded_search,
    )
    from pyspark.sql import functions as F

    terms = ["spark", "merge", "batch"]
    qt = spark.createDataFrame(
        [(0, t) for t in terms], "query_id int, term string"
    )
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in score_bm25(sf_index, qt, k=10, terms=terms).collect()
    ]
    for n in (1, 3, 16):
        got = [
            (r["doc_id"], r["score"])
            for r in sharded_search(sf_index, terms, n_shards=n, k=10).collect()
        ]
        assert got == want, n
