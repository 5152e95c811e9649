"""Serving extras: minimum_should_match retrieval, query-time synonym
expansion, and recency-decay ranking (operators/query.py::msm_search /
synonym_search / decay_search). Oracle value parity runs in
test_entry_oracle.py; here: semantics the SQL comparison can't pin —
the m-of-n gate actually gates, synonym weights boost without ever
down-weighting originals, and the decay reorders BEFORE the k-cut.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import query as Q
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query import (
    decay_search,
    msm_search,
    search,
    synonym_search,
)
from search_engine_spark.operators.rerank import mmr_rerank
from search_engine_spark.operators.text_analytics import ws_tokens

#: doc 1 matches both query terms, 2/3 one each, 4 only a synonym
DOCS = [
    (1, "spark merge spark line"),
    (2, "spark line line line"),
    (3, "merge line line line"),
    (4, "stream stream line line"),
    (5, "line line line line"),
]
QUERY = {0: "spark merge"}


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return build_index(docs, tokenizer=ws_tokens).cache()


def test_msm_gates_on_distinct_matched_terms(spark, index):
    both = msm_search(index, spark, QUERY, k=10, min_should_match=2).collect()
    assert [r["doc_id"] for r in both] == [1]

    any_ = msm_search(index, spark, QUERY, k=10, min_should_match=1)
    assert {r["doc_id"] for r in any_.collect()} == {1, 2, 3}

    none = msm_search(index, spark, QUERY, k=10, min_should_match=3)
    assert none.count() == 0


def test_msm_1_equals_or_retrieval(spark, index):
    msm = msm_search(index, spark, QUERY, k=10, min_should_match=1).collect()
    base = search(index, spark, QUERY, k=10).collect()
    got = {(r["query_id"], r["doc_id"]): round(r["score"], 6) for r in msm}
    want = {(r["query_id"], r["doc_id"]): round(r["score"], 6) for r in base}
    assert got == want


def test_synonym_expansion_recalls_and_boosts(spark, index):
    plain = {r["doc_id"] for r in search(index, spark, QUERY, k=10).collect()}
    assert 4 not in plain  # doc 4 has no original term

    exp = synonym_search(
        index, spark, QUERY, {"spark": ["stream"]}, k=10, syn_weight=0.5
    ).collect()
    by_doc = {r["doc_id"]: r["score"] for r in exp}
    assert 4 in by_doc and by_doc[4] > 0

    # weight 0 keeps the ranking of the original terms intact
    zero = synonym_search(
        index, spark, QUERY, {"spark": ["stream"]}, k=10, syn_weight=0.0
    ).collect()
    zd = {r["doc_id"]: r["score"] for r in zero if r["doc_id"] != 4}
    base = {
        r["doc_id"]: round(r["score"], 6)
        for r in search(index, spark, QUERY, k=10).collect()
    }
    assert zd == base


def test_synonym_collision_keeps_original_weight(spark, index):
    # a synonym that IS an original term must stay at weight 1.0
    exp = synonym_search(
        index, spark, QUERY, {"spark": ["merge"]}, k=10, syn_weight=0.25
    ).collect()
    base = search(index, spark, QUERY, k=10).collect()
    got = {r["doc_id"]: r["score"] for r in exp}
    want = {r["doc_id"]: round(r["score"], 6) for r in base}
    assert got == want


def test_decay_reorders_before_topk(spark, index):
    # doc 2 and 3 are symmetric one-term matches; age doc 2 heavily
    ages = spark.createDataFrame(
        [(1, 0.0), (2, 300.0), (3, 0.0), (4, 0.0), (5, 0.0)],
        "doc_id long, age_days double",
    )
    out = decay_search(index, spark, QUERY, ages, k=2, half_life=30.0).collect()
    assert [r["doc_id"] for r in out][0] == 1  # two-term match still wins
    assert 2 not in {r["doc_id"] for r in out}  # stale doc displaced at k=2

    # age 0 everywhere == plain bm25 scores
    fresh = spark.createDataFrame(
        [(d, 0.0) for d, _ in DOCS], "doc_id long, age_days double"
    )
    dec = decay_search(index, spark, QUERY, fresh, k=10, half_life=30.0).collect()
    base = search(index, spark, QUERY, k=10).collect()
    got = {r["doc_id"]: r["score"] for r in dec}
    want = {r["doc_id"]: round(r["score"], 6) for r in base}
    assert got == want


def test_invalid_shard_count_and_half_life_raise_at_call_time(spark, index):
    """Rejected when called, not later inside a Spark task as
    REMAINDER_BY_ZERO / DIVIDE_BY_ZERO on the first read."""
    ages = index.doc_stats.select("doc_id", F.lit(1.0).alias("age_days"))
    for n_shards in (0, -1):
        with pytest.raises(ValueError, match="n_shards"):
            Q.sharded_search(index, ["spark", "merge"], n_shards=n_shards)
    for half_life in (0.0, -5.0, float("nan")):
        with pytest.raises(ValueError, match="half_life"):
            decay_search(index, spark, QUERY, ages, half_life=half_life)


def test_top_hits_by_facet_buckets_and_cut(spark, index):
    from search_engine_spark.operators.query import top_hits_by_facet

    dims = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "b")],
        "doc_id long, source string",
    )
    qt = spark.createDataFrame(
        [(0, "spark"), (0, "merge")], "query_id int, term string"
    )
    out = top_hits_by_facet(
        index, qt, dims, "source", n=1, terms=["spark", "merge"]
    ).collect()
    # bucket a: doc 1 (two-term match) wins; bucket b: only doc 3 matches
    got = {(r["facet"], r["rn"]): r["doc_id"] for r in out}
    assert got == {("a", 1): 1, ("b", 1): 3}
    # non-matching docs (4, 5) never appear even with a larger n
    wide = top_hits_by_facet(
        index, qt, dims, "source", n=10, terms=["spark", "merge"]
    ).collect()
    assert {r["doc_id"] for r in wide} == {1, 2, 3}
    # rn is dense per bucket and ordered by score desc
    a_rows = sorted(
        [r for r in wide if r["facet"] == "a"], key=lambda r: r["rn"]
    )
    assert [r["rn"] for r in a_rows] == [1, 2]
    assert a_rows[0]["score"] >= a_rows[1]["score"]


def test_date_histogram_buckets_matched_docs(spark, index):
    from search_engine_spark.operators.query import date_histogram_hits

    times = spark.createDataFrame(
        [(1, "2026-01-01"), (2, "2026-01-02"), (3, "2026-01-15"),
         (4, "2026-01-15"), (5, "2026-01-15")],
        "doc_id long, d string",
    ).select("doc_id", F.col("d").cast("timestamp").alias("ts"))
    qt = spark.createDataFrame(
        [(0, "spark"), (0, "merge")], "query_id int, term string"
    )
    out = date_histogram_hits(
        index, qt, times, interval="week", terms=["spark", "merge"]
    ).collect()
    # docs 1-3 match; 1+2 share the week of 2025-12-29, 3 is alone
    got = {(str(r["bucket"])[:10]): r["n_docs"] for r in out}
    assert got == {"2025-12-29": 2, "2026-01-12": 1}


def test_significant_terms_surfaces_cooccurring_term(spark):
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.query import significant_terms

    # 'needle' rides along with every 'spark' doc; 'noise' is uniform
    docs = spark.createDataFrame(
        [(1, "spark needle noise"), (2, "spark needle noise"),
         (3, "spark needle"), (4, "other noise"), (5, "other noise"),
         (6, "other noise"), (7, "other"), (8, "other")],
        "doc_id long, text string",
    )
    idx = build_index(docs, tokenizer=ws_tokens)
    qt = spark.createDataFrame([(0, "spark")], "query_id int, term string")
    out = significant_terms(
        idx, qt, k_hits=10, top_terms=3, terms=["spark"]
    ).collect()
    ranked = [r["term"] for r in out]
    # spark + needle saturate the foreground (fg% = 1) with tiny bg%;
    # 'noise' is anti-correlated and must not beat them
    assert set(ranked[:2]) == {"spark", "needle"}
    by_term = {r["term"]: r for r in out}
    assert by_term["needle"]["fg_df"] == 3 and by_term["needle"]["bg_df"] == 3
    for r in out:
        assert r["score"] == round(r["score"], 6)


def test_rescore_window_gates_and_reorders(spark, index):
    from search_engine_spark.operators.query import rescore_topk, search

    # window=1: only the best BM25 doc survives to phase 2
    top1 = rescore_topk(index, spark, QUERY, k=1, window=1).collect()
    base = search(index, spark, QUERY, k=1).collect()
    assert [r["doc_id"] for r in top1] == [r["doc_id"] for r in base]

    # wide window: every base candidate is rescored, none invented
    wide = rescore_topk(index, spark, QUERY, k=10, window=50).collect()
    cand = {r["doc_id"] for r in search(index, spark, QUERY, k=10).collect()}
    assert {r["doc_id"] for r in wide} == cand

    # w_rescore=0 degrades to pure (rounded) BM25 order
    flat = rescore_topk(
        index, spark, QUERY, k=10, window=50, w_rescore=0.0
    ).collect()
    assert [r["doc_id"] for r in flat] == [
        r["doc_id"]
        for r in search(index, spark, QUERY, k=10).collect()
    ]

    with pytest.raises(ValueError):
        rescore_topk(index, spark, QUERY, k=20, window=10)


def test_facet_pagination_is_disjoint_and_complete(spark, index):
    from search_engine_spark.operators.query import (
        facet_counts,
        facet_counts_after,
    )

    dims = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")],
        "doc_id long, source string",
    )
    qt = spark.createDataFrame(
        [(0, "spark"), (0, "merge"), (0, "line")],
        "query_id int, term string",
    )
    terms = ["spark", "merge", "line"]
    pages, after = [], None
    while True:
        page = facet_counts_after(
            index, qt, dims, "source", size=2, after=after, terms=terms
        ).collect()
        if not page:
            break
        pages.append([r["facet"] for r in page])
        after = page[-1]["facet"]
    flat = [f for p in pages for f in p]
    assert flat == sorted(flat) and len(flat) == len(set(flat))
    full = {
        r["facet"]
        for r in facet_counts(index, qt, dims, "source", terms=terms).collect()
    }
    assert set(flat) == full
    assert all(len(p) <= 2 for p in pages)


HITS = "struct<query_id:int,doc_id:bigint,score:double>"
EMPTY_QUERY_CASES = {
    # name: (call(index, spark, docs), schema of the empty result)
    "search[]": (lambda i, s, d: search(i, s, []), HITS),
    "search[stopwords]": (lambda i, s, d: search(i, s, ["the and"]), HITS),
    "rescore_topk": (lambda i, s, d: Q.rescore_topk(i, s, ["the"]), HITS),
    "msm_search": (lambda i, s, d: msm_search(i, s, {0: "the"}), HITS),
    "synonym_search": (
        lambda i, s, d: synonym_search(i, s, {0: "the"}, {"the": ["line"]}),
        HITS,
    ),
    "decay_search": (
        lambda i, s, d: decay_search(
            i, s, ["the"], i.doc_stats.select("doc_id", F.lit(1.0).alias("age_days"))
        ),
        HITS,
    ),
    "champion_search": (lambda i, s, d: Q.champion_search(i, s, ["the"]), HITS),
    "tiered_search": (lambda i, s, d: Q.tiered_search(i, s, ["the"]), HITS),
    "explain_score": (
        lambda i, s, d: Q.explain_score(i, [], [1]),
        "struct<doc_id:bigint,term:string,tf:bigint,df:bigint,idf:double,"
        "tf_norm:double,contribution:double>",
    ),
    "tombstone_search": (
        lambda i, s, d: Q.tombstone_search(i, i.doc_stats.select("doc_id"), []),
        HITS,
    ),
    "sharded_search": (lambda i, s, d: Q.sharded_search(i, []), HITS),
    "corrected_search": (lambda i, s, d: Q.corrected_search(i, []), HITS),
    "search_after": (lambda i, s, d: Q.search_after(i, [], after=(1.0, 1)), HITS),
    "wildcard_search": (lambda i, s, d: Q.wildcard_search(i, s, "zzz*"), HITS),
    "fuzzy_search": (lambda i, s, d: Q.fuzzy_search(i, []), HITS),
    "rm3_expand": (
        lambda i, s, d: Q.rm3_expand(i, d, [], tokenizer=ws_tokens),
        "struct<term:string,weight:double>",
    ),
    "rm3_search": (lambda i, s, d: Q.rm3_search(i, d, [], tokenizer=ws_tokens), HITS),
    "mmr_rerank": (
        lambda i, s, d: mmr_rerank(i, d, [], tokenizer=ws_tokens),
        "struct<rank:int,doc_id:bigint,score:double>",
    ),
}


@pytest.mark.parametrize("name", sorted(EMPTY_QUERY_CASES))
def test_query_without_terms_is_empty_without_postings_join(spark, index, name):
    """One empty-query contract: no indexable term ([] or only stop
    words) → an empty frame of the function's schema, built without a
    postings join (and without raising)."""
    call, schema = EMPTY_QUERY_CASES[name]
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    df = call(index, spark, docs)
    assert df.schema.simpleString() == schema
    assert "Join" not in df._jdf.queryExecution().logical().toString()
    assert df.count() == 0
