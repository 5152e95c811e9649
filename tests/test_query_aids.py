"""Query aids: did_you_mean spelling suggestions and index vocabulary
pruning (operators/query.py::did_you_mean, index_build.prune_index).
Oracle value parity runs in test_entry_oracle.py; here: semantics the
SQL comparison can't pin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators.index_build import build_index, prune_index
from search_engine_spark.operators.query import did_you_mean, score_bm25
from search_engine_spark.operators.text_analytics import ws_tokens

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    return build_index(docs, tokenizer=ws_tokens).cache()


def test_did_you_mean_corrects_one_edit(spark, index):
    vocab = [r["term"] for r in index.term_stats.select("term").collect()]
    target = max(vocab, key=len)  # longest term: unambiguous 1-edit twin
    typo = target[:-1] + ("x" if target[-1] != "x" else "y")
    out = did_you_mean(index, [typo], max_dist=2).collect()
    assert len(out) == 1
    assert out[0]["term"] == typo
    assert out[0]["suggestion"] == target
    assert out[0]["dist"] == 1


def test_did_you_mean_skips_known_and_hopeless(spark, index):
    known = index.term_stats.first()["term"]
    out = did_you_mean(index, [known, "qqqqqqqqqqqqq"], max_dist=2).collect()
    # in-vocabulary terms need no suggestion; >max_dist typos get none
    assert out == []


def test_prune_index_preserves_scores_of_survivors(spark, index):
    pruned = prune_index(index, min_df=1, max_df_ratio=1.0)
    # identity band: nothing dropped, scores identical
    assert pruned.term_stats.count() == index.term_stats.count()

    n = index.n_docs
    tight = prune_index(index, min_df=2, max_df_ratio=0.9)
    surviving = [r["term"] for r in tight.term_stats.select("term").collect()]
    assert 0 < len(surviving) <= index.term_stats.count()
    qterms = surviving[:2]
    qt = spark.createDataFrame(
        [(0, t) for t in qterms], "query_id int, term string"
    )
    full = {
        (r["doc_id"]): r["score"]
        for r in score_bm25(index, qt, k=50, terms=qterms).collect()
    }
    cut = {
        (r["doc_id"]): r["score"]
        for r in score_bm25(tight, qt, k=50, terms=qterms).collect()
    }
    # surviving terms score identically: df/idf/tf_norm were computed
    # before the prune and are untouched by it
    assert full == cut

    # the df band really is two-sided
    dfs = [r["df"] for r in tight.term_stats.select("df").collect()]
    assert all(2 <= d <= 0.9 * n for d in dfs)


def test_lm_dirichlet_more_tf_scores_higher(spark):
    from search_engine_spark.operators.query import score_lm_dirichlet

    docs = spark.createDataFrame(
        [(0, "cat dog"), (1, "cat cat dog"), (2, "fish fish")],
        "doc_id long, text string",
    )
    idx = build_index(docs, tokenizer=ws_tokens)
    qt = spark.createDataFrame([(0, "cat")], "query_id int, term string")
    out = {r["doc_id"]: r["score"] for r in
           score_lm_dirichlet(idx, qt, mu=10.0, k=10, terms=["cat"]).collect()}
    # only matching docs are candidates; more occurrences at equal-ish
    # length wins despite doc 1 being longer
    assert set(out) == {0, 1}
    assert out[1] > out[0]


def test_bm25f_anchor_only_match_is_retrievable(spark):
    from search_engine_spark.operators.query import score_bm25f

    docs = spark.createDataFrame(
        [(0, "cat dog bird"), (1, "fish fish fish"), (2, "cat cat bird")],
        "doc_id long, text string",
    )
    idx = build_index(docs, tokenizer=ws_tokens)
    # doc 1 never says "cat" but is LINKED as "cat" — anchor-only match
    anchors = spark.createDataFrame(
        [(1, "cat", 3), (2, "cat", 1)],
        "doc_id long, term string, tf_anchor long",
    )
    qt = spark.createDataFrame([(0, "cat")], "query_id int, term string")
    out = {r["doc_id"]: r["score"] for r in
           score_bm25f(idx, anchors, qt, k=10, terms=["cat"]).collect()}
    assert 1 in out                      # retrieved purely via anchors
    assert set(out) == {0, 1, 2}
    # heavier anchor weight lifts the anchor-only doc
    hi = {r["doc_id"]: r["score"] for r in
          score_bm25f(idx, anchors, qt, k=10, terms=["cat"], w_anchor=10.0).collect()}
    assert hi[1] > out[1]


def test_lm_dirichlet_batch_equals_single_query(spark):
    """p(t|C) is a corpus constant: a term shared by two batch queries
    must not double its collection frequency (r3 review finding)."""
    from search_engine_spark.operators.query import score_lm_dirichlet

    docs = spark.createDataFrame(
        [(0, "cat dog"), (1, "cat cat dog"), (2, "dog fish")],
        "doc_id long, text string",
    )
    idx = build_index(docs, tokenizer=ws_tokens)
    single = spark.createDataFrame([(0, "cat")], "query_id int, term string")
    batch = spark.createDataFrame(
        [(0, "cat"), (1, "cat"), (1, "fish")], "query_id int, term string"
    )
    alone = {
        r["doc_id"]: r["score"]
        for r in score_lm_dirichlet(
            idx, single, mu=10.0, k=10, terms=["cat"]
        ).collect()
    }
    in_batch = {
        r["doc_id"]: r["score"]
        for r in score_lm_dirichlet(
            idx, batch, mu=10.0, k=10, terms=["cat", "fish"]
        ).collect()
        if r["query_id"] == 0
    }
    assert alone == in_batch


def test_rm3_expansion_recalls_feedback_vocabulary(spark):
    """The point of pseudo-relevance feedback: a doc sharing NO term
    with the query becomes retrievable when it shares vocabulary with
    the query's top-ranked (feedback) docs."""
    from search_engine_spark.operators.query import rm3_expand, rm3_search

    rows = [
        # on-topic docs: query term + companion vocabulary
        (0, "solar panel inverter grid energy"),
        (1, "solar inverter battery grid storage"),
        (2, "solar grid inverter output energy"),
        # the PRF target: companion terms only, never the query term
        (3, "inverter grid battery energy storage"),
        # off-topic noise
        (4, "pasta sauce tomato basil recipe"),
        (5, "guitar chord melody rhythm song"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    index = build_index(docs, tokenizer=ws_tokens)

    model = {
        r["term"]: r["weight"]
        for r in rm3_expand(
            index, docs, ["solar"], tokenizer=ws_tokens, fb_docs=3, fb_terms=6
        ).collect()
    }
    # the original term keeps its (1-α)/|q| floor plus its P_rm mass
    assert model["solar"] > 0.5
    # companion vocabulary from the feedback docs enters the model...
    assert "inverter" in model and "grid" in model
    # ...and off-topic vocabulary does not
    assert "pasta" not in model and "guitar" not in model

    hits = {
        r["doc_id"]
        for r in rm3_search(
            index, docs, ["solar"], tokenizer=ws_tokens, fb_docs=3, fb_terms=6
        ).collect()
    }
    assert 3 in hits, "PRF must retrieve the companion-only doc"
    assert 4 not in hits and 5 not in hits


def test_mmr_demotes_near_duplicate_results(spark):
    """MMR's contract: among equally relevant docs, a near-duplicate of
    an already-picked doc ranks below a relevant-but-different doc."""
    from search_engine_spark.operators.rerank import mmr_rerank

    rows = [
        # two near-identical highly relevant docs (19/20 shared tokens)
        (0, "solar " * 3 + " ".join(f"t{i}" for i in range(17))),
        (1, "solar " * 3 + " ".join(f"t{i}" for i in range(16)) + " zz"),
        # a less-relevant but different doc
        (2, "solar " + " ".join(f"u{i}" for i in range(19))),
        # filler so stats aren't degenerate
        (3, " ".join(f"v{i}" for i in range(20))),
        (4, " ".join(f"w{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    index = build_index(docs, tokenizer=ws_tokens)

    plain = [
        r["doc_id"]
        for r in score_bm25(
            index,
            spark.createDataFrame([(0, "solar")], "query_id int, term string"),
            k=3,
            terms=["solar"],
        ).collect()
    ]
    assert plain[:2] == [0, 1], "BM25 alone ranks the twins 1-2"

    mmr = [
        r["doc_id"]
        for r in mmr_rerank(
            index, docs, ["solar"], tokenizer=ws_tokens,
            n_candidates=5, k=3, lam=0.5,
        ).collect()
    ]
    assert mmr[0] == 0
    assert mmr[1] == 2, f"the different doc must jump the near-dup twin: {mmr}"
    assert mmr[2] == 1


def test_champion_search_exact_when_m_exceeds_df(spark, index):
    """With m ≥ every query term's df, no list is truncated — champion
    top-k must equal the full BM25 ranking (scores 6dp)."""
    from search_engine_spark.operators.query import champion_search

    q = ["spark merge batch"]
    full = score_bm25(
        index,
        spark.createDataFrame(
            [(0, t) for t in ["spark", "merge", "batch"]],
            "query_id int, term string",
        ),
        k=10,
        terms=["spark", "merge", "batch"],
    ).collect()
    champ = champion_search(index, spark, q, m=10**6, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in champ] == [
        (r["doc_id"], round(r["score"], 6)) for r in full
    ]


def test_champion_scores_are_unrescaled_and_subset(spark, index):
    """Small m: every champion hit keeps its FULL-index score (stats are
    not recomputed over the truncated lists), and every returned doc is
    a champion of at least one query term."""
    from search_engine_spark.operators.query import (
        champion_postings,
        champion_search,
    )

    terms = ["spark", "merge", "batch"]
    full = {
        (r["doc_id"]): r["score"]
        for r in score_bm25(
            index,
            spark.createDataFrame(
                [(0, t) for t in terms], "query_id int, term string"
            ),
            k=10**6,
            terms=terms,
        ).collect()
    }
    m = 4
    champ_idx = champion_postings(index, m=m)
    champ_docs = {
        r["doc_id"]
        for r in champ_idx.postings.filter(F.col("term").isin(terms))
        .select("doc_id")
        .distinct()
        .collect()
    }
    # truncation is real at this m on this corpus
    assert champ_idx.postings.filter(F.col("term").isin(terms)).count() <= m * 3
    out = champion_search(index, spark, [" ".join(terms)], m=m, k=10).collect()
    assert out, "champion search returned nothing"
    for r in out:
        assert r["doc_id"] in champ_docs
        # champion score ≤ full score (subset of the doc's matched terms),
        # equal when ALL its matched terms kept it as champion
        assert r["score"] <= round(full[r["doc_id"]], 6) + 1e-9


def test_tiered_search_fallback_restores_exact_bm25(spark, index):
    """m=1 starves the champion tier (< k results) → the query re-runs
    on full lists and must equal plain rounded BM25 exactly."""
    from search_engine_spark.operators.query import tiered_search

    terms = ["spark", "merge", "batch"]
    full = score_bm25(
        index,
        spark.createDataFrame(
            [(0, t) for t in terms], "query_id int, term string"
        ),
        k=10,
        terms=terms,
    ).collect()
    out = tiered_search(index, spark, [" ".join(terms)], m=1, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in out] == [
        (r["doc_id"], round(r["score"], 6)) for r in full
    ]


def test_tiered_search_mixed_batch(spark, index):
    """Two queries, one fillable from champions, one not: each takes
    its own tier and both come back in one result."""
    from search_engine_spark.operators.query import (
        champion_search,
        tiered_search,
    )

    qs = {0: "spark merge batch", 1: "spark"}
    # m large enough that q0 fills from champions; q1 is single-term so
    # its champion tier is exact anyway
    out = tiered_search(index, spark, qs, m=64, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert set(by_q) == {0, 1}
    champ = champion_search(index, spark, qs, m=64, k=10).collect()
    cby = {}
    for r in champ:
        cby.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, rows in by_q.items():
        assert rows == cby[qid] or len(rows) == 10


def test_rrf_fuse_prefers_docs_in_both_lists(spark):
    """RRF: a doc ranked in BOTH lists outranks single-list docs of
    comparable rank; exact 1/(c+r) sums; tie-break doc_id ASC."""
    from search_engine_spark.operators.rerank import rrf_fuse

    a = spark.createDataFrame(
        [(1, 3.0), (2, 2.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame([(2, 9.0), (4, 5.0)], "doc_id long, score double")
    out = rrf_fuse([a, b], k=4, c=60).collect()
    order = [r["doc_id"] for r in out]
    assert order == [2, 1, 4, 3]
    vals = {r["doc_id"]: r["rrf"] for r in out}
    assert vals[2] == round(1 / 62 + 1 / 61, 6)
    assert vals[1] == round(1 / 61, 6)
    assert vals[4] == round(1 / 62, 6)
    assert vals[3] == round(1 / 63, 6)


# ---- wildcard dictionary expansion + serving -------------------------------


def test_wildcard_grams_boundary_decoration():
    from search_engine_spark.operators.query import _wildcard_grams

    # fixed segments decorated with $ anchors; only segments long
    # enough to yield a k-gram contribute
    assert _wildcard_grams("str*am", 3) == ["$st", "am$", "str"]
    assert _wildcard_grams("s*a*", 3) == []
    assert _wildcard_grams("spark", 3) == sorted(
        {"$sp", "spa", "par", "ark", "rk$"}
    )


def test_wildcard_like_escapes_sql_metachars():
    from search_engine_spark.operators.query import _wildcard_like

    assert _wildcard_like("a_b%c*d") == "a\\_b\\%c%d"
    assert _wildcard_like("s*a*") == "s%a%"


@pytest.mark.parametrize("pattern", ["s*", "*e", "s*a*", "*ar*", "b*h", "zz*"])
def test_wildcard_terms_matches_fnmatch(spark, index, pattern):
    """Expansion == naive fnmatch over the collected vocabulary, for
    anchored, suffix, interior, and no-match patterns."""
    import fnmatch

    from search_engine_spark.operators.query import wildcard_terms

    vocab = {
        r["term"]: r["df"]
        for r in index.term_stats.select("term", "df").collect()
    }
    want = sorted(t for t in vocab if fnmatch.fnmatchcase(t, pattern))[:50]
    got = wildcard_terms(index, pattern).collect()
    assert [r["term"] for r in got] == want
    assert all(r["df"] == vocab[r["term"]] for r in got)


def test_wildcard_terms_caps_expansions_term_asc(spark, index):
    from search_engine_spark.operators.query import wildcard_terms

    full = [r["term"] for r in wildcard_terms(index, "*").collect()]
    assert len(full) >= 3
    capped = [
        r["term"] for r in wildcard_terms(index, "*", max_expansions=2).collect()
    ]
    assert capped == full[:2]


def test_wildcard_search_equals_manual_or_query(spark, index):
    import fnmatch

    from search_engine_spark.operators.query import wildcard_search

    pattern = "s*"
    vocab = [r["term"] for r in index.term_stats.select("term").collect()]
    terms = sorted(t for t in vocab if fnmatch.fnmatchcase(t, pattern))[:50]
    qt = spark.createDataFrame(
        [(0, t) for t in terms], "query_id int, term string"
    )
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in score_bm25(index, qt, k=10, terms=terms).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in wildcard_search(index, spark, pattern, k=10).collect()
    ]
    assert got == want


def test_wildcard_search_no_match_is_empty(spark, index):
    from search_engine_spark.operators.query import wildcard_search

    out = wildcard_search(index, spark, "qqqxyz*")
    assert out.columns == ["query_id", "doc_id", "score"]
    assert out.count() == 0


# ---- pre-retrieval query-performance prediction ----------------------------


def test_qpp_predictors_idf_stats_and_scq(spark, index):
    import math

    from search_engine_spark.operators.query import qpp_predictors

    stats = {
        r["term"]: r
        for r in index.term_stats.select("term", "bm25_idf").collect()
    }
    cf = {
        r["term"]: r["cf"]
        for r in index.postings.groupBy("term")
        .agg(F.sum("tf").alias("cf"))
        .collect()
    }
    t1, t2 = sorted(stats)[0], sorted(stats)[1]
    qt = spark.createDataFrame(
        [(0, t1), (0, t2), (1, t1)], "query_id int, term string"
    )
    out = {r["query_id"]: r for r in qpp_predictors(index, qt).collect()}
    i1, i2 = stats[t1]["bm25_idf"], stats[t2]["bm25_idf"]
    assert out[0]["n_terms"] == 2 and out[0]["n_present"] == 2
    assert out[0]["avg_idf"] == round((i1 + i2) / 2, 6)
    assert out[0]["max_idf"] == round(max(i1, i2), 6)
    want_scq = (1 + math.log(cf[t1])) * i1 + (1 + math.log(cf[t2])) * i2
    assert out[0]["scq"] == pytest.approx(round(want_scq, 6), abs=2e-6)
    assert out[1]["max_idf"] == round(i1, 6)


def test_qpp_predictors_oov_query_is_zero_not_null(spark, index):
    from search_engine_spark.operators.query import qpp_predictors

    qt = spark.createDataFrame(
        [(5, "zzzneverseen"), (5, "qqqneverseen")], "query_id int, term string"
    )
    [r] = qpp_predictors(index, qt).collect()
    assert r["n_terms"] == 2 and r["n_present"] == 0
    assert (r["avg_idf"], r["max_idf"], r["scq"]) == (0.0, 0.0, 0.0)


# ---- host crowding / site collapse ------------------------------------------


def test_collapse_hosts_caps_per_host_and_recuts(spark):
    from search_engine_spark.operators.rerank import collapse_hosts

    run = spark.createDataFrame(
        [(0, d, 10.0 - d) for d in range(1, 9)],
        "query_id int, doc_id long, score double",
    )
    # docs 1-4 on host A (top of the ranking), 5-8 on host B
    dims = spark.createDataFrame(
        [(d, "A" if d <= 4 else "B") for d in range(1, 9)],
        "doc_id long, source string",
    )
    out = collapse_hosts(run, dims, key="source", max_per_key=2, k=4).collect()
    assert [(r["doc_id"], r["source"]) for r in out] == [
        (1, "A"), (2, "A"), (5, "B"), (6, "B"),
    ]
    # scores survive unchanged; per-query isolation
    assert out[0]["score"] == 9.0


def test_collapse_hosts_is_plain_topk_when_hosts_diverse(spark):
    from search_engine_spark.operators.rerank import collapse_hosts

    run = spark.createDataFrame(
        [(1, d, float(100 - d)) for d in range(1, 6)],
        "query_id int, doc_id long, score double",
    )
    dims = spark.createDataFrame(
        [(d, f"h{d}") for d in range(1, 6)], "doc_id long, source string"
    )
    out = collapse_hosts(run, dims, max_per_key=1, k=3).collect()
    assert [r["doc_id"] for r in out] == [1, 2, 3]


# ---- reversed dictionary: leading-wildcard (suffix) probes -------------------


def test_suffix_terms_matches_endswith(spark, index, tmp_path):
    from search_engine_spark.operators.query import (
        suffix_terms,
        write_reversed_dictionary,
    )

    path = str(tmp_path / "rdict")
    write_reversed_dictionary(index, path)
    vocab = {
        r["term"]: r["df"]
        for r in index.term_stats.select("term", "df").collect()
    }
    for suffix in ("e", "ch", "zzz"):
        want = sorted(t for t in vocab if t.endswith(suffix))[:50]
        got = suffix_terms(spark, path, suffix).collect()
        assert [r["term"] for r in got] == want
        assert all(r["df"] == vocab[r["term"]] for r in got)


def test_next_word_counts_and_prefix_gate(spark):
    from search_engine_spark.operators.query import next_word_suggest

    docs = spark.createDataFrame(
        [(1, "big data big deal big data"), (2, "data big dog")],
        "doc_id long, text string",
    )
    out = {
        r["suggestion"]: r["n_follow"]
        for r in next_word_suggest(docs, "big").collect()
    }
    assert out == {"data": 2, "deal": 1, "dog": 1}
    pref = next_word_suggest(docs, "big", prefix="d").collect()
    assert {r["suggestion"] for r in pref} == {"data", "deal", "dog"}
    only_de = next_word_suggest(docs, "big", prefix="de").collect()
    assert [r["suggestion"] for r in only_de] == ["deal"]
    # quote and backslash in `prev` are matched as plain characters
    odd = spark.createDataFrame(
        [(3, "a\\ next it's here a\\ next")], "doc_id long, text string"
    )
    after_bs = next_word_suggest(odd, "a\\").collect()
    assert [(r["suggestion"], r["n_follow"]) for r in after_bs] == [("next", 2)]
    after_q = next_word_suggest(odd, "it's").collect()
    assert [r["suggestion"] for r in after_q] == ["here"]


def test_corrected_search_equals_search_on_fixed_query(spark, index):
    from search_engine_spark.operators.query import (
        corrected_search,
        score_bm25,
    )
    from pyspark.sql import functions as F

    # misspelled 'sparkk' must retrieve exactly what 'spark' retrieves
    got = corrected_search(index, ["sparkk"], k=10).collect()
    qt = spark.createDataFrame([(0, "spark")], "query_id int, term string")
    want = (
        score_bm25(index, qt, k=10, terms=["spark"])
        .withColumn("score", F.round("score", 6))
        .collect()
    )
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_corrected_search_passes_known_terms_through(spark, index):
    from search_engine_spark.operators.query import corrected_search

    # an unfixable garbage term contributes nothing; known term works
    got = corrected_search(index, ["spark", "qqqqqqqqqqqq"], k=5).collect()
    assert got and all(r["score"] > 0 for r in got)


def test_explain_contributions_sum_to_serving_score(spark, index):
    from pyspark.sql import functions as F
    from search_engine_spark.operators.query import explain_score, score_bm25

    terms = ["spark", "merge", "batch"]
    qt = spark.createDataFrame(
        [(0, t) for t in terms], "query_id int, term string"
    )
    top = score_bm25(index, qt, k=3, terms=terms).collect()
    ids = [r["doc_id"] for r in top]
    rows = explain_score(index, terms, ids, round_dp=9).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], 0.0)
        by_doc[r["doc_id"]] += r["contribution"]
    for r in top:
        assert abs(by_doc[r["doc_id"]] - r["score"]) < 1e-6


def test_tiered_search_filled_batch_serves_collected_rows(spark, index):
    """When every query fills from the champion tier, the result is built
    from the rows the fill decision already collected: its plan holds no
    Join, so reading it never runs the champion query a second time, and
    its rows are the champion tier's."""
    from search_engine_spark.operators.query import (
        champion_search,
        tiered_search,
    )

    qs = {0: "spark merge batch", 1: "spark"}
    out = tiered_search(index, spark, qs, m=64, k=3)
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    champ = champion_search(index, spark, qs, m=64, k=3).collect()
    assert {r["query_id"] for r in champ} == {0, 1}
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in champ]
