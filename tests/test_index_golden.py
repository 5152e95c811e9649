"""Golden index tests — the reference's 3-page fixture corpus.

Expected values ported from
/root/reference/services/tf-idf-indexer/tests/indexer/parse_page.rs:51-105
(fixture tests/fixtures/dummy_pages.sql) and the 4-page merge variant
(parse_page.rs:107-187). These pin TF (A1), DF (A2), IDF (A4), TF-IDF
(A5) and the reference ranking (A6/W1) for both the Spark engine and the
single-node oracle.
"""

from __future__ import annotations

import math

import pytest

from oracle import oracle as orc
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query import queries_to_terms, score_tfidf_compat

# dummy_pages.sql: 3 single-paragraph pages
PAGES = [
    (1, "<body><p>ladder ladder pipe</p></body>"),
    (2, "<body><p>hippopotamus ladder hippopotamus</p></body>"),
    (3, "<body><p>ladder hippopotamus hippopotamus</p></body>"),
]

GOLDEN = {
    # term: (df, idf_f32, {doc: tf}, {doc: tf_idf_f32})
    "ladder": (3, 0.0, {1: 2, 2: 1, 3: 1}, {1: 0.0, 2: 0.0, 3: 0.0}),
    "hippopotamus": (2, 0.17609125, {2: 2, 3: 2}, {2: 0.3521825, 3: 0.3521825}),
    "pipe": (1, 0.47712123, {1: 1}, {1: 0.47712123}),
}


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [(float(i), orc.extract_text(h)) for i, h in PAGES]
    return spark.createDataFrame(
        [(int(i), t) for i, t in rows], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def index(spark, docs_df):
    return build_index(docs_df).cache()


class TestOracleGolden:
    def test_golden_index(self):
        idx = orc.build_index(PAGES)
        assert idx.n_docs == 3
        for term, (df, idf, tfs, tfidfs) in GOLDEN.items():
            assert idx.df(term) == df
            assert idx.idf(term) == pytest.approx(idf, abs=1e-7)
            assert idx.postings[term] == tfs
            for d, s in tfidfs.items():
                assert idx.tf_idf(term, d) == pytest.approx(s, abs=1e-7)

    # parse_page.rs:107-187: 4-page variant — seagull df 1→2, idf=log10(4/2)
    def test_four_page_merge_semantics(self):
        pages = PAGES + [(4, "<body><p>seagull pipe</p></body>")]
        idx = orc.build_index(pages + [(5, "<body><p>seagull</p></body>")][:0])
        # batch recompute over all 4 pages == reference's incremental merge
        idx = orc.build_index(pages)
        assert idx.n_docs == 4
        assert idx.df("seagull") == 1
        assert idx.idf("pipe") == pytest.approx(math.log10(2), abs=1e-7)
        idx2 = orc.build_index(pages + [(5, "<body><p>seagull ladder</p></body>")])
        assert idx2.df("seagull") == 2
        assert idx2.idf("seagull") == pytest.approx(
            orc.f32(math.log10(5 / 2)), abs=1e-7
        )

    # FIXTURES.md §5: expected reference ranking for ["ladder","pipe"]
    def test_golden_ranking(self):
        idx = orc.build_index(PAGES)
        res = orc.search_tfidf_compat(idx, "ladder pipe")
        assert [d for d, _ in res] == [1, 2, 3]
        assert res[0][1] == pytest.approx(0.95424247, abs=1e-6)
        assert res[1][1] == 0.0 and res[2][1] == 0.0


class TestSparkGolden:
    def test_index_matches_golden(self, index):
        assert index.n_docs == 3
        stats = {r["term"]: r for r in index.term_stats.collect()}
        posts = {
            (r["term"], r["doc_id"]): r["tf"] for r in index.postings.collect()
        }
        for term, (df, idf, tfs, _) in GOLDEN.items():
            assert stats[term]["df"] == df
            assert stats[term]["idf_f32"] == pytest.approx(idf, abs=1e-7)
            for d, tf in tfs.items():
                assert posts[(term, d)] == tf
        # doc lengths: every page has 3 non-stop tokens
        assert {r["doc_id"]: r["dl"] for r in index.doc_stats.collect()} == {
            1: 3, 2: 3, 3: 3,
        }

    def test_driver_scalars_give_total_tokens(self, spark, index, tmp_path):
        """The LM scorers take the collection size |C| from the index's
        driver scalars, round(n_docs·avgdl): it equals Σ doc_stats.dl
        exactly on the golden corpus and on a synthetic one, also after
        a write/read round trip."""
        from pyspark.sql import functions as F

        from search_engine_spark.operators.index_build import (
            build_index_from_pages,
            read_index,
            write_index,
        )
        from search_engine_spark.sources.corpus import synth_pages

        synth = build_index_from_pages(synth_pages(spark, 300, seed=13))
        write_index(synth, str(tmp_path))
        for idx in (index, synth, read_index(spark, str(tmp_path))):
            total = idx.doc_stats.agg(F.sum("dl")).first()[0]
            assert total > idx.n_docs
            assert round(idx.n_docs * idx.avgdl) == total

    def test_compat_ranking_matches_golden(self, spark, index):
        qt = queries_to_terms(spark, ["ladder pipe"])
        res = score_tfidf_compat(index, qt).collect()
        assert [(r["doc_id"]) for r in res] == [1, 2, 3]
        assert res[0]["score"] == pytest.approx(0.95424247, abs=1e-6)


def test_latest_snapshot_dedups_recrawls(spark):
    """input-hint semantics: a Common-Crawl-style table holds re-crawls
    of the same url; prepare_docs(dedup_snapshots=True) must index only
    the latest warc_ts snapshot per url."""
    import datetime as dt

    from search_engine_spark.operators.index_build import (
        latest_snapshot,
        prepare_docs,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a.example/x", t0, b"<p>old</p>", "old version", "en"),
        ("https://a.example/x", t0 + dt.timedelta(days=2), b"<p>new</p>", "new version", "en"),
        ("https://a.example/x", t0 + dt.timedelta(days=1), b"<p>mid</p>", "mid version", "en"),
        ("https://b.example/y", t0, b"<p>only</p>", "only version", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    snap = {r["url"]: r["text"] for r in latest_snapshot(pages).collect()}
    assert snap == {
        "https://a.example/x": "new version",
        "https://b.example/y": "only version",
    }
    docs = prepare_docs(pages, id_method="dense", dedup_snapshots=True)
    assert {r["text"] for r in docs.collect()} == {"new version", "only version"}


def test_latest_snapshot_tie_is_deterministic(spark):
    """Review finding: equal warc_ts snapshots must resolve by content
    hash (pure function of data), not shuffle order."""
    import datetime as dt

    from search_engine_spark.operators.index_build import latest_snapshot

    t0 = dt.datetime(2024, 1, 1)
    rows = [("https://t.example/x", t0, b"a", "alpha", "en"),
            ("https://t.example/x", t0, b"b", "beta", "en")]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    picks = {
        latest_snapshot(pages.repartition(p)).collect()[0]["text"]
        for p in (1, 2, 4, 8)
    }
    assert len(picks) == 1, f"tie resolved differently across layouts: {picks}"


def test_latest_snapshot_handles_map_and_minimal_columns(spark):
    """Review finding r3: the full-payload tie-break must not crash on
    map-typed payload columns (Spark's hash exprs reject MapType) or on
    frames with no payload columns at all."""
    from search_engine_spark.operators.index_build import latest_snapshot

    with_map = spark.createDataFrame(
        [("u", 1, "x", {"k": "v"}), ("u", 1, "x", {"k": "w"})],
        "url string, warc_ts long, text string, meta map<string,string>",
    )
    rows = latest_snapshot(with_map).collect()
    assert len(rows) == 1  # deterministic single winner, no crash

    minimal = spark.createDataFrame(
        [("u", 1), ("u", 2)], "url string, warc_ts long"
    )
    out = latest_snapshot(minimal).collect()
    assert len(out) == 1 and out[0]["warc_ts"] == 2
