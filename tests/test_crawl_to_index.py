"""Integration: crawl → index → search, the reference's full product
loop (crawler service → indexer service → query path) end-to-end on the
deterministic synthetic web. A user of the reference runs exactly this
chain; here it is three library calls over DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F

from search_engine_spark.operators.crawl_loop import crawl
from search_engine_spark.operators.index_build import build_index_from_pages
from search_engine_spark.operators.query import search_and_present
from search_engine_spark.sources.fetch import DeterministicTransport


def test_crawl_feeds_index_and_search(spark, tmp_path):
    seeds = spark.createDataFrame(
        [(f"https://site{i}.example/page{i}",) for i in range(6)], "url string"
    )
    pages = crawl(
        spark,
        seeds,
        str(tmp_path / "crawl"),
        max_rounds=2,
        transport=DeterministicTransport(),
    )
    # crawl output is English-only by construction (the is_english gate)
    # and carries the stored title the presenter serves (reference K2
    # shape); the corpus adds the lang column the indexer filters on
    corpus = pages.select("url", "title", "html").withColumn("lang", F.lit("en"))
    n_pages = corpus.count()
    assert n_pages > 6

    idx = build_index_from_pages(corpus)
    assert idx.doc_stats.count() == n_pages  # every crawled page indexed

    # DeterministicTransport bodies draw from a fixed 10-word vocab —
    # every query term must resolve to real postings and presented hits
    # (the reference's GET /search shape: title/domain/snippet included)
    hits = search_and_present(
        idx, corpus, spark, ["hippopotamus ladder"], k=5, scorer="bm25"
    ).collect()
    assert 0 < len(hits) <= 5
    assert all(r["score"] > 0 for r in hits)
    crawled = {r["url"] for r in pages.collect()}
    assert {r["url"] for r in hits} <= crawled
    assert all(r["title"].startswith("page ") for r in hits)
