"""Explicit StructTypes for every table the engine reads or writes.

The reference fixes its schemas via SQL migrations
(/root/reference/migrations/01..07_*.sql) and never infers; we do the
same with StructType (SURVEY.md §1.3). The input ``pages`` shape is
mandated by BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---- input -----------------------------------------------------------------
# pages: Iceberg-shaped Common-Crawl-style web pages (input_hint).
# Mirrors reference `pages` (migrations/01_create_page_table.sql:1-8,
# 03_add_title_col.sql, 05_create_null_html_col.sql) minus the work-queue
# flags, which become lineage rows (SURVEY §7.6).
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# pages + minted surrogate key (row_number over url: deterministic, dense)
DOCS = StructType(
    [StructField("doc_id", LongType(), False)] + list(PAGES.fields) + [
        StructField("title", StringType(), True),
    ]
)

# ---- index -----------------------------------------------------------------
# postings: the exploded, columnar posting relation — the normalized form of
# the reference's `terms.tf_scores` hstore (migrations/06_create_terms_table.sql,
# tf-idf-indexer/src/lib.rs:38-64). One row per (term, doc). The written
# index adds each posting's document length `dl` (DOC_STATS) and no score:
# InvertedIndex derives BM25's tf_norm from (tf, dl) on build and on read
# (index_build._TABLES holds the written schemas).
POSTINGS = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", IntegerType(), False),
    ]
)

# term_stats: df/idf dimension (reference `terms.page_frequency` / `terms.idf`,
# lib.rs:49-52). idf_f32 is the reference-compat f32 value (quirk Q5);
# bm25_idf is our Lucene-style BM25 idf (non-negative).
TERM_STATS = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
        StructField("idf", DoubleType(), False),
        StructField("idf_f32", FloatType(), False),
        StructField("bm25_idf", DoubleType(), False),
    ]
)

# doc_stats: BM25 document length (token count post stop-filter). The build
# joins it onto the postings once: BM25, Jelinek-Mercer and BM25F read `dl`
# from the matched posting, with no doc_stats join.
DOC_STATS = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("dl", LongType(), False),
    ]
)

# index_blocks: block-structured compressed postings (SURVEY §7.4),
# matching operators/blocks.py BLOCKS_SCHEMA exactly: doc-bucketed
# (bucket = pmod(xxhash64(doc_id), num_buckets)); within a bucket each
# term's doc ids are sorted, chunked into BLOCK_SIZE blocks,
# delta+varbyte encoded; score_bytes are per-posting f32 BM25
# contributions; max_score powers the TA-pruned exact top-k.
INDEX_BLOCKS = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("block_id", IntegerType(), False),
        StructField("n", IntegerType(), False),
        StructField("min_doc", LongType(), False),
        StructField("max_doc", LongType(), False),
        StructField("max_score", DoubleType(), False),
        StructField("doc_bytes", BinaryType(), False),
        StructField("tf_bytes", BinaryType(), False),
        StructField("score_bytes", BinaryType(), False),
    ]
)

# ---- bookkeeping (reference analog: is_crawled/is_indexed flags + upserts,
# db.rs:85-122, lib.rs:658-664) --------------------------------------------
LINEAGE = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("input_fingerprint", StringType(), False),
        StructField("rows_in", LongType(), False),
        StructField("terms_out", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("status", StringType(), False),
    ]
)

METRICS = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("docs_per_sec", DoubleType(), False),
        StructField("bytes", LongType(), False),
    ]
)

# ---- queries ---------------------------------------------------------------
QUERIES = StructType(
    [
        StructField("query_id", IntegerType(), False),
        StructField("q", StringType(), False),
    ]
)

TOKENS = ArrayType(StringType())
