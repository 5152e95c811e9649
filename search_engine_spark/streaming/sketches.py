"""Streaming sketch maintenance: epoch-incremental Count-Min state.

Sketches are the streaming-native statistics — a CMS grid is a
monoid (cms_merge is its associative +), so maintaining one over a
document stream needs NO corpus reread and NO unbounded state: each
micro-batch contributes a sketch-sized DELTA grid, and the serving
state is the fold of the deltas. This module wires that algebra into
the epoch drain and reader of `_layout` shared with streaming/alerts.py:
AvailableNow drains, a stream checkpoint for at-most-once file intake,
and per-epoch overwrite-by-directory so a replayed epoch rewrites its
own delta instead of double-counting (idempotent under retry).

Why deltas, not a rewritten cumulative grid: the delta write is
O(depth·width) per epoch and never contends with readers of earlier
epochs; the fold at read time is a sketch-sized union+sum (at
depth·width·n_epochs rows, still tiny), and a compaction — merging
epoch dirs into one — is the same cms_merge call (the compaction
pattern streaming/incremental.py uses for postings applies verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark import _layout
from search_engine_spark.operators.sketch import cms_build, cms_merge

_DOCS = "doc_id long, text string"

__all__ = [
    "cms_stream",
    "read_cms_state",
    "hll_stream",
    "read_hll_state",
    "bloom_stream",
    "read_bloom_state",
]


def cms_stream(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    depth: int = 4,
    width: int = 256,
    family: str = "portable",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain all new document files under input_path, add each
    micro-batch's delta grid to the sketch state, and return the
    merged (j, bucket, cnt) grid — identical (tested + oracle-gated)
    to cms_build over every document ever drained. Call again after
    more files land; processed files are skipped via the checkpoint."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        delta = cms_build(batch, depth=depth, width=width, family=family)
        delta.write.mode("overwrite").parquet(f"{state_path}/grids/batch={epoch_id}")

    _layout.drain(
        spark, input_path, _DOCS, state_path, write_epoch, max_files_per_trigger
    )
    return read_cms_state(spark, state_path)


def hll_stream(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    b: int = 8,
    family: str = "portable",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming distinct-vocabulary tracking: drain new document
    files, write each micro-batch's HLL register DELTA per epoch, and
    return the max-folded registers — identical (oracle-gated) to
    hll_registers over every token ever drained. Same exactly-once
    epoch machinery as cms_stream; the fold is hll_merge's per-bucket
    max, so replayed epochs are idempotent BY ALGEBRA (max is
    idempotent) on top of the overwrite-by-epoch guarantee."""
    from search_engine_spark.operators.sketch import hll_registers
    from search_engine_spark.operators.text_analytics import tokens_df


    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        delta = hll_registers(tokens_df(batch), "term", b=b, family=family)
        delta.write.mode("overwrite").parquet(
            f"{state_path}/registers/batch={epoch_id}"
        )

    _layout.drain(
        spark, input_path, _DOCS, state_path, write_epoch, max_files_per_trigger
    )
    return read_hll_state(spark, state_path)


def read_hll_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The max-folded registers over all drained epochs; empty (right
    schema) before the first drain."""
    from search_engine_spark.operators.sketch import hll_merge

    return _layout.read_epochs(
        spark, f"{state_path}/registers", "bucket long, rho long", hll_merge
    )


def bloom_stream(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    m: int = 1 << 16,
    k: int = 4,
    family: str = "portable",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming Bloom membership over the token stream — the crawl
    frontier's "ever seen?" filter maintained incrementally: each
    micro-batch writes its DELTA of set-bit positions, the state is
    the distinct union (set union is idempotent, so replays are
    doubly safe), and the folded positions equal bloom_build over
    every token ever drained. Completes the streaming sketch trio:
    counters add (CMS), registers max (HLL), bits or (Bloom)."""
    from search_engine_spark.operators.sketch import bloom_build
    from search_engine_spark.operators.text_analytics import tokens_df


    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        vocab = tokens_df(batch).select("term").distinct()
        delta = bloom_build(vocab, "term", m=m, k=k, family=family)
        delta.write.mode("overwrite").parquet(f"{state_path}/bits/batch={epoch_id}")

    _layout.drain(
        spark, input_path, _DOCS, state_path, write_epoch, max_files_per_trigger
    )
    return read_bloom_state(spark, state_path)


def read_bloom_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The distinct-union of set positions over all drained epochs."""
    return _layout.read_epochs(
        spark, f"{state_path}/bits", "pos long", DataFrame.distinct
    )


def read_cms_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The folded grid over all drained epochs; empty (right schema)
    before the first drain."""
    return _layout.read_epochs(
        spark, f"{state_path}/grids", "j int, bucket long, cnt long", cms_merge
    )
