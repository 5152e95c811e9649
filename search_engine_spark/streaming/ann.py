"""Streaming ANN index maintenance: epoch-incremental LSH state.

The batch lifecycle (similarity.build_lsh_index → lsh_index_add →
lsh_index_delete → lsh_index_compact) assumes someone TELLS the index
about new embedding batches. A continuously re-crawled corpus doesn't
ask — files land. This module closes that gap with the epoch drain of
`_layout` shared by streaming/sketches.py and streaming/incremental.py:
an AvailableNow drain with a stream checkpoint for at-most-once file
intake, and per-epoch OVERWRITE-by-directory so a replayed epoch
rewrites its own bucket rows instead of double-inserting them
(idempotent under retry — the property a bare `lsh_index_add` append
cannot give a streaming writer). Input files are read as
(vec_id long, embedding array<float>); any other column is ignored.

Layout: {state}/epochs/batch=N/t=T/… — each epoch is an independent
build_lsh_index shard (sig-sorted row groups within t dirs), so a probe
scan prunes on t directories and sig row-group stats exactly like the
batch layout, with the epoch dir as one more partition level. Bucket
rows are a bag: probing the union of epochs is value-identical to
probing one fresh build over every embedding ever drained
(parity-tested in tests/test_streaming_ann.py). Deletes reuse the
tombstone contract (similarity.lsh_index_delete on the state path:
ids under {state}/_tombstones, anti-joined by the loader); compaction
is a fresh build_lsh_index over the live vectors. All filesystem
access goes through the session's Hadoop FileSystem, so the state
may live at any path or URI.

No reference analog (dastarruer/search-engine has no vector surface);
the epoch pattern cites streaming/incremental.py's postings epochs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from search_engine_spark import _layout
from search_engine_spark.operators.similarity import _lsh_rows, _write_lsh_rows

__all__ = ["lsh_index_stream", "read_lsh_stream_index"]


def lsh_index_stream(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain all new embedding parquet files under input_path into the
    epoch-sharded LSH state and return the probe-ready index relation
    (pass it to similarity.lsh_index_topk/_batch as `index`). Call
    again after more files land; drained files are skipped via the
    stream checkpoint, and a crashed epoch replays as an overwrite of
    its own directory."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        _write_lsh_rows(
            _lsh_rows(batch, dim, n_planes, n_tables),
            f"{state_path}/epochs/batch={epoch_id}",
            "overwrite",
        )

    _layout.drain(
        spark, input_path, "vec_id long, embedding array<float>", state_path,
        write_epoch, max_files_per_trigger,
    )
    return read_lsh_stream_index(spark, state_path)


def read_lsh_stream_index(spark: SparkSession, state_path: str) -> DataFrame:
    """Probe-ready relation over every drained epoch, tombstones
    anti-joined (same contract as similarity.load_lsh_index); empty
    before the first drain. The epoch partition column is dropped —
    bucket rows are a bag, and probes filter on t/sig only."""
    rows = _layout.read_epochs(
        spark,
        f"{state_path}/epochs",
        "vec_id long, embedding array<float>, sig long, t int",
    )
    return _layout.live(spark, state_path, rows)
