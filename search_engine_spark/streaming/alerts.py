"""Streaming percolation: standing-query alerts over a document stream.

The serving half of `operators/percolate.py`: new document files land
under `input_path` (a crawler's output directory, an ingest bucket),
each micro-batch is matched against the standing-query table, and
fired alerts accumulate under `state_path/alerts` — the saved-search /
"tell me when a page about X arrives" loop, run on the epoch drain of
`_layout` that `incremental_index_update` shares:

- `Trigger.AvailableNow` drains everything currently available and
  stops (the poll-loop analog); a long-running deployment uses a
  processing-time trigger with the identical foreachBatch body.
- Exactly-once: the stream checkpoint assigns each input file to
  exactly one epoch; alerts write per-epoch to `batch=<epoch_id>` with
  OVERWRITE, so epoch replay after a mid-write crash is idempotent —
  an alert fires exactly once per (doc, query) however often the batch
  is retried.
- The batch body IS `percolate()` — the streaming result over any
  sequence of drains equals the one-shot batch percolation over the
  union of the files (asserted in tests and by the driver gate, which
  replays the stream output against the batch DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from search_engine_spark import _layout
from search_engine_spark.operators.percolate import percolate

__all__ = ["percolate_stream", "read_alerts"]


def percolate_stream(
    spark: SparkSession,
    input_path: str,
    stored_queries: DataFrame,
    state_path: str,
    mode: str = "and",
    tokenizer=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain all new document files under input_path, percolate each
    micro-batch against `stored_queries`, append alerts idempotently,
    and return the accumulated alerts relation (doc_id, query_id,
    n_matched). Call again after more files land — already-processed
    files are skipped via the stream checkpoint."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        alerts = percolate(batch, stored_queries, mode=mode, tokenizer=tokenizer)
        alerts.write.mode("overwrite").parquet(f"{state_path}/alerts/batch={epoch_id}")

    _layout.drain(
        spark, input_path, "doc_id long, text string", state_path,
        write_epoch, max_files_per_trigger,
    )
    return read_alerts(spark, state_path)


def read_alerts(spark: SparkSession, state_path: str) -> DataFrame:
    """The accumulated alert log (doc_id, query_id, n_matched); empty
    (with the right schema) before the first drain fires anything."""
    return _layout.read_epochs(
        spark, f"{state_path}/alerts", "doc_id long, query_id int, n_matched long"
    )
