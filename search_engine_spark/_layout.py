"""Persisted layouts: every filesystem decision of the index lifecycle.

The LSH/IVF/PQ serving layouts, the streaming epoch states and the
parquet merge sink share four mechanisms, kept here once:

- Filesystem access goes through the session's Hadoop `FileSystem`, so a
  plain path, a `file:` URI and a remote store behave alike (each call
  costs a few py4j round trips).
- Tombstones: deleted vec_ids append under `{path}/_tombstones`
  (underscore-prefixed, so invisible to the data scan) and a broadcast
  anti-join above the scan drops them at load.
- The swap: a new layout is written to the temp sibling `{dst}__compact`,
  `dst` moves to `{dst}__old` (Hadoop's rename moves a directory INTO an
  existing destination, so the old copy must leave first), the temp
  takes its name and the old copy is deleted. A crash between the two
  renames leaves only `{dst}__old`; `restore` renames it back on the
  next load, and the next compaction drops any stale old copy or temp.
- Epochs: an AvailableNow drain whose foreachBatch body overwrites one
  `batch=<epoch_id>` dir per micro-batch — the stream checkpoint assigns
  each input file to exactly one epoch and the overwrite makes a replayed
  epoch idempotent — and one reader over those dirs.

One writer per layout is assumed, and no load may overlap a swap of the
same layout: a load runs `restore`, which acts only when `dst` is missing.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def _fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return fs.exists(p)


def listdir(spark: SparkSession, path: str) -> list[str]:
    fs, p = _fs(spark, path)
    return [s.getPath().getName() for s in fs.listStatus(p)]


def rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, p = _fs(spark, src)
    if not fs.rename(p, _fs(spark, dst)[1]):
        raise OSError(f"rename {src} -> {dst} failed")


def delete(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def delete_ids(spark, path: str, vec_ids) -> None:
    """Tombstone vec_ids in a persisted ANN layout (build_lsh_index,
    build_ivf_index, build_pq_index or the streaming LSH state). Deletes
    append an id list under {path}/_tombstones (underscore-prefixed →
    excluded from the data scan's file listing); the layout's loader
    anti-joins them out, so a delete is O(|ids|) metadata, not a layout
    rewrite — the same tombstone-then-compact lifecycle as the postings
    index (index_build.delete_docs / tombstone serving). `vec_ids` is a
    list of ints or a 1-column DataFrame."""
    if isinstance(vec_ids, DataFrame):
        tomb = vec_ids.select(F.col(vec_ids.columns[0]).cast("long").alias("vec_id"))
    else:
        tomb = spark.createDataFrame([(int(v),) for v in vec_ids], "vec_id long")
    tomb.coalesce(1).write.mode("append").parquet(f"{path}/_tombstones")


def live(spark: SparkSession, path: str, rows: DataFrame) -> DataFrame:
    """`rows` minus the vec_ids tombstoned under `path`: a broadcast
    anti-join above the scan, so partition and row-group pruning of
    probe predicates is unaffected."""
    tpath = f"{path}/_tombstones"
    if exists(spark, tpath):
        tomb = spark.read.parquet(tpath)
        rows = rows.join(F.broadcast(tomb), "vec_id", "left_anti")
    return rows


def restore(spark: SparkSession, dst: str, tidy: bool = False) -> None:
    """Rename {dst}__old back to dst when a crash stopped a swap between
    its two renames (one existence check otherwise); with `tidy`, also
    delete the old copy or temp a crash left next to a complete dst."""
    old = f"{dst}__old"
    if not exists(spark, dst) and exists(spark, old):
        rename(spark, old, dst)
    if tidy:
        delete(spark, old)
        delete(spark, f"{dst}__compact")


def swap(spark: SparkSession, dst: str, write) -> None:
    """Replace the layout at dst (if any) by the one `write(tmp)` puts at
    its temp sibling; see the module docstring for the crash contract."""
    old, tmp = f"{dst}__old", f"{dst}__compact"
    restore(spark, dst, tidy=True)
    write(tmp)
    if exists(spark, dst):
        rename(spark, dst, old)
    rename(spark, tmp, dst)
    delete(spark, old)


def drain(
    spark: SparkSession,
    input_path: str,
    schema: str,
    state_path: str,
    write_epoch,
    max_files_per_trigger: int | None = None,
) -> None:
    """Feed every file under input_path that no earlier drain took to
    `write_epoch(batch, epoch_id)`, then stop (the poll-until-empty
    loop; a long-running deployment would use a processing-time trigger
    with the same body). Only `schema`'s columns are read."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        reader.parquet(input_path)
        .writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", f"{state_path}/_stream_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_epochs(
    spark: SparkSession, root: str, schema: str, fold=None
) -> DataFrame:
    """`schema`'s columns over every batch=N dir under root, passed
    through `fold`; an empty frame of `schema` before the first drain.
    The refresh drops any cached plan over root from an earlier read in
    this session, which would otherwise shadow newly landed epochs."""
    spark.catalog.refreshByPath(root)
    try:
        # the known schema skips the schema-inference job; `batch`
        # still comes from the directory names
        df = spark.read.schema(schema).option("basePath", root).parquet(root)
    except AnalysisException:
        return spark.createDataFrame([], schema)
    df = df.select(*DataType.fromDDL(schema).names)
    return fold(df) if fold else df
