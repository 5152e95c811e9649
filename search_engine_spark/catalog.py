"""Thin table-IO layer: Iceberg when available, Parquet otherwise.

SURVEY §7.1(c): the engine's storage contract is Iceberg-shaped —
partitioned data + lineage/metrics side tables + atomic replacement —
but this sandbox ships no Iceberg runtime jar. All table IO therefore
routes through this module: the parquet materialization keeps the same
layout and write/read semantics, and flipping `SPARK_GRAFT_TABLE_FORMAT`
(or passing fmt='iceberg') on a cluster with the jar switches every
caller to `format('iceberg')` with identity-partitioning DDL unchanged.

Write semantics shared by both backends:
- `mode='overwrite'` replaces the table (Iceberg: snapshot replace;
  parquet: directory overwrite — both atomic at the reader level since
  readers re-list on refresh);
- `partition_by` columns become Iceberg identity partitions / parquet
  `part=` dirs;
- dynamic partition overwrite (only touched partitions replaced) is the
  session default the checkpoint module relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from search_engine_spark import _layout


def table_format(spark: SparkSession | None = None) -> str:
    """'iceberg' when requested AND the runtime has the extension."""
    fmt = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "auto")
    if fmt == "parquet":
        return "parquet"
    if spark is not None:
        has_jar = "iceberg" in spark.conf.get(
            "spark.sql.extensions", ""
        ).lower()
        if fmt == "iceberg" and not has_jar:
            raise RuntimeError(
                "SPARK_GRAFT_TABLE_FORMAT=iceberg but no Iceberg extension "
                "is configured on this SparkSession"
            )
        return "iceberg" if has_jar else "parquet"
    return "parquet" if fmt == "auto" else fmt


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
) -> None:
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    fmt = table_format(df.sparkSession)
    if fmt == "iceberg":  # pragma: no cover - no jar in this sandbox
        w.format("iceberg").save(path)
    else:
        w.parquet(path)


def read_table(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """The table at `path`; a parquet read given its `schema` (DDL)
    skips the one-task schema-inference job."""
    fmt = table_format(spark)
    if fmt == "iceberg":  # pragma: no cover
        return spark.read.format("iceberg").load(path)
    return (spark.read.schema(schema) if schema else spark.read).parquet(path)


def merge_table(
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> None:
    """Upsert `source` into the table at `path` on `keys` — the K2 sink
    (reference crawled-page upsert, db.rs:87-118 `ON CONFLICT (url) DO
    UPDATE`): matched rows are replaced by the source row, unmatched
    target rows survive, new keys insert.

    Iceberg backend: `MERGE INTO` (snapshot-isolated, file-level
    copy-on-write). Parquet emulation of the same copy-on-write shape:
    keep = target ⟕anti source.keys, result = keep ∪ source, staged to
    a side directory and swapped in — with `partition_by`, ONLY the
    partitions containing source keys are read, rewritten, and swapped
    (the untouched partitions' files are never opened), which is
    exactly the partition-pruned copy-on-write a 100 TB upsert needs.
    The directory swap is the parquet stand-in for a snapshot commit;
    on a real deployment the Iceberg path makes it atomic. Pruning is
    single-partition-column only (the swap replaces first-level dirs
    whole); nested partition_by falls back to the full rewrite. Every
    swap is `_layout.swap` through the session's Hadoop FileSystem (any
    path or URI): the old table or partition dir leaves only after its
    replacement is fully written, and a merge first settles what a
    crashed swap left behind (the old table or partition dir renamed
    back, a stale copy or temp deleted), so the next merge reads a
    clean table.
    """
    from pyspark.sql import functions as F

    spark = source.sparkSession
    fmt = table_format(spark)
    if fmt == "iceberg":  # pragma: no cover - no jar in this sandbox
        view = f"__merge_src_{abs(hash(path)) % 10**8}"
        source.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        spark.sql(
            f"MERGE INTO {path} t USING {view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        return

    _layout.restore(spark, path)
    if not _layout.exists(spark, path):
        write_table(source, path, partition_by=partition_by)
        return
    # a crash inside a partition swap leaves `p=v__old` / `p=v__compact`
    # next to the partition dirs, which the reader would serve as more
    # partitions (and type `p` as string): settle each one first
    for entry in _layout.listdir(spark, path):
        base = entry.removesuffix("__old").removesuffix("__compact")
        if base != entry:
            _layout.restore(spark, f"{path}/{base}", tidy=True)

    spark.catalog.refreshByPath(path)
    target = spark.read.parquet(path)
    # the DISK layout keeps the caller's partitioning even when a
    # fallback below abandons the pruned dir-swap: a full rewrite that
    # dropped partitionBy would leave root-level files that corrupt the
    # next partitioned merge's dir-swap (review finding r3)
    layout_partition_by = list(partition_by) if partition_by else None
    if partition_by and len(partition_by) > 1:
        # the dir-swap below replaces FIRST-LEVEL partition dirs whole;
        # with nested partitioning a swapped date=D dir would drop the
        # target's untouched hour= subdirs (review finding r2). Fall
        # back to the full-table rewrite — still correct, not pruned.
        partition_by = None
    if partition_by:
        # prune to the partitions the source touches (null-SAFE
        # equality: a null partition value must select its partition,
        # not evaluate the predicate to NULL and drop the kept rows —
        # review finding r2)
        pcols = list(partition_by)
        touched = [tuple(r) for r in source.select(*pcols).distinct().collect()]
        pred = F.lit(False)
        for vals in touched:
            row_pred = F.lit(True)
            for c, v in zip(pcols, vals):
                row_pred = row_pred & F.col(c).eqNullSafe(F.lit(v))
            pred = pred | row_pred
        # upsert semantics guard (advisory r2): if a key MOVED partitions
        # (its target row lives in a partition the source does not
        # touch), the pruned swap would leave the stale row alive next
        # to the new one — duplicate keys. Detect (key-columns-only
        # anti-scan of the untouched partitions) and fall back to the
        # full rewrite; the common case — partition columns functionally
        # dependent on the keys — pays only this narrow probe.
        moved = (
            target.filter(~pred)
            .select(*keys)
            .join(source.select(*keys).distinct(), keys, "left_semi")
            .limit(1)
            .count()
        )
        if moved:
            pcols = None
            partition_by = None
    if partition_by:
        keep = target.filter(pred).join(
            source.select(*keys).distinct(), keys, "left_anti"
        )
        out = keep.unionByName(source)
        stage = f"{path}.__merge_tmp"
        out.write.mode("overwrite").partitionBy(*pcols).parquet(stage)
        # swap ONLY the touched first-level partition dirs
        for entry in _layout.listdir(spark, stage):
            if "=" in entry:
                src = f"{stage}/{entry}"
                _layout.swap(
                    spark, f"{path}/{entry}",
                    lambda tmp, src=src: _layout.rename(spark, src, tmp),
                )
        _layout.delete(spark, stage)
    else:
        keep = target.join(source.select(*keys).distinct(), keys, "left_anti")
        out = keep.unionByName(source)
        writer = out.write.mode("overwrite")
        if layout_partition_by:
            writer = writer.partitionBy(*layout_partition_by)
        _layout.swap(spark, path, writer.parquet)
    spark.catalog.refreshByPath(path)
