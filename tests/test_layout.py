"""Persisted layouts (`search_engine_spark._layout`): deletes, loads and
compactions behave the same on a `file://` URI as on a plain path, and a
compaction interrupted at any rename or delete leaves the layout serving
its rows until the next compaction finishes the job."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark import _layout
from search_engine_spark.operators import similarity as sim
from search_engine_spark.sources.corpus import synth_pages
from search_engine_spark.streaming.ann import (
    lsh_index_stream,
    read_lsh_stream_index,
)
from search_engine_spark.streaming.incremental import (
    compact_state,
    incremental_index_update,
    read_state_index,
)

SF = "/root/testdata/sf0.001"
DEAD = [1, 2, 3]


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )


def _ids(df):
    return sorted({r["vec_id"] for r in df.select("vec_id").collect()})


def _postings(spark, state):
    return sorted(
        map(tuple, read_state_index(spark, state).postings.select(
            "doc_id", "term", "tf"
        ).collect())
    )


def _leftovers(local_dir):
    return [
        d for d in os.listdir(local_dir) if d.endswith(("__old", "__compact"))
    ]


def _drop(spark, local, n, seed):
    synth_pages(spark, n, seed=seed).write.parquet(f"{local}/in/drop_{seed}")


@pytest.mark.parametrize("family", ["lsh", "ivf", "pq", "lsh_stream", "state"])
def test_lifecycle_on_file_uri(spark, tmp_path, family):
    """Delete → load serves the live rows only, and compaction completes,
    on a `file://` URI."""
    local, uri = str(tmp_path), tmp_path.as_uri()
    emb = _emb(spark)
    live = sorted(set(_ids(emb)) - set(DEAD))
    if family == "lsh":
        sim.build_lsh_index(emb, f"{uri}/x", n_planes=4, n_tables=2)
        sim.lsh_index_delete(spark, f"{uri}/x", DEAD)
        assert _ids(sim.load_lsh_index(spark, f"{uri}/x")) == live
        sim.lsh_index_compact(spark, f"{uri}/x")
        assert _ids(sim.load_lsh_index(spark, f"{uri}/x")) == live
        assert not os.path.exists(f"{local}/x/_tombstones")
    elif family == "ivf":
        sim.build_ivf_index(emb, f"{uri}/x", n_cells=4)
        sim.ivf_index_delete(spark, f"{uri}/x", DEAD)
        assert _ids(sim.load_ivf_index(spark, f"{uri}/x")[1]) == live
    elif family == "pq":
        sim.build_pq_index(emb, f"{uri}/x", m=4, ks=4, iters=1)
        sim.pq_index_delete(spark, f"{uri}/x", DEAD)
        assert _ids(sim.load_pq_index(spark, f"{uri}/x")[1]) == live
        sim.pq_index_compact(spark, f"{uri}/x")
        assert _ids(sim.load_pq_index(spark, f"{uri}/x")[1]) == live
        assert not os.path.exists(f"{local}/x/_tombstones")
        assert _leftovers(f"{local}/x") == []
    elif family == "lsh_stream":
        emb.write.parquet(f"{local}/in/d0")
        lsh_index_stream(spark, f"{uri}/in/d*", f"{uri}/x")
        sim.lsh_index_delete(spark, f"{uri}/x", DEAD)
        assert _ids(read_lsh_stream_index(spark, f"{uri}/x")) == live
    else:
        for seed in (1, 2):
            _drop(spark, local, 8, seed)
            incremental_index_update(spark, f"{uri}/in/drop_*", f"{uri}/x")
        before = _postings(spark, f"{uri}/x")
        assert compact_state(spark, f"{uri}/x") == 1
        assert _postings(spark, f"{uri}/x") == before
        assert _leftovers(f"{local}/x") == []
    assert _leftovers(local) == []


class _Crash(Exception):
    pass


def _crash_at(m, n):
    """Make the n-th rename-or-delete call through `_layout` raise."""
    calls = itertools.count(1)

    def wrap(fn):
        def crashing(*args):
            if next(calls) == n:
                raise _Crash(fn.__name__)
            return fn(*args)

        return crashing

    m.setattr(_layout, "rename", wrap(_layout.rename))
    m.setattr(_layout, "delete", wrap(_layout.delete))


@pytest.mark.parametrize("family", ["lsh", "pq", "state"])
def test_compaction_survives_a_crash_at_every_step(
    spark, tmp_path, monkeypatch, family
):
    """Crash the compaction at each rename/delete in turn: the next load
    still returns the pre-compaction rows, and the next compaction
    succeeds and leaves no `__old` or temp sibling behind."""
    local = str(tmp_path)
    emb = _emb(spark)
    if family == "lsh":
        path, scan = f"{local}/x", local

        def change(n):
            sim.lsh_index_delete(spark, path, [n])

        def load():
            return sorted(
                map(tuple, sim.load_lsh_index(spark, path).select(
                    "vec_id", "t", "sig"
                ).collect())
            )

        def compact():
            sim.lsh_index_compact(spark, path)

        sim.build_lsh_index(emb, path, n_planes=4, n_tables=2)
    elif family == "pq":
        path = scan = f"{local}/x"

        def change(n):
            sim.pq_index_delete(spark, path, [n])

        def load():
            return _ids(sim.load_pq_index(spark, path)[1])

        def compact():
            sim.pq_index_compact(spark, path)

        sim.build_pq_index(emb, path, m=4, ks=4, iters=1)
    else:
        path = scan = f"{local}/x"

        def change(n):
            _drop(spark, local, 4, n)
            incremental_index_update(spark, f"{local}/in/drop_*", path)

        def load():
            return _postings(spark, path)

        def compact():
            compact_state(spark, path)

        change(0)

    for n in itertools.count(1):
        change(n)
        before = load()
        with monkeypatch.context() as m:
            _crash_at(m, n)
            try:
                compact()
            except _Crash:
                pass
            else:
                break
        assert load() == before, f"crash at step {n}"
        compact()
        assert load() == before, f"compaction after crash at step {n}"
        assert _leftovers(scan) == []
    assert n > 4, "the compaction made fewer renames/deletes than expected"


@pytest.mark.parametrize("partition_by", [["p"], None])
def test_merge_table_survives_a_crash_at_every_step(
    spark, tmp_path, monkeypatch, partition_by
):
    """Crash a merge at each rename/delete in turn: re-running it
    succeeds, serves each key once with its new value, keeps `p` an
    integer partition column and leaves no `__old` or temp sibling."""
    from search_engine_spark.catalog import merge_table

    base = spark.createDataFrame(
        [(k, k % 3, f"v{k}") for k in range(6)], "k long, p int, v string"
    )
    src = spark.createDataFrame(
        [(k, k % 3, f"u{k}") for k in (1, 2, 7)], "k long, p int, v string"
    )
    want = sorted(
        [(k, k % 3, f"v{k}") for k in (0, 3, 4, 5)]
        + [(k, k % 3, f"u{k}") for k in (1, 2, 7)]
    )

    def rows(path):
        df = spark.read.parquet(path)
        assert dict(df.dtypes)["p"] == "int"
        return sorted(map(tuple, df.select("k", "p", "v").collect()))

    for n in itertools.count(1):
        root = tmp_path / f"m{n}"
        path = str(root / "t")
        merge_table(base, path, keys=["k"], partition_by=partition_by)
        with monkeypatch.context() as m:
            _crash_at(m, n)
            try:
                merge_table(src, path, keys=["k"], partition_by=partition_by)
            except _Crash:
                pass
            else:
                break
        merge_table(src, path, keys=["k"], partition_by=partition_by)
        assert rows(path) == want, f"merge after crash at step {n}"
        assert _leftovers(path) == [] and _leftovers(root) == []
        assert os.listdir(root) == ["t"]
    assert rows(path) == want
    assert n > 4, "the merge made fewer renames/deletes than expected"
