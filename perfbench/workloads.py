"""The workloads: ingest and refresh (rationale in README.md).

Each workload function takes a ``Run``, performs its set-up three times,
its warm-up, its measured window and its oracle checks, and leaves the
numbers in the ``Run``. Spans go around every call into the engine;
they record only in the traced run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from search_engine_spark.functions.textproc import extract_text, tokenize, tokenize_query
from search_engine_spark.operators.index_build import (
    build_index_from_pages,
    read_index,
    write_index,
)
from search_engine_spark.operators.query import search
from search_engine_spark.sources import synth_pages
from search_engine_spark.sources.corpus import _vocab
from search_engine_spark.streaming.incremental import compact_state, incremental_index_update

from perfbench import checks

SETUP_REPS = 3
INGEST_PAGES, INGEST_SCALE = 1500, 8   # ~8 KB of html per page
REFRESH_BASE_PAGES, DROP_PAGES = 1000, 1000
COMPACT_EVERY = 2                      # drops per compaction
STANDING_QUERIES = 100
CHECKED_QUERIES = 5                    # oracle sample per check
WARMUP_BUILDS, WARMUP_PAGES = 2, 300   # untimed builds on a smaller corpus
WARMUP_DROPS, WARMUP_DROP_PAGES = 2, 300
MIN_BUILDS = 3                         # ingest window: at least this many builds
MIN_CYCLES = 2                         # refresh window: at least this many compactions
VOCAB_SIZE = 2000                      # synth_pages' default vocabulary
QUERY_ZIPF = 1.1
MISSING_TERM_SHARE = 0.05
TEXTPROC_SAMPLE = 50


@dataclass
class Run:
    """Everything one benchmark run measures."""

    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    traced: bool
    setup_s: list[float] = field(default_factory=list)
    ops: list[dict] = field(default_factory=list)
    pages_per_s: float = 0.0
    bytes_ratio: float = 0.0
    layer: dict[str, list[float]] = field(default_factory=dict)
    sizes: dict[str, int] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (``perf_counter`` time)."""
        self.phases[phase] = time.perf_counter()

    def sample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def set_up(self, fn):
        """Run the workload's set-up ``SETUP_REPS`` times, each into fresh
        paths; returns the last repetition's result."""
        out = None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.span("setup"):
                out = fn(rep)
            self.setup_s.append(time.perf_counter() - t0)
        self.mark("set_up")
        return out

    def window(self, min_ops: int):
        """Op indices for the measured window: until ``seconds`` have
        passed and at least ``min_ops`` ops have run."""
        self.mark("warm_up")
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < min_ops or time.perf_counter() < deadline:
            yield i
            i += 1
        self.mark("window")

    def op(self, fn):
        """Time one operation. In the traced run every second op is traced
        and the others are not, so the run also measures what tracing
        costs."""
        rec = {"id": len(self.ops), "errors": [],
               "traced": self.traced and len(self.ops) % 2 == 1}
        self.ops.append(rec)
        self.tracer.enabled = rec["traced"]
        t0 = time.perf_counter()
        out = None
        try:
            with self.span("op", op=rec["id"]):
                out = fn(rec)
        except Exception as e:  # noqa: BLE001 - every failure counts in failed
            traceback.print_exc()
            rec["errors"].append(f"raised {e!r}")
        finally:
            rec["s"] = time.perf_counter() - t0
            self.tracer.enabled = self.traced
        return out

    def timed_ops(self) -> list[dict]:
        """The ops that completed without an error."""
        return [o for o in self.ops if not o["errors"]]


# --- inputs ------------------------------------------------------------------

def synth(run: Run, n: int, seed: int, path: str, scale: int = 1, url_tag: str | None = None) -> str:
    """Generate ``n`` pages into parquet at ``path``; ``url_tag`` makes
    the urls distinct from those of another drop with the same ids."""
    with run.span("sources.synth"):
        df = synth_pages(run.spark, n, seed=seed, scale=scale)
        if url_tag:
            df = df.withColumn("url", F.regexp_replace("url", "/page/", f"/{url_tag}/page/"))
        df.write.parquet(path)
    return path


def make_queries(seed: int, n: int) -> list[str]:
    """1-4 terms each, drawn from the corpus vocabulary with Zipf skew,
    so head terms that occur in most pages mix with tail terms; about
    ``MISSING_TERM_SHARE`` of the terms occur in no page."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(VOCAB_SIZE)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** QUERY_ZIPF
    p /= p.sum()
    out = []
    for _ in range(n):
        terms = []
        for _ in range(int(rng.integers(1, 5))):
            if rng.random() < MISSING_TERM_SHARE:
                terms.append("zq" + "".join(rng.choice(list("aeiouxy"), 5)))
            else:
                terms.append(vocab[int(rng.choice(VOCAB_SIZE, p=p))])
        out.append(" ".join(terms))
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, leaving out the local filesystem's
    ``.crc`` checksums and ``_SUCCESS`` markers."""
    size = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".crc") or name == "_SUCCESS":
                continue
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files


def oracle_docs(run: Run, path: str) -> list[tuple[int, str]]:
    """(doc_id, text) of the pages the engine indexes: English, non-empty
    text; doc_id is the engine's ``xxhash64(url)`` id."""
    rows = (
        run.spark.read.parquet(path)
        .filter(F.col("lang").startswith("en") & (F.length("text") > 0))
        .select(F.xxhash64("url").alias("doc_id"), "text")
        .collect()
    )
    return [(r["doc_id"], r["text"]) for r in rows]


def hits_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


# --- layer calls ---------------------------------------------------------------

def build_write_read(run: Run, pages_path: str, out: str):
    pages = run.spark.read.parquet(pages_path)
    with run.span("index_build"):
        with run.span("index_build.build"):
            idx = build_index_from_pages(pages)
        try:
            with run.span("index_build.write"):
                write_index(idx, out)
            with run.span("index_build.read"):
                return read_index(run.spark, out)
        finally:
            idx.unpersist()


def run_search(run: Run, index, queries: list[str]):
    with run.span("query"):
        with run.span("query.plan"):
            df = search(index, run.spark, queries, k=10, scorer="bm25")
        with run.span("query.exec") as attrs:
            rows = df.collect()
            attrs["rows"] = len(rows)
    return rows


def drain(run: Run, inp: str, state: str):
    with run.span("incremental.drain"):
        return incremental_index_update(run.spark, f"{inp}/drop_*", state)


def compact(run: Run, state: str) -> float:
    t0 = time.perf_counter()
    with run.span("incremental.compact"):
        compact_state(run.spark, state)
    return time.perf_counter() - t0


def record_state(run: Run, state: str) -> None:
    size, files = dir_stats(state)
    run.sample("incremental.epoch_dirs",
               sum(d.startswith("batch=") for d in os.listdir(f"{state}/postings_raw")))
    run.sample("incremental.state_files", files)
    run.sample("incremental.state_bytes", size)


# --- traced-run extras -----------------------------------------------------------

def sample_textproc(run: Run, pages_path: str) -> None:
    """Driver-timed ``extract_text`` and ``tokenize`` on a fixed sample of
    the workload's own pages; the median of three passes, per page."""
    rows = (run.spark.read.parquet(pages_path).orderBy("url")
            .select("html").limit(TEXTPROC_SAMPLE).collect())
    htmls = [bytes(r["html"]).decode("utf-8") for r in rows]
    texts = [extract_text(h) for h in htmls]
    for name, fn, args in (("textproc.extract_ms_per_page", extract_text, htmls),
                           ("textproc.tokenize_ms_per_page", tokenize, texts)):
        passes = []
        for _ in range(3):
            t0 = time.perf_counter()
            for a in args:
                fn(a)
            passes.append((time.perf_counter() - t0) * 1e3 / len(args))
        run.sample(name, statistics.median(passes))


def sample_tokenize_query(run: Run, queries: list[str]) -> None:
    for q in queries:
        t0 = time.perf_counter()
        tokenize_query(q)
        run.sample("textproc.tokenize_query_us", (time.perf_counter() - t0) * 1e6)


def sample_index(run: Run, index, path: str) -> None:
    with run.span("stats"):
        run.sample("index_build.postings", index.postings.count())
        run.sample("index_build.vocab", index.term_stats.count())
    size, files = dir_stats(path)
    run.sample("catalog.index_bytes", size)
    run.sample("catalog.index_files", files)


def sweep_incremental(run: Run) -> None:
    """For workloads whose window never drains: three small drains and a
    compaction, so the incremental layer is timed in every traced run."""
    inp, state = run.path("sweep_in"), run.path("sweep_state")
    with run.span("sweep"):
        for d in range(3):
            synth(run, 300, run.seed + d, f"{inp}/drop_{d}", url_tag=f"s{d}")
            t0 = time.perf_counter()
            drain(run, inp, state).unpersist()
            run.sample("incremental.drain_s", time.perf_counter() - t0)
            record_state(run, state)
        run.sample("incremental.compact_s", compact(run, state))


# --- workloads -------------------------------------------------------------------

def ingest(run: Run) -> None:
    """Repeated full builds from raw html: build → write → read."""
    pages_path = run.set_up(lambda rep: synth(
        run, INGEST_PAGES, run.seed, run.path(f"pages{rep}"), scale=INGEST_SCALE))
    input_bytes, _ = dir_stats(pages_path)
    run.sizes.update(pages=INGEST_PAGES, page_scale=INGEST_SCALE, input_bytes=input_bytes)
    built: dict[int, object] = {}

    def build(rec):
        out = run.path(f"index{rec['id']}")
        index = build_write_read(run, pages_path, out)
        rec.update(n_docs=index.n_docs, avgdl=index.avgdl, path=out)
        built[rec["id"]] = index
        return index

    warm = synth(run, WARMUP_PAGES, run.seed + 1, run.path("warmup_pages"), scale=INGEST_SCALE)
    with run.span("warmup"):
        for i in range(WARMUP_BUILDS):
            build_write_read(run, warm, run.path(f"warmup_index{i}"))
    for _ in run.window(MIN_BUILDS):
        prev = run.ops[-1] if run.ops else {}
        run.op(build)
        if "path" in prev:  # keep only the newest index on disk
            shutil.rmtree(prev.pop("path"), ignore_errors=True)
    run.pages_per_s = INGEST_PAGES / statistics.median(o["s"] for o in run.timed_ops())
    last = run.ops[-1]
    run.bytes_ratio = dir_stats(last["path"])[0] / input_bytes
    if run.traced:
        sweep_incremental(run)
        sample_textproc(run, pages_path)
        sample_index(run, built[last["id"]], last["path"])

    oracle = checks.GrowingOracle()
    oracle.add(oracle_docs(run, pages_path))
    snap = oracle.snapshot()
    for rec in run.ops:
        if "n_docs" in rec:
            rec["errors"] += checks.check_stats(snap, rec["n_docs"], rec["avgdl"])
    index = built[last["id"]]
    vocab = index.term_stats.count()
    if vocab != len(snap.postings):
        last["errors"].append(f"vocab {vocab}, oracle {len(snap.postings)}")
    queries = make_queries(run.seed, CHECKED_QUERIES)
    if run.traced:
        sample_tokenize_query(run, queries)
    with run.span("check"):
        got = hits_by_query(run_search(run, index, queries))
    last["errors"] += checks.check_queries(snap, queries, got).values()


def refresh(run: Run) -> None:
    """Drops of new pages land one at a time; each is drained into the
    incremental state and a fixed batch of standing queries is answered
    against the refreshed index; every ``COMPACT_EVERY`` drops the state
    is compacted."""
    def set_up(rep):
        inp, state = run.path(f"in{rep}"), run.path(f"state{rep}")
        synth(run, REFRESH_BASE_PAGES, run.seed, f"{inp}/drop_base")
        drain(run, inp, state).unpersist()
        return inp, state

    inp, state = run.set_up(set_up)
    standing = make_queries(run.seed + 1, STANDING_QUERIES)
    landed = [f"{inp}/drop_base"]
    drops: list[dict] = []   # every drop, warm-up ones too, in landing order
    compact_s: list[float] = []
    ratios: list[float] = []

    def drop(d: int, warmup: bool) -> None:
        staging = synth(run, WARMUP_DROP_PAGES if warmup else DROP_PAGES, run.seed * 7919 + d + 1,
                        run.path("staging", f"drop_{d:04d}"), url_tag=f"d{d}")
        target = f"{inp}/drop_{d:04d}"

        def go(rec):
            os.rename(staging, target)  # the drop lands: lag starts here
            landed.append(target)
            rec["drop"] = target
            t0 = time.perf_counter()
            index = drain(run, inp, state)
            rec["drain_s"] = time.perf_counter() - t0
            try:
                if rec["traced"]:
                    sample_tokenize_query(run, standing)
                rows = run_search(run, index, standing)
            finally:
                index.unpersist()
            rec.update(n_docs=index.n_docs, avgdl=index.avgdl,
                       hits=hits_by_query(r for r in rows if r["query_id"] < CHECKED_QUERIES))

        if warmup:
            rec = {"traced": False}
            with run.span("warmup"):
                go(rec)
        else:
            run.op(go)
            rec = run.ops[-1]
        drops.append(rec)
        if run.traced and not warmup and "drain_s" in rec:
            run.sample("incremental.drain_s", rec["drain_s"])
            record_state(run, state)
        if d % COMPACT_EVERY == COMPACT_EVERY - 1:
            s = compact(run, state)
            if not warmup:
                compact_s.append(s)
                ratios.append(dir_stats(state)[0] / sum(dir_stats(p)[0] for p in landed))
            if run.traced and not warmup:
                run.sample("incremental.compact_s", s)

    for d in range(WARMUP_DROPS):
        drop(d, warmup=True)
    # the window ends on a compaction, so every run measures whole cycles
    d = WARMUP_DROPS
    for _ in run.window(MIN_CYCLES):
        for _ in range(COMPACT_EVERY):
            drop(d, warmup=False)
            d += 1
    drain_s = statistics.median(o["drain_s"] for o in run.timed_ops())
    run.pages_per_s = DROP_PAGES / (drain_s + statistics.median(compact_s) / COMPACT_EVERY)
    run.bytes_ratio = ratios[MIN_CYCLES - 1]  # a fixed point, whatever the run's speed
    run.sizes.update(base_pages=REFRESH_BASE_PAGES, drop_pages=DROP_PAGES,
                     drops=len(landed) - 1, input_bytes=sum(dir_stats(p)[0] for p in landed))
    if run.traced:
        sample_textproc(run, landed[0])
        swept = run.path("sweep_index")
        with run.span("sweep"):
            sample_index(run, build_write_read(run, landed[0], swept), swept)

    oracle = checks.GrowingOracle()
    oracle.add(oracle_docs(run, landed[0]))
    checked = standing[:CHECKED_QUERIES]
    for rec in drops:
        if "drop" not in rec:
            continue
        oracle.add(oracle_docs(run, rec["drop"]))
        if "errors" in rec and "n_docs" in rec:  # a timed drop that completed
            snap = oracle.snapshot()
            rec["errors"] += checks.check_stats(snap, rec["n_docs"], rec["avgdl"])
            rec["errors"] += checks.check_queries(snap, checked, rec["hits"]).values()
