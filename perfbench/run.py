"""Ingest / refresh benchmark for search_engine_spark.

Run from the repository root:

    python3 perfbench/run.py --workload {ingest,refresh} \
        --seed N --seconds S --trace {0,1}

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full record of the run
(environment, every operation, spans) goes to
``.perfbench_work/runs/<workload>-seed<N>-trace<0|1>.json``. See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SHUFFLE_PARTITIONS = 8
WORKLOADS = ("ingest", "refresh")
CALIBRATION_N = 2_000_000


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the engine from this checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_session(work: str, nproc: int, traced: bool):
    from search_engine_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: with the C2 compiler, build times kept falling for many
        # builds and settled at levels 20% apart in different processes;
        # with C1 they are flat after warm-up and agree across processes.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:TieredStopAtLevel=1",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin,
    held by this process, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def calibrate() -> float:
    """A fixed pure-Python loop, timed: a record of host speed, so host
    drift can be told apart from a regression. Not a benchmark metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIBRATION_N):
        acc += i * i % 7
    return time.perf_counter() - t0


def median(values):
    return statistics.median(values) if values else 0.0


def e2e_metrics(run, session_s: float) -> dict:
    lat = [o["s"] for o in run.timed_ops()]
    return {
        "setup_s": (session_s + median(run.setup_s), "s"),
        "latency_p50_s": (median(lat), "s"),
        "pages_per_s": (run.pages_per_s, "1/s"),
        "index_bytes_per_input_byte": (run.bytes_ratio, "ratio"),
    }


def layer_metrics(run, tracer, jobs: dict, session_s: float) -> dict:
    from perfbench.spans import spark_op_totals

    spans = tracer.spans
    dur = [s["end"] - s["start"] for s in spans]

    def named(name):
        """Spans called ``name`` inside timed operations; where the window
        never reaches that layer, those from set-up, warm-up and sweeps."""
        found = [s for s in spans if s["name"] == name]
        return [s for s in found if s["op"] is not None] or found

    def durations(name):
        return [dur[s["id"]] for s in named(name)]

    def jobs_per(name: str):
        """Spark jobs under each span called ``name``, its children included."""
        return [sum(len(c["jobs"]) for c in tracer.subtree(s["id"])) for s in named(name)]

    def layer(name):
        return median(run.layer.get(name, []))

    m = {
        "session.start_s": (session_s, "s"),
        "sources.synth_s": (median([dur[s["id"]] for s in spans if s["name"] == "sources.synth"
                                    and s["parent"] is not None
                                    and spans[s["parent"]]["name"] == "setup"]), "s"),
        "textproc.extract_ms_per_page": (layer("textproc.extract_ms_per_page"), "ms"),
        "textproc.tokenize_ms_per_page": (layer("textproc.tokenize_ms_per_page"), "ms"),
        "textproc.tokenize_query_us": (layer("textproc.tokenize_query_us"), "us"),
        "index_build.build_s": (median(durations("index_build.build")), "s"),
        "index_build.write_s": (median(durations("index_build.write")), "s"),
        "index_build.read_s": (median(durations("index_build.read")), "s"),
        "index_build.jobs": (median(jobs_per("index_build")), "count"),
        "index_build.postings": (layer("index_build.postings"), "count"),
        "index_build.vocab": (layer("index_build.vocab"), "count"),
        "catalog.index_bytes": (layer("catalog.index_bytes"), "bytes"),
        "catalog.index_files": (layer("catalog.index_files"), "count"),
        "query.plan_s": (median(durations("query.plan")), "s"),
        "query.exec_s": (median(durations("query.exec")), "s"),
        "query.jobs_per_request": (median(jobs_per("query")), "count"),
        "query.rows_out": (median([s["attrs"]["rows"] for s in named("query.exec")]), "count"),
        "incremental.drain_s": (layer("incremental.drain_s"), "s"),
        "incremental.drain_jobs": (median(jobs_per("incremental.drain")), "count"),
        "incremental.compact_s": (layer("incremental.compact_s"), "s"),
        "incremental.epoch_dirs": (layer("incremental.epoch_dirs"), "count"),
        "incremental.state_files": (layer("incremental.state_files"), "count"),
        "incremental.state_bytes": (layer("incremental.state_bytes"), "bytes"),
    }
    op_spans = [s for s in spans if s["name"] == "op"]
    totals = [spark_op_totals(tracer, jobs, s) for s in op_spans]
    for key, unit in (("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                      ("spill_bytes", "bytes"), ("driver_s", "s")):
        m[f"spark.{key}"] = (median([t[key] for t in totals]), unit)
    timed = [o for o in run.timed_ops()]
    traced = median([o["s"] for o in timed if o["traced"]])
    untraced = median([o["s"] for o in timed if not o["traced"]])
    m["trace.op_s"] = (traced, "s")
    m["trace.untraced_op_s"] = (untraced, "s")
    m["trace.overhead"] = (traced / untraced - 1.0 if untraced else 0.0, "ratio")
    m["trace.op_self_s"] = (median([tracer.self_time(s["id"]) for s in op_spans]), "s")
    return m


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import oracle.oracle  # noqa: F401
        import search_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine and its oracle must sit next to perfbench/ "
              f"in {ROOT}: {e}", file=sys.stderr)
        return 2
    import pyspark

    from perfbench import spans, workloads

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    traced = bool(args.trace)
    spark = None
    try:
        spark = start_session(work, nproc, traced)
        session_s = time.perf_counter() - T_START
        tracer = spans.Tracer(spark.sparkContext)
        tracer.enabled = traced
        run = workloads.Run(spark=spark, tracer=tracer, work=work, seed=args.seed,
                            seconds=args.seconds, traced=traced)
        getattr(workloads, args.workload)(run)
        run.mark("checks")
        tracer.enabled = False
        if traced:
            tracer.count_jobs()
        stop_session(spark)
        spark = None
        run.mark("stop")
        if traced:
            metrics = layer_metrics(run, tracer, spans.fold_event_log(
                os.path.join(work, "eventlog")), session_s)
        else:
            metrics = e2e_metrics(run, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in run.ops if o["errors"]]
    for o in failed:
        print(f"perfbench: op {o['id']} failed: {'; '.join(o['errors'])}", file=sys.stderr)
    record = {
        "workload": args.workload,
        "env": {
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
            "master": f"local[{nproc}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "sizes": run.sizes, "calibration_s": calibrate(),
            "loadavg": os.getloadavg(),
        },
        "setup_reps_s": run.setup_s,
        "phase_end_s": {k: v - T_START for k, v in run.phases.items()},
        "error_rate": len(failed) / max(len(run.ops), 1),
        "ops": [{k: v for k, v in o.items() if k != "hits"} for o in run.ops],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "spans": tracer.spans,
    }
    os.makedirs(os.path.join(WORK_ROOT, "runs"), exist_ok=True)
    out = os.path.join(WORK_ROOT, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record["env"]), file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
