"""Benchmark of the flink_psl_spark engine: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run it from the repository root.  The first run builds the input corpus
under ``perfbench/.work/`` (see ``corpus.py``); later runs check it against
its manifest and reuse it.  Spark runs as ``local[<cpus>]`` in a JVM this
process starts; the JVM, its Python workers and anything else the run
started have ended before the run prints its result or exits.

Workloads (``BENCHMARK.json`` lists the two batch ones, whose figures hold
steady across seeds, and records why each was chosen; the other two run
with the same command):

- ``relational_sf0.1``: closed loop, one relational headline query at a
  time, noop sink, over the 10x corpus.  A run measures whole passes over
  the query list (seeded order, at least two) and reports the CPU
  seconds of the median pass; the wall time of the median pass and the
  geometric mean of each query's median wall time go to the detail line.
- ``curation_sf0.01``: the same loop over Python-eval, materialize and
  iterative headline queries over the base corpus.
- ``streaming_open_loop``: a generator thread writes event files on a fixed
  schedule; the engine's live tumble aggregate, interval join and
  deduplication read them.  Latency samples are, per query and event file,
  the commit time of the batch that read the file minus its due time.
- ``gateway_closed_loop``: one client per core, each with its own gateway
  session, sends SQL statements (seeded sequence) over HTTP.  Latency
  samples run from the statement POST to the last result page.

Every run first collects each result once and compares it with its DuckDB
oracle (streams: a DuckDB recomputation over the generated files).  The
last stdout line is the JSON result; the line before it carries details
(tail percentile with its sample count, failed ratio, peak memory).  With
``--trace 1`` the metrics are the readings of the layers the workload
drives (``LAYERS``) and a trace file is written to ``perfbench/.work/``;
a traced batch run alternates untraced and traced passes, and
``trace.overhead`` is the median traced pass over the median untraced one.
A run exits 1 when an output differs from its oracle and 2 when the engine
is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# end-to-end figures by workload (setup_s in all), with their units
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s.p50": "s",
    "event_latency_s.p50": "s", "drain_s": "s", "events_per_s": "1/s",
    "stmt_latency_s.p50": "s", "stmts_per_s": "1/s",
}

UNITS = {
    "session.start_s": "s", "catalog.register_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.parallelism": "ratio",
    "spark.skew": "ratio", "spark.driver_gap_s": "s",
    "op.scan_s": "s", "op.scan_files": "count", "op.codegen_s": "s",
    "op.sort_s": "s", "op.hash_build_s": "s", "op.broadcast_s": "s",
    "op.aqe_partitions": "count", "op.aqe_coalesced": "count",
    "op.aqe_skew_splits": "count",
    "python.run_s": "s", "python.start_s": "s", "python.init_s": "s",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "python.rows_returned": "count",
    "materialize.calls": "count", "materialize.s": "s",
    "storage.rdds_retained": "count", "storage.bytes_retained": "B",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_s": "s", "stream.add_batch_s": "s",
    "stream.query_planning_s": "s", "stream.get_batch_s": "s",
    "stream.latest_offset_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s", "stream.state_rows": "count",
    "stream.state_bytes": "B", "stream.state_commit_s": "s",
    "stream.backlog_files": "count", "gen.late_s": "s",
    "gateway.submit_s": "s", "gateway.wait_s": "s", "gateway.fetch_s": "s",
    "gateway.polls": "count", "gateway.pages": "count",
    "gateway.spark_s": "s",
    "trace.overhead": "ratio",
}


def _layer(prefix: str) -> list[str]:
    return [k for k in UNITS if k.startswith(prefix)]


# per-layer metrics by workload: only the layers a workload drives
_COMMON = (_layer("session.") + _layer("catalog.") + _layer("spark.")
           + _layer("op."))
_BATCH = (_COMMON + _layer("queries.") + ["plan.s"] + _layer("python.")
          + _layer("materialize.") + _layer("storage.") + ["trace.overhead"])
LAYERS = {
    "relational_sf0.1": _BATCH,
    "curation_sf0.01": _BATCH,
    # these two read their trace data after the measured window, so they
    # report no trace.overhead
    "streaming_open_loop": _COMMON + _layer("stream.") + ["gen.late_s"],
    "gateway_closed_loop": _COMMON + ["plan.s"] + _layer("gateway."),
}


def _engine_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "flink_psl_spark/__init__.py", "flink_psl_spark/queries/__init__.py",
        "scripts/gen_scale_data.py", "tests/_oracle.py"))


def _environment(cpus: int) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, HERE]


def _layers(result, tracer, names: list[str]) -> dict:
    layers = {**tracer.counters, **result.layers}
    for name in ("session.start", "catalog.register", "session.warmup"):
        layers[name + "_s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                  if s["name"] == name)
    # a layer that saw no such operator or event read zero
    return {k: layers.get(k, 0.0) for k in names}


def _stop_spark() -> None:
    """Stop the SparkContext, if one was started, and the JVM behind it,
    which exits once its stdin is closed."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # reported; the JVM is ended below either way
            traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # killed by stop_descendants
            pass


def _shutdown() -> None:
    """Leave no process behind: the JVM, its Python workers, and anything
    they started, on every way out of a run."""
    from harness import stop_descendants

    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        _stop_spark()
    finally:
        stop_descendants()


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _engine_present():
        print("perfbench: the engine (flink_psl_spark, scripts/, tests/) is "
              "not in this directory; run from the repository root",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _environment(cpus)

    import corpus
    import workloads
    from harness import RssSampler, Tracer, adopt_orphans

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        build_s = corpus.ensure_corpus(WORK, workloads.ORACLED)
        with open(os.path.join(WORK, "oracles.json")) as f:
            oracles = json.load(f)

        tracer = Tracer(enabled=bool(args.trace))
        ctx = workloads.Context(work=WORK, seed=args.seed,
                                seconds=args.seconds, tracer=tracer,
                                oracles=oracles, cpus=cpus)
        rss = RssSampler().start()
        t0 = time.perf_counter()
        result = workloads.WORKLOADS[args.workload](ctx)
        wall_s = time.perf_counter() - t0
        peak_mb = rss.stop()
    finally:
        _shutdown()

    correct = result.failed == 0 and bool(result.metrics)
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "corpus_build_s": build_s, "wall_s": wall_s, "peak_rss_mb": peak_mb,
        "measured_s": result.measured_s,
        "failed_ratio": result.failed / max(1, result.attempted),
        **result.detail,
    }
    if args.trace:
        layers = _layers(result, tracer, LAYERS[args.workload])
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in layers.items()}
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                           "metrics": metrics, "detail": detail})
        detail["trace_file"] = os.path.relpath(path, ROOT)
    else:
        values = {"setup_s": result.setup_s, **result.metrics}
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
