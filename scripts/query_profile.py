"""Profile one registered query with the Spark UI off.

Runs the query once to warm the session, then once more under a job
group, and prints one JSON record of the profiled pass:

- ``build_s``: the query-building call, including the eager
  ``materialize`` jobs some queries run while building (``build_jobs``);
- ``wall_s``: build plus the noop write; ``driver_gap_s``: the part of
  ``wall_s`` no Spark job covers (driver work between jobs);
- ``spark.*``: jobs, stages, tasks, task / CPU / GC seconds, shuffle and
  spill bytes, ``spark.parallelism`` (task seconds / wall) and
  ``spark.skew`` (max / median task time, weighted over stages);
- ``stages``: one row per completed stage;
- ``op.*`` / ``python.*``: SQL operator metrics of the pass;
- ``storage.*``: cached and checkpointed blocks the session holds after it;
- ``codegen.classes_compiled``: generated classes Janino compiled during
  the pass (0 when every class came from Spark's codegen cache);
  ``jvm.jit_s``: the JVM's JIT compiler time during the pass;
- ``plan``: ``scripts/plan_audit.py``'s bucket, flags and counters.

Jobs, stages and operator metrics come from the status stores through
``perfbench/probes.py``, so no port is opened and profiles can run side
by side.

Usage: python scripts/query_profile.py <query> [sf_dir]
(sf_dir defaults to bench.py's: $SPARK_GRAFT_SF_DIR, else sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

_SCRIPTS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_SCRIPTS)
sys.path.insert(0, _REPO)
sys.path += [_SCRIPTS, os.path.join(_REPO, "perfbench")]

WARM_PASSES = 1


def stage_rows(status, jobs: list[dict]) -> list[dict]:
    """The completed stages of ``jobs`` (last attempt each), read as one
    JSON document through the status reader's Jackson mapper."""
    wanted = {sid for j in jobs for sid in j["stageIds"]}
    last: dict[int, dict] = {}
    for st in status._json(status.store.stageList(
            None, False, False, status._no_quantiles, status._all_tasks)):
        sid = st["stageId"]
        if sid in wanted and st["status"] == "COMPLETE" and (
                sid not in last or st["attemptId"] > last[sid]["attemptId"]):
            last[sid] = st
    return [{
        "id": sid,
        "name": st["name"],
        "tasks": st["numTasks"],
        "run_s": st["executorRunTime"] / 1000.0,
        "cpu_s": st["executorCpuTime"] / 1e9,
        "shuffle_read_bytes": st["shuffleReadBytes"],
        "shuffle_write_bytes": st["shuffleWriteBytes"],
    } for sid, st in sorted(last.items())]


def compile_counters(spark) -> tuple[int, float]:
    """(generated classes compiled, JIT compiler seconds) so far in the
    driver JVM, which in local mode runs the tasks too."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return (metrics.METRIC_COMPILATION_TIME().getCount(),
            jit.getTotalCompilationTime() / 1000.0)


def profile(spark, name: str, sf_dir: str, *, warm: bool = True) -> dict:
    """One profiled pass of ``QUERIES[name]`` to the noop sink, after
    ``WARM_PASSES`` untimed ones (none with ``warm=False``, for a caller
    that has already warmed the query)."""
    from plan_audit import audit_built
    from probes import StatusReader, summarize_groups

    from flink_psl_spark.queries import QUERIES
    from flink_psl_spark.streaming import core as stream_core

    fn = QUERIES[name]
    for _ in range(WARM_PASSES if warm else 0):
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    status = StatusReader(spark)
    sc = spark.sparkContext
    rid = f"profile:{name}#{time.time():.6f}"
    stream_core.STREAM_PLANS.clear()
    marker = status.executions_marker()
    classes0, jit0 = compile_counters(spark)
    try:
        sc.setJobGroup(f"build:{rid}", rid)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        sc.setJobGroup(f"exec:{rid}", rid)
        df.write.mode("overwrite").format("noop").save()
        wall_s = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sql_range = (marker, status.executions_marker())
    classes1, jit1 = compile_counters(spark)

    jobs = status.jobs([f"build:{rid}", f"exec:{rid}"])
    spark_layers = summarize_groups([status.spark_stats(jobs)], wall_s)
    rdds, stored = status.storage()
    bucket, flags, counters = audit_built(
        df._jdf.queryExecution().executedPlan().toString(),
        list(stream_core.STREAM_PLANS))
    return {
        "query": name,
        "sf_dir": sf_dir,
        "build_s": build_s,
        "wall_s": wall_s,
        "driver_gap_s": spark_layers.pop("spark.driver_gap_s"),
        "build_jobs": sum(j["jobGroup"].startswith("build:") for j in jobs),
        **spark_layers,
        **status.operator_stats([sql_range]),
        "storage.rdds_retained": rdds,
        "storage.bytes_retained": stored,
        "codegen.classes_compiled": classes1 - classes0,
        "jvm.jit_s": jit1 - jit0,
        "plan": {"bucket": bucket, "flags": flags, **counters},
        "stages": stage_rows(status, jobs),
    }


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else None

    from bench import SF_DIR
    from probes import RETAIN_ALL

    from flink_psl_spark import get_spark
    from flink_psl_spark.queries import QUERIES

    if name not in QUERIES:
        close = [q for q in QUERIES if name in q]
        print(f"unknown query {name!r}; close matches: {close[:10]}")
        return 2
    spark = get_spark(app_name=f"profile_{name}", extra_conf=RETAIN_ALL)
    print(json.dumps(profile(spark, name, sf_dir or SF_DIR)))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
