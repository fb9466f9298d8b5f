"""Per-layer readings taken from outside the engine, for the traced run.

- ``spark.*``: jobs and stages of the traced job groups, from the
  SparkContext's status store (``sc.statusStore()``).  A traced session
  keeps every job, stage and execution (``RETAIN_ALL``; the defaults keep
  only the newest 1000), so they are read once, at the end of the run.
- ``op.*`` / ``python.*``: SQL operator metrics of the executions in
  marker ranges, from ``sharedState().statusStore()``.
- ``storage.*``: cached and checkpointed blocks (``getRDDStorageInfo``).
- ``materialize.*``: calls into ``flink_psl_spark.materialize.materialize``,
  timed by wrapping the function where the engine's modules bound it.

All of these work with ``spark.ui.enabled=false`` and open no port.
"""

from __future__ import annotations

import json
import re
import sys
import time

from harness import union_seconds

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
    "spark.cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
)


def job_span(job: dict) -> tuple[float, float] | None:
    """(submission, completion) of a REST-shaped job, in epoch seconds."""
    start, end = job.get("submissionTime"), job.get("completionTime")
    return (start / 1000.0, end / 1000.0) if start and end else None


def _iter(java_seq):
    it = java_seq.iterator()
    while it.hasNext():
        yield it.next()


# status-store retention for a traced session: every job, stage and SQL
# execution of the run stays readable until the run reads them at its end
RETAIN_ALL = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

# spark.skew reads task quantiles of at most this many stages per reading,
# the ones with the most task time (one JVM call each)
SKEW_STAGES = 20


class StatusReader:
    """Reads job, stage and SQL-execution data of one SparkSession.

    Jobs and stages come over as one JSON document each (Spark's own
    Jackson mapper), not one JVM call per field: a recursive query runs
    hundreds of stages."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        jvm = gw.jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._all_tasks = jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _json(self, java_obj):
        return json.loads(self._mapper.writeValueAsString(java_obj))

    def jobs(self, groups) -> list[dict]:
        """The jobs (REST API shape) run under any of ``groups``."""
        groups = set(groups)
        return [j for j in self._json(self.store.jobsList(None))
                if j.get("jobGroup") in groups]

    def spark_stats(self, jobs: list[dict]) -> dict:
        """spark.* totals over ``jobs`` (each completed stage once), plus
        the job spans and the per-stage (task seconds, max/median task
        time) pairs used for skew."""
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        out["spark.jobs"] = len(jobs)
        out["job_spans"] = [job_span(j) for j in jobs if job_span(j)]
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        last: dict[int, dict] = {}
        for st in self._json(self.store.stageList(
                None, False, False, self._no_quantiles, self._all_tasks)):
            sid = st["stageId"]
            if sid in wanted and st["status"] == "COMPLETE" and (
                    sid not in last or st["attemptId"] > last[sid]["attemptId"]):
                last[sid] = st
        for st in last.values():
            out["spark.stages"] += 1
            out["spark.tasks"] += st["numTasks"]
            out["spark.task_s"] += st["executorRunTime"] / 1000.0
            out["spark.cpu_s"] += st["executorCpuTime"] / 1e9
            out["spark.gc_s"] += st["jvmGcTime"] / 1000.0
            out["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
            out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spark.spill_bytes"] += (st["memoryBytesSpilled"]
                                         + st["diskBytesSpilled"])
        heavy = sorted((st for st in last.values() if st["numTasks"] >= 2),
                       key=lambda st: -st["executorRunTime"])[:SKEW_STAGES]
        out["stage_skew"] = []
        for st in heavy:
            summary = self.store.taskSummary(st["stageId"], st["attemptId"],
                                             self._quantiles)
            if summary.isDefined():
                q = summary.get().executorRunTime()  # [p50, max]
                if q.apply(0) > 0:
                    out["stage_skew"].append((st["executorRunTime"] / 1000.0,
                                              q.apply(1) / q.apply(0)))
        return out

    def executions_marker(self) -> int:
        return self.sql.executionsCount()

    def operator_stats(self, ranges) -> dict:
        """op.* and python.* totals over the SQL executions in the given
        [first, end) marker ranges."""
        out: dict[str, float] = {}
        for first, end in ranges:
            if end <= first:
                continue
            for ex in _iter(self.sql.executionsList(first, end - first)):
                eid = ex.executionId()
                values = self.sql.executionMetrics(eid)
                for node in _iter(self.sql.planGraph(eid).allNodes()):
                    for metric in _iter(node.metrics()):
                        v = values.get(metric.accumulatorId())
                        if not v.isDefined():
                            continue
                        key = _operator_key(node.name(), metric.name())
                        if key:
                            out[key] = out.get(key, 0.0) + parse_metric(
                                v.get(), key.endswith("_s"))
        return out

    def storage(self) -> tuple[int, int]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")

_OPERATOR_KEYS = {
    ("scan", "scan time"): "op.scan_s",
    ("scan", "number of files read"): "op.scan_files",
    ("codegen", "duration"): "op.codegen_s",
    ("Sort", "sort time"): "op.sort_s",
    ("ShuffledHashJoin", "time to build hash map"): "op.hash_build_s",
    ("BroadcastExchange", "time to build"): "op.hash_build_s",
    ("BroadcastExchange", "time to collect"): "op.broadcast_s",
    ("BroadcastExchange", "time to broadcast"): "op.broadcast_s",
    ("AQEShuffleRead", "number of partitions"): "op.aqe_partitions",
    ("AQEShuffleRead", "number of coalesced partitions"): "op.aqe_coalesced",
    ("AQEShuffleRead", "number of skewed partition splits"):
        "op.aqe_skew_splits",
    ("python", "time to run Python workers"): "python.run_s",
    ("python", "time to start Python workers"): "python.start_s",
    ("python", "time to initialize Python workers"): "python.init_s",
    ("python", "data sent to Python workers"): "python.bytes_sent",
    ("python", "data returned from Python workers"): "python.bytes_returned",
    ("python", "number of output rows"): "python.rows_returned",
}


def _operator_key(node: str, metric: str) -> str | None:
    if node.startswith("Scan "):
        kind = "scan"
    elif node.startswith("WholeStageCodegen"):
        kind = "codegen"
    elif _PYTHON_NODE.search(node):
        kind = "python"
    else:
        kind = node.strip()
    return _OPERATOR_KEYS.get((kind, metric))


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str, is_time: bool = False) -> float:
    """A SQL metric's rendered total: '1.2 s', '16.1 MiB', '1,234', or the
    'total (min, med, max ...)' form whose total follows the newline.
    Times become seconds (a bare number for a time is milliseconds),
    sizes bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ("ms" if is_time else "")
    return number * _UNITS.get(unit, 1.0)


def summarize_groups(stats: list[dict], wall_s: float) -> dict:
    """Fold spark_stats() results into the spark.* per-layer metrics."""
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    spans, skew = [], []
    for s in stats:
        for k in SPARK_METRICS:
            out[k] += s[k]
        spans += s["job_spans"]
        skew += s["stage_skew"]
    job_wall = union_seconds(spans)
    out["spark.parallelism"] = out["spark.task_s"] / wall_s if wall_s else 0.0
    weight = sum(w for w, _ in skew)
    out["spark.skew"] = (sum(w * r for w, r in skew) / weight
                         if weight else 1.0)
    out["spark.driver_gap_s"] = max(0.0, wall_s - job_wall)
    return out


class MaterializeWatch:
    """Counts and times ``materialize()`` calls without editing the engine:
    the wrapper replaces the function in every engine module that bound it
    by name, and ``restore()`` puts the original back."""

    def __init__(self, tracer):
        import flink_psl_spark.materialize as mod

        self.tracer = tracer
        self.original = mod.materialize
        self.calls = 0
        self.seconds = 0.0
        original = self.original

        def timed(df):
            if not tracer.enabled:
                return original(df)
            start = time.perf_counter()
            try:
                return original(df)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - start

        self.timed = timed
        self._patched = []
        for name, module in list(sys.modules.items()):
            if (name.startswith("flink_psl_spark")
                    and getattr(module, "materialize", None) is original):
                setattr(module, "materialize", timed)
                self._patched.append(module)

    def restore(self) -> None:
        for module in self._patched:
            module.materialize = self.original
