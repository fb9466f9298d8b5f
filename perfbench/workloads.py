"""The four workloads.  Each takes a ``Context`` and returns a ``Result``.

Every workload measures with tracing off unless ``ctx.tracer.enabled``;
the traced run wraps the same calls in spans, tags them with job groups
and reads the layer data listed in ``probes.py`` once its measured window
is over.

Set-up (``setup_s``) and the batch workloads' end-to-end figures are CPU
seconds of this process tree: the Python driver, the JVM and its Python
workers.  On a shared host whose hypervisor takes CPU time from the
machine (``steal`` in /proc/stat), wall time shifts with the neighbours'
load by more than any useful bound, while the CPU time the engine spends
does not; wall times stay in the detail line.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from harness import (
    batch_files, commit_times, created_at, event_file_name, host_steal_s,
    summarize, tree_cpu_s,
)

# Relational headline queries whose result sets are small enough to check
# every run: scan, exchange, join, sort, window and set-operation plans.
# Left out: wf_running_rows_frame and session_window_agg (about 100k result
# rows each at sf0.1) and asof_join (20k): the oracle check collects and
# compares every result row in Python on every run.
RELATIONAL = [
    "q1_pricing_summary", "q5_local_supplier_volume", "join_multiway_revenue",
    "join_broadcast_dim", "wf_topn_per_group", "tumble_window_agg",
    "dedup_keep_last", "interval_join_batch", "setop_except_all",
    "window_join", "cdc_debezium_roundtrip",
]
# Python eval, materialize and one-job-per-iteration headline queries.
# Left out to keep a pass near 10 s: the other llm_* headline queries,
# graph_hits and cep_clicks_then_purchase (0.5-2.2 s each at sf0.01).
CURATION = [
    "udf_pandas_scalar", "llm_text_stats", "llm_exact_dedup",
    "llm_minhash_dedup", "async_lookup_enrich", "cogroup_user_summary",
    "graph_pagerank", "recursive_cte_order_chain",
]
# SQL-text registry queries (one text for Spark and DuckDB) with small
# results, sent through the REST gateway.
GATEWAY_STATEMENTS = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q10_returned_items",
    "q13_customer_distribution", "q18_large_volume", "agg_rollup",
    "join_left_agg", "join_full_outer", "setop_intersect",
    "subquery_correlated", "orderby_limit", "timeseries_seasonality_report",
    "wf_topn_per_group",
]
# the corpus each oracled query runs on: "x10" has the sf0.1 row counts,
# "base" the sf0.01 ones
ORACLED = {
    "x10": RELATIONAL,
    "base": CURATION + [n for n in GATEWAY_STATEMENTS if n not in CURATION],
}

# batch workloads measure whole passes: at least this many, and more while
# the run's seconds last
MIN_PASSES = 2

# open-loop stream: one file every FILE_INTERVAL_S seconds of wall time,
# each holding EVENTS_PER_FILE events over EVENT_SLICE_S of event time, so
# event time runs at EVENT_SLICE_S / FILE_INTERVAL_S x wall time
FILE_INTERVAL_S = 1.0
EVENTS_PER_FILE = 100
EVENT_SLICE_S = 900
STREAM_DRAIN_TIMEOUT_S = 60.0


@dataclass
class Context:
    work: str            # corpus and scratch space
    seed: int
    seconds: float
    tracer: object
    oracles: dict
    cpus: int


@dataclass
class Result:
    setup_s: float       # CPU seconds of this process tree to set up
    metrics: dict        # end-to-end figures besides setup_s, by name
    attempted: int
    failed: int
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    measured_s: float = 0.0


# -- shared pieces ----------------------------------------------------------

def start_session(ctx: Context):
    from flink_psl_spark import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:ErrorFile={tmp}/hs_err_pid%p.log"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.tracer.enabled:
        from probes import RETAIN_ALL

        conf.update(RETAIN_ALL)
    with ctx.tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark


def spark_check(oracle_mod, expected: dict, columns, rows) -> bool:
    cols = [c.lower() for c in columns]
    if sorted(cols) != expected["columns"]:
        return False
    got = oracle_mod.rows_key([tuple(r) for r in rows], cols)
    return [list(r) for r in got] == expected["rows"]


def span_seconds(tracer, name: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)


# -- batch: relational_sf0.1 and curation_sf0.01 ------------------------------

def run_batch(ctx: Context, names: list[str], sub: str) -> Result:
    from flink_psl_spark.queries import QUERIES
    from flink_psl_spark.queries.registry import tables

    import corpus

    tracer = ctx.tracer
    oracle_mod = corpus.load_oracle_module()
    sf_dir = os.path.join(ctx.work, sub)
    rng = random.Random(ctx.seed)

    t0, setup_cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
    spark = start_session(ctx)
    with tracer.span("catalog.register"):
        tables(spark, sf_dir)
    # warm-up: every query once, one per core at a time, collecting each
    # result for the oracle check
    def collect(name):
        df = QUERIES[name](spark, sf_dir)
        return df.columns, df.collect()

    with tracer.span("session.warmup"), ThreadPoolExecutor(ctx.cpus) as pool:
        pending = {n: pool.submit(collect, n)
                   for n in rng.sample(names, len(names))}
        wait(pending.values())
    setup_wall_s = time.perf_counter() - t0
    setup_s = tree_cpu_s(os.getpid()) - setup_cpu0

    failed = 0
    mismatched = []
    for name, future in pending.items():
        try:
            cols, rows = future.result()
            ok = spark_check(oracle_mod, ctx.oracles[sub][name], cols, rows)
        except Exception as e:  # counted as a failed operation
            ok, name = False, f"{name}: {type(e).__name__}"
        if not ok:
            failed += 1
            mismatched.append(name)
    pending.clear()

    status = watch = None
    if tracer.enabled:
        from probes import MaterializeWatch, StatusReader

        status = StatusReader(spark)
        watch = MaterializeWatch(tracer)

    sc = spark.sparkContext
    latencies: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    attempted = len(names)
    groups, sql_ranges = [], []
    # per untraced pass: CPU seconds of this process tree, and CPU seconds
    # the host took from the machine's CPUs meanwhile
    pass_cpu, pass_steal = [], []

    def run_pass(traced: bool) -> float:
        """One pass over the query list in seeded order; with ``traced``
        each query runs under its own job groups, and spans and storage
        readings are kept."""
        nonlocal attempted, failed
        marker = status.executions_marker() if traced else None
        cpu0, steal0 = tree_cpu_s(os.getpid()), host_steal_s()
        p0 = time.perf_counter()
        for name in rng.sample(names, len(names)):
            rid = f"{name}#{p0:.6f}"
            attempted += 1
            q0 = time.perf_counter()
            try:
                if traced:
                    sc.setJobGroup(f"build:{rid}", rid)
                with tracer.span("queries.build", rid):
                    df = QUERIES[name](spark, sf_dir)
                if traced:
                    sc.setJobGroup(f"exec:{rid}", rid)
                    with tracer.span("plan", rid):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("execute", rid):
                    df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # a failing query is counted, not fatal
                failed += 1
                mismatched.append(f"{name}: {type(e).__name__}")
                continue
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                groups.extend([f"build:{rid}", f"exec:{rid}"])
            else:
                latencies.append(time.perf_counter() - q0)
                per_query[name].append(latencies[-1])
        if traced:
            sql_ranges.append((marker, status.executions_marker()))
            rdds, stored = status.storage()
            tracer.peak("storage.rdds_retained", rdds)
            tracer.peak("storage.bytes_retained", stored)
        elapsed = time.perf_counter() - p0
        if not traced:
            pass_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
            pass_steal.append(host_steal_s() - steal0)
        return elapsed

    # A traced run alternates untraced and traced passes: the untraced ones
    # give the run's end-to-end figures and the denominator of
    # trace.overhead, the traced ones every per-layer reading.
    kinds = (False, True) if tracer.enabled else (False,)
    passes: dict[bool, list[float]] = {k: [] for k in kinds}
    start = time.perf_counter()
    while len(passes[False]) < MIN_PASSES or (
            time.perf_counter() - start < ctx.seconds):
        for traced in kinds:
            if traced:
                passes[traced].append(run_pass(True))
            else:
                with tracer.suspended():
                    passes[traced].append(run_pass(False))
    measured = time.perf_counter() - start
    pass_times = passes[False]

    layers: dict = {}
    detail_traced: dict = {}
    if tracer.enabled:
        from probes import summarize_groups

        jobs = status.jobs(groups)
        layers.update(summarize_groups([status.spark_stats(jobs)],
                                       sum(passes[True])))
        layers["queries.build_jobs"] = sum(
            1 for j in jobs if j["jobGroup"].startswith("build:"))
        layers.update(status.operator_stats(sql_ranges))
        layers["queries.build_s"] = span_seconds(tracer, "queries.build")
        layers["plan.s"] = span_seconds(tracer, "plan")
        layers["materialize.calls"] = watch.calls
        layers["materialize.s"] = watch.seconds
        layers["trace.overhead"] = (statistics.median(passes[True])
                                    / statistics.median(pass_times))
        detail_traced = {"traced_passes_s": sum(passes[True])}
        watch.restore()
    spark.stop()
    q = summarize(latencies)
    # the typical query is the geometric mean of each query's median over
    # the passes: every query weighs the same, and no rank in a mix of fast
    # and slow queries decides it
    medians = {n: statistics.median(v) for n, v in per_query.items() if v}
    return Result(
        setup_s=setup_s,
        metrics={
            "pass_cpu_s.p50": statistics.median(pass_cpu),
        } if latencies else {},
        attempted=attempted,
        failed=failed,
        measured_s=measured,
        layers=layers,
        detail={
            "passes": len(pass_times),
            "setup_wall_s": setup_wall_s,
            "pass_s.p50": statistics.median(pass_times),
            "query_s.geomean": statistics.geometric_mean(medians.values())
            if medians else None,
            "pass_s": pass_times,
            "pass_cpu_s": pass_cpu,
            "pass_steal_s": pass_steal,
            "query_s.p50": q["p50"],
            "query_s.tail": [q["tail_pct"], q["tail"], q["n"]],
            "slowest_query_s": max(medians.values(), default=None),
            "query_s.per_query_median": medians,
            "mismatched": mismatched,
            **detail_traced,
        },
    )


def relational(ctx: Context) -> Result:
    return run_batch(ctx, RELATIONAL, "x10")


def curation(ctx: Context) -> Result:
    return run_batch(ctx, CURATION, "base")


# -- streaming_open_loop ----------------------------------------------------

class EventGenerator:
    """Writes event files into ``src`` on a fixed schedule (open loop).

    Rows are drawn by seed from the corpus' ``events`` table, so user skew
    and value distributions are the table's; each file covers the next
    EVENT_SLICE_S seconds of event time and is named with the time it was
    due, which is the origin of every latency measured from it.
    """

    def __init__(self, pool: dict, src: str, seed: int):
        import numpy as np

        self.pool = pool
        self.src = src
        self.rng = np.random.default_rng(seed)
        self.seq = 0
        self.written: list[str] = []
        self.late: list[float] = []
        self.error: BaseException | None = None
        self._thread: threading.Thread | None = None

    def write_file(self, due: float) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = EVENTS_PER_FILE
        idx = self.rng.integers(0, len(self.pool["user_id"]), n)
        base = np.datetime64("2024-01-01", "us") + np.timedelta64(
            self.seq * EVENT_SLICE_S, "s")
        offsets = self.rng.integers(0, EVENT_SLICE_S * 1_000_000, n)
        table = pa.table({
            "event_id": np.arange(self.seq * n, (self.seq + 1) * n,
                                  dtype="int64"),
            "ts": base + offsets.astype("timedelta64[us]"),
            "user_id": self.pool["user_id"][idx],
            "event_type": self.pool["event_type"][idx],
            "value": self.pool["value"][idx],
            "props": self.pool["props"][idx],
        })
        name = event_file_name(self.seq, int(due * 1e9))
        tmp = os.path.join(self.src, "." + name + ".tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.src, name))
        self.late.append(time.time() - due)
        self.written.append(name)
        self.seq += 1

    def start(self, seconds: float) -> None:
        count = max(1, int(seconds / FILE_INTERVAL_S))
        first_due = time.time() + FILE_INTERVAL_S

        def loop():
            try:
                for k in range(count):
                    due = first_due + k * FILE_INTERVAL_S
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    self.write_file(due)
            except BaseException as e:  # surfaced by join()
                self.error = e

        self._thread = threading.Thread(target=loop, name="event-gen",
                                        daemon=True)
        self._thread.start()

    def join(self) -> None:
        self._thread.join()
        if self.error is not None:
            raise self.error


def _event_pool(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                      columns=["user_id", "event_type", "value", "props"])
    return {c: t.column(c).to_numpy() for c in t.column_names}


def _stream_programs(spark, src: str):
    """The engine's live tumble aggregate, interval join and deduplication."""
    from pyspark.sql import functions as F

    from flink_psl_spark.operators.joins import interval_join
    from flink_psl_spark.streaming import (
        stream_from_parquet, streaming_dedup, streaming_tumble_agg,
    )

    def events():
        return stream_from_parquet(spark, src, ts_col="ts")

    tumble = streaming_tumble_agg(
        events(), ts_col="ts", size="1 hour", delay="10 minutes",
        group_by=["event_type"],
        aggs=[F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
    )
    clicks = events().where(F.col("event_type") == "click").withWatermark(
        "ts", "10 minutes")
    purchases = events().where(F.col("event_type") == "purchase") \
        .withWatermark("ts", "10 minutes")
    joined = interval_join(
        clicks, purchases, "user_id", "ts", "ts", "0 minutes", "10 minutes",
    ).select(F.col("__l.user_id").alias("user_id"),
             F.col("__l.event_id").alias("click_id"),
             F.col("__r.event_id").alias("purchase_id"))
    dedup = streaming_dedup(events(), ["user_id", "event_type"]).select(
        "user_id", "event_type")
    return [("pb_tumble", tumble, "append"), ("pb_join", joined, "append"),
            ("pb_dedup", dedup, "append")]


STREAM_ORACLES = {
    "pb_tumble": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
                 AS window_end,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
        FROM ev GROUP BY 1, 2, 3
        HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
               <= TIMESTAMP '{watermark}'""",
    "pb_join": """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        FROM ev c JOIN ev p ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '10' MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
    "pb_dedup": "SELECT DISTINCT user_id, event_type FROM ev",
}


def _quiesce(queries, files: set[str], ckpts: dict, timeout: float) -> None:
    """Wait until every query has committed a batch covering every file
    and has no trigger running (its watermark batch included)."""
    deadline = time.time() + timeout
    quiet = 0
    while time.time() < deadline:
        done = True
        for q in queries:
            seen = set()
            committed = commit_times(ckpts[q.name])
            for b, paths in batch_files(ckpts[q.name]).items():
                if b in committed:
                    seen |= {os.path.basename(p) for p in paths}
            st = q.status
            if (not files <= seen or st["isTriggerActive"]
                    or st["isDataAvailable"]):
                done = False
        quiet = quiet + 1 if done else 0
        if quiet >= 3:
            return
        time.sleep(0.05)
    raise TimeoutError("streams did not drain")


def streaming(ctx: Context) -> Result:
    import corpus

    tracer = ctx.tracer
    oracle_mod = corpus.load_oracle_module()
    run_dir = os.path.join(ctx.work, f"stream-{os.getpid()}")
    src = os.path.join(run_dir, "events")
    os.makedirs(src, exist_ok=True)
    gen = EventGenerator(_event_pool(os.path.join(ctx.work, "x10")), src,
                         ctx.seed)

    t0, setup_cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
    spark = start_session(ctx)
    if tracer.enabled:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    gen.write_file(time.time())  # warm-up file, read by batch 0
    with tracer.span("catalog.register"):
        programs = _stream_programs(spark, src)
    ckpts, queries = {}, []
    with tracer.span("session.warmup"):
        for name, df, mode in programs:
            ckpts[name] = os.path.join(run_dir, "ckpt", name)
            queries.append(
                df.writeStream.format("memory").queryName(name)
                .outputMode(mode).option("checkpointLocation", ckpts[name])
                .start())
        _quiesce(queries, set(gen.written), ckpts, STREAM_DRAIN_TIMEOUT_S)
    setup_wall_s = time.perf_counter() - t0
    setup_s = tree_cpu_s(os.getpid()) - setup_cpu0

    status, sql_marker = None, None
    if tracer.enabled:
        from probes import StatusReader

        status = StatusReader(spark)
        sql_marker = status.executions_marker()
    start = time.perf_counter()
    gen.start(ctx.seconds)
    gen.join()
    last_due = created_at(gen.written[-1])
    failed, mismatched = 0, []
    try:
        _quiesce(queries, set(gen.written), ckpts, STREAM_DRAIN_TIMEOUT_S)
    except TimeoutError:
        failed += 1
        mismatched.append("drain timeout")
    measured = time.perf_counter() - start

    # per query and event file: commit time of the batch that read the file
    # minus the time the file was due (batch 0 read the warm-up file)
    latencies, last_commit, backlog = [], 0.0, 0
    created = [created_at(n) for n in gen.written]
    for name in ckpts:
        commits = commit_times(ckpts[name])
        for b, paths in batch_files(ckpts[name]).items():
            if b == 0 or b not in commits or not paths:
                continue
            latencies += [commits[b] - created_at(p) for p in paths]
            last_commit = max(last_commit, commits[b])
            newest = max(created_at(p) for p in paths)
            backlog = max(backlog, sum(
                1 for c in created if newest < c <= commits[b]))
    drain_s = max(0.0, last_commit - last_due)

    progress = {q.name: q.recentProgress for q in queries}
    watermark = _last_watermark(progress["pb_tumble"])
    for q in queries:
        q.stop()

    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW ev AS SELECT * FROM '{src}/ev-*.parquet'")
    for name in ckpts:
        out = spark.table(name)
        cols, rows = out.columns, out.collect()
        expected = corpus.oracle_entry(
            oracle_mod, con, STREAM_ORACLES[name].format(watermark=watermark))
        if not expected["rows"] or not spark_check(oracle_mod, expected,
                                                   cols, rows):
            failed += 1
            mismatched.append(name)

    layers = {}
    if tracer.enabled:
        from probes import summarize_groups

        layers.update(_stream_layers(progress))
        jobs = status.jobs(str(q.runId) for q in queries)
        layers.update(summarize_groups([status.spark_stats(jobs)], measured))
        layers.update(status.operator_stats(
            [(sql_marker, status.executions_marker())]))
        layers["stream.backlog_files"] = backlog
        layers["gen.late_s"] = max(gen.late)
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)

    events = EVENTS_PER_FILE * (len(gen.written) - 1)
    ev = summarize(latencies)
    return Result(
        setup_s=setup_s,
        metrics={
            "event_latency_s.p50": ev["p50"],  # per query and file
            "drain_s": drain_s,
            "events_per_s": events / measured,
        } if latencies else {},
        attempted=len(latencies) + len(ckpts),
        failed=failed,
        measured_s=measured,
        layers=layers,
        detail={
            "event_latency_s.tail": [ev["tail_pct"], ev["tail"], ev["n"]],
            "setup_wall_s": setup_wall_s,
            "files": len(gen.written) - 1,
            "offered_events_per_s": EVENTS_PER_FILE / FILE_INTERVAL_S,
            "watermark": watermark,
            "mismatched": mismatched,
        },
    )


def _last_watermark(progress) -> str:
    marks = [p["eventTime"].get("watermark") for p in progress
             if p.get("eventTime")]
    marks = [m for m in marks if m]
    if not marks:
        return "1970-01-01 00:00:00"
    stamp = dt.datetime.strptime(max(marks), "%Y-%m-%dT%H:%M:%S.%fZ")
    return stamp.strftime("%Y-%m-%d %H:%M:%S.%f")


_PHASES = {
    "stream.trigger_s": "triggerExecution", "stream.add_batch_s": "addBatch",
    "stream.query_planning_s": "queryPlanning",
    "stream.get_batch_s": "getBatch", "stream.latest_offset_s": "latestOffset",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
}


def _stream_layers(progress: dict) -> dict:
    out = dict.fromkeys(_PHASES, 0.0)
    out.update({"stream.batches": 0, "stream.input_rows": 0,
                "stream.state_rows": 0, "stream.state_bytes": 0,
                "stream.state_commit_s": 0.0})
    for plist in progress.values():
        for p in plist:
            if p["batchId"] == 0:
                continue
            out["stream.batches"] += 1
            out["stream.input_rows"] += p.get("numInputRows", 0)
            for key, phase in _PHASES.items():
                out[key] += p.get("durationMs", {}).get(phase, 0) / 1000.0
            for op in p.get("stateOperators", []):
                out["stream.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
        last = plist[-1] if plist else {}
        for op in last.get("stateOperators", []):
            out["stream.state_rows"] += op.get("numRowsTotal", 0)
            out["stream.state_bytes"] += op.get("memoryUsedBytes", 0)
    return out


# -- gateway_closed_loop ----------------------------------------------------

def _gateway_client(base_url: str, tracer, rid_box: dict):
    from flink_psl_spark.gateway import GatewayClient

    class TracedClient(GatewayClient):
        """Times each REST call by kind and keeps result column types."""

        columns: list = []

        def _call(self, method, path, body=None):
            kind = ("submit" if path.endswith("/statements") else
                    "poll" if path.endswith("/status") else
                    "fetch" if "/result/" in path else "other")
            with tracer.span(f"gateway.{kind}", rid_box.get("rid")):
                out = super()._call(method, path, body)
            tracer.add(f"gateway.{kind}_calls")
            if kind == "fetch" and out.get("results", {}).get("columns"):
                self.columns = out["results"]["columns"]
            return out

    return TracedClient(base_url)


def _from_json(value, logical_type: str):
    t = logical_type.upper()
    if value is None:
        return None
    if t.startswith("DECIMAL"):
        return float(value)
    if t.startswith("TIMESTAMP"):
        return dt.datetime.fromisoformat(value)
    if t == "DATE":
        return dt.date.fromisoformat(value)
    return value


def gateway(ctx: Context) -> Result:
    from flink_psl_spark.gateway import SqlGateway
    from flink_psl_spark.queries import ORACLES
    from flink_psl_spark.queries.registry import tables

    import corpus

    tracer = ctx.tracer
    oracle_mod = corpus.load_oracle_module()
    sf_dir = os.path.join(ctx.work, "base")

    t0, setup_cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
    spark = start_session(ctx)
    with tracer.span("catalog.register"):
        tables(spark, sf_dir)
    server = SqlGateway(spark).start()
    results: list[tuple[str, list, list]] = []

    def run_statement(client, handle, name) -> tuple[float, str]:
        q0 = time.perf_counter()
        op = client.execute(handle, ORACLES[name])
        cols, rows = client.fetch_all(handle, op)
        elapsed = time.perf_counter() - q0
        types = [c["logicalType"]["type"] for c in client.columns]
        results.append((name, cols, [
            tuple(_from_json(v, t) for v, t in zip(r, types)) for r in rows]))
        client._call("DELETE", f"/sessions/{handle}/operations/{op}/close")
        return elapsed, op

    def warm_up(names) -> None:
        client = _gateway_client(server.url, tracer, {})
        handle = client.open_session()
        for name in names:
            run_statement(client, handle, name)
        client.close_session(handle)

    # warm-up: every statement once, one client per core
    with tracer.span("session.warmup"), ThreadPoolExecutor(ctx.cpus) as pool:
        warm = [pool.submit(warm_up, GATEWAY_STATEMENTS[i::ctx.cpus])
                for i in range(ctx.cpus)]
        for future in warm:
            future.result()
    setup_wall_s = time.perf_counter() - t0
    setup_s = tree_cpu_s(os.getpid()) - setup_cpu0

    status = None
    if tracer.enabled:
        from probes import StatusReader

        status = StatusReader(spark)
        sql_marker = status.executions_marker()

    latencies, ops, errors = [], [], []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + ctx.seconds

    def client_loop(i: int) -> None:
        rng = random.Random(ctx.seed * 1000 + i)
        box = {}
        client = _gateway_client(server.url, tracer, box)
        handle = client.open_session()
        while time.perf_counter() < deadline:
            name = rng.choice(GATEWAY_STATEMENTS)
            box["rid"] = f"c{i}-{len(ops)}"
            try:
                elapsed, op = run_statement(client, handle, name)
            except Exception as e:  # counted as a failed statement
                with lock:
                    errors.append(f"{name}: {e}")
                continue
            with lock:
                latencies.append(elapsed)
                ops.append(op)
        client.close_session(handle)

    threads = [threading.Thread(target=client_loop, args=(i,),
                                name=f"gw-client-{i}")
               for i in range(ctx.cpus)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    measured = time.perf_counter() - start

    failed = len(errors)
    mismatched = list(errors)
    for name, cols, rows in results:
        if not spark_check(oracle_mod, ctx.oracles["base"][name], cols, rows):
            failed += 1
            mismatched.append(name)

    layers = {}
    if tracer.enabled:
        from flink_psl_spark.temporal_sql import rewrite_flink_sql
        from harness import union_seconds
        from probes import job_span, summarize_groups

        jobs = status.jobs(ops)
        layers.update(summarize_groups([status.spark_stats(jobs)], measured))
        spans = defaultdict(list)
        for j in jobs:
            if job_span(j):
                spans[j["jobGroup"]].append(job_span(j))
        layers["gateway.spark_s"] = sum(union_seconds(s)
                                        for s in spans.values())
        layers.update(status.operator_stats(
            [(sql_marker, status.executions_marker())]))
        for kind in ("submit", "poll", "fetch"):
            layers[f"gateway.{kind}_s"] = span_seconds(tracer,
                                                       f"gateway.{kind}")
        layers["gateway.wait_s"] = layers.pop("gateway.poll_s")
        layers["gateway.polls"] = tracer.counters.get("gateway.poll_calls", 0)
        layers["gateway.pages"] = tracer.counters.get("gateway.fetch_calls", 0)
        # Catalyst planning of each statement text, timed once from outside
        plan_s = 0.0
        for name in GATEWAY_STATEMENTS:
            df = spark.sql(rewrite_flink_sql(ORACLES[name]))
            p0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan_s += time.perf_counter() - p0
        layers["plan.s"] = plan_s
    server.stop()
    spark.stop()

    s = summarize(latencies)
    return Result(
        setup_s=setup_s,
        metrics={
            "stmt_latency_s.p50": s["p50"],
            "stmts_per_s": len(latencies) / measured,
        } if latencies else {},
        attempted=len(results) + len(errors),
        failed=failed,
        measured_s=measured,
        layers=layers,
        detail={
            "stmt_latency_s.tail": [s["tail_pct"], s["tail"], s["n"]],
            "setup_wall_s": setup_wall_s,
            "clients": ctx.cpus,
            "mismatched": mismatched,
        },
    )


WORKLOADS = {
    "relational_sf0.1": relational,
    "curation_sf0.01": curation,
    "streaming_open_loop": streaming,
    "gateway_closed_loop": gateway,
}
