"""Core streaming constructions.

``stream_from_parquet`` replays a bounded parquet table as a file-source
stream (the standard way to drive deterministic streaming tests — reference
ITCases do the same with bounded collections). ``run_to_memory_table``
executes a streaming DataFrame to completion with Trigger.AvailableNow and
returns the materialized result — bounded replay of the unbounded program.
"""

from __future__ import annotations

import os
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_from_parquet(
    spark: SparkSession,
    path: str,
    *,
    ts_col: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open a parquet file (or dir) as a streaming source with its batch schema.

    Spark's file stream source requires a *directory*; a single-file path is
    exposed through a symlinked temp dir. Applies the same ns→µs timestamp
    normalization as the batch catalog when ``ts_col`` arrives as raw nanos
    (see catalog.load_table).
    """
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="fps_stream_src_")
        os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
        path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if ts_col:
        ts_type = dict(df.dtypes).get(ts_col)
        if ts_type == "bigint":
            df = df.withColumn(
                ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # watermarks require TIMESTAMP (with local tz); session tz is
            # pinned UTC so the cast is value-preserving (see catalog.load_table)
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


# Executed plans of the last micro-batch of each completed replay, appended
# by run_to_memory_table — the streaming analogue of df.queryExecution for
# the plan-audit gate (scripts/plan_audit.py): a replay's RETURNED DataFrame
# is only the memory-sink scan, so the distributed plan evidence lives here.
# Bounded ring (newest last) so long sessions don't accumulate plan text.
STREAM_PLANS: list[str] = []
_STREAM_PLANS_MAX = 256

# held while run_to_memory_table's pins are on the caller's session
_START_LOCK = threading.Lock()


def _capture_stream_plan(q) -> None:
    """Record the last micro-batch's executed plan (best-effort: a stream
    that saw zero batches has no lastExecution)."""
    try:
        # StreamingQueryWrapper -> MicroBatchExecution -> IncrementalExecution
        ex = q._jsq.streamingQuery().lastExecution()
        if ex is not None:
            STREAM_PLANS.append(ex.executedPlan().toString())
            del STREAM_PLANS[:-_STREAM_PLANS_MAX]
    except Exception:
        pass


def run_to_memory_table(
    stream_df: DataFrame,
    *,
    output_mode: str = "append",
    timeout_sec: int = 300,
    shuffle_partitions: int | None = None,
    final_nodata_batch: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return the materialized batch DataFrame.

    Checkpoints go to a throwaway temp dir — callers running production
    pipelines should use ``writeStream`` directly with a durable location.

    State store: a bounded replay's state is small by construction, so the
    heap (HDFSBacked) provider is used for the run — measured ~2× faster
    than RocksDB at this state size. Long-running jobs whose state outgrows
    executor heap keep the session default (RocksDB, session.py).

    The provider, and the partition count and no-data-batch flag below,
    are pinned for the query only. Spark copies the session conf into a
    streaming query when ``start()`` builds it, so they are set on the
    caller's session just around ``start()`` (under a module lock) and put
    back before the replay runs. The caller's session keeps reading its
    own values while the replay runs.

    State partitioning: stateful streaming pays a per-partition, per-batch
    state commit; unlike batch (AQE) nothing resizes streaming shuffles to
    the workload, so the replay pins a small partition count (default
    8 — measured 2.6× on the interval join vs 32). ``shuffle_partitions``
    overrides per query: JVM-native state-heavy replays (stream-stream
    joins) measure another ~30% faster and less variable at 4, while
    Python-stateful operators (applyInPandasWithState) want the worker
    parallelism of 8 — so the knob is per-call, not global. Production
    pipelines size shuffle partitions to their cluster before starting
    the query (the count is then fixed by the checkpoint).

    ``final_nodata_batch=False`` skips the trailing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``) — that batch
    exists only to advance the watermark and flush watermark-GATED
    output, so it is pure overhead (~1 s of per-batch machinery at
    replay scale, measured 2.8 -> 1.7 s on the interval join) for
    programs whose every result is emitted eagerly on arrival: inner
    stream-stream joins, complete-mode aggregations (full state re-emit
    per batch), and update-mode stateful ops with NoTimeout. Leave it
    True (default) for anything watermark-gated: append-mode window
    aggregations/dedup, outer/semi/anti join NULL-side emission,
    event-time sort, and EventTimeTimeout timers.
    """
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(tempfile.mkdtemp(prefix="fps_ckpt_"), name)
    pinned = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        ),
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 8),
    }
    if not final_nodata_batch:
        pinned["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    # the lock keeps overlapping starts from reading each other's pins as
    # the caller's own values
    with _START_LOCK:
        prev = {key: spark.conf.get(key, None) for key in pinned}
        for key, value in pinned.items():
            spark.conf.set(key, value)
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            for key, value in prev.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(f"streaming query {name} exceeded {timeout_sec}s")
    finally:
        _capture_stream_plan(q)
        if q.isActive:
            q.stop()
    return spark.table(name)


def streaming_tumble_agg(
    events: DataFrame,
    *,
    ts_col: str,
    size: str,
    delay: str,
    group_by: list[str],
    aggs: list,
) -> DataFrame:
    """Watermarked tumbling-window aggregation (reference: window TVF agg,
    StreamExecWindowAggregate.java:86).

    Emits (window_start, window_end, keys, aggs). Append-mode-safe: results
    finalize when the watermark passes window end.
    """
    agged = (
        events.withWatermark(ts_col, delay)
        .groupBy(F.window(F.col(ts_col), size), *group_by)
        .agg(*aggs)
    )
    rest = [c for c in agged.columns if c != "window"]
    return agged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *rest,
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    *,
    ts_col: str | None = None,
    delay: str | None = None,
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming keep-first deduplication (reference:
    StreamExecDeduplicate.java:85, keep-first variants).

    ``within_watermark=True`` bounds state by the watermark
    (dropDuplicatesWithinWatermark) — the production configuration: state
    for a key is dropped once the watermark passes, exactly the reference's
    idle-state retention (table.exec.state.ttl).
    """
    df = events
    if ts_col and delay:
        df = df.withWatermark(ts_col, delay)
    if within_watermark:
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def late_data_split(
    events: DataFrame,
    ts_col: str,
    delay: str,
    writer: "Callable[[DataFrame, DataFrame, int], None]",
    *,
    checkpoint: str,
):
    """Late-data side channel (reference WindowedStream.sideOutputLateData:
    124 — SURVEY §2.9 'Late data': Spark silently drops late rows, so the
    capture happens BEFORE the watermark, in foreachBatch).

    Tracks the running max event time across batches (the watermark's
    input); rows arriving after ``max_seen - delay`` has passed their
    timestamp are routed late. ``writer(on_time_df, late_df, batch_id)``
    receives both partitions of every batch. The main pipeline should
    consume ``on_time_df`` with its own ``withWatermark`` as usual.
    """
    from pyspark.sql import functions as FF

    delay_expr = f"INTERVAL {delay}"
    state = {"max_ts": None}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            cutoff = state["max_ts"]
            if cutoff is not None:
                late = batch.where(
                    FF.col(ts_col) < FF.lit(cutoff) - FF.expr(delay_expr)
                )
                on_time = batch.where(
                    ~(FF.col(ts_col) < FF.lit(cutoff) - FF.expr(delay_expr))
                )
            else:
                late = batch.limit(0)
                on_time = batch
            writer(on_time, late, batch_id)
            mx = batch.agg(FF.max(ts_col)).first()[0]
            if mx is not None and (cutoff is None or mx > cutoff):
                state["max_ts"] = mx
        finally:
            batch.unpersist()

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str | tuple[str, str] | None,
    *,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    left_delay: str,
    right_delay: str,
    how: str = "inner",
    key_cond: tuple[str, str] | None = None,
) -> DataFrame:
    """Stream-stream interval join (reference: StreamExecIntervalJoin.java:82).

    Native in Spark: both sides watermarked, range condition bounds state —
    the engine purges rows once they can no longer match (same cleanup the
    reference drives from watermarks in TimeIntervalJoin.java).

    ``on`` is a column name shared by both sides, or a (left_col, right_col)
    pair when the key columns are named differently (``key_cond`` is an
    alias for the pair form).
    """
    l = left.withWatermark(left_ts, left_delay).alias("l")
    r = right.withWatermark(right_ts, right_delay).alias("r")
    cond = (
        (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    pair = key_cond or (on if isinstance(on, tuple) else None)
    if pair is not None:
        cond = cond & (F.col(f"l.{pair[0]}") == F.col(f"r.{pair[1]}"))
    elif on is not None:
        cond = cond & (F.col(f"l.{on}") == F.col(f"r.{on}"))
    return l.join(r, cond, how)


def streaming_iterate(
    spark: SparkSession,
    source: DataFrame,
    body,
    feedback: str,
    *,
    schema: str,
    work_dir: str | None = None,
    trigger_seconds: float = 0.5,
):
    """UNBOUNDED streaming iteration (reference DataStream.iterate:530 /
    IterativeStream.closeWith — the cyclic streaming dataflow Spark's DAG
    cannot express directly).

    The loop edge is realized as a filesystem feedback channel: the query
    reads ``source`` UNION a feedback file stream; each micro-batch applies
    ``body`` (DataFrame -> DataFrame, same ``schema``), splits the result on
    the ``feedback`` predicate — matching rows are appended to the feedback
    directory (re-entering the loop on a later trigger), the rest append to
    the output directory. This is Flink's iterate semantics with the loop
    latency quantized to the trigger interval.

    Failure semantics: rows in flight on the feedback edge are durable
    files, so a restart never LOSES them (the reference documents possible
    feedback-record loss on failure); a batch replayed after a crash can
    however re-append its feedback/output — at-least-once on the loop
    edge. Loop bodies needing exactly-once should emit idempotent keys and
    dedup at the sink (the standard foreachBatch discipline).

    Returns (query, handle) where ``handle.output()`` reads the emitted
    rows and ``handle.drained(idle_triggers)`` polls completion for bounded
    inputs (production loops run forever; this is for tests/draining).
    """
    import glob
    import time as _time

    base = work_dir or tempfile.mkdtemp(prefix="fps_iter_")
    fb_dir = os.path.join(base, "feedback")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(fb_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    fb_expr = F.expr(feedback)

    fb_stream = spark.readStream.schema(schema).parquet(fb_dir)
    combined = source.unionByName(fb_stream)

    state = {"emitted": 0, "fed_back": 0}

    def process(batch: DataFrame, batch_id: int) -> None:
        stepped = body(batch)
        stepped.persist()
        try:
            fb = stepped.where(fb_expr)
            out = stepped.where(~fb_expr)
            n_fb = fb.count()
            n_out = out.count()
            if n_fb:
                fb.write.mode("append").parquet(fb_dir)
            if n_out:
                out.write.mode("append").parquet(out_dir)
            state["fed_back"] += n_fb
            state["emitted"] += n_out
        finally:
            stepped.unpersist()

    query = (
        combined.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )

    class Handle:
        def output(self) -> DataFrame:
            files = glob.glob(os.path.join(out_dir, "*.parquet"))
            if not files:
                return spark.createDataFrame([], schema)
            return spark.read.schema(schema).parquet(out_dir)

        def drain(self, *, timeout_sec: float = 120.0) -> DataFrame:
            """Wait until the loop is quiescent — the engine has processed
            several consecutive batches with zero input rows (all feedback
            consumed) and the emit counters stopped moving — then stop the
            query and return the emitted rows. For bounded test inputs only.
            Quiescence is judged on lastProgress batch evidence, not wall
            time, so a slow first batch can't fake an early drain."""
            deadline = _time.time() + timeout_sec
            last_counts = None
            stable = 0
            need = max(5, int(3.0 / trigger_seconds))
            while _time.time() < deadline:
                if not query.isActive:
                    if query.exception() is not None:
                        raise query.exception()
                    break
                p = query.lastProgress
                st = query.status
                counts = (state["emitted"], state["fed_back"])
                if counts != last_counts:
                    stable, last_counts = 0, counts
                elif (
                    p is not None  # at least one batch has run
                    and not st["isTriggerActive"]  # none running right now
                    and not st["isDataAvailable"]  # nothing waiting
                ):
                    stable += 1
                    if stable >= need:
                        break
                _time.sleep(trigger_seconds)
            else:
                query.stop()
                raise TimeoutError("streaming_iterate did not drain")
            query.stop()
            return self.output()

    return query, Handle()


def multi_source_watermarks(
    sources: dict[str, DataFrame],
    ts_col: str,
    delay: str,
    writer,
    *,
    idle_batches: int | None = None,
    checkpoint: str | None = None,
    trigger_available_now: bool = False,
):
    """Per-source watermark combination with idleness (reference
    WatermarkStrategy.withIdleness / WatermarksWithIdleness.java; combined
    watermark = MIN over ACTIVE sources, IndexedCombinedWatermarkStatus).

    Spark computes ONE global watermark for a union (max event time seen
    anywhere − delay): a stalled source never holds the watermark back, the
    opposite failure mode of the reference's min-combine, where an idle
    source stalls all progress unless marked idle. For pipelines that need
    the reference semantics (manual window finalization, cross-source
    completeness gates), this operator reproduces them at the library
    level: per micro-batch it tracks each source's max event time, marks a
    source idle after ``idle_batches`` consecutive batches without rows
    (None = never, the reference's default), and calls
    ``writer(batch_df, combined_wm, per_source, batch_id)`` where
    ``combined_wm`` is min over active sources' (max_ts − delay) — None
    until every non-idle source has produced data, and frozen at its last
    value while ALL sources are idle (the reference holds the watermark in
    that state too).
    """
    tagged = None
    for name, df in sources.items():
        part = df.withColumn("__src", F.lit(name))
        tagged = part if tagged is None else tagged.unionByName(part)

    # driver-side per-source status (the combiner state is tiny: one
    # (max_ts, idle_count) pair per source, exactly the reference's
    # IndexedCombinedWatermarkStatus)
    status = {
        name: {"max_ts": None, "no_data": 0} for name in sources
    }
    last_wm = {"wm": None}

    def process(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            per_src = {
                r["__src"]: r["mx"]
                for r in batch.groupBy("__src").agg(
                    F.max(ts_col).alias("mx")
                ).collect()
            }
            for name, st in status.items():
                mx = per_src.get(name)
                if mx is None:
                    st["no_data"] += 1
                else:
                    st["no_data"] = 0
                    if st["max_ts"] is None or mx > st["max_ts"]:
                        st["max_ts"] = mx
            def active(st):
                return idle_batches is None or st["no_data"] < idle_batches
            actives = [st for st in status.values() if active(st)]
            if actives and all(st["max_ts"] is not None for st in actives):
                import datetime as _dt

                secs = _parse_interval_seconds(delay)
                wm = min(st["max_ts"] for st in actives) - _dt.timedelta(
                    seconds=secs
                )
                if last_wm["wm"] is None or wm > last_wm["wm"]:
                    last_wm["wm"] = wm  # watermarks never regress
            snapshot = {
                name: {
                    "max_ts": st["max_ts"],
                    "idle": not active(st),
                }
                for name, st in status.items()
            }
            writer(batch.drop("__src"), last_wm["wm"], snapshot, batch_id)
        finally:
            batch.unpersist()

    w = tagged.writeStream.foreachBatch(process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _parse_interval_seconds(delay: str) -> float:
    """'10 seconds' / '5 minutes' / '2 hours' / '1 day' -> seconds."""
    qty, unit = delay.split()
    mult = {
        "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
        "millisecond": 0.001, "milliseconds": 0.001,
    }[unit.lower()]
    return float(qty) * mult
