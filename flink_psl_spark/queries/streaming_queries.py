"""Streaming query inventory (SURVEY §2.9 / M2).

Each query replays the bounded events table as a file-source stream
(Trigger.AvailableNow), runs a watermarked Structured Streaming program to
completion, and returns the materialized result — so the driver's batch
oracle can check streaming semantics end-to-end.

Modes: aggregations run in complete mode (final state == batch result);
dedup/joins run in append mode (their streaming output is already
append-only and equals the batch equivalent once the stream drains).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_psl_spark.queries.registry import query, tables
from flink_psl_spark.streaming import (
    run_to_memory_table,
    stream_from_parquet,
    streaming_dedup,
    streaming_tumble_agg,
)


def _events_stream(spark, sf_dir):
    return stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")


@query(
    "stream_tumble_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_tumble_agg(spark, sf_dir):
    """Watermarked tumbling-window streaming aggregation (reference
    StreamExecWindowAggregate.java:86) replayed to completion."""
    ev = _events_stream(spark, sf_dir)
    agg = streaming_tumble_agg(
        ev,
        ts_col="ts",
        size="1 hour",
        delay="10 minutes",
        group_by=["event_type"],
        aggs=[F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
    )
    # JVM-native windowed state: 4 partitions measured ~30% faster than 8
    # at sf0.1 (same per-partition state-commit argument as the interval join).
    # complete mode re-emits full state every batch, so the trailing
    # no-data batch adds nothing — skip it (run_to_memory_table note)
    return run_to_memory_table(
        agg,
        output_mode="complete",
        shuffle_partitions=4,
        final_nodata_batch=False,
    )


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark, sf_dir):
    """Streaming dropDuplicates on (user_id, event_type) (reference
    StreamExecDeduplicate.java:85) — emits each key once."""
    ev = _events_stream(spark, sf_dir)
    out = streaming_dedup(ev, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_memory_table(out, output_mode="append")


@query(
    "stream_interval_join",
    oracle="""
    SELECT e1.user_id, e1.event_id AS click_id, e2.event_id AS purchase_id
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL '10' MINUTE
    WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
    """,
)
def stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (reference StreamExecIntervalJoin.java:82):
    native watermarked join; state bounded by the range condition."""
    clicks = _events_stream(spark, sf_dir).where(F.col("event_type") == "click")
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    # distinct column names keep the two-stream join unambiguous
    l = clicks.withWatermark("ts", "10 minutes")
    r = purchases.withWatermark("p_ts", "10 minutes")
    joined = l.join(
        r,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("user_id", F.col("event_id").alias("click_id"), "purchase_id")
    # JVM-native two-sided state: 4 partitions measured ~30% faster and
    # less variable than 8 at sf0.1 (per-partition state commit dominates).
    # inner join output is emitted eagerly on match — the trailing
    # no-data batch only evicts state, so skip it (2.8 -> 1.7 s)
    return run_to_memory_table(
        joined,
        output_mode="append",
        shuffle_partitions=4,
        final_nodata_batch=False,
    )


@query(
    "stream_hop_agg",
    oracle="""
    SELECT ws AS window_start, ws + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events,
         UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS t(ws)
    WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
    GROUP BY 1, 2
    """,
)
def stream_hop_agg(spark, sf_dir):
    """Watermarked HOP (sliding) window streaming agg (reference
    StreamExecWindowAggregate with HOP slices)."""
    ev = _events_stream(spark, sf_dir)
    agged = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
            "total",
        )
    )
    return run_to_memory_table(agged, output_mode="complete")


@query(
    "stream_session_agg",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM sessions GROUP BY user_id, sess_id
    """,
)
def stream_session_agg(spark, sf_dir):
    """Watermarked SESSION window streaming agg (reference
    EventTimeSessionWindows / session merging)."""
    ev = _events_stream(spark, sf_dir)
    agged = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n",
            "total",
        )
    )
    return run_to_memory_table(agged, output_mode="complete")


@query(
    "stream_cumulate_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '2 hours', ts) AS window_start,
           we AS window_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events,
         UNNEST(generate_series(
             time_bucket(INTERVAL '30 minutes', ts) + INTERVAL '30 minutes',
             time_bucket(INTERVAL '2 hours', ts) + INTERVAL '2 hours',
             INTERVAL '30 minutes')) AS t(we)
    GROUP BY 1, 2
    """,
)
def stream_cumulate_agg(spark, sf_dir):
    """Streaming CUMULATE windows (reference SqlCumulateTableFunction /
    sliced window agg): the row-local slice explode composes directly with
    a watermarked streaming aggregation — the same operator tree as batch,
    executed incrementally."""
    from flink_psl_spark.operators import cumulate

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agged = (
        cumulate(ev, "ts", "30 minutes", "2 hours")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    return run_to_memory_table(agged, output_mode="complete")


@query(
    "stream_lookup_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, c.c_acctbal AS bal
    FROM events e JOIN customer c ON e.user_id % 100 = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_lookup_join(spark, sf_dir):
    """Lookup join (reference StreamExecLookupJoin.java:56): stream-static
    join — Spark re-plans the static side each micro-batch, the exact
    semantics of a per-row lookup with table refresh."""
    from flink_psl_spark.catalog import load_table

    ev = _events_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    dim = load_table(spark, sf_dir, "customer")
    joined = ev.join(
        F.broadcast(dim), ev["user_id"] % 100 == dim["c_custkey"]
    ).select(
        "event_id", "user_id",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
    )
    return run_to_memory_table(joined, output_mode="append")


@query(
    "stream_window_topn",
    oracle="""
    SELECT window_start, user_id, total, CAST(rn AS INTEGER) AS rn FROM (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id,
             ROUND(SUM(value), 2) AS total,
             ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY ROUND(SUM(value), 2) DESC, user_id) AS rn
      FROM events GROUP BY 1, 2) t
    WHERE rn <= 3
    """,
)
def stream_window_topn(spark, sf_dir):
    """Window Top-N (reference StreamExecWindowRank.java:77): per-window
    per-user totals from a watermarked streaming agg, ranked after the
    windows finalize — the append-mode two-stage pattern."""
    from flink_psl_spark.operators import top_n

    ev = _events_stream(spark, sf_dir)
    agged = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("window.start").alias("window_start"), "user_id", "total")
    )
    # complete mode: bounded replay must also emit the windows whose end is
    # past the final watermark (append would withhold the stream's tail)
    finalized = run_to_memory_table(agged, output_mode="complete")
    return top_n(
        finalized,
        "window_start",
        [F.col("total").desc(), F.col("user_id")],
        3,
        rank_col="rn",
    ).select("window_start", "user_id", "total", "rn")


@query(
    "stream_count_window",
    oracle="""
    WITH numbered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
      FROM events)
    SELECT user_id,
           rn // 5 AS window_seq,
           CAST(COUNT(*) AS INT) AS n,
           ROUND(SUM(value), 3) AS sum_v,
           ROUND(MIN(value), 3) AS min_v,
           ROUND(MAX(value), 3) AS max_v
    FROM numbered
    GROUP BY user_id, rn // 5
    HAVING COUNT(*) = 5
    """,
)
def stream_count_window(spark, sf_dir):
    """Count tumbling window, size 5 (reference KeyedStream.countWindow —
    no Spark primitive; applyInPandasWithState op). Bounded single-batch
    replay makes the processing order the event-time order, so the batch
    oracle (complete groups of 5 per user) is exact."""
    from flink_psl_spark.streaming import keyed_count_window

    ev = _events_stream(spark, sf_dir)
    out = keyed_count_window(ev, "user_id", "ts", "value", 5)
    mem = run_to_memory_table(out, output_mode="append")
    return mem.select(
        "user_id", "window_seq", "n",
        F.round("sum_v", 3).alias("sum_v"),
        F.round("min_v", 3).alias("min_v"),
        F.round("max_v", 3).alias("max_v"),
    )


@query(
    "stream_rows_over",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER w, 3) AS run_sum,
           ROUND(AVG(value) OVER w, 3) AS run_avg,
           CAST(COUNT(*) OVER w AS INT) AS run_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def stream_rows_over(spark, sf_dir):
    """Streaming OVER aggregate, ROWS 2 PRECEDING (reference
    StreamExecOverAggregate.java:91 — no Spark streaming OVER; stateful
    bounded-buffer op)."""
    from flink_psl_spark.streaming import streaming_rows_over

    ev = _events_stream(spark, sf_dir)
    out = streaming_rows_over(
        ev, "user_id", "ts", "value", 2, payload_cols=["event_id"]
    )
    mem = run_to_memory_table(out, output_mode="append")
    return mem.select(
        "user_id", "event_id",
        F.round("run_sum", 3).alias("run_sum"),
        F.round("run_avg", 3).alias("run_avg"),
        "run_cnt",
    )


@query(
    "stream_interval_join_outer",
    oracle="""
    SELECT e1.user_id, e1.event_id AS click_id, e2.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') e1
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') e2
      ON e1.user_id = e2.user_id
     AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL '10' MINUTE
    """,
)
def stream_interval_join_outer(spark, sf_dir):
    """LEFT OUTER stream-stream interval join (reference StreamExecJoin /
    StreamExecIntervalJoin outer variants): null-padded results emit once
    the watermark proves no match can arrive. A far-future sentinel pair
    advances the final watermark so every pending left row resolves."""
    import datetime as dt
    import tempfile

    ev = load_events = None  # noqa: F841 (clarity below)
    from flink_psl_spark.catalog import load_table

    base = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    far = base.select(F.max("ts")).first()[0] + dt.timedelta(days=30)
    d = tempfile.mkdtemp(prefix="fps_oij_")
    base.coalesce(4).write.parquet(f"{d}/src")
    spark.createDataFrame(
        [(-1, -1, "click", far), (-2, -1, "purchase", far)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(f"{d}/src")

    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 5)
            .parquet(f"{d}/src")
        )

    clicks = (
        src()
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), "ts")
        .withWatermark("ts", "10 minutes")
    )
    purchases = (
        src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    ).select("user_id", "click_id", "purchase_id")
    mem = run_to_memory_table(joined, output_mode="append")
    return mem.where(F.col("click_id") >= 0)


@query(
    "stream_semi_join",
    oracle="""
    SELECT c.event_id, c.user_id
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase'
                    AND p.user_id = c.user_id
                    AND p.ts >= c.ts
                    AND p.ts <= c.ts + INTERVAL '10' MINUTE)
    """,
)
def stream_semi_join(spark, sf_dir):
    """Stream-stream LEFT SEMI join (reference
    StreamingSemiAntiJoinOperator.java:34): clicks with a purchase within
    10 minutes — emitted once per click, no right-side columns."""
    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "10 minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_semi",
    ).select("event_id", "user_id")
    return run_to_memory_table(joined, output_mode="append")


@query(
    "stream_anti_join",
    oracle="""
    SELECT c.event_id, c.user_id
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (SELECT 1 FROM events p
                      WHERE p.event_type = 'purchase'
                        AND p.user_id = c.user_id
                        AND p.ts >= c.ts
                        AND p.ts <= c.ts + INTERVAL '10' MINUTE)
    """,
)
def stream_anti_join(spark, sf_dir):
    """Stream-stream ANTI join (reference StreamingSemiAntiJoinOperator NOT
    EXISTS side). Spark has no streaming left_anti — the standard
    construction is LEFT OUTER + IS NULL filter: a click is anti-joined
    exactly when the watermark proves no purchase can arrive. Sentinel rows
    advance the final watermark in bounded replay."""
    import datetime as dt
    import tempfile

    from flink_psl_spark.catalog import load_table

    base = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    far = base.select(F.max("ts")).first()[0] + dt.timedelta(days=30)
    d = tempfile.mkdtemp(prefix="fps_aj_")
    base.coalesce(4).write.parquet(f"{d}/src")
    spark.createDataFrame(
        [(-1, -1, "click", far), (-2, -1, "purchase", far)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(f"{d}/src")

    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 5)
            .parquet(f"{d}/src")
        )

    clicks = (
        src().where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), "ts")
        .withWatermark("ts", "10 minutes")
    )
    purchases = (
        src().where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    mem = run_to_memory_table(
        joined.select("user_id", "click_id", "purchase_id"), output_mode="append"
    )
    return (
        mem.where(F.col("purchase_id").isNull() & (F.col("click_id") >= 0))
        .select(F.col("click_id").alias("event_id"), "user_id")
    )


@query(
    "stream_running_agg",
    oracle="""
    SELECT user_id, COUNT(*) AS cnt, ROUND(SUM(value), 3) AS total,
           ROUND(MIN(value), 3) AS min_v, ROUND(MAX(value), 3) AS max_v
    FROM events GROUP BY user_id
    """,
)
def stream_running_agg(spark, sf_dir):
    """Streaming group aggregation as an update stream via
    keyed_running_agg's GroupState fold with expire-on-read TTL (reference
    StreamExecGroupAggregate + table.exec.state.ttl). The 1-hour TTL never
    expires during a replay, so the latest update per key equals the
    batch aggregate."""
    from flink_psl_spark.operators import deduplicate
    from flink_psl_spark.streaming import keyed_running_agg

    ev = _events_stream(spark, sf_dir)
    updates = keyed_running_agg(ev, "user_id", "value", ttl_ms=3_600_000)
    mem = run_to_memory_table(updates, output_mode="update")
    latest = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["user_id"],
        ["cnt", "__seq"],
        keep="last",
    )
    return latest.select(
        "user_id", "cnt",
        F.round("total", 3).alias("total"),
        F.round("min_v", 3).alias("min_v"),
        F.round("max_v", 3).alias("max_v"),
    )


@query(
    "stream_asof_enrich",
    oracle="""
    SELECT p.event_id, p.user_id, c.event_id AS last_click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def stream_asof_enrich(spark, sf_dir):
    """Streaming temporal/as-of enrichment (reference
    StreamExecTemporalJoin FOR SYSTEM_TIME AS OF): each purchase in the
    stream joins the latest prior click from the versioned (static) side —
    the stream-static point-in-time lookup pattern, executed per
    micro-batch with our batch as-of operator inside foreachBatch
    semantics (run via mapping over the micro-batch)."""
    from flink_psl_spark.catalog import load_table
    from flink_psl_spark.operators import asof_join

    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    clicks = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
    )

    import tempfile
    import uuid

    name = f"asof_{uuid.uuid4().hex[:10]}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    def apply_batch(batch, batch_id):
        out = asof_join(
            batch, clicks, on="user_id", left_time="ts", right_time="ts",
            how="left", right_prefix="r_",
        ).select("event_id", "user_id", F.col("r_click_id").alias("last_click_id"))
        out.write.mode("append").saveAsTable(name)

    ckpt = tempfile.mkdtemp(prefix="fps_asof_ckpt_")
    q = (
        purchases.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@query(
    "stream_keyed_top3",
    # event_id tie-break makes the top-3 a total order, so the final state
    # compares exactly against the batch ROW_NUMBER formulation
    oracle="""
    SELECT user_id, CAST(rn AS INT) AS rank, value, event_id FROM (
      SELECT user_id, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM events) t
    WHERE rn <= 3
    """,
)
def stream_keyed_top3(spark, sf_dir):
    """Streaming Top-N via applyInPandasWithState (reference
    StreamExecRank.java:83, AppendOnlyTopNFunction.java:52): per-user top-3
    values as an update stream; final state equals the batch Top-N."""
    from flink_psl_spark.streaming import keyed_top_n
    from flink_psl_spark.operators import deduplicate

    ev = _events_stream(spark, sf_dir)
    updates = keyed_top_n(
        ev, "user_id", "value", 3, payload_cols=["event_id"],
        descending=True, tiebreak_cols=["event_id"],
    )
    # update-mode emission on arrival, NoTimeout state — the trailing
    # no-data batch contributes nothing; skip it
    mem = run_to_memory_table(
        updates, output_mode="update", final_nodata_batch=False
    )
    # the memory sink accumulates every update; the operator's contract is
    # "latest emission per key wins" — materialize that view
    return deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["user_id", "rank"],
        ["__seq"],
        keep="last",
    ).select("user_id", "rank", "value", "event_id")

@query(
    "stream_range_over",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER w, 3) AS run_sum,
           ROUND(AVG(value) OVER w, 3) AS run_avg,
           CAST(COUNT(*) OVER w AS INT) AS run_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '10 minutes' PRECEDING
                           AND CURRENT ROW)
    """,
)
def stream_range_over(spark, sf_dir):
    """Streaming OVER aggregate, RANGE 10-minute PRECEDING (reference
    RowTimeRangeBoundedPrecedingFunction.java:55 — time-based frame with
    peer rows; stateful trailing-interval buffer)."""
    from flink_psl_spark.streaming import streaming_range_over

    ev = _events_stream(spark, sf_dir)
    out = streaming_range_over(
        ev, "user_id", "ts", "value", "10 minutes", payload_cols=["event_id"]
    )
    mem = run_to_memory_table(out, output_mode="append")
    return mem.select(
        "user_id", "event_id",
        F.round("run_sum", 3).alias("run_sum"),
        F.round("run_avg", 3).alias("run_avg"),
        "run_cnt",
    )


@query(
    "stream_event_time_sort",
    # emit_seq makes orderedness value-checkable: the k-th emission per key
    # must be the k-th row in (ts, event_id) event-time order
    oracle="""
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) - 1 AS BIGINT)
             AS emit_seq,
           ts, event_id, value
    FROM events
    """,
)
def stream_event_time_sort(spark, sf_dir):
    """Event-time streaming sort (reference StreamExecTemporalSort.java:64,
    RowTimeSortOperator.java): watermark-finalized in-order emission with a
    per-key emission sequence. A far-future sentinel row advances the final
    watermark so the stream's tail finalizes in bounded replay."""
    import datetime as dt
    import tempfile

    from flink_psl_spark.catalog import load_table
    from flink_psl_spark.streaming import streaming_event_time_sort

    base = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    far = base.select(F.max("ts")).first()[0] + dt.timedelta(days=30)
    d = tempfile.mkdtemp(prefix="fps_ets_")
    base.coalesce(4).write.parquet(f"{d}/src")
    spark.createDataFrame(
        [(-1, far, -1, 0.0)],
        "user_id long, ts timestamp, event_id long, value double",
    ).coalesce(1).write.mode("append").parquet(f"{d}/src")

    ev = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 5)
        .parquet(f"{d}/src")
        .withWatermark("ts", "10 minutes")
    )
    out = streaming_event_time_sort(
        ev, "user_id", "ts", payload_cols=["event_id", "value"],
        tiebreak_col="event_id",
    )
    mem = run_to_memory_table(out, output_mode="append")
    return mem.where(F.col("user_id") >= 0)


@query(
    "stream_early_fire_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_early_fire_agg(spark, sf_dir):
    """Early-firing windowed aggregation (reference windowing/triggers/ —
    ContinuousEventTimeTrigger / early-fire emit strategy,
    table.exec.emit.early-fire.enabled): update output mode re-emits every
    refreshed window per micro-batch instead of waiting for the watermark.

    The replay forces multiple micro-batches (maxFilesPerTrigger=1 over a
    4-file copy of events), so windows genuinely fire early with partial
    results; the view below keeps each window's LAST emission, which must
    equal the batch aggregate — verifying both the early firings and their
    convergence. No watermark: files are user_id-partitioned, not
    time-ordered, so event time regresses across batches (the reference's
    late-arrival case) and every update must still land."""
    import tempfile

    from flink_psl_spark.catalog import load_table
    from flink_psl_spark.operators import deduplicate

    base = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    d = tempfile.mkdtemp(prefix="fps_early_")
    base.repartition(4, "event_type").write.mode("overwrite").parquet(d)

    ev = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n", "total",
        )
    )
    mem = run_to_memory_table(agg, output_mode="update")
    return deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["window_start", "event_type"],
        ["__seq"],
        keep="last",
    ).select("window_start", "window_end", "event_type", "n", "total")


@query(
    "stream_count_window_evict",
    oracle="""
    WITH numbered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS total
      FROM events)
    SELECT user_id,
           rn // 5 AS window_seq,
           CAST(COUNT(*) AS INT) AS n,
           ROUND(SUM(value), 3) AS sum_v,
           ROUND(MIN(value), 3) AS min_v,
           ROUND(MAX(value), 3) AS max_v
    FROM numbered
    WHERE rn % 5 >= 3 AND (rn // 5 + 1) * 5 <= total
    GROUP BY user_id, rn // 5
    """,
)
def stream_count_window_evict(spark, sf_dir):
    """Count window (size 5) with CountEvictor.of(2) (reference
    windowing/evictors/CountEvictor.java): each fired window aggregates
    only its LAST 2 elements — the evictor runs between trigger firing and
    the window function. Oracle keeps positions 3,4 of each complete
    5-window."""
    from flink_psl_spark.streaming import keyed_count_window

    ev = _events_stream(spark, sf_dir)
    out = keyed_count_window(
        ev, "user_id", "ts", "value", 5, evictor=("count", 2)
    )
    mem = run_to_memory_table(out, output_mode="append")
    return mem.select(
        "user_id", "window_seq", "n",
        F.round("sum_v", 3).alias("sum_v"),
        F.round("min_v", 3).alias("min_v"),
        F.round("max_v", 3).alias("max_v"),
    )


@query(
    "stream_count_window_delta_evict",
    oracle="""
    WITH numbered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS total
      FROM events),
    w AS (
      SELECT user_id, value, rn // 5 AS wseq,
             LAST_VALUE(value) OVER (
                 PARTITION BY user_id, rn // 5 ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS lastv
      FROM numbered WHERE (rn // 5 + 1) * 5 <= total)
    SELECT user_id, wseq AS window_seq, CAST(COUNT(*) AS INT) AS n,
           ROUND(SUM(value), 3) AS sum_v,
           ROUND(MIN(value), 3) AS min_v,
           ROUND(MAX(value), 3) AS max_v
    FROM w
    WHERE ABS(value - lastv) <= 25
    GROUP BY user_id, wseq
    """,
)
def stream_count_window_delta_evict(spark, sf_dir):
    """Count window (size 5) with DeltaEvictor.of(25, |v - last|) (reference
    windowing/evictors/DeltaEvictor.java): evicts elements whose value
    differs from the window's last element by more than the threshold
    before aggregating."""
    from flink_psl_spark.streaming import keyed_count_window

    ev = _events_stream(spark, sf_dir)
    out = keyed_count_window(
        ev, "user_id", "ts", "value", 5, evictor=("delta", 25.0)
    )
    mem = run_to_memory_table(out, output_mode="append")
    return mem.select(
        "user_id", "window_seq", "n",
        F.round("sum_v", 3).alias("sum_v"),
        F.round("min_v", 3).alias("min_v"),
        F.round("max_v", 3).alias("max_v"),
    )

@query(
    "stream_allowed_lateness_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def stream_allowed_lateness_agg(spark, sf_dir):
    """Allowed-lateness re-emission (reference
    WindowedStream.allowedLateness:108): window state outlives the
    watermark by a grace budget — late arrivals inside the grace re-fire
    the window with a corrected result; arrivals beyond it are dropped.

    Spark emulation: watermark delay = disorder bound + lateness grace
    (state retention = Flink's end + allowedLateness), update output mode
    (each refinement re-emits — Flink's late firing).

    Deterministic three-batch replay (maxFilesPerTrigger=1, files written
    in order): batch 0 sees everything except a one-hour slice before the
    midpoint, raising the watermark to max(ts) - grace; batch 1 is a
    single filtered-out nudge row whose commit EVICTS pre-watermark window
    state (Spark's watermark is a lower bound on dropping — late rows
    merge into still-live state, so the drop only becomes deterministic
    once eviction has run); batch 2 delivers (a) the held-back slice —
    event time far behind the seen maximum but inside the grace, so its
    windows re-fire — and (b) replayed duplicates of rows whose windows
    closed beyond the grace, which hit evicted state and drop. The final
    per-window emission must equal the batch aggregate with every original
    row counted exactly once — proving both the re-fire and the drop: the
    duplicates landing would double-count, the held-back slice dropping
    would under-count."""
    import datetime as dt
    import tempfile

    from flink_psl_spark.catalog import load_table
    from flink_psl_spark.operators import deduplicate

    base = load_table(spark, sf_dir, "events").select("ts", "value")
    lo, hi = base.select(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    held_back = base.where(
        (F.col("ts") >= F.lit(mid - dt.timedelta(hours=1)))
        & (F.col("ts") < F.lit(mid))
    )
    on_time = base.where(
        (F.col("ts") < F.lit(mid - dt.timedelta(hours=1)))
        | (F.col("ts") >= F.lit(mid))
    )
    # grace: the replay watermark = hi - grace sits 1h below the held-back
    # slice's windows (they re-fire) and 1h above the replayed early rows'
    # windows (they drop)
    grace = (hi - mid) + dt.timedelta(hours=3)
    too_late_replay = base.where(
        F.col("ts") < F.lit(hi - grace - dt.timedelta(hours=2))
    )

    d = tempfile.mkdtemp(prefix="fps_lateness_")
    on_time.coalesce(1).write.parquet(f"{d}/src")
    # eviction nudge: ts = hi keeps the watermark unchanged; the NULL value
    # is filtered out below, so no real window's aggregate moves
    spark.createDataFrame(
        [(hi, None)], "ts timestamp, value double"
    ).coalesce(1).write.mode("append").parquet(f"{d}/src")
    held_back.unionByName(too_late_replay).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/src")

    ev = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
        .withWatermark("ts", f"{int(grace.total_seconds())} seconds")
        .where(F.col("value").isNotNull())
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n", "total",
        )
    )
    mem = run_to_memory_table(agg, output_mode="update")
    return deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["window_start"],
        ["__seq"],
        keep="last",
    ).select("window_start", "window_end", "n", "total")


@query(
    "stream_current_watermark",
    # deterministic two-batch replay: batch 1 (event_id < 5000) sees the
    # unset watermark (NULL); batch 2 rows are stamped with
    # max(batch-1 ts) - 10 minutes — replayed exactly in SQL
    oracle="""
    WITH cut AS (
      -- the engine tracks watermarks in milliseconds (getCurrentWatermarkMs)
      SELECT DATE_TRUNC('milliseconds', MAX(ts)) - INTERVAL 10 MINUTE AS wm
      FROM events WHERE event_id < 5000)
    SELECT e.event_id,
           CASE WHEN e.event_id < 5000 THEN NULL ELSE cut.wm END
             AS current_watermark
    FROM events e CROSS JOIN cut
    """,
)
def stream_current_watermark(spark, sf_dir):
    """CURRENT_WATERMARK() (reference BuiltInFunctionDefinitions.java:1754):
    rows annotated with the operator watermark at processing time via the
    stateful pass-through (streaming/stateful.with_current_watermark). Two
    pinned files -> two AvailableNow batches: the first sees the unset
    watermark (NULL, as the reference's nullable CURRENT_WATERMARK), the
    second sees max(first batch's ts) - delay."""
    import os
    import tempfile
    import time

    from flink_psl_spark.queries.registry import tables
    from flink_psl_spark.streaming.stateful import with_current_watermark

    t = tables(spark, sf_dir)
    ev = t["events"].select("event_id", "user_id", "ts")
    base = tempfile.mkdtemp(prefix="fps_cwq_")
    ev.where(F.col("event_id") < 5000).coalesce(1).write.parquet(
        os.path.join(base, "b1")
    )
    time.sleep(1.05)  # distinct mtimes pin the batch order
    ev.where(F.col("event_id") >= 5000).coalesce(1).write.parquet(
        os.path.join(base, "b2")
    )
    src = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "*"))
    )
    out = with_current_watermark(src, "ts", "10 minutes", "user_id")
    mem = run_to_memory_table(out, output_mode="append")
    return mem.select("event_id", "current_watermark")


@query(
    "stream_connect_threshold_filter",
    # the control stream (login rows, aggregated to one threshold per
    # (user, ts)) gates the data stream (purchases): a purchase passes if
    # its value exceeds the latest threshold at-or-before its timestamp
    # (control-first at ties, the CoProcess priority convention) — ASOF
    # replay in SQL
    oracle="""
    WITH ctrl AS (
      SELECT user_id, ts, MAX(value) AS thr FROM events
      WHERE event_type = 'login' GROUP BY user_id, ts),
    p AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, ROUND(p.value, 2) AS value,
           ROUND(COALESCE(c.thr, 0.0), 2) AS threshold
    FROM p ASOF LEFT JOIN ctrl c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    WHERE p.value > COALESCE(c.thr, 0.0)
    """,
)
def stream_connect_threshold_filter(spark, sf_dir):
    """connect / CoProcessFunction with keyed state (reference
    DataStream.connect:253 + ConnectedStreams; the broadcast-rule pattern
    keyed per user): the control stream updates a per-key threshold in
    state, the data stream is filtered against the latest threshold —
    control rows sort first at equal timestamps."""
    import pandas as pd

    from flink_psl_spark.streaming import run_to_memory_table
    from flink_psl_spark.streaming.core import stream_from_parquet
    from flink_psl_spark.streaming.stateful import connect_keyed

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    control = (
        stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
        .where(F.col("event_type") == "login")
        .select("user_id", "ts", F.col("value").alias("thr"))
    )
    data = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )

    def process(key, rows, st):
        out = []
        thr = st.get("thr", 0.0)
        for r in rows.itertuples(index=False):
            if r.side == "control":
                # same-(user, ts) control rows: apply the max (the batch
                # pre-aggregation the oracle replays)
                if r.payload["ts"] == st.get("at"):
                    thr = max(thr, r.payload["thr"])
                else:
                    thr = r.payload["thr"]
                st["at"] = r.payload["ts"]
                st["thr"] = thr
            else:
                if r.payload["value"] > thr:
                    out.append(
                        (
                            r.payload["event_id"],
                            key,
                            round(r.payload["value"], 2),
                            round(thr, 2),
                        )
                    )
        emit = (
            pd.DataFrame(
                out, columns=["event_id", "user_id", "value", "threshold"]
            )
            if out
            else None
        )
        return emit, st

    out = connect_keyed(
        data,
        control,
        "user_id",
        "ts",
        process,
        "event_id long, user_id long, value double, threshold double",
    )
    return run_to_memory_table(out, output_mode="append")


@query(
    "stream_doc_quality_ingest",
    # arrival-order-free streaming curation: per-(source, band) counts of
    # streamed documents under the linear quality classifier — identical
    # to the batch restatement
    oracle="""
    WITH f AS (
      SELECT source,
             CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') END AS w,
             text
      FROM documents),
    scored AS (
      SELECT source,
             ROUND(-1.0
               + 2.0 * (CASE WHEN LEN(w) > 0 THEN
                   LEN(LIST_FILTER(
                         CASE WHEN TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                              ELSE STRING_SPLIT_REGEX(TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)),
                                                      '[ \\t\\n\\f\\r]+') END,
                         x -> LIST_CONTAINS(['the','a','an','and','or','of',
                           'to','in','is','are','was','were','be','been',
                           'it','this','that','for','on','with','as','at',
                           'by','from','not','no'], x)))
                     / LEN(w) ELSE 0.0 END)
               + -1.5 * (CASE WHEN LEN(text) > 0 THEN
                   LEN(REGEXP_REPLACE(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))
                     / LEN(text) ELSE 0.0 END)
               + 0.15 * (CASE WHEN LEN(w) > 0 THEN
                   LIST_SUM(LIST_TRANSFORM(w, x -> LEN(x))) / LEN(w)
                   ELSE 0.0 END)
               + 0.25 * LN(CAST(LEN(w) AS DOUBLE) + 1.0), 6) AS margin
      FROM f)
    SELECT source,
           CASE WHEN margin >= 0.5 THEN 'high'
                WHEN margin >= 0.0 THEN 'medium'
                ELSE 'low' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def stream_doc_quality_ingest(spark, sf_dir):
    """STREAMING curation ingest: the documents table replayed as a
    micro-batched stream, scored by the linear quality classifier
    (expression-only — the same codegen'd margin as the batch path) and
    aggregated per (source, band) in complete mode. Arrival order cannot
    affect the result, so the batch restatement is an exact oracle."""
    from flink_psl_spark.llm.text import linear_quality_classifier, quality_band
    from flink_psl_spark.streaming import run_to_memory_table, stream_from_parquet

    docs = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "source",
        quality_band(linear_quality_classifier(F.col("text"))).alias("band"),
    )
    agg = scored.groupBy("source", "band").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return run_to_memory_table(agg, output_mode="complete")


@query(
    "stream_validation_ingest",
    # continuous Deequ-style monitoring: global violation counters over
    # the full replayed stream — conditional sums are associative, so
    # the batch restatement over the same rows is an exact oracle
    oracle="""
    WITH rpt AS (
      SELECT 'not_null' AS chk, 'text' AS target,
             CAST(COUNT(*) - COUNT(text) AS BIGINT) AS violations
      FROM documents
      UNION ALL
      SELECT 'in_set', 'lang',
             CAST(COALESCE(SUM(CASE WHEN lang IS NOT NULL
                  AND lang NOT IN ('en', 'de', 'fr', 'es')
                  THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'in_range', 'n_chars',
             CAST(COALESCE(SUM(CASE WHEN n_chars IS NOT NULL
                  AND (n_chars < 1 OR n_chars > 300)
                  THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'chars_mismatch', '*',
             CAST(COALESCE(SUM(CASE WHEN n_chars <> LEN(text)
                  THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'min_rows', '*',
             CAST(GREATEST(0, 1000000 - COUNT(*)) AS BIGINT)
      FROM documents
    )
    SELECT chk AS "check", target, violations, violations = 0 AS passed
    FROM rpt
    """,
)
def stream_validation_ingest(spark, sf_dir):
    """STREAMING constraint monitoring: the documents table replayed as
    a micro-batched stream with the Deequ-style row checks evaluated as
    complete-mode global counters (classic streaming-agg state, partial
    sums merged per trigger). Keyed checks are rejected by construction
    — they belong to batch validation over a normalized image."""
    from flink_psl_spark.operators.validation import (
        in_range,
        in_set,
        min_rows,
        not_null,
        satisfies,
        validate_stream,
    )
    from flink_psl_spark.streaming import run_to_memory_table, stream_from_parquet

    docs = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    report = validate_stream(
        docs,
        [
            not_null("text"),
            in_set("lang", ["en", "de", "fr", "es"]),
            in_range("n_chars", 1, 300),
            satisfies(
                "chars_mismatch",
                F.col("n_chars") != F.length(F.col("text")),
            ),
            min_rows(1_000_000),
        ],
    )
    return run_to_memory_table(report, output_mode="complete")


@query(
    "stream_drift_ingest",
    # live drift monitor: streamed corpus's n_chars distribution vs the
    # static English-reference distribution; counts are complete-mode
    # global aggregates, so the batch restatement is exact
    oracle="""
    WITH ob AS (
      SELECT LEAST(11, GREATEST(0,
               CAST(FLOOR((n_chars - 0.0) / 50.0) AS INTEGER))) AS bucket
      FROM documents WHERE n_chars IS NOT NULL AND lang = 'en'),
    nb AS (
      SELECT LEAST(11, GREATEST(0,
               CAST(FLOOR((n_chars - 0.0) / 50.0) AS INTEGER))) AS bucket
      FROM documents WHERE n_chars IS NOT NULL),
    oc AS (SELECT bucket, COUNT(*) AS n_old FROM ob GROUP BY bucket),
    nc AS (SELECT bucket, COUNT(*) AS n_new FROM nb GROUP BY bucket),
    spine AS (SELECT UNNEST(RANGE(0, 12)) AS bucket),
    j AS (
      SELECT CAST(s.bucket AS INTEGER) AS bucket,
             CAST(COALESCE(oc.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nc.n_new, 0) AS BIGINT) AS n_new
      FROM spine s
      LEFT JOIN oc ON s.bucket = oc.bucket
      LEFT JOIN nc ON s.bucket = nc.bucket),
    tot AS (SELECT SUM(n_old) AS no, SUM(n_new) AS nn FROM j)
    SELECT bucket, n_old, n_new,
           CAST(FLOOR(((n_old + 1.0) / (no + 12.0)
                       - (n_new + 1.0) / (nn + 12.0))
                 * LN(((n_old + 1.0) / (no + 12.0))
                      / ((n_new + 1.0) / (nn + 12.0)))
                 * 1000000000.0) AS BIGINT) AS psi_q
    FROM j, tot
    """,
)
def stream_drift_ingest(spark, sf_dir):
    """CONTINUOUS drift monitoring: the corpus replayed as a stream,
    its n_chars bucket counts maintained as complete-mode streaming
    aggregation state, compared per trigger against a static reference
    distribution (here: the English subset) through the same quantized
    PSI math as the batch gate. Counts are associative, so arrival
    order cannot change the report."""
    from flink_psl_spark.operators.validation import bucket_counts, psi_report
    from flink_psl_spark.streaming import run_to_memory_table, stream_from_parquet

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = bucket_counts(
        docs.where(F.col("lang") == "en"), "n_chars",
        lo=0, hi=600, n_buckets=12, out="n_old",
    )
    live = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    live_counts = run_to_memory_table(
        bucket_counts(live, "n_chars", lo=0, hi=600, n_buckets=12, out="n_new"),
        output_mode="complete",
    )
    return psi_report(ref, live_counts, n_buckets=12)


@query(
    "stream_timer_session_agg",
    # the same gap-session islands as stream_session_agg, restricted to
    # sessions the final watermark (max ts - 10 min delay) has finalized —
    # exactly the rows whose event-time timer fired before the replay
    # drained (append mode emits nothing the watermark has not proven)
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM flagged),
    agged AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '10 minutes' AS session_end,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS total
      FROM sessions GROUP BY user_id, sess_id)
    SELECT * FROM agged
    WHERE session_end <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
    """,
)
def stream_timer_session_agg(spark, sf_dir):
    """Session aggregation via REGISTERED EVENT-TIME TIMERS (reference
    KeyedProcessFunction.onTimer / InternalTimerServiceImpl): rows buffer
    in keyed state, one timer per key re-arms at the earliest pending
    session end, and watermark passage fires the flush — the timer
    machinery itself, vs stream_session_agg's native session_window."""
    from flink_psl_spark.streaming import timer_session_agg

    ev = _events_stream(spark, sf_dir)
    out = timer_session_agg(
        ev, "user_id", "ts", "value", gap="10 minutes", delay="10 minutes"
    )
    return run_to_memory_table(out, output_mode="append").withColumn(
        "total", F.round("total", 2)
    )


@query(
    "stream_bloom_decontaminate_ingest",
    # the two-tier Bloom check is per-document (no cross-doc state), so
    # micro-batch partitioning cannot change any flag — the batch-exact
    # contamination restatement is an exact oracle for the streamed run
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') END AS w
      FROM documents),
    g AS (
      SELECT doc_id, ARRAY_TO_STRING(w[i:i+4], ' ') AS gram
      FROM d, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 4, 0))) AS t(i)),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
    hits AS (
      SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_hits
      FROM g JOIN bench USING (gram)
      WHERE g.doc_id % 7 <> 0
      GROUP BY g.doc_id)
    SELECT d.source, COALESCE(h.n_hits, 0) > 0 AS contaminated,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 7 <> 0
    GROUP BY 1, 2
    """,
)
def stream_bloom_decontaminate_ingest(spark, sf_dir):
    """STREAMING decontamination ingest: the corpus replayed as a
    micro-batched stream, each batch passed through the two-tier Bloom
    check (filter built ONCE from the static benchmark via
    make_bloom_checker — no per-trigger benchmark collect) and appended
    to the quarantine report; per-(source, flag) counts after drain.
    Per-doc semantics ⇒ arrival order and batch boundaries cannot
    change any flag, so the batch restatement is an exact oracle."""
    import tempfile

    from flink_psl_spark.llm.text import make_bloom_checker
    from flink_psl_spark.streaming import stream_from_parquet

    t = tables(spark, sf_dir)
    bench = t["documents"].where(F.col("doc_id") % 7 == 0)
    check = make_bloom_checker(bench, n=5, fpp=0.01)

    stream = stream_from_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 7 != 0
    )
    acc_dir = tempfile.mkdtemp(prefix="fps_bloom_ingest_")

    def handle(batch, batch_id):
        out = check(batch, id_col="doc_id")
        (
            out.join(batch.select("doc_id", "source"), "doc_id")
            .write.mode("append")
            .parquet(f"{acc_dir}/out")
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="fps_bloom_ingest_ck_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    return (
        spark.read.parquet(f"{acc_dir}/out")
        .groupBy("source", "contaminated")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


@query(
    "stream_dataset_fingerprint",
    # the fingerprint aggregate is commutative+associative, so the
    # streamed complete-mode value equals the batch stamp exactly
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST('0x' || SUBSTR(MD5(CONCAT_WS('|',
                  COALESCE(CAST(doc_id AS VARCHAR), '␀'),
                  COALESCE(CAST(source AS VARCHAR), '␀'))),
                1, 15) AS BIGINT) AS HUGEINT))
              % 9223372036854775783 AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def stream_dataset_fingerprint(spark, sf_dir):
    """Continuous reproducibility stamp: the order-independent dataset
    fingerprint maintained as complete-mode streaming aggregation state
    — at every trigger the emitted stamp equals the batch fingerprint
    of everything ingested so far (the sum is commutative, so batch
    splits and arrival order are invisible)."""
    from flink_psl_spark.operators.misc import dataset_fingerprint
    from flink_psl_spark.streaming import run_to_memory_table, stream_from_parquet

    docs = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    fp = dataset_fingerprint(docs, ["doc_id", "source"])
    return run_to_memory_table(fp, output_mode="complete")


@query(
    "stream_weighted_sample",
    # the A-ES competition key is a pure row expression, so the streaming
    # per-key top-n's final state equals the batch weighted sample — the
    # oracle replays key derivation + ranking in SQL (llm_weighted_sample's
    # recipe at k=3)
    oracle="""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             CAST(ROUND(LN((CAST('0x' || SUBSTR(
                      MD5(CAST(doc_id AS VARCHAR) || '|42'), 1, 6)
                    AS BIGINT) + 1) / 16777216.0)
                  / n_chars * 1000000000.0) AS BIGINT) AS sk
      FROM documents WHERE n_chars > 0
    ), r AS (
      SELECT doc_id, source, n_chars, sk,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY sk DESC, doc_id) AS rk
      FROM s
    )
    SELECT source, CAST(rk AS INT) AS sample_rank, doc_id, n_chars,
           ROUND(sk / 1000000000.0, 6) AS logkey
    FROM r WHERE rk <= 3
    """,
)
def stream_weighted_sample(spark, sf_dir):
    """Streaming weighted reservoir (A-ES on a stream): the per-source
    top-3 by ln(u)/weight is maintained as k-bounded keyed state — the
    exponential-key competition is commutative, so the final state equals
    the batch Efraimidis-Spirakis sample regardless of arrival order or
    micro-batch splits."""
    from flink_psl_spark.operators import deduplicate
    from flink_psl_spark.streaming import (
        keyed_top_n,
        run_to_memory_table,
        stream_from_parquet,
    )

    docs = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("doc_id").cast("string"),
                                  F.lit("42"))),
                1, 6,
            ),
            16, 10,
        ).cast("bigint") + F.lit(1)
    ).cast("double") / F.lit(float(16 ** 6))
    scored = (
        docs.where(F.col("n_chars") > 0)
        .withColumn(
            "__wskey",
            F.round(F.log(u) / F.col("n_chars") * F.lit(1e9)).cast("bigint"),
        )
    )
    updates = keyed_top_n(
        scored, "source", "__wskey", 3,
        payload_cols=["doc_id", "n_chars"], descending=True,
        tiebreak_cols=["doc_id"],
    )
    mem = run_to_memory_table(updates, output_mode="update")
    latest = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["source", "rank"],
        ["__seq"],
        keep="last",
    )
    return latest.select(
        "source",
        F.col("rank").alias("sample_rank"),
        "doc_id",
        "n_chars",
        F.round(F.col("__wskey") / F.lit(1e9), 6).alias("logkey"),
    )


from flink_psl_spark.queries.llm_queries import _NEARDUP_SURVIVORS_SQL


@query("stream_online_lsh_dedup", oracle=_NEARDUP_SURVIVORS_SQL)
def stream_online_lsh_dedup(spark, sf_dir):
    """STREAMING near-dup dedup at ingest: MinHash-LSH candidate pairs
    emitted from keyed bucket-roster state as documents arrive
    (online_lsh_candidate_pairs), drained to an accumulator, then
    exact-Jaccard verified and anti-joined — the continuous-ingest
    version of llm_minhash_dedup. Candidate emission is an
    order-insensitive set union per bucket, so the drained pair set
    equals the batch LSH candidate set and (with recall 1, which the
    exact-verification oracle proves per run) the output equals the
    all-pairs ground truth."""
    import tempfile

    from flink_psl_spark.llm import ngram_jaccard_pairs, online_lsh_candidate_pairs
    from flink_psl_spark.streaming import stream_from_parquet

    t = tables(spark, sf_dir)
    stream = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = online_lsh_candidate_pairs(stream)
    acc = tempfile.mkdtemp(prefix="fps_online_lsh_")
    q = (
        pairs.writeStream.format("parquet")
        .option("path", f"{acc}/out")
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="fps_online_lsh_ck_")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    try:
        cand = (
            spark.read.parquet(f"{acc}/out")
            .where(F.col("a").isNotNull())
            .distinct()
            .transform(materialize)
        )
    except Exception:  # zero candidate pairs -> no parquet parts
        cand = spark.createDataFrame([], "a bigint, b bigint")
    verified = ngram_jaccard_pairs(
        t["documents"], threshold=0.8, candidates=cand
    )
    dropped = verified.select(F.col("b").alias("doc_id")).distinct()
    return (
        t["documents"]
        .join(dropped, on="doc_id", how="left_anti")
        .select("doc_id", "lang", "source")
    )


@query(
    "stream_conversation_assembly",
    # the batch sessionize+concat restatement, restricted to sessions the
    # final watermark (max ts - 10 min delay) has finalized (last + 30 min
    # gap <= watermark) — exactly the transcripts whose event-time timer
    # fired before the replay drained; µs-exact gap math on both sides
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                AS session_n
      FROM s),
    agged AS (
      SELECT user_id, session_n, CAST(COUNT(*) AS BIGINT) AS n_turns,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts,
             STRING_AGG(event_type, ' ' ORDER BY ts, event_id)
               AS transcript
      FROM g GROUP BY user_id, session_n)
    SELECT * FROM agged
    WHERE last_ts + INTERVAL 30 MINUTE
          <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_conversation_assembly(spark, sf_dir):
    """STREAMING conversation assembly: per-user transcripts emitted by
    event-time-timer session state as the log replays — the
    continuous-ingest counterpart of llm_conversation_assembly (same
    gap-split + ordered concat; session ordinals carried in keyed state
    so numbering equals the batch running sum)."""
    from flink_psl_spark.streaming import session_transcripts

    ev = _events_stream(spark, sf_dir)
    out = session_transcripts(
        ev, "user_id", "ts", "event_type", "event_id",
        gap="30 minutes", delay="10 minutes", max_turns=64,
    )
    return run_to_memory_table(out, output_mode="append")


from flink_psl_spark.queries.llm_queries import _CORPUS_OVERLAP_ORACLE


@query("stream_corpus_overlap_sketch", oracle=_CORPUS_OVERLAP_ORACLE)
def stream_corpus_overlap_sketch(spark, sf_dir):
    """STREAMING corpus-overlap: per-corpus KMV bottom-k sketches
    maintained as keyed state while documents arrive; the merge is
    commutative/associative/idempotent, so the final state equals the
    batch sketch and the downstream estimator emits the exact same
    overlap report as llm_corpus_overlap_sketch — proven by sharing its
    oracle. State per corpus: one <=256-element integer array."""
    from flink_psl_spark.llm.dedup import shingle_strings
    from flink_psl_spark.llm.sketches import (
        kmv_hash,
        overlap_from_sketches,
        stream_kmv_sketch,
    )
    from flink_psl_spark.llm.text import tokenize
    from flink_psl_spark.operators import deduplicate

    docs = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    el = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("corpus"),
        tokenize(F.col("text")).alias("__tk"),
    ).select(
        "corpus", F.explode(shingle_strings("__tk", 3)).alias("e")
    ).select("corpus", kmv_hash(F.col("e")).alias("h"))
    updates = stream_kmv_sketch(el, "corpus", "h", k=256)
    mem = run_to_memory_table(updates, output_mode="update")
    sk = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["group", "rank"],
        ["__seq"],
        keep="last",
    ).select("group", "h", "rank")
    out = overlap_from_sketches(sk, "even", "odd", k=256)
    return out.select(
        "k",
        F.round("est_distinct_a", 4).alias("est_distinct_a"),
        F.round("est_distinct_b", 4).alias("est_distinct_b"),
        F.round("est_distinct_union", 4).alias("est_distinct_union"),
        F.round("jaccard_est", 6).alias("jaccard_est"),
        F.round("est_intersection", 4).alias("est_intersection"),
    )


from flink_psl_spark.queries.llm_queries import _LOGREG_TRAIN_CTES


@query(
    "stream_quality_score_ingest",
    # train offline (batch, the byte-reproducible fixed-point trace) —
    # score online: the oracle replays training and then scores the
    # checked window per document; scoring is a row-local expression, so
    # the streamed scores equal the batch scores exactly
    oracle=_LOGREG_TRAIN_CTES
    + """
    SELECT doc_id,
           ROUND(qp / 1000000.0, 6) AS prob,
           z >= 0 AS pred_en
    FROM sc WHERE doc_id < 300
    """,
)
def stream_quality_score_ingest(spark, sf_dir):
    """Model-based quality scoring AT INGEST: the classifier is trained
    offline on the batch corpus (3-iteration fixed-point GD), then its
    weights ride into the stream as a broadcast literal — each arriving
    document is scored by a pure row expression (no state, no shuffle).
    The pattern every curation deployment uses: heavy training offline,
    cheap inference on the ingest path."""
    from flink_psl_spark.llm.classifier import (
        MICRO,
        _margin,
        _prob,
        hashed_feature_indices,
        train_logreg_hashed,
    )

    t = tables(spark, sf_dir)
    docs_batch = t["documents"].withColumn(
        "__y", (F.col("lang") == "en").cast("double")
    )
    w = train_logreg_hashed(
        docs_batch, "text", "__y", dim=64, iters=3, lr=4.0
    )

    stream = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    z = _margin(hashed_feature_indices("text", dim=64), w)
    scored = (
        stream.where(F.col("doc_id") < 300)
        .select("doc_id", z.alias("__z"))
        .select(
            "doc_id",
            F.round(
                F.round(_prob(F.col("__z")) * F.lit(float(MICRO)), 0)
                / F.lit(float(MICRO)),
                6,
            ).alias("prob"),
            (F.col("__z") >= 0).alias("pred_en"),
        )
    )
    return run_to_memory_table(scored, output_mode="append")


@query(
    "stream_heavy_hitters_ingest",
    # Space-Saving rosters are provable supersets of the true >=20 heavy
    # hitters (the corpus's per-shard distinct bigrams fit the counters
    # outright, and the emitted min-counter bound proves it per run), so
    # roster drain + exact verification equals the plain HAVING — the
    # CMS-prefilter proof shape, streamed
    oracle=r"""
    WITH d AS (SELECT doc_id, CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[] ELSE STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \t\n\f\r]+') END AS w FROM documents),
    g AS (
      SELECT ARRAY_TO_STRING(w[i:i+1], ' ') AS gram
      FROM d, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 1, 0))) AS t(i))
    SELECT gram, COUNT(*) AS cnt
    FROM g GROUP BY gram HAVING COUNT(*) >= 20
    """,
)
def stream_heavy_hitters_ingest(spark, sf_dir):
    """STREAMING heavy-hitter bigrams: Space-Saving m-counter summaries
    maintained as sharded keyed state while documents arrive, roster
    drained at the end and trimmed by one exact verification count
    (broadcast semi-join) — the continuous-ingest counterpart of
    llm_heavy_hitter_ngrams, output exactly the batch HAVING."""
    from flink_psl_spark.llm.sketches import stream_space_saving
    from flink_psl_spark.llm.text import ngrams
    from flink_psl_spark.operators import deduplicate

    docs = stream_from_parquet(spark, f"{sf_dir}/documents.parquet")
    grams = docs.select(F.explode(ngrams(F.col("text"), 2)).alias("gram"))
    updates = stream_space_saving(grams, "gram", m=512, n_shards=8)
    mem = run_to_memory_table(updates, output_mode="update")
    roster = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["shard", "rank"],
        ["__seq"],
        keep="last",
    )
    candidates = roster.select(F.col("item").alias("gram")).distinct()

    t = tables(spark, sf_dir)
    all_grams = t["documents"].select(
        F.explode(ngrams(F.col("text"), 2)).alias("gram")
    )
    exact = (
        all_grams.join(F.broadcast(candidates), on=["gram"], how="left_semi")
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 20)
    )
    return exact


@query(
    "stream_window_distinct_sketch",
    # per-day KMV (k=32) replayed exactly: bottom-32 distinct user-id
    # hashes per day, estimate 31*2^48/h_32 (exact count under 32)
    oracle="""
    WITH h AS (
      SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM events),
    sk AS (
      SELECT day, h FROM (
        SELECT day, h,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk
        FROM h) WHERE rk <= 32),
    pg AS (SELECT day, COUNT(*) AS n, MAX(h) AS theta FROM sk GROUP BY day)
    SELECT day, CAST(n AS BIGINT) AS n_sketch,
           ROUND(CASE WHEN n < 32 THEN CAST(n AS DOUBLE)
                      ELSE CAST(8725724278030336 AS DOUBLE)
                           / CAST(theta AS DOUBLE)
                 END, 4) AS est_distinct
    FROM pg
    """,
)
def stream_window_distinct_sketch(spark, sf_dir):
    """Per-window approximate distinct users on a stream: a KMV sketch
    per tumbling day maintained as one bounded array of keyed state —
    the streaming form of windowed APPROX_COUNT_DISTINCT, but with a
    deterministic, engine-replayable estimator instead of an opaque HLL
    blob. State: 32 longs per day; emission: refreshed sketch on
    change; arrival order invisible (idempotent commutative merge)."""
    from flink_psl_spark.llm.sketches import (
        kmv_distinct_estimates,
        kmv_hash,
        stream_kmv_sketch,
    )
    from flink_psl_spark.operators import deduplicate

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    keyed = ev.select(
        F.to_date("ts").cast("string").alias("day"),
        kmv_hash(F.col("user_id")).alias("h"),
    )
    updates = stream_kmv_sketch(keyed, "day", "h", k=32)
    mem = run_to_memory_table(updates, output_mode="update")
    sk = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["group", "rank"],
        ["__seq"],
        keep="last",
    ).select("group", "h", "rank")
    est = kmv_distinct_estimates(sk, k=32)
    return est.select(
        F.col("group").alias("day"),
        F.col("n_sketch").cast("bigint").alias("n_sketch"),
        F.round("est_distinct", 4).alias("est_distinct"),
    )


@query(
    "hybrid_backfill_union",
    # the bootstrap invariant: batch history ∪ streamed tail, deduped on
    # the primary key, must equal the full table — the oracle aggregates
    # the whole table directly
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events GROUP BY event_type
    """,
)
def hybrid_backfill_union(spark, sf_dir):
    """Kappa-style pipeline bootstrap: serve history from BATCH while
    the STREAM catches up, with an overlap region deduplicated on the
    primary key — the standard cutover pattern when a streaming pipeline
    is pointed at an existing corpus. History = events with
    event_id < 60% cutoff (batch read); the stream replays everything
    FROM 40% (a deliberate 20% overlap); union + keyed dedup must equal
    the full table exactly."""
    from flink_psl_spark.operators import deduplicate

    t = tables(spark, sf_dir)
    ev = t["events"]
    hi = ev.agg(F.max("event_id")).first()[0]
    cut_hist, cut_stream = int(hi * 0.6), int(hi * 0.4)

    history = ev.where(F.col("event_id") < cut_hist)

    stream = stream_from_parquet(spark, f"{sf_dir}/events.parquet")
    tail_updates = stream.where(F.col("event_id") >= cut_stream)
    tail = run_to_memory_table(tail_updates, output_mode="append")

    combined = deduplicate(
        history.select("event_id", "event_type").unionByName(
            tail.select("event_id", "event_type")
        ),
        ["event_id"],
        ["event_type"],
        keep="first",
    )
    return combined.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("event_id").cast("bigint").alias("n_ids"),
    )


@query(
    "stream_timeseries_gap_fill",
    # the streamed LOCF grid: per user, hourly buckets from the first
    # observation to the last watermark-finalized bucket (wm = max ts of
    # the FILTERED stream - 1s, matching the post-filter withWatermark;
    # bucket final iff end <= wm), value = latest
    # observation by (ts, value) before the bucket end, filled = no
    # observation inside the bucket
    oracle="""
    WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 8),
    wm AS (SELECT MAX(ts) - INTERVAL 1 SECOND AS w FROM e),
    span AS (
      SELECT user_id, DATE_TRUNC('hour', MIN(ts)) AS lo
      FROM e GROUP BY user_id),
    grid AS (
      SELECT s.user_id,
             UNNEST(GENERATE_SERIES(
               s.lo,
               DATE_TRUNC('hour', (SELECT w FROM wm) - INTERVAL 1 HOUR),
               INTERVAL 1 HOUR)) AS bucket
      FROM span s),
    val AS (
      SELECT g.user_id, g.bucket, e.value,
             ROW_NUMBER() OVER (
               PARTITION BY g.user_id, g.bucket
               ORDER BY e.ts DESC, e.value DESC) AS rn
      FROM grid g JOIN e ON e.user_id = g.user_id
                        AND e.ts < g.bucket + INTERVAL 1 HOUR),
    carry AS (SELECT user_id, bucket, value FROM val WHERE rn = 1),
    obs_in AS (
      SELECT DISTINCT user_id, DATE_TRUNC('hour', ts) AS bucket FROM e)
    SELECT c.user_id, CAST(c.bucket AS TIMESTAMP) AS bucket, c.value,
           (o.bucket IS NULL) AS filled
    FROM carry c LEFT JOIN obs_in o
      ON c.user_id = o.user_id AND c.bucket = o.bucket
    """,
)
def stream_timeseries_gap_fill(spark, sf_dir):
    """CONTINUOUS LOCF resampling: per-user hourly buckets emitted as
    the watermark finalizes them, latest value carried across empty
    hours — and, unlike the batch grid, carried PAST the key's last
    observation while other keys keep the watermark moving (a live
    metric stays defined between samples). Event-time timers flush
    carried buckets for keys receiving no data."""
    from flink_psl_spark.streaming import stream_gap_fill

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    keyed = ev.where(F.col("user_id") < 8).select("user_id", "ts", "value")
    out = stream_gap_fill(
        keyed, "user_id", "ts", "value",
        bucket_ms=3_600_000, delay="1 second",
    )
    return run_to_memory_table(out, output_mode="append")


from flink_psl_spark.queries.relational import _HISTOGRAM_QUANTILES_ORACLE


@query("stream_histogram_quantiles", oracle=_HISTOGRAM_QUANTILES_ORACLE)
def stream_histogram_quantiles(spark, sf_dir):
    """STREAMING quantiles: the mergeable fixed-width histogram
    maintained as complete-mode count state while events arrive; the
    final counts equal the batch histogram exactly (counts are
    commutative), so resolving quantiles over the materialized buckets
    reproduces the batch report — proven by sharing its oracle."""
    from flink_psl_spark.operators import deduplicate
    from flink_psl_spark.operators.validation import bucket_counts

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet")
    counts = bucket_counts(ev, "value", lo=0.0, hi=512.0, n_buckets=256)
    mem = run_to_memory_table(counts, output_mode="complete")
    final = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["bucket"],
        ["__seq"],
        keep="last",
    ).select("bucket", "n")

    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = final.select(
        "bucket",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("total_n"),
    )
    qdf = spark.createDataFrame(
        [(0.5,), (0.9,), (0.99,)], "q double"
    )
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("cum_n") >= F.col("q") * F.col("total_n"))
        .groupBy("q")
        .agg(
            F.min("bucket").alias("bucket"),
            F.max("total_n").alias("total_n"),
        )
        .join(cum.select("bucket", "cum_n"), on="bucket")
    )
    return hit.select(
        "q",
        ((F.col("bucket") + 1) * F.lit(2.0)).alias("est_value"),
        F.col("bucket").cast("int").alias("bucket"),
        F.col("cum_n").cast("bigint").alias("cum_n"),
        F.col("total_n").cast("bigint").alias("total_n"),
    )


from flink_psl_spark.queries.relational import _CONTRACT_MIGRATION_ORACLE
from flink_psl_spark.materialize import materialize


@query("stream_contract_migration_ingest", oracle=_CONTRACT_MIGRATION_ORACLE)
def stream_contract_migration_ingest(spark, sf_dir):
    """Schema-contract enforcement AT INGEST: arriving events reshape to
    the declared contract by the same expression-only projection as the
    batch gate (contract order, defaults, try-safe casts), then feed a
    complete-mode aggregate — conforming data reaches the sink from the
    first micro-batch, proven by sharing the batch oracle."""
    from flink_psl_spark.operators import deduplicate
    from flink_psl_spark.operators.validation import migrate_to_contract

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet")
    out = migrate_to_contract(
        ev,
        "event_type string, value string, region string",
        defaults={"region": "unassigned"},
    )
    # exact distinct on a stream needs two stateful levels; keep the
    # (type, value) counts as complete-mode state and distinct on the
    # materialized rows instead
    mem = run_to_memory_table(
        out.groupBy("event_type", "value").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("region").alias("region"),
        ),
        output_mode="complete",
    )
    final = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["event_type", "value"],
        ["__seq"],
        keep="last",
    )
    return final.groupBy("event_type").agg(
        F.sum("n_rows").cast("bigint").alias("n"),
        F.countDistinct("value").cast("bigint").alias("n_value_strs"),
        F.min("region").alias("region"),
    )


@query(
    "stream_exact_window_distinct",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def stream_exact_window_distinct(spark, sf_dir):
    """EXACT per-window distinct users on a stream via CHAINED stateful
    operators — streaming dedup state feeding streaming aggregation
    state in one query (the reference chains DeduplicateFunction into
    GroupAggFunction the same way): dropDuplicates on (day, user) then
    a complete-mode per-day count. The exact complement of the KMV
    estimate in stream_window_distinct_sketch; state here is one row
    per distinct (day, user) — choose by cardinality."""
    from flink_psl_spark.operators import deduplicate

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    dd = ev.select(
        F.to_date("ts").cast("string").alias("day"), "user_id"
    ).dropDuplicates(["day", "user_id"])
    agg = dd.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    mem = run_to_memory_table(agg, output_mode="complete")
    return deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["day"],
        ["__seq"],
        keep="last",
    ).select("day", "n_users")


@query(
    "stream_image_dedup_ingest",
    # bounded-agreement restatement (the llm_image_near_dedup pattern):
    # streamed candidate pairs + exact Hamming verify must reproduce the
    # brute-force survivor set over the bounded corpus
    oracle="""
    SELECT doc_id AS media_id, TRUE AS survivor_ok
    FROM documents WHERE doc_id < 200
    """,
)
def stream_image_dedup_ingest(spark, sf_dir):
    """STREAMING image dedup at ingest: perceptual dHash per arriving
    image, Hamming-banded keyed roster state emitting candidate pairs
    continuously, drained pairs exact-Hamming-verified — survivors equal
    the brute-force model over the bounded corpus, proven per run."""
    from flink_psl_spark.llm.dedup import hamming64
    from flink_psl_spark.llm.multimodal import (
        image_dhash,
        stream_image_candidate_pairs,
        synthetic_media,
    )

    max_h = 3
    docs_stream = stream_from_parquet(
        spark, f"{sf_dir}/documents.parquet"
    ).where(F.col("doc_id") < 200)
    media_stream = synthetic_media(spark, docs_stream)
    pairs = stream_image_candidate_pairs(media_stream, max_hamming=max_h)
    drained = run_to_memory_table(pairs, output_mode="append").distinct()

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    media = synthetic_media(spark, docs)
    fp = image_dhash(media).select(
        F.col("media_id"), F.col("dhash")
    ).transform(materialize)  # 200 rows — parameter-sized
    verified = (
        drained.join(
            fp.select(
                F.col("media_id").alias("a"), F.col("dhash").alias("__fa")
            ),
            "a",
        )
        .join(
            fp.select(
                F.col("media_id").alias("b"), F.col("dhash").alias("__fb")
            ),
            "b",
        )
        .where(hamming64(F.col("__fa"), F.col("__fb")) <= max_h)
    )
    dropped = verified.select(F.col("b").alias("media_id")).distinct()
    survivors = media.select("media_id").join(
        dropped, "media_id", "left_anti"
    )

    hashes = {r["media_id"]: r["dhash"] for r in fp.collect()}
    model = {
        i
        for i in hashes
        if not any(
            j < i
            and bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
            <= max_h
            for j in hashes
        )
    }
    model_df = spark.createDataFrame(
        [(i, True) for i in model], "media_id bigint, model_survivor boolean"
    )
    return (
        media.select("media_id")
        .join(survivors.withColumn("got", F.lit(True)), "media_id", "left")
        .join(F.broadcast(model_df), "media_id", "left")
        .select(
            "media_id",
            (
                F.coalesce("got", F.lit(False))
                == F.coalesce("model_survivor", F.lit(False))
            ).alias("survivor_ok"),
        )
    )


@query(
    "stream_ewma_anomaly",
    # the batch EWMA oracle restricted to WATERMARK-FINALIZED buckets
    # (bucket end <= max ts - 1s): integer-cent bucket sums equal the
    # DECIMAL(18,2) aggregate exactly, the recurrence replays in the
    # same IEEE op order, and x stays the raw decimal->double value on
    # both sides (no re-rounding drift)
    oracle="""
    WITH RECURSIVE wm AS (
      SELECT MAX(ts) - INTERVAL 1 SECOND AS w FROM events),
    h AS (
      SELECT event_type AS k, DATE_TRUNC('day', ts) AS b,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    f AS (SELECT k, b, x FROM h
          WHERE b + INTERVAL 1 DAY <= (SELECT w FROM wm)),
    n AS (
      SELECT k, b, x,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY b) AS rn
      FROM f),
    r (k, rn, b, x, s, res) AS (
      SELECT k, rn, b, x, x, CAST(0.0 AS DOUBLE) FROM n WHERE rn = 1
      UNION ALL
      SELECT n.k, n.rn, n.b, n.x,
             0.25 * n.x + (1 - 0.25) * r.s,
             n.x - r.s
      FROM r JOIN n ON n.k = r.k AND n.rn = r.rn + 1)
    SELECT k AS event_type, CAST(b AS TIMESTAMP) AS bucket_ts, x,
           ROUND(s, 6) AS smoothed, ROUND(res, 6) AS residual,
           ABS(res) > 1200.0 AS anomaly
    FROM r
    """,
)
def stream_ewma_anomaly(spark, sf_dir):
    """CONTINUOUS EWMA anomaly monitoring: per event type, daily bucket
    sums accumulate as integer-cent keyed state and the recurrence
    advances as the watermark finalizes each bucket — one carried
    double per key is the whole model. The online form of the batch
    timeseries_ewma_anomaly operator."""
    from flink_psl_spark.streaming import (
        stream_ewma_anomaly as ewma_stream,
    )

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    out = ewma_stream(
        ev.select("event_type", "ts", "value"),
        "event_type", "ts", "value",
        bucket_ms=86_400_000, alpha=0.25, threshold=1200.0,
        delay="1 second",
    )
    mem = run_to_memory_table(out, output_mode="append")
    return mem.select(
        "event_type", "bucket_ts", "x",
        F.round("smoothed", 6).alias("smoothed"),
        F.round("residual", 6).alias("residual"),
        "anomaly",
    )


@query(
    "stream_sft_loss_mask",
    # the batch loss-mask CTE restricted to WATERMARK-FINALIZED sessions
    # (last turn + gap <= max ts - 1s): spans and session ordinals are
    # pure integer arithmetic, so finalized rows equal the batch layout
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                AS session_n
      FROM s),
    wm AS (SELECT MAX(ts) - INTERVAL 1 SECOND AS w FROM events),
    fin AS (
      SELECT user_id, session_n FROM g
      GROUP BY user_id, session_n
      HAVING EPOCH_US(MAX(ts)) + 1800000000 <= EPOCH_US((SELECT w FROM wm))),
    t AS (
      SELECT g.user_id, g.session_n,
             ROW_NUMBER() OVER w3 AS turn_idx,
             3 + LEN(event_type) AS seg,
             SUM(3 + LEN(event_type)) OVER w3 AS cum,
             SUM(3 + LEN(event_type)) OVER (
               PARTITION BY g.user_id, g.session_n) AS render_len
      FROM g JOIN fin ON fin.user_id = g.user_id
                     AND fin.session_n = g.session_n
      WINDOW w3 AS (PARTITION BY g.user_id, g.session_n
                    ORDER BY ts, event_id))
    SELECT user_id, session_n, CAST(turn_idx AS INT) AS turn_idx,
           CAST(cum - seg + 3 AS BIGINT) AS mask_start,
           CAST(cum AS BIGINT) AS mask_end,
           CAST(render_len AS BIGINT) AS render_len
    FROM t WHERE turn_idx % 2 = 0
    """,
)
def stream_sft_loss_mask(spark, sf_dir):
    """CONTINUOUS SFT loss-mask layout: sessions buffer as keyed state
    and every watermark-finalized session emits its assistant-segment
    character spans — the streaming counterpart of llm_sft_loss_mask,
    bit-equal to the batch layout on finalized sessions."""
    from flink_psl_spark.streaming import stream_sft_loss_mask as op

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    out = op(
        ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_type", "event_id",
        gap="30 minutes", delay="1 second",
    )
    return run_to_memory_table(out, output_mode="append")


@query(
    "stream_json_corrupt_ingest",
    # same deterministic corruption as the batch channel — the stream's
    # final complete-mode counters equal the batch split exactly
    oracle="""
    SELECT CAST(SUM(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN doc_id % 50 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parsed,
           CAST(SUM(CASE WHEN doc_id % 50 <> 0 THEN n_chars ELSE 0 END)
                AS BIGINT) AS parsed_chars
    FROM documents
    """,
)
def stream_json_corrupt_ingest(spark, sf_dir):
    """CONTINUOUS dead-letter accounting: the corrupt-record channel on
    a JSON stream — malformed lines land in the _bad column and the
    running good/bad counters aggregate in complete mode; the final
    counters equal the batch split."""
    import tempfile

    from flink_psl_spark.operators import deduplicate

    t = tables(spark, sf_dir)
    line = F.to_json(F.struct("doc_id", "source", "n_chars"))
    lines = t["documents"].select(
        F.when(F.col("doc_id") % 50 == 0, F.substring(line, 1, 9))
        .otherwise(line)
        .alias("value")
    )
    path = tempfile.mkdtemp(prefix="fps_badjson_s_") + "/lines"
    lines.repartition(3).write.text(path)
    stream = (
        spark.readStream.schema(
            "doc_id bigint, source string, n_chars bigint, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )
    agg = stream.agg(
        F.sum(F.col("_bad").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.col("_bad").isNull().cast("int"))
        .cast("bigint")
        .alias("n_parsed"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("parsed_chars"),
    )
    mem = run_to_memory_table(agg, output_mode="complete")
    return (
        deduplicate(
            mem.withColumn("__seq", F.monotonically_increasing_id())
            .withColumn("__k", F.lit(1)),
            ["__k"],
            ["__seq"],
            keep="last",
        )
        .select("n_corrupt", "n_parsed", "parsed_chars")
    )


@query(
    "stream_multi_sink_fanout",
    # both sinks fed from ONE pass over the stream; the verification
    # union is exactly derivable from the base table
    oracle="""
    SELECT 'counts' AS sink, event_type AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'alerts' AS sink, event_type AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE value > 9.5 GROUP BY event_type
    """,
)
def stream_multi_sink_fanout(spark, sf_dir):
    """Multi-sink fan-out from one stream — the streaming form of the
    reference's EXECUTE STATEMENT SET (one source pass feeding several
    INSERT INTO targets): each micro-batch persists BOTH the per-type
    counters and the filtered alert rows from a single foreachBatch
    (per-batch work shared; the batch df is reused for both writes).
    The verification re-reads both sinks and must equal the base table's
    split exactly — no rows duplicated or dropped across sinks."""
    import tempfile

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    d = tempfile.mkdtemp(prefix="fps_fanout_")
    counts_dir, alerts_dir = f"{d}/counts", f"{d}/alerts"

    def write_both(batch_df, batch_id):
        batch_df.persist()
        try:
            (
                batch_df.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("append")
                .parquet(counts_dir)
            )
            (
                batch_df.where(F.col("value") > 9.5)
                .select("event_type", "event_id")
                .write.mode("append")
                .parquet(alerts_dir)
            )
        finally:
            batch_df.unpersist()

    q = (
        ev.writeStream.foreachBatch(write_both)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="fps_fanout_ck_")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    counts = (
        spark.read.parquet(counts_dir)
        .groupBy("event_type")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .select(F.lit("counts").alias("sink"),
                F.col("event_type").alias("k"), "n")
    )
    alerts = (
        spark.read.parquet(alerts_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("alerts").alias("sink"),
                F.col("event_type").alias("k"), "n")
    )
    return counts.unionByName(alerts)
