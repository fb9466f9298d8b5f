"""Window TVF inventory (SURVEY §2.4): TUMBLE / HOP / CUMULATE / SESSION
over the events table, evaluated in batch (the streaming forms live in
streaming_queries.py / flink_psl_spark.streaming).

Oracles reconstruct the window assignment in DuckDB with time_bucket /
generate_series / gaps-and-islands SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_psl_spark.queries.registry import query, tables


@query(
    "tumble_window_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def tumble_window_agg(spark, sf_dir):
    """TUMBLE TVF agg (reference SqlTumbleTableFunction.java:37)."""
    from flink_psl_spark.operators import tumble

    t = tables(spark, sf_dir)
    return (
        tumble(t["events"], "ts", "1 hour")
        .groupBy("window_start", "window_end", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "hop_window_agg",
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
def hop_window_agg(spark, sf_dir):
    """HOP TVF agg (reference SqlHopTableFunction.java:38): 1h windows
    sliding every 30m — each row lands in 2 windows."""
    from flink_psl_spark.operators import hop

    t = tables(spark, sf_dir)
    return (
        hop(t["events"], "ts", "30 minutes", "1 hour")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "cumulate_window_agg",
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
def cumulate_window_agg(spark, sf_dir):
    """CUMULATE TVF agg (reference SqlCumulateTableFunction.java:37):
    growing 30m…2h windows — no Spark primitive; see operators.windows.cumulate."""
    from flink_psl_spark.operators import cumulate

    t = tables(spark, sf_dir)
    return (
        cumulate(t["events"], "ts", "30 minutes", "2 hours")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "window_dedup",
    oracle="""
    SELECT user_id, window_start, event_id FROM (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id,
                                time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def window_dedup(spark, sf_dir):
    """Window deduplication (reference StreamExecWindowDeduplicate.java:69):
    first event per (user, tumbling hour window)."""
    from flink_psl_spark.operators import deduplicate, tumble

    t = tables(spark, sf_dir)
    windowed = tumble(t["events"], "ts", "1 hour")
    return deduplicate(
        windowed, ["user_id", "window_start"], ["ts", "event_id"], keep="first"
    ).select("user_id", "window_start", "event_id")


@query(
    "window_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id, time_bucket(INTERVAL '1 hour', ts) AS w
               FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id, time_bucket(INTERVAL '1 hour', ts) AS w
               FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.w AS window_start,
           c.event_id AS click_id, p.event_id AS purchase_id
    FROM c JOIN p ON c.user_id = p.user_id AND c.w = p.w
    """,
)
def window_join(spark, sf_dir):
    """Window join (reference StreamExecWindowJoin.java:69,
    WindowJoinOperator.java:66): clicks and purchases of the same user in
    the same tumbling hour window — equi-join on (key, window)."""
    from flink_psl_spark.operators import tumble

    t = tables(spark, sf_dir)
    c = tumble(
        t["events"].where(F.col("event_type") == "click"), "ts", "1 hour"
    ).select("user_id", F.col("event_id").alias("click_id"), "window_start")
    p = tumble(
        t["events"].where(F.col("event_type") == "purchase"), "ts", "1 hour"
    ).select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("window_start").alias("p_ws"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("window_start") == F.col("p_ws")),
    ).select("user_id", "window_start", "click_id", "purchase_id")


@query(
    "session_window_agg",
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
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def session_window_agg(spark, sf_dir):
    """SESSION windows (reference Session.java:42 /
    EventTimeSessionWindows): Spark's native session_window in batch mode;
    gap = 10 minutes. Oracle: gaps-and-islands."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
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


@query(
    "window_tvf_projection",
    oracle="""
    SELECT event_id,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end
    FROM events WHERE event_type = 'click'
    """,
)
def window_tvf_projection(spark, sf_dir):
    """Window TVF as a pure projection (reference
    StreamExecWindowTableFunction.java:51 — TUMBLE(...) as a table function
    adds window_start/window_end columns without aggregating)."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .where(F.col("event_type") == "click")
        .select("event_id", F.window("ts", "1 hour").alias("w"))
        .select(
            "event_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


@query(
    "session_window_dynamic_gap",
    # oracle: interval-merge via running MAX of (ts + per-row gap) — a new
    # session starts when a row's ts exceeds every earlier row's window end.
    # Session end = MAX(ts + gap) over the session (Spark's dynamic-gap
    # semantics). The running max over ts-sorted rows is tie-order
    # insensitive, so no secondary sort key is needed.
    oracle="""
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN event_type = 'click' THEN INTERVAL '5 minutes'
                  ELSE INTERVAL '15 minutes' END AS gap
      FROM events),
    w AS (
      SELECT *, MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_end
      FROM e),
    b AS (
      SELECT *, CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                     THEN 1 ELSE 0 END AS brk
      FROM w),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM b)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts + gap) AS session_end,
           COUNT(*) AS n
    FROM s GROUP BY user_id, sess
    """,
)
def session_window_dynamic_gap(spark, sf_dir):
    """Dynamic-gap session windows (reference
    DynamicEventTimeSessionWindows / SessionWindowTimeGapExtractor): the
    gap is a per-row expression — clicks close after 5 minutes, everything
    else after 15."""
    t = tables(spark, sf_dir)
    # duration STRINGS, not ANSI interval literals: session_window requires
    # CalendarIntervalType and ANSI literals are DayTimeIntervalType
    gap = F.when(F.col("event_type") == "click", F.lit("5 minutes")).otherwise(
        F.lit("15 minutes")
    )
    return (
        t["events"]
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n",
        )
    )


@query(
    "tumble_window_offset_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts, INTERVAL '15 minutes') AS window_start,
           time_bucket(INTERVAL '1 hour', ts, INTERVAL '15 minutes')
             + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def tumble_window_offset_agg(spark, sf_dir):
    """TUMBLE TVF with alignment offset (reference window TVF optional
    offset arg, SqlTumbleTableFunction.java) — hour windows starting at
    :15, via Spark window startTime."""
    from flink_psl_spark.operators import tumble

    t = tables(spark, sf_dir)
    return (
        tumble(t["events"], "ts", "1 hour", offset="15 minutes")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "window_tvf_sql",
    # the same tumbling rollup as tumble_window_agg, but entered through
    # the Flink SQL TVF clause and rewritten to window() SQL
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def window_tvf_sql(spark, sf_dir):
    """Window TVF SQL syntax (reference SqlTumbleTableFunction.java:37 —
    `FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR))`):
    the clause is rewritten to a window()-projecting subquery
    (temporal_sql.rewrite_window_tvfs) and run through the script client."""
    from flink_psl_spark.sql_client import run_script

    return run_script(
        spark,
        """
        SELECT window_start, event_type, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS total
        FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start, event_type;
        """,
        sf_dir=sf_dir,
    )[-1].df


@query(
    "group_window_sql",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS we,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2, 3
    """,
)
def group_window_sql(spark, sf_dir):
    """Legacy group-window SQL (reference FlinkSqlOperatorTable.java:940 —
    `GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)` + TUMBLE_START/TUMBLE_END):
    rewritten to GROUP BY window() (temporal_sql.rewrite_group_windows)."""
    from flink_psl_spark.sql_client import run_script

    return run_script(
        spark,
        """
        SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws,
               TUMBLE_END(ts, INTERVAL '1' HOUR) AS we,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
        FROM events GROUP BY TUMBLE(ts, INTERVAL '1' HOUR), event_type;
        """,
        sf_dir=sf_dir,
    )[-1].df


@query(
    "cumulate_tvf_sql",
    # same growing-window truth as cumulate_window_agg, via the SQL TVF text
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
def cumulate_tvf_sql(spark, sf_dir):
    """The CUMULATE window TVF as SQL clause text (reference
    SqlCumulateTableFunction.java:37), rewritten by the dialect layer to
    the integer-µs slice-explode subquery — identical semantics to the
    library operator, proven against the same oracle."""
    from flink_psl_spark.temporal_sql import rewrite_flink_sql

    tables(spark, sf_dir)
    return spark.sql(
        rewrite_flink_sql(
            """
            SELECT window_start, window_end, COUNT(*) AS n,
                   ROUND(SUM(value), 2) AS total
            FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts),
                                INTERVAL '30' MINUTES, INTERVAL '2' HOURS))
            GROUP BY window_start, window_end
            """
        )
    )


@query(
    "timeseries_gap_fill",
    # exact replica: per-user hourly grid from first to last observation,
    # latest (ts, event_id) value per bucket, LOCF via
    # LAST_VALUE(... IGNORE NULLS) over the running window
    oracle="""
    WITH e AS (
      SELECT user_id, ts, value, event_id,
             DATE_TRUNC('hour', ts) AS bucket
      FROM events WHERE user_id < 8),
    obs AS (
      SELECT user_id, bucket, value FROM (
        SELECT user_id, bucket, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1),
    span AS (
      SELECT user_id, DATE_TRUNC('hour', MIN(ts)) AS lo,
             DATE_TRUNC('hour', MAX(ts)) AS hi
      FROM e GROUP BY user_id),
    grid AS (
      SELECT user_id, UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 HOUR))
               AS bucket
      FROM span)
    SELECT g.user_id,
           CAST(g.bucket AS TIMESTAMP) AS bucket,
           LAST_VALUE(o.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           o.value IS NULL AS filled
    FROM grid g LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.bucket = o.bucket
    """,
)
def timeseries_gap_fill(spark, sf_dir):
    """Hourly resampling with last-observation-carried-forward over the
    per-user event series: one row per hour per user from first to last
    activity, empty hours carry the latest value and are marked filled
    — the metrics/feature-pipeline primitive missing from both engines'
    builtins."""
    from flink_psl_spark.operators.windows import gap_fill

    t = tables(spark, sf_dir)
    ev = t["events"].where(F.col("user_id") < 8)
    return gap_fill(
        ev, "user_id", "ts", "value",
        bucket="hour", step_expr="interval 1 hour",
        tiebreak_col="event_id",
    )


@query(
    "timeseries_ewma_anomaly",
    # the recurrence replayed exactly: order-proof DECIMAL hourly sums as
    # input, then a recursive CTE stepping s_t = 0.25*x_t + (1-0.25)*s_{t-1}
    # in the same IEEE op order the pandas kernel uses (0.25/0.75 are exact
    # binary, so (1 - 0.25) agrees bit-for-bit on both engines); daily
    # buckets keep the oracle recursion ~30 levels deep
    oracle="""
    WITH RECURSIVE h AS (
      SELECT event_type AS k, DATE_TRUNC('day', ts) AS b,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM events GROUP BY event_type, DATE_TRUNC('day', ts)),
    n AS (
      SELECT k, b, x,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY b) AS rn
      FROM h),
    r (k, rn, b, x, s, res) AS (
      SELECT k, rn, b, x, x, CAST(0.0 AS DOUBLE) FROM n WHERE rn = 1
      UNION ALL
      SELECT n.k, n.rn, n.b, n.x,
             0.25 * n.x + (1 - 0.25) * r.s,
             n.x - r.s
      FROM r JOIN n ON n.k = r.k AND n.rn = r.rn + 1)
    SELECT k AS event_type, CAST(b AS TIMESTAMP) AS bucket_ts,
           ROUND(x, 2) AS x, ROUND(s, 6) AS smoothed,
           ROUND(res, 6) AS residual, ABS(res) > 1200.0 AS anomaly
    FROM r
    """,
)
def timeseries_ewma_anomaly(spark, sf_dir):
    """EWMA smoothing + residual anomaly flags per event type over the
    daily value series — the sequential recurrence (each output depends
    on the previous OUTPUT) that window frames cannot express, run as
    one grouped-map replay per key over the bounded bucket grid."""
    from flink_psl_spark.operators.windows import ewma_anomaly

    t = tables(spark, sf_dir)
    return ewma_anomaly(
        t["events"], "event_type", "ts", "value",
        bucket="day", alpha=0.25, threshold=1200.0,
    )


@query(
    "session_tvf_sql",
    # same gaps-and-islands truth as session_window_agg, via the 1.17+
    # SESSION TVF clause text
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
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def session_tvf_sql(spark, sf_dir):
    """The SESSION window TVF as SQL clause text — the Flink 1.17+ form
    (FLINK-24024; the 1.16 reference ships only TUMBLE/HOP/CUMULATE
    TVFs, so this is forward dialect parity). The rewrite layer turns it
    into a gaps-and-islands subquery; proven against the same oracle as
    the native session_window aggregation."""
    from flink_psl_spark.temporal_sql import rewrite_flink_sql

    tables(spark, sf_dir)
    return spark.sql(
        rewrite_flink_sql(
            """
            SELECT user_id, window_start AS session_start,
                   window_end AS session_end,
                   COUNT(*) AS n, ROUND(SUM(value), 2) AS total
            FROM TABLE(SESSION(TABLE events PARTITION BY user_id,
                               DESCRIPTOR(ts), INTERVAL '10' MINUTES))
            GROUP BY user_id, window_start, window_end
            """
        )
    )
