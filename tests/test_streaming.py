"""Streaming tests: replay-to-completion programs must match their batch
equivalents (SURVEY §5.2/§5.3 analogue — ITCase + harness style)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    from flink_psl_spark.streaming import stream_from_parquet

    def make():
        return stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")

    return make


def test_stream_tumble_agg_matches_batch(spark, sf_dir, events_stream, t):
    from flink_psl_spark.streaming import run_to_memory_table, streaming_tumble_agg

    agg = streaming_tumble_agg(
        events_stream(),
        ts_col="ts",
        size="1 hour",
        delay="10 minutes",
        group_by=["event_type"],
        aggs=[F.count("*").alias("n")],
    )
    got = run_to_memory_table(agg, output_mode="complete")

    batch = (
        t["events"]
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_dedup_matches_batch(spark, events_stream, t):
    from flink_psl_spark.streaming import run_to_memory_table, streaming_dedup

    out = streaming_dedup(events_stream(), ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    got = run_to_memory_table(out, output_mode="append")
    batch = t["events"].select("user_id", "event_type").distinct()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_dedup_within_watermark(spark, events_stream):
    from flink_psl_spark.streaming import run_to_memory_table, streaming_dedup

    out = streaming_dedup(
        events_stream(),
        ["user_id", "event_type"],
        ts_col="ts",
        delay="1 hour",
        within_watermark=True,
    ).select("user_id", "event_type")
    got = run_to_memory_table(out, output_mode="append")
    # bounded replay arrives as one batch → exactly the distinct set
    assert got.count() == got.select("user_id", "event_type").distinct().count()


def test_streaming_interval_join(spark, events_stream, t):
    from flink_psl_spark.streaming import run_to_memory_table, streaming_interval_join

    clicks = events_stream().where(F.col("event_type") == "click")
    purchases = (
        events_stream()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = streaming_interval_join(
        clicks.select("user_id", F.col("event_id").alias("click_id"), "ts"),
        purchases,
        on=None,
        left_ts="ts",
        right_ts="p_ts",
        lower="'0' SECOND",
        upper="'10' MINUTE",
        left_delay="10 minutes",
        right_delay="10 minutes",
        key_cond=("user_id", "p_user_id"),
    )
    got = run_to_memory_table(
        joined.select("user_id", "click_id", "purchase_id"), output_mode="append"
    )

    ev = t["events"]
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (F.col("pts") >= F.col("ts"))
        & (F.col("pts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("user_id", "click_id", "purchase_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_keyed_top_n_state_matches_batch(spark, events_stream, t):
    """Streaming Top-N final state == batch top-n (reference
    AppendOnlyTopNFunction semantics)."""
    from flink_psl_spark.operators import deduplicate, top_n
    from flink_psl_spark.streaming import keyed_top_n, run_to_memory_table

    updates = keyed_top_n(
        events_stream(), "user_id", "value", 3,
        payload_cols=["event_id"], descending=True,
    )
    mem = run_to_memory_table(updates, output_mode="update")
    final = deduplicate(
        mem.withColumn("__seq", F.monotonically_increasing_id()),
        ["user_id", "rank"],
        ["__seq"],
        keep="last",
    ).select("user_id", "rank", "value", "event_id")

    batch = top_n(
        t["events"],
        "user_id",
        [F.col("value").desc(), F.col("event_id")],
        3,
        rank_col="rank",
    ).select("user_id", "rank", "value", "event_id")

    assert set(map(tuple, final.collect())) == set(map(tuple, batch.collect()))


def test_streaming_iterate_unbounded_loop(spark):
    """Unbounded iteration via the filesystem feedback edge (reference
    DataStream.iterate / IterativeStream.closeWith): countdown rows re-enter
    the loop until they hit zero, then emit."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_psl_spark.streaming.core import streaming_iterate

    base = tempfile.mkdtemp(prefix="fps_iter_t_")
    src_dir = os.path.join(base, "src")
    schema = "k long, v long"
    spark.createDataFrame(
        [(i, i % 4) for i in range(12)], schema
    ).coalesce(1).write.parquet(src_dir)
    source = spark.readStream.schema(schema).parquet(src_dir)

    def body(batch):
        return batch.select("k", (F.col("v") - 1).alias("v"))

    query, handle = streaming_iterate(
        spark, source, body, "v >= 0",
        schema=schema, work_dir=base, trigger_seconds=0.3,
    )
    out = handle.drain(timeout_sec=180)
    rows = sorted((r["k"], r["v"]) for r in out.collect())
    # every row decrements until it leaves at v = -1; each k exactly once
    assert rows == [(k, -1) for k in range(12)]
    assert not query.isActive


def test_session_transcripts_cross_batch(spark, tmp_path):
    """Sessions spanning micro-batches assemble into ONE transcript; the
    per-key ordinal counts finalized sessions across batches; only
    sessions the final watermark passed are emitted."""
    import datetime as dt

    from flink_psl_spark.streaming import session_transcripts

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = lambda mins: t0 + dt.timedelta(minutes=mins)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    # batch 1: session A opens; batch 2: session A continues, then a
    # 40-min gap opens session B, then a watermark-advancing tail row
    b1 = [(1, m(0), 7, "a"), (2, m(5), 7, "b")]
    b2 = [
        (3, m(10), 7, "c"),
        (4, m(50), 7, "d"),           # > 30 min after m(10) -> new session
        (5, m(300), 99, "z"),         # advances wm to m(290)
    ]
    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp_path}/src")
    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/src")
    )
    out = session_transcripts(
        st, "user_id", "ts", "event_type", "event_id",
        gap="30 minutes", delay="10 minutes",
    )
    from flink_psl_spark.streaming import run_to_memory_table

    got = {
        (r["user_id"], r["session_n"]): r
        for r in run_to_memory_table(out, output_mode="append").collect()
    }
    # user 7: session 1 = a b c (m0-m10), session 2 = d (m50);
    # both finalized (wm = m290); user 99's session not finalized
    assert set(got) == {(7, 1), (7, 2)}
    assert got[(7, 1)]["transcript"] == "a b c"
    assert got[(7, 1)]["n_turns"] == 3
    assert got[(7, 2)]["transcript"] == "d"
    assert got[(7, 2)]["first_ts"] == m(50)


def test_stateful_ops_tolerate_null_keys_and_values(spark, tmp_path):
    """Degenerate-input sweep, streaming-stateful leg (r12): NULL keys
    must form their own state group (like groupBy) and NULL order/value
    cells must rank/aggregate with batch NULL semantics — no task
    crashes. Probed across keyed_top_n / keyed_running_agg /
    keyed_count_window / streaming_rows_over this round; pinned here on
    the two canonical shapes."""
    import datetime as dt

    from flink_psl_spark.streaming import (
        run_to_memory_table,
        stream_from_parquet,
    )
    from flink_psl_spark.streaming.stateful import (
        keyed_running_agg,
        keyed_top_n,
    )

    rows = [
        ("a", 3.0, dt.datetime(2024, 1, 1, 0, 0)),
        (None, 5.0, dt.datetime(2024, 1, 1, 0, 1)),
        ("a", None, dt.datetime(2024, 1, 1, 0, 2)),
        (None, None, dt.datetime(2024, 1, 1, 0, 3)),
        ("b", 1.0, dt.datetime(2024, 1, 1, 0, 4)),
        ("a", 7.0, dt.datetime(2024, 1, 1, 0, 5)),
    ]
    src = str(tmp_path / "null_keys_src")
    spark.createDataFrame(
        rows, "k string, v double, ts timestamp"
    ).coalesce(1).write.parquet(src)

    out = run_to_memory_table(
        keyed_top_n(stream_from_parquet(spark, src), "k", "v", 2),
        output_mode="update",
    )
    got = {(r["k"], r["rank"]): r["v"] for r in out.collect()}
    # NULL key forms its own group; NULL order values sort last (batch
    # desc NULLS LAST semantics) but stay visible
    assert got[("a", 1)] == 7.0 and got[("a", 2)] == 3.0
    assert got[(None, 1)] == 5.0 and got[(None, 2)] is None
    assert got[("b", 1)] == 1.0

    agg = run_to_memory_table(
        keyed_running_agg(stream_from_parquet(spark, src), "k", "v"),
        output_mode="update",
    )
    assert agg.count() == 3  # one refreshed row per key incl. NULL
