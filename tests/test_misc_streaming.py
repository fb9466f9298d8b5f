"""Side outputs, async lookup, count windows, streaming OVER, clustering."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F


def test_side_outputs(spark, t):
    from flink_psl_spark.operators import side_outputs

    outs = side_outputs(
        t["events"],
        {
            "clicks": F.col("event_type") == "click",
            "big": F.col("value") > 90,
        },
        rest_tag="other",
    )
    total = t["events"].count()
    n_click = outs["clicks"].count()
    n_big = outs["big"].count()
    n_other = outs["other"].count()
    overlap = t["events"].where(
        (F.col("event_type") == "click") & (F.col("value") > 90)
    ).count()
    assert n_click + n_big + n_other - overlap == total
    assert outs["clicks"].select("event_type").distinct().collect()[0][0] == "click"


def test_write_side_outputs_stream(spark, sf_dir):
    from flink_psl_spark.operators import write_side_outputs
    from flink_psl_spark.streaming import stream_from_parquet

    d = tempfile.mkdtemp(prefix="fps_side_")
    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    written = {}

    def writer(tag, batch, batch_id):
        path = f"{d}/{tag}"
        batch.write.mode("append").parquet(path)
        written[tag] = path

    q = write_side_outputs(
        ev,
        {"clicks": F.col("event_type") == "click"},
        writer,
        checkpoint=f"{d}/ckpt",
        rest_tag="other",
    )
    q.processAllAvailable()
    q.stop()
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want_clicks = batch.where(F.col("event_type") == "click").count()
    assert spark.read.parquet(written["clicks"]).count() == want_clicks
    assert spark.read.parquet(written["other"]).count() == batch.count() - want_clicks


def test_async_lookup_ordered(spark):
    from flink_psl_spark.operators import async_lookup

    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(100)], "id long, name string"
    ).repartition(4)

    def service(req: dict) -> dict:
        import time

        time.sleep(0.001 * (req["id"] % 3))  # variable latency
        return {"enriched": f"{req['name']}:{req['id'] * 2}"}

    out = async_lookup(
        df, service, "id long, name string, enriched string", max_concurrency=8
    )
    rows = out.collect()
    assert len(rows) == 100
    assert all(r["enriched"] == f"{r['name']}:{r['id'] * 2}" for r in rows)


def test_connected_components(spark):
    from flink_psl_spark.llm import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "a long, b long",
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_count_window_state_across_batches(spark):
    """Two-file replay: incomplete window tails must carry across batches."""
    import os

    from flink_psl_spark.streaming import keyed_count_window, run_to_memory_table

    d = tempfile.mkdtemp(prefix="fps_cw_")
    rows1 = [("k", i, float(i)) for i in range(3)]  # 3 rows: no window yet
    rows2 = [("k", i, float(i)) for i in range(3, 7)]  # +4 → windows [0-4]
    spark.createDataFrame(rows1, "k string, o long, v double").coalesce(
        1
    ).write.parquet(f"{d}/src")
    spark.createDataFrame(rows2, "k string, o long, v double").coalesce(
        1
    ).write.mode("append").parquet(f"{d}/src")
    assert len([f for f in os.listdir(f"{d}/src") if f.endswith(".parquet")]) == 2

    st = (
        spark.readStream.schema("k string, o long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
    )
    out = keyed_count_window(st, "k", "o", "v", 5)
    mem = run_to_memory_table(out, output_mode="append")
    got = [(r["window_seq"], r["n"], r["sum_v"]) for r in mem.collect()]
    # exactly one complete window (rows 0..4 → sum 10); tail (5,6) unemitted
    assert got == [(0, 5, 10.0)]


def test_streaming_rows_over_matches_batch(spark, sf_dir, t):
    from flink_psl_spark.streaming import (
        run_to_memory_table,
        stream_from_parquet,
        streaming_rows_over,
    )
    from pyspark.sql.window import Window

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    out = streaming_rows_over(
        ev, "user_id", "ts", "value", 2, payload_cols=["event_id"]
    )
    mem = run_to_memory_table(out, output_mode="append")
    got = {
        (r["event_id"], round(r["run_sum"], 6), r["run_cnt"])
        for r in mem.collect()
    }
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    batch = t["events"].select(
        "event_id",
        F.round(F.sum("value").over(w), 6).alias("s"),
        F.count("*").over(w).alias("c"),
    )
    want = {(r["event_id"], r["s"], r["c"]) for r in batch.collect()}
    assert got == want


def test_late_data_split(spark):
    """Rows behind the running watermark input route to the late channel."""
    import datetime as dt

    from flink_psl_spark.streaming import late_data_split

    TS = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    d = tempfile.mkdtemp(prefix="fps_late_")
    b1 = [(1, TS(0)), (2, TS(30))]
    b2 = [(3, TS(5)), (4, TS(29)), (5, TS(31))]  # 3 is >delay behind max=30
    spark.createDataFrame(b1, "id long, ts timestamp").coalesce(1).write.parquet(
        f"{d}/src"
    )
    spark.createDataFrame(b2, "id long, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/src")

    seen = {"on_time": [], "late": []}

    def writer(on_time, late, batch_id):
        seen["on_time"] += [r["id"] for r in on_time.collect()]
        seen["late"] += [r["id"] for r in late.collect()]

    st = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
    )
    q = late_data_split(st, "ts", "10 minutes", writer, checkpoint=f"{d}/ckpt")
    q.processAllAvailable()
    q.stop()
    assert sorted(seen["late"]) == [3]
    assert sorted(seen["on_time"]) == [1, 2, 4, 5]


def test_cbo_stats_enable_broadcast(spark, t):
    """ANALYZE TABLE feeds CBO row counts (reference FlinkRelMd* statistics
    surface) — statistics must be recorded and visible."""
    import uuid

    name = f"nation_stats_{uuid.uuid4().hex[:8]}"
    try:
        t["nation"].write.mode("overwrite").saveAsTable(name)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        desc = spark.sql(f"DESCRIBE EXTENDED {name}").collect()
        stats = [r for r in desc if r["col_name"] == "Statistics"]
        assert stats and "rows" in stats[0]["data_type"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_streaming_range_over_state_across_batches(spark):
    """Two-file replay: the trailing-interval buffer must rehydrate from
    state — rows in batch 2 see batch-1 rows within their 10-min frame."""
    import datetime
    import os

    from flink_psl_spark.streaming import run_to_memory_table, streaming_range_over

    d = tempfile.mkdtemp(prefix="fps_ro_")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows1 = [("k", ts(0), 1.0), ("k", ts(5), 2.0)]
    rows2 = [("k", ts(12), 4.0), ("k", ts(30), 8.0)]
    schema = "k string, ts timestamp, v double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{d}/src")
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/src")
    assert len([f for f in os.listdir(f"{d}/src") if f.endswith(".parquet")]) == 2

    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
    )
    out = streaming_range_over(st, "k", "ts", "v", "10 minutes")
    mem = run_to_memory_table(out, output_mode="append")
    got = {r["ts"]: (r["run_sum"], r["run_cnt"]) for r in mem.collect()}
    assert got[ts(0)] == (1.0, 1)
    assert got[ts(5)] == (3.0, 2)   # 0' + 5'
    assert got[ts(12)] == (6.0, 2)  # 5' (from state) + 12'; 0' aged out
    assert got[ts(30)] == (8.0, 1)  # everything aged out


def test_async_lookup_with_retry(spark):
    """Flaky service: first call per key fails, retry succeeds — ordered
    results, no silent nulls (AsyncDataStream.orderedWaitWithRetry)."""
    from flink_psl_spark.operators import async_lookup_with_retry

    df = spark.createDataFrame([(i,) for i in range(20)], "k long").coalesce(1)

    def flaky(req):
        # per-process attempt tracking: fail each key exactly once
        seen = getattr(flaky, "_seen", set())
        flaky._seen = seen
        if req["k"] not in seen:
            seen.add(req["k"])
            raise RuntimeError("transient")
        return {"v": req["k"] * 10}

    out = async_lookup_with_retry(
        df, flaky, "k long, v long", max_retries=2, backoff_s=0.001
    )
    rows = out.collect()
    assert [(r["k"], r["v"]) for r in rows] == [(i, i * 10) for i in range(20)]


def test_with_current_watermark_two_batches(spark):
    """CURRENT_WATERMARK parity: batch 1 sees the unset watermark (NULL);
    batch 2 sees max(batch-1 event time) - delay."""
    import datetime as dt
    import os
    import tempfile
    import time

    from flink_psl_spark.streaming import run_to_memory_table
    from flink_psl_spark.streaming.stateful import with_current_watermark

    base = tempfile.mkdtemp(prefix="fps_wm_")
    schema = "k long, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # two files -> two AvailableNow batches (maxFilesPerTrigger=1);
    # distinct mtimes pin the file order the source uses
    spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(minutes=10))], schema
    ).coalesce(1).write.parquet(os.path.join(base, "f1"))
    time.sleep(1.1)
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(minutes=20))], schema
    ).coalesce(1).write.parquet(os.path.join(base, "f2"))
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "*"))
    )
    out = with_current_watermark(src, "ts", "5 minutes", "k")
    got = {
        r["k"]: r["current_watermark"]
        for r in run_to_memory_table(out, output_mode="append").collect()
    }
    assert got[1] is None and got[2] is None  # watermark unset in batch 1
    # batch 2: wm = (t0 + 10min) - 5min
    assert got[3] == t0 + dt.timedelta(minutes=5)


def test_multi_source_watermarks_idleness(spark):
    """WatermarksWithIdleness parity: the combined watermark is the MIN
    over active sources; a source with no data for idle_batches batches is
    marked idle and stops holding the watermark back."""
    import datetime as dt
    import os
    import tempfile
    import time

    from flink_psl_spark.streaming.core import multi_source_watermarks

    base = tempfile.mkdtemp(prefix="fps_msw_")
    schema = "k long, ts timestamp"
    t0 = dt.datetime(2024, 1, 1)

    def write(src, i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(base, src, f"f{i}")
        )
        time.sleep(1.05)  # distinct mtimes pin per-source file order

    # source a: advances every batch; source b: only the first file
    write("a", 1, [(1, t0 + dt.timedelta(minutes=10))])
    write("b", 1, [(2, t0 + dt.timedelta(minutes=2))])
    write("a", 2, [(3, t0 + dt.timedelta(minutes=20))])
    write("a", 3, [(4, t0 + dt.timedelta(minutes=30))])
    write("a", 4, [(5, t0 + dt.timedelta(minutes=40))])

    def read(src):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(base, src, "*"))
        )

    seen = []

    def writer(batch, wm, per_source, batch_id):
        seen.append((batch_id, wm, {s: v["idle"] for s, v in per_source.items()}))

    q = multi_source_watermarks(
        {"a": read("a"), "b": read("b")},
        "ts",
        "1 minutes",
        writer,
        idle_batches=2,
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    wm_by_batch = {b: (wm, idle) for b, wm, idle in seen}
    m = dt.timedelta(minutes=1)
    # batch 0: both sources produced -> min(a=10, b=2) - 1m
    assert wm_by_batch[0][0] == t0 + dt.timedelta(minutes=2) - m
    assert wm_by_batch[0][1] == {"a": False, "b": False}
    # batch 1: b has no data but is not yet idle -> watermark held at b's
    assert wm_by_batch[1][0] == t0 + dt.timedelta(minutes=2) - m
    # batch 2: b idle (2 dataless batches) -> combined follows a (30 - 1m)
    assert wm_by_batch[2][1]["b"] is True
    assert wm_by_batch[2][0] == t0 + dt.timedelta(minutes=30) - m
    # batch 3: still only a active
    assert wm_by_batch[3][0] == t0 + dt.timedelta(minutes=40) - m


def test_timer_session_agg_fires_and_retains(spark):
    """Event-time timer sessions: a closed session (watermark passed
    last+gap) emits; the tail session the watermark has not proven stays
    in state and does NOT emit — the onTimer contract."""
    import datetime as dt
    import tempfile

    from flink_psl_spark.streaming import run_to_memory_table, timer_session_agg

    TS = lambda m, s=0: dt.datetime(2024, 1, 1, 0, m, s)  # noqa: E731
    schema = "k string, ts timestamp, v double"
    rows = [
        # session 1: two rows 1 min apart
        ("a", TS(0), 1.0), ("a", TS(1), 2.0),
        # >= 10 min gap -> session 2 (single row)
        ("a", TS(20), 5.0),
        # watermark driver: max ts 50 -> wm 40 with 10-min delay
        ("b", TS(50), 0.5),
    ]
    d = tempfile.mkdtemp(prefix="fps_tsess_")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/src")
    st = spark.readStream.schema(schema).parquet(f"{d}/src")
    out = timer_session_agg(
        st, "k", "ts", "v", gap="10 minutes", delay="10 minutes"
    )
    got = {
        (r["k"], r["session_start"], r["session_end"], r["n"], r["total"])
        for r in run_to_memory_table(out, output_mode="append").collect()
    }
    # sessions ending <= wm(=40): a/[0,1+10], a/[20,30]; b's tail is open
    assert got == {
        ("a", TS(0), TS(11), 2, 3.0),
        ("a", TS(20), TS(30), 1, 5.0),
    }


def test_stream_gap_fill_carries_past_last_observation(spark, tmp_path):
    from pyspark.sql import functions as F

    from flink_psl_spark.streaming import (
        run_to_memory_table,
        stream_from_parquet,
        stream_gap_fill,
    )

    rows = [
        ("u", "2024-01-01 00:15:00", 1.0),
        ("u", "2024-01-01 03:10:00", 7.0),
        ("z", "2024-01-01 10:00:00", 0.0),  # watermark driver
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "gf")
    # two files → the cross-batch timer/carry path runs
    df.where("k = 'u'").coalesce(1).write.parquet(src)
    df.where("k = 'z'").coalesce(1).write.mode("append").parquet(src)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    out = stream_gap_fill(stream, "k", "ts", "v", delay="1 second")
    got = {
        (r["k"], str(r["bucket"])): (r["v"], r["filled"])
        for r in run_to_memory_table(out, output_mode="append").collect()
    }
    # wm = 10:00:00 - 1s → u's buckets 00..08 are final; z's 10:00 is not
    assert len(got) == 9 and all(k == "u" for k, _ in got)
    assert got[("u", "2024-01-01 00:00:00")] == (1.0, False)
    assert got[("u", "2024-01-01 01:00:00")] == (1.0, True)
    assert got[("u", "2024-01-01 03:00:00")] == (7.0, False)
    # carried PAST u's last observation while z advances the watermark
    for h in (4, 5, 6, 7, 8):
        assert got[("u", f"2024-01-01 0{h}:00:00")] == (7.0, True)


def test_stream_ewma_matches_batch_on_finalized_buckets(spark, tmp_path):
    from pyspark.sql import functions as F

    from flink_psl_spark.operators.windows import ewma_anomaly
    from flink_psl_spark.streaming import (
        run_to_memory_table,
        stream_from_parquet,
        stream_ewma_anomaly,
    )

    rows = [
        ("a", "2024-01-01 10:00:00", 100.0),
        ("a", "2024-01-01 11:00:00", 50.5),   # same day: sums to 150.5
        ("a", "2024-01-02 09:00:00", 400.0),
        ("a", "2024-01-03 09:00:00", 80.0),
        ("z", "2024-01-05 00:00:00", 1.0),    # watermark driver
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "ewma")
    # two files -> the cross-batch state/timer path runs
    df.where("k = 'a'").coalesce(1).write.parquet(src)
    df.where("k = 'z'").coalesce(1).write.mode("append").parquet(src)
    stream = stream_from_parquet(spark, src, max_files_per_trigger=1)
    out = stream_ewma_anomaly(
        stream, "k", "ts", "v",
        bucket_ms=86_400_000, alpha=0.25, threshold=200.0,
    )
    got = {
        (r["k"], str(r["bucket_ts"])): (
            r["x"], round(r["smoothed"], 6), round(r["residual"], 6),
            r["anomaly"],
        )
        for r in run_to_memory_table(out, output_mode="append").collect()
    }
    # wm = 01-05 - 1s: a's three day-buckets final, z's partial day is not
    assert set(got) == {
        ("a", "2024-01-01 00:00:00"),
        ("a", "2024-01-02 00:00:00"),
        ("a", "2024-01-03 00:00:00"),
    }
    # the batch operator on the same finalized subset agrees bit-for-bit
    batch = ewma_anomaly(
        df.where("k = 'a'"), "k", "ts", "v",
        bucket="day", alpha=0.25, threshold=200.0,
    )
    want = {
        (r["k"], str(r["bucket_ts"])): (
            r["x"], r["smoothed"], r["residual"], r["anomaly"]
        )
        for r in batch.collect()
    }
    assert got == want
    # the known recurrence: s1=150.5; s2=.25*400+.75*150.5; res2=249.5>200
    assert got[("a", "2024-01-02 00:00:00")][2] == 249.5
    assert got[("a", "2024-01-02 00:00:00")][3] is True
    assert not got[("a", "2024-01-03 00:00:00")][3]


def test_stream_ewma_restart_recovers_state(spark, tmp_path):
    """Stop/restart from the checkpoint: the carried smoothed value and
    the watermark survive, so a bucket finalized AFTER the restart
    continues the recurrence instead of restarting it."""
    from pyspark.sql import functions as F

    from flink_psl_spark.operators.windows import ewma_anomaly
    from flink_psl_spark.streaming import stream_ewma_anomaly

    schema = "k string, ts string, v double"
    src, out, ck = (
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    )

    def write(rows):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )
        df.coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("k string, ts timestamp, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_ewma_anomaly(
                stream, "k", "ts", "v",
                bucket_ms=86_400_000, alpha=0.25, threshold=200.0,
                delay="1 second",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # phase 1: a's days 1-2, watermark driven to day 3
    write([("a", "2024-01-01 10:00:00", 100.0),
           ("a", "2024-01-02 10:00:00", 400.0)])
    write([("z", "2024-01-03 00:00:01", 1.0)])
    run()
    n_phase1 = spark.read.parquet(out).where("k = 'a'").count()
    assert n_phase1 == 2  # days 1 and 2 finalized before the restart

    # phase 2 (restart from ck): a's days 3-4, watermark to day 6 —
    # day 3's residual must continue from the RECOVERED smoothed value
    write([("a", "2024-01-03 10:00:00", 80.0),
           ("a", "2024-01-04 10:00:00", 90.0)])
    write([("z", "2024-01-06 00:00:01", 1.0)])
    run()

    got = {
        str(r["bucket_ts"]): (r["x"], r["smoothed"], r["residual"])
        for r in spark.read.parquet(out).where("k = 'a'").collect()
    }
    batch = {
        str(r["bucket_ts"]): (r["x"], r["smoothed"], r["residual"])
        for r in ewma_anomaly(
            spark.createDataFrame(
                [("a", "2024-01-01 10:00:00", 100.0),
                 ("a", "2024-01-02 10:00:00", 400.0),
                 ("a", "2024-01-03 10:00:00", 80.0),
                 ("a", "2024-01-04 10:00:00", 90.0)],
                schema,
            ).withColumn("ts", F.to_timestamp("ts")),
            "k", "ts", "v",
            bucket="day", alpha=0.25, threshold=200.0,
        ).collect()
    }
    assert len(got) == 4 and got == batch
    # the restart-crossing bucket: s2 = .25*400 + .75*100 = 175;
    # res(day3) = 80 - 175 = -95 — only correct if state was recovered
    assert got["2024-01-03 00:00:00"][2] == -95.0


def test_stream_sft_mask_restart_recovers_sessions(spark, tmp_path):
    """An UNFINISHED session buffered at shutdown must finalize correctly
    after a checkpoint restart, with the per-key session ordinal intact."""
    from pyspark.sql import functions as F

    from flink_psl_spark.streaming import stream_sft_loss_mask

    schema = "u int, ts string, eid int, et string"
    src, out, ck = (
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    )

    def write(rows):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )
        df.coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(
                "u int, ts timestamp, eid int, et string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_sft_loss_mask(
                stream, "u", "ts", "et", "eid",
                gap="30 minutes", delay="1 second",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # phase 1: session 1 completes (watermark passes it); session 2's
    # first turn arrives but stays buffered at shutdown
    write([(7, "2024-01-01 10:00:00", 1, "hello"),
           (7, "2024-01-01 10:01:00", 2, "hi")])
    write([(7, "2024-01-01 12:00:00", 3, "question"),
           (9, "2024-01-01 12:01:00", 99, "wm")])
    run()
    p1 = spark.read.parquet(out).where("u = 7").collect()
    assert [(r["session_n"], r["turn_idx"]) for r in p1] == [(1, 2)]

    # phase 2 (restart): session 2's reply arrives (NEWER than the
    # persisted watermark), then the watermark closes the session — the
    # buffered first turn and the ordinal must have been recovered
    write([(7, "2024-01-01 12:05:00", 4, "answer"),
           (9, "2024-01-01 14:00:00", 100, "wm")])
    run()
    got = {
        (r["session_n"], r["turn_idx"]): (r["mask_start"], r["mask_end"],
                                          r["render_len"])
        for r in spark.read.parquet(out).where("u = 7").collect()
    }
    assert got == {
        # session 1: "<u>hello<a>hi" -> "hi" spans [11, 13)
        (1, 2): (11, 13, 13),
        # session 2: "<u>question<a>answer" -> "answer" spans [14, 20)
        (2, 2): (14, 20, 20),
    }
