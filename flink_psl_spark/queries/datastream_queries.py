"""DataStream-facade query inventory (SURVEY §2.2 rows: DataStream row
ops, keyed rolling aggregates, side outputs — reference DataStream.java /
KeyedStream.java / OutputTag side outputs).

These rows were previously pytest-verified only; each query here drives the
facade end-to-end with an exact SQL oracle so the driver can hash-check
them like the relational surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_psl_spark.queries.registry import query, tables


@query(
    "datastream_side_output_split",
    # OutputTag split: overlapping tags allowed; 'rest' collects rows
    # matching neither condition (NULL-condition rows fall nowhere, the
    # same three-valued WHERE semantics in both engines)
    oracle="""
    SELECT 'errors' AS tag, COUNT(*) AS n FROM events
    WHERE event_type = 'error'
    UNION ALL
    SELECT 'high_value' AS tag, COUNT(*) AS n FROM events
    WHERE value > 8
    UNION ALL
    SELECT 'rest' AS tag, COUNT(*) AS n FROM events
    WHERE NOT (event_type = 'error') AND NOT (value > 8)
    """,
)
def datastream_side_output_split(spark, sf_dir):
    """Side outputs (reference OutputTag / ProcessFunction.Context.output):
    one pass split into tagged outputs plus a rest channel, counted per
    tag (operators/misc.py:side_outputs)."""
    from flink_psl_spark.operators.misc import side_outputs

    t = tables(spark, sf_dir)
    outs = side_outputs(
        t["events"],
        {
            "errors": F.col("event_type") == "error",
            "high_value": F.col("value") > 8,
        },
        rest_tag="rest",
    )
    parts = [
        df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tag).alias("tag"), "n"
        )
        for tag, df in outs.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "datastream_keyed_sum",
    oracle="""
    SELECT user_id, ROUND(SUM(value), 2) AS value FROM events GROUP BY user_id
    """,
)
def datastream_keyed_sum(spark, sf_dir):
    """KeyedStream rolling sum's final value (reference KeyedStream.sum:767)
    through the DataStream facade — keyBy + sum compiles to a plain
    hash aggregation (map-side partial combine, one shuffle)."""
    from flink_psl_spark.datastream import DataStream

    t = tables(spark, sf_dir)
    ds = (
        DataStream(t["events"].select("user_id", "value"))
        .key_by("user_id")
        .sum("value")
    )
    return ds.df.select("user_id", F.round("value", 2).alias("value"))


@query(
    "datastream_map_filter",
    # map (mapInPandas, Arrow-batched) then filter: doubling a float is
    # bit-exact in both engines, so the oracle replays the arithmetic
    oracle="""
    SELECT event_id, user_id, value * 2 AS v2 FROM events
    WHERE value * 2 > 10
    """,
)
def datastream_map_filter(spark, sf_dir):
    """DataStream.map -> DataStream.filter (reference DataStream.map:585 /
    filter:638): an Arrow-batched row transform feeding a predicate, the
    canonical row-ops pipeline."""
    from flink_psl_spark.datastream import DataStream

    t = tables(spark, sf_dir)
    src = t["events"].select("event_id", "user_id", "value")

    def double(row):
        return {
            "event_id": row["event_id"],
            "user_id": row["user_id"],
            "v2": row["value"] * 2,
        }

    ds = (
        DataStream(src)
        .map(double, "event_id long, user_id long, v2 double")
        .filter("v2 > 10")
    )
    return ds.df


@query(
    "values_inline_rows",
    # inline VALUES relation aggregated — independent of the fixture tables
    oracle="""
    SELECT k, ROUND(SUM(CAST(v AS DOUBLE)), 2) AS sv, COUNT(*) AS n
    FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'a', 0.5),
                 (4, 'b', 4.0), (5, 'a', 3.25)) AS t(id, k, v)
    GROUP BY k
    """,
)
def values_inline_rows(spark, sf_dir):
    """Values source (reference TableEnvironment.fromValues /
    StreamExecValues): inline rows through the DataStream facade, then a
    keyed aggregate."""
    from flink_psl_spark.datastream import DataStream

    ds = DataStream.from_collection(
        spark,
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 0.5), (4, "b", 4.0), (5, "a", 3.25)],
        "id long, k string, v double",
    )
    return ds.df.groupBy("k").agg(
        F.round(F.sum("v"), 2).alias("sv"), F.count(F.lit(1)).alias("n")
    )


@query(
    "filesystem_partitioned_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
    FROM events GROUP BY event_type
    """,
)
def filesystem_partitioned_roundtrip(spark, sf_dir):
    """Filesystem connector roundtrip (reference FileSystemTableSource /
    Sink with partition keys): write the events table partitioned by
    event_type, read it back off disk, aggregate — partition values must
    survive the directory encoding exactly."""
    import tempfile

    t = tables(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="fps_fs_part_")
    t["events"].write.partitionBy("event_type").mode("overwrite").parquet(d)
    back = spark.read.parquet(d)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )


@query(
    "jdbc_roundtrip_agg",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey <= 5000 GROUP BY o_orderstatus
    """,
)
def jdbc_roundtrip_agg(spark, sf_dir):
    """JDBC connector (reference JdbcDynamicTableFactory, ID "jdbc")
    against Spark's bundled embedded Derby: write a slice of orders, read
    it back with a pushed-down filter, aggregate."""
    import uuid

    from flink_psl_spark.sources import jdbc_table

    t = tables(spark, sf_dir)
    url = f"jdbc:derby:memory:fpsq_{uuid.uuid4().hex[:8]};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    (
        t["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_slice")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    back = jdbc_table(spark, url, "orders_slice", driver=driver).where(
        F.col("o_orderkey") <= 5000
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "datastream_broadcast_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n
    FROM events e JOIN customer c ON e.user_id % 100 = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def datastream_broadcast_join(spark, sf_dir):
    """DataStream broadcast-dim join (reference DataStream.broadcast:434):
    the dim side ships to every task, no shuffle on the fact side."""
    from flink_psl_spark.datastream import DataStream

    t = tables(spark, sf_dir)
    ds = DataStream(t["events"]).broadcast_join(
        t["customer"], F.col("user_id") % 100 == F.col("c_custkey")
    )
    return ds.df.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


@query(
    "async_lookup_enrich",
    # the async fn is deterministic arithmetic, so the oracle replays it;
    # ordered-wait semantics leave row identity untouched
    oracle="""
    SELECT event_id, user_id, user_id * 3 + 1 AS enriched FROM events
    """,
)
def async_lookup_enrich(spark, sf_dir):
    """Async I/O enrichment (reference AsyncDataStream.orderedWait:165):
    thread-pooled per-row lookups inside one Arrow batch hop. The scan
    is fanned out first: the lookup stage is Python-call-bound and the
    events table arrives as one input split, which would serialize
    every call on one core (async_lookup itself preserves the caller's
    partition layout — per-partition order is its contract)."""
    from flink_psl_spark.operators.misc import async_lookup
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    src = ensure_parallelism(t["events"].select("event_id", "user_id"))

    def lookup(row):
        return {"enriched": row["user_id"] * 3 + 1}

    return async_lookup(
        src,
        lookup,
        "event_id long, user_id long, enriched long",
        key_cols=["user_id"],
    )


@query(
    "file_compaction_roundtrip",
    # compaction must preserve the data exactly — the aggregate over the
    # compacted table equals the aggregate over the source table
    oracle="""
    SELECT COUNT(*) AS n, ROUND(SUM(value), 2) AS sv,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    """,
)
def file_compaction_roundtrip(spark, sf_dir):
    """File-sink compaction (reference FileCompactStrategy +
    ConcatFileCompactor): scatter events into many small files, compact to
    the target size, read the compacted table back — contents must be
    byte-for-byte preserved and the file count must shrink."""
    import os
    import tempfile

    from flink_psl_spark.sources import compact_table

    t = tables(spark, sf_dir)
    d = os.path.join(tempfile.mkdtemp(prefix="fps_compactq_"), "tbl")
    t["events"].repartition(16).write.parquet(d)
    plan = compact_table(spark, d, target_file_bytes=512 * 1024 * 1024)
    assert plan["compacted"], plan  # the trigger must fire on 16 small files
    back = spark.read.parquet(d)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sv"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "sql_client_script",
    # the script's final SELECT over the view it created
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events
    WHERE value > 5 GROUP BY event_type
    """,
)
def sql_client_script(spark, sf_dir):
    """SQL client script mode (reference sql-client -f): SET options, a
    view-creating DDL statement, and a final query — the last statement's
    DataFrame is the script result (sql_client.run_script)."""
    from flink_psl_spark.sql_client import run_script

    results = run_script(
        spark,
        """
        SET 'spark.sql.shuffle.partitions' = '8';
        CREATE OR REPLACE TEMP VIEW hot_events AS
          SELECT * FROM events WHERE value > 5;
        SELECT event_type, COUNT(*) AS n FROM hot_events GROUP BY event_type;
        """,
        sf_dir=sf_dir,
    )
    return results[-1].df


@query(
    "explain_plan_shape",
    # the optimized-plan operator tree for the fixed statement, flattened
    # to (pos, depth, op) pre-order rows — plan shape is schema-driven,
    # so the expected tree is a constant
    oracle="""
    SELECT * FROM (VALUES
      (0, 0, 'Aggregate'),
      (1, 1, 'Project'),
      (2, 2, 'Filter'),
      (3, 3, 'LogicalRelation')) AS t(pos, depth, op)
    """,
)
def explain_plan_shape(spark, sf_dir):
    """The EXPLAIN statement surface (reference ExplainDetail.java /
    PlannerBase.explain sections; compiled-plan snapshots
    ExecNodeGraph.java:29): run ``EXPLAIN PLAN FOR`` through the script
    client, assert the reference's section triple is present, and return
    the statement's optimized-plan signature rows (plans.plan_signature —
    the golden-snapshot unit). Pushdown sanity lives in the shape itself:
    Filter sits directly on the relation, below the aggregate."""
    from flink_psl_spark.plans import plan_signature, signature_rows
    from flink_psl_spark.sql_client import run_script

    stmt = (
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "WHERE o_totalprice > 100 GROUP BY o_orderpriority"
    )
    text = run_script(spark, f"EXPLAIN PLAN FOR {stmt};", sf_dir=sf_dir)[
        -1
    ].df.collect()[0][0]
    for header in (
        "== Abstract Syntax Tree ==",
        "== Optimized Physical Plan ==",
        "== Optimized Execution Plan ==",
    ):
        if header not in text:
            raise AssertionError(f"EXPLAIN output missing section {header}")
    rows = signature_rows(plan_signature(spark.sql(stmt), "optimized"))
    return spark.createDataFrame(rows, "pos int, depth int, op string")


@query(
    "sql_gateway_rest",
    # what the gateway executed and paged back over HTTP
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
    FROM events GROUP BY event_type
    """,
)
def sql_gateway_rest(spark, sf_dir):
    """SQL gateway REST roundtrip (reference flink-sql-gateway
    SqlGateway.java:46, ExecuteStatementHeaders / FetchResultsHeaders):
    open a session over HTTP, execute an aggregate statement, follow
    nextResultUri pages (page size 2 forces pagination), rebuild the result
    as a DataFrame. Control-plane surface: the rows that transit REST here
    are the aggregated output, not the scan."""
    from flink_psl_spark.gateway import GatewayClient, SqlGateway

    tables(spark, sf_dir)
    gw = SqlGateway(spark).start()
    try:
        client = GatewayClient(gw.url)
        h = client.open_session()
        op = client.execute(
            h,
            "SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sv "
            "FROM events GROUP BY event_type",
        )
        assert client.status(h, op) == "FINISHED"
        cols, rows = client.fetch_all(h, op, page_size=2)
        client.close_session(h)
    finally:
        gw.stop()
    return spark.createDataFrame(
        [tuple(r) for r in rows], schema="event_type string, n bigint, sv double"
    )


@query(
    "bucketed_join_agg",
    # bucketing changes the physical layout only — results equal the plain
    # join+aggregate
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def bucketed_join_agg(spark, sf_dir):
    """Bucketed-table co-located join (reference: the batch planner's
    exchange-removal over pre-partitioned inputs; Spark primitive:
    bucketBy): both sides are written bucketed on the join key, the join +
    per-key aggregate then run with ZERO exchanges (asserted on the plan —
    the 100 TB path for repeatedly-joined fact tables)."""
    from flink_psl_spark.operators.bucketing import (
        cobucketed_join,
        join_is_exchange_free,
        write_bucketed,
    )

    t = tables(spark, sf_dir)
    write_bucketed(
        t["orders"].select(F.col("o_custkey").alias("custkey"), "o_totalprice"),
        "q_b_orders", bucket_cols=["custkey"], num_buckets=8,
        sort_cols=["custkey"],
    )
    write_bucketed(
        t["customer"].select(F.col("c_custkey").alias("custkey"), "c_mktsegment"),
        "q_b_customer", bucket_cols=["custkey"], num_buckets=8,
        sort_cols=["custkey"],
    )
    joined = cobucketed_join(spark, "q_b_orders", "q_b_customer", on=["custkey"])
    out = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    # the plan that runs: the join itself is exchange-free (both sides
    # co-bucketed); the segment rollup above it shuffles 5 aggregate rows
    assert join_is_exchange_free(out), "bucketed join must be shuffle-free"
    return out


@query(
    "metadata_columns_read",
    # the fixture table is a single parquet file named events.parquet, so
    # the metadata-derived file name is a checkable constant; row counts
    # prove every row carried the metadata projection
    oracle="""
    SELECT 'events.parquet' AS src_file, event_type, COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def metadata_columns_read(spark, sf_dir):
    """Connector metadata columns (reference SupportsReadingMetadata.java:65,
    DDL `METADATA FROM 'file.name' VIRTUAL`): scan-time _metadata projection
    joined into an aggregate — zero extra I/O, constant per file."""
    import os

    from flink_psl_spark.sources import read_with_metadata

    df = read_with_metadata(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        metadata={"src_file": "file.name"},
    )
    return df.groupBy("src_file", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "datastream_iterate_countdown",
    # the loop's fixpoint is closed-form: v0 = event_id % 7 decremented by
    # 2 per round until negative -> final v = (v0 % 2) - 2
    oracle="""
    SELECT event_id,
           CAST((event_id % 7) % 2 - 2 AS BIGINT) AS v
    FROM events
    """,
)
def datastream_iterate_countdown(spark, sf_dir):
    """Bounded iteration (reference DataStream.iterate / closeWith): rows
    re-enter the loop while the feedback predicate holds; every emitted row
    left the loop the first time its value went negative."""
    from flink_psl_spark.datastream import DataStream

    t = tables(spark, sf_dir)
    src = t["events"].select(
        "event_id", (F.col("event_id") % 7).cast("bigint").alias("v")
    )
    out = DataStream(src).iterate(
        lambda d: DataStream(d.df.select("event_id", (F.col("v") - 2).alias("v"))),
        "v >= 0",
        max_iterations=10,
    )
    return out.df


@query(
    "twophase_sink_roundtrip",
    # the 2PC publish is all-or-nothing: once committed, the JSONL payload
    # equals the source slice exactly
    oracle="""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
    FROM orders WHERE o_orderkey < 2000
    """,
)
def twophase_sink_roundtrip(spark, sf_dir):
    """Two-phase-commit custom sink (reference Sink API / FileSink's
    .inprogress -> publish protocol; sources_v2.PyJsonlTpcWriter): rows
    stream to side files, the driver commit renames them into place with a
    _SUCCESS manifest; reading back the published files reproduces the
    source slice exactly."""
    import os
    import tempfile

    from flink_psl_spark.sources_v2 import register_python_sources

    register_python_sources(spark)
    t = tables(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="fps_tpc_q_"), "sink")
    src = (
        t["orders"]
        .where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey", "o_orderstatus",
            F.round("o_totalprice", 2).alias("price"),
        )
    )
    src.repartition(4).write.format("pyjsonl").option("path", out).mode(
        "append"
    ).save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, price double"
    ).json(os.path.join(out, "*.jsonl"))
    return back


@query(
    "jdbc_upsert_roundtrip",
    # the upserted table state: keys 0-9 keep their original name, keys
    # 10-24 carry the batch's updated/inserted value
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey >= 10 THEN n_name || '_v2'
                ELSE n_name END AS n_name
    FROM nation
    """,
)
def jdbc_upsert_roundtrip(spark, sf_dir):
    """JDBC UPSERT sink (reference JdbcDynamicTableSink upsert mode):
    distributed staging append + one set-based MERGE in the database —
    existing keys update, new keys insert; read the merged state back."""
    import uuid

    from flink_psl_spark.sources import jdbc_table, jdbc_upsert_write

    t = tables(spark, sf_dir)
    url = f"jdbc:derby:memory:fpsu_{uuid.uuid4().hex[:8]};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    nation = t["nation"].select("n_nationkey", "n_name")
    (
        nation.where(F.col("n_nationkey") < 15)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_upsert")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    batch = nation.where(F.col("n_nationkey") >= 10).select(
        "n_nationkey", F.concat(F.col("n_name"), F.lit("_v2")).alias("n_name")
    )
    jdbc_upsert_write(
        batch, url, "nation_upsert", "n_nationkey", driver=driver
    )
    return jdbc_table(spark, url, "nation_upsert", driver=driver)


@query(
    "filesystem_partition_commit",
    # committed == the watermark (max ts - 10 min) passed the hour's end
    oracle="""
    SELECT STRFTIME(time_bucket(INTERVAL '1 day', ts),
                    '%Y-%m-%d') AS part,
           time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day'
             <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
             AS committed,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def filesystem_partition_commit(spark, sf_dir):
    """Filesystem sink partition commit (reference
    sink.partition-commit.trigger='partition-time' + success-file policy):
    replay events into hour-partitioned parquet; partitions whose end the
    watermark passed carry a _SUCCESS marker, the open tail does not."""
    import os
    import tempfile

    from flink_psl_spark.sources import partitioned_streaming_sink
    from flink_psl_spark.streaming import stream_from_parquet

    ev = stream_from_parquet(spark, f"{sf_dir}/events.parquet", ts_col="ts")
    out = tempfile.mkdtemp(prefix="fps_pc_q_")
    q = partitioned_streaming_sink(
        ev.select("event_id", "ts"),
        out,
        ts_col="ts",
        partition_expr=F.date_format(
            F.date_trunc("day", "ts"), "yyyy-MM-dd"
        ),
        delay="10 minutes",
        partition_duration="1 day",
    )
    q.awaitTermination(240)
    # ONE partitioned read for all counts; marker existence is a cheap
    # driver-side directory stat per partition
    counts = (
        spark.read.parquet(out).groupBy("part").count().collect()
    )
    rows = [
        (
            r["part"],
            os.path.exists(os.path.join(out, f"part={r['part']}", "_SUCCESS")),
            r["count"],
        )
        for r in counts
    ]
    return spark.createDataFrame(rows, "part string, committed boolean, n bigint")


@query(
    "datastream_window_agg",
    oracle="""
    SELECT user_id,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             AS window_end,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2, 3
    """,
)
def datastream_window_agg(spark, sf_dir):
    """KeyedStream.window(TumblingEventTimeWindows).aggregate (reference
    WindowedStream.aggregate / AggregateFunction): the fluent DataStream
    windowing surface over the same flattened window assignment the SQL
    path uses."""
    from flink_psl_spark.datastream import DataStream

    t = tables(spark, sf_dir)
    ds = DataStream(t["events"].select("user_id", "ts", "value"))
    out = (
        ds.key_by("user_id")
        .window("ts", size="1 hour")
        .aggregate(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )
    return out.df


@query(
    "compressed_format_roundtrip",
    # gzip json out, read back, per-source counts — must equal the
    # original table exactly (compression is transparent)
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY source
    """,
)
def compressed_format_roundtrip(spark, sf_dir):
    """Compressed text-family sink/scan (reference flink-compress):
    gzip-coded json part files written and read back transparently;
    the roundtrip aggregate equals the source table."""
    import tempfile

    from flink_psl_spark.sources import read_compressed, write_compressed

    t = tables(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="fps_gz_") + "/docs"
    write_compressed(
        t["documents"].select("doc_id", "source", "n_chars"),
        path, fmt="json", codec="gzip",
    )
    back = read_compressed(spark, path, fmt="json")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


@query(
    "sequence_file_roundtrip",
    # (key=doc_id, value=text) through a Hadoop SequenceFile and back —
    # values byte-identical
    oracle="SELECT doc_id, text FROM documents",
)
def sequence_file_roundtrip(spark, sf_dir):
    """Hadoop SequenceFile sink/source (reference flink-sequence-file):
    string-writable (key, value) pairs round-trip byte-identically; the
    RDD drop is row-local (no DataFrame writer exists for the
    format)."""
    import tempfile

    from flink_psl_spark.sources import read_sequence_file, write_sequence_file

    t = tables(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="fps_seq_") + "/docs"
    write_sequence_file(t["documents"], path, "doc_id", "text")
    back = read_sequence_file(spark, path)
    return back.select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.col("value").alias("text"),
    )


@query(
    "xml_format_roundtrip",
    # documents projected to clean columns, through XML part files and
    # back (schema re-asserted on read — XML infers strings); per-source
    # aggregate equals the original table exactly
    oracle="""
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY source, lang
    """,
)
def xml_format_roundtrip(spark, sf_dir):
    """XML file format (built into Spark 4; rounds out the format wall —
    the reference ships csv/json/avro/parquet/orc/protobuf under
    flink-formats/ but never grew an XML one): row-tagged part files
    written and read back with an explicit schema, roundtrip aggregate
    equals the source table. Scan parallelism is per-file, so at scale
    the writer's partitioning controls reader fan-out."""
    import tempfile

    t = tables(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="fps_xml_") + "/docs"
    (
        t["documents"]
        .select("doc_id", "source", "lang", "n_chars")
        .write.format("xml")
        .option("rootTag", "documents")
        .option("rowTag", "document")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "document")
        .schema("doc_id bigint, source string, lang string, n_chars bigint")
        .load(path)
    )
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


@query(
    "file_sizing_report",
    # the layout is deterministic: repartition(event_type) puts each type
    # in exactly one write task and maxRecordsPerFile=1000 rolls files at
    # 1000 rows, so n_files per type is exactly CEIL(rows/1000) — the
    # oracle predicts the physical file inventory from the data alone
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(CEIL(COUNT(*) / 1000.0) AS BIGINT) AS n_files,
           CAST(CEIL(COUNT(*) / 5000.0) AS BIGINT)
             AS files_after_compaction,
           CEIL(COUNT(*) / 1000.0) > CEIL(COUNT(*) / 5000.0)
             AS compaction_recommended
    FROM events GROUP BY event_type
    """,
)
def file_sizing_report(spark, sf_dir):
    """Small-files diagnosis — the operational report behind the
    file-sink compaction operator (sources.py compact_files): write a
    partitioned copy with a 1000-row file cap, inventory the physical
    files per partition with input_file_name(), and recommend compaction
    toward a 5000-row target. At 100 TB this is the report that catches
    streaming sinks shredding tables into millions of files."""
    import tempfile

    t = tables(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="fps_sizing_")
    (
        t["events"]
        .repartition("event_type")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .option("maxRecordsPerFile", 1000)
        .parquet(d)
    )
    back = spark.read.parquet(d)
    per_file = back.groupBy(
        "event_type", F.input_file_name().alias("f")
    ).agg(F.count("*").alias("rows"))
    return per_file.groupBy("event_type").agg(
        F.sum("rows").cast("bigint").alias("total_rows"),
        F.count("*").cast("bigint").alias("n_files"),
        F.ceil(F.sum("rows") / F.lit(5000.0)).cast("bigint").alias(
            "files_after_compaction"
        ),
        (
            F.count("*")
            > F.ceil(F.sum("rows") / F.lit(5000.0))
        ).alias("compaction_recommended"),
    )


@query(
    "stream_jdbc_upsert_ingest",
    # the final database state must equal the batch aggregate: each
    # micro-batch MERGEs its refreshed per-key counts (update mode), so
    # replays and batch splits are invisible — upsert is idempotent on
    # the latest value per key
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS first_id,
           CAST(MAX(event_id) AS BIGINT) AS last_id
    FROM events GROUP BY event_type
    """,
)
def stream_jdbc_upsert_ingest(spark, sf_dir):
    """STREAMING UPSERT INTO A DATABASE — the reference's flagship
    upsert-JDBC sink pattern (JdbcDynamicTableSink upsert mode fed by an
    update-mode aggregation): running per-type counters maintained by
    Structured Streaming, each micro-batch's refreshed rows MERGEd
    set-wise into Derby via the staging+MERGE sink. The final table
    state equals the batch aggregate exactly."""
    import tempfile
    import uuid

    from flink_psl_spark.sources import jdbc_table, jdbc_upsert_write
    from flink_psl_spark.streaming import stream_from_parquet

    url = f"jdbc:derby:memory:fpsui_{uuid.uuid4().hex[:8]};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    target = "evt_counts"

    stream = stream_from_parquet(spark, f"{sf_dir}/events.parquet")
    agg = stream.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("event_id").cast("bigint").alias("first_id"),
        F.max("event_id").cast("bigint").alias("last_id"),
    )

    # pre-create the empty target (MERGE needs an existing table)
    # Derby maps StringType to CLOB, which cannot be a MERGE key —
    # both the target and the sink's staging table pin VARCHAR
    key_ddl = "event_type VARCHAR(64)"
    empty = spark.createDataFrame(
        [], "event_type string, n bigint, first_id bigint, last_id bigint"
    )
    (
        empty.write.format("jdbc")
        .option("url", url)
        .option("dbtable", target)
        .option("driver", driver)
        .option("createTableColumnTypes", key_ddl)
        .mode("overwrite")
        .save()
    )

    def sink(bdf, _bid):
        if bdf.take(1):
            jdbc_upsert_write(
                bdf, url, target, "event_type", driver=driver,
                create_column_types=key_ddl,
            )

    ckpt = tempfile.mkdtemp(prefix="fps_jdbc_stream_")
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return jdbc_table(spark, url, target, driver=driver)


@query(
    "json_corrupt_channel_ingest",
    # corruption is deterministic (every doc_id % 50 == 0 line is
    # truncated mid-record), so the good/bad split and the parsed
    # aggregate are exactly derivable from the base table
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
def json_corrupt_channel_ingest(spark, sf_dir):
    """Malformed-record channeling on JSON ingest (the reference's
    format error-handling knobs, e.g. json.ignore-parse-errors —
    JsonRowDataDeserializationSchema): render the documents table to
    JSON lines, deterministically truncate every 50th record, read back
    PERMISSIVE with a corrupt-record column, and report the good/bad
    split plus the parsed aggregate. At scale this is the dead-letter
    accounting every ingest pipeline runs; nothing leaves the JVM."""
    import tempfile

    t = tables(spark, sf_dir)
    line = F.to_json(F.struct("doc_id", "source", "n_chars"))
    lines = t["documents"].select(
        F.when(
            F.col("doc_id") % 50 == 0,
            # truncate mid-record -> unparseable
            F.substring(line, 1, 9),
        )
        .otherwise(line)
        .alias("value")
    )
    path = tempfile.mkdtemp(prefix="fps_badjson_") + "/lines"
    lines.write.text(path)
    back = (
        spark.read.schema(
            "doc_id bigint, source string, n_chars bigint, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return back.agg(
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
