"""FOR SYSTEM_TIME AS OF rewrite (temporal_sql.py) — clause parsing,
registration validation, and end-to-end semantics vs a brute-force model."""

from __future__ import annotations

import datetime as dt

import pytest

from flink_psl_spark.temporal_sql import (
    clear_versioned_tables,
    register_versioned_table,
    rewrite_system_time_joins,
)


@pytest.fixture(autouse=True)
def _clean_registry():
    clear_versioned_tables()
    yield
    clear_versioned_tables()


def test_rewrite_shapes():
    register_versioned_table("rates", time_col="valid_from", primary_key="cur")
    out = rewrite_system_time_joins(
        "SELECT o.id, r.rate FROM orders o "
        "JOIN rates FOR SYSTEM_TIME AS OF o.ts AS r ON r.cur = o.cur "
        "WHERE o.id > 0"
    )
    assert "FOR SYSTEM_TIME" not in out.upper()
    assert "LEAD(valid_from) OVER (PARTITION BY cur ORDER BY valid_from)" in out
    assert "o.ts >= r.valid_from" in out
    assert "r.__valid_to IS NULL OR o.ts < r.__valid_to" in out
    assert out.rstrip().endswith("WHERE o.id > 0")
    # LEFT JOIN form keeps its join type; default alias = table name
    out2 = rewrite_system_time_joins(
        "SELECT * FROM o LEFT JOIN rates FOR SYSTEM_TIME AS OF o.ts "
        "ON rates.cur = o.cur"
    )
    assert out2.upper().startswith("SELECT * FROM O LEFT JOIN (SELECT")
    # statements without the clause pass through untouched
    assert rewrite_system_time_joins("SELECT 1") == "SELECT 1"


def test_rewrite_rejects_unregistered_and_unsupported():
    with pytest.raises(ValueError, match="not registered as versioned"):
        rewrite_system_time_joins(
            "SELECT * FROM o JOIN dim FOR SYSTEM_TIME AS OF o.ts AS d "
            "ON d.k = o.k"
        )
    register_versioned_table("dim", time_col="vt", primary_key=["k"])
    with pytest.raises(ValueError, match="unsupported"):
        # no ON clause -> the regex can't consume it
        rewrite_system_time_joins(
            "SELECT * FROM o JOIN dim FOR SYSTEM_TIME AS OF o.ts"
        )
    with pytest.raises(ValueError, match="at least one column"):
        register_versioned_table("x", time_col="t", primary_key=[])


def test_temporal_join_end_to_end(spark):
    """Each fact row sees the version in force at its timestamp."""
    from flink_psl_spark.sql_client import run_script

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    spark.createDataFrame(
        [("eur", ts(0), 1.0), ("eur", ts(10), 2.0), ("usd", ts(5), 7.0)],
        "cur string, valid_from timestamp, rate double",
    ).createOrReplaceTempView("rates_v")
    spark.createDataFrame(
        [(1, "eur", ts(1)), (2, "eur", ts(10)), (3, "eur", ts(23)),
         (4, "usd", ts(6)), (5, "usd", ts(2))],
        "id long, cur string, ts timestamp",
    ).createOrReplaceTempView("orders_v")
    register_versioned_table(
        "rates_v", time_col="valid_from", primary_key="cur"
    )
    res = run_script(
        spark,
        """
        SELECT o.id, r.rate
        FROM orders_v o
        LEFT JOIN rates_v FOR SYSTEM_TIME AS OF o.ts AS r ON r.cur = o.cur
        ORDER BY o.id;
        """,
    )[-1].df
    got = [(r["id"], r["rate"]) for r in res.collect()]
    # id 1: eur@1h -> 1.0; id 2: eur@10h -> 2.0 (boundary: >=); id 3: 2.0;
    # id 4: usd@6h -> 7.0; id 5: usd@2h precedes every version -> NULL
    assert got == [(1, 1.0), (2, 2.0), (3, 2.0), (4, 7.0), (5, None)]


def test_window_tvf_rewrite_shapes():
    from flink_psl_spark.temporal_sql import rewrite_window_tvfs

    out = rewrite_window_tvfs(
        "SELECT window_start, window_end, COUNT(*) FROM "
        "TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    )
    assert "TUMBLE" not in out.upper()
    assert "window(ts, '1 HOUR')" in out
    assert "__w.start AS window_start" in out
    # HOP: Flink order is (slide, size) -> window(ts, size, slide)
    out2 = rewrite_window_tvfs(
        "SELECT * FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR))"
    )
    assert "window(ts, '1 HOUR', '30 MINUTE')" in out2
    # untouched without TVFs
    assert rewrite_window_tvfs("SELECT 1") == "SELECT 1"


def test_window_tvf_sql_end_to_end(spark):
    import datetime as dt

    from flink_psl_spark.sql_client import run_script

    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5), 2.0),
         (2, t0 + dt.timedelta(minutes=25), 3.0),
         (3, t0 + dt.timedelta(minutes=26), 5.0)],
        "id long, ts timestamp, v double",
    ).createOrReplaceTempView("tvf_events")
    res = run_script(
        spark,
        """
        SELECT window_start, window_end, SUM(v) AS sv
        FROM TABLE(TUMBLE(TABLE tvf_events, DESCRIPTOR(ts),
                          INTERVAL '10' MINUTE))
        GROUP BY window_start, window_end ORDER BY window_start;
        """,
    )[-1].df
    got = [(r["window_start"], r["sv"]) for r in res.collect()]
    assert got == [(t0, 2.0), (t0 + dt.timedelta(minutes=20), 8.0)]


def test_group_window_rewrite_shapes():
    from flink_psl_spark.temporal_sql import rewrite_group_windows

    out = rewrite_group_windows(
        "SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, "
        "TUMBLE_END(ts, INTERVAL '1' HOUR) AS we, COUNT(*) "
        "FROM t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"
    )
    assert out == (
        "SELECT window.start AS ws, window.end AS we, COUNT(*) "
        "FROM t GROUP BY window(ts, '1 HOUR')"
    )
    out2 = rewrite_group_windows(
        "SELECT HOP_START(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) "
        "FROM t GROUP BY HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR), k"
    )
    assert "window(ts, '1 HOUR', '30 MINUTE'), k" in out2
    assert out2.startswith("SELECT window.start ")
    out3 = rewrite_group_windows(
        "SELECT SESSION_END(ts, INTERVAL '5' MINUTE) "
        "FROM t GROUP BY SESSION(ts, INTERVAL '5' MINUTE)"
    )
    assert "session_window(ts, '5 MINUTE')" in out3
    assert "session_window.end" in out3
    # rowtime attribute = end - 1 ms
    out4 = rewrite_group_windows(
        "SELECT TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) FROM t "
        "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"
    )
    assert "window.end - INTERVAL 1 MILLISECOND" in out4


def test_group_window_sql_end_to_end(spark):
    import datetime as dt

    from flink_psl_spark.sql_client import run_script

    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5), 2.0),
         (2, t0 + dt.timedelta(minutes=25), 3.0),
         (3, t0 + dt.timedelta(minutes=26), 5.0)],
        "id long, ts timestamp, v double",
    ).createOrReplaceTempView("gw_events")
    res = run_script(
        spark,
        """
        SELECT TUMBLE_START(ts, INTERVAL '10' MINUTE) AS ws,
               SUM(v) AS sv
        FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)
        ORDER BY ws;
        """,
    )[-1].df
    assert [(r["ws"], r["sv"]) for r in res.collect()] == [
        (t0, 2.0), (t0 + dt.timedelta(minutes=20), 8.0),
    ]
    # session windows through the legacy clause
    res2 = run_script(
        spark,
        """
        SELECT SESSION_START(ts, INTERVAL '5' MINUTE) AS ws, SUM(v) AS sv
        FROM gw_events GROUP BY SESSION(ts, INTERVAL '5' MINUTE) ORDER BY ws;
        """,
    )[-1].df
    assert [(r["ws"], r["sv"]) for r in res2.collect()] == [
        (t0 + dt.timedelta(minutes=5), 2.0),
        (t0 + dt.timedelta(minutes=25), 8.0),
    ]


def test_statement_set_block(spark, tmp_path):
    """EXECUTE STATEMENT SET BEGIN ...; ...; END runs every inner INSERT
    (the reference fuses them into one job; results are identical)."""
    from flink_psl_spark.sql_client import run_script

    a, b = str(tmp_path / "sink_a"), str(tmp_path / "sink_b")
    spark.sql("DROP TABLE IF EXISTS ss_a")
    spark.sql("DROP TABLE IF EXISTS ss_b")
    try:
        res = run_script(
            spark,
            f"""
            CREATE TABLE ss_a (id BIGINT) USING parquet LOCATION '{a}';
            CREATE TABLE ss_b (id BIGINT) USING parquet LOCATION '{b}';
            EXECUTE STATEMENT SET
            BEGIN
              INSERT INTO ss_a SELECT id FROM range(5);
              INSERT INTO ss_b SELECT id * 10 AS id FROM range(3);
            END;
            SELECT COUNT(*) AS n FROM ss_a;
            """,
        )
        kinds = [r.kind for r in res]
        assert kinds == ["query", "query", "statement_set", "query"]
        assert res[-1].df.first()["n"] == 5
        assert spark.table("ss_b").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS ss_a")
        spark.sql("DROP TABLE IF EXISTS ss_b")


def test_statement_set_validation(spark):
    import pytest as _pytest

    from flink_psl_spark.sql_client import run_script

    with _pytest.raises(ValueError, match="missing its END"):
        run_script(spark, "EXECUTE STATEMENT SET BEGIN INSERT INTO x SELECT 1;")
    with _pytest.raises(ValueError, match="only INSERT"):
        run_script(
            spark,
            "EXECUTE STATEMENT SET BEGIN SELECT 1; END;",
        )


def test_rewrites_tolerate_case_and_whitespace():
    """Dialect rewrites are case/whitespace-insensitive and leave no Flink
    tokens behind."""
    from flink_psl_spark.temporal_sql import (
        register_versioned_table,
        rewrite_group_windows,
        rewrite_system_time_joins,
        rewrite_window_tvfs,
    )

    register_versioned_table("vt", time_col="ts", primary_key="k")
    variants = [
        "select * from f join vt for system_time as of f.ts as v on v.k = f.k",
        "SELECT * FROM f\n  JOIN vt\n  FOR  SYSTEM_TIME  AS  OF  f.ts\n"
        "  AS v\n  ON v.k = f.k",
    ]
    for v in variants:
        out = rewrite_system_time_joins(v)
        assert "system_time" not in out.lower()
        assert "lead(ts)" in out.lower()
    tvf = rewrite_window_tvfs(
        "select * from table( tumble( table t , descriptor( ts ) , "
        "interval '5' minute ) )"
    )
    assert "tumble" not in tvf.lower() and "window(ts, '5 minute')" in tvf
    gw = rewrite_group_windows(
        "select tumble_start(ts, interval '1' hour) from t "
        "group by tumble(ts, interval '1' hour)"
    )
    assert "tumble" not in gw.lower()


def test_explain_plan_for_rewrite(spark):
    """Flink's `EXPLAIN PLAN FOR <stmt>` runs as Spark's EXPLAIN."""
    from flink_psl_spark.temporal_sql import rewrite_flink_sql

    out = spark.sql(rewrite_flink_sql("EXPLAIN PLAN FOR SELECT 1 AS one"))
    text = out.collect()[0][0]
    assert "Physical Plan" in text or "Project" in text


def test_temporal_table_function_rewrite_and_passthrough():
    """Registered temporal table functions rewrite to validity-interval
    joins; unregistered LATERAL TABLE calls (plain UDTFs) pass through."""
    from flink_psl_spark.temporal_sql import (
        clear_versioned_tables,
        register_temporal_table_function,
        rewrite_temporal_table_functions,
    )

    register_temporal_table_function(
        "rates", "rates_tbl", time_col="r_ts", primary_key="cur"
    )
    try:
        out = rewrite_temporal_table_functions(
            "SELECT * FROM o, LATERAL TABLE (rates(o.ts)) AS r "
            "WHERE r.cur = o.cur"
        )
        assert "LEAD(r_ts) OVER (PARTITION BY cur" in out
        assert "o.ts >= r.r_ts" in out and "__valid_to" in out
        assert "LATERAL" not in out
        # alias defaults to the function name
        out2 = rewrite_temporal_table_functions(
            "SELECT * FROM o, LATERAL TABLE (rates(o.ts))"
        )
        assert "AS rates ON o.ts >= rates.r_ts" in out2
        # an unregistered UDTF lateral is untouched
        sql = "SELECT * FROM t, LATERAL TABLE (split_fn(t.s)) AS w"
        assert rewrite_temporal_table_functions(sql) == sql
    finally:
        clear_versioned_tables()


def test_join_hint_translation(spark, t):
    """Reference join-hint names translate to Spark's and actually steer
    the planner: SHUFFLE_MERGE forces a SortMergeJoin where broadcast
    would otherwise win; NEST_LOOP maps to the NL strategy name."""
    from flink_psl_spark.temporal_sql import rewrite_flink_sql, rewrite_join_hints

    assert rewrite_join_hints(
        "SELECT /*+ SHUFFLE_MERGE(n) */ * FROM a JOIN n ON a.k = n.k"
    ) == "SELECT /*+ MERGE(n) */ * FROM a JOIN n ON a.k = n.k"
    assert "SHUFFLE_REPLICATE_NL(x)" in rewrite_join_hints(
        "SELECT /*+ NEST_LOOP(x) */ 1"
    )
    # unchanged names pass through
    assert rewrite_join_hints("SELECT /*+ BROADCAST(d) */ 1").count(
        "BROADCAST"
    ) == 1

    sql = rewrite_flink_sql(
        "SELECT /*+ SHUFFLE_MERGE(nation) */ n_name, r_name "
        "FROM nation JOIN region ON n_regionkey = r_regionkey"
    )
    plan = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:800]


def test_session_tvf_rewrite_matches_session_window(spark, sf_dir):
    """SESSION TVF (1.17+ form) rewrites to gaps-and-islands SQL whose
    per-session bounds equal Spark's native session_window exactly."""
    from pyspark.sql import functions as F

    from flink_psl_spark.queries.registry import tables
    from flink_psl_spark.temporal_sql import rewrite_flink_sql

    t = tables(spark, sf_dir)
    got = spark.sql(
        rewrite_flink_sql(
            """
            SELECT user_id, window_start, window_end, COUNT(*) AS n
            FROM TABLE(SESSION(TABLE events PARTITION BY user_id,
                               DESCRIPTOR(ts), INTERVAL '10' MINUTES))
            GROUP BY user_id, window_start, window_end
            """
        )
    )
    want = (
        t["events"]
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("window_start"),
            F.col("session_window.end").alias("window_end"),
            "n",
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # keyless form sessionizes the whole stream
    keyless = spark.sql(
        rewrite_flink_sql(
            "SELECT window_start, COUNT(*) AS n FROM TABLE(SESSION("
            "TABLE events, DESCRIPTOR(ts), INTERVAL '10' MINUTES)) "
            "GROUP BY window_start"
        )
    )
    assert keyless.count() >= 1
