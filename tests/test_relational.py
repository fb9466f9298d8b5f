"""Relational correctness: run the registered queries against the DuckDB
oracle at the smoke scale factor (the driver repeats this at sf0.01)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from _oracle import compare, duck_connection


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


# a representative cross-section; scripts/check_queries.py covers everything
SAMPLE = [
    "q1_pricing_summary",
    "calc_project_filter",
    "agg_rollup",
    "agg_listagg",
    "join_multiway_revenue",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "join_semi",
    "join_anti",
    "setop_except_all",
    "subquery_correlated",
    "wf_topn_per_group",
    "wf_running_rows_frame",
    "tumble_window_agg",
    "hop_window_agg",
    "cumulate_window_agg",
    "session_window_agg",
    "dedup_keep_last",
    "interval_join_batch",
    "asof_join",
    "llm_text_stats",
    "llm_cosine_topk",
]


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, sf_dir, con, name):
    from flink_psl_spark.queries import ORACLES, QUERIES

    df = QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, con, ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_all_oracle_keys_have_queries():
    from flink_psl_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 40


def test_approx_count_distinct_accuracy(spark, sf_dir):
    from flink_psl_spark.queries import QUERIES

    rows = QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    # the query emits the ±10% accuracy invariant directly (oracle-able form)
    assert rows and all(r["within_10pct"] for r in rows), rows


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 40


def test_broadcast_join_plan(spark, sf_dir):
    """The dim joins must be broadcast — no fact-side shuffle before agg."""
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["join_broadcast_dim"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """Predicate + projection must reach the parquet scan."""
    from flink_psl_spark.queries.registry import tables

    t = tables(spark, sf_dir)
    df = t["lineitem"].where(F.col("l_quantity") > 45).select("l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan
    assert "ReadSchema" in plan


def test_recursive_cte_concurrent_builds_leave_no_views(spark, sf_dir):
    """Two threads build and collect recursive_cte_order_chain at once:
    each binds its per-customer anchor frame to the SQL text as a
    spark.sql frame argument, both get the same rows, and neither leaves
    a view behind."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from flink_psl_spark.queries import QUERIES
    from flink_psl_spark.queries.registry import tables

    def views():
        return {v.name for v in spark.catalog.listTables() if v.isTemporary}

    tables(spark, sf_dir)  # the fixture views are not the query's to drop
    before = views()
    barrier = threading.Barrier(2)

    def run(_):
        barrier.wait(60)
        df = QUERIES["recursive_cte_order_chain"](spark, sf_dir)
        return sorted(map(tuple, df.collect()))

    with ThreadPoolExecutor(2) as pool:
        a, b = pool.map(run, range(2))
    assert a and a == b
    assert views() == before


def test_recursive_cte_jobs_scale_with_depth_not_joins(spark, sf_dir):
    """Perf-only regression guard: a UnionLoop level of
    recursive_cte_order_chain is one narrow step, so building and
    running the query takes at most two Spark jobs per recursion level.
    A shuffle join in the recursive member costs about five per level
    (107 jobs for an 18-level chain at sf0.001)."""
    from flink_psl_spark.queries import QUERIES

    sc = spark.sparkContext
    group = "recursive_cte_jobs"
    try:
        sc.setJobGroup(group, group)
        rows = QUERIES["recursive_cte_order_chain"](spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    depth = max(r["step"] for r in rows)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 2 * depth, (jobs, depth)


def test_tables_repoints_fixture_views(spark, sf_dir, tmp_path):
    """SQL text reads the fixture views, so tables() must point them at
    the dir its caller names even when that dir's frames are cached: A,
    then B, then A again leaves the views on A."""
    import os

    from flink_psl_spark.catalog import TABLES
    from flink_psl_spark.queries.registry import tables

    other = tmp_path / "sf_other"
    other.mkdir()
    for name in TABLES:
        if name != "lineitem":
            os.symlink(
                os.path.abspath(f"{sf_dir}/{name}.parquet"),
                other / f"{name}.parquet",
            )
    tables(spark, sf_dir)["lineitem"].limit(7).write.parquet(
        str(other / "lineitem.parquet")
    )

    def n_lineitem():
        return spark.sql("SELECT COUNT(*) AS n FROM lineitem").first()["n"]

    want = tables(spark, sf_dir)["lineitem"].count()
    assert want != 7
    tables(spark, str(other))
    assert n_lineitem() == 7
    tables(spark, sf_dir)
    assert n_lineitem() == want
