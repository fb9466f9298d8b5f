"""Engine code never borrows its caller's session conf for the length of its
work: a replay pins its streaming conf only while ``start()`` builds the
query, a co-bucketed join plans through a hint, and the CDC upsert passes
its overwrite mode as a writer option. Other threads on the same session
keep reading their own values throughout."""

from __future__ import annotations

import ast
import json
import pathlib
import re
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "flink_psl_spark"
PARTS = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _conf_writes() -> set[tuple[str, str, str, bool]]:
    """Every ``<x>.conf.set(`` / ``<x>.conf.unset(`` call in the package:
    (file, enclosing function, method, inside a ``with _START_LOCK``)."""
    found = set()

    def visit(node, path, func, locked):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.With):
            locked = locked or any(
                isinstance(i.context_expr, ast.Name)
                and i.context_expr.id == "_START_LOCK"
                for i in node.items
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            found.add((path, func, node.func.attr, locked))
        for child in ast.iter_child_nodes(node):
            visit(child, path, func, locked)

    for file in sorted(PACKAGE.rglob("*.py")):
        rel = file.relative_to(PACKAGE).as_posix()
        visit(ast.parse(file.read_text()), rel, None, False)
    return found


def test_only_set_reset_and_replay_start_write_session_conf():
    assert _conf_writes() == {
        ("gateway.py", "open_session", "set", False),
        ("sql_client.py", "_execute_entry", "set", False),
        ("sql_client.py", "_execute_entry", "unset", False),
        ("streaming/core.py", "run_to_memory_table", "set", True),
        ("streaming/core.py", "run_to_memory_table", "unset", True),
    }


def test_replay_leaves_caller_conf_alone_while_it_runs(spark, tmp_path):
    from flink_psl_spark.streaming.core import run_to_memory_table, stream_from_parquet

    src = tmp_path / "src"
    for i in range(5):
        spark.range(i * 20, (i + 1) * 20).selectExpr(
            "id % 5 AS k", "id"
        ).coalesce(1).write.mode("append").parquet(str(src))

    @F.pandas_udf("long")
    def slow_ident(s):
        time.sleep(0.4)
        return s

    stream = stream_from_parquet(spark, str(src), max_files_per_trigger=1)
    counts = stream.select("k", slow_ident("id").alias("id")).groupBy("k").count()
    caller = {PARTS: spark.conf.get(PARTS), PROVIDER: spark.conf.get(PROVIDER)}
    assert caller[PARTS] != "3"
    progress, seen = None, {}
    with ThreadPoolExecutor(1) as pool:
        replay = pool.submit(
            run_to_memory_table, counts, output_mode="complete",
            shuffle_partitions=3,
        )
        deadline = time.time() + 120
        while progress is None and not replay.done() and time.time() < deadline:
            for q in spark.streams.active:
                if q.name and q.name.startswith("mem_") and q.lastProgress:
                    progress = json.loads(q.lastProgress.json)
                    seen = {key: spark.conf.get(key) for key in caller}
            time.sleep(0.05)
        df = replay.result(timeout=300)
    assert progress is not None, "the replay ended before it reported progress"
    # mid-replay, the caller's session reads its own values
    assert seen == caller
    assert {key: spark.conf.get(key) for key in caller} == caller
    # and the replay itself ran with its pins
    [op] = progress["stateOperators"]
    assert op["numShufflePartitions"] == 3
    assert not any(m.lower().startswith("rocksdb") for m in op["customMetrics"])
    assert sorted(map(tuple, df.collect())) == [(k, 20) for k in range(5)]


def test_overlapping_replays_restore_caller_conf(spark, tmp_path):
    """Replays started on more threads than cores each run with their own
    pins, and none of them leaves a pin on the caller's session."""
    from flink_psl_spark.streaming.core import (
        STREAM_PLANS,
        run_to_memory_table,
        stream_from_parquet,
    )

    src = str(tmp_path / "src")
    spark.range(30).selectExpr("id % 3 AS k").write.parquet(src)
    caller = {PARTS: spark.conf.get(PARTS), PROVIDER: spark.conf.get(PROVIDER)}

    counts = stream_from_parquet(spark, src).groupBy("k").count()
    together = threading.Barrier(6)

    def replay(parts):
        together.wait(timeout=60)
        df = run_to_memory_table(
            counts, output_mode="complete", shuffle_partitions=parts
        )
        return sorted(map(tuple, df.collect()))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(6) as pool:
            results = list(pool.map(replay, range(1, 7), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert results == [[(0, 10), (1, 10), (2, 10)]] * 6
    assert {key: spark.conf.get(key) for key in caller} == caller
    # each replay's last micro-batch shuffled into its own pinned count
    used = [re.findall(r"hashpartitioning\(k#\d+L?, (\d+)\)", plan)
            for plan in STREAM_PLANS[-6:]]
    assert sorted(int(p[0]) for p in used) == list(range(1, 7)), used


def test_bucketed_join_agg_runs_the_shuffle_free_plan(spark, sf_dir):
    """The frame the query returns (not an intermediate one) plans a
    sort-merge join with no Exchange below it, under the session's own
    broadcast threshold."""
    from flink_psl_spark.queries import QUERIES

    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    out = QUERIES["bucketed_join_agg"](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "Broadcast" not in plan, plan

    from flink_psl_spark.operators.bucketing import join_is_exchange_free

    assert join_is_exchange_free(out), plan
    assert out.count() > 0
    # a merge-hinted join of unbucketed frames shuffles below the join
    plain = spark.range(100).join(spark.range(50).hint("merge"), "id")
    assert not join_is_exchange_free(plain)
