"""EXPLAIN dialect + compiled-plan surface (plans.py) and golden-plan
snapshots — the reference's plan introspection statements
(ExplainDetail.java; ExecNodeGraph.java:29 compiled plans;
TableTestBase.scala:92 golden files)."""

from __future__ import annotations

import json
import os

import pytest

from flink_psl_spark.plans import (
    EXPLAIN_DETAILS,
    parse_explain,
    plan_signature,
    signature_rows,
    statement_signature,
)
from flink_psl_spark.sql_client import run_script
from tests._golden_plans import ALL_GOLDEN, GOLDEN_DIR, golden_signature


# -- parse_explain -----------------------------------------------------------

def test_parse_explain_plain():
    assert parse_explain("EXPLAIN SELECT 1") == ([], "SELECT 1")


def test_parse_explain_plan_for():
    assert parse_explain("EXPLAIN PLAN FOR SELECT 1") == ([], "SELECT 1")


def test_parse_explain_parenthesized_details():
    details, inner = parse_explain(
        "EXPLAIN (ESTIMATED_COST, CHANGELOG_MODE) SELECT 1"
    )
    assert details == ["ESTIMATED_COST", "CHANGELOG_MODE"]
    assert inner == "SELECT 1"


def test_parse_explain_bare_details():
    details, inner = parse_explain(
        "EXPLAIN PLAN_ADVICE, JSON_EXECUTION_PLAN SELECT 1"
    )
    assert details == ["PLAN_ADVICE", "JSON_EXECUTION_PLAN"]
    assert inner == "SELECT 1"


def test_parse_explain_spark_native_passthrough():
    # Spark-dialect EXPLAIN keeps its native behavior
    for mode in ("FORMATTED", "EXTENDED", "COST", "CODEGEN"):
        assert parse_explain(f"EXPLAIN {mode} SELECT 1") is None


def test_parse_explain_unknown_detail_raises():
    with pytest.raises(ValueError, match="unknown EXPLAIN detail"):
        parse_explain("EXPLAIN (NOT_A_DETAIL) SELECT 1")


def test_parse_explain_non_explain_returns_none():
    assert parse_explain("SELECT 1") is None
    assert parse_explain("EXPLAINED_TABLE_SCAN") is None


# -- EXPLAIN through the script client --------------------------------------

def test_explain_sections(spark, sf_dir):
    res = run_script(
        spark,
        "EXPLAIN SELECT o_orderpriority, count(*) AS n FROM orders "
        "WHERE o_totalprice > 100 GROUP BY o_orderpriority;",
        sf_dir=sf_dir,
    )
    assert res[0].kind == "explain"
    text = res[0].df.collect()[0][0]
    for header in (
        "== Abstract Syntax Tree ==",
        "== Optimized Physical Plan ==",
        "== Optimized Execution Plan ==",
    ):
        assert header in text
    assert "Aggregate" in text


def test_explain_details_sections(spark, sf_dir):
    res = run_script(
        spark,
        "EXPLAIN (ESTIMATED_COST, CHANGELOG_MODE, PLAN_ADVICE, "
        "JSON_EXECUTION_PLAN) SELECT c_custkey FROM customer;",
        sf_dir=sf_dir,
    )
    text = res[0].df.collect()[0][0]
    assert "== Estimated Cost ==" in text
    assert "Statistics(" in text  # Catalyst's own size/rowcount estimates
    assert "changelogMode=[I]" in text  # batch SQL plans are insert-only
    assert "== Plan Advice ==" in text
    assert "== Physical Execution Plan ==" in text


def test_explain_plan_advice_flags_ndu(spark, sf_dir):
    """The reference's NDU advice: a non-deterministic expression in the
    plan is reported (StreamNonDeterministicUpdatePlanVisitor.java)."""
    res = run_script(
        spark,
        "EXPLAIN (PLAN_ADVICE) SELECT c_custkey, rand() AS r FROM customer;",
        sf_dir=sf_dir,
    )
    text = res[0].df.collect()[0][0]
    assert "non-deterministic expression 'rand'" in text


def test_explain_plan_advice_clean_query(spark, sf_dir):
    res = run_script(
        spark,
        "EXPLAIN (PLAN_ADVICE) SELECT c_custkey FROM customer "
        "WHERE c_acctbal > 0;",
        sf_dir=sf_dir,
    )
    text = res[0].df.collect()[0][0]
    assert "no available advice" in text


def test_explain_of_flink_dialect_statement(spark, sf_dir):
    """EXPLAIN rewrites the inner statement first — the window TVF clause
    never reaches Spark's parser."""
    res = run_script(
        spark,
        "EXPLAIN PLAN FOR SELECT window_start, count(*) AS n "
        "FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start;",
        sf_dir=sf_dir,
    )
    text = res[0].df.collect()[0][0]
    assert "== Optimized Execution Plan ==" in text
    assert "TUMBLE" not in text


def test_explain_does_not_execute_insert(spark, tmp_path):
    """EXPLAIN of DML plans without running it (Spark's ExplainCommand)."""
    spark.sql(
        f"CREATE TABLE plans_noexec (a INT) USING parquet "
        f"LOCATION '{tmp_path}/plans_noexec'"
    )
    try:
        res = run_script(
            spark, "EXPLAIN INSERT INTO plans_noexec SELECT 7;"
        )
        assert "InsertInto" in res[0].df.collect()[0][0]
        assert spark.table("plans_noexec").count() == 0
    finally:
        spark.sql("DROP TABLE plans_noexec")


def test_explain_statement_set(spark, tmp_path):
    """EXPLAIN of a STATEMENT SET block: one report per inner INSERT,
    nothing executed (the reference explains the fused job; Spark plans
    per action, so reports are per-INSERT)."""
    for name in ("ss_a", "ss_b"):
        spark.sql(
            f"CREATE TABLE {name} (a INT) USING parquet "
            f"LOCATION '{tmp_path}/{name}'"
        )
    try:
        res = run_script(
            spark,
            "EXPLAIN (PLAN_ADVICE) EXECUTE STATEMENT SET BEGIN\n"
            "INSERT INTO ss_a SELECT 1;\n"
            "INSERT INTO ss_b SELECT 2;\n"
            "END;",
        )
        assert res[0].kind == "explain"
        text = res[0].df.collect()[0][0]
        assert "-- statement 1 --" in text and "-- statement 2 --" in text
        assert text.count("== Optimized Execution Plan ==") == 2
        assert spark.table("ss_a").count() == 0
        assert spark.table("ss_b").count() == 0
        # without the EXPLAIN prefix the same block still executes
        run_script(
            spark,
            "EXECUTE STATEMENT SET BEGIN\n"
            "INSERT INTO ss_a SELECT 1;\n"
            "INSERT INTO ss_b SELECT 2;\n"
            "END;",
        )
        assert spark.table("ss_a").count() == 1
        assert spark.table("ss_b").count() == 1
    finally:
        for name in ("ss_a", "ss_b"):
            spark.sql(f"DROP TABLE {name}")


def test_explain_plan_advice_broadcast_candidate(spark, sf_dir):
    """A shuffled join whose smallest side fits broadcast is flagged."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = run_script(
            spark,
            "EXPLAIN (PLAN_ADVICE) SELECT o.o_orderkey, n.n_name "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey;",
            sf_dir=sf_dir,
        )
        text = res[0].df.collect()[0][0]
        assert "shuffled join's smallest side" in text
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_explain_plan_advice_never_executes_commands(spark):
    """PLAN_ADVICE of a command must not run it — the NDU probe only
    analyzes pure queries."""
    res = run_script(
        spark,
        "EXPLAIN (PLAN_ADVICE) CREATE OR REPLACE TEMP VIEW plans_adv_v AS "
        "SELECT rand() AS r;",
    )
    assert "== Plan Advice ==" in res[0].df.collect()[0][0]
    assert "plans_adv_v" not in [
        t.name for t in spark.catalog.listTables()
    ]


def test_parse_explain_unclosed_details_raises():
    with pytest.raises(ValueError, match="missing its"):
        parse_explain("EXPLAIN (ESTIMATED_COST SELECT 1")


def test_spark_native_explain_still_works(spark):
    res = run_script(spark, "EXPLAIN FORMATTED SELECT 1 AS one;")
    assert res[0].kind == "query"
    assert "Physical Plan" in res[0].df.collect()[0][0]


# -- COMPILE PLAN / EXECUTE PLAN ---------------------------------------------

def test_compile_and_execute_plan(spark, sf_dir, tmp_path):
    path = tmp_path / "q.json"
    res = run_script(
        spark,
        f"COMPILE PLAN '{path}' FOR SELECT count(*) AS n FROM customer;\n"
        f"EXECUTE PLAN '{path}';",
        sf_dir=sf_dir,
    )
    assert [r.kind for r in res] == ["compile_plan", "execute_plan"]
    payload = json.loads(path.read_text())
    assert payload["flinkPslSparkPlanVersion"] == 1
    # parse-phase tree: aggregation is still a Project over the relation
    # (analysis, not parsing, resolves it to Aggregate)
    assert payload["signatures"][0]["op"] == "Project"
    [row] = res[1].df.collect()
    assert row["n"] == spark.table("customer").count()


def test_compile_plan_refuses_overwrite(spark, sf_dir, tmp_path):
    path = tmp_path / "q.json"
    run_script(
        spark, f"COMPILE PLAN '{path}' FOR SELECT 1 AS one;", sf_dir=sf_dir
    )
    with pytest.raises(ValueError, match="force-recompile"):
        run_script(spark, f"COMPILE PLAN '{path}' FOR SELECT 2 AS two;")
    # the reference's table.plan.force-recompile unlocks overwrite
    try:
        run_script(
            spark,
            "SET 'table.plan.force-recompile' = 'true';\n"
            f"COMPILE PLAN '{path}' FOR SELECT 2 AS two;",
        )
    finally:
        spark.conf.unset("table.plan.force-recompile")
    assert "2 AS two" in json.loads(path.read_text())["statement"]


def test_execute_plan_detects_drift(spark, sf_dir, tmp_path):
    """Restore-compatibility gate: a stored signature that no longer
    matches the current parse fails instead of silently replanning."""
    path = tmp_path / "q.json"
    run_script(
        spark, f"COMPILE PLAN '{path}' FOR SELECT 1 AS one;", sf_dir=sf_dir
    )
    payload = json.loads(path.read_text())
    payload["signatures"][0]["op"] = "Tampered"
    path.write_text(json.dumps(payload))
    with pytest.raises(ValueError, match="parse-level drift"):
        run_script(spark, f"EXECUTE PLAN '{path}';")


def test_compile_and_execute_one_statement(spark, sf_dir, tmp_path):
    path = tmp_path / "q.json"
    res = run_script(
        spark,
        f"COMPILE AND EXECUTE PLAN '{path}' FOR SELECT 1 AS one;",
        sf_dir=sf_dir,
    )
    assert res[0].kind == "compile_plan"
    assert path.exists()
    # the executed statement's result comes back, same as EXECUTE PLAN
    assert res[0].df.collect()[0]["one"] == 1


def test_execute_plan_rejects_truncated_signatures(spark, sf_dir, tmp_path):
    """zip-truncation guard: fewer signatures than statements must fail,
    not silently skip the drift check and the statements."""
    path = tmp_path / "q.json"
    run_script(
        spark, f"COMPILE PLAN '{path}' FOR SELECT 1 AS one;", sf_dir=sf_dir
    )
    payload = json.loads(path.read_text())
    payload["signatures"] = []
    path.write_text(json.dumps(payload))
    with pytest.raises(ValueError, match="corrupt"):
        run_script(spark, f"EXECUTE PLAN '{path}';")


def test_explain_parenthesized_query_not_details(spark):
    """`EXPLAIN (SELECT 1)` is a parenthesized query, not a detail list —
    it must keep working (Spark accepts it natively)."""
    assert parse_explain("EXPLAIN (SELECT 1)") == ([], "(SELECT 1)")
    res = run_script(spark, "EXPLAIN (SELECT 1);")
    assert "== Optimized Execution Plan ==" in res[0].df.collect()[0][0]


def test_explain_statement_set_bare_details(spark, tmp_path):
    """The bare-detail spelling groups the block too (it previously died
    with a misleading 'missing its END')."""
    spark.sql(
        f"CREATE TABLE ss_bare (a INT) USING parquet "
        f"LOCATION '{tmp_path}/ss_bare'"
    )
    try:
        res = run_script(
            spark,
            "EXPLAIN PLAN_ADVICE EXECUTE STATEMENT SET BEGIN\n"
            "INSERT INTO ss_bare SELECT 1;\n"
            "INSERT INTO ss_bare SELECT 2;\n"
            "END;",
        )
        text = res[0].df.collect()[0][0]
        assert "-- statement 2 --" in text
        assert spark.table("ss_bare").count() == 0
    finally:
        spark.sql("DROP TABLE ss_bare")


def test_compile_plan_for_insert_does_not_execute(spark, tmp_path):
    spark.sql(
        f"CREATE TABLE plans_cp (a INT) USING parquet "
        f"LOCATION '{tmp_path}/plans_cp'"
    )
    try:
        path = tmp_path / "ins.json"
        run_script(
            spark, f"COMPILE PLAN '{path}' FOR INSERT INTO plans_cp SELECT 3;"
        )
        assert spark.table("plans_cp").count() == 0
        run_script(spark, f"EXECUTE PLAN '{path}';")
        assert spark.table("plans_cp").collect()[0][0] == 3
    finally:
        spark.sql("DROP TABLE plans_cp")


# -- gateway -----------------------------------------------------------------

def test_gateway_explain_statement(spark, sf_dir):
    from flink_psl_spark.gateway import GatewayClient, SqlGateway
    from flink_psl_spark.queries.registry import tables

    tables(spark, sf_dir)
    gw = SqlGateway(spark).start()
    try:
        client = GatewayClient(gw.url)
        sess = client.open_session()
        op = client.execute(
            sess, "EXPLAIN (PLAN_ADVICE) SELECT c_custkey FROM customer"
        )
        cols, rows = client.fetch_all(sess, op)
        assert cols == ["plan"]
        assert "== Plan Advice ==" in rows[0][0]
        client.close_session(sess)
    finally:
        gw.stop()


def test_parse_explain_property_roundtrip():
    """Every combination of detail subset × spelling (parenthesized/bare)
    × optional PLAN FOR parses to exactly (details, inner statement)."""
    from itertools import combinations

    inner = "SELECT a FROM t WHERE b > 1"
    all_details = sorted(EXPLAIN_DETAILS)
    for r in range(len(all_details) + 1):
        for combo in combinations(all_details, r):
            for plan_for in ("", "PLAN FOR "):
                spellings = [f"({', '.join(combo)}) " if combo else ""]
                if combo:
                    spellings.append(", ".join(combo) + " ")
                for spelled in spellings:
                    stmt = f"EXPLAIN {spelled}{plan_for}{inner}"
                    details, rest = parse_explain(stmt)
                    assert details == list(combo), stmt
                    assert rest == inner, stmt


# -- signatures + golden snapshots -------------------------------------------

def test_signature_rows_preorder(spark):
    sig = plan_signature(
        spark.range(10).selectExpr("id").where("id > 3"), "optimized"
    )
    rows = signature_rows(sig)
    assert [r[0] for r in rows] == list(range(len(rows)))
    assert rows[0][1] == 0  # root depth


def test_statement_signature_is_parse_only(spark):
    sig = statement_signature(spark, "SELECT a FROM not_a_real_table")
    # pure parse: unresolved relations are fine (nothing is analyzed/run)
    ops = json.dumps(sig)
    assert "UnresolvedRelation" in ops


def test_explain_details_constant_matches_reference():
    assert EXPLAIN_DETAILS == {
        "ESTIMATED_COST",
        "CHANGELOG_MODE",
        "PLAN_ADVICE",
        "JSON_EXECUTION_PLAN",
    }


@pytest.mark.parametrize("name", ALL_GOLDEN)
def test_golden_plan_snapshot(spark, sf_dir, name):
    """Each custom rewrite's optimized plan matches its committed golden
    snapshot (regenerate intentionally via scripts/update_golden_plans.py)."""
    with open(os.path.join(GOLDEN_DIR, f"{name}.json")) as f:
        expected = json.load(f)
    assert golden_signature(spark, sf_dir, name) == expected


# -- analyzed-phase drift gate (catalog/schema drift) ------------------------

def test_compile_plan_stores_analyzed_signature(spark, sf_dir, tmp_path):
    """Pure queries pin both the parse tree and the analyzed tree+schema;
    the analyzed layer is where catalog state binds."""
    path = tmp_path / "q.json"
    run_script(
        spark,
        f"COMPILE PLAN '{path}' FOR SELECT count(*) AS n FROM customer;",
        sf_dir=sf_dir,
    )
    payload = json.loads(path.read_text())
    [a] = payload["analyzed_signatures"]
    assert a["schema"] == "struct<n:bigint>"
    assert a["tree"]["op"] == "Aggregate"  # analysis resolves the agg


def test_execute_plan_detects_schema_drift(spark, tmp_path):
    """The reference-style restore gate: a table REPLACEd with a
    different schema must fail EXECUTE PLAN (ExecNodeGraph.java:29's
    restore-compatibility discipline), not silently re-plan."""
    spark.sql("CREATE OR REPLACE TEMP VIEW drift_v AS SELECT 1 AS a")
    path = tmp_path / "q.json"
    run_script(spark, f"COMPILE PLAN '{path}' FOR SELECT a FROM drift_v;")
    # same statement still parses identically — only the catalog changed
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW drift_v AS "
        "SELECT CAST(2.5 AS DOUBLE) AS a"
    )
    with pytest.raises(ValueError, match="catalog/schema drift"):
        run_script(spark, f"EXECUTE PLAN '{path}';")
    spark.catalog.dropTempView("drift_v")


def test_execute_plan_detects_view_redefinition(spark, tmp_path):
    """A view redefined to a different operator shape (same output
    schema) is caught by the analyzed TREE component of the signature."""
    spark.sql("CREATE OR REPLACE TEMP VIEW drift_w AS SELECT 1 AS a")
    path = tmp_path / "w.json"
    run_script(spark, f"COMPILE PLAN '{path}' FOR SELECT a FROM drift_w;")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW drift_w AS "
        "SELECT a FROM (SELECT 1 AS a) WHERE a > 0"
    )
    with pytest.raises(ValueError, match="catalog/schema drift"):
        run_script(spark, f"EXECUTE PLAN '{path}';")
    spark.catalog.dropTempView("drift_w")


def test_execute_plan_unchanged_catalog_still_runs(spark, sf_dir, tmp_path):
    """The deeper gate must not false-positive: compile then execute with
    an untouched catalog succeeds."""
    path = tmp_path / "q.json"
    res = run_script(
        spark,
        f"COMPILE PLAN '{path}' FOR SELECT count(*) AS n FROM customer;\n"
        f"EXECUTE PLAN '{path}';",
        sf_dir=sf_dir,
    )
    assert res[1].df.collect()[0]["n"] == spark.table("customer").count()


def test_execute_plan_detects_rewrite_drift(spark, sf_dir, tmp_path):
    """The dialect layer is re-run at execute time: stored rewritten SQL
    that rewrite_flink_sql no longer produces fails the gate (rewrite
    fixes invalidate compiled plans instead of silently not applying)."""
    path = tmp_path / "q.json"
    run_script(
        spark, f"COMPILE PLAN '{path}' FOR SELECT 1 AS one;", sf_dir=sf_dir
    )
    payload = json.loads(path.read_text())
    payload["rewritten"] = ["SELECT 2 AS one"]
    path.write_text(json.dumps(payload))
    with pytest.raises(ValueError, match="rewrite-layer drift"):
        run_script(spark, f"EXECUTE PLAN '{path}';")


def test_execute_plan_accepts_pre_analyzed_format(spark, sf_dir, tmp_path):
    """Plan files compiled before analyzed signatures existed (no
    'analyzed_signatures' key) still execute — gated at parse depth."""
    path = tmp_path / "q.json"
    run_script(
        spark, f"COMPILE PLAN '{path}' FOR SELECT 1 AS one;", sf_dir=sf_dir
    )
    payload = json.loads(path.read_text())
    del payload["analyzed_signatures"]
    path.write_text(json.dumps(payload))
    res = run_script(spark, f"EXECUTE PLAN '{path}';")
    assert res[0].df.collect()[0]["one"] == 1


def test_compile_plan_insert_has_no_analyzed_signature(spark, tmp_path):
    """Commands/DML must not be analyzed at compile time (spark.sql of an
    INSERT executes it) — their analyzed signature is stored as None."""
    spark.sql("DROP TABLE IF EXISTS cp_sink")
    spark.sql("CREATE TABLE cp_sink (x INT) USING parquet")
    try:
        path = tmp_path / "ins.json"
        run_script(
            spark, f"COMPILE PLAN '{path}' FOR INSERT INTO cp_sink SELECT 7;"
        )
        payload = json.loads(path.read_text())
        assert payload["analyzed_signatures"] == [None]
        assert spark.table("cp_sink").count() == 0  # compile never ran it
    finally:
        spark.sql("DROP TABLE IF EXISTS cp_sink")


# -- CHANGELOG_MODE sourced from the __op/__sign convention ------------------

def test_changelog_mode_annotates_retract_pipeline(spark, sf_dir):
    """A retract pipeline (operators/changelog.retract_rows → __sign)
    explains with retract modes on the nodes that carry the sign column,
    and insert-only [I] below them — sourced from the plan's own
    attributes, mirroring FlinkChangelogModeInferenceProgram.scala:43."""
    from flink_psl_spark.operators.changelog import retract_rows

    old = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    new = spark.createDataFrame([(1, 11), (3, 30)], "k int, v int")
    retract_rows(old, new, "k").createOrReplaceTempView("retr_v")
    res = run_script(
        spark, "EXPLAIN CHANGELOG_MODE SELECT * FROM retr_v;", sf_dir=sf_dir
    )
    text = res[0].df.collect()[0][0]
    assert "changelogMode=[I,UB,UA]" in text
    assert "changelogMode=[I]" in text  # the base relations stay insert-only
    spark.catalog.dropTempView("retr_v")


def test_changelog_mode_annotates_upsert_pipeline(spark, sf_dir):
    """An __op changelog (snapshot_diff's I/U/D rows) explains as an
    upsert stream [I,UA,D]."""
    from flink_psl_spark.operators.changelog import snapshot_diff

    old = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    new = spark.createDataFrame([(1, 11), (3, 30)], "k int, v int")
    snapshot_diff(old, new, "k").createOrReplaceTempView("diff_v")
    res = run_script(
        spark, "EXPLAIN CHANGELOG_MODE SELECT * FROM diff_v;", sf_dir=sf_dir
    )
    text = res[0].df.collect()[0][0]
    assert "changelogMode=[I,UA,D]" in text
    spark.catalog.dropTempView("diff_v")


def test_changelog_mode_helper():
    """plans.changelog_mode: the programmatic mode of a frame under the
    engine's changelog convention."""
    from flink_psl_spark.plans import changelog_mode

    class _Frame:  # duck-typed: changelog_mode only reads .columns
        def __init__(self, columns):
            self.columns = columns

    assert changelog_mode(_Frame(["k", "v"])) == "[I]"
    assert changelog_mode(_Frame(["k", "v", "__op"])) == "[I,UA,D]"
    assert changelog_mode(_Frame(["k", "v", "__sign"])) == "[I,UB,UA]"


def test_with_insert_is_not_a_pure_query(spark, tmp_path):
    """'WITH c AS (...) INSERT ...' starts like a query but parses to
    DML — signing or advising it must NEVER execute it (the prefix-only
    check did; the parse-tree predicate must not)."""
    from flink_psl_spark.plans import analyzed_signature, is_pure_query

    spark.sql("DROP TABLE IF EXISTS wi_sink")
    spark.sql("CREATE TABLE wi_sink (x INT) USING parquet")
    try:
        stmt = (
            "WITH c AS (SELECT 5 AS x) INSERT INTO wi_sink "
            "SELECT x FROM c"
        )
        assert not is_pure_query(spark, stmt)
        assert is_pure_query(spark, "WITH c AS (SELECT 5 AS x) "
                                    "SELECT x FROM c")
        # compile signs without running it
        assert analyzed_signature(spark, stmt) is None
        path = tmp_path / "wi.json"
        run_script(spark, f"COMPILE PLAN '{path}' FOR {stmt};")
        assert spark.table("wi_sink").count() == 0
        assert json.loads(path.read_text())["analyzed_signatures"] == [None]
        # EXPLAIN PLAN_ADVICE plans without running it either
        run_script(spark, f"EXPLAIN (PLAN_ADVICE) {stmt};")
        assert spark.table("wi_sink").count() == 0
        # EXECUTE PLAN is what actually runs it — exactly once
        run_script(spark, f"EXECUTE PLAN '{path}';")
        assert spark.table("wi_sink").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS wi_sink")


def test_execute_plan_rejects_truncated_analyzed_signatures(
    spark, sf_dir, tmp_path
):
    """A present-but-short analyzed_signatures list is corrupt — zip
    truncation must not skip statements or their drift checks."""
    path = tmp_path / "q.json"
    run_script(
        spark, f"COMPILE PLAN '{path}' FOR SELECT 1 AS one;", sf_dir=sf_dir
    )
    payload = json.loads(path.read_text())
    payload["analyzed_signatures"] = []
    path.write_text(json.dumps(payload))
    with pytest.raises(ValueError, match="corrupt"):
        run_script(spark, f"EXECUTE PLAN '{path}';")


def test_changelog_mode_pass_through_nodes_use_output_attrs(spark, sf_dir):
    """A pass-through node whose printed line omits attributes (Union)
    still annotates the mode of its OUTPUT — sourced from the JVM node,
    not the line text. (retract_rows itself no longer plans a Union —
    its single-join shape is golden-snapshotted — so build one.)"""
    import pyspark.sql.functions as F

    minus = spark.createDataFrame([(1, 10)], "k int, v int").withColumn(
        "__sign", F.lit(-1)
    )
    plus = spark.createDataFrame([(1, 11)], "k int, v int").withColumn(
        "__sign", F.lit(1)
    )
    minus.unionByName(plus).createOrReplaceTempView("retr_u")
    res = run_script(
        spark, "EXPLAIN CHANGELOG_MODE SELECT * FROM retr_u;", sf_dir=sf_dir
    )
    text = res[0].df.collect()[0][0]
    # only the Optimized Physical Plan section carries the annotations
    start = text.index("== Optimized Physical Plan ==")
    end = text.index("== Optimized Execution Plan ==")
    union_lines = [
        ln
        for ln in text[start:end].splitlines()
        if ln.lstrip().startswith("Union")
    ]
    assert union_lines and all(
        "changelogMode=[I,UB,UA]" in ln for ln in union_lines
    )
    spark.catalog.dropTempView("retr_u")
