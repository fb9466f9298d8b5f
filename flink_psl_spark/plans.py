"""EXPLAIN dialect + compiled-plan surface — the reference's plan
introspection statements on Spark SQL.

Reference: the EXPLAIN statement with detail flags
(flink-table/flink-table-api-java/src/main/java/org/apache/flink/table/api/
ExplainDetail.java — ESTIMATED_COST, CHANGELOG_MODE, PLAN_ADVICE,
JSON_EXECUTION_PLAN), whose output is the section triple "== Abstract
Syntax Tree ==" / "== Optimized Physical Plan ==" / "== Optimized
Execution Plan ==" (PlannerBase.explain), and the compiled-plan surface:
``COMPILE PLAN 'f' FOR <dml>`` serializes the ExecNode graph as JSON
(flink-table-planner ExecNodeGraph.java:29, CompiledPlan.java) which
``EXECUTE PLAN 'f'`` restores; plan snapshots are the reference's
golden-file test discipline (TableTestBase.scala:92).

Spark-first mapping — Catalyst owns planning, so:

- The sections carry the REFERENCE'S header names so tooling ported from
  it parses unchanged (StreamPlanner.scala:99-130): "== Abstract Syntax
  Tree ==" is Spark's analyzed logical plan, "== Optimized Physical
  Plan ==" is Spark's optimized logical plan (Catalyst's last
  engine-owned phase — the analogue of the reference's planned tree),
  "== Optimized Execution Plan ==" is Spark's formatted physical plan,
  and the ``JSON_EXECUTION_PLAN`` detail lands under "== Physical
  Execution Plan ==" exactly as upstream's JSON-execution-plan section
  does. All are read from Spark's native EXPLAIN output without
  executing the statement (safe for INSERT too). Two sections are
  deliberate Spark-first EXTENSIONS with no upstream header:
  "== Estimated Cost ==" (upstream inlines cost into the physical plan;
  Spark's cost mode is a separate rendering) and "== Plan Advice ==" (a
  1.17 detail; this fork's ExplainDetail.java predates it).
- ``ESTIMATED_COST`` maps to Spark's cost mode (optimized plan annotated
  with Statistics — sizeInBytes/rowCount, Catalyst's own estimates).
- ``CHANGELOG_MODE`` annotates plan nodes with their changelog mode,
  sourced from the engine's OWN changelog convention
  (operators/changelog.py): a node whose output carries the ``__op``
  row-kind column is an upsert changelog ``[I,UA,D]``, one carrying the
  ``__sign`` retraction column is a retract stream ``[I,UB,UA]``, and
  everything else is insert-only ``[I]`` (mirroring
  FlinkChangelogModeInferenceProgram.scala:43's labels). Plain batch
  SQL therefore still annotates ``[I]`` truthfully.
- ``PLAN_ADVICE`` (FLINK-28743's advisor) runs engine-side plan checks:
  non-deterministic expressions feeding the plan (the reference's NDU
  advice, via :func:`operators.changelog.non_deterministic_expressions`),
  cartesian/nested-loop joins, and scans whose pushable filters did not
  reach the source.
- The JSON "compiled plan" is a *plan signature*: the operator tree with
  per-run identifiers (expression IDs, plan IDs, paths) stripped. Spark
  deliberately has no deserialize-a-physical-plan execution path — plans
  are re-derived from SQL at run time, which is what enables AQE — so
  ``EXECUTE PLAN`` re-plans the stored statement through Catalyst and
  FAILS on drift at three depths: the Flink-dialect rewrite of the
  original statement no longer produces the stored SQL (rewrite-layer
  drift), the stored SQL no longer parses to the stored tree
  (parser/tampering drift), or — for pure queries — the ANALYZED plan's
  operator tree or result schema changed (catalog/schema drift: a
  REPLACEd table, a changed column type — the gate the reference's
  plan-restore compatibility tests enforce around ExecNodeGraph.java:29).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

PLAN_FORMAT_VERSION = 1

#: the reference's ExplainDetail values
EXPLAIN_DETAILS = frozenset(
    {"ESTIMATED_COST", "CHANGELOG_MODE", "PLAN_ADVICE", "JSON_EXECUTION_PLAN"}
)
#: Spark's native explain modes — statements using them pass through to
#: ``spark.sql`` untouched so Spark-dialect EXPLAIN keeps working
_SPARK_MODES = frozenset({"EXTENDED", "CODEGEN", "COST", "FORMATTED"})

_EXPLAIN_RE = re.compile(r"^\s*EXPLAIN\s+(?P<rest>.+)$", re.IGNORECASE | re.DOTALL)
_COMPILE_RE = re.compile(
    r"^\s*COMPILE\s+(?P<and_exec>AND\s+EXECUTE\s+)?PLAN\s+"
    r"'(?P<path>[^']+)'\s+FOR\s+(?P<stmt>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+PLAN\s+'(?P<path>[^']+)'\s*$", re.IGNORECASE
)


# ---------------------------------------------------------------------------
# plan signatures (the compiled-plan payload + golden-snapshot unit)
# ---------------------------------------------------------------------------

def _walk_jvm_tree(node) -> dict:
    """TreeNode → {"op": nodeName, "children": [...]} — names only, no
    per-run IDs, so the signature is stable across sessions."""
    children = node.children()
    kids = [_walk_jvm_tree(children.apply(i)) for i in range(children.size())]
    out: dict = {"op": node.nodeName()}
    if kids:
        out["children"] = kids
    return out


def plan_signature(df: DataFrame, phase: str = "optimized") -> dict:
    """Signature of a DataFrame's plan at a Catalyst phase
    (``analyzed`` | ``optimized`` | ``physical``).

    The golden-snapshot unit for the engine's custom rewrites (temporal
    join, window TVFs, dedup recognition) — assert the operator tree, not
    brittle full plan text (reference: TableTestBase.scala:92 snapshots).
    """
    qe = df._jdf.queryExecution()
    if phase == "analyzed":
        plan = qe.analyzed()
    elif phase == "optimized":
        plan = qe.optimizedPlan()
    elif phase == "physical":
        plan = qe.executedPlan()
    else:
        raise ValueError("phase must be analyzed | optimized | physical")
    return _walk_jvm_tree(plan)


def signature_rows(sig: dict) -> list[tuple[int, int, str]]:
    """Flatten a signature to (position, depth, op) rows in pre-order —
    the SQL-comparable form used by the registered plan-shape query."""
    rows: list[tuple[int, int, str]] = []

    def rec(node: dict, depth: int) -> None:
        rows.append((len(rows), depth, node["op"]))
        for child in node.get("children", []):
            rec(child, depth + 1)

    rec(sig, 0)
    return rows


def statement_signature(spark: SparkSession, sql: str) -> dict:
    """Signature of a statement's PARSED plan — pure parse, never runs
    the statement, so it is safe for INSERT/DML (the compiled-plan
    payload; drift in it means the statement no longer plans the same)."""
    parsed = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    return _walk_jvm_tree(parsed)


_QUERY_RE = re.compile(r"^\s*(SELECT|WITH|VALUES|TABLE)\b", re.IGNORECASE)


def is_pure_query(spark: SparkSession, sql: str) -> bool:
    """True only when ``spark.sql(sql)`` is guaranteed lazy (a pure
    query), decided from the PARSE tree, never by running anything.

    The keyword prefix alone is not safe — ``WITH c AS (...) INSERT
    INTO t ...`` starts like a query but parses to an
    InsertIntoStatement that ``spark.sql`` executes eagerly. So after
    the cheap prefix test, walk the parse-only tree and reject any
    command/DML node (Spark names them *Statement / *Command /
    *Table — InsertIntoStatement, MergeIntoTable, DeleteFromTable,
    UpdateTable); pure-query parse trees contain relational ops only
    (Project, UnresolvedWith, GlobalLimit, ...)."""
    if not _QUERY_RE.match(sql):
        return False
    def clean(node: dict) -> bool:
        op = node["op"]
        if (
            op.endswith("Statement")
            or op.endswith("Command")
            or op in ("MergeIntoTable", "DeleteFromTable", "UpdateTable")
        ):
            return False
        return all(clean(c) for c in node.get("children", []))
    return clean(statement_signature(spark, sql))


def _analyzed_signature_of(df: DataFrame) -> dict:
    """The analyzed-phase payload of an already-built (lazy) frame."""
    analyzed = df._jdf.queryExecution().analyzed()
    return {
        "tree": _walk_jvm_tree(analyzed),
        "schema": analyzed.schema().catalogString(),
    }


def analyzed_signature(spark: SparkSession, sql: str) -> dict | None:
    """Signature of a pure query's ANALYZED plan: the resolved operator
    tree plus the result schema (catalog string). This is the layer at
    which catalog state binds, so it moves when a referenced table is
    REPLACEd with a different shape, a column changes type, or a view
    definition changes — the drift the reference's plan-restore gate
    catches by pinning the planned ExecNode graph (ExecNodeGraph.java:29,
    CompiledPlan.java). Returns None for anything that is not a pure
    query (per :func:`is_pure_query`, a parse-tree test — not a prefix
    test, so ``WITH ... INSERT`` is excluded too): ``spark.sql`` of a
    command would EXECUTE it, and signing must never run the statement
    (those keep the parse-level gate only)."""
    if not is_pure_query(spark, sql):
        return None
    return _analyzed_signature_of(spark.sql(sql))


# ---------------------------------------------------------------------------
# EXPLAIN
# ---------------------------------------------------------------------------

def parse_explain(stmt: str) -> tuple[list[str], str] | None:
    """Split an EXPLAIN statement into (details, inner statement).

    Returns None when the statement is not an EXPLAIN, or is a
    Spark-native-mode EXPLAIN (``EXPLAIN FORMATTED|EXTENDED|CODEGEN|COST``)
    that should pass through to ``spark.sql`` untouched. Accepts the
    reference's three spellings: ``EXPLAIN <stmt>``,
    ``EXPLAIN PLAN FOR <stmt>``, ``EXPLAIN detail[, detail] <stmt>``
    (parenthesized detail lists too).
    """
    m = _EXPLAIN_RE.match(stmt)
    if not m:
        return None
    rest = m.group("rest").strip()
    first = re.match(r"^(\w+)", rest)
    if first and first.group(1).upper() in _SPARK_MODES:
        return None  # Spark-dialect EXPLAIN — native passthrough
    details: list[str] = []
    if rest.startswith("("):
        if ")" not in rest:
            raise ValueError("EXPLAIN detail list is missing its ')'")
        close = rest.index(")")
        tokens = [d.strip() for d in rest[1:close].split(",") if d.strip()]
        # a paren group is a detail list only when it reads as one —
        # `EXPLAIN (SELECT 1)` is a parenthesized query, not details
        if tokens and all(re.fullmatch(r"\w+", t) for t in tokens):
            details = [t.upper() for t in tokens]
            rest = rest[close + 1 :].strip()
            bad = [d for d in details if d not in EXPLAIN_DETAILS]
            if bad:
                raise ValueError(
                    f"unknown EXPLAIN detail(s) {bad}; supported: "
                    f"{sorted(EXPLAIN_DETAILS)}"
                )
    else:
        while True:
            tok = re.match(r"^([A-Za-z_]+)\s*,?\s*", rest)
            if not tok or tok.group(1).upper() not in EXPLAIN_DETAILS:
                break
            details.append(tok.group(1).upper())
            rest = rest[tok.end() :]
    rest = re.sub(r"^PLAN\s+FOR\s+", "", rest, flags=re.IGNORECASE)
    return details, rest.strip()


def _spark_explain_text(spark: SparkSession, mode: str, sql: str) -> str:
    """One Spark EXPLAIN invocation — plans only, never executes the
    statement (Spark's ExplainCommand wraps DML without running it)."""
    return spark.sql(f"EXPLAIN {mode} {sql}").collect()[0][0]


def _section(text: str, header: str) -> str:
    """Extract one ``== header ==`` section from EXPLAIN EXTENDED output."""
    pattern = rf"== {re.escape(header)} ==\n(.*?)(?=\n== |\Z)"
    m = re.search(pattern, text, re.DOTALL)
    return m.group(1).strip("\n") if m else ""


#: column-name conventions that define a frame's changelog mode
#: (operators/changelog.py: ROWKIND_COL ``__op``, retract ``__sign``)
_MODE_BY_MARKER = (
    ("__sign", "[I,UB,UA]"),  # retract stream: ± update-before/after pairs
    ("__op", "[I,UA,D]"),  # upsert changelog: I / U(after-image) / D
)


def _line_changelog_mode(line: str) -> str:
    """Changelog mode of one optimized-plan text line, read from the
    attributes the node outputs: Catalyst prints attributes as
    ``name#id``, so a node carrying the engine's ``__op`` row-kind
    column is an upsert changelog and ``__sign`` a retract stream
    (the ``__op``-as-data design, SURVEY §7 M4 — labels mirror
    FlinkChangelogModeInferenceProgram.scala:43)."""
    for marker, mode in _MODE_BY_MARKER:
        if re.search(rf"\b{marker}#\d+", line):
            return mode
    return "[I]"


def _node_output_modes(plan) -> list[str]:
    """Changelog mode per plan node in pre-order, from each node's OUTPUT
    attribute names (node.output() — exact, unlike the printed line,
    which omits attributes for pass-through nodes like Union)."""
    modes: list[str] = []

    def rec(node) -> None:
        names = set()
        out = node.output()
        for i in range(out.size()):
            names.add(out.apply(i).name())
        mode = "[I]"
        for marker, m in _MODE_BY_MARKER:
            if marker in names:
                mode = m
                break
        modes.append(mode)
        children = node.children()
        for i in range(children.size()):
            rec(children.apply(i))

    rec(plan)
    return modes


def _annotate_changelog_mode(plan_text: str, plan=None) -> str:
    """Suffix every plan node line with its changelog mode, sourced from
    the changelog-convention columns in the node's output. When the JVM
    plan is supplied (pure queries) the mode comes from each node's
    output attributes in pre-order — exact even for pass-through nodes
    whose printed line omits attributes (Union); otherwise it falls back
    to the attributes visible on the line (see
    :func:`_line_changelog_mode`). A plan with no changelog columns —
    plain batch SQL — truthfully annotates ``[I]`` everywhere."""
    node_modes: list[str] | None = None
    lines = plan_text.splitlines()
    node_lines = [
        i for i, ln in enumerate(lines)
        if ln.rstrip() and not ln.startswith("==")
    ]
    if plan is not None:
        try:
            modes = _node_output_modes(plan)
            # treeString prints one line per node in pre-order; a count
            # mismatch (wrapped lines, subquery sections) → fall back
            if len(modes) == len(node_lines):
                node_modes = modes
        except Exception:
            node_modes = None
    out = []
    k = 0
    for i, line in enumerate(lines):
        stripped = line.rstrip()
        if i in set(node_lines):
            mode = (
                node_modes[k]
                if node_modes is not None
                else _line_changelog_mode(stripped)
            )
            out.append(f"{stripped}, changelogMode={mode}")
            k += 1
        else:
            out.append(stripped)
    return "\n".join(out)


def changelog_mode(df: DataFrame) -> str:
    """The changelog mode a frame's rows carry under the engine's
    ``__op``/``__sign`` convention (operators/changelog.py): the
    programmatic complement of ``EXPLAIN CHANGELOG_MODE`` for pipelines
    built with the DataFrame operators rather than SQL text."""
    cols = set(df.columns)
    for marker, mode in _MODE_BY_MARKER:
        if marker in cols:
            return mode
    return "[I]"


_DEFAULT_BROADCAST_BYTES = 10 * 1024 * 1024


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes; -1 = disabled."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    ).strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*(b|k|kb|m|mb|g|gb)?", raw)
    if not m:
        return _DEFAULT_BROADCAST_BYTES
    n = int(m.group(1))
    unit = {"k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
            "g": 1 << 30, "gb": 1 << 30}.get(m.group(2) or "b", 1)
    return n * unit


def _join_side_size_estimates(df: DataFrame) -> list[list[int]]:
    """Catalyst's sizeInBytes estimate per side of every logical join."""
    out: list[list[int]] = []

    def rec(node) -> None:
        children = node.children()
        if node.nodeName() == "Join":
            sizes = []
            for i in range(children.size()):
                try:
                    raw = children.apply(i).stats().sizeInBytes()
                    # py4j hands scala.BigInt back as a Python int already
                    sizes.append(int(raw) if isinstance(raw, int) else int(str(raw)))
                except Exception:
                    pass
            if len(sizes) == 2:
                out.append(sizes)
        for i in range(children.size()):
            rec(children.apply(i))

    rec(df._jdf.queryExecution().optimizedPlan())
    return out


def _plan_advice(spark: SparkSession, sql: str, physical: str) -> list[str]:
    """Engine-side plan checks (the reference's PLAN_ADVICE advisor,
    FLINK-28743): NDU expressions, cartesian joins, unpushed filters,
    shuffled joins whose smallest side is broadcast-sized."""
    advice: list[str] = []
    # NDU analysis needs an analyzed DataFrame; build one ONLY for pure
    # queries — spark.sql() of a command (CREATE VIEW, INSERT,
    # WITH…INSERT, …) would execute it, and EXPLAIN must never run its
    # statement (shared parse-tree predicate, not a prefix test)
    is_query = is_pure_query(spark, sql)
    if is_query:
        from flink_psl_spark.operators.changelog import (
            non_deterministic_expressions,
        )

        nd = non_deterministic_expressions(spark.sql(sql))
        for expr in nd:
            advice.append(
                f"warning: non-deterministic expression '{expr}' — "
                "materialize it before any changelog/upsert boundary "
                "(the reference's NDU advice)"
            )
    if "CartesianProduct" in physical or "BroadcastNestedLoopJoin" in physical:
        advice.append(
            "warning: plan contains a cartesian / nested-loop join — add an "
            "equi-join condition or a bin-keyed range rewrite "
            "(operators.joins.interval_join)"
        )
    if re.search(r"PushedFilters: \[\]", physical) and re.search(
        r"\bFilter\b", physical
    ):
        advice.append(
            "info: a scan has no pushed filters while the plan filters "
            "above it — check the predicate is pushdown-eligible "
            "(no UDF/cast on the scan column)"
        )
    if is_query and (
        "SortMergeJoin" in physical or "ShuffledHashJoin" in physical
    ):
        threshold = _broadcast_threshold_bytes(spark)
        bar = threshold if threshold > 0 else _DEFAULT_BROADCAST_BYTES
        for sizes in _join_side_size_estimates(spark.sql(sql)):
            small = min(sizes)
            if small <= 4 * bar:
                advice.append(
                    "info: a shuffled join's smallest side is estimated at "
                    f"~{small} bytes (autoBroadcastJoinThreshold is "
                    f"{threshold}) — consider a broadcast() hint or raising "
                    "the threshold; if the estimate is stale, ANALYZE TABLE "
                    "refreshes it"
                )
                break  # one advice item covers the pattern
    return advice


def explain_statement(
    spark: SparkSession, statement: str, details: list[str] | None = None
) -> str:
    """Produce the reference's multi-section EXPLAIN text for a statement
    (already split from the EXPLAIN keyword; Flink-dialect clauses are
    rewritten first so EXPLAIN sees the same plan the statement runs).

    ``EXPLAIN [details] STATEMENT SET BEGIN …; END`` explains every inner
    INSERT, one report per statement (the reference explains the fused
    job; Spark plans per action, so the reports are per-INSERT)."""
    from flink_psl_spark.temporal_sql import rewrite_flink_sql

    from flink_psl_spark.sql_client import entries

    details = [d.upper() for d in (details or [])]
    grouped = entries(statement)
    if any(isinstance(e, list) for e in grouped):
        if len(grouped) != 1:
            raise ValueError("EXPLAIN accepts exactly one STATEMENT SET block")
        return "\n\n".join(
            f"-- statement {i + 1} --\n"
            + explain_statement(spark, inner, details)
            for i, inner in enumerate(grouped[0])
        )
    rewritten = rewrite_flink_sql(statement)
    if isinstance(rewritten, list):
        raise ValueError(
            "EXPLAIN of a DDL that expands to multiple statements is not "
            "supported — run the DDL, then EXPLAIN queries against it"
        )
    # section headers are the REFERENCE'S (StreamPlanner.scala:99-130):
    # its "Optimized Physical Plan" holds the planner-owned optimized
    # tree (Spark: the optimized logical plan — Catalyst's last
    # engine-owned phase), its "Optimized Execution Plan" the runnable
    # form (Spark: the formatted physical plan), and its "Physical
    # Execution Plan" is the JSON-execution-plan section emitted only
    # with the JSON_EXECUTION_PLAN detail. The _section() reads below
    # parse SPARK's native EXTENDED/COST output, whose own header names
    # are unrelated to ours.
    extended = _spark_explain_text(spark, "EXTENDED", rewritten)
    optimized = _section(extended, "Optimized Logical Plan")
    if "CHANGELOG_MODE" in details:
        # pure queries: per-node output attributes (exact); commands
        # cannot be rebuilt without executing → line-text fallback
        jplan = (
            spark.sql(rewritten)._jdf.queryExecution().optimizedPlan()
            if is_pure_query(spark, rewritten)
            else None
        )
        optimized = _annotate_changelog_mode(optimized, jplan)
    physical = _spark_explain_text(spark, "FORMATTED", rewritten)
    sections = [
        ("Abstract Syntax Tree", _section(extended, "Analyzed Logical Plan")),
        ("Optimized Physical Plan", optimized),
    ]
    if "ESTIMATED_COST" in details:
        cost = _spark_explain_text(spark, "COST", rewritten)
        sections.append(
            ("Estimated Cost", _section(cost, "Optimized Logical Plan"))
        )
    sections.append(("Optimized Execution Plan", physical.strip("\n")))
    if "PLAN_ADVICE" in details:
        items = _plan_advice(spark, rewritten, physical)
        body = (
            "\n".join(f"advice[{i + 1}]: {a}" for i, a in enumerate(items))
            if items
            else "no available advice"
        )
        sections.append(("Plan Advice", body))
    if "JSON_EXECUTION_PLAN" in details:
        sections.append(
            (
                "Physical Execution Plan",
                json.dumps(statement_signature(spark, rewritten), indent=2),
            )
        )
    return "\n\n".join(f"== {h} ==\n{b}" for h, b in sections)


# ---------------------------------------------------------------------------
# COMPILE PLAN / EXECUTE PLAN
# ---------------------------------------------------------------------------

def compile_plan(spark: SparkSession, path: str, statement: str) -> dict:
    """``COMPILE PLAN 'path' FOR <stmt>``: persist the statement with its
    plan signature WITHOUT executing it. Refuses to overwrite an existing
    file unless ``table.plan.force-recompile`` is true (the reference's
    config key)."""
    force = (
        spark.conf.get("table.plan.force-recompile", "false").lower() == "true"
    )
    if os.path.exists(path) and not force:
        raise ValueError(
            f"plan file '{path}' already exists — SET "
            "'table.plan.force-recompile' = 'true' to overwrite, as in the "
            "reference"
        )
    from flink_psl_spark.temporal_sql import rewrite_flink_sql

    rewritten = rewrite_flink_sql(statement)
    stmts = rewritten if isinstance(rewritten, list) else [rewritten]
    payload = {
        "flinkPslSparkPlanVersion": PLAN_FORMAT_VERSION,
        "statement": statement,
        "rewritten": stmts,
        "signatures": [statement_signature(spark, s) for s in stmts],
        # analyzed-phase signatures pin catalog state for pure queries
        # (None for commands/DML — signing must never execute them)
        "analyzed_signatures": [analyzed_signature(spark, s) for s in stmts],
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=2)
    return payload


def execute_plan(spark: SparkSession, path: str) -> DataFrame:
    """``EXECUTE PLAN 'path'``: re-plan the stored statement through
    Catalyst and run it; fail on drift at three depths (the reference's
    restore compatibility gate, ExecNodeGraph.java:29):

    1. rewrite drift — ``rewrite_flink_sql`` of the original statement no
       longer produces the stored rewritten SQL (the dialect layer
       changed since compile time);
    2. parse drift — the stored SQL no longer parses to the stored tree
       (a Spark parser upgrade, or the file was tampered with);
    3. catalog/schema drift (pure queries only) — the ANALYZED operator
       tree or result schema changed: a referenced table was REPLACEd
       with a different shape, a column type changed, a view was
       redefined. Commands/DML carry no analyzed signature (signing
       would execute them) and are gated at depths 1-2 only.
    """
    with open(path) as f:
        payload = json.load(f)
    if payload.get("flinkPslSparkPlanVersion") != PLAN_FORMAT_VERSION:
        raise ValueError(
            f"plan file '{path}' has unsupported version "
            f"{payload.get('flinkPslSparkPlanVersion')}"
        )
    if len(payload.get("signatures", [])) != len(payload.get("rewritten", [])):
        raise ValueError(
            f"compiled plan '{path}' is corrupt: "
            f"{len(payload.get('rewritten', []))} statement(s) but "
            f"{len(payload.get('signatures', []))} signature(s)"
        )
    if "statement" in payload:
        from flink_psl_spark.temporal_sql import rewrite_flink_sql

        recur = rewrite_flink_sql(payload["statement"])
        recur_list = recur if isinstance(recur, list) else [recur]
        if recur_list != payload["rewritten"]:
            raise ValueError(
                f"compiled plan '{path}' has rewrite-layer drift: the "
                "Flink-dialect rewrite of its statement no longer "
                "produces the SQL it was compiled with — recompile with "
                "COMPILE PLAN after reviewing the rewrite change"
            )
    # plans compiled before analyzed signatures existed verify at
    # parse depth only (their list is all-None); a PRESENT list must
    # line up — zip truncation would silently skip statements
    analyzed_stored = payload.get(
        "analyzed_signatures", [None] * len(payload["rewritten"])
    )
    if len(analyzed_stored) != len(payload["rewritten"]):
        raise ValueError(
            f"compiled plan '{path}' is corrupt: "
            f"{len(payload['rewritten'])} statement(s) but "
            f"{len(analyzed_stored)} analyzed signature(s)"
        )
    df = None
    for sql, stored, a_stored in zip(
        payload["rewritten"], payload["signatures"], analyzed_stored
    ):
        current = statement_signature(spark, sql)
        if current != stored:
            raise ValueError(
                f"compiled plan '{path}' has parse-level drift: its "
                "stored statement no longer parses to the tree it was "
                "compiled with (parser upgrade or file tampering) — "
                "recompile with COMPILE PLAN after reviewing the change"
            )
        if a_stored is not None:
            # pure query: building the frame is lazy; analyze ONCE and
            # reuse it as the execution frame
            df = spark.sql(sql)
            if _analyzed_signature_of(df) != a_stored:
                raise ValueError(
                    f"compiled plan '{path}' has catalog/schema drift: a "
                    "table or view the query reads was replaced or "
                    "changed shape since compile time (stored schema "
                    f"{a_stored.get('schema')!r}) — recompile with "
                    "COMPILE PLAN after reviewing the catalog change"
                )
        else:
            df = spark.sql(sql)
    return df


# ---------------------------------------------------------------------------
# statement dispatch (sql_client.execute calls this)
# ---------------------------------------------------------------------------

def maybe_plan_statement(
    spark: SparkSession, stmt: str
) -> tuple[str, DataFrame | None] | None:
    """Handle EXPLAIN / COMPILE PLAN / EXECUTE PLAN statements; return
    (kind, result DataFrame, or None when the statement has no rows of its
    own) or None for statements this module does not own (including
    Spark-native-mode EXPLAIN, which passes through)."""
    m = _EXECUTE_RE.match(stmt)
    if m:
        return "execute_plan", execute_plan(spark, m.group("path"))
    m = _COMPILE_RE.match(stmt)
    if m:
        compile_plan(spark, m.group("path"), m.group("stmt"))
        if m.group("and_exec"):
            return "compile_plan", execute_plan(spark, m.group("path"))
        return "compile_plan", None
    parsed = parse_explain(stmt)
    if parsed is not None:
        details, inner = parsed
        text = explain_statement(spark, inner, details)
        return "explain", spark.createDataFrame([(text,)], "plan string")
    return None
