"""SQL script execution — the reference's SQL-client surface on Spark SQL.

Reference: flink-table/flink-sql-client (SqlClient.java:62) executes ``-f``
script files: ';'-terminated statements, ``SET 'key' = 'value';`` session
config, DDL/DML/queries. Spark's engine runs the statements natively
(``spark.sql``); this module supplies the script semantics — statement
splitting that respects quotes/comments, SET/RESET handling against the
session conf, and per-statement results — so a user can port a
``sql-client -f job.sql`` invocation directly.

``execute`` is the one statement path: the script runner, the REST
gateway (gateway.py) and TableEnvironment (api.py) all classify and run
statement text through it, so they differ only in how the text arrives.

Statement coverage (the dialect layer's single source of truth):

- **Rewritten here / in ddl.py / temporal_sql.py / plans.py**:
  ``SET``/``RESET``, ``[EXECUTE] STATEMENT SET BEGIN … END``,
  ``EXPLAIN [(ESTIMATED_COST|CHANGELOG_MODE|PLAN_ADVICE|``
  ``JSON_EXECUTION_PLAN)] [PLAN FOR]``, ``COMPILE [AND EXECUTE] PLAN …
  FOR …`` / ``EXECUTE PLAN …`` (plans.py), reference
  DDL (``CREATE TABLE … WITH (connector=…)``), group windows
  (``TUMBLE``/``HOP``/``SESSION``), window TVFs
  (``TABLE(TUMBLE|HOP|CUMULATE(...))``), ``FOR SYSTEM_TIME AS OF``.
- **Not a statement here**: ``MATCH_RECOGNIZE`` is not routed through
  this path; match_recognize_sql.py applies a clause to a DataFrame
  (``match_recognize_sql(df, clause)``).
- **Pass-through** (Spark SQL runs them natively, same syntax):
  ``SHOW TABLES/DATABASES/FUNCTIONS/VIEWS``, ``DESCRIBE``, ``USE``,
  ``ANALYZE TABLE``, ``CREATE/DROP VIEW``, ``INSERT``, queries.
- **Pass-through (deployment)**: ``ADD JAR`` is native Spark SQL.
- **Intentionally unmapped** — cluster-process statements with no Spark
  statement counterpart: ``SHOW JOBS`` / ``STOP JOB <id>`` (reference:
  flink-sql-client's job lifecycle against a JobManager). Their
  counterpart HERE is the SQL gateway's operation surface
  (gateway.py: list operations / cancel-operation, which interrupts the
  real Spark job group), matching how the reference's own gateway models
  cancellation. ``SET``-only deployment keys (``execution.target`` etc.)
  are accepted but inert, as in a library deployment.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from flink_psl_spark.plans import EXPLAIN_DETAILS, maybe_plan_statement
from flink_psl_spark.temporal_sql import rewrite_flink_sql


def split_statements(script: str) -> list[str]:
    """Split a SQL script into statements on ';', respecting single/double
    quotes, backticks, and ``--`` line comments."""
    out, buf = [], []
    quote: str | None = None
    i, n = 0, len(script)
    while i < n:
        c = script[i]
        if quote:
            buf.append(c)
            if c == quote:
                quote = None
            elif c == "\\" and i + 1 < n:  # escaped char inside quotes
                i += 1
                buf.append(script[i])
            i += 1
            continue
        if c in ("'", '"', "`"):
            quote = c
            buf.append(c)
        elif c == "-" and script[i : i + 2] == "--":
            j = script.find("\n", i)
            i = (n if j < 0 else j)
            continue
        elif c == ";":
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
        else:
            buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


_SET_RE = re.compile(
    r"^SET\s+'?(?P<key>[^'=\s]+)'?\s*=\s*'?(?P<val>[^']*?)'?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESET_RE = re.compile(r"^RESET\s+'?(?P<key>[^'\s]+)'?\s*$", re.IGNORECASE)


@dataclass
class StatementResult:
    statement: str
    # query | set | reset | statement_set | explain | compile_plan | execute_plan
    kind: str
    df: DataFrame


_STMT_SET_OPEN = re.compile(
    # the EXPLAIN prefix admits both detail spellings — parenthesized
    # `(A, B)` and bare `A, B` keyword lists; the bare alternation is
    # built from plans.EXPLAIN_DETAILS so the two stay in sync
    r"^(?P<explain>EXPLAIN\s+(?:\([^)]*\)\s*"
    r"|(?:(?:" + "|".join(sorted(EXPLAIN_DETAILS)) + r")"
    r"\s*,?\s*)+)?(?:PLAN\s+FOR\s+)?)?"
    r"(?:EXECUTE\s+)?STATEMENT\s+SET\s+BEGIN\b(?P<first>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def entries(script: str) -> list[str | list[str]]:
    """Split a script into its entries: one statement string each, except
    that a `[EXECUTE] STATEMENT SET BEGIN …; …; END` block, which the ';'
    splitter separates, comes back as ONE entry, the list of its inner
    statements (reference: the client's statement-set mode — multiple
    INSERTs submitted as one job). An `EXPLAIN [(details)] [EXECUTE]
    STATEMENT SET …` block is reassembled back into ONE statement string
    so the plan dispatcher (plans.explain_statement) sees the whole
    block."""
    stmts = split_statements(script)
    out: list[str | list[str]] = []
    i = 0
    while i < len(stmts):
        m = _STMT_SET_OPEN.match(stmts[i])
        if not m:
            out.append(stmts[i])
            i += 1
            continue
        explain_prefix = m.group("explain") or ""
        inner: list[str] = []
        first = m.group("first").strip()
        if first:
            inner.append(first)
        i += 1
        while i < len(stmts) and stmts[i].strip().upper() != "END":
            inner.append(stmts[i])
            i += 1
        if i == len(stmts):
            raise ValueError("STATEMENT SET block is missing its END")
        i += 1  # consume END
        for s in inner:
            if not re.match(r"^\s*INSERT\b", s, re.IGNORECASE):
                raise ValueError(
                    "only INSERT statements are allowed inside a STATEMENT "
                    f"SET (got {s.split()[0]!r}), as in the reference"
                )
        if explain_prefix:
            out.append(
                explain_prefix
                + "STATEMENT SET BEGIN "
                + "; ".join(inner)
                + "; END"
            )
        else:
            out.append(inner)
    return out


def _ok(spark: SparkSession, n: int = 1) -> DataFrame:
    """The result of a statement that returns no rows of its own: one
    `result` column of `OK` rows (the reference's TABLE_RESULT_OK)."""
    return spark.createDataFrame([("OK",)] * n, "result string")


def _run_sql(spark: SparkSession, stmt: str) -> DataFrame:
    """Run one statement after the Flink SQL clause rewrites (DDL dialect,
    temporal joins, window TVFs); a DDL may expand to several statements,
    and the last one's frame is the result."""
    rewritten = rewrite_flink_sql(stmt)
    for sql in rewritten if isinstance(rewritten, list) else [rewritten]:
        df = spark.sql(sql)
    return df


def _execute_entry(spark: SparkSession, entry: str | list[str]) -> StatementResult:
    if isinstance(entry, list):
        # statement set: the reference compiles the INSERTs into ONE job
        # (shared sources dedup'd); Spark plans per action, so they run
        # sequentially with identical results — the single-job fusion is
        # an optimization the engine does not replicate
        for inner in entry:
            _run_sql(spark, inner)
        return StatementResult(
            "; ".join(entry), "statement_set", _ok(spark, max(1, len(entry)))
        )
    df = None
    # EXPLAIN (with the reference's detail flags) / COMPILE PLAN /
    # EXECUTE PLAN — plans.py owns the plan-statement dialect
    handled = maybe_plan_statement(spark, entry)
    if handled is not None:
        kind, df = handled
    elif m := _SET_RE.match(entry):
        kind = "set"
        spark.conf.set(m.group("key"), m.group("val"))
    elif m := _RESET_RE.match(entry):
        kind = "reset"
        try:
            spark.conf.unset(m.group("key"))
        except Exception:
            pass  # resetting a never-set key is a no-op, like the client
    else:
        kind, df = "query", _run_sql(spark, entry)
    if df is None or not df.schema.fields:
        df = _ok(spark)
    return StatementResult(entry, kind, df)


def execute(spark: SparkSession, statement: str) -> StatementResult:
    """Classify and run ONE statement or ONE STATEMENT SET block — the
    single statement path of the SQL client, the REST gateway and
    TableEnvironment.

    ``SET 'k' = 'v'`` / ``RESET 'k'`` hit the conf of ``spark`` (the
    reference's session-option semantics); a statement set runs its
    INSERTs in order; EXPLAIN / COMPILE PLAN / EXECUTE PLAN go to
    plans.py; everything else runs through ``spark.sql`` after the Flink
    SQL clause rewrites (DDL/DML execute eagerly, a query's DataFrame is
    lazy). A statement with no result columns of its own (SET, RESET, DDL,
    DML) returns a `result` frame of one `OK` row; a statement set returns
    one per inner INSERT.
    """
    found = entries(statement)
    if len(found) != 1:
        raise ValueError(
            f"expected exactly one statement, got {len(found)}; submit "
            "content outside a STATEMENT SET block separately"
        )
    return _execute_entry(spark, found[0])


def run_script(
    spark: SparkSession, script: str, *, sf_dir: str | None = None
) -> list[StatementResult]:
    """Execute a SQL script statement by statement through the
    ``execute`` path. With ``sf_dir``, the fixture tables are registered
    first so scripts can reference them by name."""
    if sf_dir is not None:
        from flink_psl_spark.queries.registry import tables

        tables(spark, sf_dir)
    return [_execute_entry(spark, entry) for entry in entries(script)]


def run_script_file(
    spark: SparkSession, path: str, *, sf_dir: str | None = None
) -> list[StatementResult]:
    """``sql-client -f`` equivalent: run a script file."""
    with open(path) as f:
        return run_script(spark, f.read(), sf_dir=sf_dir)
