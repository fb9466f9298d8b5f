"""SQL script execution — the reference's SQL-client surface on Spark SQL.

Reference: flink-table/flink-sql-client (SqlClient.java:62) executes ``-f``
script files: ';'-terminated statements, ``SET 'key' = 'value';`` session
config, DDL/DML/queries. Spark's engine runs the statements natively
(``spark.sql``); this module supplies the script semantics — statement
splitting that respects quotes/comments, SET/RESET handling against the
session conf, and per-statement results — so a user can port a
``sql-client -f job.sql`` invocation directly.

Statement coverage (the dialect layer's single source of truth):

- **Rewritten here / in ddl.py / temporal_sql.py / plans.py**:
  ``SET``/``RESET``, ``EXECUTE STATEMENT SET BEGIN … END``,
  ``EXPLAIN [(ESTIMATED_COST|CHANGELOG_MODE|PLAN_ADVICE|``
  ``JSON_EXECUTION_PLAN)] [PLAN FOR]``, ``COMPILE [AND EXECUTE] PLAN …
  FOR …`` / ``EXECUTE PLAN …`` (plans.py), reference
  DDL (``CREATE TABLE … WITH (connector=…)``), group windows
  (``TUMBLE``/``HOP``/``SESSION``), window TVFs
  (``TABLE(TUMBLE|HOP|CUMULATE(...))``), ``FOR SYSTEM_TIME AS OF``,
  ``MATCH_RECOGNIZE`` (match_recognize_sql.py).
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
    kind: str  # set | reset | query | statement_set
    df: DataFrame | None = None


from flink_psl_spark.plans import EXPLAIN_DETAILS as _EXPLAIN_DETAILS  # noqa: E402

_STMT_SET_OPEN = re.compile(
    # the EXPLAIN prefix admits both detail spellings — parenthesized
    # `(A, B)` and bare `A, B` keyword lists; the bare alternation is
    # built from plans.EXPLAIN_DETAILS so the two stay in sync
    r"^(?P<explain>EXPLAIN\s+(?:\([^)]*\)\s*"
    r"|(?:(?:" + "|".join(sorted(_EXPLAIN_DETAILS)) + r")"
    r"\s*,?\s*)+)?(?:PLAN\s+FOR\s+)?)?"
    r"(?:EXECUTE\s+)?STATEMENT\s+SET\s+BEGIN\b(?P<first>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _group_statement_sets(stmts: list[str]) -> list[str | list[str]]:
    """Reassemble `EXECUTE STATEMENT SET BEGIN …; …; END` blocks that the
    ';' splitter separated (reference: the client's statement-set mode —
    multiple INSERTs submitted as one job). A grouped entry is the list of
    inner statements. An `EXPLAIN [(details)] [EXECUTE] STATEMENT SET …`
    block is reassembled back into ONE statement string so the plan
    dispatcher (plans.explain_statement) sees the whole block."""
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


def run_script(
    spark: SparkSession, script: str, *, sf_dir: str | None = None
) -> list[StatementResult]:
    """Execute a SQL script statement by statement.

    ``SET 'k' = 'v'`` / ``RESET 'k'`` hit the session conf (the reference's
    session-option semantics); everything else goes through ``spark.sql``
    eagerly (DDL/DML execute; queries return their DataFrame lazily in the
    result list). With ``sf_dir``, the fixture tables are registered first
    so scripts can reference them by name.
    """
    if sf_dir is not None:
        from flink_psl_spark.queries.registry import tables

        tables(spark, sf_dir)
    results: list[StatementResult] = []
    for stmt in _group_statement_sets(split_statements(script)):
        if isinstance(stmt, list):
            # statement set: the reference compiles the INSERTs into ONE job
            # (shared sources dedup'd); Spark plans per action, so they run
            # sequentially with identical results — the single-job fusion is
            # an optimization the engine does not replicate
            from flink_psl_spark.temporal_sql import rewrite_flink_sql

            for inner in stmt:
                spark.sql(rewrite_flink_sql(inner))
            results.append(
                StatementResult("; ".join(stmt), "statement_set")
            )
            continue
        # EXPLAIN (with the reference's detail flags) / COMPILE PLAN /
        # EXECUTE PLAN — plans.py owns the plan-statement dialect
        from flink_psl_spark.plans import maybe_plan_statement

        handled = maybe_plan_statement(spark, stmt)
        if handled is not None:
            kind, df = handled
            results.append(StatementResult(stmt, kind, df))
            continue
        m = _SET_RE.match(stmt)
        if m:
            spark.conf.set(m.group("key"), m.group("val"))
            results.append(StatementResult(stmt, "set"))
            continue
        m = _RESET_RE.match(stmt)
        if m:
            try:
                spark.conf.unset(m.group("key"))
            except Exception:
                pass  # resetting a never-set key is a no-op, like the client
            results.append(StatementResult(stmt, "reset"))
            continue
        # Flink SQL clause rewrites (DDL dialect, temporal joins, window
        # TVFs) -> standard SQL; a DDL may expand to several statements
        from flink_psl_spark.temporal_sql import rewrite_flink_sql

        rewritten = rewrite_flink_sql(stmt)
        if isinstance(rewritten, list):
            df = None
            for r in rewritten:
                df = spark.sql(r)
            results.append(StatementResult(stmt, "query", df))
        else:
            results.append(StatementResult(stmt, "query", spark.sql(rewritten)))
    return results


def run_script_file(
    spark: SparkSession, path: str, *, sf_dir: str | None = None
) -> list[StatementResult]:
    """``sql-client -f`` equivalent: run a script file."""
    with open(path) as f:
        return run_script(spark, f.read(), sf_dir=sf_dir)
