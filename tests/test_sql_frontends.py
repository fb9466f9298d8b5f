"""One statement, three front-ends: the script client (``run_script``), the
REST gateway over HTTP and ``TableEnvironment.execute_sql`` must give the
same result rows, write the same tables and leave the same session conf —
the reference's SQL client and gateway share one parser and operation
converter, and here all three share ``sql_client.execute``."""

from __future__ import annotations

import json
import re

import pytest

from flink_psl_spark.api import TableEnvironment
from flink_psl_spark.gateway import FINISHED, GatewayClient, SqlGateway, _json_value
from flink_psl_spark.sql_client import run_script

KEY = "parity.k"
SINKS = {
    "parity_a": "x INT",
    "parity_b": "x INT",
    "parity_s": "window_start TIMESTAMP, n BIGINT",
}
TVF = (
    "SELECT window_start, COUNT(*) AS n "
    "FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
    "GROUP BY window_start"
)

# (id, statement, conf value of KEY before it runs); {tmp} is a directory
# of the front-end's own, {data} a one-column parquet file
STATEMENTS = [
    ("stmt_set_window_tvf",
     f"EXECUTE STATEMENT SET BEGIN INSERT INTO parity_s {TVF}; END", None),
    ("stmt_set_without_execute",
     "STATEMENT SET BEGIN INSERT INTO parity_a SELECT 1; END", None),
    ("set_after_comment", f"-- note\nSET '{KEY}' = 'v'", None),
    ("create_table_with_connector",
     "CREATE TABLE parity_ddl (id BIGINT) WITH ('connector' = 'filesystem', "
     "'path' = '{data}', 'format' = 'parquet')", None),
    ("set", f"SET '{KEY}' = 'v'", None),
    ("window_tvf_query", TVF, None),
    ("explain_plan_for", "EXPLAIN PLAN FOR SELECT 1", None),
    ("select", "SELECT 1 AS one, 'x' AS s", None),
    ("reset", f"RESET '{KEY}'", "v"),
    ("compile_plan", "COMPILE PLAN '{tmp}/plan.json' FOR SELECT 1 AS one", None),
    ("stmt_set_two_inserts",
     "EXECUTE STATEMENT SET BEGIN INSERT INTO parity_a SELECT 1; "
     "INSERT INTO parity_b SELECT 2; END", None),
]


@pytest.fixture(scope="module")
def gateway(spark, t):
    gw = SqlGateway(spark).start()
    yield gw
    gw.stop()


@pytest.fixture(scope="module")
def data_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("parity") / "ids")
    spark.range(3).write.parquet(path)
    return path


def _normal(rows) -> list:
    """Rows as the gateway's JSON encodes them, with plan expression ids
    masked, in a stable order."""
    def cell(v):
        v = _json_value(v)
        return re.sub(r"#\d+", "#", v) if isinstance(v, str) else v

    return sorted(
        (json.loads(json.dumps([cell(v) for v in r])) for r in rows),
        key=json.dumps,
    )


def _drop(spark) -> None:
    for name in [*SINKS, "parity_ddl"]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.conf.unset(KEY)


def _prepare(spark, base, before) -> None:
    _drop(spark)
    for name, schema in SINKS.items():
        spark.sql(
            f"CREATE TABLE {name} ({schema}) USING parquet "
            f"LOCATION '{base}/{name}'"
        )
    if before is not None:
        spark.conf.set(KEY, before)


def _written(spark) -> dict:
    return {
        name: _normal(spark.table(name).collect())
        for name in [*SINKS, "parity_ddl"]
        if spark.catalog.tableExists(name)
    }


def _via_script(spark, gateway, text):
    [res] = run_script(spark, text)
    return _normal(res.df.collect()), spark.conf.get(KEY, None)


def _via_gateway(spark, gateway, text):
    client = GatewayClient(gateway.url)
    h = client.open_session()
    try:
        op = client.execute(h, text)
        if client.status(h, op) != FINISHED:
            raise RuntimeError(gateway.service.sessions[h].operations[op].error)
        _, rows = client.fetch_all(h, op)
        # the session's own conf, read before close drops it
        session = gateway.service.sessions[h].spark
        return _normal(rows), session.conf.get(KEY, None)
    finally:
        client.close_session(h)


def _via_table_env(spark, gateway, text):
    df = TableEnvironment(spark).execute_sql(text)
    return _normal(df.collect()), spark.conf.get(KEY, None)


FRONT_ENDS = {
    "run_script": _via_script,
    "gateway": _via_gateway,
    "table_env": _via_table_env,
}


@pytest.mark.parametrize(
    "text,before", [s[1:] for s in STATEMENTS], ids=[s[0] for s in STATEMENTS]
)
def test_front_ends_agree(spark, gateway, data_path, tmp_path, text, before):
    outcomes, errors = {}, {}
    try:
        for name, run in FRONT_ENDS.items():
            base = tmp_path / name
            base.mkdir()
            _prepare(spark, base, before)
            try:
                rows, conf = run(
                    spark, gateway, text.format(tmp=base, data=data_path)
                )
            except Exception as e:  # every front-end runs; report them all
                errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            outcomes[name] = {
                "rows": rows, "conf": conf, "tables": _written(spark),
            }
    finally:
        _drop(spark)
    assert not errors
    assert outcomes["run_script"]["rows"], "every statement returns rows"
    assert outcomes["gateway"] == outcomes["run_script"]
    assert outcomes["table_env"] == outcomes["run_script"]


def test_statement_set_window_tvf_writes_rows(spark, t, tmp_path):
    """The window-TVF statement set writes one row per hour of events."""
    _prepare(spark, tmp_path, None)
    try:
        run_script(spark, STATEMENTS[0][1])
        got = spark.table("parity_s").count()
        assert got == run_script(spark, TVF)[0].df.count() > 0
    finally:
        _drop(spark)
