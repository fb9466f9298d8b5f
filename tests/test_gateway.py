"""SQL Gateway REST service tests (reference: flink-sql-gateway
SqlGatewayServiceITCase / SqlGatewayRestEndpointStatementITCase)."""

from __future__ import annotations

import json
from urllib.error import HTTPError
from urllib.request import Request, urlopen

import pytest

from flink_psl_spark.gateway import FINISHED, GatewayClient, SqlGateway


@pytest.fixture(scope="module")
def gateway(spark):
    gw = SqlGateway(spark).start()
    yield gw
    gw.stop()


@pytest.fixture(scope="module")
def client(gateway):
    return GatewayClient(gateway.url)


def test_info_and_versions(gateway):
    with urlopen(gateway.url + "/v1/info") as r:
        info = json.loads(r.read())
    assert "productName" in info
    with urlopen(gateway.url + "/api_versions") as r:
        assert "V2" in json.loads(r.read())["versions"]


def test_session_lifecycle(client):
    h = client.open_session({"k": "v"})
    cfg = client._call("GET", f"/sessions/{h}")["properties"]
    assert cfg.get("k") == "v"
    client._call("POST", f"/sessions/{h}/heartbeat")
    client.close_session(h)
    with pytest.raises(HTTPError) as ei:
        client._call("GET", f"/sessions/{h}")
    assert ei.value.code == 404


def test_statement_roundtrip(client):
    h = client.open_session()
    op = client.execute(h, "SELECT 1 AS one, 'x' AS s")
    assert client.status(h, op) == FINISHED
    cols, rows = client.fetch_all(h, op)
    assert cols == ["one", "s"]
    assert rows == [[1, "x"]]
    client.close_session(h)


def test_pagination_follows_next_result_uri(client):
    h = client.open_session()
    op = client.execute(
        h, "SELECT id FROM range(10) ORDER BY id"
    )
    cols, rows = client.fetch_all(h, op, page_size=3)
    assert [r[0] for r in rows] == list(range(10))
    # raw first page carries a nextResultUri
    body = client._call(
        "GET", f"/sessions/{h}/operations/{op}/result/0?maxRows=3"
    )
    assert body["nextResultUri"].endswith("/result/1")
    assert len(body["results"]["data"]) == 3
    client.close_session(h)


def test_set_reset_scoped_to_session(gateway, client, spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    h = client.open_session()
    op = client.execute(h, f"SET '{key}' = '7'")
    assert client.status(h, op) == FINISHED
    # the SET lands on the session's own conf, never on the base session
    assert gateway.service.sessions[h].spark.conf.get(key) == "7"
    assert spark.conf.get(key) == before
    client.close_session(h)
    assert spark.conf.get(key) == before


def test_error_statement_reports_error_status(client):
    h = client.open_session()
    op = client.execute(h, "SELECT * FROM nonexistent_table_xyz")
    assert client.status(h, op) == "ERROR"
    with pytest.raises(HTTPError) as ei:
        client._call("GET", f"/sessions/{h}/operations/{op}/result/0")
    assert ei.value.code == 500
    client.close_session(h)


def test_ddl_and_query_over_views(client, spark, sf_dir):
    from flink_psl_spark.queries.registry import tables

    tables(spark, sf_dir)
    h = client.open_session()
    op = client.execute(
        h,
        "SELECT n_regionkey, COUNT(*) AS n FROM nation "
        "GROUP BY n_regionkey ORDER BY n_regionkey",
    )
    cols, rows = client.fetch_all(h, op)
    assert cols == ["n_regionkey", "n"]
    assert len(rows) == 5 and sum(r[1] for r in rows) == 25
    client.close_session(h)


def test_cancel_and_close_operation(client):
    h = client.open_session()
    op = client.execute(h, "SELECT 1")
    # finished ops are not cancellable (terminal status preserved)
    client._call("POST", f"/sessions/{h}/operations/{op}/cancel")
    assert client.status(h, op) == FINISHED
    client._call("DELETE", f"/sessions/{h}/operations/{op}/close")
    with pytest.raises(HTTPError):
        client.status(h, op)
    client.close_session(h)


def test_unknown_route_404(gateway):
    req = Request(gateway.url + "/v2/bogus")
    with pytest.raises(HTTPError) as ei:
        urlopen(req)
    assert ei.value.code == 404


def test_concurrent_sessions_and_statements(client):
    """The gateway serves overlapping sessions/statements (ThreadingHTTPServer
    + per-service lock on the session map; Spark SQL is thread-safe)."""
    import concurrent.futures as cf

    def one(i):
        h = client.open_session()
        op = client.execute(h, f"SELECT {i} AS i, COUNT(*) AS n FROM range({i + 1})")
        assert client.status(h, op) == "FINISHED"
        cols, rows = client.fetch_all(h, op)
        client.close_session(h)
        return rows[0]

    with cf.ThreadPoolExecutor(max_workers=6) as ex:
        got = sorted(tuple(r) for r in ex.map(one, range(12)))
    assert got == [(i, i + 1) for i in range(12)]


def test_cancel_mid_query_interrupts_jobs(client, spark):
    """Canceling a RUNNING operation flips it to CANCELED, interrupts its
    Spark job group, and makes result fetches fail (reference
    OperationManager.cancel kills the statement's job, not just the
    bookkeeping entry)."""
    import time

    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def gw_slow_ident(s):
        time.sleep(4)
        return s

    spark.udf.register("gw_slow_ident", gw_slow_ident)
    spark.range(64, numPartitions=32).createOrReplaceTempView("gw_slow_src")
    h = client.open_session()
    op = client.execute(
        h, "SELECT SUM(gw_slow_ident(id)) AS s FROM gw_slow_src", wait=False
    )
    assert client.status(h, op) == "RUNNING"
    # a fetch against a running operation is NOT_READY with a same-token
    # retry URI — the reference's FetchResults retry contract
    body = client._call("GET", f"/sessions/{h}/operations/{op}/result/0")
    assert body["resultType"] == "NOT_READY"
    assert body["nextResultUri"].endswith("/result/0")
    t0 = time.time()
    client._call("POST", f"/sessions/{h}/operations/{op}/cancel")
    assert client.status(h, op) == "CANCELED"
    assert time.time() - t0 < 3  # canceled well before the 4s sleep ends
    with pytest.raises(HTTPError) as ei:
        client._call("GET", f"/sessions/{h}/operations/{op}/result/0")
    assert ei.value.code == 500
    client.close_session(h)


def test_pagination_not_ready_then_pages(client, spark):
    """fetch_all transparently rides NOT_READY (async execution) and then
    follows nextResultUri over a >1-page result."""
    import time

    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def gw_brief_ident(s):
        time.sleep(0.5)
        return s

    spark.udf.register("gw_brief_ident", gw_brief_ident)
    spark.range(7, numPartitions=1).createOrReplaceTempView("gw_brief_src")
    h = client.open_session()
    op = client.execute(
        h,
        "SELECT gw_brief_ident(id) AS i FROM gw_brief_src ORDER BY i",
        wait=False,
    )
    cols, rows = client.fetch_all(h, op, page_size=2)  # 4 pages: 2+2+2+1
    assert cols == ["i"] and [r[0] for r in rows] == list(range(7))
    assert client.status(h, op) == "FINISHED"
    client.close_session(h)


def test_statement_set_through_gateway(client, spark, tmp_path):
    """EXECUTE STATEMENT SET through the statements endpoint: all inner
    INSERTs run under one operation (reference gateway statement-set
    submission)."""
    spark.sql(
        "CREATE TABLE IF NOT EXISTS gw_ss_a (x INT) USING parquet "
        f"LOCATION '{tmp_path}/a'"
    )
    spark.sql(
        "CREATE TABLE IF NOT EXISTS gw_ss_b (x INT) USING parquet "
        f"LOCATION '{tmp_path}/b'"
    )
    h = client.open_session()
    op = client.execute(
        h,
        """EXECUTE STATEMENT SET BEGIN
           INSERT INTO gw_ss_a SELECT 1;
           INSERT INTO gw_ss_b SELECT 2;
           END""",
    )
    assert client.status(h, op) == FINISHED
    cols, rows = client.fetch_all(h, op)
    assert rows == [["OK"], ["OK"]]
    assert spark.table("gw_ss_a").collect()[0][0] == 1
    assert spark.table("gw_ss_b").collect()[0][0] == 2
    client.close_session(h)
    spark.sql("DROP TABLE gw_ss_a")
    spark.sql("DROP TABLE gw_ss_b")


def _value(client, h, key):
    """The value of ``key`` as the session's own statements see it."""
    op = client.execute(h, f"SET {key}")
    assert client.status(h, op) == FINISHED
    return dict(client.fetch_all(h, op)[1])[key]


@pytest.mark.parametrize("close_first", ["a", "b"])
def test_two_sessions_are_isolated(client, spark, close_first):
    """Each session runs on its own clone of the base session: temp views
    and SETs stay in the session that made them, and closing sessions in
    either order leaves the base conf as it was (reference: every gateway
    session owns its configuration and catalog state)."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    a, b = client.open_session(), client.open_session()
    op = client.execute(a, "CREATE TEMPORARY VIEW only_a AS SELECT 1 AS x")
    assert client.status(a, op) == FINISHED
    assert client.fetch_all(a, client.execute(a, "SELECT x FROM only_a"))[1] == [[1]]
    assert client.status(b, client.execute(b, "SELECT x FROM only_a")) == "ERROR"
    assert not spark.catalog.tableExists("only_a")

    for h, value in ((a, "3"), (b, "5")):
        op = client.execute(h, f"SET '{key}' = '{value}'")
        assert client.status(h, op) == FINISHED
    assert (_value(client, a, key), _value(client, b, key)) == ("3", "5")
    assert spark.conf.get(key) == before

    first, second = (a, b) if close_first == "a" else (b, a)
    client.close_session(first)
    assert spark.conf.get(key) == before
    assert _value(client, second, key) == ("3" if second == a else "5")
    client.close_session(second)
    assert spark.conf.get(key) == before


def test_session_sees_base_udfs_and_views(client, spark):
    """What the base session registered before a session opened (fixture
    views, UDFs) is usable in that session."""
    spark.udf.register("gw_base_plus1", lambda x: x + 1, "long")
    spark.range(3).createOrReplaceTempView("gw_base_view")
    h = client.open_session()
    op = client.execute(
        h, "SELECT gw_base_plus1(id) AS y FROM gw_base_view ORDER BY y"
    )
    assert client.fetch_all(h, op) == (["y"], [[1], [2], [3]])
    client.close_session(h)


def test_opening_properties_are_set_like_set_statements(gateway, client):
    """Opening properties are set on the session as SET sets them: a
    Flink-style key reads back, and a static Spark key fails the open with
    Spark's error instead of being dropped while the session opens."""
    h = client.open_session({"pipeline.name": "gw-props"})
    assert _value(client, h, "pipeline.name") == "gw-props"
    client.close_session(h)

    n_sessions = len(gateway.service.sessions)
    with pytest.raises(HTTPError) as ei:
        client.open_session({"spark.sql.warehouse.dir": "/tmp/elsewhere"})
    assert ei.value.code == 500
    assert "CANNOT_MODIFY_STATIC_CONFIG" in ei.value.read().decode()
    assert len(gateway.service.sessions) == n_sessions
