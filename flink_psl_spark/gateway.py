"""SQL Gateway — the reference's REST statement service on Spark SQL.

Reference: flink-table/flink-sql-gateway (SqlGateway.java:46; REST surface in
rest/header/*: OpenSessionHeaders "/sessions", ExecuteStatementHeaders
"/sessions/:h/statements", FetchResultsHeaders
"/sessions/:h/operations/:op/result/:token", GetOperationStatusHeaders,
CancelOperationHeaders, CloseSessionHeaders, GetInfoHeaders "/info",
GetApiVersionHeaders "/api_versions"; response shapes in rest/message/*,
e.g. FetchResultsResponseBody {results, resultType, nextResultUri}).

Spark-first design: the gateway is a thin REST shell over
``sql_client.execute``, the one statement path it shares with the SQL client
and TableEnvironment — Catalyst does all planning/execution; this module
supplies only the service semantics the reference adds on top of its
engine: session lifecycle, each session running on its own clone of the
base SparkSession (its own SQL conf and temp views, which SET/RESET and
temporary DDL change; closing the session drops the clone), operation
handles with a status lifecycle (PENDING → RUNNING →
FINISHED/ERROR/CANCELED), token-paginated result fetch with
``nextResultUri``, and JSON row encoding.
Runs in-process on ``http.server`` (stdlib only) — a user of the reference's
``sql-gateway -Dsql-gateway.endpoint.rest.port=…`` can point the same REST
calls at this service.

Scale note: results are materialized per-operation via ``collect()`` — the
gateway is a control-plane surface for interactive statements (the
reference's is too: FetchResultsHeaders pages rows to a REST client);
100 TB-scale outputs belong in INSERT INTO <sink> statements, which execute
fully distributed and return only a row count here.
"""

from __future__ import annotations

import json
import threading
import uuid
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from flink_psl_spark.sql_client import execute

API_VERSIONS = ["V1", "V2"]
PRODUCT_NAME = "flink-psl-spark SQL Gateway"
DEFAULT_PAGE_SIZE = 1000

# OperationStatus.java (gateway-api): the terminal/non-terminal lifecycle
PENDING, RUNNING, FINISHED, ERROR, CANCELED, CLOSED = (
    "PENDING", "RUNNING", "FINISHED", "ERROR", "CANCELED", "CLOSED",
)


def _json_value(v):
    """JSON-encode a Spark row value the way the reference's JSON result
    serde does: temporal/decimal/binary to strings, structs to objects."""
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return {str(k): _json_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    if hasattr(v, "asDict"):  # Row
        return {k: _json_value(x) for k, x in v.asDict().items()}
    return v


@dataclass
class Operation:
    """One executed statement (reference: OperationHandle + result store)."""

    handle: str
    status: str = PENDING
    error: str | None = None
    columns: list[dict] = field(default_factory=list)
    rows: list[list] = field(default_factory=list)
    is_query: bool = False
    # async execution (reference: operations run in the OperationManager's
    # executor; clients poll): the worker thread and its completion latch
    thread: object = None
    done: threading.Event = field(default_factory=threading.Event)

    def page(self, token: int, page_size: int) -> tuple[list[list], bool]:
        start = token * page_size
        chunk = self.rows[start : start + page_size]
        has_more = start + page_size < len(self.rows)
        return chunk, has_more


@dataclass
class Session:
    """Reference: SessionHandle + the session's own configuration and
    catalog state (SessionManagerImpl)."""

    handle: str
    spark: SparkSession
    operations: dict[str, Operation] = field(default_factory=dict)


class SqlGatewayService:
    """Session/operation bookkeeping over one base SparkSession.

    Mirrors SqlGatewayService.java's surface (openSession, closeSession,
    executeStatement, fetchResults, getOperationInfo, cancelOperation) minus
    the cluster-deployment pieces Spark doesn't need. Each session runs on a
    clone of the base session: it starts with the base's conf, temp views
    and UDFs, and what it changes stays its own. The SparkContext (jobs,
    job groups, cache) is shared.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sessions: dict[str, Session] = {}
        self._lock = threading.Lock()

    # -- sessions ----------------------------------------------------------
    def open_session(self, properties: dict[str, str] | None = None) -> str:
        handle = str(uuid.uuid4())
        spark = SparkSession(
            self.spark.sparkContext, self.spark._jsparkSession.cloneSession()
        )
        # set like a SET statement: a static or Spark-core key fails the
        # open with Spark's CANNOT_MODIFY_(STATIC_)CONFIG instead of being
        # dropped
        for k, v in (properties or {}).items():
            spark.conf.set(k, v)
        with self._lock:
            self.sessions[handle] = Session(handle, spark)
        return handle

    def close_session(self, handle: str) -> None:
        # dropping the clone discards its conf and temp views; never stop()
        # it, which would stop the shared SparkContext
        self._session(handle)
        with self._lock:
            del self.sessions[handle]

    def get_session_config(self, handle: str) -> dict[str, str]:
        return dict(self._session(handle).spark.conf.getAll)

    def _session(self, handle: str) -> Session:
        try:
            return self.sessions[handle]
        except KeyError:
            raise KeyError(f"Session '{handle}' does not exist") from None

    # -- statements --------------------------------------------------------
    def execute_statement(self, session_handle: str, statement: str) -> str:
        """Submit a statement and return its operation handle IMMEDIATELY
        (reference SqlGatewayServiceImpl.executeStatement — statements run
        asynchronously; clients poll getOperationStatus / fetchResults).
        The worker thread tags its Spark jobs with the operation handle as
        the job group, so cancelOperation can interrupt a running query."""
        sess = self._session(session_handle)
        op = Operation(handle=str(uuid.uuid4()))
        sess.operations[op.handle] = op
        op.status = RUNNING

        def work() -> None:
            try:
                # job-group tag is thread-local: every job this worker
                # submits is cancellable via cancelJobGroup(op.handle)
                self.spark.sparkContext.setJobGroup(
                    op.handle, statement[:200], interruptOnCancel=True
                )
                res = execute(sess.spark, statement)
                op.is_query = res.kind == "query"
                op.columns = [
                    {
                        "name": f.name,
                        "logicalType": {"type": f.dataType.simpleString().upper()},
                    }
                    for f in res.df.schema.fields
                ]
                op.rows = [[_json_value(v) for v in row] for row in res.df.collect()]
                if op.status == RUNNING:  # a cancel may have raced us
                    op.status = FINISHED
            except Exception as e:  # surfaced via operation status
                if op.status != CANCELED:
                    op.status = ERROR
                    op.error = str(e)
            finally:
                op.done.set()

        t = threading.Thread(target=work, name=f"gw-op-{op.handle[:8]}", daemon=True)
        op.thread = t
        t.start()
        return op.handle

    def _operation(self, session_handle: str, op_handle: str) -> Operation:
        sess = self._session(session_handle)
        try:
            return sess.operations[op_handle]
        except KeyError:
            raise KeyError(f"Operation '{op_handle}' does not exist") from None

    def get_operation_status(self, session_handle: str, op_handle: str) -> str:
        return self._operation(session_handle, op_handle).status

    def cancel_operation(self, session_handle: str, op_handle: str) -> None:
        """Cancel a non-terminal operation: flip the status AND interrupt
        the Spark jobs it submitted (reference OperationManager.cancel —
        the running statement's cluster job is killed, not just marked)."""
        op = self._operation(session_handle, op_handle)
        if op.status not in (FINISHED, ERROR, CLOSED):
            op.status = CANCELED
            try:
                self.spark.sparkContext.cancelJobGroup(op.handle)
            except Exception:  # no jobs submitted yet — status flip suffices
                pass

    def close_operation(self, session_handle: str, op_handle: str) -> None:
        sess = self._session(session_handle)
        sess.operations.pop(op_handle, None)

    def fetch_results(
        self,
        session_handle: str,
        op_handle: str,
        token: int,
        page_size: int = DEFAULT_PAGE_SIZE,
    ) -> dict:
        """FetchResultsResponseBody: {results, resultType, nextResultUri}.

        A still-RUNNING operation returns resultType NOT_READY with a
        nextResultUri pointing at the SAME token (the reference's
        FetchResults retry contract); canceled/failed operations raise."""
        op = self._operation(session_handle, op_handle)
        if op.status == ERROR:
            raise RuntimeError(op.error or "operation failed")
        if op.status == CANCELED:
            raise RuntimeError("operation was canceled")
        if op.status == RUNNING:
            return {
                "resultType": "NOT_READY",
                "isQueryResult": False,
                "resultKind": "SUCCESS",
                "results": {"columns": [], "data": []},
                "nextResultUri": (
                    f"/v2/sessions/{session_handle}/operations/{op_handle}"
                    f"/result/{token}"
                ),
            }
        rows, has_more = op.page(token, page_size)
        body = {
            "resultType": "EOS" if not rows and not has_more else "PAYLOAD",
            "isQueryResult": op.is_query,
            "resultKind": "SUCCESS_WITH_CONTENT",
            "results": {
                "columns": op.columns,
                "data": [{"kind": "INSERT", "fields": r} for r in rows],
            },
        }
        if has_more:
            body["nextResultUri"] = (
                f"/v2/sessions/{session_handle}/operations/{op_handle}"
                f"/result/{token + 1}"
            )
        return body


class _Handler(BaseHTTPRequestHandler):
    service: SqlGatewayService  # injected by serve()

    # silence per-request stderr logging
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    def _send(self, code: int, body: dict) -> None:
        payload = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        if not n:
            return {}
        try:
            return json.loads(self.rfile.read(n) or b"{}")
        except json.JSONDecodeError:
            return {}

    def _route(self, method: str) -> None:
        # strip the version prefix: /v1/... or /v2/...
        parts = [p for p in self.path.split("?")[0].split("/") if p]
        if parts and parts[0].lower() in ("v1", "v2"):
            parts = parts[1:]
        svc = self.service
        try:
            if parts == ["api_versions"] and method == "GET":
                return self._send(200, {"versions": API_VERSIONS})
            if parts == ["info"] and method == "GET":
                return self._send(
                    200, {"productName": PRODUCT_NAME, "version": "1.0"}
                )
            if parts == ["sessions"] and method == "POST":
                props = self._body().get("properties", {})
                return self._send(200, {"sessionHandle": svc.open_session(props)})
            if len(parts) == 2 and parts[0] == "sessions":
                h = parts[1]
                if method == "GET":
                    return self._send(
                        200, {"properties": svc.get_session_config(h)}
                    )
                if method == "DELETE":
                    svc.close_session(h)
                    return self._send(200, {"status": CLOSED})
            if len(parts) == 3 and parts[0] == "sessions":
                h, tail = parts[1], parts[2]
                if tail == "heartbeat" and method == "POST":
                    svc._session(h)  # liveness check
                    return self._send(200, {})
                if tail == "statements" and method == "POST":
                    stmt = self._body().get("statement", "")
                    op = svc.execute_statement(h, stmt)
                    return self._send(200, {"operationHandle": op})
            if len(parts) >= 5 and parts[0] == "sessions" and parts[2] == "operations":
                h, op = parts[1], parts[3]
                if parts[4] == "status" and method == "GET":
                    return self._send(
                        200, {"status": svc.get_operation_status(h, op)}
                    )
                if parts[4] == "cancel" and method == "POST":
                    svc.cancel_operation(h, op)
                    return self._send(200, {"status": CANCELED})
                if parts[4] == "close" and method == "DELETE":
                    svc.close_operation(h, op)
                    return self._send(200, {"status": CLOSED})
                if parts[4] == "result" and len(parts) == 6 and method == "GET":
                    token = int(parts[5])
                    page = DEFAULT_PAGE_SIZE
                    if "?" in self.path:
                        from urllib.parse import parse_qs, urlsplit

                        q = parse_qs(urlsplit(self.path).query)
                        if "maxRows" in q:
                            page = int(q["maxRows"][0])
                    return self._send(200, svc.fetch_results(h, op, token, page))
            self._send(404, {"errors": [f"Not found: {method} {self.path}"]})
        except KeyError as e:
            self._send(404, {"errors": [str(e)]})
        except Exception as e:
            self._send(500, {"errors": [str(e)]})

    def do_GET(self):  # noqa: N802
        self._route("GET")

    def do_POST(self):  # noqa: N802
        self._route("POST")

    def do_DELETE(self):  # noqa: N802
        self._route("DELETE")


class SqlGateway:
    """In-process REST gateway; ``start()`` binds an ephemeral port."""

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1", port: int = 0):
        self.service = SqlGatewayService(spark)
        handler = type("BoundHandler", (_Handler,), {"service": self.service})
        self.server = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self.server.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "SqlGateway":
        self._thread = threading.Thread(
            target=self.server.serve_forever, name="sql-gateway", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        if self._thread:
            self._thread.join(timeout=5)


class GatewayClient:
    """Minimal REST client (stdlib urllib) for tests and the oracled query."""

    def __init__(self, base_url: str, version: str = "v2"):
        self.base = base_url.rstrip("/") + "/" + version

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        from urllib.request import Request, urlopen

        data = json.dumps(body).encode() if body is not None else None
        req = Request(
            self.base + path,
            data=data,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        with urlopen(req) as resp:
            return json.loads(resp.read())

    def open_session(self, properties: dict | None = None) -> str:
        return self._call("POST", "/sessions", {"properties": properties or {}})[
            "sessionHandle"
        ]

    def close_session(self, handle: str) -> None:
        self._call("DELETE", f"/sessions/{handle}")

    def execute(self, handle: str, statement: str, *, wait: bool = True) -> str:
        """Submit a statement; by default poll until it reaches a terminal
        status (statements execute asynchronously server-side). Pass
        ``wait=False`` to get the handle while the operation still runs."""
        op = self._call(
            "POST", f"/sessions/{handle}/statements", {"statement": statement}
        )["operationHandle"]
        if wait:
            import time as _time

            while self.status(handle, op) in (PENDING, RUNNING):
                _time.sleep(0.02)
        return op

    def status(self, handle: str, op: str) -> str:
        return self._call("GET", f"/sessions/{handle}/operations/{op}/status")[
            "status"
        ]

    def fetch_all(self, handle: str, op: str, page_size: int | None = None) -> tuple[
        list[str], list[list]
    ]:
        """Follow nextResultUri pages until EOS; return (col_names, rows).
        NOT_READY pages (operation still running) retry the same token."""
        import time as _time

        token, cols, rows = 0, [], []
        while True:
            q = f"?maxRows={page_size}" if page_size else ""
            body = self._call(
                "GET", f"/sessions/{handle}/operations/{op}/result/{token}{q}"
            )
            if body.get("resultType") == "NOT_READY":
                _time.sleep(0.02)
                continue
            res = body.get("results", {})
            if not cols:
                cols = [c["name"] for c in res.get("columns", [])]
            rows.extend(d["fields"] for d in res.get("data", []))
            if not body.get("nextResultUri"):
                return cols, rows
            token += 1
