"""REST ingress — the reference's ``pw.io.http.read`` (io/http/__init__.py:28).

The reference runs an HTTP server whose POST bodies become stream rows.
Spark-first shape: a tiny stdlib ``http.server`` on a daemon thread spools
each accepted payload as a jsonlines file into a watch directory, and the
table is a plain file-stream source over that directory — so the ingest
path gets Structured Streaming's offsets/checkpointing for free, and the
ingest rate is bounded by disk, not by the Python server (which only
appends; parsing happens distributed, JVM-side, via the json reader).

Files are written atomically (tmp name + rename) so the file source never
lists a half-written spool file.  At cluster scale the spool directory
lives on shared storage (s3a://...) and multiple ingress servers can spool
into it concurrently — uuid names cannot collide.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import SparkSession

from pathwaydataframework_spark.internals.table import Table


def read_body(handler) -> bytes:
    """The body POSTed to a ``BaseHTTPRequestHandler``.  Raises
    ``ValueError`` — the client's error, answered 400 — for a Content-Length
    that is not an integer or is negative (a negative read would block until
    the client disconnects)."""
    length = int(handler.headers.get("Content-Length", 0))
    if length < 0:
        raise ValueError(f"negative Content-Length: {length}")
    return handler.rfile.read(length)


def read_json_object(handler) -> dict:
    """The JSON object POSTed to a ``BaseHTTPRequestHandler``.  Raises
    ``ValueError`` — the client's error, answered 400 — for a bad
    Content-Length, a body that is not JSON, or JSON that is not an object."""
    payload = json.loads(read_body(handler) or b"{}")
    if not isinstance(payload, dict):
        raise ValueError("request body must be a JSON object")
    return payload


def send_reply(
    handler, status: int, body: bytes = b"", content_type: str = "application/json"
) -> None:
    handler.send_response(status)
    handler.send_header("Content-Type", content_type)
    handler.send_header("Content-Length", str(len(body)))
    handler.end_headers()
    handler.wfile.write(body)


class HttpIngressServer:
    """Accepts POSTed JSON rows (single object or newline-delimited) and
    exposes them as a streaming Table.

    >>> srv = HttpIngressServer(spark, schema="k string, v long",
    ...                         spool_dir="/tmp/spool", port=0)
    >>> t = srv.table()           # streaming Table
    >>> srv.url                   # POST rows here
    >>> srv.stop()
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        schema: str,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
    ) -> None:
        self._spark = spark
        self._schema = schema
        self._spool = spool_dir
        os.makedirs(spool_dir, exist_ok=True)
        spool = self._spool

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 — stdlib API name
                try:
                    body = read_body(self)
                    # validate: each non-empty line must be a JSON object
                    lines = [ln for ln in body.decode("utf-8").splitlines() if ln.strip()]
                    for ln in lines:
                        json.loads(ln)
                except ValueError:  # bad Content-Length, utf-8 or JSON
                    self.send_response(400)
                    self.end_headers()
                    return
                name = uuid.uuid4().hex + ".jsonl"
                tmp = os.path.join(spool, "." + name)
                with open(tmp, "w", encoding="utf-8") as f:
                    f.write("\n".join(lines) + "\n")
                os.rename(tmp, os.path.join(spool, name))
                self.send_response(202)
                self.end_headers()

            def log_message(self, *args) -> None:  # silence per-request noise
                pass

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/"

    def table(self) -> Table:
        df = self._spark.readStream.schema(self._schema).json(self._spool)
        return Table(df)

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)


class RestIngressServer:
    """Request/response REST ingress — reference ``pw.io.http.rest_connector``
    (io/http/_server.py:624).

    Each accepted request is assigned a ``query_id``, spooled into the
    streaming ingress directory (same file-stream spool pattern as
    :class:`HttpIngressServer` — the data plane never funnels through the
    driver), and the HTTP response BLOCKS until the response writer
    delivers a row with that ``query_id`` (or the timeout passes).  The
    response path intentionally runs driver-side: responses leave through
    the webserver, so they are the server's working set, not a data-plane
    funnel.

    Requests always arrive through a :class:`PathwayWebserver`, as in the
    reference: the shared ``webserver`` when one is given, else a private
    one on ``host``/``port`` that :meth:`stop` shuts down.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        schema,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        route: str = "/",
        methods=("POST",),
        request_validator=None,
        response_timeout_s: float = 30.0,
        webserver=None,
    ) -> None:
        self._spark = spark
        self._schema = schema
        self._spool = spool_dir
        self._route = route
        self._timeout = response_timeout_s
        self._validator = request_validator
        self._allowed = {m.upper() for m in methods}
        os.makedirs(spool_dir, exist_ok=True)
        self._pending: dict[str, threading.Event] = {}
        self._results: dict[str, object] = {}
        self._lock = threading.Lock()
        self._own_webserver = webserver is None
        self._webserver = webserver or PathwayWebserver(host, port)
        self._webserver.register(route, self)

    def _process(self, handler, payload: dict) -> None:
        """Answer one request the webserver dispatched to this route."""
        if self._validator is not None:
            try:
                verdict = self._validator(payload)
            except Exception as exc:  # noqa: BLE001 — validator contract
                verdict = str(exc)
            if verdict is not None:
                send_reply(handler, 400, str(verdict).encode("utf-8"), "text/plain")
                return
        qid = uuid.uuid4().hex
        ev = threading.Event()
        with self._lock:
            self._pending[qid] = ev
        row = dict(payload)
        row["query_id"] = qid
        name = qid + ".jsonl"
        tmp = os.path.join(self._spool, "." + name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(json.dumps(row) + "\n")
        os.rename(tmp, os.path.join(self._spool, name))
        if ev.wait(self._timeout):
            with self._lock:
                result = self._results.pop(qid, None)
                self._pending.pop(qid, None)
            send_reply(handler, 200, json.dumps(result).encode("utf-8"))
        else:
            with self._lock:
                # deliver() may race the timeout: it can store the result
                # between ev.wait() expiring and this cleanup — pop BOTH
                # maps so an abandoned result can't accumulate forever.
                self._pending.pop(qid, None)
                self._results.pop(qid, None)
            send_reply(handler, 504)

    @property
    def url(self) -> str:
        return self._webserver.url + self._route

    def table(self) -> Table:
        schema = self._schema
        if isinstance(schema, type) and hasattr(schema, "to_spark"):
            import pyspark.sql.types as T

            st = schema.to_spark()
            st = T.StructType(list(st.fields) + [T.StructField("query_id", T.StringType())])
            df = self._spark.readStream.schema(st).json(self._spool)
        else:
            df = self._spark.readStream.schema(
                f"{schema}, query_id string"
            ).json(self._spool)
        return Table(df)

    def deliver(self, query_id: str, result) -> None:
        """Resolve one pending request (used by the response writer)."""
        with self._lock:
            ev = self._pending.get(query_id)
            if ev is None:
                return
            self._results[query_id] = result
            ev.set()

    def response_writer(self, result_table: Table) -> None:
        """The callable returned by rest_connector: feed it the result
        table — columns ``query_id`` and ``result`` (reference contract).
        Streaming tables deliver via foreachBatch; batch tables deliver
        their rows once."""
        df = result_table.df if hasattr(result_table, "df") else result_table

        def _deliver_batch(batch_df, _batch_id=None) -> None:
            for row in batch_df.select("query_id", "result").collect():
                self.deliver(row["query_id"], row["result"])

        if df.isStreaming:
            q = df.writeStream.outputMode("append").foreachBatch(_deliver_batch).start()
            self._response_query = q
        else:
            _deliver_batch(df)

    def stop(self) -> None:
        q = getattr(self, "_response_query", None)
        if q is not None:
            q.stop()
        if self._own_webserver:
            self._webserver.stop()


def rest_connector(
    spark: SparkSession,
    host: str | None = None,
    port: int | str | None = None,
    *,
    schema,
    spool_dir: str,
    webserver=None,
    route: str = "/",
    methods=("POST",),
    request_validator=None,
    delete_completed_queries: bool | None = None,
    response_timeout_s: float = 30.0,
    **_accepted,
):
    """Reference ``pw.io.http.rest_connector`` (io/http/_server.py:624):
    returns ``(table, response_writer)`` — POST a JSON payload, the row
    (plus its ``query_id``) streams into the table, and the HTTP response
    blocks until ``response_writer``'s table yields a matching
    ``(query_id, result)`` row.

    ``delete_completed_queries`` is accepted for call-shape parity; the
    file-stream ingress is append-only (no retraction channel — same
    deviation as io.pyfilesystem deletions, DEVIATIONS #2), so completed
    queries are simply dropped from the server's pending map.
    """
    srv = RestIngressServer(
        spark,
        schema=schema,
        spool_dir=spool_dir,
        host=host or "127.0.0.1",
        port=int(port or 0),
        route=route,
        methods=methods,
        request_validator=request_validator,
        response_timeout_s=response_timeout_s,
        webserver=webserver,
    )
    table = srv.table()

    def writer(result_table):
        return srv.response_writer(result_table)

    # expose the server handle for shutdown/url access
    writer.server = srv  # type: ignore[attr-defined]
    return table, writer


class PathwayWebserver:
    """Reference io/http/_server.py:329 — shared host/port configuration
    for ``rest_connector``: several connectors can register distinct
    routes on ONE webserver instance.  Each registered route keeps its own
    spool directory and pending-request map.  The dispatcher is the one
    request core of ``rest_connector``: it routes by path (404 when no
    route matches), checks the route's methods (405), decodes the payload
    (400 for a malformed request) and hands it to the route."""

    def __init__(self, host: str, port: int, *, with_schema_endpoint: bool = True,
                 with_cors: bool = False):
        self.host = host
        self.port = int(port)
        self.with_schema_endpoint = with_schema_endpoint
        self.with_cors = with_cors
        self._routes: dict[str, RestIngressServer] = {}
        self._server = None
        self._thread = None

    def _ensure_started(self) -> None:
        if self._server is not None:
            return
        outer = self

        class Dispatcher(BaseHTTPRequestHandler):
            def _dispatch(self, method: str) -> None:
                url = urlparse(self.path)
                if outer.with_schema_endpoint and url.path == "/_schema":
                    schemas = {r: str(s._schema) for r, s in outer._routes.items()}
                    return send_reply(self, 200, json.dumps(schemas).encode())
                srv = outer._routes.get(url.path)
                if srv is None:
                    return send_reply(self, 404)
                if method not in srv._allowed:
                    return send_reply(self, 405)
                try:
                    if method == "POST":
                        payload = read_json_object(self)
                    else:
                        payload = dict(parse_qsl(url.query))
                except ValueError as exc:
                    return send_reply(self, 400, json.dumps({"error": str(exc)}).encode())
                srv._process(self, payload)

            def do_POST(self) -> None:  # noqa: N802
                self._dispatch("POST")

            def do_GET(self) -> None:  # noqa: N802
                self._dispatch("GET")

            def log_message(self, *args) -> None:
                pass

        self._server = ThreadingHTTPServer((self.host, self.port), Dispatcher)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def url(self) -> str:
        self._ensure_started()
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def register(self, route: str, srv: "RestIngressServer") -> None:
        self._routes[route] = srv
        self._ensure_started()

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=5)
            self._server = None
