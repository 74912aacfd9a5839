"""The package's one HTTP core, and the REST ingress built on it.

:class:`PathwayWebserver` (reference io/http/_server.py:329) is the only
HTTP server in the package, and its dispatcher answers every route: the
``pw.io.http.rest_connector`` routes (:class:`RestIngressServer`),
``pw.io.http.read`` (:class:`HttpIngressServer`, a POST route ``/`` that
answers 202), the JSON POST routes of ``xpacks.llm.servers.BaseRestServer``
and the GET ``/metrics`` and ``/healthz`` routes of ``monitoring``.

Ingress is Spark-first: an accepted payload is spooled as a jsonlines file
into a watch directory (``python_connector.spool``, atomic tmp name +
rename, so the file source never lists a half-written file), and the table
is a plain file-stream source over that directory.  The ingest path gets
Structured Streaming's offsets and checkpointing for free, and parsing
happens distributed, JVM-side, via the json reader.  At cluster scale the
spool directory lives on shared storage (s3a://...) and several servers
can spool into it concurrently; uuid names cannot collide.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import SparkSession

from pathwaydataframework_spark.internals.table import Table
from pathwaydataframework_spark.sources.python_connector import spool

# seconds a request may take to deliver its line, headers or body; a slower
# POST body answers 408, so a truncated body cannot hold a handler thread
READ_TIMEOUT_S = 30.0

JSON = "application/json"

Reply = tuple[int, bytes, str]  # status, body, content type


def _error_reply(status: int, message: str) -> Reply:
    return status, json.dumps({"error": message}).encode(), JSON


def read_body(handler) -> bytes:
    """The body POSTed to a ``BaseHTTPRequestHandler``.  Raises
    ``ValueError`` — the client's error, answered 400 — for a Content-Length
    that is not an integer or is negative (a negative read would block until
    the client disconnects)."""
    length = int(handler.headers.get("Content-Length", 0))
    if length < 0:
        raise ValueError(f"negative Content-Length: {length}")
    return handler.rfile.read(length)


def json_object(body: bytes | str) -> dict:
    """The JSON object in a request body (an empty body is ``{}``).  Raises
    ``ValueError`` — the client's error, answered 400 — for a body that is
    not JSON, or JSON that is not an object."""
    payload = json.loads(body or b"{}")
    if not isinstance(payload, dict):
        raise ValueError("request body must be a JSON object")
    return payload


class PathwayWebserver:
    """Reference io/http/_server.py:329 — one host/port serving the routes
    registered on it, e.g. several ``rest_connector`` routes, each with its
    own spool directory and pending-request map.  ``with_cors`` is accepted
    for call-shape parity and sends no CORS headers (DEVIATIONS #13).

    A route is its methods plus a callable ``(method, query, body) ->
    (status, body, content type)``; routes never touch the handler.  The
    dispatcher owns the HTTP concerns: it routes by path (404), checks the
    route's methods (405), reads a POST body (400 for a bad Content-Length,
    408 when the body does not arrive within :data:`READ_TIMEOUT_S`),
    writes the reply, and maps a route's exceptions: a ``ValueError`` is
    the client's and answers 400, any other exception 500, each with a JSON
    ``{"error": ...}`` body.

    :meth:`register` adds a route, :meth:`start` starts serving on a daemon
    thread (``port=0`` picks a free port, read back from ``.port``), and
    :meth:`stop` shuts the server down and frees its port."""

    def __init__(self, host: str, port: int, *, with_schema_endpoint: bool = True,
                 with_cors: bool = False):
        self.host = host
        self.port = int(port)
        self.with_schema_endpoint = with_schema_endpoint
        self.with_cors = with_cors
        self._routes: dict[str, tuple[frozenset, Callable[..., Reply], object]] = {}
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def register(self, route: str, methods, fn: Callable[..., Reply],
                 schema=None) -> None:
        """Answer ``methods`` at ``route`` with ``fn(method, query, body)``;
        ``schema`` is what ``/_schema`` lists for the route."""
        self._routes[route] = (frozenset(m.upper() for m in methods), fn, schema)

    def unregister(self, route: str) -> None:
        self._routes.pop(route, None)

    def _answer(self, handler, method: str) -> Reply:
        url = urlparse(handler.path)
        if self.with_schema_endpoint and url.path == "/_schema":
            schemas = {r: str(s) for r, (_, _, s) in list(self._routes.items())}
            return 200, json.dumps(schemas).encode(), JSON
        route = self._routes.get(url.path)
        if route is None:
            return _error_reply(404, "unknown route")
        methods, fn, _ = route
        if method not in methods:
            return _error_reply(405, f"method {method} not allowed")
        try:
            body = read_body(handler) if method == "POST" else b""
        except TimeoutError:
            return _error_reply(408, "request body timed out")
        return fn(method, url.query, body)

    def start(self) -> threading.Thread:
        """Start serving, unless already serving; returns the serving thread."""
        if self._server is not None:
            return self._thread
        outer = self

        class Dispatcher(BaseHTTPRequestHandler):
            timeout = READ_TIMEOUT_S

            def _dispatch(self, method: str) -> None:
                try:
                    status, body, content_type = outer._answer(self, method)
                except Exception as exc:  # noqa: BLE001 — answered, never dropped
                    status = 400 if isinstance(exc, ValueError) else 500
                    status, body, content_type = _error_reply(status, str(exc))
                self.send_response(status)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:  # noqa: N802 — stdlib API name
                self._dispatch("POST")

            def do_GET(self) -> None:  # noqa: N802
                self._dispatch("GET")

            def log_message(self, *args) -> None:  # silence per-request noise
                pass

        self._server = ThreadingHTTPServer((self.host, self.port), Dispatcher)
        self.host, self.port = self._server.server_address[:2]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self._thread

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=5)
            self._server = None


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
        self._webserver = PathwayWebserver(host, port, with_schema_endpoint=False)
        self._webserver.register("/", ("POST",), self._ingest)
        self._webserver.start()

    def _ingest(self, method: str, query: str, body: bytes) -> Reply:
        # each non-empty line must be a JSON object, or nothing is spooled
        lines = [ln for ln in body.decode("utf-8").splitlines() if ln.strip()]
        for ln in lines:
            json_object(ln)
        spool(self._spool, lines)
        return 202, b"", JSON

    @property
    def url(self) -> str:
        return self._webserver.url + "/"

    def table(self) -> Table:
        df = self._spark.readStream.schema(self._schema).json(self._spool)
        return Table(df)

    def stop(self) -> None:
        self._webserver.stop()


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
    one on ``host``/``port``.  :meth:`stop` unregisters the route (it then
    answers 404) and shuts a private webserver down.
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
        os.makedirs(spool_dir, exist_ok=True)
        self._pending: dict[str, threading.Event] = {}
        self._results: dict[str, object] = {}
        self._lock = threading.Lock()
        self._own_webserver = webserver is None
        self._webserver = webserver or PathwayWebserver(host, port)
        self._webserver.register(route, methods, self._process, schema)
        self._webserver.start()

    def _process(self, method: str, query: str, body: bytes) -> Reply:
        """Answer one request the webserver dispatched to this route."""
        payload = json_object(body) if method == "POST" else dict(parse_qsl(query))
        if self._validator is not None:
            try:
                verdict = self._validator(payload)
            except Exception as exc:  # noqa: BLE001 — validator contract
                verdict = str(exc)
            if verdict is not None:
                return 400, str(verdict).encode("utf-8"), "text/plain"
        qid = uuid.uuid4().hex
        ev = threading.Event()
        with self._lock:
            self._pending[qid] = ev
        row = dict(payload)
        row["query_id"] = qid
        spool(self._spool, [json.dumps(row)], qid)
        if ev.wait(self._timeout):
            with self._lock:
                result = self._results.pop(qid, None)
                self._pending.pop(qid, None)
            return 200, json.dumps(result).encode("utf-8"), JSON
        with self._lock:
            # deliver() may race the timeout: it can store the result
            # between ev.wait() expiring and this cleanup — pop BOTH
            # maps so an abandoned result can't accumulate forever.
            self._pending.pop(qid, None)
            self._results.pop(qid, None)
        return 504, b"", JSON

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
        self._webserver.unregister(self._route)
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
