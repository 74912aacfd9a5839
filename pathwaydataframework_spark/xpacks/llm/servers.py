"""REST servers for LLM apps — reference ``xpacks/llm/servers.py``.

Reference: ``BaseRestServer`` (:16, route registry over the engine's HTTP
connector), ``DocumentStoreServer`` (:92), ``QARestServer`` (:140),
``QASummaryRestServer`` (:193), plus ``serve_callable`` (:227).

:class:`BaseRestServer` is the one JSON-over-POST request core of
``xpacks.llm``: every server here, ``VectorStoreServer`` included (it is a
:class:`DocumentStoreServer`), answers through its handler on a stdlib
``ThreadingHTTPServer``.  An unknown route answers 404, a malformed
request 400 (bad Content-Length, a body that is not a JSON object, a
metadata filter the DSL rejects), and any other handler exception 500,
each with a JSON ``{"error": ...}`` body.  A route turns its request into
a 1-row local query frame (``internals.table.local_frame``) whose filter
group the store reads with no Spark job, and the query probes the store's
corpus snapshot, built once per input version; ``/v1/statistics`` reads
the snapshot's one-row statistics.  This is an interactive/parity surface,
not the scale path (batch DataFrame endpoints answer many queries in one
plan).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import TYPE_CHECKING, Callable

from pathwaydataframework_spark.internals.table import local_frame
from pathwaydataframework_spark.sources.http_ingress import read_json_object, send_reply
from pathwaydataframework_spark.xpacks.llm.document_store import DocumentStore

if TYPE_CHECKING:  # question_answering imports this module via vector_store
    from pathwaydataframework_spark.xpacks.llm.question_answering import (
        BaseRAGQuestionAnswerer,
    )

__all__ = [
    "BaseRestServer",
    "DocumentStoreServer",
    "QARestServer",
    "QASummaryRestServer",
]


class BaseRestServer:
    """Route registry + stdlib HTTP runner (reference BaseRestServer:16).

    ``serve(route, handler)`` registers ``handler(payload: dict) ->
    json-able``; ``run(threaded=True)`` starts serving (``port=0`` picks a
    free port, read back from ``.port``)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, **kwargs):
        self.host = host
        self.port = port
        self._routes: dict[str, Callable[[dict], object]] = {}
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def serve(self, route: str, handler: Callable[[dict], object], **kwargs):
        self._routes[route] = handler
        return handler

    def serve_callable(self, route: str, callable_func: Callable | None = None, **kw):
        """Reference serve_callable (:227): expose a plain Python callable
        at a route; payload keys become keyword arguments.  Usable as a
        decorator: ``@server.serve_callable("/my_route")``."""

        def register(fn):
            self.serve(route, lambda payload: fn(**payload))
            return fn

        if callable_func is not None:
            return register(callable_func)
        return register

    def run(self, *, threaded: bool = True, **kwargs):
        routes = self._routes

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 — http.server API
                try:
                    payload = read_json_object(self)
                    fn = routes.get(self.path)
                    if fn is None:
                        status, body = 404, {"error": "unknown route"}
                    else:
                        status, body = 200, fn(payload)
                    data = json.dumps(body).encode()
                except Exception as exc:
                    # ValueError is the client's: a malformed request or filter
                    status = 400 if isinstance(exc, ValueError) else 500
                    data = json.dumps({"error": str(exc)}).encode()
                send_reply(self, status, data)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer((self.host, self.port), Handler)
        self.host, self.port = self._server.server_address[:2]
        if threaded:
            self._thread = threading.Thread(
                target=self._server.serve_forever, daemon=True
            )
            self._thread.start()
            return self._thread
        self._server.serve_forever()

    def shutdown(self):
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None


def _query_frame(spark, payload: dict, *, query_key: str = "query"):
    return local_frame(
        spark,
        [
            (
                0,
                payload.get(query_key, ""),
                int(payload.get("k", 3)),
                payload.get("metadata_filter"),
                payload.get("filepath_globpattern"),
            )
        ],
        "query_id long, query string, k int, "
        "metadata_filter string, filepath_globpattern string",
    )


class DocumentStoreServer(BaseRestServer):
    """Reference DocumentStoreServer (:92) — /v1/retrieve, /v1/statistics,
    /v1/inputs over a :class:`DocumentStore`."""

    def __init__(
        self, host: str = "127.0.0.1", port: int = 0,
        document_store: DocumentStore | None = None, **kwargs,
    ):
        super().__init__(host, port, **kwargs)
        if document_store is None:
            raise ValueError("document_store is required")
        self.store = document_store
        self._spark = document_store.chunked_docs.sparkSession
        self.serve("/v1/retrieve", self._retrieve)
        self.serve("/v1/statistics", self._statistics)
        self.serve("/v1/inputs", self._inputs)

    def _retrieve(self, payload: dict):
        row = self.store.retrieve_query(_query_frame(self._spark, payload)).first()
        return [
            {"dist": h["dist"], "text": h["text"],
             "metadata": json.loads(h["metadata"] or "{}")}
            for h in (row["result"] if row else [])
        ]

    def _statistics(self, payload: dict):
        return self.store.stats.first().asDict()

    def _inputs(self, payload: dict):
        row = self.store.inputs_query(_query_frame(self._spark, payload)).first()
        return [json.loads(m or "{}") for m in (row["result"] if row else [])]


class QARestServer(DocumentStoreServer):
    """Reference QARestServer (:140) — adds /v1/pw_list_documents and
    /v1/pw_ai_answer over a :class:`BaseRAGQuestionAnswerer`, and the same
    handlers at the reference's /v2/list_documents and /v2/answer (the
    routes ``RAGClient`` posts to)."""

    def __init__(
        self, host: str = "127.0.0.1", port: int = 0,
        rag_question_answerer: BaseRAGQuestionAnswerer | None = None, **kwargs,
    ):
        if rag_question_answerer is None:
            raise ValueError("rag_question_answerer is required")
        self.rag = rag_question_answerer
        super().__init__(
            host, port, document_store=rag_question_answerer.indexer, **kwargs
        )
        for route in ("/v1/pw_list_documents", "/v2/list_documents"):
            self.serve(route, self._inputs)
        for route in ("/v1/pw_ai_answer", "/v2/answer"):
            self.serve(route, self._answer)

    def _answer(self, payload: dict):
        q = self._spark.createDataFrame(
            [
                (
                    0,
                    payload.get("prompt", ""),
                    payload.get("filters"),
                    payload.get("response_type", "short"),
                )
            ],
            "query_id long, prompt string, filters string, response_type string",
        )
        row = self.rag.answer_query(q).first()
        return {"response": row["result"] if row else None}


class QASummaryRestServer(QARestServer):
    """Reference QASummaryRestServer (:193) — adds /v1/pw_ai_summary."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.serve("/v1/pw_ai_summary", self._summarize)

    def _summarize(self, payload: dict):
        q = self._spark.createDataFrame(
            [(payload.get("text_list", []),)], "text_list array<string>"
        )
        row = self.rag.summarize_query(q).first()
        return {"response": row["result"] if row else None}
