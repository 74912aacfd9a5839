"""REST servers for LLM apps — reference ``xpacks/llm/servers.py``.

Reference: ``BaseRestServer`` (:16, route registry over the engine's HTTP
connector), ``DocumentStoreServer`` (:92), ``QARestServer`` (:140),
``QASummaryRestServer`` (:193), plus ``serve_callable`` (:227).

As in the reference, :class:`BaseRestServer` is a route registry over the
package's one HTTP core, a :class:`~sources.http_ingress.PathwayWebserver`:
every server here, ``VectorStoreServer`` included (it is a
:class:`DocumentStoreServer`), registers JSON-over-POST routes on it, and
the webserver's dispatcher answers the HTTP errors: 404 for an unknown
route, 400 for a malformed request (bad Content-Length, a body that is not
a JSON object, a metadata filter the DSL rejects), 408 for a body that
stalls, and 500 for any other handler exception, each with a JSON
``{"error": ...}`` body.  ``/v1/retrieve`` hands its request to
``DocumentStore.retrieve_query`` as one request, not as a query frame:
BM25 scans the store's corpus snapshot, built once per input version, in
three Spark jobs.  ``/v1/inputs`` and the QA routes turn their request
into a 1-row local query frame (``internals.table.local_frame``, built
with no Spark job); ``/v1/statistics`` reads the snapshot's one-row
statistics.  This is an interactive/parity surface, not the scale path
(batch DataFrame endpoints answer many queries in one plan).
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING, Callable

from pathwaydataframework_spark.internals.table import local_frame
from pathwaydataframework_spark.sources.http_ingress import (
    JSON,
    PathwayWebserver,
    json_object,
)
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
    """Route registry over one :class:`PathwayWebserver` (reference
    BaseRestServer:16).

    ``serve(route, handler)`` registers ``handler(payload: dict) ->
    json-able`` as a POST route; ``run(threaded=True)`` starts serving
    (``port=0`` picks a free port, read back from ``.port``); ``shutdown()``
    stops it."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, **kwargs):
        self.host = host
        self.port = port
        self._webserver = PathwayWebserver(host, port, with_schema_endpoint=False)

    def serve(self, route: str, handler: Callable[[dict], object], **kwargs):
        def reply(method: str, query: str, body: bytes):
            return 200, json.dumps(handler(json_object(body))).encode(), JSON

        self._webserver.register(route, ("POST",), reply)
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
        """Serve on ``.host``/``.port``.  Threaded, return the serving
        thread; otherwise block until :meth:`shutdown`."""
        ws = self._webserver
        ws.host, ws.port = self.host, self.port
        thread = ws.start()
        self.host, self.port = ws.host, ws.port
        if threaded:
            return thread
        thread.join()

    def shutdown(self):
        self._webserver.stop()


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
        return [
            {"dist": h["dist"], "text": h["text"],
             "metadata": json.loads(h["metadata"] or "{}")}
            for h in self.store.retrieve_query(payload)
        ]

    def _statistics(self, payload: dict):
        return self.store.stats.first().asDict()

    def _inputs(self, payload: dict):
        q = local_frame(
            self._spark,
            [(0, payload.get("metadata_filter"), payload.get("filepath_globpattern"))],
            "query_id long, metadata_filter string, filepath_globpattern string",
        )
        row = self.store.inputs_query(q).first()
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
        q = local_frame(
            self._spark,
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
        q = local_frame(
            self._spark, [(payload.get("text_list", []),)], "text_list array<string>"
        )
        row = self.rag.summarize_query(q).first()
        return {"response": row["result"] if row else None}
