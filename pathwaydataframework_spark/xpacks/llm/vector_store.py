"""VectorStoreServer / VectorStoreClient — reference xpacks/llm/vector_store.py.

Reference: ``VectorStoreServer`` (vector_store.py:38) builds the parse →
split → embed → index pipeline and serves ``/v1/retrieve``,
``/v1/statistics``, ``/v1/inputs`` over its engine's HTTP connector;
``VectorStoreClient`` (:629) is the matching REST client.

Here the pipeline IS a :class:`DocumentStore`, and the server IS a
:class:`~servers.DocumentStoreServer` over it: the routes are
``servers.py``'s, and the error statuses and the HTTP runner are the
package's one HTTP core, a ``PathwayWebserver``.  Each request probes the
store's corpus snapshot, which is built once per input version (the
reference's live index), so a request re-parses nothing: a BM25 retrieval
scans the snapshot's per-chunk term counts in three Spark jobs.  The HTTP
surface exists for API parity and interactive debugging — the scale path
is calling ``DocumentStore.retrieve_query`` with a DataFrame of MANY
queries, which answers them all in one distributed plan.

No external HTTP libraries: the server is ``http.server`` and the client
is ``urllib`` — both stdlib, so this works in a hermetic executor image.
"""

from __future__ import annotations

import json
import urllib.request
from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame

from pathwaydataframework_spark.internals.table import Table
from pathwaydataframework_spark.xpacks.llm.document_store import DocumentStore
from pathwaydataframework_spark.xpacks.llm.servers import DocumentStoreServer

__all__ = ["VectorStoreServer", "SlidesVectorStoreServer", "VectorStoreClient"]


class VectorStoreServer(DocumentStoreServer):
    """Reference VectorStoreServer (vector_store.py:38): a
    :class:`DocumentStoreServer` over the DocumentStore it builds.

    Args mirror the reference: ``docs`` (binary ``data`` + ``_metadata``
    sources), ``embedder`` (Column→Column; default the hashing embedder via
    DocumentStore), ``parser``/``splitter`` as in DocumentStore, and
    ``index_factory`` (any ml_index retriever factory)."""

    def __init__(
        self,
        docs: DataFrame | Table | Iterable[DataFrame | Table],
        embedder: Callable[[Column], Column] | None = None,
        parser: Callable | None = None,
        splitter: Callable | None = None,
        doc_post_processors: Sequence[Callable] | None = None,
        index_factory=None,
        *,
        dim: int = 64,
    ):
        super().__init__(
            document_store=DocumentStore(
                docs,
                retriever_factory=index_factory,
                parser=parser,
                splitter=splitter,
                doc_post_processors=doc_post_processors,
                embedder=embedder,
                dim=dim,
            )
        )

    def run_server(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        *,
        threaded: bool = True,
        with_cache: bool = False,  # accepted for signature parity; caching is
        # the engine's own UDF-cache concern here
    ):
        """Start the REST facade.  ``threaded=True`` (default) serves from a
        daemon thread and returns it; ``port=0`` picks a free port (read it
        back from ``.port``).  Reference run_server (vector_store.py:456)."""
        self.host, self.port = host, port
        return self.run(threaded=threaded)

    def __repr__(self):
        return f"{type(self).__name__}({self.store.retriever_factory!r})"


class SlidesVectorStoreServer(VectorStoreServer):
    """Reference SlidesVectorStoreServer (vector_store.py:566) — the
    slide-search profile; shares the DocumentStore pipeline."""


class VectorStoreClient:
    """Reference VectorStoreClient (vector_store.py:629), on stdlib urllib.

    Provide either ``url`` or ``host``+``port``."""

    def __init__(
        self,
        host: str | None = None,
        port: int | None = None,
        url: str | None = None,
        timeout: int | None = 15,
        additional_headers: dict | None = None,
    ):
        err = "Either (`host` and `port`) or `url` must be provided, but not both."
        if url is not None:
            if host or port:
                raise ValueError(err)
            self.url = url
        else:
            if host is None:
                raise ValueError(err)
            self.url = f"http://{host}:{port or 80}"
        self.timeout = timeout
        self.additional_headers = additional_headers or {}

    def _post(self, route: str, payload: dict):
        req = urllib.request.Request(
            self.url + route,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json", **self.additional_headers},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return json.loads(resp.read())

    def query(
        self,
        query: str,
        k: int = 3,
        metadata_filter: str | None = None,
        filepath_globpattern: str | None = None,
    ) -> list[dict]:
        data = {"query": query, "k": k}
        if metadata_filter is not None:
            data["metadata_filter"] = metadata_filter
        if filepath_globpattern is not None:
            data["filepath_globpattern"] = filepath_globpattern
        return sorted(self._post("/v1/retrieve", data), key=lambda x: x["dist"])

    __call__ = query

    def get_vectorstore_statistics(self) -> dict:
        return self._post("/v1/statistics", {})

    def get_input_files(
        self,
        metadata_filter: str | None = None,
        filepath_globpattern: str | None = None,
    ) -> list[dict]:
        return self._post(
            "/v1/inputs",
            {
                "metadata_filter": metadata_filter,
                "filepath_globpattern": filepath_globpattern,
            },
        )
