"""Pipeline monitoring — reference ``internals/monitoring.py`` (console
dashboard) + ``src/engine/http_server.rs`` (HTTP metrics endpoint).

Spark-first mapping: per-operator latencies/counts already live in the Spark
UI and the Structured Streaming progress events; this module surfaces them
the way the reference does —

- ``attach(spark)`` registers a ``StreamingQueryListener`` that records every
  micro-batch's progress (rows/sec, batch duration, state rows) in an
  in-process registry;
- ``StreamMonitor.metrics()`` returns the recorded rows (driver-side,
  bounded ring buffer — monitoring data, not pipeline data);
- ``StreamMonitor.serve()`` exposes the same as JSON: GET ``/metrics`` and
  ``/healthz`` routes on a private
  :class:`~sources.http_ingress.PathwayWebserver`, the package's one HTTP
  core (the analogue of the reference's ``http_server.rs`` scrape
  endpoint; Prometheus-style pull, zero extra dependencies).

The registry is intentionally driver-side and bounded: progress events are
O(queries × batches), not O(data), so this never becomes a scale
bottleneck.
"""

from __future__ import annotations

import json
import threading
from collections import deque
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from pathwaydataframework_spark.sources.http_ingress import JSON, PathwayWebserver


class StreamMonitor:
    """Bounded registry of streaming progress events + HTTP scrape server."""

    def __init__(self, max_events: int = 1000):
        self._events: deque[dict[str, Any]] = deque(maxlen=max_events)
        self._lock = threading.Lock()
        self._listener: StreamingQueryListener | None = None
        self._webserver: PathwayWebserver | None = None

    # -- collection --------------------------------------------------------

    def record(self, event: dict[str, Any]) -> None:
        with self._lock:
            self._events.append(event)

    def metrics(self) -> list[dict[str, Any]]:
        with self._lock:
            return list(self._events)

    def latest(self) -> dict[str, Any] | None:
        with self._lock:
            return self._events[-1] if self._events else None

    # -- HTTP endpoint ------------------------------------------------------

    def serve(self, host: str = "127.0.0.1", port: int = 0):
        """Start the metrics endpoint; returns the stdlib server
        (``.server_port`` for the bound port).  GET /metrics → JSON list of
        progress events; GET /healthz → 200 ok; :meth:`stop` shuts it down."""
        ws = PathwayWebserver(host, port, with_schema_endpoint=False)
        ws.register("/healthz", ("GET",), lambda *_: (200, b"ok", "text/plain"))
        ws.register(
            "/metrics", ("GET",), lambda *_: (200, json.dumps(self.metrics()).encode(), JSON)
        )
        ws.start()
        self._webserver = ws
        return ws._server

    def stop(self) -> None:
        if self._webserver is not None:
            self._webserver.stop()
            self._webserver = None


class _ProgressListener(StreamingQueryListener):
    def __init__(self, monitor: StreamMonitor):
        self._monitor = monitor

    def onQueryStarted(self, event):  # noqa: N802 — Spark listener API
        self._monitor.record(
            {"kind": "started", "id": str(event.id), "name": event.name}
        )

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self._monitor.record(
            {
                "kind": "progress",
                "id": str(p.id),
                "name": p.name,
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "durationMs": dict(p.durationMs or {}),
            }
        )

    def onQueryTerminated(self, event):  # noqa: N802
        self._monitor.record(
            {
                "kind": "terminated",
                "id": str(event.id),
                "exception": event.exception,
            }
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass


def attach(spark: SparkSession, *, max_events: int = 1000) -> StreamMonitor:
    """Register a progress listener; returns the monitor (call
    ``monitor.detach(spark)`` — or just let the session end — to remove)."""
    monitor = StreamMonitor(max_events=max_events)
    listener = _ProgressListener(monitor)
    spark.streams.addListener(listener)
    monitor._listener = listener
    return monitor


def detach(spark: SparkSession, monitor: StreamMonitor) -> None:
    if monitor._listener is not None:
        spark.streams.removeListener(monitor._listener)
        monitor._listener = None
    monitor.stop()
