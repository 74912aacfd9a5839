"""Programmatic source — the reference's ``pw.io.python.read`` +
``ConnectorSubject`` (io/python/__init__.py:349, :49).

The reference runs the subject's ``run()`` on a dedicated connector thread
and each ``self.next(...)`` call becomes a stream row.  Spark-first shape:
the subject spools committed rows as jsonlines files into a watch
directory through :func:`spool` (atomic tmp-name + rename, the one spool
writer ``http_ingress`` shares), and the returned table is a file-stream source over that directory — offsets,
checkpointing and replay come from Structured Streaming, and JSON parsing
happens distributed JVM-side, not in the producer thread.

At cluster scale the spool directory lives on shared storage
(``s3a://…``); many producers can spool concurrently (uuid file names).
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from typing import Any

from pyspark.sql import SparkSession

from pathwaydataframework_spark.internals.table import Table


def spool(spool_dir: str, lines: list[str], stem: str | None = None) -> None:
    """Write ``lines`` into ``spool_dir`` as one jsonlines file, atomically:
    under a dot-prefixed tmp name, then renamed, so a file-stream source
    never lists a half-written file.  The file is ``stem`` (default a fresh
    uuid) plus ``.jsonl``, so concurrent writers cannot collide."""
    name = (stem or uuid.uuid4().hex) + ".jsonl"
    tmp = os.path.join(spool_dir, "." + name)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(spool_dir, name))


class ConnectorSubject:
    """Subclass and implement ``run()``; emit rows with ``next`` /
    ``next_json`` / ``next_str`` / ``next_bytes``; ``commit()`` makes the
    emitted rows visible to the stream as one atomic spool file.

    Mirrors the reference surface (io/python/__init__.py:49): ``next``
    keyword-args become columns; ``close()`` flushes and ends the stream.
    """

    def __init__(self) -> None:
        self._buf: list[str] = []
        self._spool: str | None = None
        self._lock = threading.Lock()
        self._closed = False

    # -- producer API (called from run()) --------------------------------
    def next(self, **kwargs: Any) -> None:
        self.next_json(kwargs)

    def next_json(self, obj: dict[str, Any]) -> None:
        with self._lock:
            self._buf.append(json.dumps(obj))

    def next_str(self, line: str) -> None:
        self.next_json({"data": line})

    def next_bytes(self, data: bytes) -> None:
        self.next_json({"data": data.decode("utf-8", errors="replace")})

    def commit(self) -> None:
        """Flush buffered rows as one atomic spool file."""
        with self._lock:
            if not self._buf or self._spool is None:
                return
            lines, self._buf = self._buf, []
        spool(self._spool, lines)

    def close(self) -> None:
        self.commit()
        self._closed = True

    # -- to be implemented by the user -----------------------------------
    def run(self) -> None:  # pragma: no cover — abstract
        raise NotImplementedError

    # -- harness ----------------------------------------------------------
    def start(self, spool_dir: str) -> threading.Thread:
        os.makedirs(spool_dir, exist_ok=True)
        self._spool = spool_dir

        def _runner() -> None:
            try:
                self.run()
            finally:
                self.close()

        t = threading.Thread(target=_runner, daemon=True)
        t.start()
        return t


def read(
    spark: SparkSession,
    subject: ConnectorSubject,
    *,
    schema: str,
    spool_dir: str,
    autostart: bool = True,
) -> Table:
    """Run ``subject`` on a daemon thread and return its rows as a
    streaming Table (reference io/python/__init__.py:349)."""
    if autostart:
        subject.start(spool_dir)
    else:
        os.makedirs(spool_dir, exist_ok=True)
        subject._spool = spool_dir
    return Table(spark.readStream.schema(schema).json(spool_dir))
