"""HTTP ingress source and streaming subscribe sink."""

from __future__ import annotations

import json
import os
import urllib.request

from pathwaydataframework_spark import sources
from pathwaydataframework_spark.internals.table import Table


def _post(url: str, payload: str) -> int:
    req = urllib.request.Request(
        url, data=payload.encode(), headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status


def _raw_status(url: str, body: bytes, headers: dict) -> int:
    """POST with exactly these headers, so a test can send a bad one."""
    import http.client
    import urllib.parse

    parts = urllib.parse.urlsplit(url)
    conn = http.client.HTTPConnection(parts.hostname, parts.port, timeout=10)
    try:
        conn.request("POST", parts.path or "/", body=body, headers=headers)
        return conn.getresponse().status
    finally:
        conn.close()


def test_http_read_ingests_posted_rows(spark, tmp_path):
    table, srv = sources.http.read(
        spark, schema="k string, v long", spool_dir=str(tmp_path / "spool")
    )
    try:
        assert _post(srv.url, '{"k": "a", "v": 1}') == 202
        assert _post(srv.url, '{"k": "b", "v": 2}\n{"k": "c", "v": 3}') == 202
        # malformed payloads must be rejected, not spooled
        try:
            _post(srv.url, "not json")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        assert _raw_status(srv.url, b"", {"Content-Length": "abc"}) == 400
        assert _raw_status(srv.url, b"", {"Content-Length": "-1"}) == 400
        q = (
            table.df.writeStream.format("memory")
            .queryName("http_rows")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["k"], r["v"]) for r in spark.sql("SELECT * FROM http_rows").collect()}
        assert got == {("a", 1), ("b", 2), ("c", 3)}
    finally:
        srv.stop()


def test_subscribe_streaming_foreach(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long").write.parquet(src_dir)
    stream = spark.readStream.schema("k string, v long").parquet(src_dir)

    # on_change runs on executors: side-effect through the filesystem
    def on_change(key, row, time, is_addition):
        import uuid

        path = os.path.join(out_dir, uuid.uuid4().hex + ".json")
        with open(path, "w") as f:
            json.dump(row, f)

    q = sources.subscribe(
        Table(stream), on_change, mode="streaming", drain_available=True
    )
    q.awaitTermination(120)
    rows = []
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name)) as f:
            rows.append(json.load(f))
    assert sorted((r["k"], r["v"]) for r in rows) == [("a", 1), ("b", 2)]


def test_rest_connector_request_response_roundtrip(spark, tmp_path):
    # reference pw.io.http.rest_connector contract (io/http/_server.py:624):
    # POST blocks until the response writer delivers (query_id, result)
    import json
    import threading
    import urllib.request

    table, writer = sources.http.rest_connector(
        spark,
        schema="x long",
        spool_dir=str(tmp_path / "rest_spool"),
        response_timeout_s=20.0,
    )
    srv = writer.server
    assert table.df.isStreaming

    # the computation: double x — run as a streaming pipeline feeding the
    # response writer
    import pathwaydataframework_spark as pw

    result = table.select(
        pw.this.query_id, result=pw.this.x * 2
    )
    writer(result)

    try:
        req = urllib.request.Request(
            srv.url,
            data=json.dumps({"x": 21}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200
            assert json.loads(resp.read()) == 42
    finally:
        srv.stop()


def test_rest_connector_timeout_race_cleans_results(spark, tmp_path, monkeypatch):
    # deliver() landing BETWEEN ev.wait() timing out and the 504 cleanup
    # must not leak the stored result — both _pending AND _results are
    # popped in the timeout branch (unbounded growth otherwise)
    import json
    import threading
    import urllib.error
    import urllib.request

    import pathwaydataframework_spark.sources.http_ingress as hi

    srv = hi.RestIngressServer(
        spark,
        schema="x long",
        spool_dir=str(tmp_path / "race_spool"),
        response_timeout_s=0.05,
    )

    class RacyEvent(threading.Event):
        # wait() times out, then the "response writer" delivers the result
        # just before the handler's cleanup runs — the worst-case interleave
        def wait(self, timeout=None):
            got = super().wait(timeout)
            if not got:
                qid = next(
                    (q for q, e in list(srv._pending.items()) if e is self), None
                )
                if qid is not None:
                    srv.deliver(qid, {"late": True})
            return got

    monkeypatch.setattr(hi.threading, "Event", RacyEvent)
    try:
        req = urllib.request.Request(
            srv.url,
            data=json.dumps({"x": 1}).encode(),
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(req, timeout=10)
            raise AssertionError("expected 504")
        except urllib.error.HTTPError as exc:
            assert exc.code == 504
        assert srv._pending == {}
        assert srv._results == {}, "late-delivered result leaked"
    finally:
        srv.stop()


def test_rest_connector_shared_webserver_routes(spark, tmp_path):
    # reference PathwayWebserver (io/http/_server.py:329): one host/port,
    # several rest_connector routes
    import json
    import urllib.request

    import pathwaydataframework_spark as pw
    from pathwaydataframework_spark.sources.http_ingress import PathwayWebserver

    ws = PathwayWebserver("127.0.0.1", 0)
    t1, w1 = sources.http.rest_connector(
        spark, schema="x long", spool_dir=str(tmp_path / "r1"),
        webserver=ws, route="/double", response_timeout_s=20.0,
    )
    t2, w2 = sources.http.rest_connector(
        spark, schema="x long", spool_dir=str(tmp_path / "r2"),
        webserver=ws, route="/triple", response_timeout_s=20.0,
    )
    w1(t1.select(pw.this.query_id, result=pw.this.x * 2))
    w2(t2.select(pw.this.query_id, result=pw.this.x * 3))
    try:
        for route, expected in (("/double", 10), ("/triple", 15)):
            req = urllib.request.Request(
                ws.url + route, data=json.dumps({"x": 5}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=30) as resp:
                assert json.loads(resp.read()) == expected
        # schema endpoint lists both routes
        with urllib.request.urlopen(ws.url + "/_schema", timeout=10) as resp:
            schema_doc = json.loads(resp.read())
        assert set(schema_doc) == {"/double", "/triple"}
    finally:
        w1.server.stop()
        w2.server.stop()
        ws.stop()


def test_rest_connector_malformed_requests_answer_400(spark, tmp_path):
    # the PathwayWebserver dispatcher answers a request it cannot decode
    # with 400 instead of dropping the connection; nothing is spooled
    import pathwaydataframework_spark.sources.http_ingress as hi

    spool = tmp_path / "bad_spool"
    srv = hi.RestIngressServer(spark, schema="x long", spool_dir=str(spool))
    try:
        for body, headers in (
            (b"", {"Content-Length": "abc"}),
            (b"", {"Content-Length": "-1"}),
            (b"[1]", {}),
            (b"{x", {}),
        ):
            assert _raw_status(srv.url, body, headers) == 400
        assert os.listdir(spool) == []
    finally:
        srv.stop()


def test_http_read_truncated_body_answers_408(spark, tmp_path, monkeypatch):
    # a body shorter than its Content-Length, on a connection the client
    # keeps open, must not hold a handler thread: the dispatcher's read
    # timeout answers 408
    import socket
    import urllib.parse

    import pathwaydataframework_spark.sources.http_ingress as hi

    monkeypatch.setattr(hi, "READ_TIMEOUT_S", 0.5)
    spool = tmp_path / "slow_spool"
    _, srv = sources.http.read(spark, schema="k string, v long", spool_dir=str(spool))
    try:
        port = urllib.parse.urlsplit(srv.url).port
        with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
            sock.sendall(b"POST / HTTP/1.1\r\nHost: x\r\nContent-Length: 100\r\n\r\nab")
            assert sock.recv(64).startswith(b"HTTP/1.0 408")
        assert os.listdir(spool) == []
    finally:
        srv.stop()


def test_http_read_rejects_lines_that_are_not_objects(spark, tmp_path):
    # Spark's json reader would turn `5` or `[1]` into an all-NULL row
    spool = tmp_path / "obj_spool"
    _, srv = sources.http.read(spark, schema="k string, v long", spool_dir=str(spool))
    try:
        for body in (b"5", b"[1]", b'{"k": "a", "v": 1}\n[1]'):
            assert _raw_status(srv.url, body, {}) == 400
        assert os.listdir(spool) == []
    finally:
        srv.stop()


def test_stopped_connector_route_answers_404_siblings_keep_serving(spark, tmp_path):
    from pathwaydataframework_spark.sources.http_ingress import PathwayWebserver

    ws = PathwayWebserver("127.0.0.1", 0)
    gone_spool = tmp_path / "gone"
    _, gone = sources.http.rest_connector(
        spark, schema="x long", spool_dir=str(gone_spool),
        webserver=ws, route="/gone", response_timeout_s=1.0,
    )
    _, kept = sources.http.rest_connector(
        spark, schema="x long", spool_dir=str(tmp_path / "kept"),
        webserver=ws, route="/kept", request_validator=lambda payload: "rejected",
    )
    try:
        gone.server.stop()
        assert _raw_status(ws.url + "/gone", b'{"x": 1}', {}) == 404
        assert os.listdir(gone_spool) == []
        assert _raw_status(ws.url + "/kept", b'{"x": 1}', {}) == 400
    finally:
        kept.server.stop()
        ws.stop()


def test_one_http_server_and_one_request_handler_in_the_package():
    import re
    from pathlib import Path

    import pathwaydataframework_spark

    servers = handlers = 0
    for path in Path(pathwaydataframework_spark.__file__).parent.rglob("*.py"):
        src = path.read_text(encoding="utf-8")
        servers += src.count("ThreadingHTTPServer(")
        handlers += len(re.findall(r"class \w+\([\w.]*BaseHTTPRequestHandler\)", src))
    assert (servers, handlers) == (1, 1)
