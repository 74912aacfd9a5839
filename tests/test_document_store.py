"""DocumentStore / VectorStoreServer — reference xpacks/llm parity tests.

Covers: the parse→post-process→split→index pipeline over binary sources
with metadata, the JMESPath-subset filter translation, all three query
endpoints, python-callable parser/splitter fallbacks, and the REST facade
round-trip (stdlib client against the threaded server)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from pathwaydataframework_spark.operators.ml_index import (
    BruteForceKnnFactory,
    TantivyBM25Factory,
)
from pathwaydataframework_spark.operators.splitters import TokenCountSplitter
from pathwaydataframework_spark.xpacks.llm import (
    DocumentStore,
    SlidesDocumentStore,
    VectorStoreClient,
    VectorStoreServer,
)
from pathwaydataframework_spark.xpacks.llm.document_store import (
    _glob_to_regex,
    merge_filter_strings,
    translate_metadata_filter,
)

DOCS = [
    ("spark runs distributed queries over parquet tables", "/corpus/a/spark.txt", "alice", 100, 110),
    ("pandas loads small csv frames in memory", "/corpus/b/pandas.txt", "bob", 200, 210),
    ("distributed joins shuffle rows between executors", "/corpus/a/joins.md", "alice", 300, 310),
    ("window functions rank rows within partitions", "/corpus/b/windows.md", "carol", 50, 400),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (
            text.encode(),
            json.dumps(
                {"path": path, "owner": owner, "modified_at": mod, "seen_at": seen}
            ),
        )
        for text, path, owner, mod, seen in DOCS
    ]
    return spark.createDataFrame(rows, "data binary, _metadata string")


# -- filter DSL --------------------------------------------------------------


def test_glob_to_regex_globstar_vs_star():
    import re

    rx = re.compile(_glob_to_regex("/corpus/**/*.txt"))
    assert rx.match("/corpus/a/spark.txt")
    assert rx.match("/corpus/a/b/c/deep.txt")
    assert not rx.match("/corpus/a/spark.md")
    # single * must NOT cross directories
    rx1 = re.compile(_glob_to_regex("/corpus/*.txt"))
    assert not rx1.match("/corpus/a/spark.txt")


def test_merge_filter_strings():
    assert merge_filter_strings(None, None) is None
    assert merge_filter_strings("owner == `alice`", None) == "(owner == `alice`)"
    assert (
        merge_filter_strings("owner == `alice`", "**/*.md")
        == "(owner == `alice`) && globmatch('**/*.md', path)"
    )


def test_filter_translation_matrix(spark):
    d = spark.createDataFrame(
        [(json.dumps({"owner": "alice", "size": 5, "path": "/a/x.txt"}),)],
        "m string",
    )

    def hit(expr):
        return d.filter(translate_metadata_filter(expr, F.col("m"))).count() == 1

    assert hit("owner == `alice`")
    assert not hit("owner == `bob`")
    assert hit("owner != `bob`")
    assert hit("size >= `5` && size < `6`")
    assert hit("owner == `bob` || size == `5`")
    assert hit("!(owner == `bob`)")
    assert hit("contains(path, 'x.txt')")
    assert hit("globmatch('/a/*.txt', path)")
    assert not hit("globmatch('/b/*.txt', path)")
    with pytest.raises(ValueError):
        translate_metadata_filter("owner === `x`", F.col("m"))


# -- pipeline + retrieval ----------------------------------------------------


def test_bm25_store_retrieve_topk(spark, docs_df):
    store = DocumentStore(docs_df)  # default: utf8 parse, null split, BM25
    q = spark.createDataFrame(
        [(1, "distributed queries", 2, None, None)],
        "query_id long, query string, k int, metadata_filter string, "
        "filepath_globpattern string",
    )
    rows = store.retrieve_query(q).collect()
    assert len(rows) == 1
    hits = rows[0]["result"]
    assert len(hits) == 2
    # both 'distributed' docs beat the rest; results sorted by dist asc
    texts = [h["text"] for h in hits]
    assert all("distributed" in t for t in texts)
    assert hits[0]["dist"] <= hits[1]["dist"]


def test_retrieve_with_metadata_filter_reranks_subset(spark, docs_df):
    store = DocumentStore(docs_df)
    q = spark.createDataFrame(
        [
            (1, "rows", 4, "owner == `alice`", None),
            (2, "rows", 4, None, "**/*.md"),
        ],
        "query_id long, query string, k int, metadata_filter string, "
        "filepath_globpattern string",
    )
    out = {r["query_id"]: r["result"] for r in store.retrieve_query(q).collect()}
    owners = {json.loads(h["metadata"])["owner"] for h in out[1]}
    assert owners == {"alice"}
    paths = {json.loads(h["metadata"])["path"] for h in out[2]}
    assert paths and all(p.endswith(".md") for p in paths)


def test_retrieve_filtered_to_empty_returns_empty_list(spark, docs_df):
    store = DocumentStore(docs_df)
    q = spark.createDataFrame(
        [(9, "rows", 3, "owner == `nobody`", None)],
        "query_id long, query string, k int, metadata_filter string, "
        "filepath_globpattern string",
    )
    rows = store.retrieve_query(q).collect()
    assert rows[0]["result"] == []


def test_vector_store_with_knn_factory(spark, docs_df):
    store = DocumentStore(
        docs_df,
        retriever_factory=BruteForceKnnFactory(dim=32),
        splitter=TokenCountSplitter(min_tokens=2, max_tokens=4),
        dim=32,
    )
    # chunking happened
    assert store.chunked_docs.count() > len(DOCS)
    q = spark.createDataFrame(
        [(1, "distributed queries parquet", 3)],
        "query_id long, query string, k int",
    )
    hits = store.retrieve_query(q).collect()[0]["result"]
    assert 0 < len(hits) <= 3
    # cosine top hit shares tokens with the query
    assert any(
        w in hits[0]["text"] for w in ("distributed", "queries", "parquet")
    )


def test_statistics_and_inputs_queries(spark, docs_df):
    store = DocumentStore(docs_df)
    q = spark.range(1).select(F.col("id").alias("query_id"))
    stats = store.statistics_query(q).collect()[0]["result"]
    assert stats["file_count"] == 4
    assert stats["last_modified"] == 300
    assert stats["last_indexed"] == 400

    fq = store.chunked_docs.sparkSession.createDataFrame(
        [(0, "owner == `alice`", None), (1, None, None)],
        "query_id long, metadata_filter string, filepath_globpattern string",
    )
    out = {r["query_id"]: r["result"] for r in store.inputs_query(fq).collect()}
    assert len(out[0]) == 2 and len(out[1]) == 4
    assert all(json.loads(m)["owner"] == "alice" for m in out[0])
    # zero queries: an empty answer with the schema of a non-empty one
    empty = store.inputs_query(fq.limit(0))
    assert empty.collect() == []
    assert empty.dtypes == store.inputs_query(fq).dtypes


def test_python_parser_and_splitter_fallback(spark, docs_df):
    def parser(data: bytes):  # reference parser contract: bytes -> [(text, meta)]
        return [(data.decode("utf-8").upper(), {"parsed": "yes"})]

    def splitter(text: str):  # reference splitter contract
        half = len(text) // 2
        return [(text[:half], {"part": "0"}), (text[half:], {"part": "1"})]

    store = DocumentStore(docs_df, parser=parser, splitter=splitter)
    chunks = store.chunked_docs.collect()
    assert len(chunks) == 2 * len(DOCS)
    m = json.loads(chunks[0]["metadata"])
    assert m["parsed"] == "yes" and m["part"] in ("0", "1")
    assert chunks[0]["text"].isupper() or not chunks[0]["text"].isalpha()


def test_column_post_processor(spark, docs_df):
    store = DocumentStore(
        docs_df, doc_post_processors=[lambda c: F.upper(c)]
    )
    processed = store.post_processed_docs
    assert processed.filter(F.col("text") != F.upper(F.col("text"))).count() == 0


def test_slides_store_parsed_documents_query(spark, docs_df):
    store = SlidesDocumentStore(docs_df)
    q = spark.createDataFrame(
        [(0, None, "**/*.txt")],
        "query_id long, metadata_filter string, filepath_globpattern string",
    )
    res = store.parsed_documents_query(q).collect()[0]["result"]
    assert len(res) == 2
    assert all(json.loads(m)["path"].endswith(".txt") for m in res)
    empty = store.parsed_documents_query(q.limit(0))
    assert empty.collect() == []
    assert empty.dtypes == store.parsed_documents_query(q).dtypes


# -- REST facade -------------------------------------------------------------


def test_vector_store_server_roundtrip(spark, docs_df):
    server = VectorStoreServer(docs_df, index_factory=TantivyBM25Factory())
    server.run_server(port=0, threaded=True)
    try:
        client = VectorStoreClient(host=server.host, port=server.port)
        hits = client.query("distributed queries", k=2)
        assert len(hits) == 2
        assert all(set(h) >= {"dist", "text", "metadata"} for h in hits)
        assert hits[0]["dist"] <= hits[1]["dist"]
        # filtered query flows through the same DSL path
        md_hits = client.query("rows", k=4, filepath_globpattern="**/*.md")
        assert md_hits and all(
            h["metadata"]["path"].endswith(".md") for h in md_hits
        )
        stats = client.get_vectorstore_statistics()
        assert stats["file_count"] == 4
        inputs = client.get_input_files(metadata_filter="owner == `alice`")
        assert len(inputs) == 2
    finally:
        server.shutdown()


def _raw_post(server, route: str, body: bytes, headers: dict) -> tuple[int, dict]:
    import http.client

    conn = http.client.HTTPConnection(server.host, server.port, timeout=90)
    try:
        conn.request("POST", route, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def test_vector_store_server_malformed_requests_answer_400(docs_df):
    server = VectorStoreServer(docs_df)
    server.run_server(port=0)
    try:
        status, body = _raw_post(server, "/v1/retrieve", b"", {"Content-Length": "abc"})
        assert status == 400 and "abc" in body["error"]
        status, body = _raw_post(server, "/v1/retrieve", b'[1, 2]', {})
        assert status == 400 and "JSON object" in body["error"]
        bad_filter = json.dumps({"query": "rows", "metadata_filter": "path =="})
        status, body = _raw_post(server, "/v1/retrieve", bad_filter.encode(), {})
        assert status == 400 and "metadata filter" in body["error"]
        # the server still answers well-formed requests afterwards
        status, body = _raw_post(server, "/v1/statistics", b"{}", {})
        assert status == 200 and body["file_count"] == 4
    finally:
        server.shutdown()


def test_vector_store_server_unknown_route_404_handler_error_500(docs_df, monkeypatch):
    server = VectorStoreServer(docs_df)

    def broken(_queries):
        raise KeyError("query_id")

    monkeypatch.setattr(server.store, "retrieve_query", broken)
    server.run_server(port=0)
    try:
        status, body = _raw_post(server, "/v1/nope", b"{}", {})
        assert (status, body) == (404, {"error": "unknown route"})
        status, body = _raw_post(server, "/v1/retrieve", b'{"query": "rows"}', {})
        assert status == 500 and "query_id" in body["error"]
    finally:
        server.shutdown()


def test_client_requires_exactly_one_address():
    with pytest.raises(ValueError):
        VectorStoreClient(host="h", url="http://x")
    with pytest.raises(ValueError):
        VectorStoreClient()


def test_retrieve_plan_no_cartesian(spark, docs_df):
    """Scale check: store retrieval is the banded/broadcast BM25 plan —
    no CartesianProduct anywhere, queries broadcast to the postings."""
    from pathwaydataframework_spark.plans import formatted_plan

    store = DocumentStore(docs_df)
    q = spark.createDataFrame(
        [(1, "distributed queries", 2, None, None)],
        "query_id long, query string, k int, metadata_filter string, "
        "filepath_globpattern string",
    )
    plan = formatted_plan(store.retrieve_query(q))
    assert "CartesianProduct" not in plan


# -- the corpus snapshot -----------------------------------------------------

_QSCHEMA = (
    "query_id long, query string, k int, metadata_filter string, "
    "filepath_globpattern string"
)


def _write_corpus(spark, path: str, texts: list[str]) -> None:
    rows = [
        (t.encode(), json.dumps({"path": f"/corpus/{i}.txt", "owner": "alice"}))
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(rows, "data binary, _metadata string").write.mode(
        "overwrite"
    ).parquet(path)


def test_snapshot_follows_rewritten_parquet_input(spark, tmp_path, docs_df):
    path = str(tmp_path / "corpus.parquet")
    _write_corpus(spark, path, ["spark joins tables", "pandas reads csv files"])
    store = DocumentStore(spark.read.parquet(path))
    q = spark.createDataFrame([(1, "joins", 1, None, None)], _QSCHEMA)

    def top():
        return [h["text"] for h in store.retrieve_query(q).collect()[0]["result"]]

    assert top() == ["spark joins tables"]
    first = store._snapshot()
    assert store._snapshot() is first  # unchanged input: the same snapshot
    _write_corpus(spark, path, ["flink joins streams", "duckdb", "polars frames"])
    assert top() == ["flink joins streams"]
    assert store.stats.first()["file_count"] == 3
    assert store._snapshot() is not first
    # the old snapshot's checkpointed blocks are released
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    old_rdd = first.chunks._jdf.queryExecution().analyzed().rdd().id()
    assert old_rdd not in persisted
    # a frame with no input files is immutable: it keeps its snapshot
    frozen = DocumentStore(docs_df)
    assert frozen._snapshot() is frozen._snapshot()


def test_concurrent_first_requests_build_one_snapshot(spark, docs_df, monkeypatch):
    import sys
    import threading
    import time

    store = DocumentStore(docs_df)
    build = store._build_snapshot
    builds = []

    def slow_build(version):
        builds.append(version)
        time.sleep(0.5)  # the other request arrives while this one builds
        return build(version)

    monkeypatch.setattr(store, "_build_snapshot", slow_build)
    q = spark.createDataFrame([(1, "distributed queries", 2, None, None)], _QSCHEMA)
    start = threading.Barrier(2)
    answers = []

    def request():
        start.wait(timeout=60)
        answers.append(store.retrieve_query(q).collect()[0]["result"])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=request) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(answers) == 2 and answers[0] == answers[1] and len(answers[0]) == 2


def test_local_query_frame_and_statistics_run_no_job(spark, docs_df):
    from pathwaydataframework_spark.internals.table import local_frame

    store = DocumentStore(docs_df)
    store._snapshot()
    rows = [(1, "rows", 2, "owner == `alice`", None), (2, "rows", 3, None, None),
            (3, "joins", 4, None, None)]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, tracker.getJobIdsForGroup(group)

    q = local_frame(spark, rows, _QSCHEMA)
    groups, jobs = jobs_of("pds_local_filter_groups", lambda: store._filter_groups(q))
    assert jobs == []
    assert groups == [("", 4), ("(owner == `alice`)", 2)]
    # a distributed frame takes the one-job groupBy path to the same groups
    rdd_q = spark.createDataFrame(rows, _QSCHEMA)
    assert store._filter_groups(rdd_q) == groups
    stats, jobs = jobs_of("pds_snapshot_stats", lambda: store.stats.first())
    assert jobs == []
    assert (stats["file_count"], stats["last_modified"], stats["last_indexed"]) == (4, 300, 400)


@pytest.mark.parametrize("vector", [False, True], ids=["bm25", "knn"])
def test_snapshot_answers_equal_per_request_plan(spark, docs_df, vector):
    """The store's answers equal those of ranking over the filtered chunks
    re-derived per request: ``bm25_scores`` for BM25, ``knn_bruteforce``
    over freshly embedded chunks for KNN."""
    from pathwaydataframework_spark.operators import ranking, similarity

    kwargs = {}
    if vector:
        kwargs = dict(
            retriever_factory=BruteForceKnnFactory(dim=32),
            splitter=TokenCountSplitter(min_tokens=2, max_tokens=4),
            dim=32,
        )
    store = DocumentStore(docs_df, **kwargs)
    cases = [
        (1, "distributed rows", 3, None, None),
        (2, "rows partitions", 2, "owner == `alice`", "**/*.md"),
    ]
    got = {
        r["query_id"]: [(h["dist"], h["text"]) for h in r["result"]]
        for r in store.retrieve_query(spark.createDataFrame(cases, _QSCHEMA)).collect()
    }
    for qid, text, k, mf, glob in cases:
        chunks = store.chunked_docs.select("chunk_id", "text", "metadata")
        merged = merge_filter_strings(mf, glob)
        if merged:
            chunks = chunks.filter(translate_metadata_filter(merged, F.col("metadata")))
        q = spark.createDataFrame([(qid, text)], "query_id long, query string")
        if vector:
            hits = similarity.knn_bruteforce(
                chunks.withColumn("embedding", store.embedder(F.col("text"))),
                q.select("query_id", store.embedder(F.col("query")).alias("embedding")),
                id_col="chunk_id", vec_col="embedding", query_id_col="query_id",
                query_vec_col="embedding", k=k, exclude_self=False,
            ).withColumnRenamed("neighbor_id", "chunk_id")
        else:
            hits = ranking.bm25_scores(chunks, q, id_col="chunk_id", k=k).withColumnRenamed(
                "doc_id", "chunk_id"
            )
        want = sorted(
            (-r["score"], r["text"])
            for r in hits.join(chunks, on="chunk_id").select("score", "text").collect()
        )
        assert got[qid] == want, (qid, got[qid], want)
