"""llms / prompts / question_answering — reference xpacks/llm parity tests.

All chat behavior is exercised through InjectableChat (deterministic fake),
so the tests verify the DISTRIBUTED plumbing: prompt assembly as column
expressions, Arrow-batched chat UDFs, per-round filter/union of the
geometric strategy, and the retrieve→prompt→chat composition."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from pathwaydataframework_spark.xpacks.llm import (
    BaseRAGQuestionAnswerer,
    DocumentStore,
    answer_with_geometric_rag_strategy,
    answer_with_geometric_rag_strategy_from_index,
    llms,
    prompts,
)

NOT_FOUND = "No information found."


def make_chat(answer_fn):
    """Chat fake: answer_fn(prompt_text) -> str."""
    return llms.InjectableChat(
        lambda msgs, **kw: answer_fn(msgs[-1]["content"])
    )


# -- llms --------------------------------------------------------------------


def test_prompt_chat_single_qa_and_injectable_chat(spark):
    chat = llms.InjectableChat(lambda msgs, **kw: msgs[-1]["content"].upper())
    d = spark.createDataFrame([("hello",), (None,)], "q string")
    rows = d.select(
        chat(llms.prompt_chat_single_qa(F.col("q"))).alias("a")
    ).collect()
    assert rows[0]["a"] == "HELLO"
    assert rows[1]["a"] is None or rows[1]["a"] == ""  # null question


def test_chat_model_and_kwargs_flow_to_wrapped(spark):
    # the chat UDF runs in a separate worker process, so observe the kwargs
    # through the returned value, not driver-side state
    chat = llms.InjectableChat(
        lambda msgs, **kw: json.dumps(kw, sort_keys=True),
        model="fake-1",
        temperature=0.5,
    )
    d = spark.createDataFrame([("x",)], "q string")
    got = d.select(
        chat(llms.prompt_chat_single_qa(F.col("q")), max_tokens=7).alias("a")
    ).first()["a"]
    assert json.loads(got) == {"model": "fake-1", "temperature": 0.5, "max_tokens": 7}


def test_service_chats_error_without_client(spark):
    chat = llms.OpenAIChat()
    d = spark.createDataFrame([("x",)], "q string")
    with pytest.raises(Exception, match="client library is not available"):
        d.select(chat(llms.prompt_chat_single_qa(F.col("q")))).collect()


def test_service_chat_with_injected_client_factory(spark):
    class FakeCompletions:
        def create(self, messages=None, **kw):
            class R:  # minimal openai response shape
                class _C:
                    class message:
                        content = "from-fake-client"

                choices = [_C]

            return R

    class FakeClient:
        class chat:
            completions = FakeCompletions()

    chat = llms.OpenAIChat(client_factory=lambda: FakeClient)
    d = spark.createDataFrame([("x",)], "q string")
    out = d.select(chat(llms.prompt_chat_single_qa(F.col("q"))).alias("a"))
    assert out.first()["a"] == "from-fake-client"


# -- prompts -----------------------------------------------------------------


def test_prompt_numbered_sources(spark):
    d = spark.createDataFrame([(["alpha", "beta"],)], "docs array<string>")
    p = d.select(
        prompts.prompt_qa_geometric_rag(F.lit("q?"), F.col("docs")).alias("p")
    ).first()["p"]
    assert "Source 1: alpha" in p and "Source 2: beta" in p
    assert p.rstrip().endswith("Answer:") and "Query: q?" in p


def test_prompt_empty_docs(spark):
    d = spark.createDataFrame([([],)], "docs array<string>")
    p = d.select(
        prompts.prompt_qa_geometric_rag(F.lit("q?"), F.col("docs")).alias("p")
    ).first()["p"]
    assert "Source 1" not in p


def test_parse_cited_response(spark):
    d = spark.createDataFrame(
        [("Water is wet [2], in the evening [1].", ["sky doc", "water doc"])],
        "resp string, docs array<string>",
    )
    row = d.select(
        prompts.parse_cited_response(F.col("resp"), F.col("docs")).alias("r")
    ).first()["r"]
    assert row["answer"] == "Water is wet, in the evening."
    assert set(row["cited_docs"]) == {"sky doc", "water doc"}


# -- geometric RAG strategy --------------------------------------------------


def needle_chat():
    """Answers iff the needle document made it into the prompt context."""
    return make_chat(
        lambda p: "found-it" if "the-needle-fact" in p else NOT_FOUND
    )


def test_geometric_strategy_grows_until_answer(spark):
    docs = ["filler one", "filler two", "the-needle-fact here", "filler three"]
    d = spark.createDataFrame([(1, "where is the needle?", docs)],
                              "query_id long, query string, documents array<string>")
    # rounds: 1 doc -> 2 docs -> 4 docs; needle is doc #3, so round 3 answers
    out = answer_with_geometric_rag_strategy(d, needle_chat(), 1, 2, 3)
    assert out.first()["answer"] == "found-it"
    # with only 2 rounds (1 then 2 docs) the needle is never provided
    out2 = answer_with_geometric_rag_strategy(d, needle_chat(), 1, 2, 2)
    assert out2.first()["answer"] is None


def test_geometric_strategy_each_round_only_asks_unanswered(spark, tmp_path):
    # chat UDFs run in worker processes: record calls through a spool file
    spool = str(tmp_path / "calls.log")

    def fn(msgs, _spool=spool, **kw):
        p = msgs[-1]["content"]
        q = p.split("Query: ")[1].split("\n")[0]
        with open(_spool, "a") as f:
            f.write(q + "\n")
        return "ans" if "hit" in p else NOT_FOUND

    chat = llms.InjectableChat(fn)
    d = spark.createDataFrame(
        [
            (1, "easy?", ["hit doc"]),
            (2, "hard?", ["miss", "miss", "hit late"]),
        ],
        "query_id long, query string, documents array<string>",
    )
    out = {r["query_id"]: r["answer"]
           for r in answer_with_geometric_rag_strategy(d, chat, 1, 2, 3).collect()}
    assert out == {1: "ans", 2: "ans"}
    calls = open(spool).read().split()
    # q1 answered in round 1 and never re-asked; q2 needs all 3 rounds
    # (1 doc, 2 docs: both miss the 3rd 'hit late' doc, then 4 docs)
    assert calls.count("easy?") == 1
    assert calls.count("hard?") == 3


def test_geometric_strategy_from_index(spark):
    docs = [
        ("kafka connector reads topics into tables", "/d/kafka.txt"),
        ("csv reader loads delimiter separated files", "/d/csv.txt"),
        ("the-needle-fact lives in parquet files", "/d/parquet.txt"),
    ]
    src = spark.createDataFrame(
        [(t.encode(), json.dumps({"path": p})) for t, p in docs],
        "data binary, _metadata string",
    )
    store = DocumentStore(src)
    q = spark.createDataFrame(
        [(1, "parquet the-needle-fact?")], "query_id long, query string"
    )
    out = answer_with_geometric_rag_strategy_from_index(
        q, store, needle_chat(), 1, 2, 2
    )
    assert out.first()["answer"] == "found-it"


# -- RAG app class -----------------------------------------------------------


@pytest.fixture(scope="module")
def rag_app(spark):
    docs = [
        ("spark shuffles data between executors", "/d/a.txt"),
        ("duckdb runs in process analytics", "/d/b.txt"),
    ]
    src = spark.createDataFrame(
        [(t.encode(), json.dumps({"path": p, "modified_at": 1, "seen_at": 2}))
         for t, p in docs],
        "data binary, _metadata string",
    )
    store = DocumentStore(src)
    chat = make_chat(lambda p: "ANSWER[" + ("spark" if "spark" in p else "?") + "]")
    return BaseRAGQuestionAnswerer(chat, store, search_topk=2)


def test_rag_answer_query(spark, rag_app):
    q = spark.createDataFrame(
        [(1, "how does spark move data?", "short")],
        "query_id long, prompt string, response_type string",
    )
    row = rag_app.answer_query(q).first()
    assert row["result"] == "ANSWER[spark]"
    assert any("shuffles" in d for d in row["docs"])


def test_rag_summarize_and_endpoints(spark, rag_app):
    sq = spark.createDataFrame([(["t1", "t2"],)], "text_list array<string>")
    assert rag_app.summarize_query(sq).first()["result"].startswith("ANSWER")
    stats_q = spark.range(1).select(F.col("id").alias("query_id"))
    assert rag_app.statistics(stats_q).first()["result"]["file_count"] == 2
    lq = spark.createDataFrame(
        [(0, None, None)],
        "query_id long, metadata_filter string, filepath_globpattern string",
    )
    assert len(rag_app.list_documents(lq).first()["result"]) == 2


# -- REST servers ------------------------------------------------------------


def _post(url, payload):
    import urllib.request

    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    # 90s, not 15: each POST runs a real Spark job behind the endpoint,
    # and under full-suite contention (32 local threads + parallel test
    # files) a 15s budget flaked once in an otherwise green run
    with urllib.request.urlopen(req, timeout=90) as resp:
        return json.loads(resp.read())


def test_qa_summary_rest_server(spark, rag_app):
    from pathwaydataframework_spark.xpacks.llm.servers import QASummaryRestServer

    server = QASummaryRestServer(rag_question_answerer=rag_app)

    @server.serve_callable("/v1/echo")
    def echo(**kw):
        return {"got": kw}

    server.run(threaded=True)
    base = f"http://{server.host}:{server.port}"
    try:
        ans = _post(base + "/v1/pw_ai_answer", {"prompt": "spark data movement?"})
        assert ans["response"] == "ANSWER[spark]"
        summ = _post(base + "/v1/pw_ai_summary", {"text_list": ["a", "b"]})
        assert summ["response"].startswith("ANSWER")
        docs = _post(base + "/v1/pw_list_documents", {})
        assert len(docs) == 2
        stats = _post(base + "/v1/statistics", {})
        assert stats["file_count"] == 2
        hits = _post(base + "/v1/retrieve", {"query": "spark", "k": 1})
        assert len(hits) == 1
        assert _post(base + "/v1/echo", {"x": 1}) == {"got": {"x": 1}}
    finally:
        server.shutdown()


def test_rag_client_against_qa_summary_rest_server(spark, rag_app):
    from pathwaydataframework_spark.xpacks.llm import RAGClient
    from pathwaydataframework_spark.xpacks.llm.servers import QASummaryRestServer

    server = QASummaryRestServer(rag_question_answerer=rag_app)
    server.run(threaded=True)
    try:
        client = RAGClient(server.host, server.port, timeout=90)
        assert client.answer("spark data movement?") == {"response": "ANSWER[spark]"}
        hits = client.retrieve("spark", k=1)
        assert len(hits) == 1 and "spark" in hits[0]["text"]
        assert client.statistics()["file_count"] == 2
        assert len(client.list_documents()) == 2
    finally:
        server.shutdown()


def test_embedder_family_fallback_and_injection(spark):
    # reference xpacks/llm/embedders.py class family: offline fallback is
    # the deterministic hashing vector; injected clients run per Arrow batch
    import pyspark.sql.functions as F

    import pathwaydataframework_spark as pw
    from pathwaydataframework_spark.xpacks.llm import (
        GeminiEmbedder,
        LiteLLMEmbedder,
        OpenAIEmbedder,
        SentenceTransformerEmbedder,
    )

    t = pw.Table.from_rows(spark, [("hello world",), ("spark",)], "text string")
    for cls in (OpenAIEmbedder, LiteLLMEmbedder, GeminiEmbedder):
        e = cls(model="m", dim=8)
        vecs = [r["v"] for r in t.df.select(e(F.col("text")).alias("v")).collect()]
        assert all(len(v) == 8 for v in vecs)
        assert e.get_embedding_dimension() == 8
    e2 = SentenceTransformerEmbedder(
        "fake", embed_fn=lambda s, **kw: [float(len(s)), 1.0]
    )
    got = {r["text"]: r["v"] for r in
           t.df.select("text", e2(F.col("text")).alias("v")).collect()}
    assert got["hello world"] == [11.0, 1.0]
    assert e2.get_embedding_dimension() == 2


def test_adaptive_rag_question_answerer(spark, rag_app):
    # reference question_answering.py:574 — adaptive context growth wired
    # through the same geometric strategy, full endpoint surface intact
    import pyspark.sql.functions as F

    import pathwaydataframework_spark as pw
    from pathwaydataframework_spark.xpacks.llm import (
        AdaptiveRAGQuestionAnswerer,
        llms,
    )

    def fake_llm(messages, **kw):
        content = messages[-1]["content"] if messages else ""
        if "spark" in content.lower():
            return "Spark is a distributed engine."
        return "No information found."

    chat = llms.InjectableChat(fake_llm)
    qa = AdaptiveRAGQuestionAnswerer(chat, rag_app.indexer, max_iterations=2)
    queries = spark.createDataFrame(
        [(1, "what is spark?")], "query_id long, prompt string"
    )
    out = qa.answer_query(queries)
    row = out.first()
    assert "Spark" in row["result"]


def test_parser_family(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from pathwaydataframework_spark.xpacks.llm import (
        ParseUnstructured,
        ParseUtf8,
        PypdfParser,
    )

    df = spark.createDataFrame([(b"hello doc",)], "data binary")
    # ParseUtf8: real decode, one chunk, empty metadata
    out = df.select(ParseUtf8()(F.col("data")).alias("chunks")).first()["chunks"]
    assert out[0]["text"] == "hello doc" and dict(out[0]["metadata"]) == {}
    # injectable parser runs per batch
    p = ParseUnstructured(parse_fn=lambda b: [(b.decode()[:5], {"page": 1})])
    got = df.select(p(F.col("data")).alias("chunks")).first()["chunks"]
    assert got[0]["text"] == "hello" and dict(got[0]["metadata"]) == {"page": "1"}
    # honest boundary without injection
    with _pytest.raises(NotImplementedError, match="parse_fn"):
        df.select(PypdfParser()(F.col("data")))
