"""RAG question answering — reference ``xpacks/llm/question_answering.py``.

Reference: ``answer_with_geometric_rag_strategy`` (:97) /
``..._from_index`` (:162) — ask the chat with a geometrically growing
document prefix until an answer appears; ``BaseQuestionAnswerer`` (:263) /
``BaseRAGQuestionAnswerer`` (:289) — the retrieve → prompt → chat app over
a DocumentStore.

Spark-first restatement of the geometric strategy: each round is a
batch-level filter/union — ONLY still-unanswered rows reach the chat UDF
(the reference does the same with per-row dataflow retractions).  Rounds
are separated by ``localCheckpoint`` so a chat call is executed exactly
once per (row, round) even though the plan is lazy — chat UDFs are
nondeterministic, so letting Spark re-evaluate earlier rounds inside later
plans would both duplicate cost and allow answer flapping.

Scale note: rounds = max_iterations jobs over a strictly shrinking frame;
the corpus-side retrieval runs ONCE (top ``max_documents``), and each
round only slices a shorter prefix of the already-retrieved list — no
re-retrieval per round.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pathwaydataframework_spark.internals.table import Table
from pathwaydataframework_spark.xpacks.llm import llms, prompts
from pathwaydataframework_spark.xpacks.llm.document_store import DocumentStore
from pathwaydataframework_spark.xpacks.llm.vector_store import VectorStoreClient

__all__ = [
    "answer_with_geometric_rag_strategy",
    "answer_with_geometric_rag_strategy_from_index",
    "BaseQuestionAnswerer",
    "BaseRAGQuestionAnswerer",
]


def _df(t) -> DataFrame:
    return t.df if isinstance(t, Table) else t


def answer_with_geometric_rag_strategy(
    questions: DataFrame | Table,
    llm_chat_model: llms.BaseChat,
    n_starting_documents: int,
    factor: int,
    max_iterations: int,
    *,
    query_col: str = "query",
    documents_col: str = "documents",
    information_not_found_response: str = "No information found.",
    strict_prompt: bool = False,
) -> DataFrame:
    """Reference :97 — rows carry ``query`` and ``documents``
    (array<string>, already relevance-ordered).  Ask with the first
    ``n_starting_documents`` docs; rows whose response equals the
    not-found sentinel retry with ``factor``× more docs, up to
    ``max_iterations`` rounds.  Returns the input plus an ``answer``
    column (null when every round came back empty-handed)."""
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    t = _df(questions).withColumn("answer", F.lit(None).cast("string"))
    n_documents = n_starting_documents
    for round_no in range(max_iterations):
        unanswered = t.filter(F.col("answer").isNull())
        answered = t.filter(F.col("answer").isNotNull())
        prompt = prompts.prompt_qa_geometric_rag(
            F.col(query_col),
            F.slice(F.col(documents_col), 1, n_documents),
            information_not_found_response=information_not_found_response,
            strict_prompt=strict_prompt,
        )
        # the raw chat response gets its OWN projection: the UDF is
        # nondeterministic, so Catalyst will not common-subexpression-
        # eliminate repeated references — inlining `raw` into the when/
        # otherwise below would call the chat twice per row
        asked = unanswered.withColumn(
            "__raw", llm_chat_model(llms.prompt_chat_single_qa(prompt))
        )
        raw = F.col("__raw")
        if strict_prompt:  # reference _query_chat_strict_json (:36)
            raw = F.coalesce(F.get_json_object(raw, "$.answer"), raw)
        # the not-found sentinel means "retry with more docs" — i.e. null
        answer = F.when(
            F.trim(raw).startswith(information_not_found_response.rstrip(".")),
            F.lit(None).cast("string"),
        ).otherwise(raw)
        asked = asked.withColumn("answer", answer).drop("__raw")
        t = answered.unionByName(asked)
        # materialize: chat calls are nondeterministic + costly, so each
        # round must execute exactly once, not re-run inside later plans
        if round_no < max_iterations - 1:
            t = t.localCheckpoint(eager=True)
        n_documents *= factor
    return t


def _with_retrieved_texts(
    q: DataFrame, indexer: DocumentStore, out_col: str, query: Column, k: int,
    metadata_filter: Column, *, query_id_col: str = "query_id",
) -> DataFrame:
    """``q`` plus ``out_col``: the texts of the top-``k`` chunks ``indexer``
    retrieves for each row's ``query`` under its ``metadata_filter``, in
    ``retrieve_query``'s order, or [] when none is found."""
    retrieval = q.select(
        F.col(query_id_col),
        query.alias("query"),
        F.lit(k).alias("k"),
        metadata_filter.alias("metadata_filter"),
        F.lit(None).cast("string").alias("filepath_globpattern"),
    )
    hits = indexer.retrieve_query(retrieval, query_id_col=query_id_col).select(
        F.col(query_id_col), F.transform("result", lambda h: h["text"]).alias(out_col)
    )
    return q.join(hits, on=query_id_col, how="left").withColumn(
        out_col, F.coalesce(out_col, F.array().cast("array<string>"))
    )


def answer_with_geometric_rag_strategy_from_index(
    questions: DataFrame | Table,
    indexer: DocumentStore,
    llm_chat_model: llms.BaseChat,
    n_starting_documents: int,
    factor: int,
    max_iterations: int,
    *,
    query_col: str = "query",
    query_id_col: str = "query_id",
    metadata_filter: str | None = None,
    information_not_found_response: str = "No information found.",
    strict_prompt: bool = False,
) -> DataFrame:
    """Reference :162 — retrieve ``n_starting_documents * factor**
    (max_iterations-1)`` docs per question ONCE, then run the geometric
    strategy over prefixes of that single retrieval."""
    max_documents = n_starting_documents * (factor ** (max_iterations - 1))
    with_docs = _with_retrieved_texts(
        _df(questions), indexer, "documents", F.col(query_col), max_documents,
        F.lit(metadata_filter).cast("string"), query_id_col=query_id_col,
    )
    return answer_with_geometric_rag_strategy(
        with_docs,
        llm_chat_model,
        n_starting_documents,
        factor,
        max_iterations,
        query_col=query_col,
        documents_col="documents",
        information_not_found_response=information_not_found_response,
        strict_prompt=strict_prompt,
    )


class BaseQuestionAnswerer:
    """Reference :263 — the four-endpoint abstract surface."""

    def answer_query(self, queries) -> DataFrame:
        raise NotImplementedError

    def retrieve(self, queries) -> DataFrame:
        raise NotImplementedError

    def statistics(self, queries) -> DataFrame:
        raise NotImplementedError

    def list_documents(self, queries) -> DataFrame:
        raise NotImplementedError


class BaseRAGQuestionAnswerer(BaseQuestionAnswerer):
    """Reference :289 — retrieve → prompt → chat over a DocumentStore.

    Args:
        llm: any :class:`llms.BaseChat`.
        indexer: a :class:`DocumentStore`.
        search_topk: documents retrieved per question.
        short_prompt_template / long_prompt_template / summarize_template:
            Column-level prompt builders (defaults: prompts module).
    """

    def __init__(
        self,
        llm: llms.BaseChat,
        indexer: DocumentStore,
        *,
        search_topk: int = 6,
        short_prompt_template: Callable[[Column, Column], Column] | None = None,
        long_prompt_template: Callable[[Column, Column], Column] | None = None,
        summarize_template: Callable[[Column], Column] | None = None,
    ):
        self.llm = llm
        self.indexer = indexer
        self.search_topk = search_topk
        self.short_prompt_template = short_prompt_template or prompts.prompt_short_qa
        self.long_prompt_template = long_prompt_template or prompts.prompt_qa
        self.summarize_template = summarize_template or prompts.prompt_summarize

    def answer_query(self, queries: DataFrame | Table) -> DataFrame:
        """Queries carry ``query_id``, ``prompt`` and optional ``filters``
        (metadata filter string) and ``response_type`` ('short'|'long') —
        reference PWAIQuerySchema (:382).  Returns the queries plus
        ``docs`` (retrieved texts) and ``result`` (the chat answer)."""
        q = _df(queries)
        cols = q.columns
        filters = F.col("filters") if "filters" in cols else F.lit(None).cast("string")
        out = _with_retrieved_texts(
            q, self.indexer, "docs", F.col("prompt"), self.search_topk, filters
        )
        response_type = (
            F.col("response_type") if "response_type" in cols else F.lit("short")
        )
        rag_prompt = F.when(
            response_type == "short",
            self.short_prompt_template(F.col("prompt"), F.col("docs")),
        ).otherwise(self.long_prompt_template(F.col("prompt"), F.col("docs")))
        return out.withColumn(
            "result", self.llm(llms.prompt_chat_single_qa(rag_prompt))
        )

    def summarize_query(self, queries: DataFrame | Table) -> DataFrame:
        """Queries carry ``text_list`` (array<string>) — reference
        SummarizeQuerySchema (:390)."""
        q = _df(queries)
        prompt = self.summarize_template(F.col("text_list"))
        return q.withColumn(
            "result", self.llm(llms.prompt_chat_single_qa(prompt))
        )

    def retrieve(self, queries) -> DataFrame:
        return self.indexer.retrieve_query(_df(queries))

    def statistics(self, queries) -> DataFrame:
        return self.indexer.statistics_query(_df(queries))

    def list_documents(self, queries) -> DataFrame:
        return self.indexer.inputs_query(_df(queries))


class AdaptiveRAGQuestionAnswerer(BaseRAGQuestionAnswerer):
    """Reference :574 — RAG with adaptive context growth: answer with
    ``n_starting_documents`` chunks first, multiply by ``factor`` until an
    answer is found (the geometric strategy of Kuratov et al. as published
    in the adaptive-RAG literature).  Delegates to
    :func:`answer_with_geometric_rag_strategy_from_index` — one retrieval
    of the maximum prefix, then prefix-sized prompts."""

    def __init__(
        self,
        llm: llms.BaseChat,
        indexer: DocumentStore,
        *,
        n_starting_documents: int = 2,
        factor: int = 2,
        max_iterations: int = 4,
        strict_prompt: bool = False,
        **kwargs,
    ):
        super().__init__(llm, indexer, **kwargs)
        self.n_starting_documents = n_starting_documents
        self.factor = factor
        self.max_iterations = max_iterations
        self.strict_prompt = strict_prompt

    def answer_query(self, queries: DataFrame | Table) -> DataFrame:
        q = _df(queries)
        out = answer_with_geometric_rag_strategy_from_index(
            q.select("query_id", F.col("prompt").alias("query")),
            self.indexer,
            self.llm,
            self.n_starting_documents,
            self.factor,
            self.max_iterations,
            strict_prompt=self.strict_prompt,
        )
        # the serving contract (reference answer endpoint) names it result
        return out.withColumn("result", F.col("answer"))


class SummaryQuestionAnswerer(BaseQuestionAnswerer):
    """Reference :282 — a summarization-only endpoint surface."""

    def __init__(self, llm: llms.BaseChat, summarize_template=None):
        self.llm = llm
        self.summarize_template = summarize_template or prompts.prompt_summarize

    def answer_query(self, queries: DataFrame | Table) -> DataFrame:
        q = _df(queries)
        prompt = self.summarize_template(F.col("text_list"))
        return q.withColumn("result", self.llm(llms.prompt_chat_single_qa(prompt)))


class RAGClient:
    """Reference :816 — HTTP client for a served question answerer
    (:class:`~servers.QARestServer`), on the routes the reference client
    uses: /v2/answer and /v2/list_documents, plus /v1/retrieve and
    /v1/statistics through a :class:`VectorStoreClient`, as the reference
    does with its ``index_client``."""

    def __init__(self, host: str, port: int, *, timeout: float = 30.0):
        self.index_client = VectorStoreClient(host=host, port=port, timeout=timeout)
        self.base = self.index_client.url

    def answer(self, prompt: str, filters: str | None = None, response_type: str = "short"):
        payload = {"prompt": prompt, "response_type": response_type}
        if filters:
            payload["filters"] = filters
        return self.index_client._post("/v2/answer", payload)

    def retrieve(self, query: str, k: int = 6, metadata_filter: str | None = None):
        return self.index_client.query(query, k=k, metadata_filter=metadata_filter)

    def statistics(self):
        return self.index_client.get_vectorstore_statistics()

    def list_documents(self):
        return self.index_client._post("/v2/list_documents", {})
