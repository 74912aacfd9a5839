"""Full-text ranking (BM25) and fuzzy text matching.

Reference analogues: TantivyBM25 (reference stdlib/indexing/bm25.py:41 backed
by a single-node tantivy index) and fuzzy_match_tables
(stdlib/ml/smart_table_ops/_fuzzy_join.py:106).  Both become score joins over
inverted-index tables here — no external index service, fully distributed:

- BM25: two steps.  ``bm25_postings`` builds the term-frequency table (one
  row per doc×term); ``bm25_rank`` scores it: postings ⋈ idf table ⋈ query
  terms → per-(query, doc) score sum → window top-k.  ``bm25_scores``
  composes them per call.  ``DocumentStore`` groups the postings by chunk
  once per corpus snapshot, into each chunk's term → count map, and a
  frame of queries explodes those maps back into postings for the same
  ``bm25_rank``.  Every stage is a hash-partitioned join/agg keyed on the
  term or the doc.
- fuzzy match: shared-token inverted index join with idf-weighted scores,
  best match per left row via max_by.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window as W

from pathwaydataframework_spark.operators.dedup import _ensure_parallelism


def _tokens(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def bm25_doc_length(text: Column) -> Column:
    """|d|: the length of a text in BM25 tokens (the ``dl`` of
    ``bm25_postings``)."""
    return F.size(_tokens(text))


def bm25_postings(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: DataFrame | None = None,
) -> DataFrame:
    """BM25 postings: one (doc_id, term, dl, tf) row per distinct term of
    each doc, where dl = |d| in tokens.  With ``terms`` (one ``term``
    column), only those terms are kept, filtered map-side on the exploded
    tokens BEFORE the shuffle, so the only corpus-wide exchange carries
    matching-term occurrences — not the full inverted index.  dl rides through the explode as a
    constant per doc, which keeps a doc-lengths join off the score path."""
    occurrences = _ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("__toks")
    ).select("doc_id", F.size("__toks").alias("dl"), F.explode("__toks").alias("term"))
    if terms is not None:
        occurrences = occurrences.join(F.broadcast(terms), on="term")
    return occurrences.groupBy("doc_id", "term", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )


def bm25_query_terms(
    queries: DataFrame, *, query_id_col: str = "query_id", query_text_col: str = "query"
) -> DataFrame:
    """(query_id, term): the distinct terms of each query."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_tokens(F.col(query_text_col)))).alias("term"),
    )


def bm25_corpus_stats(docs: DataFrame, dl: Column) -> Column:
    """N and avgdl of ``docs`` (``dl`` its length column) as ONE scalar
    subquery column, struct-packed so the subquery is referenced exactly
    once; coalesce covers the empty corpus (e.g. a filtered DocumentStore
    subset): no rows can score, but the plan must still build — any finite
    avgdl works."""
    return docs.agg(
        F.struct(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.coalesce(F.avg(dl), F.lit(1.0)).alias("__avgdl"),
        ).alias("__stats")
    ).scalar()


def bm25_idf(n: Column, df: Column) -> Column:
    """idf = ln(1 + (N - df + 0.5)/(df + 0.5)) of a term found in ``df`` of
    ``n`` docs."""
    return F.log(1.0 + (n - df + 0.5) / (df + 0.5))


def bm25_term_score(
    idf: Column, tf: Column, dl: Column, avgdl: Column, *, k1: float = 1.2, b: float = 0.75
) -> Column:
    """One query term's BM25 score in one doc: idf·tf·(k1+1) / (tf +
    k1·(1 - b + b·dl/avgdl)).  A doc's score is the sum over the query's
    distinct terms, rounded to 6 places."""
    return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))


def bm25_rank(
    postings: DataFrame,
    qterms: DataFrame,
    stats: Column,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The BM25 scoring step: top-k docs per query, (query_id, doc_id,
    score, rank), from the ``bm25_postings`` of a corpus restricted to the
    query terms, the ``bm25_query_terms`` and the ``bm25_corpus_stats`` of
    that corpus.

    score = Σ_t ``bm25_term_score`` with ``bm25_idf``, rounded to 6 places.
    Deterministic tie-break on doc_id.
    """
    # df per query term from the restricted postings — identical to the
    # full-index df for those terms, without the full-index groupBy.  The
    # stats attach as a scalar subquery column, not a crossJoin with a
    # 1-row frame: no BroadcastNestedLoopJoin on the per-term idf build
    # (plans/r15/q_bm25_{before,after}.txt).
    idf = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("__stats", stats)
        .select(
            "term",
            bm25_idf(F.col("__stats.__n"), F.col("df")).alias("idf"),
            F.col("__stats.__avgdl").alias("__avgdl"),
        )
    )
    scored = (
        postings.join(F.broadcast(idf), on="term")
        .join(F.broadcast(qterms), on="term")
        .withColumn(
            "s",
            bm25_term_score(
                F.col("idf"), F.col("tf"), F.col("dl"), F.col("__avgdl"), k1=k1, b=b
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 docs per query: (query_id, doc_id, score, rank) — the
    postings of the query terms, then ``bm25_rank``."""
    qterms = bm25_query_terms(
        queries, query_id_col=query_id_col, query_text_col=query_text_col
    )
    # feeds BOTH the df aggregation and the score join; tiny after the
    # term filter, so the materialization is near-free
    tf_q = bm25_postings(
        docs, id_col=id_col, text_col=text_col, terms=qterms.select("term").distinct()
    ).localCheckpoint(eager=True)
    # N and avgdl: ONE corpus-scan 1-row agg folded into the job — no
    # driver collects, one fewer corpus scan than count()/avg() jobs
    toks = _ensure_parallelism(docs).select(_tokens(F.col(text_col)).alias("__toks"))
    stats = bm25_corpus_stats(toks, F.size("__toks"))
    return bm25_rank(tf_q, qterms, stats, k=k, k1=k1, b=b)


def fuzzy_match_tables(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str = "id",
    left_text: str = "text",
    right_id: str = "id",
    right_text: str = "text",
    min_score: float = 0.0,
    exclude_same_id: bool = False,
) -> DataFrame:
    """Best fuzzy match per left row — reference fuzzy_match_tables
    (_fuzzy_join.py:106): idf-weighted shared-token scoring.

    Returns (left_id, right_id, score): for each left row the right row with
    the highest Σ 1/(#left-occurrences × #right-occurrences)-weighted token
    overlap (rarer tokens count more), ties broken by right_id.

    >>> l = spark.createDataFrame([(1, "apache spark engine")], "id long, text string")
    >>> r = spark.createDataFrame(
    ...     [(7, "spark engine"), (8, "postgres db")], "id long, text string")
    >>> [(x["left_id"], x["right_id"]) for x in fuzzy_match_tables(l, r).collect()]
    [(1, 7)]
    """
    # each token table feeds BOTH its weight aggregation and the pair join —
    # checkpoint so tokenization runs once per side
    lt = _ensure_parallelism(left).select(
        F.col(left_id).alias("lid"), F.explode(F.array_distinct(_tokens(F.col(left_text)))).alias("term")
    ).localCheckpoint(eager=True)
    rt = _ensure_parallelism(right).select(
        F.col(right_id).alias("rid"), F.explode(F.array_distinct(_tokens(F.col(right_text)))).alias("term")
    ).localCheckpoint(eager=True)
    lweight = lt.groupBy("term").agg(F.count(F.lit(1)).alias("lc"))
    rweight = rt.groupBy("term").agg(F.count(F.lit(1)).alias("rc"))
    pair_scores = (
        lt.join(rt, on="term")
        .join(lweight, on="term")
        .join(rweight, on="term")
        .withColumn("w", 1.0 / (F.col("lc") * F.col("rc")))
        .groupBy("lid", "rid")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .filter(F.col("score") > min_score)
    )
    if exclude_same_id:
        # self-match: drop identity pairs BEFORE best-per-left selection,
        # otherwise every row's best match is itself
        pair_scores = pair_scores.filter(F.col("lid") != F.col("rid"))
    best = pair_scores.groupBy("lid").agg(
        F.max_by(F.struct(F.col("rid"), F.col("score")), F.struct(F.col("score"), -F.col("rid"))).alias(
            "m"
        )
    )
    return best.select(
        F.col("lid").alias("left_id"),
        F.col("m.rid").alias("right_id"),
        F.col("m.score").alias("score"),
    )
