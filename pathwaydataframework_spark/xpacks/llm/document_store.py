"""DocumentStore — the reference's document indexing pipeline, batch-native.

Reference: ``xpacks/llm/document_store.py:32`` (DocumentStore: parse →
post-process → split → index, with ``retrieve_query`` / ``statistics_query``
/ ``inputs_query`` endpoints; SlidesDocumentStore:471 adds
``parsed_documents_query``).

Spark-first restatement: every pipeline stage is a lazy DataFrame transform
(the reference runs per-row UDF chains inside its dataflow engine):

- parse / post-process / split default to pure COLUMN EXPRESSIONS (utf-8
  decode, regexp cleaners, the array-slice chunker) — zero Python crossings,
  zero shuffles before the index;
- plain-Python parsers/splitters (langchain-style ``str -> list[(text,
  meta)]``, the reference's UDF contract) are accepted too and wrapped in
  ONE Arrow-batched mapInPandas stage;
- the index is a corpus SNAPSHOT, built once per input version and probed
  by every query endpoint (the reference's index is a live in-RAM service
  the engine updates as documents change).  The snapshot is the chunk
  table (chunk_id, text, metadata, BM25 length ``dl``, and either the
  chunk's term → count map ``tf``, the BM25 forward index, or the
  embedding for vector retrievers), the parsed documents' metadata and
  the one-row statistics; the two tables are materialized with
  ``localCheckpoint`` on the executors.  Its version is
  the (path, mtime, size) of every input file of the doc frames, checked on
  every request: a changed file rebuilds the snapshot and releases the old
  one; a frame with no input files is immutable and keeps its snapshot.
  The check and the build run under a lock, so concurrent first requests
  build one snapshot;
- retrieval has two paths, chosen by what is asked, over the one forward
  index.  A frame of many queries is one distributed plan: BM25 explodes
  the chunks' ``tf`` maps into postings, keeps those of the query terms
  and scores them with ``ranking.bm25_rank``, the scoring step of
  ``ranking.bm25_scores``; vector retrievers scan the embedded chunks.
  One BM25 request (a mapping, as the REST route passes) scans the ``tf``
  maps in three Spark jobs: one aggregate for N, avgdl and the df of
  each query term, then one top-k scan scoring each chunk with those
  inlined as literals, with the same formula (``ranking.bm25_idf`` and
  ``ranking.bm25_term_score``) and tie-break.  Neither plan grows with
  the query's length.  Chunk ids are content-addressed, so the snapshot
  keeps one chunk per id: two documents of equal text and metadata are
  one chunk on both paths;
- metadata filtering: the reference evaluates a JMESPath string per row in
  Python (document_store.py:358,410).  Here the SAME filter grammar subset
  (``field == `lit```, ``!=``/``<``/``<=``/``>``/``>=``, ``contains(field,
  'x')``, ``globmatch('pat', path)``, ``&&``/``||``/``!``, parens) is
  TRANSLATED ONCE into a Catalyst boolean over the metadata JSON column and
  applied to the snapshot's frames, so it runs JVM-side.  Retrieval with a
  filter ranks over the FILTERED corpus (top-k among eligible chunks; BM25's
  N, avgdl and df are those of the filtered chunks), the contract of the
  reference's filtered index query.

Scale notes: queries are grouped by their merged filter string (read on the
driver with no Spark job for a local query frame, in one job otherwise —
the number of distinct filter strings is bounded by the number of query
templates, not query rows), and each group probes the snapshot once.  The
query terms broadcast to the chunks' exploded postings, so the corpus is
never shuffled per query; only the postings of the query terms are.  A
single request shuffles nothing but its aggregate's partial counts, at most
one row per query term and partition.
"""

from __future__ import annotations

import json
import re
import threading
from dataclasses import dataclass, replace
from functools import reduce
from typing import Callable, Iterable, Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Row

from pathwaydataframework_spark.internals.parquet import file_version
from pathwaydataframework_spark.internals.table import Table, local_frame
from pathwaydataframework_spark.operators import ranking
from pathwaydataframework_spark.operators.embedders import HashingEmbedder
from pathwaydataframework_spark.operators.ml_index import (
    BM25Index,
    KNNIndex,
    TantivyBM25Factory,
)

__all__ = [
    "DocumentStore",
    "SlidesDocumentStore",
    "translate_metadata_filter",
    "merge_filter_strings",
]


def _df(t) -> DataFrame:
    return t.df if isinstance(t, Table) else t


# --------------------------------------------------------------------------
# metadata-filter DSL → Catalyst expression


def _glob_to_regex(pattern: str) -> str:
    """Glob → anchored RE with ``**`` crossing '/' and ``*``/``?`` not —
    the semantics of the reference's jmespath ``globmatch`` custom function
    (wcmatch GLOBSTAR).  Plain fnmatch.translate would let ``*`` cross
    slashes, silently widening path filters."""
    out: list[str] = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            if pattern[i : i + 2] == "**":
                i += 2
                if pattern[i : i + 1] == "/":  # '**/' matches zero dirs too
                    out.append("(?:.*/)?")
                    i += 1
                else:
                    out.append(".*")
                continue
            out.append("[^/]*")
        elif c == "?":
            out.append("[^/]")
        elif c == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                out.append(re.escape(c))
            else:
                out.append(pattern[i : j + 1])
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


_FILTER_TOKEN = re.compile(
    r"""
    \s*(?:
      (?P<lparen>\()|(?P<rparen>\))|
      (?P<and>&&)|(?P<or>\|\|)|(?P<not>!(?!=))|
      (?P<op>==|!=|<=|>=|<|>)|
      (?P<contains>contains\s*\()|(?P<globmatch>globmatch\s*\()|
      (?P<comma>,)|
      (?P<backtick>`[^`]*`)|(?P<squote>'[^']*')|(?P<dquote>"[^"]*")|
      (?P<number>-?\d+(?:\.\d+)?)|
      (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.X,
)


class _FilterTranslator:
    """Recursive-descent translator for the JMESPath subset the reference
    documents for DocumentStore filters (document_store.py:358 — field
    comparisons against backtick literals, contains(), globmatch(), boolean
    combinators).  Produces one Catalyst boolean over the metadata JSON."""

    def __init__(self, expr: str, metadata: Column):
        self.toks: list[tuple[str, str]] = []
        pos = 0
        while pos < len(expr):
            m = _FILTER_TOKEN.match(expr, pos)
            if not m or m.end() == pos:
                raise ValueError(
                    f"unsupported metadata filter syntax at: {expr[pos:]!r}"
                )
            self.toks.append((m.lastgroup, m.group(m.lastgroup)))
            pos = m.end()
        self.i = 0
        self.meta = metadata

    def _peek(self) -> tuple[str | None, str | None]:
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def _next(self) -> tuple[str | None, str | None]:
        tok = self._peek()
        self.i += 1
        return tok

    def _expect(self, kind: str) -> str:
        k, v = self._next()
        if k != kind:
            raise ValueError(f"metadata filter: expected {kind}, got {v!r}")
        return v

    def _field(self, name: str) -> Column:
        # dotted names walk nested JSON objects, as in jmespath
        return F.get_json_object(self.meta, "$." + name)

    def _literal(self, kind: str | None, text: str | None):
        if kind == "number":
            return float(text) if "." in text else int(text)
        if kind not in ("backtick", "squote", "dquote"):
            raise ValueError(f"metadata filter: expected a literal, got {text!r}")
        body = text[1:-1]
        if kind == "backtick":  # jmespath literal: may be numeric or string
            try:
                return int(body)
            except ValueError:
                try:
                    return float(body)
                except ValueError:
                    return body.strip("'\"")
        return body

    def parse(self) -> Column:
        col = self._or()
        if self._peek()[0] is not None:
            raise ValueError("metadata filter: trailing tokens")
        return col

    def _or(self) -> Column:
        left = self._and()
        while self._peek()[0] == "or":
            self._next()
            left = left | self._and()
        return left

    def _and(self) -> Column:
        left = self._unary()
        while self._peek()[0] == "and":
            self._next()
            left = left & self._unary()
        return left

    def _unary(self) -> Column:
        kind, _ = self._peek()
        if kind == "not":
            self._next()
            return ~self._unary()
        if kind == "lparen":
            self._next()
            inner = self._or()
            self._expect("rparen")
            return inner
        return self._comparison()

    def _comparison(self) -> Column:
        kind, text = self._next()
        if kind == "contains":  # contains(field, 'needle')
            field = self._expect("ident")
            self._expect("comma")
            needle = self._literal(*self._next())
            self._expect("rparen")
            return self._field(field).contains(str(needle))
        if kind == "globmatch":  # globmatch('pattern', path_field)
            pattern = str(self._literal(*self._next()))
            self._expect("comma")
            field = self._expect("ident")
            self._expect("rparen")
            return self._field(field).rlike(_glob_to_regex(pattern))
        if kind != "ident":
            raise ValueError(f"metadata filter: expected a field name, got {text!r}")
        field = self._field(text)
        op = self._expect("op")
        lit = self._literal(*self._next())
        if isinstance(lit, (int, float)):
            # try_cast: a non-numeric field value compared to a numeric
            # literal is NULL (filter-false), not an ANSI job abort
            field = field.try_cast("double")
        ops = {
            "==": field.__eq__, "!=": field.__ne__, "<": field.__lt__,
            "<=": field.__le__, ">": field.__gt__, ">=": field.__ge__,
        }
        return ops[op](F.lit(lit))


def translate_metadata_filter(expr: str, metadata: Column) -> Column:
    """JMESPath-subset filter string → Catalyst boolean over a metadata
    JSON string column.

    >>> d = spark.createDataFrame([('{"owner": "alice", "size": 3}',)], "m string")
    >>> d.filter(translate_metadata_filter(
    ...     "owner == `alice` && size >= `2`", F.col("m"))).count()
    1
    """
    return _FilterTranslator(expr, metadata).parse()


def merge_filter_strings(
    metadata_filter: str | None, filepath_globpattern: str | None
) -> str | None:
    """Reference ``merge_filters`` (document_store.py:356): fold the glob
    pattern into the metadata filter as a globmatch(path) conjunct."""
    parts = []
    if metadata_filter:
        parts.append(f"({metadata_filter})")
    if filepath_globpattern:
        parts.append(f"globmatch('{filepath_globpattern}', path)")
    return " && ".join(parts) if parts else None


# --------------------------------------------------------------------------
# python-callable fallbacks (langchain/llamaindex-style parsers/splitters)


def _is_column_fn(fn: Callable) -> bool:
    """True if ``fn`` maps Column → Column (our operator style) rather than
    being a plain-Python row callable (the reference's UDF style).  Probed
    with a literal column — Column builders never touch data."""
    try:
        return isinstance(fn(F.lit("x")), Column)
    except Exception:
        return False


def _python_stage(fn: Callable, src: DataFrame, in_col: str) -> DataFrame:
    """Run a ``str|bytes -> list[(text, metadata_dict)]`` Python callable
    (the reference parser/splitter contract, document_store.py:56) as ONE
    Arrow-batched mapInPandas stage.  Returns (text, metadata) rows with
    per-part metadata merged over the inherited document metadata."""
    import json

    base = src.select(F.col(in_col).alias("__in"), F.col("metadata"))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            texts, extras, metas = [], [], []
            for raw, meta in zip(pdf["__in"], pdf["metadata"]):
                for part in fn(raw):
                    text, extra = part if isinstance(part, tuple) else (part, {})
                    texts.append(text)
                    extras.append(json.dumps(extra, sort_keys=True))
                    metas.append(meta)
            yield pd.DataFrame(
                {"text": texts, "__extra": extras, "metadata": metas}
            )

    out = base.mapInPandas(run, "text string, __extra string, metadata string")
    as_map = lambda c: F.coalesce(  # noqa: E731
        F.from_json(c, "map<string,string>"),
        F.create_map().cast("map<string,string>"),
    )
    merged = F.to_json(F.map_concat(as_map("metadata"), as_map("__extra")))
    return out.select("text", merged.alias("metadata"))


# --------------------------------------------------------------------------
# the corpus snapshot every query endpoint probes


def _input_version(frames: Sequence[DataFrame]) -> tuple:
    """The ``file_version`` of every file the doc frames read — their
    ``inputFiles()`` — after re-listing their file sources, so a file
    added, removed or rewritten since the last call changes the version.
    Frames with no input files add nothing: they are immutable."""
    files = []
    for frame in frames:
        leaves = frame._jdf.queryExecution().analyzed().collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                continue
            relation = leaf.relation()
            if relation.getClass().getSimpleName() == "HadoopFsRelation":
                relation.location().refresh()  # the listing is cached per frame
        files.extend(file_version(frame.sparkSession, frame.inputFiles()))
    return tuple(sorted(files))


def _unpersist(frame: DataFrame) -> None:
    """Drop a ``localCheckpoint`` frame's blocks from the executors (its
    plan is one LogicalRDD)."""
    frame._jdf.queryExecution().analyzed().rdd().unpersist(False)


@dataclass(frozen=True)
class _Snapshot:
    """The store's corpus at one input version, materialized on the
    executors (never collected to the driver, except the one stats row).

    ``chunks``: chunk_id, text, metadata, dl (BM25 length in tokens) and,
    for BM25, ``tf``, the chunk's term → count map, or, for vector
    retrievers, the chunk embedding.  ``tf`` is the snapshot's one BM25
    index: one request scans it, a frame of queries explodes it into
    postings.  ``docs``: the metadata of each parsed document.  ``stats``:
    one local row — file_count, last_modified, last_indexed."""

    version: tuple
    chunks: DataFrame
    docs: DataFrame
    stats: DataFrame

    def where(self, keep: Column) -> "_Snapshot":
        """The snapshot restricted to the chunks and documents whose
        metadata satisfies ``keep``."""
        return replace(self, chunks=self.chunks.filter(keep), docs=self.docs.filter(keep))

    def release(self) -> None:
        """Drop the checkpointed blocks from the executors."""
        _unpersist(self.chunks)
        _unpersist(self.docs)


class _SnapshotBM25(BM25Index):
    """A BM25Index over a snapshot's chunks that ranks from their forward
    index with ``ranking.bm25_rank`` instead of re-tokenizing the chunks
    per query: the ``tf`` maps of the chunks, already restricted to the
    group's metadata filter, explode into postings.  N, avgdl and df are
    therefore those of the filtered corpus, as in ``bm25_scores`` over the
    filtered chunks."""

    def __init__(self, chunks: DataFrame):
        super().__init__(chunks, id_col="chunk_id", text_col="text")

    def query(self, queries: DataFrame, k: int = 10, *, query_id_col: str = "query_id",
              query_text_col: str = "query") -> DataFrame:
        qterms = ranking.bm25_query_terms(
            queries, query_id_col=query_id_col, query_text_col=query_text_col
        )
        postings = self._docs.select(
            F.col("chunk_id").alias("doc_id"), "dl", F.explode("tf").alias("term", "tf")
        )
        # a semi join needs no distinct terms, so no shuffle of the queries
        tf_q = postings.join(F.broadcast(qterms), on="term", how="left_semi")
        stats = ranking.bm25_corpus_stats(self._docs, F.col("dl"))
        return ranking.bm25_rank(tf_q, qterms, stats, k=k)


def _bm25_probe(chunks: DataFrame, query: str, k: int) -> list[Row]:
    """The top-``k`` BM25 hits of one query, (score, chunk_id, text,
    metadata), from a snapshot's forward index restricted to the eligible
    ``chunks``, in two Spark actions whose plans do not grow with the
    query.  The query is one literal, tokenized as the frame path does
    (``ranking._tokens``).  The first action, one grouped aggregate, counts
    every chunk under a NULL term (N and avgdl) and every chunk holding a
    query term under that term (its df).  The second scores each chunk
    with one aggregate over the found (term, df) pairs, passed as one JSON
    literal, with N and avgdl inlined: a TakeOrderedAndProject job.  Each
    chunk costs one map lookup per query term.  The formula is
    ``ranking.bm25_idf`` and ``ranking.bm25_term_score``, summed and
    rounded, with ties broken on chunk_id, as in ``ranking.bm25_rank``."""
    tf, dl = F.col("tf"), F.col("dl")
    terms = F.array_distinct(ranking._tokens(F.lit(query)))
    held = F.filter(terms, lambda t: tf[t].isNotNull())
    groups = (
        chunks.select(dl, F.explode(F.concat(F.array(F.lit(None).cast("string")), held)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.avg(dl), F.lit(1.0)).alias("avgdl"))
        .collect()
    )
    dfs = sorted((g["term"], g["n"]) for g in groups if g["term"] is not None)
    if not dfs:
        return []
    n, avgdl = next((float(g["n"]), g["avgdl"]) for g in groups if g["term"] is None)
    found = F.from_json(
        F.lit(json.dumps([{"term": t, "df": df} for t, df in dfs])),
        "array<struct<term:string,df:long>>",
    )

    def add(score: Column, e: Column) -> Column:
        s = ranking.bm25_term_score(
            ranking.bm25_idf(F.lit(n), e["df"]), tf[e["term"]], dl, F.lit(avgdl))
        return score + F.coalesce(s, F.lit(0.0))

    score = F.aggregate(found, F.lit(0.0), add)
    return (
        chunks.filter(F.exists(found, lambda e: tf[e["term"]].isNotNull()))
        .select(F.round(score, 6).alias("score"), "chunk_id", "text", "metadata")
        .orderBy(F.col("score").desc(), "chunk_id")
        .limit(k)
        .collect()
    )


def _nulls_first(values: tuple) -> tuple:
    """A sort key ordering ``values`` as Spark orders a struct ascending."""
    return tuple((v is not None, v) for v in values)


# --------------------------------------------------------------------------


class DocumentStore:
    """Reference DocumentStore (document_store.py:32) on Spark.

    Args:
        docs: DataFrame(s) with a ``data`` column (binary or string) and an
            optional ``_metadata`` column (JSON string or map) — the same
            contract as reference binary connectors with ``with_metadata``.
        retriever_factory: any ml_index factory — vector factories index
            the embedded chunks; ``TantivyBM25Factory`` indexes chunk text.
            Defaults to full-text BM25, the only retriever needing no
            embedding model.
        parser: None (utf-8 decode), a Column→Column expression builder
            (e.g. ``operators.parsers.strip_html``), or a plain
            ``bytes -> list[(text, meta)]`` Python callable.
        splitter: None (one chunk per doc), a Column→Column chunk-array
            builder (e.g. ``splitters.TokenCountSplitter``), or a plain
            ``str -> list[(text, meta)]`` Python callable.
        doc_post_processors: Column→Column text cleaners, or plain
            ``(text, meta) -> (text, meta)`` callables.
        embedder: Column→Column embedding builder for vector retrievers
            (default ``HashingEmbedder(dim)``).
    """

    def __init__(
        self,
        docs: DataFrame | Table | Iterable[DataFrame | Table],
        retriever_factory=None,
        parser: Callable | None = None,
        splitter: Callable | None = None,
        doc_post_processors: Sequence[Callable] | None = None,
        *,
        embedder: Callable[[Column], Column] | None = None,
        dim: int = 64,
    ):
        if isinstance(docs, (DataFrame, Table)):
            docs = [docs]
        self._doc_frames = [_df(d) for d in docs]
        if not self._doc_frames:
            raise ValueError(
                "Provide at least one data source, e.g. "
                "pw.io.fs.read(path, format='binary', with_metadata=True)"
            )
        self.retriever_factory = retriever_factory or TantivyBM25Factory()
        self.parser = parser
        self.splitter = splitter
        self.doc_post_processors = list(doc_post_processors or [])
        self.embedder = embedder or HashingEmbedder(dim=dim)
        self._lock = threading.Lock()
        self._snap: _Snapshot | None = None
        self.build_pipeline()

    # -- pipeline stages (each overridable, mirroring the reference) -------

    def _clean_tables(self) -> DataFrame:
        parts = []
        for d in self._doc_frames:
            if "_metadata" not in d.columns:
                d = d.withColumn("_metadata", F.lit("{}"))
            meta = F.col("_metadata")
            if dict(d.dtypes)["_metadata"] != "string":
                meta = F.to_json(meta)
            parts.append(d.select(F.col("data"), meta.alias("metadata")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def parse_documents(self, input_docs: DataFrame) -> DataFrame:
        """(data, metadata) → (doc_id, text, metadata); doc ids are
        content-addressed (xxhash64) like every id in this engine."""
        if self.parser is not None and not _is_column_fn(self.parser):
            parsed = _python_stage(self.parser, input_docs, "data")
        else:
            data = F.col("data")
            text = (
                self.parser(data)
                if self.parser is not None
                else F.coalesce(data.cast("string"), F.lit(""))
            )
            parsed = input_docs.select(text.alias("text"), F.col("metadata"))
        return parsed.select(
            F.xxhash64("text", "metadata").alias("doc_id"), "text", "metadata"
        )

    def post_process_docs(self, parsed_docs: DataFrame) -> DataFrame:
        out = parsed_docs
        for proc in self.doc_post_processors:
            if _is_column_fn(proc):
                out = out.withColumn("text", proc(F.col("text")))
            else:
                def lifted(raw, _fn=proc):  # (text, meta) -> (text, meta)
                    text, meta = _fn(raw, {})
                    return [(text, meta)]

                out = _python_stage(lifted, out, "text")
        # re-derive ids after any text rewriting
        return out.select(
            F.xxhash64("text", "metadata").alias("doc_id"), "text", "metadata"
        )

    def split_docs(self, post_processed_docs: DataFrame) -> DataFrame:
        """(doc_id, text, metadata) → (chunk_id, doc_id, chunk_idx, text,
        metadata)."""
        if self.splitter is None:
            chunks = post_processed_docs.select(
                "doc_id",
                F.lit(0).cast("long").alias("chunk_idx"),
                "text",
                "metadata",
            )
        elif _is_column_fn(self.splitter):
            chunks = post_processed_docs.select(
                "doc_id",
                F.posexplode(self.splitter(F.col("text"))).alias(
                    "chunk_idx", "__chunk"
                ),
                "metadata",
            ).select(
                "doc_id",
                F.col("chunk_idx").cast("long").alias("chunk_idx"),
                F.col("__chunk").alias("text"),
                "metadata",
            )
        else:
            split = _python_stage(self.splitter, post_processed_docs, "text")
            # python splitters cross mapInPandas without the id; re-derive a
            # doc id from the (merged) metadata + a zero idx per part row
            chunks = split.select(
                F.xxhash64("metadata").alias("doc_id"),
                F.lit(0).cast("long").alias("chunk_idx"),
                "text",
                "metadata",
            )
        return chunks.select(
            F.xxhash64("doc_id", "chunk_idx", "text").alias("chunk_id"),
            "doc_id",
            "chunk_idx",
            "text",
            "metadata",
        )

    def build_pipeline(self) -> None:
        self.input_docs = self._clean_tables()
        self.parsed_docs = self.parse_documents(self.input_docs)
        self.post_processed_docs = self.post_process_docs(self.parsed_docs)
        self.chunked_docs = self.split_docs(self.post_processed_docs)

    # -- the snapshot -------------------------------------------------------

    def _snapshot(self) -> _Snapshot:
        """The corpus snapshot of the current input version, built on the
        first call and again whenever an input file changes (the old one
        is released).  The check and the build run under the store's lock,
        so concurrent first requests build it once."""
        with self._lock:
            version = _input_version(self._doc_frames)
            if self._snap is None or self._snap.version != version:
                old, self._snap = self._snap, self._build_snapshot(version)
                if old is not None:
                    old.release()
            return self._snap

    def _build_snapshot(self, version: tuple) -> _Snapshot:
        text = F.col("text")
        cols = ["chunk_id", "text", "metadata", ranking.bm25_doc_length(text).alias("dl")]
        bm25 = isinstance(self.retriever_factory, TantivyBM25Factory)
        if not bm25:
            cols.append(self.embedder(text).alias("embedding"))
        # a chunk id is content-addressed, so chunks sharing one (documents
        # of equal text and metadata) are one chunk: one hit, counted once
        chunks = self.chunked_docs.select(*cols).dropDuplicates(["chunk_id"])
        if bm25:
            # the forward index: the chunks' postings grouped back by chunk
            # (a chunk with a NULL text has none and keeps a NULL map)
            postings = ranking.bm25_postings(chunks, id_col="chunk_id", text_col="text")
            tf = postings.groupBy(F.col("doc_id").alias("chunk_id")).agg(
                F.map_from_entries(F.collect_list(F.struct("term", "tf"))).alias("tf")
            )
            chunks = chunks.join(tf, on="chunk_id", how="left")
        chunks = chunks.localCheckpoint(eager=True)
        docs = self.parsed_docs.select("metadata").localCheckpoint(eager=True)
        # the reference build_pipeline keeps the same running reduce
        # (document_store.py:315)
        meta = F.col("metadata")
        stats = docs.agg(
            F.count(F.lit(1)).alias("file_count"),
            F.max(F.get_json_object(meta, "$.modified_at").cast("long")).alias(
                "last_modified"
            ),
            F.max(F.get_json_object(meta, "$.seen_at").cast("long")).alias(
                "last_indexed"
            ),
        )
        stats = local_frame(docs.sparkSession, stats.collect(), stats.schema)
        return _Snapshot(version, chunks, docs, stats)

    @property
    def stats(self) -> DataFrame:
        """The one-row corpus statistics of the current snapshot, a local
        frame: (file_count, last_modified, last_indexed)."""
        return self._snapshot().stats

    # -- retrieval ----------------------------------------------------------

    def _retriever(self, snap: _Snapshot):
        """(retriever, indexed frame) over ``snap``'s chunks: BM25 over
        their term counts, or the factory's KNN index over their embeddings."""
        chunks = snap.chunks.drop("dl", "tf")
        factory = self.retriever_factory
        if isinstance(factory, TantivyBM25Factory):
            return _SnapshotBM25(snap.chunks), chunks
        kwargs = dict(factory.kwargs, id_col="chunk_id", vec_col="embedding")
        return KNNIndex(chunks, **kwargs), chunks

    def _retrieve_group(
        self, qgrp: DataFrame, snap: _Snapshot, k_max: int, query_id_col: str
    ) -> DataFrame:
        """Top-k_max hits for one filter group: (query_id, score, rank,
        text, metadata).  BM25 ranks the chunks' term counts by the query text;
        vector retrievers embed it with the store's embedder first."""
        inner, indexed = self._retriever(snap)
        if isinstance(inner, BM25Index):
            hits = inner.query(
                qgrp.select(query_id_col, "query"),
                k=k_max,
                query_id_col=query_id_col,
                query_text_col="query",
            ).withColumnRenamed("doc_id", "__hit_id")
        else:
            probes = qgrp.select(
                query_id_col, self.embedder(F.col("query")).alias("embedding")
            )
            hits = inner.get_nearest_items(
                probes, k=k_max, query_id_col=query_id_col,
                query_vec_col="embedding",
            )
            if query_id_col != "query_id":
                hits = hits.withColumnRenamed("query_id", query_id_col)
            hits = hits.withColumnRenamed("neighbor_id", "__hit_id")
        return hits.join(
            indexed.select(F.col("chunk_id").alias("__hit_id"), "text", "metadata"),
            on="__hit_id",
        ).select(query_id_col, "score", "rank", "text", "metadata")

    # -- query endpoints ----------------------------------------------------

    _EMPTY_RESULT = "array<struct<dist:double,text:string,metadata:string>>"

    @staticmethod
    def _merged_filter_col(queries: DataFrame) -> Column:
        cols = queries.columns
        mf = (
            F.col("metadata_filter")
            if "metadata_filter" in cols
            else F.lit(None).cast("string")
        )
        gp = (
            F.col("filepath_globpattern")
            if "filepath_globpattern" in cols
            else F.lit(None).cast("string")
        )
        return F.concat_ws(
            " && ",
            F.when(mf.isNotNull() & (mf != ""), F.concat(F.lit("("), mf, F.lit(")"))),
            F.when(
                gp.isNotNull() & (gp != ""),
                F.concat(F.lit("globmatch('"), gp, F.lit("', path)")),
            ),
        )

    def _filter_groups(self, queries: DataFrame) -> list[tuple[str, int | None]]:
        """DISTINCT (merged filter string, max k) pairs, bounded by the
        number of query templates, not query rows.  A local frame's rows
        are read on the driver with no Spark job; any other frame is
        grouped in ONE job."""
        k_col = F.col("k") if "k" in queries.columns else F.lit(None).cast("int")
        pairs = queries.select(self._merged_filter_col(queries).alias("f"), k_col.alias("k"))
        if queries.isLocal():
            ks: dict[str, list[int]] = {}
            for f, k in pairs.collect():
                ks.setdefault(f, [])
                if k is not None:
                    ks[f].append(k)
            return sorted((f, max(k, default=None)) for f, k in ks.items())
        rows = pairs.groupBy("f").agg(F.max("k").alias("k_max")).collect()
        return sorted((r["f"], r["k_max"]) for r in rows)

    def _per_group(
        self, queries: DataFrame, answer: Callable[..., DataFrame | None]
    ) -> DataFrame | None:
        """The per-filter-group loop of every query endpoint: the union of
        ``answer(group queries, snapshot restricted to the group's filter,
        max k)`` over the distinct merged filters, all on one snapshot.
        Groups answering None are left out; None when none answers.  Zero
        queries form one unfiltered empty group, so the answer keeps its
        schema."""
        snap = self._snapshot()
        merged_col = self._merged_filter_col(queries)
        outs = []
        for merged, k_max in self._filter_groups(queries) or [("", None)]:
            keep = (
                translate_metadata_filter(merged, F.col("metadata"))
                if merged else F.lit(True)
            )
            out = answer(queries.filter(merged_col == F.lit(merged)), snap.where(keep), k_max)
            if out is not None:
                outs.append(out)
        return reduce(DataFrame.unionByName, outs) if outs else None

    def _metadata_query(self, queries: DataFrame | Table, meta: Column) -> DataFrame:
        """Per query: the sorted ``meta`` of its filter's parsed documents."""

        def answer(qgrp, snap, _k):
            metas = snap.docs.select(meta.alias("m")).agg(
                F.sort_array(F.collect_list("m")).alias("result")
            )
            return qgrp.crossJoin(F.broadcast(metas))

        return self._per_group(_df(queries), answer)

    def retrieve_query(
        self,
        retrieval_queries: DataFrame | Table | Mapping,
        *,
        query_id_col: str = "query_id",
    ) -> DataFrame | list[Row]:
        """Top-k chunks per query: (query_id, result) where ``result`` is an
        array of {dist, text, metadata} structs sorted ascending by dist
        (dist = -score, as the reference returns, document_store.py:451).
        Queries carry ``query``, ``k`` and optional ``metadata_filter`` /
        ``filepath_globpattern`` columns (RetrieveQuerySchema:200).

        A frame of queries is answered by one distributed plan.  One
        request, a mapping with the same keys (the REST route's JSON body),
        is answered with its ``result`` list itself, read on the driver,
        since the route needs the hits there: this one endpoint serves both
        the batch API and ``/v1/retrieve``.  BM25 scans the snapshot's
        forward index in three Spark jobs (``_bm25_probe``); a vector
        retriever runs the frame path's group plan for one query."""
        if isinstance(retrieval_queries, Mapping):
            return self._retrieve_one(retrieval_queries)
        queries = _df(retrieval_queries)
        if "k" not in queries.columns:
            queries = queries.withColumn("k", F.lit(3))

        def answer(qgrp, snap, k_max):
            if k_max is None:
                return None
            hits = self._retrieve_group(qgrp, snap, int(k_max), query_id_col)
            hits = hits.join(
                F.broadcast(qgrp.select(query_id_col, "k")), on=query_id_col
            ).filter(F.col("rank") <= F.col("k"))
            return hits.select(
                query_id_col,
                F.struct(
                    (-F.col("score")).alias("dist"), F.col("text"), F.col("metadata")
                ).alias("__hit"),
            )

        hits = self._per_group(queries, answer)
        base = queries.select(query_id_col)
        if hits is None:
            return base.select(
                query_id_col, F.array().cast(self._EMPTY_RESULT).alias("result")
            )
        collected = hits.groupBy(query_id_col).agg(
            F.sort_array(F.collect_list("__hit")).alias("result")
        )
        # left join back so filtered-to-empty queries still answer []
        return base.join(collected, on=query_id_col, how="left").select(
            query_id_col,
            F.coalesce("result", F.array().cast(self._EMPTY_RESULT)).alias("result"),
        )

    def _retrieve_one(self, request: Mapping) -> list[Row]:
        """``retrieve_query``'s answer to one request (its docstring)."""
        merged = merge_filter_strings(
            request.get("metadata_filter"), request.get("filepath_globpattern")
        )
        keep = (  # parsed first: a filter the DSL rejects raises even for k <= 0
            translate_metadata_filter(merged, F.col("metadata")) if merged else F.lit(True)
        )
        k, query = request.get("k", 3), request.get("query", "")
        if not isinstance(k, int) or not isinstance(query, str):
            raise ValueError(f"k must be an integer and query a string, got {k!r}, {query!r}")
        if k <= 0:
            return []
        snap = self._snapshot().where(keep)
        if isinstance(self.retriever_factory, TantivyBM25Factory):
            hits = _bm25_probe(snap.chunks, query, k)
        else:
            probe = local_frame(
                self.chunked_docs.sparkSession, [(0, query)], "query_id long, query string"
            )
            hits = self._retrieve_group(probe, snap, k, "query_id").collect()
        return sorted(
            (Row(dist=-h["score"], text=h["text"], metadata=h["metadata"]) for h in hits),
            key=_nulls_first,
        )

    def statistics_query(self, info_queries: DataFrame | Table) -> DataFrame:
        """One result row per query with the snapshot's corpus statistics
        (reference statistics_query, document_store.py:323)."""
        q = _df(info_queries)
        return q.crossJoin(F.broadcast(self.stats)).select(
            *q.columns,
            F.struct("file_count", "last_modified", "last_indexed").alias("result"),
        )

    def inputs_query(self, input_queries: DataFrame | Table) -> DataFrame:
        """Per query: the metadata list of matching input documents
        (reference inputs_query, document_store.py:385)."""
        return self._metadata_query(input_queries, F.col("metadata"))

    @property
    def index(self):
        """The chunk-level retriever over the full (unfiltered) corpus
        snapshot — reference ``DocumentStore.index`` (document_store.py:466)."""
        from pathwaydataframework_spark.operators.ml_index import DataIndex

        inner, indexed = self._retriever(self._snapshot())
        return DataIndex(indexed, inner, id_col="chunk_id")


class SlidesDocumentStore(DocumentStore):
    """Reference SlidesDocumentStore (document_store.py:471) — adds the
    post-parsing metadata listing endpoint."""

    excluded_response_metadata = ["b64_image"]

    def parsed_documents_query(
        self, parse_docs_queries: DataFrame | Table
    ) -> DataFrame:
        meta = F.col("metadata")

        def _drop(key):  # bind key without adding a lambda parameter
            return lambda k, _v: k != F.lit(key)

        for key in self.excluded_response_metadata:
            # strip excluded keys JVM-side via a map round-trip
            meta = F.to_json(
                F.map_filter(F.from_json(meta, "map<string,string>"), _drop(key))
            )
        return self._metadata_query(parse_docs_queries, meta)
