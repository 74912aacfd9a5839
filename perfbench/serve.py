"""The serve_retrieve workload: two client threads send a fixed, seeded
mix of requests to a ``VectorStoreServer`` over HTTP through
``VectorStoreClient``: unfiltered BM25 retrieval, metadata-filtered
retrieval and ``/v1/statistics``.  Query texts repeat with a Zipf skew, so
requests share work that an index or result cache could reuse.

The timed work is a fixed number of requests, not ``--seconds`` of them:
one retrieval takes 3-5 s on a 4-core host, so a time-bounded loop would
count only two or three.  Every retrieval answer is compared, as the sorted
list of ``dist`` values, with the answer of one batch
``DocumentStore.retrieve_query`` over all distinct requests of the run,
made during set-up, where it also warms the retrieval path.

A traced run then runs the streaming path (``stream.run``) for its
per-layer metrics, in the same engine.
"""

from __future__ import annotations

import threading
import time

import numpy as np

from gen import VOCAB
from harness import exec_metrics, median, tail

CLIENTS = 2
TEXTS = 8
FILTER_LANGS = ("en", "de")
# requests of each kind in the timed phase, and in the shorter traced phase
# that follows it in a traced run; the seed picks their order and texts (an
# even number of retrievals keeps both clients busy to the end)
MIX = (("retrieve", 2), ("filtered", 2), ("statistics", 1))
TRACED_MIX = (("retrieve", 1), ("filtered", 1), ("statistics", 1))
REQUESTS = sum(n for _, n in MIX)
TRACED_REQUESTS = sum(n for _, n in TRACED_MIX)
K = 3
DIRECT = 1  # distinct requests timed directly against the DocumentStore


def request_plan(seed: int) -> list[tuple[str, str, str | None]]:
    """(kind, query text, metadata filter) per request, in send order, for
    every phase of a run."""
    rng = np.random.default_rng([seed, 7])
    texts = [" ".join(rng.choice(VOCAB, size=3, replace=False)) for _ in range(TEXTS)]
    weights = 1.0 / np.arange(1, TEXTS + 1)
    plan = []
    for mix in (MIX, TRACED_MIX):
        kinds = [kind for kind, n in mix for _ in range(n)]
        # filters take the languages in turn, so every seed filters the same
        # share of the corpus
        langs = [FILTER_LANGS[j % len(FILTER_LANGS)] for j in range(len(kinds))]
        for i in rng.permutation(len(kinds)):
            text = texts[rng.choice(TEXTS, p=weights / weights.sum())]
            flt = f"lang == `{langs[i]}`" if kinds[i] == "filtered" else None
            plan.append((kinds[i], text, flt))
    return plan


def _docs(spark, inputs: str):
    import pyspark.sql.functions as F
    from pathwaydataframework_spark.data import load_df

    d = load_df(spark, inputs, "documents")
    meta = F.to_json(F.struct(
        "lang", "source",
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
    ))
    return d.select(F.col("text").alias("data"), meta.alias("_metadata")), d.count()


def _query_frame(spark, reqs):
    return spark.createDataFrame(
        [(i, q, K, f) for i, (_, q, f) in enumerate(reqs)],
        "query_id long, query string, k int, metadata_filter string",
    )


def _send(client, kind: str, query: str, flt: str | None):
    if kind == "statistics":
        return client.get_vectorstore_statistics()
    return client.query(query, k=K, metadata_filter=flt)


class Service:
    """A ``VectorStoreServer`` over the generated corpus and its clients."""

    def __init__(self, ctx):
        from pathwaydataframework_spark.xpacks.llm import VectorStoreClient, VectorStoreServer

        self.ctx = ctx
        self.plan = request_plan(ctx.seed)
        self._next = 0
        t0 = time.perf_counter()
        docs, self.n_docs = _docs(ctx.spark, ctx.inputs)
        self.server = VectorStoreServer(docs)
        ctx.setup_part("document_store.build_s", time.perf_counter() - t0)
        self.server.run_server()
        self.clients = [VectorStoreClient(host=self.server.host, port=self.server.port,
                                          timeout=120) for _ in range(CLIENTS)]
        self.clients[0].get_vectorstore_statistics()  # the HTTP path answers

    def requests(self, n: int) -> tuple[list, float]:
        """Send the plan's next ``n`` requests from ``CLIENTS`` threads; each
        thread takes the next unsent request when its last one returns.
        Returns ([(plan index, latency, answer)], wall seconds)."""
        todo = iter(range(self._next, self._next + n))
        self._next += n
        lock = threading.Lock()
        results, errors = [], []
        tracer = self.ctx.tracer

        def client_loop(client):
            while True:
                with lock:
                    idx = next(todo, None)
                if idx is None:
                    return
                kind, q, f = self.plan[idx]
                with tracer.span(f"vector_store.{kind}", f"req{idx}"):
                    t = time.perf_counter()
                    try:
                        answer = _send(client, kind, q, f)
                    except Exception as exc:  # noqa: BLE001 — counted as a failure
                        errors.append(f"request {idx} ({kind}): {type(exc).__name__}: {exc}")
                        continue
                    results.append((idx, time.perf_counter() - t, answer))

        start = time.perf_counter()
        threads = [threading.Thread(target=client_loop, args=(c,)) for c in self.clients]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        wall = time.perf_counter() - start
        self.ctx.attempted += n
        for e in errors:
            self.ctx.fail(e)
        return results, wall

    def layers(self, results: list, jobs: int) -> dict:
        """The ``xpacks.llm`` per-layer metrics of traced ``results``, whose
        window saw ``jobs`` Spark jobs."""
        lat = [r[1] for r in results if self.plan[r[0]][0] != "statistics"]
        reqs = list(dict.fromkeys(self.plan[r[0]] for r in results
                                  if self.plan[r[0]][0] != "statistics"))[:DIRECT]
        tracer = self.ctx.tracer
        direct = []
        for i, req in enumerate(reqs):
            with tracer.span("document_store.retrieve", f"direct{i}"):
                t = time.perf_counter()
                self.server.store.retrieve_query(_query_frame(self.ctx.spark, [req])).first()
                direct.append(time.perf_counter() - t)
        return {
            "exec.jobs_per_request": jobs / max(len(results), 1),
            "vector_store.request_s": median(lat),
            "document_store.retrieve_s": median(direct),
            "vector_store.http_s": median(lat) - median(direct),
        }

    def batch_answers(self) -> None:
        """The batch ``retrieve_query`` answer to every distinct retrieval the
        run will send, as sorted dists."""
        sent = self.plan[:REQUESTS + (TRACED_REQUESTS if self.ctx.trace else 0)]
        distinct = list(dict.fromkeys(r for r in sent if r[0] != "statistics"))
        rows = self.server.store.retrieve_query(_query_frame(self.ctx.spark, distinct)).collect()
        self.expected = {distinct[r["query_id"]]: sorted(h["dist"] for h in r["result"])
                         for r in rows}

    def check(self, results: list) -> None:
        """Compare each HTTP answer with the batch answer to the same request."""
        ctx = self.ctx
        for idx, _, answer in results:
            req = self.plan[idx]
            if req[0] == "statistics":
                if answer.get("file_count") != self.n_docs:
                    ctx.fail(f"request {idx}: statistics {answer} vs {self.n_docs} documents")
                continue
            got = sorted(h["dist"] for h in answer)
            want = self.expected.get(req)
            if want is None or len(got) != len(want) or any(
                    abs(a - b) > 1e-6 for a, b in zip(got, want)):
                ctx.fail(f"request {idx} {req}: dists {got} vs batch {want}")

    def shutdown(self) -> None:
        self.server.shutdown()


def run(ctx) -> None:
    """The serve_retrieve workload: ``REQUESTS`` timed requests after the
    set-up; a traced run adds ``TRACED_REQUESTS`` traced ones and then the
    streaming pass."""
    ctx.start_spark()
    service = Service(ctx)
    try:
        # set-up: the batch answers, so the timed requests run warm
        t0 = time.perf_counter()
        service.batch_answers()
        ctx.setup_part("spark_session.warmup_s", time.perf_counter() - t0)
        ctx.setup_done()

        def phase(traced: bool, n: int):
            ctx.phase_start(traced)
            t_start = time.time()
            results, wall = service.requests(n)
            ctx.phase_end(traced)
            return results, wall, t_start, time.time()

        def retrieval_p50(results) -> float:
            return median([r[1] for r in results if service.plan[r[0]][0] != "statistics"])

        results, wall, _, _ = phase(False, REQUESTS)
        lat = [r[1] for r in results]
        p, tail_s, n = tail(lat)
        ctx.e2e(throughput_per_s=REQUESTS / wall)
        ctx.layer({"latency.p50_s": median(lat), "latency.tail_s": tail_s})
        ctx.note(f"{REQUESTS} requests in {wall:.3f} s, latency p50 {median(lat):.4f} s, "
                 f"p{p:g} {tail_s:.4f} s over {n} samples")
        if ctx.trace:
            tresults, twall, t_start, t_end = phase(True, TRACED_REQUESTS)
            ctx.overhead(retrieval_p50(tresults), retrieval_p50(results))
            store = ctx.status_store()
            jobs = [j for j in store.jobs() if t_start <= j.submit <= t_end]
            layer = exec_metrics(store, jobs, twall, TRACED_REQUESTS)
            ctx.tracer.enabled = True
            layer.update(service.layers(tresults, len(jobs)))
            ctx.tracer.enabled = False
            ctx.layer(layer)
            results += tresults
        service.check(results)
    finally:
        service.shutdown()
    if ctx.trace:
        import stream

        stream.run(ctx)
