"""The streaming path, the paper's incremental engine: per-layer metrics
only.  A traced ``serve_retrieve`` run ends with it (``run``), in the
already warm engine; no untraced run executes it, so it moves no
end-to-end metric.

Drain: a fixed seeded backlog of spool files runs through the plan
``with_watermark`` → tumbling ``windowby`` → ``reduce`` into
``write_changelog_parquet``, which reads and rewrites its keyed snapshot on
every micro-batch.

Live: then one generator thread feeds a ``ConnectorSubject`` at a fixed
event rate (open loop) through the same plan, written with
``write_foreach_batch`` in update mode into a sink that records when each
micro-batch is emitted.  Each event is stamped with ``created_at``, the time
it was due, and a seeded share arrives out of event-time order.  An event's
latency runs from ``created_at`` to the emission of the batch that first
counts it.

Checks: the live sink's final rows and the changelog snapshot each equal
the batch ``windowby`` over the same events, and folding the changelog's
``__diff__`` log reproduces the snapshot.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd

from gen import EVENT_TYPES
from harness import median, tail

RATE = 700  # events per second in the live phase, about half the drain throughput
TICK = 0.02  # the generator commits one spool file per tick
STEP_S = 0.1  # event time advances 0.1 s per event
WINDOW = "1 minute"
DELAY = "2 minutes"  # watermark delay; out-of-order events lag at most 60 s
LATE_SHARE = 0.1
LIVE_S = 2  # seconds of live traffic
BACKLOG_FILES = 8
BACKLOG_EVENTS = 8_000
DRAIN_FILES_PER_BATCH = 4  # two micro-batches, each rewriting the snapshot
KEY = ["_pw_window_start", "event_type"]
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, created_at double"
T0 = dt.datetime(2024, 1, 1)


def make_events(rng: np.random.Generator, n: int, first_id: int) -> list[dict]:
    """``n`` events with event time ``first_id + i`` steps, a seeded share
    shifted back by up to 60 s."""
    late = rng.random(n) < LATE_SHARE
    shift = np.where(late, rng.uniform(0, 60, n), 0.0)
    types = rng.choice(EVENT_TYPES, size=n)
    users = rng.integers(0, 150, n)
    values = np.round(rng.uniform(0.01, 490, n), 2)
    out = []
    for i in range(n):
        ts = T0 + dt.timedelta(seconds=round((first_id + i) * STEP_S - shift[i], 6))
        out.append({"event_id": first_id + i, "ts": ts.isoformat(), "user_id": int(users[i]),
                    "event_type": str(types[i]), "value": float(values[i])})
    return out


def windowed(table):
    """The plan under test: tumbling-window count and sum per event type."""
    import pathwaydataframework_spark as pw
    from pathwaydataframework_spark.internals import reducers as R

    out = table.windowby(pw.this.ts, window=pw.tumbling(WINDOW), instance=pw.this.event_type).reduce(
        n=R.count(), sum_value=R.sum(pw.this.value).num.round(6))
    return out.df.select(*KEY, "n", "sum_value")


def _keyed(pdf: pd.DataFrame) -> dict:
    return {(str(pd.Timestamp(r[0])), r[1]): (int(r[2]), round(float(r[3]), 6))
            for r in pdf[KEY + ["n", "sum_value"]].itertuples(index=False)}


def _expected(spark, events: list[dict]) -> dict:
    """The batch ``windowby`` over ``events``."""
    from pathwaydataframework_spark.internals.table import Table

    df = spark.createDataFrame(pd.DataFrame(events).drop(columns="created_at", errors="ignore"))
    df = df.selectExpr("event_id", "cast(ts as timestamp) as ts", "user_id", "event_type", "value")
    return _keyed(windowed(Table(df)).toPandas())


def _diff(got: dict, want: dict) -> list[str]:
    bad = [k for k in set(got) | set(want)
           if k not in got or k not in want or got[k][0] != want[k][0]
           or abs(got[k][1] - want[k][1]) > 1e-6]
    return [f"{k}: {got.get(k)} vs batch {want.get(k)}" for k in sorted(bad)[:3]]


def _spool(spool_dir: str, events: list[dict], files: int) -> None:
    """Write ``events`` as ``files`` committed spool files, in order."""
    from pathwaydataframework_spark.sources.python_connector import ConnectorSubject

    subject = ConnectorSubject()
    subject._spool = spool_dir
    os.makedirs(spool_dir, exist_ok=True)
    for chunk in np.array_split(np.arange(len(events)), files):
        for i in chunk:
            subject.next(**events[i], created_at=0.0)
        subject.commit()
        time.sleep(0.002)  # distinct modification times keep file order


def run(ctx) -> None:
    """Drain the backlog, then run the live phase, both traced, in the
    engine ``ctx`` already started; report the stream's per-layer metrics
    and check both outputs."""
    from pathwaydataframework_spark import monitoring, streaming
    from pathwaydataframework_spark.internals.table import Table
    from pathwaydataframework_spark.sources import python_connector

    spark, tracer = ctx.spark, ctx.tracer
    work = os.path.join(ctx.work_dir, "stream")
    backlog = make_events(np.random.default_rng([ctx.seed, 12]), BACKLOG_EVENTS, 2_000_000)
    live_events = make_events(np.random.default_rng([ctx.seed, 11]), int(RATE * LIVE_S), 1_000_000)

    class EventFeed(python_connector.ConnectorSubject):
        """Open-loop generator: commits the events due in each tick."""

        def __init__(self, events):
            super().__init__()
            self.events = events
            self.commit_s: list[float] = []
            self.late_s = 0.0

        def run(self):
            start = time.time()
            sent, tick = 0, 0
            while sent < len(self.events):
                tick += 1
                due = start + tick * TICK
                time.sleep(max(0.0, due - time.time()))
                upto = min(len(self.events), int(tick * TICK * RATE))
                for i in range(sent, upto):
                    self.events[i]["created_at"] = start + i / RATE
                    self.next(**self.events[i])
                sent = upto
                c0 = time.time()
                self.commit()
                c1 = time.time()
                self.commit_s.append(c1 - c0)
                tracer.add("sources.commit", "live-feed", c0, c1)
                self.late_s = max(self.late_s, c0 - due)

    def drain():
        """Run the backlog through the changelog sink; returns (seconds, path)."""
        spool = os.path.join(work, "drain", "spool")
        _spool(spool, backlog, BACKLOG_FILES)
        src = Table(spark.readStream.schema(SCHEMA)
                    .option("maxFilesPerTrigger", DRAIN_FILES_PER_BATCH).json(spool))
        path = os.path.join(work, "drain", "changelog")
        with tracer.span("streaming.drain", "drain"):
            t0 = time.perf_counter()
            q = streaming.write_changelog_parquet(
                Table(windowed(streaming.with_watermark(src, "ts", DELAY))), path, KEY,
                checkpoint=os.path.join(work, "drain", "ckpt"))
            q.awaitTermination()
        return time.perf_counter() - t0, path

    def live():
        """Run the live phase; returns (latencies, feed, query, emissions)."""
        emissions = []  # (batch id, emitted at, rows)

        def sink(batch_df, batch_id):
            t = time.time()
            rows = batch_df.collect()
            emitted = time.time()
            emissions.append((batch_id, emitted, rows))
            tracer.add("streaming.sink", f"live-b{batch_id}", t, emitted, rows=len(rows))

        feed = EventFeed(live_events)
        table = python_connector.read(spark, feed, schema=SCHEMA,
                                      spool_dir=os.path.join(work, "live", "spool"), autostart=False)
        plan = windowed(streaming.with_watermark(table, "ts", DELAY))
        q = streaming.write_foreach_batch(
            Table(plan), sink, checkpoint=os.path.join(work, "live", "ckpt"),
            trigger_available_now=False)
        while q.lastProgress is None:  # the first (empty) batch has run
            time.sleep(0.01)
        feed.start(os.path.join(work, "live", "spool")).join()
        q.processAllAvailable()
        q.stop()
        return _latencies(live_events, emissions), feed, q, emissions

    # the drain runs first, so the live phase finds the windowed plan compiled
    monitor = monitoring.attach(spark)
    tracer.enabled = True
    drain_s, path = drain()
    lat, feed, q, emissions = live()
    tracer.enabled = False
    time.sleep(0.5)  # listener events arrive asynchronously
    monitoring.detach(spark, monitor)

    prog = [e for e in monitor.metrics() if e["kind"] == "progress" and e["id"] == str(q.id)
            and e["numInputRows"] > 0]
    dur = [e["durationMs"] for e in prog]
    state = ((q.lastProgress or {}).get("stateOperators") or [{}])[0]
    log_rows = spark.read.parquet(path + "__log").count()
    p, tail_s, n = tail(lat)
    ctx.layer({
        "streaming.batch_s": median([d.get("triggerExecution", 0) / 1000 for d in dur]),
        "streaming.add_batch_s": median([d.get("addBatch", 0) / 1000 for d in dur]),
        "streaming.planning_s": median([d.get("queryPlanning", 0) / 1000 for d in dur]),
        "streaming.wal_s": median([(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
                                   for d in dur]),
        "streaming.rows_per_batch": median([e["numInputRows"] for e in prog]),
        "streaming.state_rows": state.get("numRowsTotal", 0),
        "streaming.state_bytes": state.get("memoryUsedBytes", 0),
        "streaming.backlog_files": BACKLOG_FILES,
        "streaming.changelog_rows": log_rows,
        "streaming.drain_rows_per_s": BACKLOG_EVENTS / drain_s,
        "streaming.event_latency_p50_s": median(lat),
        "streaming.event_latency_tail_s": tail_s,
        "sources.commit_s": median(feed.commit_s),
        "sources.gen_late_s": feed.late_s,
    })
    ctx.note(f"stream drain {BACKLOG_EVENTS} rows in {drain_s:.3f} s, changelog rows {log_rows}; "
             f"live {len(lat)} events at {RATE}/s, latency p50 {median(lat):.4f} s, "
             f"p{p:g} {tail_s:.4f} s over {n}; micro-batches {len(dur)}, "
             f"generator late {feed.late_s:.4f} s")

    ctx.attempted += len(live_events) + len(backlog)
    for msg in _diff(_final_rows(emissions), _expected(spark, live_events)):
        ctx.fail(f"live sink: {msg}")
    for msg in _check_changelog(spark, path, _expected(spark, backlog)):
        ctx.fail(f"changelog: {msg}")


def _latencies(events: list[dict], emissions) -> list[float]:
    """Per event: emission time of the batch whose count first includes it,
    minus ``created_at``.  Within one key, events reach the sink in
    ``created_at`` order, so a count rising from a to b covers the key's
    events a..b-1."""
    by_key: dict[tuple, list[float]] = {}
    window_s = 60
    for e in events:
        ts = dt.datetime.fromisoformat(e["ts"])
        start = T0 + dt.timedelta(seconds=((ts - T0).total_seconds() // window_s) * window_s)
        by_key.setdefault((start, e["event_type"]), []).append(e["created_at"])
    seen: dict[tuple, int] = {}
    lat = []
    for _, emitted, rows in sorted(emissions, key=lambda x: x[0]):
        for r in rows:
            key = (r["_pw_window_start"].replace(tzinfo=None), r["event_type"])
            created = sorted(by_key.get(key, []))
            lo = seen.get(key, 0)
            lat.extend(emitted - c for c in created[lo:r["n"]])
            seen[key] = max(lo, r["n"])
    return lat


def _final_rows(emissions) -> dict:
    last = {}
    for _, _, rows in sorted(emissions, key=lambda x: x[0]):
        for r in rows:
            last[(str(pd.Timestamp(r["_pw_window_start"]).tz_localize(None)), r["event_type"])] = (
                int(r["n"]), round(float(r["sum_value"]), 6))
    return last


def _check_changelog(spark, path: str, want: dict) -> list[str]:
    snap = spark.read.parquet(path).toPandas()
    problems = _diff(_keyed(snap), want)
    log = spark.read.parquet(path + "__log").toPandas()
    folded = log.groupby(KEY + ["n", "sum_value"], as_index=False)["__diff__"].sum()
    if not folded["__diff__"].isin([0, 1]).all():
        problems.append("a row's diffs do not fold to 0 or 1")
    live = folded[folded["__diff__"] == 1]
    problems += [f"log fold {m}" for m in _diff(_keyed(live), _keyed(snap))]
    return problems
