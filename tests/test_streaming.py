"""Structured-Streaming smoke: file-source replay of the events fixture
through a watermarked tumbling-window aggregation matches the batch result.

This is the M6 foundation (SURVEY.md §7): ``readStream`` + ``withWatermark``
(= the reference's common_behavior cutoff) + windowed agg + availableNow
trigger, compared against the identical batch plan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pathwaydataframework_spark.data import load_df


def test_stream_window_agg_matches_batch(spark, sf_dir, tmp_path):
    batch_src = load_df(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    src_dir = str(tmp_path / "events_stream")
    batch_src.repartition(4).write.parquet(src_dir)  # 4 files ≈ 4 micro-batch splits

    def windowed(df):
        return (
            # watermark needs TIMESTAMP (LTZ); session tz is UTC so the cast
            # is value-preserving
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sv"))
            .select(
                F.col("window.start").alias("ws"), "event_type", "n", "sv"
            )
        )

    batch = {tuple(r) for r in windowed(spark.read.parquet(src_dir)).collect()}

    stream = spark.readStream.schema(batch_src.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    q = (
        windowed(stream)
        .writeStream.format("memory")
        .queryName("stream_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM stream_windows").collect()}
    assert got == batch


def _windowby_stream_vs_batch(spark, tmp_path, window, *, name, instance=None):
    """Run the SAME pw.windowby().reduce() plan over a batch read and a
    2-file stream replay of identical rows; return (batch_set, stream_set).
    Complete output mode: every window is in the final table, so equality
    is exact (no open-window subtraction needed)."""
    import datetime as dt

    import pathwaydataframework_spark as pw
    from pathwaydataframework_spark.internals import reducers as R

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i % 3, t0 + dt.timedelta(seconds=[0, 5, 12, 40, 44, 95, 100, 180][i % 8] + 200 * (i // 8)), float(i))
        for i in range(24)
    ]
    schema = "k long, ts timestamp_ntz, v double"
    src = str(tmp_path / f"wbs_{name}")
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(src)

    def plan(tbl):
        wb = tbl.windowby(
            pw.this.ts,
            window=window,
            instance=(pw.this.k if instance else None),
        ).reduce(n=R.count(), sv=R.sum(pw.this.v).num.round(6))
        cols = ["_pw_window_start", "_pw_window_end", "n", "sv"] + (
            ["k"] if instance else []
        )
        return wb.df.select(*cols)

    batch = {tuple(r) for r in plan(pw.Table(spark.read.parquet(src))).collect()}
    stream_df = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        plan(pw.Table(stream_df))
        .writeStream.format("memory")
        .queryName(f"wb_{name}")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql(f"SELECT * FROM wb_{name}").collect()}
    return batch, got


def test_windowby_tumbling_stream_matches_batch(spark, tmp_path):
    # the repo's OWN windowby operator (not raw F.window) replayed as a
    # stream must equal its batch output — r4 verdict item 7
    import pathwaydataframework_spark as pw

    batch, got = _windowby_stream_vs_batch(
        spark, tmp_path, pw.tumbling("30 seconds"), name="tumb", instance=True
    )
    assert got == batch and len(batch) > 3


def test_windowby_sliding_stream_matches_batch(spark, tmp_path):
    import pathwaydataframework_spark as pw

    batch, got = _windowby_stream_vs_batch(
        spark, tmp_path, pw.sliding("15 seconds", "45 seconds"), name="slide"
    )
    assert got == batch and len(batch) > 3


def test_windowby_session_gap_stream_matches_batch(spark, tmp_path):
    # session(max_gap) streams through F.session_window (update mode +
    # watermark); with the replay fully consumed, emitted closed sessions
    # must match the batch operator exactly minus sessions the watermark
    # never closed
    import datetime as dt

    import pathwaydataframework_spark as pw
    from pathwaydataframework_spark.internals import reducers as R

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (k, t0 + dt.timedelta(seconds=s), 1.0)
        for k in (0, 1)
        for s in (0, 5, 12, 60, 66, 200, 400)
    ]
    schema = "k long, ts timestamp, v double"
    src = str(tmp_path / "wbs_sess")
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(src)

    def plan(tbl):
        wb = tbl.windowby(
            pw.this.ts, window=pw.session(max_gap="20 seconds"), instance=pw.this.k
        ).reduce(n=R.count())
        return wb.df.select("_pw_window_start", "k", "n")

    batch = {tuple(r) for r in plan(pw.Table(spark.read.parquet(src))).collect()}
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 second")
    )
    q = (
        plan(pw.Table(stream_df))
        .writeStream.format("memory")
        .queryName("wb_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM wb_sess").collect()}
    # append mode never emits sessions the final watermark left open (at
    # most the latest session per key); everything emitted must be a batch
    # row, and each withheld row must be its key's LATEST session
    assert got <= batch and len(got) >= len(batch) - 2
    for row in batch - got:
        latest_start_for_key = max(r[0] for r in batch if r[1] == row[1])
        assert row[0] == latest_start_for_key
    assert len(batch) > 4


def _run_cutoff_pipeline(spark, src_dir, schema, watermarks, query_name):
    """File-replay: one watermarked tumbling agg in update mode; returns the
    max observed count for the earliest window."""
    from pathwaydataframework_spark.internals.table import Table
    from pathwaydataframework_spark.streaming import with_watermark

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    t = Table(stream)
    for delay in watermarks:
        t = with_watermark(t, "ts", delay)
    agg = (
        t.df.groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.sql(
        f"SELECT max(n) AS n FROM {query_name} WHERE ws = (SELECT min(ws) FROM {query_name})"
    ).first()
    return row["n"]


def test_behavior_cutoff_watermark_deviation(spark, tmp_path):
    """Executable pin of the documented behavior deviation (VERDICT r1 #9).

    Matches the reference: ``common_behavior(cutoff=c)`` drops events that
    arrive after the stream frontier passes window_end + c — lowered to
    ``withWatermark`` this is exactly what happens (the late event below is
    dropped with a 10-minute cutoff, kept with a 3-hour one).

    Differs from the reference: cutoff there is PER WINDOW OPERATOR
    (temporal_behavior.py:29 attaches to one windowby); a Spark watermark is
    per STREAMING INPUT — every stateful op downstream of the input shares
    one frontier, and stacking a second cutoff on the same lineage is a
    RUNTIME ERROR ("Redefining watermark is disallowed", asserted below).
    Two genuinely different cutoffs need two streaming queries."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    early = [(1, t0 + dt.timedelta(seconds=30))]
    frontier = [(2, t0 + dt.timedelta(hours=2))]
    frontier2 = [(4, t0 + dt.timedelta(hours=2, minutes=1))]
    late = [(3, t0 + dt.timedelta(seconds=60))]  # into the first window, late

    # the watermark filter engages one batch after the frontier commits
    # (batch N filters with the frontier of batch N-1), so the late row
    # rides in the THIRD micro-batch; file source orders batches by mtime
    src_dir = str(tmp_path / "cutoff_stream")
    schema = "event_id long, ts timestamp"
    spark.createDataFrame(early + frontier, schema).coalesce(1).write.parquet(src_dir)
    _time.sleep(1.1)
    spark.createDataFrame(frontier2, schema).coalesce(1).write.mode("append").parquet(src_dir)
    _time.sleep(1.1)
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(src_dir)

    # cutoff 10 min: frontier (t0+2h) − 10 min passes the first window's end
    # → the late event is dropped, first-window count stays 1
    assert _run_cutoff_pipeline(spark, src_dir, schema, ["10 minutes"], "cutoff_small") == 1
    # cutoff 3 h: frontier − 3 h is before the first window → late event kept
    assert _run_cutoff_pipeline(spark, src_dir, schema, ["3 hours"], "cutoff_large") == 2
    # per-input granularity: a second, different cutoff on the same lineage
    # is rejected by the engine — the reference's per-operator behaviors
    # have no one-query equivalent
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="[Rr]edefining watermark"):
        _run_cutoff_pipeline(
            spark, src_dir, schema, ["10 minutes", "3 hours"], "cutoff_chained"
        )


def test_deduplicate_stream_state_is_watermark_bounded(spark, sf_dir, tmp_path):
    """deduplicate_stream must use dropDuplicatesWithinWatermark so dedup
    state is evicted as keys age past the watermark (ADVICE r1: plain
    dropDuplicates(keys) never purges state)."""
    from pathwaydataframework_spark.internals.table import Table
    from pathwaydataframework_spark.streaming import deduplicate_stream

    batch_src = load_df(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    src_dir = str(tmp_path / "dedup_stream")
    batch_src.write.parquet(src_dir)
    stream = spark.readStream.schema(batch_src.schema).parquet(src_dir)

    out = deduplicate_stream(
        Table(stream), keys=["user_id"], time_col="ts", watermark="1 hour"
    )
    plan = out.df._jdf.queryExecution().logical().toString()
    assert "WithinWatermark" in plan

    q = (
        out.df.writeStream.format("memory")
        .queryName("dedup_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(DISTINCT user_id) c, count(*) n FROM dedup_stream_out").first()
    n_users = batch_src.select("user_id").distinct().count()
    assert got["c"] == n_users
    # within one micro-batch every user dedups to a single row
    assert got["n"] == n_users


def test_buffered_stage_two_cutoffs_one_pipeline(spark, tmp_path):
    """r3: per-operator _buffer/_forget granularity (reference
    table.py:666-725).  Two buffered_stage operators with DIFFERENT
    delay/cutoff thresholds coexist in one pipeline — the capability a
    single per-lineage withWatermark cannot express."""
    import datetime as dt
    import os

    from pathwaydataframework_spark.internals.table import Table
    from pathwaydataframework_spark.streaming import buffered_stage

    T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    src_dir = str(tmp_path / "src")
    rows = [
        (1, T0),                                # on time
        (2, T0 + dt.timedelta(minutes=1)),      # on time
        (3, T0 - dt.timedelta(minutes=30)),     # 31 min late
        (4, T0 + dt.timedelta(minutes=2)),      # on time; max_t driver
    ]
    schema = "k long, t timestamp_ntz"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src_dir)
    stream = Table(spark.readStream.schema(schema).parquet(src_dir))

    # stage 1: forget rows >10 min late, release immediately
    s1_dir = str(tmp_path / "s1")
    stage1, q1 = buffered_stage(
        stream, time_col="t", cutoff="10 minutes", state_dir=s1_dir,
        checkpoint=str(tmp_path / "cp1"),
    )
    q1.awaitTermination(120)
    # stage 2 (downstream of stage 1's spool): its OWN delay buffer — holds
    # rows within 1 minute of the stage's max time
    s2_dir = str(tmp_path / "s2")
    stage2, q2 = buffered_stage(
        stage1, time_col="t", delay="1 minutes", state_dir=s2_dir,
        checkpoint=str(tmp_path / "cp2"),
    )
    q2.awaitTermination(120)

    got1 = {r["k"] for r in spark.read.parquet(os.path.join(s1_dir, "out")).collect()}
    assert got1 == {1, 2, 4}  # k=3 forgotten by stage-1's 10-min cutoff

    got2 = {r["k"] for r in spark.read.parquet(os.path.join(s2_dir, "out")).collect()}
    assert got2 == {1, 2}  # k=4 (the max) held by stage-2's 1-min delay

    # late-but-within-cutoff arrival releases on the next batch
    spark.createDataFrame(
        [(5, T0 + dt.timedelta(minutes=3))], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)
    stage1b, q1b = buffered_stage(
        Table(spark.readStream.schema(schema).parquet(src_dir)),
        time_col="t", cutoff="10 minutes", state_dir=s1_dir,
        checkpoint=str(tmp_path / "cp1"),
    )
    q1b.awaitTermination(120)
    got1 = {r["k"] for r in spark.read.parquet(os.path.join(s1_dir, "out")).collect()}
    assert got1 == {1, 2, 4, 5}


def test_monitoring_listener_and_http_metrics(spark, tmp_path):
    """r3: pw.monitoring — StreamingQueryListener progress registry + the
    HTTP scrape endpoint (reference internals/monitoring.py +
    src/engine/http_server.rs)."""
    import json as _json
    import time as _time
    import urllib.request

    import pathwaydataframework_spark as pw

    mon = pw.monitoring.attach(spark)
    try:
        src = str(tmp_path / "mon_src")
        spark.createDataFrame([(1,), (2,), (3,)], "k long").write.parquet(src)
        q = (
            spark.readStream.schema("k long").parquet(src)
            .writeStream.format("memory").queryName("mon_rows")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        for _ in range(50):  # listener events are delivered asynchronously
            kinds = {e["kind"] for e in mon.metrics()}
            if "progress" in kinds:
                break
            _time.sleep(0.2)
        progress = [e for e in mon.metrics() if e["kind"] == "progress"]
        assert progress and sum(e["numInputRows"] for e in progress) == 3

        srv = mon.serve(port=0)
        url = f"http://127.0.0.1:{srv.server_port}"
        with urllib.request.urlopen(url + "/healthz", timeout=10) as r:
            assert r.read() == b"ok"
        with urllib.request.urlopen(url + "/metrics", timeout=10) as r:
            events = _json.loads(r.read())
        assert any(e["kind"] == "progress" for e in events)
    finally:
        pw.monitoring.detach(spark, mon)
    # stop() closes the listening socket: the port can be bound again
    import socket

    with socket.socket() as sock:
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        sock.bind(("127.0.0.1", srv.server_port))


def _behavior_stream_files(spark, tmp_path, name):
    """Three mtime-ordered files: the event payload, a 1-hour frontier, a
    2-hour frontier — the standard one-batch-lag replay shape used by
    test_behavior_cutoff_watermark_deviation."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp"
    src = str(tmp_path / name)
    f1 = [
        (1, t0),
        (2, t0 + dt.timedelta(seconds=10)),
        (3, t0 + dt.timedelta(seconds=40)),
        (4, t0 + dt.timedelta(seconds=100)),
    ]
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(5, t0 + dt.timedelta(hours=1))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(6, t0 + dt.timedelta(hours=2))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    return src, schema, t0


def _run_windowby_behavior(spark, src, schema, behavior, name, output_mode):
    """The repo's OWN windowby operator with an attached reference
    behavior, replayed file-by-file; returns the accumulated sink rows."""
    import pathwaydataframework_spark as pw
    import pyspark.sql.functions as F
    from pathwaydataframework_spark.internals import reducers as R

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    wb = pw.Table(stream).windowby(
        pw.this.ts, window=pw.tumbling("30 seconds"), behavior=behavior
    ).reduce(n=R.count())
    out = wb.df.select(F.col("_pw_window_start").alias("ws"), "n")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return [tuple(r) for r in spark.sql(f"SELECT ws, n FROM {name}").collect()]


def test_windowby_exactly_once_behavior_emits_each_window_once(spark, tmp_path):
    """exactly_once_behavior → append mode: every closed window appears
    EXACTLY once in the sink (no updates, no retractions), windows the
    frontier never passed are withheld — reference temporal_behavior.py:83
    semantics, hand-computed for the fixed replay."""
    import datetime as dt

    import pathwaydataframework_spark as pw

    src, schema, t0 = _behavior_stream_files(spark, tmp_path, "eo_stream")
    rows = _run_windowby_behavior(
        spark, src, schema, pw.exactly_once_behavior(), "eo_once", "append"
    )
    # emit-once: no window start may appear twice even though the replay
    # touches the first window in two different micro-batch frontiers
    starts = [ws for ws, _ in rows]
    assert len(starts) == len(set(starts)), rows
    assert sorted(rows) == [
        (t0, 2),  # events 1, 2
        (t0 + dt.timedelta(seconds=30), 1),  # event 3
        (t0 + dt.timedelta(seconds=90), 1),  # event 4
        (t0 + dt.timedelta(hours=1), 1),  # event 5 — closed by the 2 h frontier
        # event 6's window (2 h) is withheld: the frontier never passed it
    ], rows


def test_windowby_exactly_once_shift_delays_emission(spark, tmp_path):
    """exactly_once_behavior(shift=s) emits a window only once the frontier
    passes window_end + s: with s = 90 min the final 2 h frontier sits at
    effective event-time 30 min, so the 1 h window stays withheld while the
    sub-2-minute windows (all ends < 30 min) still emit exactly once."""
    import datetime as dt

    import pathwaydataframework_spark as pw

    src, schema, t0 = _behavior_stream_files(spark, tmp_path, "eos_stream")
    rows = _run_windowby_behavior(
        spark,
        src,
        schema,
        pw.exactly_once_behavior(shift="90 minutes"),
        "eo_shift",
        "append",
    )
    assert sorted(rows) == [
        (t0, 2),
        (t0 + dt.timedelta(seconds=30), 1),
        (t0 + dt.timedelta(seconds=90), 1),
    ], rows


def test_windowby_common_behavior_cutoff_drops_late_rows(spark, tmp_path):
    """common_behavior(cutoff=c) THROUGH the windowby operator itself (the
    existing deviation test drives a raw pipeline): a row arriving after
    the frontier passed its window's end + cutoff is dropped; a generous
    cutoff keeps it — reference temporal_behavior.py:29 late-data rule."""
    import datetime as dt
    import time as _time

    import pathwaydataframework_spark as pw

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp"
    src = str(tmp_path / "cb_stream")
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=5)), (2, t0 + dt.timedelta(hours=2))], schema
    ).coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(4, t0 + dt.timedelta(hours=2, minutes=1))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    # late: lands in the FIRST 30 s window, arrives after the 2 h frontier
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(seconds=20))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    def first_window_count(cutoff, name):
        rows = _run_windowby_behavior(
            spark,
            src,
            schema,
            pw.common_behavior(cutoff=cutoff),
            name,
            "update",
        )
        first = min(ws for ws, _ in rows)
        return max(n for ws, n in rows if ws == first)

    # cutoff 10 min: frontier (2 h) − 10 min is far past the first window →
    # the late row is dropped, the window's count stays 1
    assert first_window_count("10 minutes", "cb_small") == 1
    # cutoff 3 h: frontier − 3 h never reached the first window → kept
    assert first_window_count("3 hours", "cb_large") == 2


def test_streaming_crawl_front_end_three_batches(spark, tmp_path):
    """The crawl front-end as a REAL stream: three micro-batches of pages
    (maxFilesPerTrigger=1) through extract_links → dedup_by_url →
    per_key_topk → bloom_dedup inside foreachBatch, the bloom index
    folded forward per batch — first-occurrence-wins across the whole
    stream.  Survivors are checked against an independent Python replay
    of the same chain in actual arrival order (batches overlap, so
    cross-batch dedup does real work beyond the shared hub link)."""
    import os
    import shutil

    from pathwaydataframework_spark.operators import dedup, sampling, text
    from pathwaydataframework_spark.operators.parsers import extract_links

    n_chars = {d: (d * 37) % 101 + 1 for d in range(70)}
    batches = [list(range(0, 30)), list(range(20, 50)), list(range(40, 70))]

    src = tmp_path / "crawl_stream"
    src.mkdir()
    for i, ids in enumerate(batches):
        rows = [
            (
                d,
                n_chars[d],
                '<a href="https://hub.test/home?utm_source=x">h</a>'
                f'<a href="https://site{d % 5}.test/p{d}#f">p</a>',
            )
            for d in ids
        ]
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(
            rows, "doc_id long, n_chars long, html string"
        ).coalesce(1).write.parquet(str(stage))
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    M, K = 1 << 16, 7
    state = {
        "idx": dedup.build_bloom_index(
            spark.createDataFrame([], "key string"), "key", m_bits=M, k=K
        ),
        "arrivals": [],
        "survivors": [],
    }

    def handle(bdf, _epoch):
        links = bdf.select(
            "doc_id", "n_chars", F.explode(extract_links(F.col("html"))).alias("url")
        )
        deduped = text.dedup_by_url(links, tie_col="doc_id")
        quota = sampling.per_key_topk(
            deduped, "reg_domain", "n_chars", k=2, tie_col="doc_id"
        )
        kept = dedup.bloom_dedup(
            quota, None, "norm_url", index=state["idx"], m_bits=M, k=K,
            exact_confirm=False,
        )
        state["survivors"].extend(
            (r["doc_id"], r["norm_url"])
            for r in kept.select("doc_id", "norm_url").collect()
        )
        state["arrivals"].append(
            sorted(r["doc_id"] for r in bdf.select("doc_id").collect())
        )
        state["idx"] = dedup.update_bloom_index(
            state["idx"], quota, "norm_url", m_bits=M, k=K
        ).localCheckpoint()

    q = (
        spark.readStream.schema("doc_id long, n_chars long, html string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(state["arrivals"]) == 3

    # independent replay in the observed arrival order
    seen: set[str] = set()
    expected: list[tuple[int, str]] = []
    for ids in state["arrivals"]:
        best: dict[str, tuple[int, int, str]] = {}
        for d in ids:
            for url, site in (
                ("https://hub.test/home", "hub.test"),
                (f"https://site{d % 5}.test/p{d}", f"site{d % 5}.test"),
            ):
                if url not in best or d < best[url][0]:
                    best[url] = (d, n_chars[d], site)
        per_site: dict[str, list[tuple[int, int, str]]] = {}
        for url, (d, nc, site) in best.items():
            per_site.setdefault(site, []).append((-nc, d, url))
        quota_urls = [
            (d, url)
            for lst in per_site.values()
            for (_neg, d, url) in sorted(lst)[:2]
        ]
        expected.extend((d, u) for d, u in quota_urls if u not in seen)
        seen |= {u for _, u in quota_urls}

    assert sorted(state["survivors"]) == sorted(expected)
    # the shared hub link survives exactly once across the whole stream
    hub = [s for s in state["survivors"] if s[1] == "https://hub.test/home"]
    assert len(hub) == 1


def test_streaming_bpe_encode_three_batches(spark, tmp_path):
    """BPE encoding as a REAL stream (VERDICT r7 item 8): three
    overlapping micro-batches (maxFilesPerTrigger=1) through
    bpe_encode_incremental inside foreachBatch, the word→ids table
    folded forward per batch — the Bloom-index pattern applied to the
    distinct-word kernel.  Checks (a) streamed per-doc ids equal the
    one-shot batch bpe_encode over the same corpus, and (b) the Arrow
    crossing SHRINKS: each batch adds only its genuinely new word forms
    to the table, and a batch with no new forms adds zero."""
    import os
    import shutil

    from pathwaydataframework_spark.operators import bpe

    # batch 0 introduces w0..w9, batch 1 w10..w19, batch 2 reuses w0..w9
    def doc_text(d):
        return f"the table w{d % 20}"

    batches = [list(range(0, 10)), list(range(10, 20)), list(range(20, 30))]
    src = tmp_path / "bpe_stream"
    src.mkdir()
    for i, ids in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(
            [(d, doc_text(d)) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(stage))
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    vocab = {chr(97 + i): i for i in range(26)}
    for t in ("th", "the", "ta", "table", "w"):
        vocab[t] = len(vocab)

    state = {
        "table": bpe.bpe_word_table(spark),
        "docs": {},
        "table_sizes": [],
    }

    def handle(bdf, _epoch):
        enc, updated = bpe.bpe_encode_incremental(bdf, state["table"], vocab)
        for r in enc.collect():
            state["docs"][r["doc_id"]] = list(r["token_ids"])
        state["table"] = updated.localCheckpoint()
        state["table_sizes"].append(state["table"].count())

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert len(state["docs"]) == 30
    # (a) parity with the one-shot batch encode over the full corpus
    full = spark.createDataFrame(
        [(d, doc_text(d)) for ids in batches for d in ids],
        "doc_id long, text string",
    )
    expected = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpe.bpe_encode(full, vocab).collect()
    }
    assert state["docs"] == expected
    # (b) the table grows only by NEW forms: 'the','table' + w0..w9 = 12,
    # then +w10..w19 = 22, then +0 (batch 2 is all reused forms)
    assert state["table_sizes"] == [12, 22, 22]


def test_streaming_fetch_schedule_three_batches(spark, tmp_path):
    """Politeness pacing as a REAL stream: three micro-batches through
    schedule_fetches_incremental inside foreachBatch, the per-host
    counter table folded forward — a host's queue position carries
    ACROSS batches (batch 2's first URL for a 5-deep host gets seq 5),
    and offsets stay seq x the host's Crawl-delay over the whole
    stream."""
    import os
    import shutil

    from pathwaydataframework_spark.operators import text

    # host a.test appears in every batch (3+2+1 urls), b.test in 1 and 3
    batches = [
        [("a.test", f"https://a.test/{i}") for i in range(3)]
        + [("b.test", f"https://b.test/{i}") for i in range(2)],
        [("a.test", f"https://a.test/{i}") for i in range(3, 5)],
        [("a.test", "https://a.test/5"), ("b.test", "https://b.test/9")],
    ]
    src = tmp_path / "sched_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, "host string, url string").coalesce(
            1
        ).write.parquet(str(stage))
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    delays = spark.createDataFrame([("a.test", 4)], "host string, crawl_delay long")
    state = {"counts": text.host_fetch_counts(spark), "rows": [], "batches": 0}

    def handle(bdf, _epoch):
        sched, updated = text.schedule_fetches_incremental(
            bdf, state["counts"], delays, seed=2
        )
        state["rows"].extend(
            (r["host"], r["url"], r["fetch_seq"], r["fetch_offset_s"])
            for r in sched.collect()
        )
        state["counts"] = updated.localCheckpoint()
        state["batches"] += 1

    q = (
        spark.readStream.schema("host string, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert state["batches"] == 3

    per_host: dict = {}
    for h, u, seq, off in state["rows"]:
        per_host.setdefault(h, []).append((seq, off))
    # queue positions are contiguous 0..n-1 per host ACROSS the stream
    assert sorted(s for s, _ in per_host["a.test"]) == list(range(6))
    assert sorted(s for s, _ in per_host["b.test"]) == list(range(3))
    # offsets = seq * delay (a declares 4 s, b paces at the 1 s default)
    assert all(off == seq * 4.0 for seq, off in per_host["a.test"])
    assert all(off == seq * 1.0 for seq, off in per_host["b.test"])
    # final counter state equals total scheduled per host
    final = {
        r["host"]: r["n_scheduled"] for r in state["counts"].collect()
    }
    assert final == {"a.test": 6, "b.test": 3}
    # fetch_waves over the ACCUMULATED stream: wave ids are pure offset
    # arithmetic (stable under any batching since offsets carry across
    # batches), sizes count the whole wave
    acc = spark.createDataFrame(
        [(h, u, s, o) for h, u, s, o in state["rows"]],
        "host string, url string, fetch_seq long, fetch_offset_s double",
    )
    waves = {
        (r["host"], r["fetch_seq"]): (r["wave"], r["wave_size"])
        for r in text.fetch_waves(acc, 8.0).collect()
    }
    # a.test offsets 0,4,8,12,16,20 at window 8 -> waves 0,0,1,1,2,2
    assert [waves[("a.test", s)][0] for s in range(6)] == [0, 0, 1, 1, 2, 2]
    assert all(waves[("a.test", s)][1] == 2 for s in range(6))
    # b.test offsets 0,1,2 all land in wave 0, size 3
    assert all(waves[("b.test", s)] == (0, 3) for s in range(3))


def test_fetch_waves_incremental_straddling_wave(spark):
    """Accumulated wave sizes across micro-batches (VERDICT r9 item 7):
    a.test paces at 4 s, window 8 s, one URL per batch — so WAVE 0
    (offsets 0 and 4) STRADDLES batches 1 and 2.  The (host, wave, n)
    state folds forward: batch 2's emitted row carries the accumulated
    size 2 (not the batch-local 1), the final state equals the one-shot
    fetch_waves sizes over the whole stream, and NULL-host rows keep
    their batch-local size (the counter join is an equi-join)."""
    from pathwaydataframework_spark.operators import text

    delays = spark.createDataFrame(
        [("a.test", 4)], "host string, crawl_delay long"
    )
    batches = [
        [("a.test", "https://a.test/0"), ("b.test", "https://b.test/0"),
         ("b.test", "https://b.test/1"), (None, "https://x.test/0")],
        [("a.test", "https://a.test/1")],
        [("a.test", "https://a.test/2"), ("b.test", "https://b.test/2")],
    ]
    counts = text.host_fetch_counts(spark)
    wcounts = text.wave_counts_state(spark)
    emitted: list[dict] = []
    all_sched = []
    for rows in batches:
        bdf = spark.createDataFrame(rows, "host string, url string")
        sched, counts = text.schedule_fetches_incremental(
            bdf, counts, delays, seed=2
        )
        sched = sched.localCheckpoint()
        all_sched.append(sched)
        out, wcounts = text.fetch_waves_incremental(sched, wcounts, 8.0)
        emitted.append(
            {(r["host"], r["url"]): (r["wave"], r["wave_size"])
             for r in out.collect()}
        )
        counts = counts.localCheckpoint()
        wcounts = wcounts.localCheckpoint()
    # batch 1: a.test seq 0 (off 0) opens wave 0 at size 1; b.test seqs
    # 0,1 (offs 0,1) land in wave 0 at size 2; the NULL-host row keeps
    # its batch-local size
    assert emitted[0][("a.test", "https://a.test/0")] == (0, 1)
    assert emitted[0][("b.test", "https://b.test/0")] == (0, 2)
    assert emitted[0][(None, "https://x.test/0")][1] == 1
    # batch 2: a.test seq 1 (off 4) STILL lands in wave 0 — the row
    # carries the ACCUMULATED size 2, not the batch-local 1
    assert emitted[1][("a.test", "https://a.test/1")] == (0, 2)
    # batch 3: a.test seq 2 (off 8) opens wave 1; b.test seq 2 (off 2)
    # joins wave 0 at accumulated size 3
    assert emitted[2][("a.test", "https://a.test/2")] == (1, 1)
    assert emitted[2][("b.test", "https://b.test/2")] == (0, 3)
    # the final state equals the one-shot fetch_waves over the whole
    # accumulated schedule
    full = all_sched[0]
    for s in all_sched[1:]:
        full = full.unionByName(s)
    oneshot = {
        (r["host"], r["wave"]): r["wave_size"]
        for r in text.fetch_waves(full, 8.0).collect()
        if r["host"] is not None
    }
    state = {
        (r["host"], r["wave"]): r["n"] for r in wcounts.collect()
    }
    assert state == oneshot == {
        ("a.test", 0): 2, ("a.test", 1): 1, ("b.test", 0): 3,
    }


def test_streaming_pack_no_straddle_three_batches(spark, tmp_path):
    """Boundary-respecting packing as a REAL stream: three id-ordered
    micro-batches through pack_no_straddle_incremental in foreachBatch,
    the per-shard (next_seq, open_fill) state folded forward — the
    previous batch's open sequence keeps filling across the boundary,
    and the streamed layout equals the ONE-SHOT pack of the whole
    corpus exactly."""
    import os
    import shutil

    from pathwaydataframework_spark.operators import packing

    n_tok = {d: (d * 37) % 150 + 1 for d in range(90)}
    batches = [list(range(0, 30)), list(range(30, 60)), list(range(60, 90))]
    src = tmp_path / "pack_stream"
    src.mkdir()
    for i, ids in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(
            [(d, n_tok[d]) for d in ids], "doc_id long, n_tok long"
        ).coalesce(1).write.parquet(str(stage))
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    state = {"st": packing.pack_state(spark), "rows": {}, "batches": 0}

    def handle(bdf, _epoch):
        packed, updated = packing.pack_no_straddle_incremental(
            bdf, state["st"], "doc_id", "n_tok", 256, shards=4
        )
        for r in packed.collect():
            state["rows"][r["doc_id"]] = (
                r["shard"], r["seq_id"], r["start_offset"]
            )
        state["st"] = updated.localCheckpoint()
        state["batches"] += 1

    q = (
        spark.readStream.schema("doc_id long, n_tok long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert state["batches"] == 3 and len(state["rows"]) == 90

    # exact parity with the one-shot pack (id-ordered arrivals make the
    # concatenated per-shard batch order equal the sorted order)
    full = spark.createDataFrame(
        [(d, n_tok[d]) for ids in batches for d in ids], "doc_id long, n_tok long"
    )
    expected = {
        r["doc_id"]: (r["shard"], r["seq_id"], r["start_offset"])
        for r in packing.pack_no_straddle(
            full, "doc_id", "n_tok", 256, shards=4
        ).collect()
    }
    assert state["rows"] == expected
    # final state matches the one-shot fold's end state per shard
    final = {
        r["shard"]: (r["next_seq"], r["open_fill"])
        for r in state["st"].collect()
    }
    by_shard: dict = {}
    for d, (sh, seq, off) in expected.items():
        cur = by_shard.get(sh)
        if cur is None or (seq, off) > (cur[0], cur[1]):
            by_shard[sh] = (seq, off, n_tok[d])
    assert final == {
        sh: (seq, off + n) for sh, (seq, off, n) in by_shard.items()
    }


def test_streaming_pack_null_count_ends_batch(spark, tmp_path):
    """A NULL token count ending a micro-batch must not poison the pack
    state: the batch fold packs NULL as zero tokens, so the state delta
    must coalesce the count the same way — otherwise open_fill persists
    as NULL and the NEXT batch's fold crashes at int(NaN) (ADVICE r8)."""
    import os
    import shutil

    from pathwaydataframework_spark.operators import packing

    # the NULL-count doc is ALONE in its batch so the state's max struct
    # is necessarily the NULL-end one (the ADVICE repro shape)
    batches = [[(0, 10)], [(1, None)], [(2, 8)]]
    src = tmp_path / "pack_null_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, "doc_id long, n_tok long").coalesce(
            1
        ).write.parquet(str(stage))
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    state = {"st": packing.pack_state(spark), "rows": {}, "opens": []}

    def handle(bdf, _epoch):
        packed, updated = packing.pack_no_straddle_incremental(
            bdf, state["st"], "doc_id", "n_tok", 16, shards=1
        )
        for r in packed.collect():
            state["rows"][r["doc_id"]] = (r["seq_id"], r["start_offset"])
        state["st"] = updated.localCheckpoint()
        state["opens"].extend(
            r["open_fill"] for r in state["st"].collect()
        )

    q = (
        spark.readStream.schema("doc_id long, n_tok long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # the state never carries a NULL fill, and batch 2 folded fine
    assert all(o is not None for o in state["opens"])
    full = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, n_tok long"
    )
    expected = {
        r["doc_id"]: (r["seq_id"], r["start_offset"])
        for r in packing.pack_no_straddle(
            full, "doc_id", "n_tok", 16, shards=1
        ).collect()
    }
    assert state["rows"] == expected


def test_streaming_tokenize_to_train_chain(spark, tmp_path):
    """The full incremental tokenize-to-train pipeline in ONE
    foreachBatch (VERDICT r8 item 4): bpe_encode_incremental →
    pack_no_straddle_incremental with BOTH state frames (word table +
    pack state) folding forward per batch — composition is where
    state-ordering bugs live; the three single-stage 3-batch tests
    can't see them.  The accumulated layout materializes once at the
    end (sequences stay open across batch boundaries, so the writer
    runs over the whole packed stream) and must equal the one-shot
    bpe_encode(eos) → pack_no_straddle → materialize_sequences chain —
    token ids, real counts, doc_spans and all."""
    import os
    import shutil

    from pathwaydataframework_spark.operators import bpe, packing

    def doc_text(d):
        return f"the table w{d % 20}"

    batches = [list(range(0, 10)), list(range(10, 20)), list(range(20, 30))]
    src = tmp_path / "chain_stream"
    src.mkdir()
    for i, ids in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(
            [(d, doc_text(d)) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(stage))
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    vocab = {chr(97 + i): i for i in range(26)}
    for t in ("th", "the", "ta", "table", "w"):
        vocab[t] = len(vocab)
    EOS, CAP, SHARDS = 99, 16, 2

    state = {
        "wt": bpe.bpe_word_table(spark),
        "ps": packing.pack_state(spark),
        "enc": [],
        "layout": [],
        "batches": 0,
    }

    def handle(bdf, _epoch):
        enc, wt = bpe.bpe_encode_incremental(
            bdf, state["wt"], vocab, append_eos_id=EOS
        )
        enc = enc.localCheckpoint()
        packed, ps = packing.pack_no_straddle_incremental(
            enc, state["ps"], "doc_id", "n_tokens", CAP, shards=SHARDS
        )
        state["wt"] = wt.localCheckpoint()
        state["ps"] = ps.localCheckpoint()
        state["enc"].extend(
            (r["doc_id"], list(r["token_ids"]), r["n_tokens"])
            for r in enc.collect()
        )
        state["layout"].extend(
            (r["doc_id"], r["shard"], r["seq_id"], r["start_offset"],
             r["n_tokens"])
            for r in packed.collect()
        )
        state["batches"] += 1

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert state["batches"] == 3 and len(state["layout"]) == 30

    def seq_map(df):
        return {
            (r["shard"], r["seq_id"]): (
                list(r["token_ids"]),
                r["n_tokens"],
                [(s["doc_id"], s["off"], s["len"]) for s in r["doc_spans"]],
                r["oversized"],
            )
            for r in df.collect()
        }

    enc_all = spark.createDataFrame(
        state["enc"], "doc_id long, token_ids array<long>, n_tokens long"
    )
    layout_all = spark.createDataFrame(
        state["layout"],
        "doc_id long, shard long, seq_id long, start_offset long, "
        "n_tokens long",
    )
    streamed = seq_map(
        packing.materialize_sequences(
            enc_all, layout_all, max_tokens=CAP, pad_id=-1
        )
    )

    full = spark.createDataFrame(
        [(d, doc_text(d)) for ids in batches for d in ids],
        "doc_id long, text string",
    )
    enc_once = bpe.bpe_encode(full, vocab, append_eos_id=EOS)
    layout_once = packing.pack_no_straddle(
        enc_once, "doc_id", "n_tokens", CAP, shards=SHARDS
    )
    expected = seq_map(
        packing.materialize_sequences(
            enc_once, layout_once, max_tokens=CAP, pad_id=-1
        )
    )
    assert streamed == expected


def test_streaming_materialize_emits_closed_sequences(spark, tmp_path):
    """The streaming writer (materialize_sequences_incremental): each
    micro-batch emits exactly the sequences the fold CLOSED — whole,
    once, even when their documents arrived in earlier batches — the
    open tails carry forward in a shards×cap-bounded state, and
    emitted-per-batch ∪ final-flush equals the one-shot writer output
    exactly (ids, counts, spans)."""
    import os
    import shutil

    from pathwaydataframework_spark.operators import packing

    # deterministic token arrays; sizes force sequences to straddle
    # batch boundaries (cap 16, sizes cycle 5..9)
    def toks(d):
        n = d % 5 + 5
        return [d] * n

    batches = [list(range(0, 8)), list(range(8, 16)), list(range(16, 24))]
    src = tmp_path / "mat_stream"
    src.mkdir()
    for i, ids in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(
            [(d, len(toks(d)), toks(d)) for d in ids],
            "doc_id long, n_tok long, token_ids array<long>",
        ).coalesce(1).write.parquet(str(stage))
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    CAP, SHARDS = 16, 2
    state = {
        "ps": packing.pack_state(spark),
        "open": packing.open_rows_state(spark),
        "emitted": [],
        "per_batch": [],
    }

    def seq_key(r):
        return (
            (r["shard"], r["seq_id"]),
            (
                list(r["token_ids"]),
                r["n_tokens"],
                [(s["doc_id"], s["off"], s["len"]) for s in r["doc_spans"]],
            ),
        )

    def handle(bdf, _epoch):
        bdf = bdf.localCheckpoint()
        packed, ps = packing.pack_no_straddle_incremental(
            bdf.select("doc_id", "n_tok"), state["ps"], "doc_id", "n_tok",
            CAP, shards=SHARDS,
        )
        emitted, still_open = packing.materialize_sequences_incremental(
            packed, bdf.select("doc_id", "token_ids"), state["open"], ps,
            max_tokens=CAP, pad_id=-1,
        )
        rows = [seq_key(r) for r in emitted.collect()]
        state["per_batch"].append(len(rows))
        state["emitted"].extend(rows)
        state["ps"] = ps.localCheckpoint()
        state["open"] = still_open.localCheckpoint()

    q = (
        spark.readStream.schema(
            "doc_id long, n_tok long, token_ids array<long>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # flush the final open tails
    flushed = packing.materialize_sequences(
        state["open"].select("doc_id", "token_ids"),
        state["open"].select("doc_id", "shard", "seq_id", "start_offset"),
        max_tokens=CAP,
        pad_id=-1,
    )
    state["emitted"].extend(seq_key(r) for r in flushed.collect())

    # one-shot reference over the concatenated stream
    full = spark.createDataFrame(
        [(d, len(toks(d)), toks(d)) for ids in batches for d in ids],
        "doc_id long, n_tok long, token_ids array<long>",
    )
    layout = packing.pack_no_straddle(full, "doc_id", "n_tok", CAP, shards=SHARDS)
    expected = dict(
        seq_key(r)
        for r in packing.materialize_sequences(
            full, layout, max_tokens=CAP, pad_id=-1
        ).collect()
    )
    got = dict(state["emitted"])
    assert len(state["emitted"]) == len(got), "a sequence was emitted twice"
    assert got == expected
    # the stream emitted progressively, not everything in the flush
    assert sum(state["per_batch"]) > 0 and state["per_batch"][0] > 0


def test_incremental_chain_state_parquet_resume(spark, tmp_path):
    """Durable-state RESUME for the full incremental chain (VERDICT r9
    item 5): the 3-batch tests fold state via localCheckpoint within
    one session; the docstrings additionally claim the three state
    frames (BPE word table, pack state, open rows) are PERSISTABLE.
    Exercise that claim: after EVERY batch, write all three frames to
    parquet and reload them from disk (explicit-schema read — an empty
    frame's write leaves nothing to infer from), severing every
    in-memory lineage exactly like a process restart — and the resumed
    stream's emitted ∪ flushed sequences must still equal the one-shot
    bpe_encode(EOS) → pack_no_straddle → materialize_sequences chain."""
    from pathwaydataframework_spark.operators import bpe, packing

    def doc_text(d):
        return f"the table w{d % 20}"

    vocab = {chr(97 + i): i for i in range(26)}
    for t in ("th", "the", "ta", "table", "w"):
        vocab[t] = len(vocab)
    EOS, CAP, SHARDS = 99, 16, 2
    batches = [list(range(0, 10)), list(range(10, 20)), list(range(20, 30))]

    def seq_key(r):
        return (
            (r["shard"], r["seq_id"]),
            (
                list(r["token_ids"]),
                r["n_tokens"],
                [(s["doc_id"], s["off"], s["len"]) for s in r["doc_spans"]],
            ),
        )

    def dump_reload(df, path):
        df.write.parquet(str(path))
        return spark.read.schema(df.schema).parquet(str(path))

    wt = bpe.bpe_word_table(spark)
    ps = packing.pack_state(spark)
    orows = packing.open_rows_state(spark)
    emitted: list = []
    for i, ids in enumerate(batches):
        bdf = spark.createDataFrame(
            [(d, doc_text(d)) for d in ids], "doc_id long, text string"
        )
        enc, wt = bpe.bpe_encode_incremental(
            bdf, wt, vocab, append_eos_id=EOS
        )
        enc = enc.localCheckpoint()
        packed, ps = packing.pack_no_straddle_incremental(
            enc, ps, "doc_id", "n_tokens", CAP, shards=SHARDS
        )
        em, orows = packing.materialize_sequences_incremental(
            packed, enc, orows, ps, max_tokens=CAP, pad_id=-1
        )
        emitted.extend(seq_key(r) for r in em.collect())
        # the durable round-trip: all three states to parquet, then a
        # cold explicit-schema reload — the "restart" between batches
        d = tmp_path / f"state{i}"
        wt = dump_reload(wt, d / "word_table")
        ps = dump_reload(ps, d / "pack_state")
        orows = dump_reload(orows, d / "open_rows")

    flushed = packing.materialize_sequences(
        orows.select("doc_id", "token_ids"),
        orows.select("doc_id", "shard", "seq_id", "start_offset"),
        max_tokens=CAP,
        pad_id=-1,
    )
    emitted.extend(seq_key(r) for r in flushed.collect())

    full = spark.createDataFrame(
        [(d, doc_text(d)) for ids in batches for d in ids],
        "doc_id long, text string",
    )
    enc_once = bpe.bpe_encode(full, vocab, append_eos_id=EOS)
    layout_once = packing.pack_no_straddle(
        enc_once, "doc_id", "n_tokens", CAP, shards=SHARDS
    )
    expected = dict(
        seq_key(r)
        for r in packing.materialize_sequences(
            enc_once, layout_once, max_tokens=CAP, pad_id=-1
        ).collect()
    )
    got = dict(emitted)
    assert len(emitted) == len(got), "a sequence was emitted twice"
    assert got == expected


def test_recipe_chain_four_state_parquet_resume(spark, tmp_path):
    """q_recipe_stream's FOUR states (line index, word table, pack
    state, open rows) survive a durable round-trip: after every batch
    all four frames go to parquet and reload cold (explicit schema),
    severing in-memory lineage like a process restart — and the
    resumed stream still equals the one-shot recipe chain (c4 →
    dedup_lines_global → bpe_encode(EOS) → pack_no_straddle →
    materialize_sequences)."""
    from pathwaydataframework_spark.operators import bpe, dedup, packing
    from pathwaydataframework_spark.operators import text as text_ops

    def doc_text(d):
        # two keepable doc-specific sentences + the common banner line
        return (
            f"the table w{d % 6} holds a value row cleanly for {d}.\n"
            "every page shares this exact cookie banner line.\n"
            f"value row v{d % 6} closes the table neatly for {d}."
            + ("\nlorem ipsum tail" if d % 7 == 0 else "")
        )

    vocab = {chr(97 + i): i for i in range(26)}
    for t in ("th", "the", "ta", "table", "w", "va", "al", "ue"):
        vocab[t] = len(vocab)
    EOS, CAP, SHARDS = 99, 24, 2
    batches = [list(range(0, 12)), list(range(12, 24)), list(range(24, 36))]

    def seq_key(r):
        return (
            (r["shard"], r["seq_id"]),
            (
                list(r["token_ids"]),
                r["n_tokens"],
                [(s["doc_id"], s["off"], s["len"]) for s in r["doc_spans"]],
            ),
        )

    def dump_reload(df, path):
        df.write.parquet(str(path))
        return spark.read.schema(df.schema).parquet(str(path))

    def front(bdf, lines):
        cleaned = text_ops.c4_filter(bdf)
        kept = cleaned.filter(F.col("kept")).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        return dedup.incremental_line_dedup(
            kept, lines, id_col="doc_id", text_col="text"
        )

    wt = bpe.bpe_word_table(spark)
    ps = packing.pack_state(spark)
    orows = packing.open_rows_state(spark)
    lines = spark.createDataFrame([], "line string")
    emitted: list = []
    for i, ids in enumerate(batches):
        bdf = spark.createDataFrame(
            [(d, doc_text(d)) for d in ids], "doc_id long, text string"
        )
        deduped = front(bdf, lines).localCheckpoint()
        lines = lines.unionByName(
            dedup.line_index(deduped, text_col="clean_text")
        ).distinct()
        corpus = deduped.select("doc_id", F.col("clean_text").alias("text"))
        enc, wt = bpe.bpe_encode_incremental(
            corpus, wt, vocab, append_eos_id=EOS
        )
        enc = enc.localCheckpoint()
        packed, ps = packing.pack_no_straddle_incremental(
            enc, ps, "doc_id", "n_tokens", CAP, shards=SHARDS
        )
        em, orows = packing.materialize_sequences_incremental(
            packed, enc, orows, ps, max_tokens=CAP, pad_id=-1
        )
        emitted.extend(seq_key(r) for r in em.collect())
        d = tmp_path / f"state{i}"
        lines = dump_reload(lines, d / "line_index")
        wt = dump_reload(wt, d / "word_table")
        ps = dump_reload(ps, d / "pack_state")
        orows = dump_reload(orows, d / "open_rows")

    flushed = packing.materialize_sequences(
        orows.select("doc_id", "token_ids"),
        orows.select("doc_id", "shard", "seq_id", "start_offset"),
        max_tokens=CAP,
        pad_id=-1,
    )
    emitted.extend(seq_key(r) for r in flushed.collect())

    full = spark.createDataFrame(
        [(d, doc_text(d)) for ids in batches for d in ids],
        "doc_id long, text string",
    )
    cleaned = text_ops.c4_filter(full)
    kept = cleaned.filter(F.col("kept")).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    deduped = dedup.dedup_lines_global(kept, "doc_id", "text")
    corpus = deduped.select("doc_id", F.col("clean_text").alias("text"))
    enc_once = bpe.bpe_encode(corpus, vocab, append_eos_id=EOS)
    layout_once = packing.pack_no_straddle(
        enc_once, "doc_id", "n_tokens", CAP, shards=SHARDS
    )
    expected = dict(
        seq_key(r)
        for r in packing.materialize_sequences(
            enc_once, layout_once, max_tokens=CAP, pad_id=-1
        ).collect()
    )
    got = dict(emitted)
    assert len(emitted) == len(got), "a sequence was emitted twice"
    assert got == expected
    # the poison dropped docs 0,7,14,21,28,35 before tokenization in
    # BOTH forms — the id set narrowed identically mid-pipeline
    packed_ids = {s[0] for v in got.values() for s in v[2]}
    assert packed_ids == {d for d in range(36) if d % 7 != 0}

def test_crawl_chain_states_parquet_resume(spark, tmp_path):
    """Durable-state RESUME for the crawl front-end (VERDICT r10 item
    5): the recipe/tokenize chains' parquet-resume tests landed in r10;
    the crawl-side states carry the same persistability claim.  Run a
    3-batch crawl chain — Bloom URL dedup → MinHash band-index page
    dedup → politeness scheduling → wave accounting — writing all FOUR
    state frames (Bloom bitmap, band index, host fetch counters, wave
    counts) to parquet after EVERY batch and reloading them cold
    (explicit schema), severing in-memory lineage like a process
    restart.  The resumed stream must match the one-shot twins: kept
    pages = first-offered non-near-dup set, folded band index ≡
    minhash_band_index over the surviving corpus, folded bitmap ≡
    build_bloom_index over every crawled URL, host counters = per-host
    totals with CONTIGUOUS cross-batch queue positions, wave-count
    state ≡ fetch_waves over the accumulated schedule."""
    from pathwaydataframework_spark.operators import dedup, text

    M, K = 1 << 14, 5
    LSH = dict(n=3, num_hashes=16, bands=8)

    def body(j):
        return f"page {j} body: " + " ".join(
            f"tok{j}w{i}" for i in range(12)
        )

    batches = [
        [("a.test", f"https://a.test/p{i}", body(i)) for i in range(3)]
        + [("b.test", "https://b.test/p0", body(10))],
        [
            # URL re-offer -> the Bloom bitmap must drop it
            ("a.test", "https://a.test/p1", body(1)),
            # batch-0 content under a NEW url -> the band index drops it
            ("a.test", "https://a.test/p3", body(2)),
            ("b.test", "https://b.test/p1", body(11)),
        ],
        [
            ("b.test", "https://b.test/p0", body(10)),  # URL re-offer
            ("a.test", "https://a.test/p9", body(11)),  # content re-offer
            ("b.test", "https://b.test/p2", body(12)),
            ("a.test", "https://a.test/p4", body(4)),
        ],
    ]

    def dump_reload(df, path):
        df.write.parquet(str(path))
        return spark.read.schema(df.schema).parquet(str(path))

    delays = spark.createDataFrame(
        [("a.test", 4)], "host string, crawl_delay long"
    )
    bloom = spark.createDataFrame([], "word long, bits long")
    idx = dedup.minhash_band_index(
        spark.createDataFrame([], "url string, text string"),
        "url", "text", **LSH,
    )
    counts = text.host_fetch_counts(spark)
    wcounts = text.wave_counts_state(spark)
    sched_rows: list = []
    for i, rows in enumerate(batches):
        bdf = spark.createDataFrame(
            rows, "host string, url string, text string"
        )
        # crawled = urls not seen before (these GET fetched, so they all
        # enter the bitmap — even pages the content dedup then drops)
        crawled = dedup.bloom_dedup(
            bdf, None, "url", index=bloom, m_bits=M, k=K,
            exact_confirm=False,
        ).localCheckpoint()
        bloom = dedup.update_bloom_index(bloom, crawled, "url", m_bits=M, k=K)
        kept = dedup.incremental_neardup_filter(
            crawled, idx, id_col="url", text_col="text", **LSH
        ).localCheckpoint()
        idx = idx.unionByName(
            dedup.minhash_band_index(kept, "url", "text", **LSH)
        )
        sched, counts = text.schedule_fetches_incremental(
            kept, counts, delays, seed=2
        )
        waved, wcounts = text.fetch_waves_incremental(sched, wcounts, 8.0)
        sched_rows.extend(
            (r["host"], r["url"], r["fetch_seq"], r["fetch_offset_s"])
            for r in waved.collect()
        )
        # the durable round-trip: all four states to parquet, then a
        # cold explicit-schema reload — the "restart" between batches
        d = tmp_path / f"crawl_state{i}"
        bloom = dump_reload(bloom, d / "bloom")
        idx = dump_reload(idx, d / "band_index")
        counts = dump_reload(counts, d / "host_counts")
        wcounts = dump_reload(wcounts, d / "wave_counts")

    per_host: dict = {}
    for h, u, s, o in sched_rows:
        per_host.setdefault(h, []).append((u, s, o))
    # survivors: first-offered urls whose content wasn't already indexed
    assert {u for u, _, _ in per_host["a.test"]} == {
        f"https://a.test/p{i}" for i in (0, 1, 2, 4)
    }
    assert {u for u, _, _ in per_host["b.test"]} == {
        f"https://b.test/p{i}" for i in (0, 1, 2)
    }
    # queue positions contiguous ACROSS the restarts, offsets = seq*delay
    assert sorted(s for _, s, _ in per_host["a.test"]) == list(range(4))
    assert sorted(s for _, s, _ in per_host["b.test"]) == list(range(3))
    assert all(o == s * 4.0 for _, s, o in per_host["a.test"])
    assert all(o == s * 1.0 for _, s, o in per_host["b.test"])
    # host counters: the one-shot per-host totals
    assert {r["host"]: r["n_scheduled"] for r in counts.collect()} == {
        "a.test": 4,
        "b.test": 3,
    }
    # wave-count state == one-shot fetch_waves over the ACCUMULATED
    # schedule (the straddling-wave contract, now across restarts)
    acc = spark.createDataFrame(
        [(h, u, s, o) for h, u, s, o in sched_rows],
        "host string, url string, fetch_seq long, fetch_offset_s double",
    )
    expect_waves = {
        (r["host"], r["wave"]): r["wave_size"]
        for r in text.fetch_waves(acc, 8.0)
        .select("host", "wave", "wave_size")
        .distinct()
        .collect()
    }
    got_waves = {(r["host"], r["wave"]): r["n"] for r in wcounts.collect()}
    assert got_waves == expect_waves
    # folded band index == the one-shot index over the surviving corpus
    surv = [
        ("https://a.test/p0", body(0)),
        ("https://a.test/p1", body(1)),
        ("https://a.test/p2", body(2)),
        ("https://a.test/p4", body(4)),
        ("https://b.test/p0", body(10)),
        ("https://b.test/p1", body(11)),
        ("https://b.test/p2", body(12)),
    ]
    one_shot_idx = dedup.minhash_band_index(
        spark.createDataFrame(surv, "url string, text string"),
        "url", "text", **LSH,
    )

    def idx_key(r):
        return (r["doc_id"], r["band_idx"], r["band_hash"], r["sig"])

    assert sorted(map(idx_key, idx.collect())) == sorted(
        map(idx_key, one_shot_idx.collect())
    )
    # folded Bloom bitmap == one-shot bitmap over every CRAWLED url
    crawled_urls = sorted({u for b in batches for _, u, _ in b})
    one_shot_bloom = dedup.build_bloom_index(
        spark.createDataFrame([(u,) for u in crawled_urls], "url string"),
        "url", m_bits=M, k=K,
    )
    assert {(r["word"], r["bits"]) for r in bloom.collect()} == {
        (r["word"], r["bits"]) for r in one_shot_bloom.collect()
    }


def test_streaming_sft_padded_kill_and_resume(spark, tmp_path):
    """The SFT incremental chain as a REAL Structured Streaming query
    with a mid-stream kill and resume (VERDICT r13 item 5): files feed
    a readStream (maxFilesPerTrigger=1) whose foreachBatch runs
    materialize_padded_batches_incremental against the
    bucket_by_length_incremental counter state, persisted to parquet
    per micro-batch next to the stream's checkpointLocation.  The
    query is stopped after the first two files, two more files arrive,
    and a NEW query with the SAME checkpointLocation resumes — Spark's
    offset log must skip the already-processed files, the counter
    state must come back from parquet, and the rows emitted BEFORE the
    kill must be bit-identical afterwards (seal-once: resumed batches
    fill forward, never renumber, and every emitted tensor is final on
    emit).  The full streamed output equals the in-session batch
    replay of the same arrival order — the composite
    (arrival, md5-within-batch) contract q_sft_incremental pins."""
    import glob
    import os
    import shutil

    from pathwaydataframework_spark.operators import packing

    BNDS, BS, SEED = (8, 16, 40), 4, 3

    def toks(d):
        n = (d * 37) % 48 + 1  # lengths 1..48 — some exceed 40: dropped
        return [d * 100 + j for j in range(n)]

    def plen(d):
        return ((d * 37) % 48 + 1) // 3

    batches = [
        list(range(0, 25)),
        list(range(25, 50)),
        list(range(50, 75)),
        list(range(75, 100)),
    ]
    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, toks array<long>, plen long"

    def add_file(i):
        rows = [(d, toks(d), plen(d)) for d in batches[i]]
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = [
            f for f in os.listdir(stage) if f.endswith(".parquet")
        ]
        shutil.move(str(stage / part), str(src / f"b{i}.parquet"))

    state_root = tmp_path / "state"
    out_root = tmp_path / "out"
    chk = str(tmp_path / "chk")
    out_cols = [
        "doc_id", "bucket", "batch_id", "slot", "pad_len",
        "input_ids", "attention_mask", "loss_mask",
    ]
    seen_epochs: list[int] = []

    def handle(bdf, epoch_id):
        versions = sorted(glob.glob(str(state_root / "v*")))
        if versions:
            st = spark.read.schema("bucket long, n_so_far long").parquet(
                versions[-1]
            )
        else:
            st = packing.bucket_state(spark)
        out, new_state = packing.materialize_padded_batches_incremental(
            bdf, st, "doc_id", "toks",
            boundaries=BNDS, batch_size=BS, seed=SEED, pad_id=-1,
            prompt_len_col="plen",
        )
        # pin the lazily-derived pair before writing (the documented
        # caller contract): emitted frame and counter update must come
        # from ONE evaluation
        out = out.localCheckpoint()
        new_state = new_state.localCheckpoint()
        out.select(*out_cols).write.mode("append").parquet(str(out_root))
        new_state.write.parquet(str(state_root / f"v{int(epoch_id):04d}"))
        seen_epochs.append(int(epoch_id))

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def key(r):
        return (
            r["doc_id"], r["bucket"], r["batch_id"], r["slot"],
            r["pad_len"], tuple(r["input_ids"]),
            tuple(r["attention_mask"]), tuple(r["loss_mask"]),
        )

    add_file(0)
    add_file(1)
    run_stream()  # two micro-batches, then terminates (availableNow)
    prefix = sorted(
        key(r) for r in spark.read.parquet(str(out_root)).collect()
    )
    assert len(seen_epochs) == 2

    add_file(2)
    add_file(3)
    run_stream()  # the RESUME: same checkpoint, new query
    # offset log honored: only the two new files became micro-batches
    assert len(seen_epochs) == 4
    final = [
        key(r) for r in spark.read.parquet(str(out_root)).collect()
    ]
    # every pre-kill row is bit-identical post-resume (tensors final on
    # emit, sealed numbering never rewritten), and nothing re-emitted
    assert sorted(k for k in final if k[0] < 50) == prefix
    assert len(final) == len({k[0] for k in final})  # one row per doc

    # full-stream equality vs the in-session batch replay of the same
    # arrival order (the q_sft_incremental contract)
    st = packing.bucket_state(spark)
    expected: list = []
    for ids in batches:
        bdf = spark.createDataFrame(
            [(d, toks(d), plen(d)) for d in ids], schema
        )
        em, st = packing.materialize_padded_batches_incremental(
            bdf, st, "doc_id", "toks",
            boundaries=BNDS, batch_size=BS, seed=SEED, pad_id=-1,
            prompt_len_col="plen",
        )
        em = em.localCheckpoint()
        st = st.localCheckpoint()
        expected.extend(key(r) for r in em.select(*out_cols).collect())
    assert sorted(final) == sorted(expected)
