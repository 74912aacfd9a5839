"""Structured-Streaming surface (reference SURVEY.md §2.9).

This module holds the stateless streaming entry points, the keyed sinks
(``write_upsert_parquet``, ``write_changelog_parquet``), the stream-stream
interval and window joins and the per-operator ``_buffer``/``_forget``
stage (``buffered_stage``).  ``streaming/stateful.py`` holds the stateful
operators on ``applyInPandasWithState``: deduplicate with an acceptor
(``deduplicate_stream_acceptor``) and predicate sessions
(``session_windows_stream_by_predicate``).

Mapping (SURVEY.md §2.9):
- common_behavior(cutoff)  → ``withWatermark``
- persistence / recovery   → ``checkpointLocation``
- subscribe                → ``writeStream.foreach``
- asof_now_join            → stream-static join
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from pathwaydataframework_spark.internals.table import Table


def with_watermark(table: Table, time_col: str, delay: str) -> Table:
    """Late-data cutoff — the analogue of the reference's
    ``common_behavior(cutoff=...)`` (temporal_behavior.py:29).

    Event-time columns must be TIMESTAMP (LTZ); NTZ inputs are cast, which
    is value-preserving under the engine's pinned UTC session timezone."""
    df = table.df
    if dict(df.dtypes).get(time_col) == "timestamp_ntz":
        import pyspark.sql.functions as F

        df = df.withColumn(time_col, F.col(time_col).cast("timestamp"))
    return Table(df.withWatermark(time_col, delay))


def write_console(table: Table, **options: Any):
    """Debug sink — reference pw.debug.compute_and_print on a stream."""
    return table.df.writeStream.format("console").options(**options).start()


def write_memory(table: Table, query_name: str, output_mode: str = "append"):
    return (
        table.df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )


def _read_parquet_if_exists(spark, path):
    """Read a parquet snapshot or None — via Spark's own filesystem layer,
    so s3a:// / hdfs:// paths work (a driver-local os.path.exists is always
    False for remote URIs and would silently overwrite the snapshot with
    each micro-batch)."""
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # noqa: BLE001 — AnalysisException PATH_NOT_FOUND
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise


def _replace_snapshot(df: DataFrame, path: str) -> None:
    """Overwrite the parquet snapshot at ``path`` with ``df``, which may
    read ``path`` itself: ``df`` is written to ``<path>__tmp`` first and
    that copy overwrites ``path`` (overwriting in place would delete the
    files ``df`` still reads)."""
    df.write.mode("overwrite").parquet(path + "__tmp")
    copy = df.sparkSession.read.schema(df.schema).parquet(path + "__tmp")
    copy.write.mode("overwrite").parquet(path)


def _upsert(current: DataFrame | None, batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """``current`` with each key of ``batch`` (one row per key) replaced by
    the batch's row."""
    if current is None:
        return batch
    keep = current.join(batch.select(*key_cols), on=key_cols, how="left_anti")
    return keep.unionByName(batch)


def write_foreach_batch(table: Table, batch_fn, *, checkpoint: str | None = None,
                        output_mode: str = "update", trigger_available_now: bool = True):
    """Changelog-style output — the reference's update-stream sinks map to
    ``foreachBatch`` (SURVEY.md §7: upsert outputs reproduce Pathway's
    retraction-bearing streams as per-batch MERGEs)."""
    writer = table.df.writeStream.foreachBatch(batch_fn).outputMode(output_mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_upsert_parquet(table: Table, path: str, key_cols: list[str], *,
                         checkpoint: str | None = None):
    """Keyed upsert sink: per micro-batch, merge the batch into the parquet
    target by key (read-modify-write; production deployments use Delta MERGE
    — same call shape, transactional).  Reproduces the reference's
    ``update_rows``-style output table semantics on a stream."""

    def merge(batch_df, batch_id):
        current = _read_parquet_if_exists(batch_df.sparkSession, path)
        _replace_snapshot(_upsert(current, batch_df.dropDuplicates(key_cols), key_cols), path)

    return write_foreach_batch(table, merge, checkpoint=checkpoint)


def interval_join_stream(
    left: Table,
    right: Table,
    *,
    left_time: str,
    right_time: str,
    lower_bound: float,
    upper_bound: float,
    on: list[str] | None = None,
    watermark: str = "10 seconds",
) -> Table:
    """Stream-stream time-band join — the streaming form of
    ``pw.temporal.interval_join`` (reference _interval_join.py:577).

    Batch mode uses the double-bucketing equi-join (operators/temporal.py);
    on two streams Spark's native stream-stream join already maintains
    watermark-bounded state per side and prunes it with the time-range
    condition, so the declarative range join IS the scale path here: state
    size = watermark window × input rate, independent of stream length.

    ``on`` lists equality key columns present on both sides (they keep the
    join hash-partitionable); the band is
    right_time − left_time ∈ [lower_bound, upper_bound] seconds.
    """
    import pyspark.sql.functions as F

    lw = with_watermark(left, left_time, watermark).df
    rw = with_watermark(right, right_time, watermark).df
    # unambiguous output columns: prefix the right side
    rw = rw.select([F.col(c).alias(f"r_{c}") for c in rw.columns])
    cond = (
        F.col(f"r_{right_time}")
        >= F.col(left_time) + F.expr(f"INTERVAL {lower_bound} SECONDS")
    ) & (
        F.col(f"r_{right_time}")
        <= F.col(left_time) + F.expr(f"INTERVAL {upper_bound} SECONDS")
    )
    for k in on or []:
        cond = cond & (F.col(k) == F.col(f"r_{k}"))
    return Table(lw.join(rw, cond))


def window_join_stream(
    left: Table,
    right: Table,
    *,
    left_time: str,
    right_time: str,
    duration: str,
    on: list[str] | None = None,
    watermark: str = "10 seconds",
) -> Table:
    """Stream-stream window join — rows pair when their event times fall in
    the same tumbling window (reference _window_join.py:156, streaming
    form).  Window assignment happens per side BEFORE the join, so the join
    is a plain watermark-bounded equi-join on (window, keys) — state prunes
    as watermarks advance, identical to the batch operator's plan shape.
    """
    import pyspark.sql.functions as F

    lw = with_watermark(left, left_time, watermark).df.withColumn(
        "__w", F.window(F.col(left_time), duration)
    )
    rw = with_watermark(right, right_time, watermark).df.withColumn(
        "__w", F.window(F.col(right_time), duration)
    )
    rw = rw.select([F.col(c).alias(f"r_{c}") for c in rw.columns])
    cond = F.col("__w") == F.col("r___w")
    for k in on or []:
        cond = cond & (F.col(k) == F.col(f"r_{k}"))
    return Table(
        lw.join(rw, cond)
        .withColumn("window_start", F.col("__w.start"))
        .drop("__w", "r___w")
    )


def write_changelog_parquet(
    table: Table,
    path: str,
    key_cols: list[str],
    *,
    checkpoint: str | None = None,
):
    """Changelog sink: reproduce the reference's update-stream outputs
    (``(row, __time__, __diff__)`` with retractions — SURVEY §1.1, debug
    ``compute_and_print_update_stream``).

    Per micro-batch, the batch's rows are diffed against the keyed snapshot:
    a replaced row emits ``__diff__ = -1`` for its old values and ``+1`` for
    the new; a fresh key emits only ``+1``.  ``__time__`` is the batch id —
    the processing-time analogue of the reference's minibatch timestamps.
    Appends to ``<path>__log`` and maintains the snapshot at ``<path>``
    (production: one Delta MERGE with CDF instead of the read-modify-write).
    """
    import pyspark.sql.functions as F

    def merge(batch_df, batch_id):
        from functools import reduce as _reduce

        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(key_cols)
        val_cols = [c for c in batch.columns if c not in key_cols]
        stamp = {"__time__": F.lit(batch_id).cast("long")}

        current = _read_parquet_if_exists(spark, path)
        if current is not None:
            # a no-op redelivery (same key, same values) must emit NOTHING —
            # the reference's changelog carries actual changes only
            joined = current.alias("cur").join(batch.alias("new"), on=key_cols)
            diff_cond = _reduce(
                lambda a, b: a | b,
                [~F.col(f"cur.{c}").eqNullSafe(F.col(f"new.{c}")) for c in val_cols],
                F.lit(False),
            )
            changed_keys = joined.filter(diff_cond).select(*key_cols)
            fresh = batch.join(current.select(*key_cols), on=key_cols, how="left_anti")
            retractions = (
                current.join(changed_keys, on=key_cols, how="left_semi")
                .withColumns({**stamp, "__diff__": F.lit(-1)})
            )
            additions = (
                fresh.unionByName(batch.join(changed_keys, on=key_cols, how="left_semi"))
                .withColumns({**stamp, "__diff__": F.lit(1)})
            )
            log_delta = retractions.unionByName(additions)
        else:
            log_delta = batch.withColumns({**stamp, "__diff__": F.lit(1)})
        log_delta.write.mode("append").parquet(path + "__log")
        _replace_snapshot(_upsert(current, batch, key_cols), path)

    return write_foreach_batch(table, merge, checkpoint=checkpoint)


def deduplicate_stream(table: Table, *, keys: list[str], time_col: str, watermark: str):
    """Streaming exact dedup — the scalable analogue of the reference's
    streaming deduplicate with the default acceptor.

    Uses ``dropDuplicatesWithinWatermark`` so dedup state is actually evicted
    once keys age past the watermark; plain ``dropDuplicates(keys)`` without
    the event-time column in the subset never purges state and grows without
    bound on long-running streams.  Falls back to including the event-time
    column in the subset on Spark < 3.5 (state then keyed by (keys, t) —
    evictable, slightly weaker dedup).
    """
    wm = with_watermark(table, time_col, watermark)
    df = wm.df
    if hasattr(df, "dropDuplicatesWithinWatermark") and df.isStreaming:
        return Table(df.dropDuplicatesWithinWatermark(keys))
    if df.isStreaming:
        return Table(df.dropDuplicates([*keys, time_col]))
    return Table(df.dropDuplicates(keys))


def buffered_stage(
    table: Table,
    *,
    time_col: str,
    delay=None,
    cutoff=None,
    state_dir: str,
    checkpoint: str | None = None,
):
    """PER-OPERATOR ``_buffer``/``_forget`` emulation — reference
    ``table.py:666-725`` (engine ``time_column.rs:380,677``).

    Spark's ``withWatermark`` is one cutoff per query lineage, so two
    operators in one pipeline cannot natively hold different lateness
    thresholds (the r1/r2 pinned deviation).  This stage closes that gap
    with the spool pattern the engine already uses for ingress
    (sources/python_connector.py):

    - each micro-batch lands in a parquet **buffer** (``state_dir/buffer``);
    - a row RELEASES once the stage's own max event time advances past
      ``row_time + delay`` (``delay=None`` → release immediately), at which
      point it is appended atomically to ``state_dir/out``;
    - buffered rows older than ``max_time − cutoff`` are FORGOTTEN
      (dropped before they ever release; ``cutoff=None`` → keep all);
    - the returned Table re-reads ``state_dir/out`` as a file-stream
      source, so the DOWNSTREAM plan starts a fresh lineage and may carry
      its own ``buffered_stage``/watermark with a different cutoff.

    Scale: the per-batch work is one union + filter over (buffer ∪ batch),
    all executor-side; the buffer's steady-state size is bounded by
    ``delay`` (plus ``cutoff`` stragglers) × input rate, the same bound
    Spark's own watermark state would hold.  The max-time scalar rides the
    same job via ``observe``.

    Returns ``(stage_table, query)``: the file-stream Table of released
    rows and the upstream StreamingQuery feeding it.  Call
    ``query.awaitTermination()`` (availableNow) before draining tests.
    """
    import os

    import pyspark.sql.functions as F

    from pathwaydataframework_spark.operators.temporal import duration_to_seconds

    buf_dir = os.path.join(state_dir, "buffer")
    out_dir = os.path.join(state_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    delay_us = int(duration_to_seconds(delay) * 1_000_000) if delay is not None else 0
    cutoff_us = (
        int(duration_to_seconds(cutoff) * 1_000_000) if cutoff is not None else None
    )
    schema = table.df.schema

    def _step(batch_df, batch_id):
        spark = batch_df.sparkSession
        buf = _read_parquet_if_exists(spark, buf_dir)
        rows = batch_df if buf is None else buf.unionByName(batch_df)
        rows = rows.withColumn(
            "__t_us", F.unix_micros(F.col(time_col).cast("timestamp"))
        ).localCheckpoint(eager=True)
        mx = rows.agg(F.max("__t_us")).first()[0]
        if mx is None:
            return
        if cutoff_us is not None:
            rows = rows.filter(F.col("__t_us") >= F.lit(mx - cutoff_us))  # forget
        released = rows.filter(F.col("__t_us") + F.lit(delay_us) <= F.lit(mx))
        held = rows.filter(F.col("__t_us") + F.lit(delay_us) > F.lit(mx))
        released.drop("__t_us").write.mode("append").parquet(out_dir)
        _replace_snapshot(held.drop("__t_us"), buf_dir)

    q = write_foreach_batch(
        table, _step, checkpoint=checkpoint, output_mode="append"
    )
    spark = table.df.sparkSession
    staged = spark.readStream.schema(schema).parquet(out_dir)
    return Table(staged), q
