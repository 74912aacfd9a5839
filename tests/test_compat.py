"""Reference top-level API parity (compat.py): the remaining __all__ names
behave, not just exist."""

from __future__ import annotations

import pytest

import pathwaydataframework_spark as pw


def test_join_accepts_joinmode_enum(spark):
    a = pw.Table.from_rows(spark, [(1, "x"), (2, "y")], "k long, v string")
    b = pw.Table.from_rows(spark, [(1, "X")], "k long, w string")
    out = a.join(b, pw.left.k == pw.right.k, how=pw.JoinMode.LEFT).select(
        k=pw.left.k, w=pw.right.w
    )
    rows = sorted((r["k"], r["w"]) for r in out.df.collect())
    assert rows == [(1, "X"), (2, None)]


def test_cast_to_types_accepts_type_enum(spark):
    t = pw.Table.from_rows(spark, [("7", "1.5")], "a string, b string")
    out = t.cast_to_types(a=pw.Type.INT, b=pw.Type.FLOAT)
    assert dict(out.df.dtypes) == {"a": "bigint", "b": "double"}
    assert pw.Type.array(None, pw.Type.FLOAT) == "array<double>"
    assert pw.Type.optional(pw.Type.INT) == "bigint"
    # distinct members must NOT collapse into enum aliases even when they
    # share a Spark representation
    assert pw.Type.POINTER is not pw.Type.INT
    assert pw.Type.STRING is not pw.Type.ANY
    assert len(list(pw.Type)) == 12
    assert pw.Type.POINTER.name == "POINTER" and pw.Type.POINTER.spark == "bigint"


def test_result_type_aliases_are_real_classes(spark):
    a = pw.Table.from_rows(spark, [(1, 2)], "k long, v long")
    g = a.groupby(pw.this.k)
    assert isinstance(g, pw.GroupedTable)
    j = a.join(a.copy(), pw.left.k == pw.right.k)
    assert isinstance(j, pw.JoinResult)
    assert isinstance(a, pw.TableLike) and isinstance(a, pw.Joinable)
    assert pw.AsofJoinResult is pw.JoinResult
    assert pw.temporal.AsofJoinResult is pw.AsofJoinResult
    # every temporal join returns the one two-sided result class
    import datetime as dt

    t = pw.Table.from_rows(spark, [(1, dt.datetime(2024, 1, 1))], "k long, t timestamp_ntz")
    u = t.copy()
    on = pw.left.k == pw.right.k
    asof = t.asof_join(u, pw.this.t, pw.this.t, on)
    interval = t.interval_join(u, pw.this.t, pw.this.t, pw.interval(0, 60), on)
    window = t.window_join(u, pw.this.t, pw.this.t, pw.tumbling("1 hour"), on)
    asof_now = t.asof_now_join(u, on)
    assert isinstance(asof, pw.AsofJoinResult)
    assert isinstance(interval, pw.IntervalJoinResult)
    assert isinstance(window, pw.WindowJoinResult)
    for result in (asof, interval, window, asof_now):
        assert isinstance(result, pw.JoinResult)
    assert pw.iterate_universe is pw.iterate


def test_pandas_transformer_round_trip(spark):
    import pandas as pd

    t = pw.Table.from_rows(
        spark, [(10, 100), (20, 200), (30, 300)], "foo long, bar long"
    )

    @pw.pandas_transformer(output_schema=None)
    def sum_cols(df: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"sum": df["foo"] + df["bar"]})

    out = sum_cols(t)
    assert isinstance(out, pw.Table)
    assert sorted(r["sum"] for r in out.df.collect()) == [110, 220, 330]


def test_table_transformer_validates_annotations(spark):
    @pw.table_transformer
    def passthrough(t: pw.Table) -> pw.Table:
        return t

    tab = pw.Table.from_rows(spark, [(1,)], "x long")
    assert passthrough(tab) is tab
    with pytest.raises(TypeError, match="must be a Table"):
        passthrough("not a table")


def test_load_yaml():
    cfg = pw.load_yaml("a: 1\nb:\n  - x\n  - y\n")
    assert cfg == {"a": 1, "b": ["x", "y"]}


def test_error_logs_empty_under_null_channel_model(spark):
    log = pw.global_error_log(spark)
    assert log.df.columns == ["operator_id", "message", "trace"]
    assert log.df.count() == 0
    with pw.local_error_log(spark) as ll:
        assert ll.df.count() == 0


def test_monitoring_and_persistence_enums():
    pw.set_monitoring_config(level=pw.MonitoringLevel.NONE)
    from pathwaydataframework_spark.compat import _monitoring_config

    assert _monitoring_config["level"] is pw.MonitoringLevel.NONE
    assert pw.PersistenceMode.PERSISTING.value == "persisting"
    assert pw.SchemaProperties(append_only=True).append_only is True


def test_window_namespace_alias():
    assert pw.window.tumbling is pw.temporal.tumbling
    assert pw.window.sliding is pw.temporal.sliding


def test_asynchronous_forwards_with_deprecation():
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        strat = pw.asynchronous.FixedDelayRetryStrategy
    assert strat is pw.udfs.FixedDelayRetryStrategy
    assert any(issubclass(x.category, DeprecationWarning) for x in w)


def test_temporal_directional_variants(spark):
    import datetime as dt

    left = pw.Table.from_rows(
        spark,
        [("u", dt.datetime(2024, 1, 1, 0, 0), 1.0)],
        "k string, t timestamp_ntz, v double",
    )
    right = pw.Table.from_rows(
        spark,
        [("u", dt.datetime(2024, 1, 1, 0, 1), 9.0)],
        "k string, rt timestamp_ntz, w double",
    )
    out = pw.temporal.asof_join_left(
        left, right, pw.this.t, pw.this.rt, pw.left.k == pw.right.k,
        direction=pw.temporal.Direction.FORWARD,
    ).select(v=pw.left.v, w=pw.right.w)
    assert [(r["v"], r["w"]) for r in out.df.collect()] == [(1.0, 9.0)]


def test_temporal_window_isinstance(spark):
    assert isinstance(pw.temporal.tumbling("1 hour"), pw.temporal.Window)
    assert isinstance(pw.temporal.session(max_gap="5 minutes"), pw.temporal.Window)
    assert pw.temporal.Interval is pw.temporal.interval
    assert pw.temporal.common_behavior(cutoff="1 hour") is not None


def test_udfs_namespace_helpers(spark):
    import asyncio

    assert isinstance(pw.udfs.InMemoryCache(), pw.udfs.CacheStrategy)
    assert isinstance(
        pw.udfs.FixedDelayRetryStrategy(max_retries=2), pw.udfs.AsyncRetryStrategy
    )
    assert pw.udfs.NoRetryStrategy().wrap(len) is len
    assert issubclass(pw.udfs.DefaultCache, pw.udfs.DiskCache)

    calls = []

    async def boom(x):
        calls.append(x)
        return x * 2

    limited = pw.udfs.with_capacity(boom, 2)
    assert asyncio.run(limited(5)) == 10
    quick = pw.udfs.with_timeout(lambda x: x, 5.0)
    assert asyncio.run(quick(3)) == 3
    spec = pw.udfs.async_executor(capacity=4, timeout=1.0)
    assert spec.capacity == 4 and spec.kind == "async"


def test_debug_helpers(spark, tmp_path):
    t = pw.debug.table_from_rows(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert isinstance(t, pw.Table)
    pdf = pw.debug.table_to_pandas(t)
    assert sorted(pdf["k"]) == [1, 2]
    keys, cols = pw.debug.table_to_dicts(t)
    assert len(keys) == 2 and set(cols) == {"k", "v"}
    out = str(tmp_path / "t.parquet")
    pw.debug.table_to_parquet(t, out)
    assert spark.read.parquet(out).count() == 2
    assert pw.debug.parse_to_table is not None


def test_stream_generator_batches_arrive_in_order(spark):
    gen = pw.debug.StreamGenerator()
    t = gen.table_from_list_of_batches(
        spark,
        [[{"x": 1}, {"x": 2}], [{"x": 3}]],
        "x long",
    )
    assert t.df.isStreaming
    q = (
        t.df.writeStream.format("memory")
        .queryName("sg_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert sorted(r["x"] for r in spark.sql("SELECT * FROM sg_out").collect()) == [1, 2, 3]


def test_io_csv_parser_settings(spark, tmp_path):
    p = str(tmp_path / "data.csv")
    with open(p, "w") as f:
        f.write("a;b\n1;x\n#comment;line\n2;y\n")
    settings = pw.io.CsvParserSettings(delimiter=";", comment_character="#")
    t = pw.io.csv.read(spark, p, schema="a long, b string", parser_settings=settings)
    rows = sorted((r["a"], r["b"]) for r in t.df.collect())
    assert rows == [(1, "x"), (2, "y")]
    assert pw.io.redpanda is pw.io.kafka


def test_table_method_parity(spark):
    t = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert t.schema == {"k": "bigint", "v": "string"}
    assert list(t.keys()) == ["k", "v"]
    assert t.typehints() == {"k": int, "v": str}
    assert t.eval_type(pw.this.k + 1) == "bigint"
    assert t.eval_type(pw.this.v) == "string"
    assert t.slice is t and t.update_id_type(int) is t
    t2 = pw.Table.from_columns(t.k, renamed=t.v)
    assert t2.df.columns == ["k", "renamed"]
    # directional temporal joins bound as methods
    for m in ("asof_join_left", "interval_join_outer", "window_join_inner",
              "asof_now_join_left", "windowby"):
        assert callable(getattr(t, m))


def test_table_to_routes_into_sink(spark, tmp_path):
    t = pw.Table.from_rows(spark, [(1, "a")], "k long, v string")
    out = str(tmp_path / "sink_parquet")
    t.to(pw.io.parquet, path=out)
    assert spark.read.parquet(out).count() == 1


def test_dt_timezone_arithmetic_is_dst_aware(spark):
    import datetime as dt

    t = pw.Table.from_rows(
        spark,
        [(1, dt.datetime(2023, 3, 26, 1, 23)), (2, dt.datetime(2023, 3, 27, 1, 23))],
        "k long, date timestamp_ntz",
    )
    out = {
        r["k"]: r["new_date"]
        for r in t.select(
            pw.this.k,
            new_date=pw.this.date.dt.add_duration_in_timezone(
                dt.timedelta(hours=2), "Europe/Warsaw"
            ),
        ).df.collect()
    }
    # spring-forward day: 2h of absolute time skips the missing wall hour
    assert out[1] == dt.datetime(2023, 3, 26, 4, 23)
    assert out[2] == dt.datetime(2023, 3, 27, 3, 23)

    back = t.select(
        d=pw.this.date.dt.add_duration_in_timezone(
            dt.timedelta(hours=2), "Europe/Warsaw"
        ).dt.subtract_duration_in_timezone(dt.timedelta(hours=2), "Europe/Warsaw")
    )
    assert [r["d"] for r in back.df.collect()] == [
        dt.datetime(2023, 3, 26, 1, 23),
        dt.datetime(2023, 3, 27, 1, 23),
    ]

    diff = t.select(
        z=pw.this.date.dt.subtract_date_time_in_timezone(pw.this.date, "Europe/Warsaw")
    )
    assert all(r["z"] == dt.timedelta(0) for r in diff.df.collect())


def test_xpacks_llm_namespace(spark):
    # `from pathway.xpacks.llm import splitters` ports by renaming the root
    from pathwaydataframework_spark.xpacks.llm import splitters as xs

    from pathwaydataframework_spark.operators import splitters as os_

    assert xs is os_
    assert callable(pw.xpacks.llm.default_vector_document_index)
