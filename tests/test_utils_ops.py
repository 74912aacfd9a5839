"""col utils, asof-nearest, demo generators."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

import pathwaydataframework_spark as pw
from pathwaydataframework_spark.operators import col_utils
from pathwaydataframework_spark.sources import demo


def test_unpack_struct_and_array(spark):
    df = spark.createDataFrame([(1, (2, "x"), [7, 8])], "id long, s struct<a:long,b:string>, arr array<long>")
    t = pw.Table(df)
    out = col_utils.unpack_col(t, "s")
    assert set(out.df.columns) == {"id", "arr", "a", "b"}
    out2 = col_utils.unpack_col(t.without("s"), "arr", "first", "second")
    got = out2.df.collect()[0]
    assert (got["first"], got["second"]) == (7, 8)


def test_groupby_reduce_majority(spark):
    t = pw.Table(
        spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2), ("b", 3)], "k string, v long"
        )
    )
    out = col_utils.groupby_reduce_majority(t, "k", "v")
    got = {r["k"]: r["majority"] for r in out.df.collect()}
    assert got == {"a": 1, "b": 3}


def test_apply_all_rows(spark):
    t = pw.Table(spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double"))

    def center(xs):
        m = sum(xs) / len(xs)
        return [v - m for v in xs]

    out = col_utils.apply_all_rows(t, "x", fun=center, result_col_name="centered")
    got = sorted(r["centered"] for r in out.df.collect())
    assert got == [-1.0, 0.0, 1.0]


def test_asof_nearest(spark):
    def ts(m):
        return dt.datetime(2024, 1, 1, 10, m)

    quotes = pw.Table.from_rows(
        spark,
        [("A", ts(0), 1.0), ("A", ts(20), 2.0)],
        "sym string, qt timestamp_ntz, px double",
    )
    trades = pw.Table.from_rows(
        spark,
        [("A", ts(5)), ("A", ts(19)), ("A", ts(30))],
        "sym string, tt timestamp_ntz",
    )
    j = trades.asof_join(
        quotes,
        pw.this.tt,
        pw.this.qt,
        pw.left.sym == pw.right.sym,
        direction="nearest",
    ).select(tt=pw.left.tt, px=pw.right.px)
    got = {r["tt"].minute: r["px"] for r in j.df.collect()}
    # 10:05 → nearest is 10:00 (5 vs 15); 10:19 → 10:20 (1 vs 19); 10:30 → 10:20
    assert got == {5: 1.0, 19: 2.0, 30: 2.0}

    # right/outer pad the right rows no nearest match used, as backward
    # does; an unknown how is rejected
    quotes_b = pw.Table.from_rows(
        spark,
        [("A", ts(0), 1.0), ("A", ts(20), 2.0), ("B", ts(1), 3.0)],
        "sym string, qt timestamp_ntz, px double",
    )
    trades_c = pw.Table.from_rows(
        spark,
        [("A", ts(5)), ("A", ts(19)), ("A", ts(30)), ("C", ts(7))],
        "sym string, tt timestamp_ntz",
    )

    def nearest(how):
        return trades_c.asof_join(
            quotes_b,
            pw.this.tt,
            pw.this.qt,
            pw.left.sym == pw.right.sym,
            how=how,
            direction="nearest",
        ).select(tt=pw.left.tt, px=pw.right.px)

    def pairs(t):
        return sorted(
            ((r["tt"].minute if r["tt"] else -1), r["px"] or -1.0) for r in t.df.collect()
        )

    matched = [(5, 1.0), (19, 2.0), (30, 2.0)]
    assert pairs(nearest("right")) == sorted(matched + [(-1, 3.0)])
    assert pairs(nearest("outer")) == sorted(matched + [(-1, 3.0), (7, -1.0)])
    with pytest.raises(ValueError):
        nearest("bogus")


def test_demo_generators(spark):
    r = demo.range_stream(spark, nb_rows=5, offset=10)
    assert [x["value"] for x in r.df.collect()] == [10, 11, 12, 13, 14]

    n = demo.noisy_linear_stream(spark, nb_rows=20)
    rows = n.df.collect()
    assert all(abs(row["y"] - row["x"]) <= 1.0 for row in rows)

    c = demo.generate_custom_stream(
        spark, {"k": lambda i: i, "label": lambda i: f"v{i}"}, nb_rows=3, schema="k long, label string"
    )
    assert c.df.count() == 3
