"""The package's one parquet loader (``internals.parquet.read_parquet``):
one frame per file version and session, shared by every load."""

from __future__ import annotations

import pandas as pd
import pytest

import pathwaydataframework_spark as pw
from pathwaydataframework_spark.data import load_df, load_table
from pathwaydataframework_spark.internals.table import Table


def test_second_load_of_unchanged_file_runs_no_job(spark, sf_dir):
    first = load_table(spark, sf_dir, "orders")
    sc = spark.sparkContext
    sc.setJobGroup("pds_second_load", "pds_second_load")
    try:
        second = load_table(spark, sf_dir, "orders")
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("pds_second_load") == []
    assert second.df is first.df
    # Table.from_parquet and the debug reader share the loader, without the
    # fixture casts
    raw = Table.from_parquet(spark, f"{sf_dir}/customer.parquet")
    assert pw.debug.table_from_parquet(spark, f"{sf_dir}/customer.parquet").df is raw.df


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_file_gives_new_rows_and_schema(spark, tmp_path, layout):
    path = tmp_path / "t.parquet"
    if layout == "directory":
        path.mkdir()
        path = path / "part-0.parquet"
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(path, index=False)
    before = load_df(spark, str(tmp_path), "t")
    assert load_df(spark, str(tmp_path), "t") is before
    assert sorted(before.collect()) == [(1, "a"), (2, "b")]
    # rewritten in place: more rows and one more column
    pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"], "w": [0.5, 1.5, 2.5]}).to_parquet(
        path, index=False
    )
    after = load_df(spark, str(tmp_path), "t")
    assert after is not before
    assert after.columns == ["k", "v", "w"]
    assert sorted(after.collect()) == [(1, "a", 0.5), (2, "b", 1.5), (3, "c", 2.5)]
    assert load_df(spark, str(tmp_path), "t") is after


def test_frame_is_never_returned_to_another_session(spark, sf_dir):
    other = spark.newSession()
    mine = load_df(spark, sf_dir, "nation")
    theirs = load_df(other, sf_dir, "nation")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert load_df(spark, sf_dir, "nation") is mine
    assert load_df(other, sf_dir, "nation") is theirs
    assert sorted(theirs.collect()) == sorted(mine.collect())


def test_two_loads_joined_equal_two_fresh_reads(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    assert a.df is b.df
    path = f"{sf_dir}/orders.parquet"
    fresh_a, fresh_b = Table(spark.read.parquet(path)), Table(spark.read.parquet(path))

    def pairs(left: Table, right: Table) -> list:
        joined = left.join(right, pw.left.o_custkey == pw.right.o_custkey)
        rows = joined.select(a=pw.left.o_orderkey, b=pw.right.o_orderkey).df.collect()
        return sorted(tuple(r) for r in rows)

    got = pairs(a, b)
    assert got == pairs(fresh_a, fresh_b)
    assert len(got) > a.df.count()  # customers with several orders pair up
