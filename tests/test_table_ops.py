"""Golden tests for the relational core, mirroring the reference's
literal-frame style (reference tests/test_common.py; SURVEY.md §5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import pathwaydataframework_spark as pw
from pathwaydataframework_spark.internals import reducers as R


def rows(table):
    return sorted(
        (tuple(r) for r in table.df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


@pytest.fixture
def people(spark):
    return pw.Table.from_rows(
        spark,
        [(1, "alice", 30, 10.0), (2, "bob", 25, 20.0), (3, "carol", 35, 30.0)],
        "id long, name string, age long, score double",
    )


def test_select_exprs(people):
    out = people.select(pw.this.name, double_age=pw.this.age * 2, is_old=pw.this.age >= 30)
    assert rows(out) == [("alice", 60, True), ("bob", 50, False), ("carol", 70, True)]


def test_filter_and_split(people):
    young, old = people.split(pw.this.age < 30)
    assert [r[0] for r in rows(young)] == [2]
    assert sorted(r[0] for r in rows(old)) == [1, 3]


def test_with_columns_rename_without(people):
    out = (
        people.with_columns(age2=pw.this.age + 1)
        .rename_by_dict({"age2": "age_next"})
        .without("score")
    )
    assert out.column_names == ["id", "name", "age", "age_next"]
    assert rows(out)[0] == (1, "alice", 30, 31)


def test_if_else_coalesce_require(spark):
    t = pw.Table.from_rows(
        spark, [(1, None), (2, 5)], "id long, v long"
    )
    out = t.select(
        pw.this.id,
        v=pw.coalesce(pw.this.v, 0),
        tag=pw.if_else(pw.this.id == 1, "one", "other"),
        guarded=pw.require(pw.this.id, pw.this.v.is_not_none()),
    )
    assert rows(out) == [(1, 0, "one", None), (2, 5, "other", 2)]


def test_concat_difference_intersect(spark):
    a = pw.Table.from_rows(spark, [(1, "x"), (2, "y")], "k long, v string").with_id_from("k")
    b = pw.Table.from_rows(spark, [(2, "y"), (3, "z")], "k long, v string").with_id_from("k")
    assert len(rows(a.concat(b))) == 4
    diff = a.difference(b).select(pw.this.k)
    assert rows(diff) == [(1,)]
    inter = a.intersect(b).select(pw.this.k)
    assert rows(inter) == [(2,)]


def test_update_rows_and_cells(spark):
    base = pw.Table.from_rows(
        spark, [(1, "a", 10), (2, "b", 20)], "k long, name string, v long"
    ).with_id_from("k")
    upd = pw.Table.from_rows(
        spark, [(2, "B", 99), (3, "c", 30)], "k long, name string, v long"
    ).with_id_from("k")
    merged = base.update_rows(upd).select(pw.this.k, pw.this.name, pw.this.v)
    assert rows(merged) == [(1, "a", 10), (2, "B", 99), (3, "c", 30)]

    cells = pw.Table.from_rows(spark, [(2, 77)], "k long, v long").with_id_from("k")
    patched = base.update_cells(cells).select(pw.this.k, pw.this.name, pw.this.v)
    assert rows(patched) == [(1, "a", 10), (2, "b", 77)]


def test_update_rows_null_cells_win(spark):
    """Reference update_rows replaces the WHOLE row by id (table.py:1524):
    a matching row whose cell is a legitimate NULL must overwrite, not be
    coalesced away."""
    base = pw.Table.from_rows(
        spark, [(1, "old"), (2, "keep")], "k long, name string"
    ).with_id_from("k")
    upd = pw.Table.from_rows(spark, [(1, None)], "k long, name string").with_id_from("k")
    merged = base.update_rows(upd).select(pw.this.k, pw.this.name)
    assert rows(merged) == [(1, None), (2, "keep")]

    cells = pw.Table.from_rows(spark, [(2, None)], "k long, name string").with_id_from("k")
    patched = base.update_cells(cells).select(pw.this.k, pw.this.name)
    assert rows(patched) == [(1, "old"), (2, None)]


def test_flatten(spark):
    t = pw.Table.from_rows(
        spark, [(1, ["a", "b"]), (2, ["c"])], "k long, xs array<string>"
    )
    out = t.flatten(pw.this.xs)
    assert rows(out) == [(1, "a"), (1, "b"), (2, "c")]


def test_ix_lookup(spark):
    dim = pw.Table.from_rows(
        spark, [(1, "one"), (2, "two")], "k long, label string"
    ).with_id_from("k")
    fact = pw.Table.from_rows(spark, [(10, 1), (11, 2), (12, 1)], "fid long, fk long")
    looked = dim.ix(fact.pointer_from(pw.this.fk), context=fact)
    assert sorted(r[1] for r in rows(looked)) == ["one", "one", "two"]


def test_groupby_reduce(people):
    out = people.groupby(pw.this.age >= 30 and pw.this.age).reduce(n=R.count())
    assert len(rows(out)) == 3
    total = people.reduce(n=R.count(), s=R.sum(pw.this.score))
    assert rows(total) == [(3, 60.0)]


def test_reducers_composition(spark):
    t = pw.Table.from_rows(
        spark,
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0)],
        "g string, i long, x double",
    )
    out = t.groupby(pw.this.g).reduce(
        mean=R.sum(pw.this.x) / R.count(),
        args=R.sorted_tuple(pw.this.i),
        uniq_g_count=R.count_distinct(pw.this.i),
        latest_x=R.max_by(pw.this.x, pw.this.i),
    )
    got = {r[0]: r[1:] for r in rows(out)}
    assert got["a"] == (15.0, [1, 2], 2, 20.0)
    assert got["b"] == (30.0, [3], 1, 30.0)


def test_percentile_reducers(spark):
    t = pw.Table.from_rows(
        spark,
        [("a", float(v)) for v in range(1, 11)] + [("b", 5.0), ("b", 15.0)],
        "g string, x double",
    )
    out = t.groupby(pw.this.g).reduce(
        p50=R.percentile(pw.this.x, 0.5),
        p90=R.percentile(pw.this.x, 0.9),
        p50_approx=R.approx_percentile(pw.this.x, 0.5),
    )
    got = {r[0]: r[1:] for r in rows(out)}
    # continuous interpolation: rank = p*(n-1); n=10 → p50 = 5.5, p90 = 9.1
    assert got["a"][0] == 5.5
    assert abs(got["a"][1] - 9.1) < 1e-9
    assert got["b"][:2] == (10.0, 14.0)
    # the sketch variant lands on an actual sample value near the median
    assert got["a"][2] in (5.0, 6.0)


def test_hll_sketch_rollup(spark, sf_dir):
    """The sketch rollup contract: per-nation sketches of c_custkey union
    into per-region and global distinct-count estimates WITHOUT touching
    the raw rows again, and the estimates track exact counts."""
    from pathwaydataframework_spark.data import load_table

    cust = load_table(spark, sf_dir, "customer")
    # fine-grained build pass: one sketch per nation
    per_nation = cust.groupby(pw.this.c_nationkey).reduce(
        sk=R.hll_sketch(pw.this.c_custkey)
    )
    # rollup pass reads ONLY the 25 sketch rows
    per_mod = per_nation.select(
        region=pw.this.c_nationkey % 5, sk=pw.this.sk
    ).groupby(pw.this.region).reduce(merged=R.hll_union(pw.this.sk))
    est = {
        r["region"]: r["est"]
        for r in per_mod.select(
            pw.this.region, est=pw.hll_estimate(pw.this.merged)
        ).df.collect()
    }
    exact = {
        r["region"]: r["n"]
        for r in cust.df.groupBy((F.col("c_nationkey") % 5).alias("region"))
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for region, n in exact.items():
        assert abs(est[region] - n) <= max(2, 0.05 * n), (region, est[region], n)
    # global rollup from the same 5 merged sketches
    glob = per_mod.reduce(all_sk=R.hll_union(pw.this.merged)).select(
        est=pw.hll_estimate(pw.this.all_sk)
    )
    total = cust.df.select(F.countDistinct("c_custkey")).first()[0]
    got = glob.df.first()["est"]
    assert abs(got - total) <= max(2, 0.05 * total)


def test_unique_reducer_nulls_on_conflict(spark):
    t = pw.Table.from_rows(
        spark, [("a", 1), ("a", 1), ("b", 1), ("b", 2)], "g string, v long"
    )
    out = t.groupby(pw.this.g).reduce(u=R.unique(pw.this.v))
    got = dict(rows(out))
    assert got["a"] == 1
    assert got["b"] is None


def test_joins_all_modes(spark):
    left = pw.Table.from_rows(spark, [(1, "l1"), (2, "l2")], "k long, lv string")
    right = pw.Table.from_rows(spark, [(2, "r2"), (3, "r3")], "k long, rv string")
    on = pw.left.k == pw.right.k
    inner = left.join(right, on).select(k=pw.left.k, lv=pw.left.lv, rv=pw.right.rv)
    assert rows(inner) == [(2, "l2", "r2")]
    lj = left.join(right, on, how="left").select(k=pw.left.k, rv=pw.right.rv)
    assert rows(lj) == [(1, None), (2, "r2")]
    oj = left.join(right, on, how="outer").select(
        lk=pw.left.k, rk=pw.right.k
    )
    assert len(rows(oj)) == 3


def test_join_filter_and_groupby(spark):
    left = pw.Table.from_rows(spark, [(1, 5), (1, 15), (2, 25)], "k long, x long")
    right = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, tag string")
    jr = left.join(right, pw.left.k == pw.right.k).filter(pw.left.x > 10)
    out = jr.groupby(pw.right.tag).reduce(n=R.count(), sx=R.sum(pw.left.x))
    assert rows(out) == [("a", 1, 15), ("b", 1, 25)]


def test_sql(spark):
    t = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, v string")
    out = pw.sql("SELECT count(*) AS n FROM tt WHERE k > 1", tt=t)
    assert rows(out) == [(1,)]


def test_apply_udf(spark):
    t = pw.Table.from_rows(spark, [(1,), (2,)], "k long")
    out = t.select(doubled=pw.apply(lambda x: x * 2, pw.this.k, result_type="long"))
    assert rows(out) == [(2,), (4,)]


def test_gradual_broadcast(spark):
    t = pw.Table.from_rows(spark, [(1,), (2,), (3,)], "k long")
    thresholds = pw.Table.from_rows(
        spark, [(0.1, 0.25, 0.4)], "lower double, value double, upper double"
    )
    out = t._gradual_broadcast(
        thresholds, pw.this.lower, pw.this.value, pw.this.upper
    )
    assert out.column_names == ["k", "apx_value"]
    assert rows(out) == [(1, 0.25), (2, 0.25), (3, 0.25)]
    # the broadcast side must not shuffle self
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_reference_namespace_compat(spark):
    """Drop-in access paths a reference user relies on."""
    t = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, v string")
    u = pw.Table.from_rows(spark, [(1, "x")], "k long, w string")
    out = pw.join_inner(t, u, pw.left.k == pw.right.k).select(pw.left.v, pw.right.w)
    assert rows(out) == [("a", "x")]
    g = pw.groupby(t, pw.this.k).reduce(n=R.count())
    assert len(g.df.collect()) == 2

    S = pw.schema_from_types(ts=pw.DateTimeNaive, amount=float, tag=pw.Json)
    assert [f.dataType.simpleString() for f in S.to_spark().fields] == [
        "timestamp_ntz", "double", "string",
    ]
    made = pw.Table.from_rows(
        spark, [], "ts timestamp_ntz, amount double, tag string"
    )
    pw.assert_table_has_schema(made, S)

    class Declared(pw.Schema):
        order_id: int = pw.column_definition(primary_key=True)
        when: pw.DateTimeUtc

    assert Declared.primary_key_columns() == ["order_id"]
    assert Declared.to_spark()["when"].dataType.simpleString() == "timestamp"

    assert pw.run_all is pw.run
    assert hasattr(pw.utils, "unpack_col") or hasattr(pw.utils, "flatten_column")


def test_schema_from_csv_and_py_object(spark, tmp_path):
    p = tmp_path / "s.csv"
    p.write_text("id,score,label\n1,0.5,a\n2,1.5,b\n# note\n3,2,c\n")
    S = pw.schema_from_csv(str(p), comment_character="#")
    assert [f.dataType.simpleString() for f in S.to_spark().fields] == [
        "bigint", "double", "string",
    ]
    S2 = pw.schema_from_csv(str(p), comment_character="#", num_parsed_rows=0)
    assert {f.dataType.simpleString() for f in S2.to_spark().fields} == {"string"}

    blob = pw.wrap_py_object({"x": [1, 2]})
    t = pw.Table.from_rows(spark, [(1, blob)], "k long, payload binary")
    got = t.df.collect()[0]["payload"]
    assert pw.unwrap_py_object(bytes(got)) == {"x": [1, 2]}


def test_id_bookkeeping_survives_rename_and_without(spark):
    """r2 review: rename must remap id-defining column names, and dropping
    an id column must pin the id first instead of silently rekeying."""
    t = pw.Table.from_dataframe(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        id_cols=["k"],
    )
    renamed = t.rename({"k": "key"})
    ids_before = sorted(r[0] for r in t.df.select(t.id_expr()).collect())
    ids_after = sorted(r[0] for r in renamed.df.select(renamed.id_expr()).collect())
    assert ids_before == ids_after  # id_expr resolves post-rename

    dropped = t.without(pw.this.k)
    # the id was pinned before the drop — still the hash of k, not of v
    ids_dropped = sorted(r[0] for r in dropped.df.select(dropped.id_expr()).collect())
    assert ids_dropped == ids_before


def test_join_instance(spark):
    # mirrors reference tests/test_common.py test_join_instance: identical
    # (owner) keys in two instances must only pair within their instance
    t1 = pw.Table.from_rows(
        spark,
        [("Alice", 10, 1), ("Bob", 9, 1), ("Alice", 20, 2), ("Bob", 19, 2)],
        "owner string, age long, instance long",
    )
    t2 = pw.Table.from_rows(
        spark,
        [("Alice", "M", 1), ("Bob", "L", 1), ("Alice", "S", 2)],
        "owner string, size string, instance long",
    )
    res = t1.join(
        t2,
        pw.left.owner == pw.right.owner,
        left_instance=t1.instance,
        right_instance=t2.instance,
    ).select(owner_name=pw.right.owner, age=pw.left.age, size=pw.right.size)
    assert rows(res) == [
        ("Alice", 10, "M"),
        ("Alice", 20, "S"),
        ("Bob", 9, "L"),
    ]


def test_join_instance_requires_both(spark):
    t1 = pw.Table.from_rows(spark, [(1, 1)], "k long, instance long")
    t2 = pw.Table.from_rows(spark, [(1, 1)], "k long, instance long")
    with pytest.raises(ValueError, match="simultaneously"):
        t1.join(t2, pw.left.k == pw.right.k, left_instance=t1.instance)
    with pytest.raises(ValueError, match="simultaneously"):
        t1.asof_join(
            t2, t1.k, t2.k, right_instance=t2.instance
        )


def test_join_id_keys_result_by_side(spark):
    # join(..., id=left.id) must key the result by the left side's row ids
    # so downstream id-space ops (difference) see the promised universe
    left = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, lv string")
    right = pw.Table.from_rows(spark, [(1, "x"), (2, "y")], "k long, rv string")
    joined = left.join(right, pw.left.k == pw.right.k, id=left.id).select(
        k=pw.left.k, rv=pw.right.rv
    )
    # same ids as `left` → difference is empty even though columns differ
    assert len(rows(joined.difference(left))) == 0


def test_join_id_threads_through_chaining(spark):
    # join(id=...) then chaining into another join: the keyed universe must
    # survive _flat_table, not be silently dropped
    left = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, lv string")
    right = pw.Table.from_rows(spark, [(1, "x"), (2, "y")], "k long, rv string")
    extra = pw.Table.from_rows(spark, [("x", 10), ("y", 20)], "rv string, n long")
    chained = (
        left.join(right, pw.left.k == pw.right.k, id=left.id)
        .join(extra, right.rv == extra.rv)
        .select(lv=left.lv, n=extra.n)
    )
    assert rows(chained) == [("a", 10), ("b", 20)]
    # and the intermediate flat table is keyed by left's ids
    flat = left.join(right, pw.left.k == pw.right.k, id=left.id)._flat_table()
    assert len(rows(flat.difference(left))) == 0


def test_join_id_with_aggregation_rejected(spark):
    # honoring id= through groupby/reduce is meaningless (the aggregation
    # re-keys the result) — it must raise, never be silently ignored
    import pytest

    left = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, lv string")
    right = pw.Table.from_rows(spark, [(1, 5), (2, 7)], "k long, n long")
    jr = left.join(right, pw.left.k == pw.right.k, id=left.id)
    with pytest.raises(NotImplementedError, match="re-keys"):
        jr.groupby(pw.left.lv)
    with pytest.raises(NotImplementedError, match="re-keys"):
        jr.reduce(total=pw.reducers.sum(pw.right.n))


def test_temporal_joins_accept_instance(spark):
    import datetime as dt

    def ts(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    ev = pw.Table.from_rows(
        spark,
        [(ts(1), 1, "a"), (ts(2), 2, "b")],
        "t timestamp_ntz, instance long, v string",
    )
    probe = pw.Table.from_rows(
        spark,
        [(ts(2), 1), (ts(3), 2), (ts(3), 1)],
        "t timestamp_ntz, instance long",
    )
    out = probe.asof_join(
        ev, probe.t, ev.t,
        how="left", left_instance=probe.instance, right_instance=ev.instance,
    ).select(pt=pw.left.t, inst=pw.left.instance, v=pw.right.v)
    assert rows(out) == [(ts(2), 1, "a"), (ts(3), 1, "a"), (ts(3), 2, "b")]

    iv = probe.interval_join(
        ev, probe.t, ev.t,
        pw.temporal.interval(dt.timedelta(minutes=-1), dt.timedelta(0)),
        left_instance=probe.instance, right_instance=ev.instance,
    ).select(pt=pw.left.t, inst=pw.left.instance, v=pw.right.v)
    assert rows(iv) == [(ts(2), 1, "a"), (ts(3), 2, "b")]


def test_groupby_id_sets_result_ids(spark):
    # groupby(id=ptr) groups by the pointer column AND keys the result by it
    # (reference table.py:985-997): downstream id-space ops must line up
    t = pw.Table.from_rows(
        spark, [(1, 10.0), (1, 20.0), (2, 5.0)], "k long, v double"
    )
    # the supported call shape: a materialized pointer column
    withptr = t.select(pw.this.v, ptr=t.pointer_from(pw.this.k))
    out = withptr.groupby(id=withptr.ptr).reduce(
        pw.this.ptr, total=R.sum(pw.this.v)
    )
    # result ids == the ptr values themselves
    got = {r["ptr"]: r["_pw_id"] for r in out.df.select("ptr", "_pw_id").collect()}
    assert all(ptr == rid for ptr, rid in got.items())
    assert len(got) == 2


def test_groupby_id_survives_pandas_jvm_split(spark):
    # groupby(id=ptr) must keep _pw_id even when a udf_reducer is mixed
    # with JVM aggregates (the reduce() two-pass split path)
    import pathwaydataframework_spark as pw

    class Avg(pw.BaseCustomAccumulator):
        def __init__(self, sum, cnt):
            self.sum, self.cnt = sum, cnt

        @classmethod
        def from_row(cls, row):
            [val] = row
            return cls(val, 1)

        def update(self, other):
            self.sum += other.sum
            self.cnt += other.cnt

        def compute_result(self) -> float:
            return self.sum / self.cnt

    custom_avg = R.udf_reducer(Avg)
    t = pw.Table.from_rows(
        spark, [(1, 10.0), (1, 20.0), (2, 5.0)], "k long, v double"
    )
    withptr = t.select(pw.this.v, ptr=t.pointer_from(pw.this.k))
    out = withptr.groupby(id=withptr.ptr).reduce(
        pw.this.ptr, avg=custom_avg(pw.this.v), total=R.sum(pw.this.v)
    )
    rows_ = out.df.select("ptr", "avg", "total", "_pw_id").collect()
    assert len(rows_) == 2
    assert all(r["ptr"] == r["_pw_id"] for r in rows_)
    got = {r["_pw_id"]: (r["avg"], r["total"]) for r in rows_}
    assert sorted(got.values()) == [(5.0, 5.0), (15.0, 30.0)]


def test_groupby_id_rejects_multi_key(spark):
    t = pw.Table.from_rows(spark, [(1, 2, 3.0)], "a long, b long, v double")
    with pytest.raises(ValueError, match="multiple columns"):
        t.groupby(pw.this.a, pw.this.b, id=pw.this.a)
    with pytest.raises(ValueError, match="not equal"):
        t.groupby(pw.this.a, id=pw.this.b)


def test_chained_joins(spark):
    # reference tests/test_joins.py:1304/1397 — JoinResult is Joinable:
    # join results chain on either side, original-table refs keep resolving
    t1 = pw.Table.from_rows(spark, [("a1", "b1"), ("a2", "b2")], "a string, b string")
    t2 = pw.Table.from_rows(spark, [("c1", "d1"), ("c2", "d2")], "c string, d string")
    t3 = pw.Table.from_rows(spark, [("e1", "f1"), ("e2", "f2")], "e string, f string")
    # condition-less chain = cross product: 2*2*2 = 8 rows
    out = t1.join(t2).join(t3).select(
        a=t1.a, c=t2.c, e=t3.e
    )
    assert len(rows(out)) == 8
    # right-side JoinResult
    out2 = t1.join(t2.join(t3)).select(a=t1.a, d=t2.d, f=t3.f)
    assert len(rows(out2)) == 8
    # keyed chain: t1 -> t2 on shared key, then -> t3 on t2's column
    k1 = pw.Table.from_rows(spark, [(1, "x"), (2, "y")], "k long, xv string")
    k2 = pw.Table.from_rows(spark, [(1, 10), (2, 20)], "k long, m long")
    k3 = pw.Table.from_rows(spark, [(10, "ten"), (20, "twenty")], "m long, name string")
    chained = k1.join(k2, k1.k == k2.k).join(k3, k2.m == k3.m).select(
        xv=k1.xv, name=k3.name
    )
    assert rows(chained) == [("x", "ten"), ("y", "twenty")]


def test_from_rows_is_a_local_relation(spark):
    # driver-local rows plan as a LocalTableScan: values (nested types and
    # NULLs included) survive, bad rows still fail at construction, and a
    # condition-less join of two such tables broadcasts instead of
    # becoming a CartesianProduct
    schema = "k long, tags array<string>, attrs map<string,double>, p struct<x:int,y:string>"
    data = [(1, ["a", "b"], {"w": 1.5}, (7, "q")), (2, None, None, None)]
    t = pw.Table.from_rows(spark, data, schema)
    assert "LocalTableScan" in t.df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in t.df.orderBy("k").collect()] == [
        (1, ["a", "b"], {"w": 1.5}, (7, "q")),
        (2, None, None, None),
    ]
    assert pw.Table.from_rows(spark, [], "k long").df.count() == 0
    with pytest.raises(TypeError):
        pw.Table.from_rows(spark, [("not a long",)], "k long")
    other = pw.Table.from_rows(spark, [("x",), ("y",)], "v string")
    crossed = t.join(other).select(k=t.k, v=other.v)
    plan = crossed.df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert len(rows(crossed)) == 4


def test_chained_join_ambiguous_columns_rejected(spark):
    t1 = pw.Table.from_rows(spark, [(1, "p")], "k long, v string")
    t2 = pw.Table.from_rows(spark, [(1, "q")], "k long, v string")
    t3 = pw.Table.from_rows(spark, [(1,)], "k long")
    with pytest.raises(ValueError, match="ambiguous columns"):
        t1.join(t2, t1.k == t2.k).join(t3)


def test_join_self_same_object_rejected(spark):
    # reference tests/test_common.py test_join_self: same OBJECT on both
    # sides would silently resolve both condition refs to the left —
    # must raise and direct to .copy()
    t = pw.Table.from_rows(spark, [(1, 1), (1, 2)], "foo long, bar long")
    with pytest.raises(ValueError, match="copy"):
        t.join(t, t.foo == t.bar)
    # the sanctioned form works
    out = t.join(t.copy(), pw.left.foo == pw.right.bar).select(
        lf=pw.left.foo, rb=pw.right.bar
    )
    assert rows(out) == [(1, 1), (1, 1)]


def test_ix_argmin_argmax_in_reduce(spark):
    # reference tests/test_common.py:3081 idiom: look up the row AT the
    # argmin/argmax inside reduce — lowered to one min_by/max_by aggregate
    t = pw.Table.from_rows(
        spark,
        [("a", "x", 1.0), ("a", "y", 3.0), ("b", "z", 2.0)],
        "g string, name string, v double",
    )
    out = t.groupby(pw.this.g).reduce(
        pw.this.g,
        lo=t.ix(R.argmin(pw.this.v), context=pw.this).name,
        hi=t.ix(R.argmax(pw.this.v), context=pw.this).name,
    )
    got = {r["g"]: (r["lo"], r["hi"]) for r in out.df.collect()}
    assert got == {"a": ("x", "y"), "b": ("z", "z")}


def test_chained_join_composes_with_filter_and_groupby(spark):
    t1 = pw.Table.from_rows(spark, [(1, "x"), (2, "y")], "k long, xv string")
    t2 = pw.Table.from_rows(spark, [(1, 10), (2, 20)], "k long, m long")
    t3 = pw.Table.from_rows(spark, [(10, "ten"), (20, "twenty")], "m long, name string")
    out = (
        t1.join(t2, t1.k == t2.k)
        .filter(t2.m > 10)
        .join(t3, t2.m == t3.m)
        .select(xv=t1.xv, name=t3.name)
    )
    assert rows(out) == [("y", "twenty")]
    g = (
        t1.join(t2, t1.k == t2.k)
        .join(t3, t2.m == t3.m)
        .groupby(t1.xv)
        .reduce(n=R.count(), sm=R.sum(t2.m))
    )
    assert rows(g) == [("x", 1, 10), ("y", 1, 20)]


def test_udf_reducer_multi_arg(spark):
    class WSum(pw.BaseCustomAccumulator):
        def __init__(self, v):
            self.v = v

        @classmethod
        def from_row(cls, row):
            a, b = row
            return cls(a * b)

        def update(self, other):
            self.v += other.v

        def compute_result(self) -> float:
            return self.v

    wsum = R.udf_reducer(WSum)
    t = pw.Table.from_rows(
        spark, [("a", 2.0, 3.0), ("a", 1.0, 5.0)], "g string, x double, w double"
    )
    out = t.groupby(pw.this.g).reduce(pw.this.g, ws=wsum(pw.this.x, pw.this.w))
    assert rows(out) == [("a", 11.0)]


def test_local_frame_runs_no_job_and_round_trips_every_type(spark):
    import datetime
    import decimal

    from pathwaydataframework_spark.internals.table import local_frame

    schema = (
        "ts timestamp, ntz timestamp_ntz, d date, dec decimal(12,3), b binary, "
        "m map<string,int>, n array<struct<x:int,y:array<string>,z:map<string,double>>>, "
        "s string, f double"
    )
    data = [
        (datetime.datetime(2024, 1, 2, 3, 4, 5, 6), datetime.datetime(2001, 1, 1, 12),
         datetime.date(2020, 2, 29), decimal.Decimal("-1.250"), b"\x00\xff",
         {"a": 1, "b": None}, [(1, ["x", None], {"w": 0.5}), None, (None, None, None)],
         "héllo", float("inf")),
        (None,) * 9,
    ]
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_no_job", "local_frame_no_job")
    try:
        got = local_frame(spark, data, schema).collect()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("local_frame_no_job") == []
    assert got == spark.createDataFrame(data, schema).collect()
