"""Temporal operator semantics on small literal frames — mirrors the
reference's tests/temporal/ suites (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt

import pytest

import pathwaydataframework_spark as pw
from pathwaydataframework_spark.internals import reducers as R
from pathwaydataframework_spark.plans import formatted_plan


def ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture
def events(spark):
    return pw.Table.from_rows(
        spark,
        [
            (1, "u1", ts(0), 1.0),
            (2, "u1", ts(10), 2.0),
            (3, "u1", ts(50), 3.0),
            (4, "u2", ts(5), 4.0),
        ],
        "eid long, user string, t timestamp_ntz, v double",
    )


def test_tumbling(events):
    out = events.windowby(
        pw.this.t, window=pw.tumbling("30 minutes"), instance=pw.this.user
    ).reduce(n=R.count(), sv=R.sum(pw.this.v))
    got = {
        (r["user"], r["_pw_window_start"].minute): (r["n"], r["sv"])
        for r in out.df.collect()
    }
    assert got == {("u1", 0): (2, 3.0), ("u1", 30): (1, 3.0), ("u2", 0): (1, 4.0)}


def test_sliding_counts(events):
    out = events.windowby(
        pw.this.t, window=pw.sliding("15 minutes", "30 minutes")
    ).reduce(n=R.count())
    # event at 10:00 belongs to windows starting 09:45 and 10:00
    starts = {
        (r["_pw_window_start"].hour, r["_pw_window_start"].minute): r["n"]
        for r in out.df.collect()
    }
    assert starts[(9, 45)] == 3  # 10:00, 10:10, 10:05
    assert starts[(10, 0)] == 3
    assert starts[(10, 45)] == 1  # 10:50


def test_session(events):
    out = events.windowby(
        pw.this.t, window=pw.session(max_gap="20 minutes"), instance=pw.this.user
    ).reduce(n=R.count())
    got = sorted((r["user"], r["n"]) for r in out.df.collect())
    # u1: events at 0,10 together; 50 alone.  u2: single session.
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


def test_session_bounds_are_min_max_event_time(events):
    """Reference parity (_window.py:128-129): _pw_window_start = min(key),
    _pw_window_end = max(key) — the LAST EVENT time, not last + gap."""
    out = events.windowby(
        pw.this.t, window=pw.session(max_gap="20 minutes"), instance=pw.this.user
    ).reduce(n=R.count())
    bounds = sorted(
        (r["user"], r["_pw_window_start"], r["_pw_window_end"])
        for r in out.df.collect()
    )
    assert bounds == [
        ("u1", ts(0), ts(10)),
        ("u1", ts(50), ts(50)),
        ("u2", ts(5), ts(5)),
    ]


def test_asof_backward_and_forward(spark):
    quotes = pw.Table.from_rows(
        spark,
        [("A", ts(0), 100.0), ("A", ts(20), 110.0), ("B", ts(0), 50.0)],
        "sym string, qt timestamp_ntz, px double",
    )
    trades = pw.Table.from_rows(
        spark,
        [("A", ts(10)), ("A", ts(25)), ("B", ts(0)), ("C", ts(5))],
        "sym string, tt timestamp_ntz",
    )
    bwd = trades.asof_join(
        quotes, pw.this.tt, pw.this.qt, pw.left.sym == pw.right.sym, how="left"
    ).select(sym=pw.left.sym, tt=pw.left.tt, px=pw.right.px)
    got = {(r["sym"], r["tt"].minute): r["px"] for r in bwd.df.collect()}
    assert got == {("A", 10): 100.0, ("A", 25): 110.0, ("B", 0): 50.0, ("C", 5): None}

    fwd = trades.asof_join(
        quotes,
        pw.this.tt,
        pw.this.qt,
        pw.left.sym == pw.right.sym,
        how="inner",
        direction="forward",
    ).select(sym=pw.left.sym, tt=pw.left.tt, px=pw.right.px)
    got = {(r["sym"], r["tt"].minute): r["px"] for r in fwd.df.collect()}
    # A@10 → next quote at 20 (110); A@25 → none; B@0 → 50 (inclusive)
    assert got == {("A", 10): 110.0, ("B", 0): 50.0}


def test_asof_join_defaults_fill_unmatched_sides(spark):
    """Reference asof_join(defaults=...): a ``{column ref: value}`` map whose
    value replaces that column in result rows where its side had no match."""
    left = pw.Table.from_rows(
        spark, [(1, ts(10), 1.0), (2, ts(10), 2.0)], "k long, t timestamp_ntz, v double"
    )
    right = pw.Table.from_rows(
        spark, [(1, ts(0), 10.0), (3, ts(0), 30.0)], "k long, rt timestamp_ntz, w double"
    )
    on = pw.left.k == pw.right.k

    def rows(result):
        out = result.select(lk=pw.left.k, v=pw.left.v, rk=pw.right.k, w=pw.right.w)
        return sorted((tuple(r) for r in out.df.collect()), key=str)

    # left k=2 has no match: w takes its default, rk stays NULL
    got = rows(left.asof_join(right, pw.this.t, pw.this.rt, on, defaults={right.w: -1.0}))
    assert got == [(1, 1.0, 1, 10.0), (2, 2.0, None, -1.0)]
    # the padded right row k=3 has no left side: v takes its default
    got = rows(
        left.asof_join(
            right, pw.this.t, pw.this.rt, on, how="outer",
            defaults={pw.right.w: -1.0, pw.left.v: 0.0},
        )
    )
    assert got == [(1, 1.0, 1, 10.0), (2, 2.0, None, -1.0), (None, 0.0, 3, 30.0)]


def test_temporal_join_select_dispatches_on_type_like_join(spark):
    """A select over an asof or interval result resolves through the same
    context as one over a join: string ``+`` concatenates, int ``&`` is
    bitwise, and an int64 ``-`` overflow is NULL."""
    left = pw.Table.from_rows(
        spark, [(1, ts(0), "a", 6, -(2**63))],
        "k long, t timestamp_ntz, s string, m long, x long",
    )
    right = pw.Table.from_rows(
        spark, [(1, ts(0), "b", 3, 1)], "k long, rt timestamp_ntz, u string, n long, y long"
    )
    on = pw.left.k == pw.right.k

    def rows(result):
        out = result.select(
            c=pw.left.s + pw.right.u, b=pw.left.m & pw.right.n, d=pw.left.x - pw.right.y
        )
        return [tuple(r) for r in out.df.collect()]

    expected = rows(left.join(right, on))
    assert expected == [("ab", 2, None)]
    assert rows(left.asof_join(right, pw.this.t, pw.this.rt, on)) == expected
    assert rows(
        left.interval_join(right, pw.this.t, pw.this.rt, pw.interval(0, 60), on)
    ) == expected


def test_interval_join_matches_naive(spark, events):
    right = pw.Table.from_rows(
        spark,
        [("u1", ts(7)), ("u1", ts(45)), ("u2", ts(5))],
        "user string, rt timestamp_ntz",
    )
    j = events.interval_join(
        right,
        pw.this.t,
        pw.this.rt,
        pw.interval("-5 minutes", "5 minutes"),
        pw.left.user == pw.right.user,
    ).select(eid=pw.left.eid, rt=pw.right.rt)
    got = sorted((r["eid"], r["rt"].minute) for r in j.df.collect())
    # naive: |rt - t| <= 5min per user
    # eid1 t=0: rt7? diff 7 no. eid2 t=10: rt7 diff -3 yes; rt45 no.
    # eid3 t=50: rt45 yes. eid4 u2 t=5: rt5 yes.
    assert got == [(2, 7), (3, 45), (4, 5)]


def test_interval_join_outer_pads(spark, events):
    right = pw.Table.from_rows(
        spark, [("u1", ts(7))], "user string, rt timestamp_ntz"
    )
    j = events.interval_join(
        right,
        pw.this.t,
        pw.this.rt,
        pw.interval("-5 minutes", "5 minutes"),
        pw.left.user == pw.right.user,
        how="left",
    ).select(eid=pw.left.eid, rt=pw.right.rt)
    got = sorted(
        (r["eid"], r["rt"].minute if r["rt"] else None) for r in j.df.collect()
    )
    assert got == [(1, None), (2, 7), (3, None), (4, None)]


def test_window_join(spark, events):
    other = pw.Table.from_rows(
        spark,
        [("u1", ts(12)), ("u1", ts(40)), ("u2", ts(29))],
        "user string, t2 timestamp_ntz",
    )
    j = events.window_join(
        other,
        pw.this.t,
        pw.this.t2,
        pw.tumbling("30 minutes"),
        pw.left.user == pw.right.user,
    ).select(eid=pw.left.eid, m=pw.right.t2)
    got = sorted((r["eid"], r["m"].minute) for r in j.df.collect())
    # 30-min windows: [10:00,10:30): eids 1,2 (u1) join t2=12; eid4 (u2) joins 29.
    # [10:30,11:00): eid3 (u1, t=50) joins t2=40.
    assert got == [(1, 12), (2, 12), (3, 40), (4, 29)]


def test_intervals_over(spark, events):
    probes = pw.Table.from_rows(
        spark, [(ts(10),), (ts(55),)], "p timestamp_ntz"
    )
    out = events.windowby(
        pw.this.t,
        window=pw.intervals_over(
            at=probes.p, lower_bound="-15 minutes", upper_bound="0 minutes", is_outer=False
        ),
    ).reduce(n=R.count(), sv=R.sum(pw.this.v))
    got = {r["_pw_window"].minute: (r["n"], r["sv"]) for r in out.df.collect()}
    # probe 10:10 ← events at 10:00,10:10,10:05 → n=3, sum=7; probe 10:55 ← 10:50
    assert got == {10: (3, 7.0), 55: (1, 3.0)}

    def by(instance):
        return events.windowby(
            pw.this.t,
            window=pw.intervals_over(
                at=probes.p, lower_bound="-15 minutes", upper_bound="0 minutes", is_outer=False
            ),
            instance=instance,
        ).reduce(n=R.count())

    # an expression instance groups by its value, exposed as _pw_instance
    got = {(r["_pw_window"].minute, r["_pw_instance"]): r["n"] for r in by(pw.this.eid % 2).df.collect()}
    assert got == {(10, 1): 1, (10, 0): 2, (55, 1): 1}
    # a column instance keeps its name and is also exposed as _pw_instance
    out = by(pw.this.user)
    assert out.df.columns == ["_pw_window", "user", "_pw_instance", "n"]
    got = {(r["_pw_window"].minute, r["user"], r["_pw_instance"]): r["n"] for r in out.df.collect()}
    assert got == {(10, "u1", "u1"): 2, (10, "u2", "u2"): 1, (55, "u1", "u1"): 1}


def test_sort_diff_topk(spark, events):
    s = events.sort(pw.this.t, instance=pw.this.user)
    cols = s.df.columns
    assert "prev" in cols and "next" in cols

    d = events.diff(pw.this.t, pw.this.v, instance=pw.this.user)
    got = {r["eid"]: r["diff_v"] for r in d.df.collect()}
    assert got[1] is None and got[2] == 1.0 and got[3] == 1.0 and got[4] is None

    tk = events.topk(1, pw.this.v, instance=pw.this.user)
    assert sorted(r["eid"] for r in tk.df.collect()) == [3, 4]


def test_interpolate(spark):
    t = pw.Table.from_rows(
        spark,
        [(ts(0), 0.0), (ts(10), None), (ts(20), 10.0), (ts(30), None)],
        "t timestamp_ntz, v double",
    )
    out = t.interpolate(pw.this.t, pw.this.v)
    got = {r["t"].minute: r["v"] for r in out.df.collect()}
    assert got == {0: 0.0, 10: 5.0, 20: 10.0, 30: 10.0}


def test_deduplicate(spark, events):
    out = events.deduplicate(value=pw.this.eid, instance=pw.this.user)
    got = sorted(r["eid"] for r in out.df.collect())
    assert got == [3, 4]


def test_directional_temporal_joins_actually_differ(spark):
    """r2 review regression: window/asof/interval right+outer variants must
    pad the respective side, not silently degrade to inner/left."""
    import datetime as dt

    import pathwaydataframework_spark as pw

    T0 = dt.datetime(2024, 1, 1)
    left = pw.Table.from_rows(
        spark,
        [("k", T0 + dt.timedelta(minutes=5), 1.0)],
        "g string, t timestamp_ntz, v double",
    )
    right = pw.Table.from_rows(
        spark,
        [("k", T0 + dt.timedelta(minutes=2), 10.0),
         ("k", T0 + dt.timedelta(hours=3), 99.0)],  # matches nothing
        "g string, rt timestamp_ntz, w double",
    )

    # window_join left: unmatched left row padded; right: unmatched right padded
    win = pw.temporal.tumbling("1 hour")
    inner = pw.temporal.window_join_inner(
        left, right, pw.this.t, pw.this.rt, win, pw.left.g == pw.right.g
    ).select(v=pw.left.v, w=pw.right.w)
    assert sorted(tuple(r) for r in inner.df.collect()) == [(1.0, 10.0)]
    router = pw.temporal.window_join_right(
        left, right, pw.this.t, pw.this.rt, win, pw.left.g == pw.right.g
    ).select(v=pw.left.v, w=pw.right.w)
    assert sorted((tuple(r) for r in router.df.collect()), key=str) == sorted(
        [(1.0, 10.0), (None, 99.0)], key=str
    )

    # asof right: matched pair + never-matched right row padded
    ar = pw.temporal.asof_join_right(
        left, right, pw.this.t, pw.this.rt, pw.left.g == pw.right.g
    ).select(v=pw.left.v, w=pw.right.w)
    assert sorted((tuple(r) for r in ar.df.collect()), key=str) == sorted(
        [(1.0, 10.0), (None, 99.0)], key=str
    )
    ao = pw.temporal.asof_join_outer(
        left, right, pw.this.t, pw.this.rt, pw.left.g == pw.right.g
    ).select(v=pw.left.v, w=pw.right.w)
    assert len(ao.df.collect()) == 2  # matched left + unmatched right

    # interval right: unmatched right padded
    ir = pw.temporal.interval_join_right(
        left, right, pw.this.t, pw.this.rt,
        pw.interval("-10 minutes", "10 minutes"), pw.left.g == pw.right.g,
    ).select(v=pw.left.v, w=pw.right.w)
    assert sorted((tuple(r) for r in ir.df.collect()), key=str) == sorted(
        [(1.0, 10.0), (None, 99.0)], key=str
    )


def test_degenerate_point_band_interval_join(spark):
    """ub == lb: equal instants must match (the 1e-9 bucket width put them
    hundreds of buckets apart via double precision loss)."""
    import datetime as dt

    import pathwaydataframework_spark as pw

    T = dt.datetime(2024, 3, 7, 12, 30, 15)
    left = pw.Table.from_rows(spark, [("k", T)], "g string, t timestamp_ntz")
    right = pw.Table.from_rows(
        spark, [("k", T + dt.timedelta(seconds=30))], "g string, rt timestamp_ntz"
    )
    out = pw.temporal.interval_join(
        left, right, pw.this.t, pw.this.rt,
        pw.interval("30 seconds", "30 seconds"), pw.left.g == pw.right.g,
    ).select(t=pw.left.t, rt=pw.right.rt)
    assert out.df.count() == 1


def test_asof_right_pad_preserves_duplicate_multiplicity(spark):
    """r3 advice regression: byte-identical duplicate right rows share a row
    hash; the right/outer pad must re-emit n-1 copies when one copy matched
    (the asof window selects exactly one of a tied set) and n copies when
    none did — not collapse them all."""
    import datetime as dt

    import pathwaydataframework_spark as pw

    T0 = dt.datetime(2024, 1, 1)
    left = pw.Table.from_rows(
        spark,
        [("k", T0 + dt.timedelta(minutes=5), 1.0)],
        "g string, t timestamp_ntz, v double",
    )
    # two identical matched candidates + two identical never-matched rows
    right = pw.Table.from_rows(
        spark,
        [
            ("k", T0 + dt.timedelta(minutes=2), 10.0),
            ("k", T0 + dt.timedelta(minutes=2), 10.0),
            ("k", T0 + dt.timedelta(hours=3), 99.0),
            ("k", T0 + dt.timedelta(hours=3), 99.0),
        ],
        "g string, rt timestamp_ntz, w double",
    )
    out = pw.temporal.asof_join_right(
        left, right, pw.this.t, pw.this.rt, pw.left.g == pw.right.g
    ).select(v=pw.left.v, w=pw.right.w)
    got = sorted((tuple(r) for r in out.df.collect()), key=str)
    # 1 matched pair, 1 padded twin of the matched value, 2 padded 99s
    assert got == sorted(
        [(1.0, 10.0), (None, 10.0), (None, 99.0), (None, 99.0)], key=str
    )


def test_joinmode_enum_accepted_by_all_joins(spark):
    """r3 advice regression: pw.JoinMode enums must be accepted anywhere a
    how= string is (top-level join + every temporal join), not just
    Table.join."""
    import datetime as dt

    import pathwaydataframework_spark as pw

    T0 = dt.datetime(2024, 1, 1)
    left = pw.Table.from_rows(
        spark, [("k", T0, 1.0)], "g string, t timestamp_ntz, v double"
    )
    right = pw.Table.from_rows(
        spark, [("x", T0, 9.0)], "g string, rt timestamp_ntz, w double"
    )
    jr = pw.join(left, right, pw.left.g == pw.right.g, how=pw.JoinMode.LEFT)
    assert jr.select(v=pw.left.v, w=pw.right.w).df.count() == 1
    a = pw.temporal.asof_join(
        left, right, pw.this.t, pw.this.rt, pw.left.g == pw.right.g,
        how=pw.JoinMode.LEFT,
    )
    assert a.select(v=pw.left.v).df.count() == 1
    i = pw.temporal.interval_join(
        left, right, pw.this.t, pw.this.rt,
        pw.interval("-1 hours", "1 hours"), pw.left.g == pw.right.g,
        how=pw.JoinMode.OUTER,
    )
    assert i.select(v=pw.left.v, w=pw.right.w).df.count() == 2
    wj = pw.temporal.window_join(
        left, right, pw.this.t, pw.this.rt, pw.temporal.tumbling("1 hours"),
        pw.left.g == pw.right.g, how=pw.JoinMode.OUTER,
    )
    assert wj.select(v=pw.left.v, w=pw.right.w).df.count() == 2


def test_session_predicate_through_windowby_reduce(spark):
    # the reference call shape (_window.py:595): predicate sessions through
    # the ordinary windowby(...).reduce(...) path, with full reducer
    # generality (avg is not expressible in the (col, kind) dict API)
    import datetime as dt

    def mts(m):
        return dt.datetime(2024, 1, 1, 10, m)

    t = pw.Table.from_rows(
        spark,
        [
            ("u1", mts(0), 1.0),
            ("u1", mts(4), 2.0),
            ("u1", mts(30), 3.0),
            ("u2", mts(1), 4.0),
        ],
        "user string, t timestamp_ntz, v double",
    )
    out = t.windowby(
        pw.this.t,
        window=pw.temporal.session(
            predicate=lambda prev, nxt: (nxt - prev).total_seconds() <= 600
        ),
        instance=pw.this.user,
    ).reduce(n=R.count(), sv=R.sum(pw.this.v), av=R.avg(pw.this.v))
    got = sorted(
        (r["user"], r["n"], r["sv"], r["av"],
         r["_pw_window_start"].minute, r["_pw_window_end"].minute)
        for r in out.df.collect()
    )
    assert got == [
        ("u1", 1, 3.0, 3.0, 30, 30),
        ("u1", 2, 3.0, 1.5, 0, 4),
        ("u2", 1, 4.0, 4.0, 1, 1),
    ]


def test_session_predicate_windowby_no_instance(spark):
    t = pw.Table.from_rows(
        spark,
        [(1.0, 10.0), (2.0, 20.0), (10.0, 30.0)],
        "t double, v double",
    )
    out = t.windowby(
        pw.this.t,
        window=pw.temporal.session(predicate=lambda a, b: b - a <= 2.0),
    ).reduce(n=R.count(), mx=R.max(pw.this.v))
    got = sorted((r["n"], r["mx"]) for r in out.df.collect())
    assert got == [(1, 30.0), (2, 20.0)]


def test_windowby_reduce_reference_call_shape(spark):
    # reference tests/temporal/test_windows.py:23 — positional key columns
    # (pw.this._pw_instance/_pw_window_start/_pw_window_end) are accepted
    # and the canonical _pw_instance key name is exposed alongside the
    # original instance column
    t = pw.Table.from_rows(
        spark,
        [(0, 1.0, 10.0), (0, 2.0, 1.0), (0, 4.0, 3.0), (0, 8.0, 2.0),
         (0, 9.0, 4.0), (0, 10.0, 8.0), (1, 1.0, 9.0), (1, 2.0, 16.0)],
        "instance long, t double, v double",
    )
    gb = t.windowby(
        pw.this.t,
        window=pw.temporal.session(predicate=lambda a, b: abs(a - b) <= 1),
        instance=pw.this.instance,
    )
    result = gb.reduce(
        pw.this._pw_instance,
        pw.this._pw_window_start,
        pw.this._pw_window_end,
        min_t=R.min(pw.this.t),
        max_v=R.max(pw.this.v),
        count=R.count(),
    )
    got = sorted(
        (r["_pw_instance"], r["_pw_window_start"], r["_pw_window_end"],
         r["min_t"], r["max_v"], r["count"])
        for r in result.df.collect()
    )
    assert got == [
        (0, 1.0, 2.0, 1.0, 10.0, 2),
        (0, 4.0, 4.0, 4.0, 3.0, 1),
        (0, 8.0, 10.0, 8.0, 8.0, 3),
        (1, 1.0, 2.0, 1.0, 16.0, 2),
    ]


def test_windowby_tumbling_exposes_pw_instance(spark):
    import datetime as dt

    t = pw.Table.from_rows(
        spark,
        [("a", dt.datetime(2024, 1, 1, 0, 5)), ("b", dt.datetime(2024, 1, 1, 0, 10))],
        "g string, ts timestamp_ntz",
    )
    out = t.windowby(
        pw.this.ts, window=pw.tumbling("1 hour"), instance=pw.this.g
    ).reduce(pw.this.g, n=R.count())
    cols = out.df.columns
    assert "_pw_instance" in cols and "g" in cols
    assert {r["_pw_instance"] for r in out.df.collect()} == {"a", "b"}


def test_numeric_time_windows(spark):
    # reference tests/temporal/test_windows.py test_tumbling (int time),
    # test_tumbling_floats / test_sliding_floats, test_session_max_gap
    t = pw.Table.from_rows(
        spark,
        [(0, 12), (0, 13), (0, 14), (0, 15), (0, 16), (0, 17), (1, 12), (1, 13)],
        "instance long, t long",
    )
    out = t.windowby(
        pw.this.t, window=pw.temporal.tumbling(duration=5), instance=pw.this.instance
    ).reduce(
        pw.this._pw_instance,
        min_t=R.min(pw.this.t),
        max_t=R.max(pw.this.t),
        count=R.count(),
    )
    got = sorted(
        (r["_pw_instance"], r["_pw_window_start"], r["_pw_window_end"],
         r["min_t"], r["max_t"], r["count"])
        for r in out.df.collect()
    )
    assert got == [
        (0, 10, 15, 12, 14, 3),
        (0, 15, 20, 15, 17, 3),
        (1, 10, 15, 12, 13, 2),
    ]

    # float tumbling: every point lands in exactly one window
    fl = pw.Table.from_rows(
        spark, [(0.1 * (k + 1),) for k in range(100)], "t double"
    )
    tf = fl.windowby(
        pw.this.t, window=pw.temporal.tumbling(duration=0.1, origin=-0.1)
    ).reduce(count=R.count())
    assert sum(r["count"] for r in tf.df.collect()) == 100

    # float sliding with ratio: each point in exactly 3 windows
    sf2 = fl.windowby(
        pw.this.t, window=pw.temporal.sliding(hop=0.1, ratio=3, origin=-0.1)
    ).reduce(count=R.count())
    assert sum(r["count"] for r in sf2.df.collect()) == 300

    # numeric session max_gap: strict merge (next - cur < gap)
    s = pw.Table.from_rows(
        spark, [(1.0,), (1.1,), (1.2,), (3.0,), (3.4,), (3.5,)], "t double"
    )
    so = s.windowby(
        pw.this.t, window=pw.temporal.session(max_gap=0.15)
    ).reduce(min_t=R.min(pw.this.t), count=R.count())
    got_s = sorted((r["min_t"], r["count"]) for r in so.df.collect())
    assert got_s == [(1.0, 3), (3.0, 1), (3.4, 2)]
    # the gap is a native comparison, not a Python UDF
    assert "ArrowEvalPython" not in formatted_plan(so.df)


def test_asof_join_numeric_time(spark):
    # reference tests/temporal/test_asof_joins.py uses int event times
    l = pw.Table.from_rows(spark, [(1, 3), (2, 7)], "k long, t long")
    r = pw.Table.from_rows(spark, [(1, 4), (1, 2), (2, 20)], "k long, rt long")
    bwd = l.asof_join(
        r, pw.this.t, pw.this.rt, pw.left.k == pw.right.k, how="left"
    ).select(k=pw.left.k, t=pw.left.t, rt=pw.right.rt)
    assert sorted(tuple(x) for x in bwd.df.collect()) == [(1, 3, 2), (2, 7, None)]
    near = l.asof_join(
        r, pw.this.t, pw.this.rt, pw.left.k == pw.right.k,
        how="left", direction="nearest",
    ).select(k=pw.left.k, t=pw.left.t, rt=pw.right.rt)
    assert sorted(tuple(x) for x in near.df.collect()) == [(1, 3, 2), (2, 7, 20)]
