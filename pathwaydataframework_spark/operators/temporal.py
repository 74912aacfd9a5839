"""Temporal operators — windows and time-based joins.

Reference equivalents (SURVEY.md §2.3/2.5):
- ``windowby`` + tumbling/sliding/session windows (stdlib/temporal/_window.py:
  tumbling :737, sliding :660, session :595, intervals_over :795)
- ``interval_join`` (stdlib/temporal/_interval_join.py:577; the double-bucket
  physical strategy at :317-385)
- ``asof_join`` (stdlib/temporal/_asof_join.py:479)
- ``window_join`` (stdlib/temporal/_window_join.py:156)

Physical strategies (designed for 100 TB, tested at sf0.1):

* tumbling/sliding → ``F.window``: the expansion happens JVM-side (Expand
  operator), aggregation is a plain hash-agg keyed on (window, instance) — one
  shuffle, fully parallel.
* session(max_gap) over timestamps → ``F.session_window``: Spark's native
  session aggregation (one shuffle on instance, sessionization within
  partitions).  Numeric max_gap and predicate sessions → ``lag(t)`` per
  instance, a break flag (a native gap comparison, or the predicate as a
  pandas UDF over the (prev, cur) times), a running-sum session id and a
  hash aggregate; ``operators.stateful.session_windows_by_predicate`` is
  this same path.
* interval_join → the same double-bucketing trick the reference uses
  (equi-join on ``floor(t/width)`` buckets, candidates from 2 adjacent
  buckets, then band filter).  This turns an O(n·m) range join into an
  equi-join Catalyst can hash-partition — the plan that survives scale-up.
  Each left row probes exactly the two buckets that can contain matches, so
  no duplicate results and no skew beyond the data's own time skew.
* asof_join → union + ``last(..., ignorenulls)`` over a time-ordered window
  partitioned by key: ONE shuffle + per-partition sort, no row explosion at
  all.  (The pandas ``merge_asof`` route would force an Arrow round-trip;
  this stays entirely in Tungsten.)
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, Window as W

from pathwaydataframework_spark.internals.expression import (
    LEFT,
    RIGHT,
    THIS,
    BinOp,
    ColumnRef,
    lift,
)
from pathwaydataframework_spark.internals.groupbys import GroupedContext
from pathwaydataframework_spark.internals.joins import _HOW, JoinResult, join, join_mode, with_instance
from pathwaydataframework_spark.internals.table import Table


def duration_to_seconds(duration) -> float:
    if isinstance(duration, _dt.timedelta):
        return duration.total_seconds()
    if isinstance(duration, (int, float)):
        return float(duration)
    m = re.fullmatch(r"\s*(-?\d+(?:\.\d+)?)\s*(\w+?)s?\s*", str(duration))
    if not m:
        raise ValueError(f"bad duration {duration!r}")
    n, unit = float(m.group(1)), m.group(2)
    mult = {
        "week": 604800,
        "day": 86400,
        "hour": 3600,
        "minute": 60,
        "min": 60,
        "second": 1,
        "sec": 1,
        "millisecond": 1e-3,
        "microsecond": 1e-6,
    }[unit]
    return n * mult


def _duration_str(duration) -> str:
    if isinstance(duration, str):
        return duration
    secs = duration_to_seconds(duration)
    if secs == int(secs):
        return f"{int(secs)} seconds"
    return f"{int(secs * 1_000_000)} microseconds"


def _time_dtype(df, col: Column) -> str:
    return dict(df.select(col.alias("__t")).dtypes)["__t"]


def _is_numeric(dtype: str) -> bool:
    """Numeric event time: the reference accepts int/float times."""
    return dtype in ("bigint", "int", "smallint", "tinyint", "double", "float") or (
        dtype.startswith("decimal")
    )


def _epoch_seconds(col: Column) -> Column:
    """Exact epoch seconds (micro precision) for TIMESTAMP / TIMESTAMP_NTZ.

    NTZ→LTZ cast uses the session timezone; data.py pins it to UTC so the
    value is the naive wall-clock epoch — matching DuckDB's epoch() on naive
    timestamps."""
    return F.unix_micros(col.cast("timestamp")) / F.lit(1e6)


# -- window specs -----------------------------------------------------------


class Window:
    """Abstract window-spec base — reference _window.py:42.  All four spec
    dataclasses subclass it so ``isinstance(w, temporal.Window)`` works."""


@dataclass(frozen=True)
class TumblingWindow(Window):
    duration: Any
    origin: Any = None


@dataclass(frozen=True)
class SlidingWindow(Window):
    hop: Any
    duration: Any
    origin: Any = None
    # hop-multiplier window length when constructed via ratio= — numeric
    # windows use it for the reference's exact-tiling end = start(k+ratio)
    ratio: Any = None


@dataclass(frozen=True)
class SessionWindow(Window):
    max_gap: Any = None
    predicate: Any = None


@dataclass(frozen=True)
class IntervalsOverWindow(Window):
    at: Any
    lower_bound: Any
    upper_bound: Any
    is_outer: bool = True


def tumbling(duration, origin=None) -> TumblingWindow:
    """Reference _window.py:737."""
    return TumblingWindow(duration, origin)


def sliding(hop, duration=None, ratio=None, origin=None) -> SlidingWindow:
    """Reference _window.py:660."""
    if duration is None:
        if ratio is None:
            raise ValueError("need duration or ratio")
        duration = duration_to_seconds(hop) * ratio
    return SlidingWindow(hop, duration, origin, ratio)


def session(max_gap=None, predicate=None) -> SessionWindow:
    """Reference _window.py:595."""
    if max_gap is None and predicate is None:
        raise ValueError("need max_gap or predicate")
    return SessionWindow(max_gap, predicate)


def intervals_over(*, at, lower_bound, upper_bound, is_outer: bool = True) -> IntervalsOverWindow:
    """Reference _window.py:795."""
    return IntervalsOverWindow(at, lower_bound, upper_bound, is_outer)


@dataclass(frozen=True)
class interval:
    """Time band for interval_join — reference pw.temporal.interval."""

    lower_bound: Any
    upper_bound: Any


# -- windowby ---------------------------------------------------------------


class WindowedTable:
    """GroupedTable-alike over time windows; ``reduce`` yields
    ``_pw_window_start`` / ``_pw_window_end`` (+ instance) columns like the
    reference (_window.py:865 → key cols)."""

    def __init__(self, table: Table, time_expr, window, instance=None, behavior=None):
        self._table = table
        self._time = time_expr
        self._window = window
        self._instance = instance
        self._behavior = behavior  # batch mode: cutoff/delay are no-ops

    def reduce(self, *args, **aggs) -> Table:
        # positional args may name the auto-included key columns the
        # reference exposes (`pw.this._pw_instance/_pw_window_start/
        # _pw_window_end`, or the instance's original column) — reference
        # windowby reduce call shape (tests/temporal/test_windows.py:44)
        allowed = {"_pw_instance", "_pw_window", "_pw_window_start", "_pw_window_end"}
        if isinstance(self._instance, ColumnRef):
            allowed.add(self._instance.name)
        for a in args:
            if not (isinstance(a, ColumnRef) and a.name in allowed):
                raise ValueError(
                    "positional windowby-reduce args must be the window/"
                    f"instance key columns ({sorted(allowed)}); got {a!r}"
                )
        win = self._window
        t = self._table
        tcol = t._resolve(self._time)
        # the reference accepts int/float event time everywhere
        # (tests/temporal/test_windows.py test_tumbling/test_*_floats);
        # F.window needs timestamps, so numeric time takes an arithmetic path
        tdtype = _time_dtype(t._df, tcol)
        numeric_time = _is_numeric(tdtype)
        bt = t
        if self._behavior is not None and t._df.isStreaming and not numeric_time:
            bt, tcol = self._apply_stream_behavior(t, tcol)
        if isinstance(win, TumblingWindow):
            if numeric_time:
                return self._numeric_window_reduce(win, tcol, tdtype, aggs)
            wcol = F.window(tcol, _duration_str(win.duration), startTime=_origin_offset(win))
            return self._agg_by_window(wcol, aggs, table=bt)
        if isinstance(win, SlidingWindow):
            if numeric_time:
                return self._numeric_window_reduce(win, tcol, tdtype, aggs)
            wcol = F.window(
                tcol,
                _duration_str(win.duration),
                _duration_str(win.hop),
                startTime=_origin_offset(win),
            )
            return self._agg_by_window(wcol, aggs, table=bt)
        if isinstance(win, SessionWindow):
            if win.predicate is not None:
                # reference _window.py:595 accepts predicate sessions through
                # the ordinary windowby(...).reduce(...) call shape
                return self._session_reduce(_predicate_breaks(win.predicate), aggs)
            if numeric_time:
                # numeric max_gap session: the reference's STRICT merge
                # (next - cur < max_gap, _window.py:80), so a gap of
                # max_gap or more breaks — a native comparison
                gap = F.lit(duration_to_seconds(win.max_gap))
                return self._session_reduce(lambda prev, cur: (cur - prev) >= gap, aggs)
            # reference merge is STRICT: next - cur < max_gap splits exactly-
            # gap-apart events (_window.py:80); Spark's session_window merges
            # on <= (closed interval).  Shrinking the gap by 1 µs (timestamp
            # resolution) reproduces strict semantics; the µs is added back
            # to the reported window end.
            gap_us = int(duration_to_seconds(win.max_gap) * 1_000_000) - 1
            wcol = F.session_window(tcol, f"{gap_us} microseconds")
            return self._agg_by_window(wcol, aggs, session=True, tcol=tcol, table=bt)
        if isinstance(win, IntervalsOverWindow):
            return self._intervals_over_reduce(win, aggs)
        raise TypeError(f"bad window {win!r}")

    def _numeric_window_reduce(self, win, tcol: Column, tdtype: str, aggs) -> Table:
        """Tumbling/sliding windows over NUMERIC event time — pure window
        arithmetic (floor bucketing; sliding explodes each row into its
        ≤ ceil(dur/hop) candidate starts), grouped by the start value.
        Integer time with integral duration/origin keeps integer window
        bounds, matching the reference's int-time tables."""
        t = self._table
        origin = float(win.origin or 0)
        dur = duration_to_seconds(win.duration)
        hop = dur if isinstance(win, TumblingWindow) else duration_to_seconds(win.hop)
        integral = (
            tdtype in ("bigint", "int", "smallint", "tinyint")
            and dur.is_integer()
            and hop.is_integer()
            and origin.is_integer()
        )
        tt = tcol.cast("double")

        # the reference's "k-th stable window" scheme (_window.py:286-326):
        # window IDENTITY is the integer hop-multiplier k (start = k·hop +
        # origin, end = start + duration), so grouping never compares fuzzy
        # float starts; candidate ks around floor((t−origin)/hop) are
        # filtered by start ≤ t < end, and — when origin was given
        # explicitly — by start ≥ origin (reference drops pre-origin
        # windows, _window.py:325)
        # hop-multiplier length: reference tumbling IS sliding(ratio=1)
        # (_window.py:785), and the ratio form gives exact tiling —
        # end(k) = start(k + ratio) is the SAME float expression as the
        # next window's start, so boundary points never fall in a gap
        if isinstance(win, TumblingWindow):
            ratio_hops = 1
        elif getattr(win, "ratio", None) is not None:
            ratio_hops = int(win.ratio)
        elif (dur / hop).is_integer():
            ratio_hops = int(dur / hop)
        else:
            ratio_hops = None

        def _start_of(k: Column) -> Column:
            if integral:
                return (k * F.lit(int(hop)) + F.lit(int(origin))).cast("long")
            return k.cast("double") * F.lit(hop) + F.lit(origin)

        def _end_of(k: Column) -> Column:
            if ratio_hops is not None:
                return _start_of(k + F.lit(ratio_hops))
            if integral:
                return (_start_of(k) + F.lit(int(dur))).cast("long")
            return _start_of(k) + F.lit(dur)

        m = ratio_hops if ratio_hops is not None else int(dur // hop)
        last_k = (F.floor((tt - F.lit(origin)) / F.lit(hop)) + 1).cast("long")
        cands = F.array(*[last_k - F.lit(i) for i in range(m + 3)])
        origin_given = (
            win.origin is not None if isinstance(win, (TumblingWindow, SlidingWindow))
            else False
        )

        def _fits(k: Column) -> Column:
            ok = (_start_of(k) <= tt) & (tt < _end_of(k))
            if origin_given:
                ok = ok & (_start_of(k) >= F.lit(int(origin) if integral else origin))
            return ok

        df = t._df.withColumn("__pw_k", F.explode(F.filter(cands, _fits)))
        df, inst_keys = self._with_instance(df, t)
        out = df.groupBy(_start_of(F.col("__pw_k")).alias("_pw_window_start"), *inst_keys).agg(
            F.min(_end_of(F.col("__pw_k"))).alias("_pw_window_end"), *_reduce_cols(df, aggs)
        )
        return _window_output(out, ["_pw_window_start", "_pw_window_end"], inst_keys, aggs)

    def _session_reduce(self, breaks, aggs) -> Table:
        """Sessions over a break condition: ``breaks(prev_t, t)`` is a
        Column that is true where ``t`` starts a new session after the
        previous event time ``prev_t`` of its instance.

        Reference _window.py:595 (SessionWindow._merge).  Physical plan: one
        shuffle on instance, lag(t) within partition, the break condition
        over (prev, cur) pairs only (never the payload), a running-sum
        session id, then a NATIVE hash aggregate — so every reducer (avg,
        sorted_tuple, ...) composes.
        """
        t = self._table
        df = t._df.withColumn("__pw_t", t._resolve(self._time))
        df, inst_keys = self._with_instance(df, t)
        w = W.partitionBy(*(inst_keys or [F.lit(0)])).orderBy("__pw_t")
        df = df.withColumn("__pw_prev_t", F.lag("__pw_t").over(w))
        prev_t, cur_t = F.col("__pw_prev_t"), F.col("__pw_t")
        df = df.withColumn(
            "__pw_break",
            F.when(prev_t.isNull() | breaks(prev_t, cur_t), F.lit(1)).otherwise(F.lit(0)),
        )
        df = df.withColumn(
            "__pw_session",
            F.sum("__pw_break").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        out = df.groupBy(*inst_keys, "__pw_session").agg(
            F.min("__pw_t").alias("_pw_window_start"),
            F.max("__pw_t").alias("_pw_window_end"),
            *_reduce_cols(df, aggs),
        )
        return _window_output(out, ["_pw_window_start", "_pw_window_end"], inst_keys, aggs)

    def _with_instance(self, df, t: Table):
        """``df`` with windowby's instance as a named column, and the
        instance key names: a column instance keeps its name, any other
        instance is ``_pw_instance``; no instance gives no key."""
        if self._instance is None:
            return df, []
        name = self._instance.name if isinstance(self._instance, ColumnRef) else "_pw_instance"
        if name == "_pw_instance" or name not in df.columns:
            df = df.withColumn(name, t._resolve(self._instance))
        return df, [name]

    def _apply_stream_behavior(self, t: Table, tcol: Column):
        """Lower the attached reference behavior onto a STREAMING plan
        (SURVEY §2.5 — reference stdlib/temporal/temporal_behavior.py:29,83):

        - ``common_behavior(cutoff=c)`` → ``withWatermark(event_time, c)``:
          rows arriving after the frontier passes window_end + c are
          dropped and their window state evicted — the reference's
          late-data cutoff.
        - ``exactly_once_behavior(shift=s)`` → ``withWatermark(event_time,
          s)``; with the sink in APPEND mode each window is emitted exactly
          once — when the frontier passes window_end + shift — and never
          retracted, the reference's emit-once contract.

        ``delay`` and ``keep_results`` are sink-side in Spark (trigger
        interval / output-mode choice — DEVIATIONS.md); Spark watermarks
        are timestamp-only, so numeric event time keeps batch semantics.
        Returns (watermarked table, event-time column to window on).
        """
        from pathwaydataframework_spark.operators.behaviors import (
            CommonBehavior,
            ExactlyOnceBehavior,
        )

        b = self._behavior
        if isinstance(b, ExactlyOnceBehavior):
            delay = b.shift if b.shift is not None else "0 seconds"
        elif isinstance(b, CommonBehavior) and b.cutoff is not None:
            delay = b.cutoff
        else:
            return t, tcol
        df = t._df.withColumn("__pw_event_t", tcol.cast("timestamp")).withWatermark(
            "__pw_event_t", _duration_str(delay)
        )
        return Table(df), F.col("__pw_event_t")

    def _agg_by_window(
        self,
        wcol: Column,
        aggs,
        session: bool = False,
        tcol: Column | None = None,
        table: Table | None = None,
    ) -> Table:
        t = table if table is not None else self._table
        df, inst_keys = self._with_instance(t._df, t)
        agg_cols = _reduce_cols(df, aggs)
        if session:
            # reference reports _pw_window_end = max(key), the LAST EVENT
            # TIME in the session (_window.py:129 reducers.max(key)), not
            # last event + gap; Spark's session_window.end is the latter, so
            # track max(t) as an extra agg.
            agg_cols.append(F.max(tcol).alias("_pw_session_last"))
        out = df.groupBy(wcol.alias("_pw_window"), *inst_keys).agg(*agg_cols)
        end_col = F.col("_pw_session_last") if session else F.col("_pw_window.end")
        return _window_output(
            out,
            [F.col("_pw_window.start").alias("_pw_window_start"), end_col.alias("_pw_window_end")],
            inst_keys,
            aggs,
        )

    def _intervals_over_reduce(self, win: IntervalsOverWindow, aggs) -> Table:
        """One window per probe time p over [p+lb, p+ub] — implemented as a
        bucketed range join (same trick as interval_join) + hash-agg per
        probe.  Scales as an equi-join, not a cross join."""
        at = win.at
        probe_table = at.owner if isinstance(at, ColumnRef) and isinstance(at.owner, Table) else None
        if probe_table is None:
            raise ValueError("intervals_over(at=...) must reference a table column")
        lb = duration_to_seconds(win.lower_bound)
        ub = duration_to_seconds(win.upper_bound)
        if ub < lb:
            raise ValueError("intervals_over: upper_bound < lower_bound")
        probes = probe_table._df.select(
            probe_table._resolve(at).alias("_pw_window")
        ).distinct()

        t = self._table
        tcol = _epoch_seconds(t._resolve(self._time))
        data, inst_keys = self._with_instance(t._df, t)
        data = data.withColumn("__pw_t", tcol)
        # same degenerate-band hazard as interval_join: floor the bucket
        # width at 1 second (any width >= the span is correct)
        width = max(ub - lb, 1.0)
        probes = probes.withColumn("__pw_p", _epoch_seconds(F.col("_pw_window")))
        probes = probes.withColumn(
            "__pw_bucket",
            F.explode(
                F.array(
                    F.floor((F.col("__pw_p") + F.lit(lb)) / F.lit(width)),
                    F.floor((F.col("__pw_p") + F.lit(lb)) / F.lit(width)) + 1,
                )
            ),
        )
        data = data.withColumn("__pw_bucket", F.floor(F.col("__pw_t") / F.lit(width)))
        joined = probes.join(data, on="__pw_bucket", how="inner").filter(
            (F.col("__pw_t") >= F.col("__pw_p") + F.lit(lb))
            & (F.col("__pw_t") <= F.col("__pw_p") + F.lit(ub))
        )
        out = joined.groupBy("_pw_window", *inst_keys).agg(*_reduce_cols(joined, aggs))
        if win.is_outer:
            pad_keys = probes.select("_pw_window").distinct()
            if inst_keys:
                pad_keys = pad_keys.crossJoin(joined.select(*inst_keys).distinct())
            out = pad_keys.join(out, on=["_pw_window", *inst_keys], how="left")
        return _window_output(out, ["_pw_window"], inst_keys, aggs)


def _reduce_cols(df, aggs) -> list[Column]:
    """windowby's reducers resolved over ``df``, named by their outputs."""
    ctx = GroupedContext(Table(df))
    return [lift(e)._resolve(ctx).alias(name) for name, e in aggs.items()]


def _window_output(out, window_keys: list, inst_keys: list[str], aggs) -> Table:
    """A windowby result's columns: the window keys, the instance, and the
    reducers.  A named instance column is also exposed as ``_pw_instance``,
    the reference's key name (ports select pw.this._pw_instance)."""
    aliases = [F.col(k).alias("_pw_instance") for k in inst_keys if k != "_pw_instance"]
    return Table(out.select(*window_keys, *inst_keys, *aliases, *aggs))


def _predicate_breaks(predicate):
    """The session break condition for a user predicate: the predicate runs
    as an Arrow-batched pandas UDF over (prev, cur) event-time pairs, and
    an event breaks its session where ``predicate(prev, cur)`` is false."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _merges_fn(prev, cur):
        return pd.Series(
            [
                (p is not None and not pd.isna(p)) and bool(predicate(p, c))
                for p, c in zip(prev, cur)
            ]
        )

    # real annotation objects (the module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inference cannot evaluate here)
    _merges_fn.__annotations__ = {"prev": pd.Series, "cur": pd.Series, "return": pd.Series}
    merges = pandas_udf(_merges_fn, "boolean")
    return lambda prev, cur: ~merges(prev, cur)


# The reference's default window origin for datetimes is 1973-01-01 — a
# MONDAY — so week-multiple windows start on Monday (temporal/utils.py:20).
# Spark's F.window aligns to the 1970 epoch (a Thursday); the startTime
# offset reproduces the reference alignment.  Identical whenever the window
# size divides 1973-01-01's epoch seconds (all hour/minute/second sizes that
# divide a day), divergent exactly where the reference intended (weeks).
_REF_ORIGIN_EPOCH = 94694400  # 1973-01-01 00:00:00 UTC


def _origin_offset(win) -> str:
    step = duration_to_seconds(
        win.duration if isinstance(win, TumblingWindow) else win.hop
    )
    if win.origin is None:
        return f"{int(_REF_ORIGIN_EPOCH % step)} seconds"
    if isinstance(win.origin, _dt.datetime):
        origin_epoch = win.origin.replace(tzinfo=_dt.timezone.utc).timestamp()
        return f"{int(origin_epoch % step)} seconds"
    return _duration_str(win.origin)


def windowby(table: Table, time_expr, *, window, instance=None, behavior=None) -> WindowedTable:
    """Reference Table.windowby (_window.py:865)."""
    return WindowedTable(table, time_expr, window, instance, behavior)


# -- helpers shared by the temporal joins ----------------------------------


def _pack_sides(ldf, rdf):
    l_struct = F.struct(*[ldf[c] for c in ldf.columns])
    r_struct = F.struct(*[rdf[c] for c in rdf.columns])
    return l_struct, r_struct


def _asof_time_type(ldf, lt: Column, rdf, rt: Column) -> str:
    """Unified ordering type for the asof union: numeric event time orders
    as double; otherwise timestamp_ntz."""
    numeric = _is_numeric(_time_dtype(ldf, lt)) and _is_numeric(_time_dtype(rdf, rt))
    return "double" if numeric else "timestamp_ntz"


def _extract_eq_keys(left_table, right_table, on) -> list[tuple[str, str]]:
    """on conditions must be equality of left/right column refs (the
    reference enforces the same — joins.py:1071)."""
    pairs = []
    for e in on:
        lcol = rcol = None
        if not isinstance(e, BinOp):
            raise ValueError("join conditions must be left_col == right_col")
        a, b = e._l, e._r
        for ref in (a, b):
            if not isinstance(ref, ColumnRef):
                raise ValueError("join conditions must be column == column")
            if ref.owner is LEFT or ref.owner is left_table:
                lcol = ref.name
            elif ref.owner is RIGHT or ref.owner is right_table:
                rcol = ref.name
            elif ref.owner is THIS:
                if ref.name in left_table._df.columns and lcol is None:
                    lcol = ref.name
                elif ref.name in right_table._df.columns:
                    rcol = ref.name
        if lcol is None or rcol is None:
            raise ValueError("could not attribute join condition to sides")
        pairs.append((lcol, rcol))
    return pairs


# -- asof join --------------------------------------------------------------


def asof_join(
    left_table: Table,
    right_table: Table,
    self_time,
    other_time,
    *on,
    how: str = "left",
    direction: str = "backward",
    defaults: dict | None = None,
    left_instance=None,
    right_instance=None,
) -> JoinResult:
    """Match each left row with the nearest earlier/later right row per key.

    Reference: stdlib/temporal/_asof_join.py:479 (Direction enum :34).

    Physical plan: tag both sides, union, one window
    ``last(right_struct, ignorenulls)`` ordered by (time, side) partitioned
    by key — a single shuffle+sort, no row multiplication.  DuckDB's ASOF
    JOIN is the oracle.

    ``defaults`` maps column refs of either side to values: in a result row
    where that side had no match, the value replaces the column's NULL.
    """
    direction = getattr(direction, "value", direction)  # accept Direction
    how = join_mode(how)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(direction)
    if direction == "nearest" and not isinstance(other_time, ColumnRef):
        raise ValueError("nearest asof needs other_time as a plain column")
    on = with_instance(on, left_instance, right_instance)
    unioned, keys = _asof_union(left_table, right_table, self_time, other_time, on)

    def _last_right(time_order: Column) -> Column:
        # running frame ordered by (time, side): right rows (side 0) sort
        # before left rows at equal time, so a match may share the left
        # row's time.  The forward match runs the same frame over
        # descending time; a (0, unboundedFollowing) frame would re-scan
        # current→end per row, O(n²) per key group.
        w = W.partitionBy(*keys).orderBy(time_order, F.col("__side").asc())
        return F.last(F.col("__r"), ignorenulls=True).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        )

    if direction == "nearest":
        # closer of the backward/forward matches, ties → backward (the
        # reference's Direction.NEAREST): two frames over the ONE union
        matched = unioned.withColumns(
            {"__rb": _last_right(F.col("__t").asc()), "__rf": _last_right(F.col("__t").desc())}
        )
        t_sec = _epoch_seconds(F.col("__t"))
        db = F.abs(t_sec - _epoch_seconds(F.col("__rb")[other_time.name]))
        df_ = F.abs(_epoch_seconds(F.col("__rf")[other_time.name]) - t_sec)
        pick = (
            F.when(F.col("__rb").isNull(), F.col("__rf"))
            .when(F.col("__rf").isNull(), F.col("__rb"))
            .when(df_ < db, F.col("__rf"))
            .otherwise(F.col("__rb"))
        )
    else:
        order = F.col("__t").asc() if direction == "backward" else F.col("__t").desc()
        matched = unioned.withColumn("__rm", _last_right(order))
        pick = F.col("__rm")
    out = matched.filter(F.col("__side") == 1).select(F.col("__l"), pick.alias("__r"))
    if how in ("inner", "right"):
        out = out.filter(F.col("__r").isNotNull())
    if how in ("right", "outer", "full"):
        # reference JoinMode.RIGHT/OUTER: right rows no left row matched,
        # padded with a NULL left (the match RULE is unchanged)
        out = out.unionByName(_asof_unmatched_right(out, right_table._df))
    result = JoinResult._over_frame(out, left_table, right_table, on)
    return _with_defaults(result, defaults) if defaults else result


def _with_defaults(result: JoinResult, defaults: dict) -> JoinResult:
    """``result`` with each side that had no match (a NULL ``__l`` or
    ``__r`` struct) replaced by a struct of NULLs carrying the ``defaults``
    of that side's columns."""
    if not all(isinstance(ref, ColumnRef) for ref in defaults):
        raise TypeError("asof_join defaults keys must be column refs")
    frame = result._frame
    for side in ("__l", "__r"):
        values = {r.name: v for r, v in defaults.items() if result._ctx.side(r) == side}
        if values:
            pad = F.struct(
                *[
                    F.lit(values.get(f.name)).cast(f.dataType).alias(f.name)
                    for f in frame.schema[side].dataType.fields
                ]
            )
            frame = frame.withColumn(side, F.coalesce(F.col(side), pad))
    return JoinResult._over_frame(frame, result._lt, result._rt, result._on)


def _asof_union(left_table, right_table, self_time, other_time, on):
    """Both asof sides as one frame of (__k0.., __t, __side, __l, __r):
    left rows are side 1 with a NULL ``__r``, right rows side 0 with a NULL
    ``__l``.  Returns the union and its key columns."""
    from pyspark.sql.types import StructType

    pairs = _extract_eq_keys(left_table, right_table, on)
    ldf = left_table._df
    rdf = right_table._df
    lt = left_table._resolve(self_time)
    rt = right_table._resolve(other_time)

    l_struct, r_struct = _pack_sides(ldf, rdf)
    l_type = StructType(ldf.schema.fields)
    r_type = StructType(rdf.schema.fields)
    lkeys = [ldf[lc].alias(f"__k{i}") for i, (lc, _) in enumerate(pairs)]
    rkeys = [rdf[rc].alias(f"__k{i}") for i, (_, rc) in enumerate(pairs)]

    tt = _asof_time_type(ldf, lt, rdf, rt)
    lu = ldf.select(
        *lkeys,
        lt.cast(tt).alias("__t"),
        F.lit(1).alias("__side"),
        l_struct.alias("__l"),
        F.lit(None).cast(r_type).alias("__r"),
    )
    ru = rdf.select(
        *rkeys,
        rt.cast(tt).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_type).alias("__l"),
        r_struct.alias("__r"),
    )
    return lu.unionByName(ru), [F.col(f"__k{i}") for i in range(len(pairs))]


def _asof_unmatched_right(pairs_out, rdf):
    """Right rows never selected as any left row's match, as (__l=NULL,
    __r) rows.

    Identity is the 8-byte row hash (_row_hash), so byte-identical duplicate
    right rows share one id; multiplicity is restored by COUNT rather than a
    plain anti-join: of n identical copies the asof window can select at most
    ONE as "the" match (copies tie on key and time, collapsing to a single
    value), leaving n-1 copies — or all n when none matched — to pad.  This
    matches the reference's per-row-identity JoinMode.RIGHT/FULL semantics
    (stdlib/temporal/_asof_join.py) without carrying full row payloads into
    the exchange: only (hash, count) and one representative struct shuffle.
    """
    used = (
        pairs_out.filter(F.col("__r").isNotNull())
        .select(F.col("__r.*"))
    )
    used_ids = (
        used.select(_row_hash(used).alias("__rid"))
        .distinct()
        .withColumn("__used", F.lit(1))
    )
    all_right = rdf.select(
        F.struct(*[rdf[c] for c in rdf.columns]).alias("__r"),
        _row_hash(rdf).alias("__rid"),
    )
    counted = all_right.groupBy("__rid").agg(
        F.count(F.lit(1)).alias("__cnt"), F.any_value(F.col("__r")).alias("__r")
    )
    return (
        counted.join(used_ids, on="__rid", how="left")
        .withColumn(
            "__pad",
            F.col("__cnt") - F.coalesce(F.col("__used"), F.lit(0)).cast("bigint"),
        )
        .filter(F.col("__pad") > 0)
        .withColumn("__i", F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("__pad"))))
        .select(
            F.lit(None).cast(pairs_out.schema["__l"].dataType).alias("__l"),
            "__r",
        )
    )


def _row_hash(df):
    """8-byte row id for narrow anti-join padding: xxhash64 over every
    column interleaved with its isnull flag (hash fns SKIP nulls, so
    (1, NULL) and (NULL, 1) would otherwise collide)."""
    parts = []
    for c in df.columns:
        parts.extend([df[c], F.isnull(df[c])])
    return F.xxhash64(*parts)


# -- interval join ----------------------------------------------------------


def interval_join(
    left_table: Table,
    right_table: Table,
    self_time,
    other_time,
    band: interval,
    *on,
    how: str = "inner",
    left_instance=None,
    right_instance=None,
) -> JoinResult:
    """Time-band join: pairs where other_time − self_time ∈ [lb, ub].

    Reference: _interval_join.py:577; we reproduce its double-bucketing
    physical strategy (:317-385): equi-join on floor(t/width) buckets with
    each left row probing 2 adjacent buckets, then exact band filter.  This
    is the plan that scales — Catalyst sees a plain equi-join and can
    hash-partition both sides.
    """
    how = join_mode(how)
    lb = duration_to_seconds(band.lower_bound)
    ub = duration_to_seconds(band.upper_bound)
    if ub < lb:
        raise ValueError("upper_bound < lower_bound")
    # a degenerate (point) band must NOT shrink the bucket width to ~1e-9:
    # epoch-seconds / 1e-9 ≈ 1e18 exceeds double's 2^53 integer range and
    # 1-ulp differences land equal instants hundreds of buckets apart.
    # Any width >= the band span is correct (the band filter is exact);
    # floor at 1 second.
    width = max(ub - lb, 1.0)

    on = with_instance(on, left_instance, right_instance)
    pairs = _extract_eq_keys(left_table, right_table, on)
    ldf = left_table._df
    rdf = right_table._df
    lt = _epoch_seconds(left_table._resolve(self_time))
    rt = _epoch_seconds(right_table._resolve(other_time))

    l_struct, r_struct = _pack_sides(ldf, rdf)
    # narrow row id for the outer-padding anti-join: anti-joining on the
    # full __l struct would shuffle the whole row width twice and depend
    # on struct equality over doubles (VERDICT r1) — xxhash64 of the row
    # is the same pointer scheme as table.id (table.py).  Spark hash
    # functions SKIP null inputs, so rows like (1, NULL) and (NULL, 1)
    # would collide; interleaving an isnull flag per column keeps the
    # null positions in the hashed stream.  Inner joins never anti-join,
    # so they skip the id column entirely.
    pad_left = how in ("left", "outer", "full")
    pad_right = how in ("right", "outer", "full")

    lid_cols = [_row_hash(ldf).alias("__lid")] if pad_left else []
    lprep = ldf.select(
        l_struct.alias("__l"),
        *lid_cols,
        lt.alias("__lt"),
        *[ldf[lc].alias(f"__k{i}") for i, (lc, _) in enumerate(pairs)],
    ).withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.floor((F.col("__lt") + F.lit(lb)) / F.lit(width)),
                F.floor((F.col("__lt") + F.lit(lb)) / F.lit(width)) + 1,
            )
        ),
    )
    rid_cols = [_row_hash(rdf).alias("__rid")] if pad_right else []
    rprep = rdf.select(
        r_struct.alias("__r"),
        *rid_cols,
        rt.alias("__rt"),
        *[rdf[rc].alias(f"__k{i}") for i, (_, rc) in enumerate(pairs)],
    ).withColumn("__bucket", F.floor(F.col("__rt") / F.lit(width)))

    join_keys = ["__bucket"] + [f"__k{i}" for i in range(len(pairs))]
    joined = lprep.join(rprep, on=join_keys, how="inner").filter(
        (F.col("__rt") >= F.col("__lt") + F.lit(lb))
        & (F.col("__rt") <= F.col("__lt") + F.lit(ub))
    )
    out = joined.select("__l", "__r")
    if pad_left:
        # pad unmatched rows (reference outer variants :981-1404): distinct
        # + anti-join over the 8-byte row id only
        out = out.unionByName(_interval_unmatched(joined, ldf, "l"))
    if pad_right:
        out = out.unionByName(_interval_unmatched(joined, rdf, "r"))
    return JoinResult._over_frame(out, left_table, right_table, on)


def _interval_unmatched(joined, df, side: str):
    """Rows of one interval-join side (``side`` "l" or "r", the input
    ``df``) that no pair in ``joined`` matched, with a NULL other side."""
    mine, other = ("__l", "__r") if side == "l" else ("__r", "__l")
    rid = f"__{side}id"
    all_rows = df.select(
        F.struct(*[df[c] for c in df.columns]).alias(mine), _row_hash(df).alias(rid)
    )
    return (
        all_rows.join(joined.select(rid).distinct(), on=rid, how="left_anti")
        .select(mine)
        .withColumn(other, F.lit(None).cast(joined.schema[other].dataType))
        .select("__l", "__r")
    )


# -- window join ------------------------------------------------------------


def window_join(
    left_table: Table,
    right_table: Table,
    self_time,
    other_time,
    window,
    *on,
    how: str = "inner",
    left_instance=None,
    right_instance=None,
) -> JoinResult:
    """Rows join iff they fall in the same window — reference
    _window_join.py:156.  Lowered to an equi-join on the window start (plus
    any key columns); sliding windows explode each row into its
    duration/hop windows first (JVM-side, no UDF)."""
    how = join_mode(how)
    on = with_instance(on, left_instance, right_instance)
    pairs = _extract_eq_keys(left_table, right_table, on)

    def _starts(tcol: Column) -> Column:
        if isinstance(window, TumblingWindow):
            w = duration_to_seconds(window.duration)
            return F.array(F.floor(_epoch_seconds(tcol) / F.lit(w)) * F.lit(w))
        if isinstance(window, SlidingWindow):
            dur = duration_to_seconds(window.duration)
            hop = duration_to_seconds(window.hop)
            n = int(dur / hop) + (1 if dur % hop else 0)
            t = _epoch_seconds(tcol)
            first = (F.floor((t - F.lit(dur)) / F.lit(hop)) + 1) * F.lit(hop)
            starts = [first + F.lit(i * hop) for i in range(n)]
            return F.filter(
                F.array(*starts), lambda s: (s <= t) & (t < s + F.lit(dur))
            )
        raise TypeError("window_join supports tumbling/sliding windows")

    ldf = left_table._df
    rdf = right_table._df
    l_struct, r_struct = _pack_sides(ldf, rdf)
    lt = left_table._resolve(self_time)
    rt = right_table._resolve(other_time)

    lprep = ldf.select(
        l_struct.alias("__l"),
        F.explode(_starts(lt)).alias("__w"),
        *[ldf[lc].alias(f"__k{i}") for i, (lc, _) in enumerate(pairs)],
    )
    rprep = rdf.select(
        r_struct.alias("__r"),
        F.explode(_starts(rt)).alias("__w"),
        *[rdf[rc].alias(f"__k{i}") for i, (_, rc) in enumerate(pairs)],
    )
    join_keys = ["__w"] + [f"__k{i}" for i in range(len(pairs))]
    # the window start + keys are USING columns, so the equi-join mode IS
    # the window-join mode: unmatched sides come back with a NULL struct
    joined = lprep.join(rprep, on=join_keys, how=_HOW[how])
    out = joined.select(
        "__l", "__r", F.col("__w").alias("_pw_window_start")
    )
    return JoinResult._over_frame(out, left_table, right_table, on)


# -- asof-now join (stream-static analogue, batch = plain asof) -------------


def asof_now_join(
    left_table, right_table, *on, how: str = "inner",
    left_instance=None, right_instance=None,
):
    """Reference _asof_now_join.py:176: left rows join the *current* right
    state.  In batch the current state is the whole table → plain equi-join.
    With a streaming left table the same plan is Spark's stream-static join:
    each micro-batch joins the right table as it is then
    (``test_stream_static_join_asof_now`` runs that join)."""
    return join(
        left_table, right_table, *on, how=how,
        left_instance=left_instance, right_instance=right_instance,
    )


# -- reference-namespace parity ---------------------------------------------
# The reference's pathway.stdlib.temporal exports directional variants of
# every temporal join (one def per how/direction, _asof_join.py:658+,
# _interval_join.py:700+, _window_join.py:360+) plus the behavior/time
# utilities and per-flavor result classes.  The Spark engine keeps ONE
# parameterized implementation per join; the variants below are thin
# partial applications, and the result classes all alias JoinResult.

import enum as _enum


class Direction(_enum.Enum):
    """Reference _asof_join.py:34 — accepted wherever ``direction=`` is."""

    BACKWARD = "backward"
    FORWARD = "forward"
    NEAREST = "nearest"


Interval = interval  # reference _interval_join.py:35 class name
AsofJoinResult = JoinResult
AsofNowJoinResult = JoinResult
IntervalJoinResult = JoinResult
WindowJoinResult = JoinResult


def asof_join_left(left_table, right_table, self_time, other_time, *on, **kw):
    return asof_join(left_table, right_table, self_time, other_time, *on, how="left", **kw)


def asof_join_right(left_table, right_table, self_time, other_time, *on, **kw):
    return asof_join(left_table, right_table, self_time, other_time, *on, how="right", **kw)


def asof_join_outer(left_table, right_table, self_time, other_time, *on, **kw):
    return asof_join(left_table, right_table, self_time, other_time, *on, how="outer", **kw)


def asof_now_join_inner(left_table, right_table, *on, **kw):
    return asof_now_join(left_table, right_table, *on, how="inner", **kw)


def asof_now_join_left(left_table, right_table, *on, **kw):
    return asof_now_join(left_table, right_table, *on, how="left", **kw)


def interval_join_inner(left_table, right_table, self_time, other_time, band, *on, **kw):
    return interval_join(left_table, right_table, self_time, other_time, band, *on, how="inner", **kw)


def interval_join_left(left_table, right_table, self_time, other_time, band, *on, **kw):
    return interval_join(left_table, right_table, self_time, other_time, band, *on, how="left", **kw)


def interval_join_right(left_table, right_table, self_time, other_time, band, *on, **kw):
    return interval_join(left_table, right_table, self_time, other_time, band, *on, how="right", **kw)


def interval_join_outer(left_table, right_table, self_time, other_time, band, *on, **kw):
    return interval_join(left_table, right_table, self_time, other_time, band, *on, how="outer", **kw)


def window_join_inner(left_table, right_table, self_time, other_time, window, *on, **kw):
    return window_join(left_table, right_table, self_time, other_time, window, *on, how="inner", **kw)


def window_join_left(left_table, right_table, self_time, other_time, window, *on, **kw):
    return window_join(left_table, right_table, self_time, other_time, window, *on, how="left", **kw)


def window_join_right(left_table, right_table, self_time, other_time, window, *on, **kw):
    return window_join(left_table, right_table, self_time, other_time, window, *on, how="right", **kw)


def window_join_outer(left_table, right_table, self_time, other_time, window, *on, **kw):
    return window_join(left_table, right_table, self_time, other_time, window, *on, how="outer", **kw)


# behavior + time utilities live in the temporal namespace in the reference
from pathwaydataframework_spark.operators.behaviors import (  # noqa: E402
    Behavior,
    CommonBehavior,
    ExactlyOnceBehavior,
    common_behavior,
    exactly_once_behavior,
    inactivity_detection,
)
from pathwaydataframework_spark.sources.demo import utc_now  # noqa: E402
