"""Joins — reference ``internals/joins.py`` (Table.join :135, JoinResult
select/filter/groupby/reduce :643-808) / engine join_tables (graph.rs:932).

The reference supports only equi-joins (validate_join_condition,
joins.py:1071) and expresses theta predicates as ``join(...).filter(...)``.
We accept the same surface but lower to ``DataFrame.join`` so Catalyst picks
broadcast-hash / shuffled-hash / sort-merge per side sizes, and AQE re-plans
at runtime — strictly better than the reference's always-arrange-both-sides
strategy (dataflow.rs:2341).
"""

from __future__ import annotations

import copy
import functools
import itertools
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pathwaydataframework_spark.internals.expression import (
    LEFT,
    RIGHT,
    THIS,
    BinOp,
    ColumnRef,
    Expr,
    ResolutionContext,
    lift,
)

_alias_counter = itertools.count()

_HOW = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "outer": "full_outer",
    "full": "full_outer",
}


class JoinContext(ResolutionContext):
    """Resolves pw.left / pw.right / pw.this, and refs owned by the joined
    tables, in every two-sided result.  A side's column ``c`` is
    ``<alias>.c``: a table alias in an equi-join, a struct column (``__l`` /
    ``__r``) in a temporal join's frame.  The probe frame has both aliases
    visible, so operators that dispatch on type (``+`` on strings, ``&`` on
    ints) pick the same form after every join."""

    def __init__(self, result: "JoinResult"):
        self._result = result
        self._lt, self._rt = result._lt, result._rt
        self._la, self._ra = result._la, result._ra

    def side(self, ref: ColumnRef) -> str:
        """The alias of the side that owns ``ref``."""
        owner = ref.owner
        # chained joins (reference Joinable: JoinResult.join): a side built
        # by _flat_table carries its source tables, so refs owned by the
        # ORIGINAL tables keep resolving through the chain
        lsrc = getattr(self._lt, "_join_sources", ())
        rsrc = getattr(self._rt, "_join_sources", ())
        if owner is LEFT or owner is self._lt or owner in lsrc:
            return self._la
        if owner is RIGHT or owner is self._rt or owner in rsrc:
            return self._ra
        if owner is THIS:
            # unqualified: prefer unambiguous side
            in_l = ref.name in self._lt._df.columns
            in_r = ref.name in self._rt._df.columns
            if in_l and in_r:
                raise ValueError(f"ambiguous column {ref.name!r}; use pw.left/pw.right")
            if in_l:
                return self._la
            if in_r:
                return self._ra
        raise ValueError(f"cannot resolve {ref.name!r} in join")

    def resolve_ref(self, ref: ColumnRef) -> Column:
        return F.col(f"{self.side(ref)}.{ref.name}")

    def id_column(self, owner: Any = THIS) -> Column:
        raise NotImplementedError("argmin/argmax over a join: select first, then group")

    def probe_df(self):
        # analysis-only frame; never executed
        frame = self._result._frame
        if frame is None:
            frame = self._lt._df.alias(self._la).crossJoin(self._rt._df.alias(self._ra))
        return frame


class JoinResult:
    """A two-sided result: what ``join`` and every temporal join return.

    An equi-join is lazy: it is materialized on .select()/.reduce() so late
    projection can prune columns before the shuffle (Catalyst does the
    pruning).  A temporal join hands over the frame it built, which holds
    each side's row as a struct column, ``__l`` and ``__r``."""

    def __init__(self, left_table, right_table, on: tuple, how: str, id=None):
        self._lt = left_table
        self._rt = right_table
        self._on = on
        self._how = _HOW[how]
        self._id = id
        n = next(_alias_counter)
        self._la, self._ra = f"__pwl{n}", f"__pwr{n}"
        self._frame: DataFrame | None = None
        self._filters: list[Expr] = []

    @classmethod
    def _over_frame(cls, frame: DataFrame, left_table, right_table, on: tuple) -> "JoinResult":
        """The result of a temporal join whose ``frame`` packs the left and
        right rows into struct columns ``__l`` and ``__r``."""
        out = cls(left_table, right_table, on, "inner")
        out._la, out._ra, out._frame = "__l", "__r", frame
        return out

    @functools.cached_property
    def _ctx(self) -> JoinContext:
        return JoinContext(self)

    def _cond(self) -> Column | None:
        cond = None
        for e in self._on:
            c = lift(e)._resolve(self._ctx)
            cond = c if cond is None else (cond & c)
        return cond

    def _joined(self) -> DataFrame:
        out = self._frame
        if out is None:
            ldf = self._lt._df.alias(self._la)
            rdf = self._rt._df.alias(self._ra)
            cond = self._cond()
            out = ldf.crossJoin(rdf) if cond is None else ldf.join(rdf, cond, self._how)
        for f in self._filters:
            out = out.filter(lift(f)._resolve(self._ctx))
        return out

    def filter(self, expr) -> "JoinResult":
        """Theta predicates post join — reference joins.py:693."""
        out = copy.copy(self)
        out._filters = self._filters + [expr]
        return out

    def _flat_table(self):
        """Flatten this join into a Table for chaining — reference
        JoinResult is Joinable (joins.py:493), so ``t1.join(t2).join(t3)``
        works.  The flat table remembers its source tables so refs owned by
        t1/t2 still resolve in the NEXT join's conditions and select."""
        from pathwaydataframework_spark.internals.table import Table

        # equal-named equi-key columns merge into ONE output column, like
        # the reference's common_column_names handling (joins.py:977);
        # coalesce covers the outer modes' padded side
        common: set[str] = set()
        for e in self._on:
            if (
                isinstance(e, BinOp)
                and isinstance(e._l, ColumnRef)
                and isinstance(e._r, ColumnRef)
                and e._l.name == e._r.name
            ):
                common.add(e._l.name)
        lcols = self._lt._df.columns
        rcols = self._rt._df.columns
        out_cols: list[Column] = []
        names: list[str] = []
        for c in lcols:
            if c in common and c in rcols:
                out_cols.append(
                    F.coalesce(
                        F.col(f"{self._la}.{c}"), F.col(f"{self._ra}.{c}")
                    ).alias(c)
                )
            else:
                out_cols.append(F.col(f"{self._la}.{c}").alias(c))
            names.append(c)
        for c in rcols:
            if c in common and c in lcols:
                continue
            out_cols.append(F.col(f"{self._ra}.{c}").alias(c))
            names.append(c)
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            raise ValueError(
                f"cannot chain join over ambiguous columns {dupes}; "
                "project them apart with .select() first"
            )
        if self._id is not None:
            # thread join(id=side.id) through chaining: the flat table
            # carries the promised row id so downstream ix/update_rows —
            # or the next join in the chain — still see it.
            from pathwaydataframework_spark.internals.table import ID_COL

            out_cols.append(lift(self._id)._resolve(self._ctx).alias(ID_COL))
        t = Table(self._joined().select(*out_cols))
        t._join_sources = (
            (self._lt, self._rt)
            + tuple(getattr(self._lt, "_join_sources", ()))
            + tuple(getattr(self._rt, "_join_sources", ()))
        )
        return t

    def join(self, other, *on, how: str = "inner", id=None,
             left_instance=None, right_instance=None) -> "JoinResult":
        """Chained join — reference Joinable.join over a JoinResult."""
        return join(
            self._flat_table(), other, *on, how=how, id=id,
            left_instance=left_instance, right_instance=right_instance,
        )

    def join_inner(self, other, *on, **kw) -> "JoinResult":
        return self.join(other, *on, how="inner", **kw)

    def join_left(self, other, *on, **kw) -> "JoinResult":
        return self.join(other, *on, how="left", **kw)

    def join_right(self, other, *on, **kw) -> "JoinResult":
        return self.join(other, *on, how="right", **kw)

    def join_outer(self, other, *on, **kw) -> "JoinResult":
        return self.join(other, *on, how="outer", **kw)

    def select(self, *args, **kwargs):
        """Reference joins.py:643."""
        from pathwaydataframework_spark.internals.table import Table

        cols: list[Column] = []
        for a in args:
            if isinstance(a, ColumnRef):
                cols.append(lift(a)._resolve(self._ctx).alias(a.name))
            else:
                raise TypeError("positional join-select args must be column refs")
        for name, e in kwargs.items():
            cols.append(lift(e)._resolve(self._ctx).alias(name))
        if self._id is not None:
            # join(..., id=side.id) keys the result by that side's row id
            # (reference joins.py:958-962) so downstream ix/update_rows see
            # the promised universe.
            from pathwaydataframework_spark.internals.table import ID_COL

            cols.append(lift(self._id)._resolve(self._ctx).alias(ID_COL))
        return Table(self._joined().select(*cols))

    def groupby(self, *cols, instance=None):
        """Reference joins.py:748 — join → groupBy without materializing an
        intermediate projection."""
        from pathwaydataframework_spark.internals.table import Table
        from pathwaydataframework_spark.internals.groupbys import GroupedTable

        if self._id is not None:
            # an aggregation replaces the join's universe with one keyed by
            # the grouping columns — honoring id= here has no meaning, and
            # silently dropping it would break the caller's keying promise
            raise NotImplementedError(
                "join(..., id=...) followed by groupby()/reduce() is not "
                "supported: the aggregation re-keys the result. Call "
                ".select() first if you need the join keyed by id."
            )
        named = []
        for r in cols:
            if not isinstance(r, ColumnRef):
                raise TypeError("groupby keys must be column refs")
            named.append(r)
        full = Table(self._joined())
        # keep the ORIGINAL side-qualified refs and the join's context:
        # resolving by bare name over the joined frame raises
        # AMBIGUOUS_REFERENCE whenever both sides share a column name
        keys = [(r.name, r) for r in named]
        return GroupedTable(full, keys, sort_by=None, ctx=self._ctx)

    def reduce(self, *args, **kwargs):
        from pathwaydataframework_spark.internals.table import Table
        from pathwaydataframework_spark.internals.groupbys import GroupedTable

        if self._id is not None:
            raise NotImplementedError(
                "join(..., id=...) followed by groupby()/reduce() is not "
                "supported: the aggregation re-keys the result. Call "
                ".select() first if you need the join keyed by id."
            )
        return GroupedTable(Table(self._joined()), [], ctx=self._ctx).reduce(
            *args, **kwargs
        )


def join(
    left_table,
    right_table,
    *on,
    how: str = "inner",
    id=None,
    left_instance=None,
    right_instance=None,
) -> JoinResult:
    how = join_mode(how)
    # either side may itself be a JoinResult (reference Joinable.join):
    # flatten it, keeping source-table refs resolvable through the chain
    if isinstance(left_table, JoinResult):
        left_table = left_table._flat_table()
    if isinstance(right_table, JoinResult):
        right_table = right_table._flat_table()
    if left_table is right_table:
        # reference joins.py:946-949 — with one table OBJECT on both sides
        # a condition like t.foo == t.bar cannot be attributed to sides
        # (both refs resolve left); refuse rather than silently mis-join
        raise ValueError(
            "Cannot join table with itself. Use <table>.copy() as one of "
            "the arguments of the join."
        )
    on = with_instance(on, left_instance, right_instance)
    return JoinResult(left_table, right_table, on, how, id=id)


def join_mode(how) -> str:
    """``how`` checked against the join modes; every join accepts a
    ``pw.JoinMode`` member for it too."""
    how = getattr(how, "value", how)
    if how not in _HOW:
        raise ValueError(f"unknown how={how!r}; use one of {sorted(_HOW)}")
    return how


def with_instance(on: tuple, left_instance, right_instance) -> tuple:
    """``on`` with the ``left_instance``/``right_instance`` pair folded in —
    reference joins.py:965-967.  The pair is one more equi-condition, which
    Catalyst folds into the same hash key, so the shuffle co-partitions by
    (on-keys, instance) exactly as the reference's per-instance shards do.
    ``join`` and every temporal join take the pair this way
    (_asof_join.py:479 / _interval_join.py:577)."""
    if (left_instance is None) != (right_instance is None):
        # reference arg_handlers.py:160-164: both or neither
        raise ValueError(
            "`left_instance` and `right_instance` arguments to join "
            "should always be provided simultaneously"
        )
    if left_instance is not None:
        on = (*on, lift(left_instance) == lift(right_instance))
    return on
