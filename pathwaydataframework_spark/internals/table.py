"""The keyed Table façade over ``pyspark.sql.DataFrame``.

Reference: ``python/pathway/internals/table.py:52`` (pw.Table).  The
reference's table is a keyed changelog evaluated by differential dataflow;
ours is a thin wrapper over a Spark DataFrame: the logical plan is built
declaratively and Catalyst/Tungsten pick the physical strategy (SURVEY.md §1.1
"Spark mapping").

Row ids: the reference gives every row a 128-bit pointer (table.py:126).  We
reproduce the *semantics* with a deterministic 64-bit ``xxhash64`` over the
id-defining columns (``pointer_from``, reference table.py:2371) computed
lazily — only operators that need identity (ix / difference / intersect /
update_rows / argmin) materialize it, so ordinary pipelines pay nothing.
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from pathwaydataframework_spark.internals.expression import (
    THIS,
    ColumnRef,
    Expr,
    ResolutionContext,
    lift,
)

ID_COL = "_pw_id"


def local_frame(spark: SparkSession, rows: Iterable, schema=None) -> DataFrame:
    """A DataFrame over driver-local ``rows`` that Catalyst plans as a
    ``LocalRelation`` (a ``LocalTableScan``), the relation Spark Connect
    builds for ``createDataFrame(list)``.

    Classic ``createDataFrame(list)`` gives an RDD-backed relation with
    ``defaultParallelism`` partitions: every scan re-runs a Python worker
    per partition, the planner has no size estimate so it never
    broadcasts the frame, and a condition-less join of two such frames is
    a CartesianProduct of P×P tasks (P³ for a chain of three).  Here
    ``createDataFrame`` still checks the rows (a bad row raises here, as
    before); the schema converts them, the JVM unpickles them in one
    task, and they are collected once into a local relation: later scans
    cost nothing and joins against it broadcast.
    Scalar rows under an atomic schema keep the classic path."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    rows = list(rows)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    df = spark.createDataFrame(rows, schema)  # verifies the rows, as ever
    if schema is not None and not isinstance(schema, (StructType, list, tuple)):
        return df
    struct = df.schema
    sc = spark.sparkContext
    pickled = sc.parallelize([struct.toInternal(r) for r in rows], 1)
    serde = sc._jvm.SerDeUtil
    objects = serde.toJavaArray(serde.pythonToJava(pickled._jrdd, True))
    jss = spark._jsparkSession
    rdd_df = jss.applySchemaToPythonRDD(objects.rdd(), struct.json())
    return DataFrame(jss.createDataFrame(rdd_df.collectAsList(), rdd_df.schema()), spark)


class TableContext(ResolutionContext):
    def __init__(self, table: "Table"):
        self._table = table

    def resolve_ref(self, ref: ColumnRef) -> Column:
        owner = ref.owner
        if owner is THIS or owner is self._table:
            return self._table._df[ref.name]
        if isinstance(owner, Table):
            raise ValueError(
                f"column {ref.name!r} belongs to a different table; join them first"
            )
        raise ValueError(f"cannot resolve reference {ref.name!r} here")

    def id_column(self, owner: Any = THIS) -> Column:
        return self._table.id_expr()

    def probe_df(self):
        return self._table._df


class Table:
    """A typed, keyed table — the engine's only user-facing collection."""

    def __init__(self, df: DataFrame, id_cols: Sequence[str] | None = None):
        self._df = df
        self._id_cols = tuple(id_cols) if id_cols else None

    # -- construction -------------------------------------------------------

    @staticmethod
    def from_parquet(spark: SparkSession, path: str, id_cols: Sequence[str] | None = None) -> "Table":
        return Table(spark.read.parquet(path), id_cols=id_cols)

    @staticmethod
    def from_dataframe(df: DataFrame, id_cols: Sequence[str] | None = None) -> "Table":
        return Table(df, id_cols=id_cols)

    @staticmethod
    def from_rows(
        spark: SparkSession, rows: Iterable[tuple], schema, id_cols: Sequence[str] | None = None
    ) -> "Table":
        """Reference ``pw.debug.table_from_rows`` (debug/__init__.py:312)."""
        return Table(local_frame(spark, rows, schema), id_cols=id_cols)

    @staticmethod
    def empty(spark: SparkSession, **dtypes: str) -> "Table":
        """Reference ``Table.empty`` (table.py:355)."""
        schema = ", ".join(f"{k} {v}" for k, v in dtypes.items())
        return Table(spark.createDataFrame([], schema))

    # -- basic accessors ----------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    def to_df(self) -> DataFrame:
        return self._df

    @property
    def column_names(self) -> list[str]:
        return [c for c in self._df.columns if c != ID_COL]

    def __getattr__(self, name: str) -> ColumnRef:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in self._df.columns:
            raise AttributeError(f"no column {name!r}; have {self._df.columns}")
        return ColumnRef(self, name)

    def __getitem__(self, name) -> Any:
        if isinstance(name, str):
            if name not in self._df.columns:
                raise KeyError(name)
            return ColumnRef(self, name)
        if isinstance(name, (list, tuple)):
            # column-subset slice (reference table.py:209)
            return Table(self._df.select(*[self._resolve_name(n) for n in name]), self._id_cols)
        raise TypeError(type(name))

    @staticmethod
    def _resolve_name(n) -> str:
        return n.name if isinstance(n, ColumnRef) else n

    @property
    def id(self) -> Expr:
        """``table.id`` — the row pointer (reference table.py:126)."""
        from pathwaydataframework_spark.internals.expression import RawColumn

        return RawColumn(self.id_expr())

    def id_expr(self) -> Column:
        if ID_COL in self._df.columns:
            return self._df[ID_COL]
        cols = self._id_cols or self.column_names
        return F.xxhash64(*[self._df[c] for c in cols])

    def pointer_from(self, *exprs) -> Expr:
        """Deterministic key hash — reference ``Table.pointer_from``
        (table.py:2371) / engine PointerFrom (expression.rs:281)."""
        from pathwaydataframework_spark.internals.expression import FuncExpr

        return FuncExpr(lambda *cs: F.xxhash64(*cs), *[lift(e) for e in exprs])

    def _ctx(self) -> TableContext:
        return TableContext(self)

    def _resolve(self, expr) -> Column:
        return lift(expr)._resolve(self._ctx())

    # -- projections (SURVEY §2.2) -----------------------------------------

    def select(self, *args, **kwargs) -> "Table":
        """Reference ``Table.select`` (table.py:382).

        >>> import pathwaydataframework_spark as pw
        >>> t = pw.Table.from_rows(spark, [(1, 4), (2, 5)], "a long, b long")
        >>> out = t.select(pw.this.a, total=pw.this.a + pw.this.b)
        >>> sorted(tuple(r) for r in out.df.collect())
        [(1, 5), (2, 7)]
        """
        cols: list[Column] = []
        for a in args:
            if isinstance(a, ColumnRef):
                cols.append(self._resolve(a).alias(a.name))
            elif isinstance(a, str):
                cols.append(self._df[a])
            else:
                raise TypeError("positional select args must be column refs")
        for name, e in kwargs.items():
            cols.append(self._resolve(e).alias(name))
        # NB: ids here are VALUE-derived (lazy xxhash64 of the id-defining
        # columns — module docstring): a projection that drops those
        # columns re-keys the result by the remaining ones.  To keep the
        # original identity through a narrowing projection, select the id
        # columns too, or pin it first with ``materialize_id()`` /
        # ``with_id_from`` and keep that column in the projection.
        return Table(self._df.select(*cols))

    def with_columns(self, **kwargs) -> "Table":
        """Reference ``Table.with_columns`` (table.py:1613)."""
        mapping = {name: self._resolve(e) for name, e in kwargs.items()}
        return Table(self._df.withColumns(mapping), self._id_cols)

    def filter(self, expr) -> "Table":
        """Reference ``Table.filter`` (table.py:490) → Catalyst Filter (pushed
        down to the parquet scan when possible).

        >>> import pathwaydataframework_spark as pw
        >>> t = pw.Table.from_rows(spark, [(1,), (2,), (3,)], "a long")
        >>> [r["a"] for r in t.filter(pw.this.a >= 2).df.collect()]
        [2, 3]
        """
        return Table(self._df.filter(self._resolve(expr)), self._id_cols)

    def split(self, expr) -> tuple["Table", "Table"]:
        """Reference ``Table.split`` (table.py:531): (matching, complement)."""
        cond = self._resolve(expr)
        return (
            Table(self._df.filter(cond), self._id_cols),
            Table(self._df.filter(~cond | cond.isNull()), self._id_cols),
        )

    def without(self, *cols) -> "Table":
        """Reference ``Table.without`` (table.py:1921)."""
        names = [self._resolve_name(c) for c in cols]
        df = self._df
        id_cols = self._id_cols
        if id_cols and any(n in id_cols for n in names):
            # dropping an id-defining column must not silently rekey the
            # table — pin the id first
            if ID_COL not in df.columns:
                df = df.withColumn(ID_COL, self.id_expr())
            id_cols = None
        return Table(df.drop(*names), id_cols)

    def rename_columns(self, **kwargs) -> "Table":
        """new_name=old_ref — reference table.py:1763."""
        mapping = {self._resolve_name(old): new for new, old in kwargs.items()}
        return Table(self._df.withColumnsRenamed(mapping), self._id_cols)

    def rename_by_dict(self, mapping: dict) -> "Table":
        """old→new — reference table.py:1816.  Id-defining column names are
        remapped alongside, so id_expr keeps resolving after the rename."""
        m = {self._resolve_name(k): v for k, v in mapping.items()}
        id_cols = (
            tuple(m.get(c, c) for c in self._id_cols) if self._id_cols else None
        )
        return Table(self._df.withColumnsRenamed(m), id_cols)

    def rename(self, names_mapping: dict | None = None, **kwargs) -> "Table":
        if names_mapping:
            return self.rename_by_dict(names_mapping)
        return self.rename_columns(**kwargs)

    def with_prefix(self, prefix: str) -> "Table":
        return self.rename_by_dict({c: prefix + c for c in self.column_names})

    def with_suffix(self, suffix: str) -> "Table":
        return self.rename_by_dict({c: c + suffix for c in self.column_names})

    def cast_to_types(self, **dtypes) -> "Table":
        """Reference table.py:2011.  Accepts Spark SQL type strings or
        ``pw.Type`` (compat.Type) members.  try_cast: malformed cells land
        in the null error channel instead of aborting the job under ANSI
        (the reference's cast failures are recoverable Error values)."""
        mapping = {
            name: self._df[name].try_cast(
                getattr(t, "spark", None) or getattr(t, "value", t)
            )
            for name, t in dtypes.items()
        }
        return Table(self._df.withColumns(mapping), self._id_cols)

    update_types = cast_to_types

    def copy(self) -> "Table":
        """Reference table.py:904.  Returns a *distinct* table object so that
        self-joins can qualify each side."""
        return Table(self._df.alias(f"copy_{id(self) & 0xFFFF:x}"), self._id_cols)

    # -- keys / ids ---------------------------------------------------------

    def with_id_from(self, *cols) -> "Table":
        """Re-key by hash of columns — reference table.py:1690."""
        names = [self._resolve_name(c) for c in cols]
        df = self._df.withColumn(ID_COL, F.xxhash64(*[self._df[c] for c in names]))
        return Table(df, names)

    def with_id(self, expr) -> "Table":
        """Reference table.py:1647: take ids from a pointer expression."""
        df = self._df.withColumn(ID_COL, self._resolve(expr))
        return Table(df)

    def materialize_id(self) -> "Table":
        if ID_COL in self._df.columns:
            return self
        return Table(self._df.withColumn(ID_COL, self.id_expr()), self._id_cols)

    def ix(self, key_expr, *, optional: bool = False, context=None) -> "Table":
        """Key-lookup: reindex *this* table by a pointer column of another
        table — reference ``Table.ix`` (table.py:1164) / engine ix_table
        (graph.rs:923).

        ``context`` is the table owning ``key_expr``; result has context's
        rows with this table's columns.  Lowered to an equi-join on the id
        hash — broadcastable when this table is small.
        """
        if getattr(key_expr, "_arg_kind", None) is not None:
            # reference idiom `table.ix(reducers.argmin(v), context=pw.this)
            # .col` INSIDE reduce (tests/test_common.py:3081) — sugar for a
            # single min_by/max_by aggregate, no join at all
            return _IxArgProxy(self, key_expr)
        if context is None:
            if isinstance(key_expr, ColumnRef) and isinstance(key_expr.owner, Table):
                context = key_expr.owner
            else:
                raise ValueError("ix needs `context=` (the probing table)")
        probe = context._df.withColumn("__pw_probe_key", context._resolve(key_expr))
        build = self.materialize_id()._df
        how = "left" if optional else "inner"
        joined = probe.join(build, probe["__pw_probe_key"] == build[ID_COL], how)
        out = joined.select(*[build[c] for c in build.columns if c != ID_COL])
        return Table(out)

    def ix_ref(self, *values, optional: bool = False, context=None):
        key = F.xxhash64(*[F.lit(v) for v in values])
        from pathwaydataframework_spark.internals.expression import RawColumn

        return self.ix(RawColumn(key), optional=optional, context=context or self)

    # -- set / multiset ops (SURVEY §2.6) ----------------------------------

    def concat(self, *others: "Table") -> "Table":
        """Union keeping ids disjoint — reference table.py:1334."""
        df = self._df
        for o in others:
            df = df.unionByName(o._df, allowMissingColumns=False)
        return Table(df)

    def concat_reindex(self, *others: "Table") -> "Table":
        """Reference table.py:308 — union + fresh ids."""
        return self.concat(*others)

    def update_rows(self, other: "Table") -> "Table":
        """Upsert full rows by id — reference table.py:1524 / engine
        update_rows_table (graph.rs:869).

        Full-outer join on the id hash; a matching row in ``other`` replaces
        the WHOLE row (reference semantics), so a legitimate NULL cell on the
        right wins — sides are picked by match presence (rid non-null), not
        per-cell coalesce.
        """
        left = self.materialize_id()._df
        right = other.materialize_id()._df
        lid, rid = left[ID_COL], right[ID_COL]
        joined = left.join(right, left[ID_COL] == right[ID_COL], "full_outer")
        cols = [
            F.when(rid.isNotNull(), right[c]).otherwise(left[c]).alias(c)
            for c in self.column_names
        ]
        out = joined.select(F.coalesce(rid, lid).alias(ID_COL), *cols)
        return Table(out)

    def update_cells(self, other: "Table") -> "Table":
        """Upsert listed columns on matching ids (other ⊆ self) — reference
        table.py:1439; operator ``t << other``."""
        left = self.materialize_id()._df
        right = other.materialize_id()._df
        rid = right[ID_COL]
        joined = left.join(right, left[ID_COL] == rid, "left")
        cols = []
        for c in self.column_names:
            if c in other.column_names:
                # gate on the right ROW's existence, not the cell's nullness:
                # an explicit NULL cell in `other` must overwrite (reference
                # table.py:1439 replaces the cell unconditionally on match)
                cols.append(
                    F.when(rid.isNotNull(), right[c]).otherwise(left[c]).alias(c)
                )
            else:
                cols.append(left[c].alias(c))
        return Table(joined.select(left[ID_COL], *cols))

    def __lshift__(self, other: "Table") -> "Table":
        return self.update_cells(other)

    def difference(self, other: "Table") -> "Table":
        """Rows whose id is not in other — reference table.py:739 → left_anti
        join on the id hash (no row payload shuffled for the right side).

        >>> import pathwaydataframework_spark as pw
        >>> a = pw.Table.from_rows(spark, [(1,), (2,), (3,)], "k long").with_id_from("k")
        >>> b = pw.Table.from_rows(spark, [(2,)], "k long").with_id_from("k")
        >>> sorted(r["k"] for r in a.difference(b).df.collect())
        [1, 3]
        """
        left = self.materialize_id()._df
        right = other.materialize_id()._df.select(ID_COL)
        return Table(left.join(right, on=ID_COL, how="left_anti"))

    def intersect(self, *others: "Table") -> "Table":
        """Rows whose id is in all — reference table.py:776 → left_semi."""
        df = self.materialize_id()._df
        for o in others:
            df = df.join(o.materialize_id()._df.select(ID_COL), on=ID_COL, how="left_semi")
        return Table(df)

    def restrict(self, other: "Table") -> "Table":
        """Reference table.py:837 — semantic alias of intersect for our model."""
        return self.intersect(other)

    def flatten(self, *cols, origin_id: str | None = None) -> "Table":
        """Explode iterable column(s) — reference table.py:2089.

        >>> import pathwaydataframework_spark as pw
        >>> t = pw.Table.from_rows(
        ...     spark, [(1, ["x", "y"])], "k long, vs array<string>")
        >>> sorted(tuple(r) for r in t.flatten(pw.this.vs).df.collect())
        [(1, 'x'), (1, 'y')]
        """
        """Explode array column(s) — reference table.py:2089 / flatten_table
        (graph.rs:847)."""
        if len(cols) != 1:
            raise ValueError("flatten takes exactly one column")
        name = self._resolve_name(cols[0])
        others = [c for c in self._df.columns if c != name]
        out = self._df.select(*others, F.explode(self._df[name]).alias(name))
        if origin_id:
            out = out.withColumn(origin_id, F.xxhash64(*[out[c] for c in others]))
        return Table(out)

    def remove_errors(self) -> "Table":
        """Reference table.py:2491 — our error channel is null (SURVEY §7)."""
        cond = None
        for c in self.column_names:
            nn = self._df[c].isNotNull()
            cond = nn if cond is None else (cond & nn)
        return Table(self._df.filter(cond), self._id_cols)

    def _gradual_broadcast(
        self, threshold_table: "Table", lower_column, value_column, upper_column
    ) -> "Table":
        """Broadcast an approximate scalar to every row — reference
        table.py:631, engine operators/gradual_broadcast.rs.

        The reference keeps the broadcast value fixed while the true value
        stays inside [lower, upper] (hysteresis), so a churning threshold
        does not re-touch every row of a large table on each tick.  Final
        values are identical to broadcasting the current value, which is
        what the batch plan computes: a broadcast cross join of the single
        aggregated threshold row (no shuffle of self).  In streaming the
        same plan re-resolves per micro-batch — Spark's batch granularity
        IS the churn limiter, so the band is accepted for API parity and
        documented as a no-op deviation.
        """
        import pyspark.sql.functions as F

        apx = F.broadcast(
            threshold_table._df.agg(
                F.max(threshold_table._resolve(value_column)).alias("apx_value")
            )
        )
        return Table(self._df.crossJoin(apx), self._id_cols)

    # -- grouping / joins (implemented in sibling modules) ------------------

    def groupby(self, *cols, sort_by=None, instance=None, id=None) -> "Any":
        """Reference table.py:942.  ``id=``: the given (pointer) column both
        groups the rows and becomes the result row ids (table.py:985-997 —
        only legal alone or equal to the single grouping column)."""
        from pathwaydataframework_spark.internals.groupbys import GroupedTable

        grouping = list(cols)
        if instance is not None:
            grouping.append(instance)
        if id is not None:
            if not isinstance(id, ColumnRef):
                raise ValueError("groupby() id argument must be a column reference")
            if len(grouping) == 0:
                grouping = [id]
            elif len(grouping) > 1:
                raise ValueError(
                    "Table.groupby() cannot have id argument when grouping by "
                    "multiple columns."
                )
            elif not (
                isinstance(grouping[0], ColumnRef) and grouping[0].name == id.name
            ):
                raise ValueError(
                    "Table.groupby() received id argument and is grouped by a "
                    "single column, but the arguments are not equal."
                )
            return GroupedTable(self, grouping, sort_by=sort_by, set_id=True)
        return GroupedTable(self, grouping, sort_by=sort_by)

    def reduce(self, *args, **kwargs) -> "Table":
        """Global aggregation (no keys) — reference table.py:1025."""
        from pathwaydataframework_spark.internals.groupbys import GroupedTable

        return GroupedTable(self, []).reduce(*args, **kwargs)

    def join(
        self,
        other: "Table",
        *on,
        how: str = "inner",
        id=None,
        left_instance=None,
        right_instance=None,
    ):
        """Reference ``internals/joins.py:135`` — equi-join with optional
        ``id=`` result keying and ``left_instance=``/``right_instance=``
        partitioning (the instance pair becomes one more equi-condition,
        joins.py:965-967)."""
        from pathwaydataframework_spark.internals.joins import join as _join

        # accept pw.JoinMode members anywhere a how= string is expected
        how = getattr(how, "value", how)
        return _join(
            self,
            other,
            *on,
            how=how,
            id=id,
            left_instance=left_instance,
            right_instance=right_instance,
        )

    def join_inner(self, other, *on, id=None, left_instance=None, right_instance=None):
        return self.join(
            other, *on, how="inner", id=id,
            left_instance=left_instance, right_instance=right_instance,
        )

    def join_left(self, other, *on, id=None, left_instance=None, right_instance=None):
        return self.join(
            other, *on, how="left", id=id,
            left_instance=left_instance, right_instance=right_instance,
        )

    def join_right(self, other, *on, id=None, left_instance=None, right_instance=None):
        return self.join(
            other, *on, how="right", id=id,
            left_instance=left_instance, right_instance=right_instance,
        )

    def join_outer(self, other, *on, id=None, left_instance=None, right_instance=None):
        return self.join(
            other, *on, how="outer", id=id,
            left_instance=left_instance, right_instance=right_instance,
        )

    # -- ordered / temporal operators (operators/) --------------------------

    def sort(self, key, instance=None) -> "Table":
        from pathwaydataframework_spark.operators.ordered import sort as _sort

        return _sort(self, key, instance)

    def diff(self, timestamp, *values, instance=None) -> "Table":
        from pathwaydataframework_spark.operators.ordered import diff as _diff

        return _diff(self, timestamp, *values, instance=instance)

    def interpolate(self, timestamp, *values, mode: str = "linear") -> "Table":
        from pathwaydataframework_spark.operators.ordered import interpolate as _interp

        return _interp(self, timestamp, *values, mode=mode)

    def topk(self, k: int, order_by, *, instance=None, descending: bool = True) -> "Table":
        from pathwaydataframework_spark.operators.ordered import topk as _topk

        return _topk(self, k, order_by, instance=instance, descending=descending)

    def windowby(self, time_expr, *, window, instance=None, behavior=None):
        from pathwaydataframework_spark.operators.temporal import windowby as _windowby

        return _windowby(self, time_expr, window=window, instance=instance, behavior=behavior)

    def asof_join(self, other, self_time, other_time, *on, how="left", direction="backward", defaults=None, left_instance=None, right_instance=None):
        from pathwaydataframework_spark.operators.temporal import asof_join as _asof

        return _asof(self, other, self_time, other_time, *on, how=how, direction=direction, defaults=defaults, left_instance=left_instance, right_instance=right_instance)

    def interval_join(self, other, self_time, other_time, interval, *on, how="inner", left_instance=None, right_instance=None):
        from pathwaydataframework_spark.operators.temporal import interval_join as _ij

        return _ij(self, other, self_time, other_time, interval, *on, how=how, left_instance=left_instance, right_instance=right_instance)

    def window_join(self, other, self_time, other_time, window, *on, how="inner", left_instance=None, right_instance=None):
        from pathwaydataframework_spark.operators.temporal import window_join as _wj

        return _wj(self, other, self_time, other_time, window, *on, how=how, left_instance=left_instance, right_instance=right_instance)

    def deduplicate(self, *, value=None, instance=None, acceptor=None) -> "Table":
        from pathwaydataframework_spark.operators.dedup import deduplicate as _dd

        return _dd(self, value=value, instance=instance, acceptor=acceptor)

    # -- misc ---------------------------------------------------------------

    def __add__(self, other: "Table") -> "Table":
        """Column-wise zip of same-universe tables (reference table.py:424).

        Our tables have no shared-universe guarantee; implemented as id-join.
        """
        left = self.materialize_id()._df
        right = other.materialize_id()._df
        dup = [c for c in other.column_names if c in self.column_names]
        rsel = [c for c in other.column_names if c not in dup]
        joined = left.join(right.select(ID_COL, *rsel), on=ID_COL, how="inner")
        return Table(joined)

    # -- universe-compat no-ops (reference universe algebra, SURVEY §1.1) --

    def with_universe_of(self, other: "Table") -> "Table":
        """Reference table.py:2037.  The reference needs key-set algebra to
        zip same-universe tables without a join; Catalyst resolves columns
        relationally, so this is an id-preserving no-op kept for API
        compatibility (zipping is ``__add__`` → id join)."""
        return self

    def cache(self) -> "Table":
        self._df.cache()
        return self

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    def show(self, n: int = 20, truncate: bool = True) -> None:
        self._df.show(n, truncate)


# -- reference Table-method parity -------------------------------------------
# The reference attaches the temporal directional variants as Table methods
# (reference __init__.py:252-265) and has a handful of introspection
# helpers; bind them here so `t.interval_join_left(...)`-style user code
# ports unchanged.  Late imports avoid a circular module load.


def _bind_temporal_methods() -> None:
    from pathwaydataframework_spark.operators import temporal as _t

    for name in (
        "asof_join", "asof_join_left", "asof_join_right", "asof_join_outer",
        "asof_now_join", "asof_now_join_inner", "asof_now_join_left",
        "interval_join", "interval_join_inner", "interval_join_left",
        "interval_join_right", "interval_join_outer",
        "window_join", "window_join_inner", "window_join_left",
        "window_join_right", "window_join_outer", "windowby",
    ):
        if not hasattr(Table, name):
            setattr(Table, name, getattr(_t, name))


def _table_schema(self) -> dict:
    """Reference table.py:171 — the table's schema.  Returned as a plain
    {column: spark_dtype} mapping (the engine's schema currency); use
    ``typehints`` for Python-type hints."""
    return dict(self._df.dtypes)


def _table_keys(self):
    """Reference table.py:154 — column-name view."""
    return dict(self._df.dtypes).keys()


def _table_typehints(self) -> dict:
    """Reference table.py:2530 — python type hints per column."""
    _MAP = {
        "bigint": int, "int": int, "smallint": int, "tinyint": int,
        "double": float, "float": float, "string": str, "boolean": bool,
        "binary": bytes,
    }
    return {c: _MAP.get(t, object) for c, t in self._df.dtypes}


def _table_eval_type(self, expression):
    """Reference table.py:2549 — the Spark dtype an expression evaluates
    to on this table (resolved by probing the plan, not executing it)."""
    from pathwaydataframework_spark.internals.expression import lift

    probe = self._df.select(self._resolve(expression).alias("__t"))
    return dict(probe.dtypes)["__t"]


def _table_slice(self):
    """Reference table.py:468 — the slice view; slicing here returns
    Tables, so the slice IS the table."""
    return self


def _table_update_id_type(self, id_type, *, id_append_only=None):
    """Reference table.py:2003 — ids are always xxhash64 longs here; the
    declared id type has no runtime effect, so this is the identity."""
    return self


def _table_debug(self, name: str):
    """Reference table.py:2346 — print the table under a debug label."""
    print(f"-- debug {name} --")
    self._df.show(20, truncate=False)
    return self


def _table_to(self, sink, **kwargs) -> None:
    """Reference table.py:2353 — route the table into a sink object: any
    object with a ``write(table, ...)`` (our pw.io classes) or a callable."""
    if hasattr(sink, "write"):
        return sink.write(self, **kwargs)
    return sink(self, **kwargs)


Table.schema = property(_table_schema)
Table.keys = _table_keys
Table.typehints = _table_typehints
Table.eval_type = _table_eval_type
Table.slice = property(_table_slice)
Table.update_id_type = _table_update_id_type
Table.debug = _table_debug
Table.to = _table_to
def _table_from_columns(*args, **kwargs) -> "Table":
    """Reference table.py from_columns — assemble a table from column
    references sharing a universe.  Columns from the SAME source table
    select directly; mixing tables requires a prior join here (the Spark
    engine has no cross-table universe registry — documented deviation,
    same row-count contract when sources share an id)."""
    if not args and not kwargs:
        raise ValueError("from_columns needs at least one column")
    first = args[0] if args else next(iter(kwargs.values()))
    owner = first.owner
    cols = []
    for a in args:
        cols.append(owner._resolve(a).alias(a.name))
    for name, r in kwargs.items():
        if r.owner is not owner and getattr(r.owner, "_df", None) is not getattr(owner, "_df", None):
            raise ValueError(
                "from_columns across different tables: join them first "
                "(no universe registry in the Spark engine)"
            )
        cols.append(owner._resolve(r).alias(name))
    return Table(owner._df.select(*cols))


Table.from_columns = staticmethod(_table_from_columns)


class _IxArgExpr(Expr):
    """``table.ix(argmin(v), context=pw.this).col`` inside reduce — resolves
    to ``min_by(col, v)`` / ``max_by(col, v)`` in the grouping context."""

    def __init__(self, table: "Table", agg, name: str):
        self._t = table
        self._agg = agg
        self._name = name

    def _resolve(self, ctx):
        probe = ctx.probe_df()
        if probe is not None and probe is not self._t._df:
            raise NotImplementedError(
                "ix(argmin/argmax) sugar only supports looking up the "
                "grouped table itself (context=pw.this); for a different "
                "table reduce the id first, then ix separately"
            )
        col = ctx.resolve_ref(ColumnRef(THIS, self._name))
        val = self._agg._arg_value._resolve(ctx)
        fn = F.min_by if self._agg._arg_kind == "min" else F.max_by
        return fn(col, val)


class _IxArgProxy:
    def __init__(self, table: "Table", agg):
        self._t = table
        self._agg = agg

    def __getattr__(self, name: str) -> _IxArgExpr:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in self._t._df.columns:
            raise AttributeError(f"no column {name!r}; have {self._t._df.columns}")
        return _IxArgExpr(self._t, self._agg, name)

    def __getitem__(self, name: str) -> _IxArgExpr:
        return self.__getattr__(name)
