"""Per-group sequential operators that built-in Spark ops can't express:
predicate sessions and acceptor deduplication.

Reference analogues (SURVEY.md §2.5/2.9):
- ``pw.temporal.session(predicate=...)`` — merge consecutive events when a
  Python predicate over (prev, next) holds (_window.py:595, merge :74)
- ``Table.deduplicate(acceptor=...)`` — keep the previous value unless the
  acceptor accepts the new one (stdlib/stateful/deduplicate.py:9)

Predicate sessions are ``windowby(time, window=session(predicate=...),
instance=...).reduce(...)``: the predicate runs as a pandas UDF over the
(prev, cur) event times only and the aggregates are native.  Acceptor
dedup needs a sequential per-key scan, so it lowers to ``applyInPandas``:
one shuffle on the instance key, then an Arrow-batched linear scan per
group.  Both are batch paths; their streaming forms are in
``streaming/stateful.py`` (``applyInPandasWithState``).
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F

from pathwaydataframework_spark.internals import reducers as R
from pathwaydataframework_spark.internals.expression import THIS, ColumnRef
from pathwaydataframework_spark.internals.table import Table
from pathwaydataframework_spark.operators.temporal import session, windowby


def session_windows_by_predicate(
    table: Table,
    time_col,
    predicate: Callable,
    *,
    instance,
    aggregations: dict[str, tuple[str, str]],
) -> Table:
    """Predicate sessions: consecutive (by time) rows merge while
    ``predicate(prev_time, next_time)`` is True.

    ``aggregations`` maps output name → (column, one of 'count'/'sum'/
    'min'/'max').  Output: instance, _pw_window_start, _pw_window_end + aggs.
    """
    def ref(c):
        return c if isinstance(c, ColumnRef) else ColumnRef(THIS, c)

    kinds = {"count": lambda _: R.count(), "sum": R.sum, "min": R.min, "max": R.max}
    inst = ref(instance)
    out = windowby(
        table, ref(time_col), window=session(predicate=predicate), instance=inst
    ).reduce(**{name: kinds[kind](ref(col)) for name, (col, kind) in aggregations.items()})
    return Table(out.df.select(inst.name, "_pw_window_start", "_pw_window_end", *aggregations))


def deduplicate_with_acceptor(
    table: Table,
    *,
    value,
    instance,
    acceptor: Callable,
) -> Table:
    """Sequential acceptor dedup (reference deduplicate semantics): walk each
    instance's rows in value order; a row replaces the previously-kept row
    only when ``acceptor(new_value, previous_kept_value)`` is True.  Returns
    the final kept row per instance."""
    vname = value.name if isinstance(value, ColumnRef) else value
    iname = instance.name if isinstance(instance, ColumnRef) else instance
    schema = ", ".join(f"{n} {t}" for n, t in table.df.dtypes)

    def _apply(pdf):
        pdf = pdf.sort_values(vname, kind="mergesort").reset_index(drop=True)
        kept = None
        for _, row in pdf.iterrows():
            if kept is None or acceptor(row[vname], kept[vname]):
                kept = row
        return pdf.iloc[0:0] if kept is None else kept.to_frame().T

    out = table.df.groupBy(iname).applyInPandas(_apply, schema)
    return Table(out)


class AsyncTransformer:
    """Table→table async row transformer — reference
    stdlib/utils/async_transformer.py:282.

    Subclass and implement ``async def invoke(self, **row) -> dict``.
    ``run`` executes the coroutine per row inside ``mapInPandas`` with one
    asyncio loop per partition batch (bounded concurrency), yielding a
    success table and a failure table (reference's ``.successful`` /
    ``.failed`` split).
    """

    output_schema: str = ""
    max_concurrency: int = 16

    async def invoke(self, **row):  # pragma: no cover — abstract
        raise NotImplementedError

    def run(self, table: Table) -> tuple[Table, Table]:
        import json

        in_schema = ", ".join(f"{n} {t}" for n, t in table.df.dtypes)
        out_schema = f"{in_schema}, __pw_ok boolean, __pw_result string"
        invoke = self.invoke
        max_conc = self.max_concurrency

        def _mapper(batches):
            import asyncio

            import pandas as pd

            async def run_one(sem, row):
                async with sem:
                    try:
                        res = await invoke(**row)
                        return True, json.dumps(res)
                    except Exception as e:  # noqa: BLE001
                        return False, str(e)

            async def run_batch(rows):
                sem = asyncio.Semaphore(max_conc)
                return await asyncio.gather(*[run_one(sem, r) for r in rows])

            for pdf in batches:
                rows = pdf.to_dict("records")
                results = asyncio.run(run_batch(rows))
                pdf = pdf.copy()
                pdf["__pw_ok"] = [ok for ok, _ in results]
                pdf["__pw_result"] = [r for _, r in results]
                yield pdf

        out = table.df.mapInPandas(_mapper, out_schema)
        ok = out.filter(F.col("__pw_ok")).drop("__pw_ok")
        failed = out.filter(~F.col("__pw_ok")).drop("__pw_ok").withColumnRenamed(
            "__pw_result", "error"
        )
        result = ok
        if self.output_schema:
            parsed = F.from_json(F.col("__pw_result"), self.output_schema)
            result = ok.withColumn("__pw_parsed", parsed).select(
                *[c for c in ok.columns if c != "__pw_result"], "__pw_parsed.*"
            )
        return Table(result), Table(failed)


# reference stdlib/stateful/__init__.py exports deduplicate from here too
from pathwaydataframework_spark.operators.dedup import deduplicate  # noqa: F401,E402
