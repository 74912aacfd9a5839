"""Window behaviors & inactivity detection.

Reference: ``common_behavior(delay, cutoff, keep_results)`` /
``exactly_once_behavior(shift)`` (stdlib/temporal/temporal_behavior.py:29,83)
and ``inactivity_detection`` (stdlib/temporal/time_utils.py:52).

Mapping (SURVEY.md §2.5): ``cutoff`` → ``withWatermark`` (late-data drop +
state cleanup); ``delay`` → trigger interval; ``keep_results=False`` ≈
append mode vs update mode.  In batch, behaviors are carried on the window
spec and applied when the plan runs in streaming mode; the batch result is
the final converged state either way (what the oracle checks).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from pathwaydataframework_spark.internals.expression import ColumnRef
from pathwaydataframework_spark.internals.table import Table


@dataclass(frozen=True)
class Behavior:
    """Abstract behavior base — reference stdlib/temporal/
    temporal_behavior.py:10.  Both concrete behaviors subtype it so
    ``isinstance(b, Behavior)`` checks from ported code keep working."""


@dataclass(frozen=True)
class CommonBehavior(Behavior):
    delay: Any = None
    cutoff: Any = None
    keep_results: bool = True


@dataclass(frozen=True)
class ExactlyOnceBehavior(Behavior):
    shift: Any = None


def common_behavior(delay=None, cutoff=None, keep_results: bool = True) -> CommonBehavior:
    """Reference temporal_behavior.py:29."""
    return CommonBehavior(delay, cutoff, keep_results)


def exactly_once_behavior(shift=None) -> ExactlyOnceBehavior:
    """Reference temporal_behavior.py:83."""
    return ExactlyOnceBehavior(shift)


def inactivity_detection(
    table: Table,
    time_col,
    *,
    instance=None,
    max_gap,
) -> Table:
    """Detect inactivity periods — reference time_utils.py:52.

    Batch semantics: emit one row per gap larger than ``max_gap`` with the
    instance, the last active time and the time activity resumed.  The
    reference's streaming variant, which alerts *while* an instance is
    still inactive, is not implemented: a gap is reported only once
    activity resumes.
    """
    from pathwaydataframework_spark.operators.temporal import duration_to_seconds

    gap_s = duration_to_seconds(max_gap)
    tname = time_col.name if isinstance(time_col, ColumnRef) else time_col
    if instance is not None:
        iname = instance.name if isinstance(instance, ColumnRef) else instance
        w = W.partitionBy(iname).orderBy(F.col(tname))
        keys = [iname]
    else:
        w = W.partitionBy().orderBy(F.col(tname))
        keys = []
    df = table.df.withColumn("__prev_t", F.lag(F.col(tname)).over(w))
    gaps = df.filter(
        F.col("__prev_t").isNotNull()
        & (
            F.unix_micros(F.col(tname).cast("timestamp"))
            - F.unix_micros(F.col("__prev_t").cast("timestamp"))
            > int(gap_s * 1_000_000)
        )
    )
    return Table(
        gaps.select(
            *keys,
            F.col("__prev_t").alias("inactive_since"),
            F.col(tname).alias("resumed_at"),
        )
    )
