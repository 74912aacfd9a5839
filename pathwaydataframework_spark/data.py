"""Loaders for the driver's synthetic tables (TESTDATA.md).

Handles the one physical quirk in the fixtures: ``events.parquet`` stores
``ts`` as parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects.
We read nanos as long (legacy conf, runtime-settable) and rebuild a
microsecond TIMESTAMP_NTZ with exact integer arithmetic (``DIV 1000`` —
floor, matching DuckDB's nanos→micros truncation).

All timestamps surface as TIMESTAMP_NTZ so results hash identically to the
DuckDB oracle regardless of the host session's timezone.

Every table is read through ``internals.parquet.read_parquet`` with these
casts as its ``finish`` step, so a table is read, schema-inferred and cast
once per file version and session; later loads of an unchanged file return
the same frame and start no Spark job.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pathwaydataframework_spark.internals.parquet import read_parquet
from pathwaydataframework_spark.internals.table import Table

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_confs(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _ntz(df: DataFrame) -> DataFrame:
    """Normalize LTZ→NTZ under the UTC session so values are tz-free."""
    casts = {
        f.name: df[f.name].cast("timestamp_ntz")
        for f in df.schema.fields
        if f.dataType.simpleString() == "timestamp"
    }
    return df.withColumns(casts) if casts else df


def _events(df: DataFrame) -> DataFrame:
    """Rebuild the nanos-as-long ``ts`` as a microsecond TIMESTAMP_NTZ."""
    if df.schema["ts"].dataType.simpleString() == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return _ntz(df)


def load_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_confs(spark)
    finish = _events if name == "events" else _ntz
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", finish)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> Table:
    return Table(load_df(spark, sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, Table]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
