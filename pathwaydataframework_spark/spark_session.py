"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configs are what we would ship as cluster defaults:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) so the
  physical plan adapts to real data sizes at 100 TB.
- Arrow on for every pandas-UDF crossing (the only Python hot paths we allow).
- UTC session timezone so timestamp semantics are stable across engines
  (matches the DuckDB oracle harness).
- A codegen cache of 1000 generated classes
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100).  One pass
  of the 11 ``perfbench`` relational queries generates 124 distinct classes,
  340 with the 6 pipeline queries, and a whole ``serve_retrieve`` run with
  its streaming pass 277.  Passes revisit the classes in the same order, so
  a least-recently-used cache smaller than the working set evicts each class
  just before it is needed again: at 100 entries every warm relational pass
  recompiled 94-95 classes, at 1000 none.
- PySpark's DataFrame debugging off
  (``spark.python.sql.dataFrameDebugging.enabled``).  When on, every Column
  function records its call site in the JVM: about 10 extra py4j round
  trips and a walk of the Python stack per call (``F.col`` 13 round trips
  instead of 3).  The site it records is the first frame outside pyspark,
  which for a ``Table`` operation is inside this package, never in user
  code.

``extra_conf`` overrides any of these.  Two limits: the codegen cache size
is a static conf, so ``getOrCreate`` on a session that is already running
keeps that session's size; and PySpark reads the debugging flag once per
process, at the first Column function call, from the session active then
(with no active session it stays off).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pathwaydataframework-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
