"""The session defaults of ``get_spark`` that keep warm work cheap: a codegen
cache that holds the engine's working set of generated classes, and Column
functions that make no per-call origin round trips to the JVM."""

from __future__ import annotations

import pyspark.sql.functions as F
from py4j.java_gateway import GatewayClient
from pyspark.errors import utils as pyspark_error_utils

import pathwaydataframework_spark as pw
from pathwaydataframework_spark.internals import reducers as R


def test_warm_rerun_compiles_nothing(spark):
    """120 plans whose generated classes differ only in an inlined literal
    overflow a 100-entry codegen cache, so a second round of them recompiles
    most of their classes unless the cache holds them all."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compile_all():
        for i in range(120):
            # executing the physical plan generates and compiles its code on
            # the driver without running a job
            df = spark.range(3).select(F.col("id") + i)
            df._jdf.queryExecution().executedPlan().execute()

    compile_all()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    compile_all()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


def test_column_building_makes_no_origin_round_trips(spark, monkeypatch):
    """Building a plan sends only the py4j commands the plan itself needs."""
    # PySpark reads the debugging flag once per process; read it again from
    # this session's conf
    monkeypatch.setattr(pyspark_error_utils, "_enable_debugging_cache", None)
    F.col("x")
    left = pw.Table.from_rows(spark, [(1, 5), (1, 15), (2, 25)], "k long, x long")
    right = pw.Table.from_rows(spark, [(1, "a"), (2, "b")], "k long, tag string")

    sent = []
    send_command = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send_command(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    F.col("x")
    assert len(sent) <= 3
    sent.clear()
    joined = left.join(right, pw.left.k == pw.right.k).filter(pw.left.x > 10)
    joined.groupby(pw.right.tag).reduce(n=R.count(), sx=R.sum(pw.left.x))
    assert len(sent) <= 100
