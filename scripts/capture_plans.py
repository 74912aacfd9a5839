"""Capture .explain('formatted') for named queries into plans/<round>/.

Usage: python scripts/capture_plans.py <suffix> [query ...]

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (round
defaults to r15) for each named query (default: the
bench HEADLINE set).  Plans are captured at the bench SF (sf0.1) with the
bench session config, so Exchange counts / join strategies match what the
bench times.  q_knn_lsh is captured in its bench (tight) configuration,
like bench.py times it.

Next to each plan it writes <query>_<suffix>.optimized.txt: the optimized
logical plan with expression ids (``#123``) written ``#<id>`` and Python UDF
numbers (``pythonUDF0``) written ``pythonUDF<n>``, since both depend on what
ran earlier in the process.  To check that a change leaves plans alone,
capture the same query list from both source trees and ``diff`` these files.
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import pathwaydataframework_spark as pw  # noqa: E402
import __spark_entry__ as entry  # noqa: E402
from bench import HEADLINE  # noqa: E402


def normalized_optimized_plan(df) -> str:
    """``df``'s optimized logical plan with its run-dependent ids normalized."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+", "#<id>", text)
    return re.sub(r"pythonUDF\d+", "pythonUDF<n>", text)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = pw.get_spark(app_name="plan_capture", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    qs["q_knn_lsh"] = entry.q_knn_lsh_tight
    out_dir = os.path.join(
        HERE, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15")
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        with open(os.path.join(out_dir, f"{name}_{suffix}.optimized.txt"), "w") as fh:
            fh.write(normalized_optimized_plan(df))
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    spark.stop()


if __name__ == "__main__":
    main()
