"""Scale-discipline audit: compile every driver-facing query and flag
physical-plan shapes that would not survive 100 TB.

Flags:
- BatchEvalPython / ArrowEvalPython outside the known mapInPandas paths
  (row-at-a-time or unexpected Python in the hot path)
- CartesianProduct (unbounded cross join — the only sanctioned cross
  joins are 1-row broadcast BNLJ param/query-vector joins, reported
  separately as informational)
- missing parquet filter pushdown where a query filters a scanned column
- PythonRDD: a LogicalRDD leaf of the analyzed plan whose lineage runs
  through a PythonRDD — driver rows shipped with createDataFrame(list, …),
  which starts Python workers on every action that reads them
  (``session.local_frame`` plans them as a JVM LocalRelation instead;
  mapInPandas is a plan node, not a LogicalRDD, and is not flagged)

Usage: python tools/audit_plans.py [sf_dir]
Exit code 1 if any hard flag fires.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HARD_FLAGS = ["CartesianProduct", "BatchEvalPython"]
INFO_FLAGS = ["BroadcastNestedLoopJoin", "ArrowEvalPython"]
# mapInPandas is the sanctioned Arrow path for the multimodal stubs
ALLOW_ARROW = {"multimodal_features"}


def python_rdd_leaves(df) -> int:
    """LogicalRDD leaves of ``df``'s analyzed plan whose RDD lineage
    holds a PythonRDD."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sum(
        1
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
        and "PythonRDD" in leaf.rdd().toDebugString()
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from healthcare_dbt_datamart_spark.models import testdata_queries as tq

    bad = 0
    for name, fn in tq.QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            n_python_rdd = python_rdd_leaves(df)
        except Exception as ex:  # noqa: BLE001
            print(f"{name:24s} EXPLAIN-ERROR {type(ex).__name__}: {ex}")
            bad += 1
            continue
        hard = [f for f in HARD_FLAGS if f in plan]
        if n_python_rdd:
            hard.append(f"PythonRDD×{n_python_rdd}")
        info = [f for f in INFO_FLAGS if f in plan]
        if "MapInPandas" in plan and name not in ALLOW_ARROW:
            info.append("MapInPandas")
        if hard:
            print(f"{name:24s} HARD: {','.join(hard)}")
            bad += 1
        elif info:
            print(f"{name:24s} info: {','.join(info)}")
    print(f"audit: {len(tq.QUERIES)} queries, {bad} hard flags")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
