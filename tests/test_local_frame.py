"""Driver-held rows as JVM local relations, ``session.local_frame``.

For every schema shape the package builds from driver rows, the frame
equals ``createDataFrame(list, schema)`` in schema and rows, plans as a
``LocalTableScan`` and has no ``PythonRDD`` in its lineage. Bad rows fail
as loudly as the list path makes them fail.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from healthcare_dbt_datamart_spark.session import local_frame

SHAPES = {
    "scalars": (
        "a bigint, b int, c double, d string, e boolean",
        [
            (1, 2, 0.5, "x", True),
            (None, None, None, None, None),
            (-(2**62), -(2**31), -1e300, "", False),
        ],
    ),
    "array_double": (
        "qid bigint, q_vec array<double>",
        [(1, [1.0, -2.5, None]), (2, []), (3, None)],
    ),
    "array_struct": (
        "cents array<struct<cid:int,cvec:array<double>,cnorm:double>>",
        [([(0, [1.0, 0.0], 1.0), (1, [0.6, 0.8], None)],)],
    ),
    "array_array_struct": (
        "cb array<array<struct<cid:int,cvec:array<double>>>>",
        [([[(0, [0.25])], [(0, [1.0]), (1, [-1.0])]],)],
    ),
    "array3_double": (
        "dtc array<array<array<double>>>",
        [([[[0.5, 1.5], [2.0]], [], [[]]],)],
    ),
    "empty": ("kind string, grp int, cid int, cvec array<double>", []),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_local_frame_matches_list_path_without_python(spark, shape):
    ddl, rows = SHAPES[shape]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    qe = got._jdf.queryExecution()
    assert qe.executedPlan().toString().startswith("LocalTableScan")
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    # the list path this replaces does ship rows through Python
    assert "PythonRDD" in want._jdf.queryExecution().toRdd().toDebugString()


def test_plan_audit_flags_rows_shipped_through_python(spark):
    from tools.audit_plans import python_rdd_leaves

    ddl, rows = SHAPES["array_struct"]
    via_python = spark.createDataFrame(rows, ddl)
    local = local_frame(spark, rows, ddl)
    probe = spark.range(3).crossJoin(via_python).union(
        spark.range(3).crossJoin(via_python)
    )
    assert python_rdd_leaves(probe) == 2
    assert python_rdd_leaves(spark.range(3).crossJoin(local)) == 0
    pandas = spark.range(3).mapInPandas(lambda it: it, "id bigint")
    assert python_rdd_leaves(pandas) == 0


def test_local_frame_takes_a_struct_type(spark):
    schema = StructType([StructField("n", LongType())])
    df = local_frame(spark, [(7,)], schema)
    assert df.schema == schema and df.collect()[0].n == 7


@pytest.mark.parametrize("row", [(1, 2), (), [1, "a", 2.0]])
def test_local_frame_rejects_wrong_arity(spark, row):
    with pytest.raises(ValueError, match="does not match"):
        local_frame(spark, [(1,), row], "n bigint")


@pytest.mark.parametrize("value", ["x", 1.5, 2.0, True, 2**63])
def test_local_frame_rejects_values_the_column_cannot_hold(spark, value):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [(1,), (value,)], "n bigint")
