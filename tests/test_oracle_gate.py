"""Every shipped query against its shipped oracle.

Each ``QUERIES`` builder runs on the sf0.001 testdata in the shared
session and must match ``ORACLE[name]`` under the comparator of
``tools/check_correctness.py``: sorted column names, row count and the
order-insensitive value hash. An empty result is not a failure
(``anti_join_customers`` returns no rows at every scale factor).
"""

from __future__ import annotations

import pytest

from healthcare_dbt_datamart_spark.models.testdata_queries import (
    ORACLE,
    QUERIES,
)
from refs import SF_DIR

pytestmark = pytest.mark.battery


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, oracle_check, name):
    oracle_check(QUERIES[name](spark, SF_DIR), ORACLE[name])
