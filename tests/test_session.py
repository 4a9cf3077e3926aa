"""``session.get_spark``'s driver JVM launch options and the scoped
caches ``session.pinned`` owns.

The session launches its JVM with one C2 compiler thread
(``-XX:CICompilerCount=2``) through ``spark.driver.extraJavaOptions``; a
caller's own options ride after the engine flag, so they win and never
drop it. A function that pins a frame frees it on every exit, its
documented ``ValueError`` paths included.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from healthcare_dbt_datamart_spark.llmops.graph import (
    hits_fixedpoint,
    personalized_pagerank,
)
from healthcare_dbt_datamart_spark.llmops.preferences import elo_boards
from healthcare_dbt_datamart_spark.llmops.textstats import sparse_logreg_train
from healthcare_dbt_datamart_spark.session import get_spark, local_frame


def test_driver_jvm_runs_with_one_c2_thread(spark):
    """The shared test session comes from ``get_spark``: its JVM was
    launched with the flag."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args


def test_caller_java_options_ride_after_the_engine_flag(monkeypatch):
    """JVM-free: the builder's options as ``getOrCreate`` sees them."""
    seen = {}

    def capture(builder):
        seen.update(builder._options)
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    key = "spark.driver.extraJavaOptions"

    assert get_spark("t", extra_conf={key: "-Dx=1", "spark.a": "b"}) == "session"
    assert seen[key] == "-XX:CICompilerCount=2 -Dx=1"
    assert seen["spark.a"] == "b"

    seen.clear()
    get_spark("t")
    assert seen[key] == "-XX:CICompilerCount=2"


def _edges(spark, rows):
    return local_frame(spark, rows, "src string, dst string")


_RAISING_FITS = {
    "hits_empty_edges": (
        lambda s: hits_fixedpoint(_edges(s, [])),
        "empty edge list",
    ),
    "ppr_seed_not_a_node": (
        lambda s: personalized_pagerank(
            _edges(s, [("a", "b"), ("b", "c")]), ["zz"]
        ),
        "not graph nodes",
    ),
    "elo_null_keys": (
        lambda s: elo_boards(
            local_frame(
                s,
                [("a", "b", 1), (None, "b", 1), ("a", None, 2),
                 ("b", "a", None)],
                "winner_id string, loser_id string, period bigint",
            ),
            (16,),
        ),
        "3 matches have a NULL winner, loser or period",
    ),
    "logreg_unlabeled_ids": (
        lambda s: sparse_logreg_train(
            local_frame(
                s, [(1, 7, 1), (2, 7, 2)], "id bigint, feat bigint, v bigint"
            ),
            local_frame(s, [(1, 1)], "id bigint, y int"),
        ),
        "no label",
    ),
}


@pytest.mark.parametrize("case", sorted(_RAISING_FITS))
def test_raising_fit_leaves_no_cache(spark, case):
    """A fit that raises mid-body leaves the cache manager as it found
    it. The shared test session also holds session-lifetime caches from
    other tests (``testdata_queries._persisted``), so the check starts
    from an empty manager; those frames recompute if read again."""
    fit, match = _RAISING_FITS[case]
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    with pytest.raises(ValueError, match=match):
        fit(spark)
    assert cache.isEmpty()
