"""``session.get_spark``'s driver JVM launch options.

The session launches its JVM with one C2 compiler thread
(``-XX:CICompilerCount=2``) through ``spark.driver.extraJavaOptions``; a
caller's own options ride after the engine flag, so they win and never
drop it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from healthcare_dbt_datamart_spark.session import get_spark


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
