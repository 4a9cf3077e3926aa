"""Benchmark harness: runs every driver-facing query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "warmup_sec": ..., "jit_compile_s": ...,
"jvm_args": [...]}. ``jit_compile_s`` is the JVM's total JIT compile time
over the whole run (warmup included) and ``jvm_args`` its launch options,
so a run shows the compiler policy it ran under and what it cost.

Each query is forced end-to-end with the noop sink (full execution, no
driver collect). A warmup query initializes the JVM/codegen so timings
measure the plan, not session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    import __spark_entry__ as e
    from healthcare_dbt_datamart_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = e.queries()

    # warmup: pay one-time session costs BEFORE timing so per-query
    # numbers measure the plan, not JVM/codegen/Python-worker startup —
    # and stay comparable when the query dict is reordered between
    # rounds. Five representative shapes: the first query (scan +
    # groupBy codegen), a tokenize/regex/higher-order-function query
    # (the text family's interpreter+JIT warm), a mapInPandas query
    # (Arrow + Python worker pool startup), an embedding-array query
    # (aggregate/zip_with HOF compile for the similarity family), and an
    # exploded-gram join query (the decontamination/PMI join family).
    first = next(iter(qs))
    warm = [
        first, "text_quality", "multimodal_features", "cosine_topk",
        "ngram_contamination",
        # the bloom bitset build + bit-test probe compile codegen no other
        # query shape covers (instr-hex arithmetic, element_at bit tests)
        "bloom_prefilter",
        # the leaderboard family's one-time session build (supplier match
        # log -> pair-period collapse -> BT + dual-k Elo fits). Every
        # round since the warm convention existed excluded this build
        # from the timed region because the family's build-payer sat in
        # the dict-leader slot (warmed twice); the round-13 window
        # rotation moved the leader elsewhere, which would silently
        # relocate ~15 s of one-time build INTO two queries' timed slots
        # and destroy round-over-round comparability. Warming kendall_tau
        # (it transitively builds all four family caches) keeps the
        # timed boundary IDENTICAL to rounds 7-12; warmup_sec below
        # accounts the excluded work instead of hiding it.
        "kendall_tau",
    ]
    w0 = time.perf_counter()
    for wname in dict.fromkeys(warm):
        if wname in qs:
            qs[wname](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # the dict LEADER is the only query whose timed run would be its
    # second-ever execution — every other query inherits deep warm-in
    # from dozens of preceding queries. Measured (round 7,
    # bradley_terry leading): 15.3 s cold, 6.2 s second, 4.9 s third =
    # steady state. One extra warm pass makes the leader's timed number
    # third-execution, comparable to the rest of the inventory.
    qs[first](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warmup_sec makes the UNTIMED region visible: any one-time family
    # build (session caches, quantizer fits) a warm query triggers is
    # excluded from the per-query numbers but accounted here, so the
    # timed boundary is auditable instead of silent.
    warmup_sec = round(time.perf_counter() - w0, 3)

    timings: dict[str, float] = {}
    for name, fn in qs.items():
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit_compile_s = mf.getCompilationMXBean().getTotalCompilationTime() / 1000
    jvm_args = list(mf.getRuntimeMXBean().getInputArguments())
    print(json.dumps({
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "warmup_sec": warmup_sec,
        "jit_compile_s": jit_compile_s,
        "jvm_args": jvm_args,
    }))


if __name__ == "__main__":
    main()
