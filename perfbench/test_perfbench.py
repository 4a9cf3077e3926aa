"""Checks of the benchmark's own parts that need no Spark session:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import filecmp
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import daily  # noqa: E402
import queries  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

def _files(feed: dict) -> list[str]:
    return [feed["codes"], *feed["members"], *feed["claims"]]


def test_feed_same_seed_is_byte_identical(tmp_path):
    a = daily.generate(7, str(tmp_path / "a"))
    b = daily.generate(7, str(tmp_path / "b"))
    for fa, fb in zip(_files(a), _files(b)):
        assert filecmp.cmp(fa, fb, shallow=False), fa
    assert a["new_rows"] == b["new_rows"]


def test_feed_other_seed_differs(tmp_path):
    a = daily.generate(7, str(tmp_path / "a"))
    b = daily.generate(8, str(tmp_path / "b"))
    differ = [
        fa for fa, fb in zip(a["claims"], b["claims"])
        if not filecmp.cmp(fa, fb, shallow=False)
    ]
    assert differ == a["claims"]


def test_feed_shape(tmp_path):
    import pyarrow.parquet as pq

    feed = daily.generate(3, str(tmp_path))
    assert len(feed["members"]) == len(feed["claims"]) == 2
    m0 = pq.read_table(feed["members"][0]).to_pylist()
    m1 = pq.read_table(feed["members"][1]).to_pylist()
    assert len(m0) == daily.MEMBERS
    assert len(m1) == daily.MEMBERS + daily.NEW_MEMBERS
    assert len({r["member_id"] for r in m1}) == len(m1)
    assert not any(
        (r["birth_date"].month, r["birth_date"].day) == (2, 29) for r in m1
    )
    changed = sum(a != b for a, b in zip(m0, m1))
    assert 0 < changed <= daily.CORRECTIONS
    # day 1 redelivers day-0 lines byte for byte
    c0 = {tuple(r.values()) for r in pq.read_table(feed["claims"][0]).to_pylist()}
    c1 = [tuple(r.values()) for r in pq.read_table(feed["claims"][1]).to_pylist()]
    assert sum(r in c0 for r in c1) == daily.REDELIVERED
    assert feed["new_rows"] == [len(m0) + len(c0), len(m1) + len(c1)]


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "bench:q:action"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
            "JVM GC Time": 20, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
        }},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 500,
        }},
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = tracing.parse_event_logs(str(tmp_path))
    g = groups["bench:q:action"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)
    assert g["executor_run_s"] == 1.5 and g["executor_cpu_s"] == 1.0
    assert g["gc_s"] == 0.02 and g["spill_bytes"] == 12
    assert g["shuffle_read_bytes"] == 7 and g["shuffle_write_bytes"] == 11
    # stage 1 was claimed by the first job's group; stage 2 has no group
    assert groups[""]["jobs"] == 1 and groups[""]["executor_run_s"] == 0.5


def test_spans_nest_and_total(tmp_path):
    spans = tracing.Spans("r1")
    with spans.span("pass"):
        for name in ("a", "b"):
            with spans.span("op", op=name):
                with spans.span("action"):
                    pass
    ops = [s for s in spans.spans if s["name"] == "op"]
    assert all(s["parent"] == 0 for s in ops)
    assert spans.spans[2]["parent"] == 1
    assert spans.total("op") >= spans.total("action") >= 0
    assert spans.total("op", op="a") <= spans.total("op")
    out = tmp_path / "spans.jsonl"
    spans.write(str(out))
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert len(rows) == 5 and {r["run_id"] for r in rows} == {"r1"}


def test_spans_total_outside():
    spans = tracing.Spans("r1")
    with spans.span("materialize.table"):
        pass
    with spans.span("incremental.run"):
        with spans.span("step"):
            with spans.span("materialize.table"):
                pass
    inner = spans.spans[3]
    everything = spans.total("materialize.table")
    alone = spans.total("materialize.table", outside=("incremental.run",))
    assert alone == everything - (inner["end"] - inner["start"])
    assert spans.total("materialize.table", outside=("snapshot.run",)) == everything


def test_fingerprint_ignores_row_and_column_order():
    a = queries.fingerprint(["x", "y"], [(1, 2.5), (None, 0.1)])
    b = queries.fingerprint(["y", "x"], [(0.1, None), (2.5, 1)])
    assert a == b
    midnight = datetime.datetime(2024, 1, 2)
    assert queries.norm_cell(midnight) == queries.norm_cell(datetime.date(2024, 1, 2))
    assert queries.fingerprint(["x"], [(1,)]) != queries.fingerprint(["x"], [(2,)])


def test_committed_split_covers_timed_queries():
    split = queries.load_split()
    for workload, names in split["timed"].items():
        assert names, workload
        for name in names:
            is_datamart = split["families"][name] == "datamart"
            assert is_datamart == (workload == "queries_datamart"), name


def test_stopwatch_takes_stolen_time_out():
    with run.stopwatch() as sw:
        end = run.time.process_time() + 0.3
        while run.time.process_time() < end:
            pass
    assert sw["wall_s"] > 0 and sw["steal_s"] >= 0 and sw["cpu_s"] > 0
    assert 0 < sw["net_s"] <= sw["wall_s"]
    assert 0 < sw["net_cpu_s"] <= sw["cpu_s"]
    stolen = sw["steal_s"] / (sw["cpu_s"] + sw["steal_s"])
    slow = 1 + run.CONTENTION * stolen
    assert sw["net_s"] == sw["wall_s"] * (1 - stolen) / slow
    assert sw["net_cpu_s"] == sw["cpu_s"] / slow


def test_tree_cpu_counts_this_process():
    before = run.tree_cpu_s()
    end = run.time.process_time() + 0.3
    while run.time.process_time() < end:
        pass
    assert run.tree_cpu_s() - before >= 0.2
    assert os.getpid() in run.process_tree()
