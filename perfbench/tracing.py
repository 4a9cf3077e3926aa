"""Spans recorded around calls into each layer, and the Spark event-log
parser that turns a traced run's log into per-job-group counters.

Spans stay in memory and are written out once, when the run ends. Each
span has a name, start and end (seconds on the ``perf_counter`` clock), the
id of the span that caused it and the run id shared by every span of the
run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, outside: tuple[str, ...] = (), **match) -> float:
        """Summed duration of the closed spans called ``name`` whose
        attributes equal ``match`` and that no span named in ``outside``
        encloses."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and "end" in s
            and all(s.get(k) == v for k, v in match.items())
            and not any(a["name"] in outside for a in self._ancestors(s))
        )

    def _ancestors(self, span: dict):
        parent = span["parent"]
        while parent is not None:
            yield self.spans[parent]
            parent = self.spans[parent]["parent"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


@contextmanager
def wrapped(spans: Spans, module, attr: str, span_name: str):
    """Replace ``module.attr`` by a version that records a span around each
    call, for the duration of the block. Callers resolve these functions
    through the module at call time, so the wrapper sees every call."""
    original = getattr(module, attr)

    def timed(*args, **kwargs):
        with spans.span(span_name):
            return original(*args, **kwargs)

    setattr(module, attr, timed)
    try:
        yield
    finally:
        setattr(module, attr, original)


COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per-job-group Spark counters from an uncompressed event log.

    Jobs outside any job group are reported under the empty string. A
    stage counts once, for the group of the first job that ran it; stages a
    job skipped (reused shuffle output) never complete and are not
    counted."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def group_of(stage_id: int) -> dict[str, float]:
        g = stage_group.get(stage_id, "")
        return out.setdefault(g, dict.fromkeys(COUNTERS, 0.0))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                out.setdefault(g, dict.fromkeys(COUNTERS, 0.0))["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                group_of(ev["Stage Info"]["Stage ID"])["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                c = group_of(ev["Stage ID"])
                c["tasks"] += 1
                if not m:
                    continue
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out


def parse_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """``parse_event_log`` over every application log in ``log_dir`` (one
    per SparkContext the run started), summed per job group."""
    out: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".inprogress"):
            raise RuntimeError(f"event log {name} is still open")
        for g, c in parse_event_log(os.path.join(log_dir, name)).items():
            acc = out.setdefault(g, dict.fromkeys(COUNTERS, 0.0))
            for k, v in c.items():
                acc[k] += v
    return out
