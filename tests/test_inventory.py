"""Guardrails on the package source, checked without Spark.

``QUERIES`` key order is the driver's contract (its first 50 keys are the
correctness window) and every ``ORACLE`` body is a fixed DuckDB statement.
A refactor that moves query code between modules must leave both byte
for byte as they are; these digests pin them.

Shared mechanisms have one owner each, and source scans keep their
calls inside it:

- lineage cuts: ``session.truncate_lineage`` holds every
  ``checkpoint``/``localCheckpoint`` call;
- driver-held rows: ``session.local_frame`` holds the one
  ``createDataFrame`` call;
- streaming state tables: ``streaming/state.py`` reads, replay-checks
  and publishes them, and its ``start_ingest`` is the one stream writer
  of the state sinks.

Algorithms have one body each: the Elo expected score lives only in
``preferences._elo_period``, the step every Elo fit and the streaming
sink run, and ``gap_pipeline.py`` ranks best evidence in one window
(``gap_status`` is ``gap_status_multi`` with one measure).

Per-call knobs those owners replaced stay out: no function takes a
``reliable`` (fault tolerance comes from the session's checkpoint dir)
or a ``trigger_once`` (every state sink ingest drains what is available).
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "healthcare_dbt_datamart_spark"

QUERIES_ORDER_SHA256 = (
    "8dd5e731172fd600b2662c3d2759707b2c9ce4f3c42b39eeaaed9bbc5f3a203b"
)
ORACLE_BODIES_SHA256 = (
    "4fd63892d550cf1f062646d2962cb9515f5587707b9942eb526fead2f4f2688f"
)


def test_queries_order_and_oracle_bodies_unchanged():
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        ORACLE,
        QUERIES,
    )

    order = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    bodies = hashlib.sha256(
        "\n\x00".join(f"{k}\x01{ORACLE[k]}" for k in sorted(ORACLE)).encode()
    ).hexdigest()
    assert order == QUERIES_ORDER_SHA256
    assert bodies == ORACLE_BODIES_SHA256


def _package_trees():
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        yield path, text, ast.parse(text)


def _calls_outside(owner_module, owner_name, *needles):
    """(file, line) of every package line holding one of ``needles``
    outside the body of function ``owner_name`` in ``owner_module`` (a
    path relative to the package)."""
    owner = None
    hits = []
    for path, text, tree in _package_trees():
        rel = path.relative_to(PACKAGE).as_posix()
        for n, line in enumerate(text.splitlines(), 1):
            if any(needle in line for needle in needles):
                hits.append((rel, n))
        if rel == owner_module:
            owner = next(
                node
                for node in tree.body
                if isinstance(node, ast.FunctionDef)
                and node.name == owner_name
            )
    assert hits and owner is not None
    return [
        (f, n)
        for f, n in hits
        if f != owner_module or not owner.lineno <= n <= owner.end_lineno
    ]


def test_lineage_cuts_only_in_truncate_lineage():
    assert (
        _calls_outside(
            "session.py", "truncate_lineage", "localCheckpoint(", ".checkpoint("
        )
        == []
    )


BANNED_PARAMETERS = {"reliable", "trigger_once"}


def test_no_banned_parameter():
    found = []
    for path, _, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                a = node.args
                names = a.posonlyargs + a.args + a.kwonlyargs
                if any(arg.arg in BANNED_PARAMETERS for arg in names):
                    found.append(
                        f"{path.relative_to(PACKAGE)}:{node.lineno}"
                    )
    assert found == []


def test_driver_rows_only_through_local_frame():
    assert (
        _calls_outside("session.py", "local_frame", "createDataFrame(") == []
    )


STATE_SINK_MODULES = (
    "streaming/sketches.py",
    "streaming/evaluation.py",
    "streaming/gap.py",
)


def test_state_sinks_only_through_streaming_state():
    hits = _calls_outside(
        "streaming/state.py", "start_ingest", "catalog.tableExists(", "writeStream"
    )
    assert [(f, n) for f, n in hits if f in STATE_SINK_MODULES] == []


def test_elo_expected_score_in_one_function():
    assert (
        _calls_outside("llmops/preferences.py", "_elo_period", "power(10.0d")
        == []
    )


def test_gap_pipeline_has_one_best_evidence_window():
    tree = ast.parse((PACKAGE / "models" / "gap_pipeline.py").read_text())
    windows = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "row_number"
    ]
    assert len(windows) == 1
