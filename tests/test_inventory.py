"""Guardrails on the package source, checked without Spark.

``QUERIES`` key order is the driver's contract (its first 50 keys are the
correctness window) and every ``ORACLE`` body is a fixed DuckDB statement.
A refactor that moves query code between modules must leave both byte
for byte as they are; these digests pin them.

Shared mechanisms have one owner each, and source scans keep their
calls inside it:

- lineage cuts: ``session.truncate_lineage`` holds every
  ``checkpoint``/``localCheckpoint`` call;
- scoped caches: ``session.pinned`` holds every ``persist``/``unpersist``
  pair; the one other ``persist`` is ``testdata_queries._persisted``,
  the session-lifetime store that is never freed;
- driver-held rows: ``session.local_frame`` holds the one
  ``createDataFrame`` call;
- streaming state tables: ``streaming/state.py`` reads, replay-checks
  and publishes them, and its ``start_ingest`` is the one stream writer
  of the state sinks.

Algorithms have one body each: the Elo expected score lives only in
``preferences._elo_period``, the step every Elo fit and the streaming
sink run, and ``gap_pipeline.py`` ranks best evidence in one window
(``gap_status`` is ``gap_status_multi`` with one measure). In
``llmops/similarity.py`` every PQ/IVFADC search sums its distance-table
lookups in ``_adc_search``, every exact-cosine score is
``_cosine_score``, and the batch searches rank per query in
``_ranked_probe``'s one window. Text has one core, ``llmops/text.py``:
the tokenizer ``split(lower(trim(…)))``, the word-window
``sequence(1, size …)`` and the hex alphabet are written only there.
In the evaluation modules every score quantizes through
``evaluation._fixed`` (the half-up ``floor`` and the NaN rule), the
tie-average rank term ``2·below + cnt + 1`` lives only in
``evaluation._rank2``, and the streamed readers hold no metric
arithmetic of their own.

Tests are grouped by the module they test, never by the round that
added them, and every oracle comparison in ``tests/`` goes through the
one comparator, ``tools/check_correctness.compare``. Two round-named
files remain, listed in ``ROUND_NAMED``, so their test ids stay stable
until they move; the list may only shrink.

Per-call knobs those owners replaced stay out: no function takes a
``reliable`` (fault tolerance comes from the session's checkpoint dir)
or a ``trigger_once`` (every state sink ingest drains what is available).
"""

from __future__ import annotations

import ast
import hashlib
import re
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


def _calls_outside(owners, *needles):
    """(file, line) of every package line holding one of ``needles``
    outside the bodies of the ``owners``, ``(module, function)`` pairs
    with the module a path relative to the package."""
    spans = []
    hits = []
    for path, text, tree in _package_trees():
        rel = path.relative_to(PACKAGE).as_posix()
        for n, line in enumerate(text.splitlines(), 1):
            if any(needle in line for needle in needles):
                hits.append((rel, n))
        spans += [
            (rel, node.lineno, node.end_lineno)
            for node in tree.body
            if isinstance(node, ast.FunctionDef)
            and (rel, node.name) in owners
        ]
    assert hits and len(spans) == len(owners)
    return [
        (f, n)
        for f, n in hits
        if not any(f == m and lo <= n <= hi for m, lo, hi in spans)
    ]


def test_lineage_cuts_only_in_truncate_lineage():
    assert (
        _calls_outside(
            {("session.py", "truncate_lineage")},
            "localCheckpoint(",
            ".checkpoint(",
        )
        == []
    )


def test_scoped_caches_only_through_pinned():
    owners = {
        ("session.py", "pinned"),
        ("models/testdata_queries.py", "_persisted"),
    }
    assert _calls_outside(owners, ".persist(", ".unpersist(") == []


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
        _calls_outside({("session.py", "local_frame")}, "createDataFrame(")
        == []
    )


STATE_SINK_MODULES = (
    "streaming/sketches.py",
    "streaming/evaluation.py",
    "streaming/gap.py",
)


def test_state_sinks_only_through_streaming_state():
    hits = _calls_outside(
        {("streaming/state.py", "start_ingest")},
        "catalog.tableExists(",
        "writeStream",
    )
    assert [(f, n) for f, n in hits if f in STATE_SINK_MODULES] == []


def test_elo_expected_score_in_one_function():
    assert (
        _calls_outside({("llmops/preferences.py", "_elo_period")}, "power(10.0d")
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


def _call_to(node, name):
    return isinstance(node, ast.Call) and (
        isinstance(node.func, ast.Attribute) and node.func.attr == name
        or isinstance(node.func, ast.Name) and node.func.id == name
    )


def _nodes_outside(module, owner_name, match):
    """Lines of the AST nodes of ``module`` (a path relative to the
    package) that satisfy ``match`` outside function ``owner_name``."""
    tree = ast.parse((PACKAGE / module).read_text())
    owner = next(
        node
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name == owner_name
    )
    inside = {id(node) for node in ast.walk(owner)}
    hits = [node for node in ast.walk(tree) if match(node)]
    assert hits
    return [node.lineno for node in hits if id(node) not in inside]


def test_adc_lookup_sum_in_one_function():
    # a distance-table lookup is an element_at of an element_at, and the
    # tables are built only where they are read
    def lookup(node):
        return (
            _call_to(node, "element_at")
            and _call_to(node.args[0], "element_at")
            or _call_to(node, "_adc_tables")
        )

    assert _nodes_outside("llmops/similarity.py", "_adc_search", lookup) == []


def test_exact_cosine_score_in_one_function():
    def score(node):
        return (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and _call_to(node.left, "_dot")
        )

    assert _nodes_outside("llmops/similarity.py", "_cosine_score", score) == []


def test_per_query_rank_window_in_one_function():
    def query_window(node):
        return (
            _call_to(node, "partitionBy")
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "query_id"
        )

    assert (
        _nodes_outside("llmops/similarity.py", "_ranked_probe", query_window)
        == []
    )


def _pattern_hits(pattern):
    """(file, line) of every match of regex ``pattern`` in the package
    source (matches may span lines)."""
    rx = re.compile(pattern)
    hits = []
    for path, text, _ in _package_trees():
        rel = path.relative_to(PACKAGE).as_posix()
        hits += [(rel, text.count("\n", 0, m.start()) + 1) for m in rx.finditer(text)]
    return hits


def test_tokenizer_only_in_text_core():
    hits = _pattern_hits(
        r"(?<!\w)split\(\s*(?:F\.)?lower\(\s*(?:F\.)?trim\("
    )
    assert hits and {f for f, _ in hits} == {"llmops/text.py"}, hits


def test_word_window_only_in_text_core():
    # sequence(1, size(w) …) or sequence(0, greatest(size(w) …)): the
    # index range of a word window, with or without a clamp
    hits = _pattern_hits(
        r"sequence\(\s*(?:F\.lit\(\s*)?[01]\s*\)?\s*,\s*"
        r"(?:F\.)?(?:greatest\(\s*(?:F\.)?)?size\("
    )
    assert hits and {f for f, _ in hits} == {"llmops/text.py"}, hits


def test_hex_alphabet_defined_once():
    hits = [
        (path.relative_to(PACKAGE).as_posix(), node.lineno)
        for path, _, tree in _package_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and node.value == "0123456789abcdef"
    ]
    assert [f for f, _ in hits] == ["llmops/text.py"], hits


def test_quantizer_and_nan_rule_only_in_fixed():
    # floor(x·scale + 0.5) as a column expression or as SQL text, and
    # any isnan
    def half_up_or_nan(node):
        return (
            _call_to(node, "isnan")
            or isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "0.5d" in node.value
            or _call_to(node, "floor")
            and isinstance(node.func, ast.Attribute)
            and getattr(node.func.value, "id", None) == "F"
            and isinstance(node.args[0], ast.BinOp)
            and isinstance(node.args[0].op, ast.Add)
        )

    assert (
        _nodes_outside("llmops/evaluation.py", "_fixed", half_up_or_nan) == []
    )


def _is_int(node, value):
    """``value`` as a literal or as ``F.lit(value)``."""
    if _call_to(node, "lit"):
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == value


def test_rank_sum_term_in_one_function():
    # 2·below + cnt + 1, in Spark columns or in driver Python
    def twice_rank(node):
        return (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Add)
            and _is_int(node.right, 1)
            and isinstance(node.left, ast.BinOp)
            and isinstance(node.left.op, ast.Add)
            and isinstance(node.left.left, ast.BinOp)
            and isinstance(node.left.left.op, ast.Mult)
            and _is_int(node.left.left.left, 2)
        )

    owners = {
        (module, fn.name)
        for module in ("llmops/evaluation.py", "streaming/evaluation.py")
        for fn in ast.parse((PACKAGE / module).read_text()).body
        if isinstance(fn, ast.FunctionDef)
        and any(twice_rank(node) for node in ast.walk(fn))
    }
    assert owners == {("llmops/evaluation.py", "_rank2")}, owners


def test_streamed_readers_hold_no_scorecard_fold():
    assert _pattern_hits(r"scorecard_from_cells") == []


TESTS = Path(__file__).resolve().parent

# round-named files still holding replays of operators with no QUERIES
# slot; their tests move to the test file of their module next
ROUND_NAMED = ["test_round16_replays.py", "test_round17_replays.py"]


def test_no_test_file_named_after_a_round():
    named = [
        p.name for p in sorted(TESTS.glob("*.py"))
        if p.name.startswith("test_round") or p.name.endswith("_replays.py")
    ]
    assert named == ROUND_NAMED


def test_fingerprints_only_through_the_comparator():
    """``frame_fingerprint`` is called in ``tools/check_correctness.py``'s
    ``compare`` alone; a test compares with an oracle through it (the
    ``oracle_check`` fixture), never with a fingerprint of its own."""
    me = Path(__file__).name
    hits = [
        p.name for p in sorted(TESTS.glob("*.py"))
        if p.name != me and "frame_fingerprint" in p.read_text()
    ]
    assert hits == []
