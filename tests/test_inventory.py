"""Guardrails on the driver query inventory, checked without Spark.

``QUERIES`` key order is the driver's contract (its first 50 keys are the
correctness window) and every ``ORACLE`` body is a fixed DuckDB statement.
A refactor that moves query code between modules must leave both byte
for byte as they are; these digests pin them.
"""

from __future__ import annotations

import hashlib

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
