"""What the tests share: the testdata scale factor they read and the
pure-Python reference helpers of the property tests."""

from __future__ import annotations

import decimal

from hypothesis import strategies as st

# the testdata scale factor the sf0.001 tests and the oracle gate read
SF_DIR = "/root/testdata/sf0.001"

WORDS = ["alpha", "beta", "gamma", "delta", "x1", "yy", "zz9"]


def r6(x: float) -> float:
    """Half-up 6dp rounding — Spark/DuckDB round() semantics (away from
    zero on ties), NOT Python's banker's round (a falsifying example
    caught exactly that divergence: round(-3.1195625, 6))."""
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def texts(min_size=1, max_size=6):
    """Space-joined documents of ``min_size``..``max_size`` words."""
    return st.lists(
        st.sampled_from(WORDS), min_size=min_size, max_size=max_size
    ).map(" ".join)
