"""Multi-dimensional data layout: Z-order (Morton) clustering.

``materialize_table``'s ``cluster_by`` gives parquet min/max row-group
stats along ONE sort dimension — filters on the leading sort key prune
files, filters on any other column scan everything. Z-ordering
interleaves the bits of TWO normalized keys so that a file holding a
contiguous Z-range covers a LOCALIZED rectangle in (a, b) space: its
footer min/max is tight on BOTH columns, and a predicate on either one
(or a 2-D box) skips most files. This is the layout lever Delta's
``OPTIMIZE ZORDER BY`` and Snowflake's multi-column clustering keys pull
— rebuilt here as plain Catalyst expressions feeding the same
repartitionByRange + sortWithinPartitions write ``cluster_by`` uses, so
it composes with every existing sink.

At 100 TB the knob matters more than any single query plan: a fact table
queried by both customer and date either pays a full scan on one of
them forever, or z-orders once at write time. The key is pure integer
bit arithmetic (engine-reproducible, DuckDB-replayed in tests); the
only extra cost over a 1-D cluster is one bounds aggregate (a 1-row
broadcast — the same class of pass range partitioning's sampler already
does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# Morton spread masks: 16 data bits -> 32 bits, data at even positions.
_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(x: Column) -> Column:
    """Spread the low 16 bits of ``x`` to the even bit positions of a
    32-bit value (the classic magic-number Morton spread — O(log bits)
    shift/mask steps, all in whole-stage codegen)."""
    out = x.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(
            F.lit(mask)
        )
    return out


def _bucket16(v: Column, mn: Column, mx: Column) -> Column:
    """Normalize an integer column with known [mn, mx] bounds to a
    0..65535 bucket: floor((v - mn) * 2^16 / (mx - mn + 1)). The +1
    denominator keeps v = mx inside the top bucket with no clamp.
    Double intermediate — exact while (mx - mn + 1) * 2^16 < 2^53,
    i.e. any key range below ~137 billion; fine for a LAYOUT key (it
    orders files, it never appears in query results)."""
    span = (mx - mn + F.lit(1)).cast("double")
    return F.floor(
        (v - mn).cast("double") * F.lit(float(1 << 16)) / span
    ).cast("bigint")


def zorder_key(
    a: Column,
    b: Column,
    a_min: Column,
    a_max: Column,
    b_min: Column,
    b_max: Column,
) -> Column:
    """The interleaved Morton key z(a, b): bucket both integer columns
    to 16 bits against their bounds, spread each to alternating bit
    positions, OR them together — a 32-bit bigint where close z-values
    mean close (a, b) rectangles. NULL in either column yields NULL
    (sorts first — the degenerate rows cluster together)."""
    return _spread16(_bucket16(a, a_min, a_max)).bitwiseOR(
        F.shiftleft(_spread16(_bucket16(b, b_min, b_max)), 1)
    )


def zorder_cluster(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Return ``df`` re-arranged for a z-ordered write on two integer
    columns: compute both columns' bounds (one aggregate, riding in as
    a 1-row broadcast — no collect, no plan split), attach the Morton
    key, partition and sort by it, drop the key. Feed the result
    straight to ``materialize_table`` / any parquet write; each output
    file then covers a tight rectangle in (col_a, col_b) and footer
    min/max stats prune on EITHER column (asserted file-by-file in
    tests/test_functions.py).

    Files are cut at the key's n-quantiles (a second 1-row broadcast)
    and rows shuffle straight to their file, so the layout depends on
    the data alone (``repartitionByRange`` would seed its sampler from
    the RDD id). ``n`` defaults to the optimizer's size estimate over
    64 MiB (AQE's default advisory partition size), capped at
    ``spark.sql.shuffle.partitions``: a small table stays a few files.

    Dates/timestamps: pass an integer derivation (epoch day / unix
    seconds) — the key is layout-only, so the derived column never
    leaks into the table."""
    a, b = F.col(col_a), F.col(col_b)
    bounds = df.agg(
        F.min(a).alias("_amn"),
        F.max(a).alias("_amx"),
        F.min(b).alias("_bmn"),
        F.max(b).alias("_bmx"),
    )
    keyed = df.crossJoin(broadcast(bounds)).withColumn(
        "_zkey",
        zorder_key(
            a, b,
            F.col("_amn"), F.col("_amx"),
            F.col("_bmn"), F.col("_bmx"),
        ),
    )
    if not n_partitions:
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        n_partitions = min(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
            -(-int(str(est)) // (64 << 20)),
        )
    n = max(int(n_partitions), 1)
    # every key NULL -> NULL quantiles -> no cuts, one file
    cuts = keyed.agg(
        F.coalesce(
            F.percentile_approx("_zkey", [i / n for i in range(1, n)]),
            F.array().cast("array<bigint>"),
        ).alias("_zcuts")
    )
    keyed = keyed.crossJoin(broadcast(cuts)).withColumn(
        "_zfile", F.size(F.filter("_zcuts", lambda c: c < F.col("_zkey")))
    )
    parted = keyed.repartitionById(n, "_zfile")
    return parted.sortWithinPartitions("_zkey").drop(
        "_zkey", "_amn", "_amx", "_bmn", "_bmx", "_zcuts", "_zfile"
    )
