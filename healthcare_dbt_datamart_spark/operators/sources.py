"""External source readers (SURVEY §2.1 S3): the reference declares
sources in ``models/sources/src_*.yml`` (empty placeholders) and reads
whatever the warehouse ingested. Spark reads the files directly, so the
engine exposes the format surface a real feed needs — each reader takes
an EXPLICIT schema (the dbt source contract: declared, not inferred) and
never triggers an inference pass over 100 TB.

Malformed-row policy mirrors dbt's load-then-test philosophy: rows that
fail the schema land in ``_corrupt_record`` instead of killing the load,
and ``corrupt_records`` surfaces them as a test-style violations
DataFrame (rows = failures, SURVEY §5). Text feeds are read as a raw
line scan + ``from_json``/``from_csv`` parse: the parse is a plain
projection, so (unlike the native reader's internal corrupt column,
which can't be queried alone without caching the load) the corrupt
subset is directly filterable — and the raw line is preserved verbatim
for quarantine replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"

_PARSE_OPTS = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}


def _with_corrupt(schema: StructType) -> StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Newline-delimited JSON with declared schema; malformed lines are
    kept verbatim in ``_corrupt_record`` rather than dropped or fatal."""
    parsed = F.from_json(F.col("value"), _with_corrupt(schema), _PARSE_OPTS)
    return spark.read.text(path).select(parsed.alias("d")).select("d.*")


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    multiline: bool = False,
) -> DataFrame:
    """CSV source with declared schema (no inference scan) and corrupt-
    line capture — the S1 seed loader's big-data sibling.

    Header lines are detected by PARSING each line as CSV and comparing
    the fields to the declared column names (trimmed, case-insensitive) —
    robust to quoting, spacing, and casing, where a raw string-equality
    check would let a real header through as data (landing in
    ``_corrupt_record``) whenever it differs cosmetically from
    ``','.join(names)``. A header with REORDERED columns deliberately
    does not match: that is a contract violation worth surfacing as a
    corrupt row. Residual edge: a data row whose every field equals its
    own column name is indistinguishable from a header and is dropped.
    (The native csv reader's header option skips per-file first lines,
    but its internal corrupt column cannot be filtered standalone without
    caching the whole load — this line-scan keeps quarantine queryable.)

    The line scan assumes ONE RECORD PER LINE: an RFC-4180 quoted field
    containing a newline (Excel/pandas exporters emit these) splits into
    two lines that both land in ``_corrupt_record``. Feeds with embedded
    newlines must pass ``multiline=True``, which routes through the
    native csv reader with ``multiLine`` (same PERMISSIVE corrupt-column
    contract; the whole-file parse makes per-file splits coarser, so
    prefer the default line scan when the feed guarantees no embedded
    newlines).
    """
    from functools import reduce as _reduce

    if multiline:
        df = (
            spark.read.schema(_with_corrupt(schema))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .option("header", str(bool(header)).lower())
            .option("multiLine", "true")
            .csv(path)
        )
        # the native reader refuses scans whose referenced columns are
        # ONLY the internal corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN
        # — e.g. corrupt_records(df).count() after pruning). Anchor the
        # corrupt column to a never-taken, non-constant-foldable expression
        # over the first data column so such queries keep one real column
        # in the scan — quarantine stays standalone-queryable, matching
        # the line-scan path's contract.
        anchor = F.col(schema.fields[0].name)
        never = F.when(F.length(anchor.cast("string")) < 0, F.lit("x"))
        return df.withColumn(CORRUPT_COL, F.coalesce(F.col(CORRUPT_COL), never))

    lines = spark.read.text(path)
    if header:
        str_schema = StructType(
            [StructField(f.name, StringType()) for f in schema.fields]
        )
        probe = F.from_csv(F.col("value"), str_schema.simpleString())
        is_hdr = _reduce(
            lambda a, b: a & b,
            [
                F.upper(F.trim(probe[f.name])) == F.lit(f.name.upper())
                for f in schema.fields
            ],
        )
        lines = lines.filter(~F.coalesce(is_hdr, F.lit(False)))
    parsed = F.from_csv(F.col("value"), _with_corrupt(schema).simpleString(), _PARSE_OPTS)
    return lines.select(parsed.alias("d")).select("d.*")


def corrupt_records(df: DataFrame) -> DataFrame:
    """Violation rows for the load: inputs that failed the declared
    schema. Feed to ``operators.testing.run_test`` like any other test."""
    if CORRUPT_COL not in df.columns:
        return df.limit(0)
    return df.filter(F.col(CORRUPT_COL).isNotNull())


def good_records(df: DataFrame) -> DataFrame:
    """The clean side of a PERMISSIVE load, corrupt column dropped."""
    if CORRUPT_COL not in df.columns:
        return df
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
