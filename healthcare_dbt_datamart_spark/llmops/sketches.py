"""Distributed sketches: count-min heavy hitters and HyperLogLog
cardinality — the bounded-state answers to "what are the hot terms?"
and "how many distinct?" at corpus scale, where exact answers would
carry vocabulary-sized state through every executor.

Both sketches hash with md5 (same literal function on Spark and DuckDB)
and do ALL index arithmetic in exact 60-bit integers (15 hex chars →
bigint via ``conv``; bucket/remainder via shifts and masks, never float
division), so every intermediate — and for count-min every OUTPUT — is
integer-exact and cross-engine hash-checkable. The only floats anywhere
are HyperLogLog's final estimate formula (1 output row, 6dp-rounded).

Scale shapes:
- Count-min build: one pass over the exploded token stream × d seed
  rows, partial-aggregated map-side into at most d·w counters per
  executor before a d·w-row shuffle — the sketch IS the bounded state,
  merged associatively exactly like production CMS merges per-shard
  sketches. Probing broadcasts the d·w sketch (a few KB).
- HyperLogLog: one map pass to (bucket, rank), a 2^b-row max-register
  shuffle, one driver-sized fold. 2^b registers of state regardless of
  corpus size; registers merge by MAX, so per-shard sketches union for
  free (the property that makes HLL the standard distributed
  distinct-count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import broadcast

from ..session import local_frame
from .text import words


def _h60(value: Column) -> Column:
    """Exact 60-bit integer hash: first 15 hex chars of md5 → bigint.
    15 chars keep the value strictly below 2^60 < 2^63, so the conv →
    bigint round-trip is exact on both engines."""
    return F.conv(F.substring(F.md5(value), 1, 15), 16, 10).cast("bigint")


def _cms_bucket(term: Column, seed: Column, w: int) -> Column:
    """The (term, seed) -> bucket formula — ONE definition for the
    sketch build and the heavy-hitter probe: they must stay
    byte-identical or probes read the wrong cells and the 'est >= exact'
    invariant silently breaks."""
    return _h60(F.concat_ws("#", term, seed)).bitwiseAND(w - 1)


def cms_sketch(
    tokens: DataFrame, w: int = 1024, d: int = 4, term_col: str = "term"
) -> DataFrame:
    """Build the count-min sketch: d hash rows × w buckets of occurrence
    counts (Cormode & Muthukrishnan, J. Algorithms 2005). One exploded
    pass: each token occurrence lands in d (seed, bucket) cells; the
    groupBy partial-aggregates to ≤ d·w counters map-side, so the only
    shuffle is the d·w-row sketch itself. Counters are plain SUMs —
    associative — so per-shard sketches merge exactly like the
    production streaming variant."""
    if w <= 0 or w & (w - 1) != 0:
        raise ValueError(
            f"w must be a power of two (bucket = hash & (w-1)); got {w}"
        )
    seeded = tokens.select(
        term_col,
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("seed"),
    )
    bucket = _cms_bucket(F.col(term_col), F.col("seed"), w)
    return (
        seeded.select("seed", bucket.alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    docs: DataFrame,
    k: int = 20,
    w: int = 1024,
    d: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` heavy-hitter terms by count-min ESTIMATE, with the
    exact count and overestimate alongside (CMS never underestimates;
    est ≥ exact always — asserted in the property test). Selection
    ranks on the estimate, exactly how a sketch-only deployment would
    rank, with ties to the lexically smaller term; the exact column is
    the audit the local fixture affords.

    Integer-exact end to end: counts are longs, buckets are masked
    60-bit hashes — the oracle reproduces every cell. The candidate
    probe joins the term list against the BROADCAST d·w sketch (one
    row of grouped cells per seed via a pivot-free min over the d
    probes)."""
    toks = docs.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    sketch = cms_sketch(toks, w=w, d=d)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.select(
        "term",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("seed"),
    ).select(
        "term",
        "exact_cnt",
        "seed",
        _cms_bucket(F.col("term"), F.col("seed"), w).alias("bucket"),
    )
    return (
        probes.join(broadcast(sketch), ["seed", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .select(
            "term",
            "est_cnt",
            "exact_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overestimate"),
        )
        .orderBy(F.col("est_cnt").desc(), F.col("term").asc())
        .limit(k)
    )


# HLL bias-correction constant for m >= 128 (Flajolet et al., AofA 2007)
def _hll_alpha(m: int) -> float:
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_ranks(
    df: DataFrame, value_col: str, b: int, *keep: str
) -> DataFrame:
    """Per row: ``keep`` columns, the HLL ``bucket`` (top ``b`` bits of
    the 60-bit md5 hash) and ``rank`` (leading zeros of the remaining
    60-b bits, plus one — via ``length(bin())``, integer, no float
    log)."""
    rem_bits = 60 - b
    h = _h60(F.col(value_col).cast("string"))
    hashed = df.select(
        *keep,
        F.shiftright(h, rem_bits).alias("bucket"),
        h.bitwiseAND((1 << rem_bits) - 1).alias("rem"),
    )
    return hashed.select(
        *keep,
        "bucket",
        F.when(F.col("rem") == 0, F.lit(rem_bits + 1))
        .otherwise(F.lit(rem_bits) - F.length(F.bin(F.col("rem"))) + 1)
        .alias("rank"),
    )


def hll_registers(df: DataFrame, value_col: str, b: int = 10) -> DataFrame:
    """SPARSE HyperLogLog registers: one (bucket, mj) row per OBSERVED
    bucket, mj = max(leading-zero rank). The canonical mergeable form —
    registers combine across shards or micro-batches by plain MAX
    (idempotent + commutative), which is what `streaming/sketches.py`
    exploits. Absent buckets mean register 0; `hll_estimate_fold` fills
    them through a generated spine at estimate time, so the sketch
    state stays ≤ 2^b rows without materializing empties."""
    ranks = _hll_ranks(df, value_col, b)
    return ranks.groupBy("bucket").agg(F.max("rank").alias("mj"))


def hll_estimate_fold(regs: DataFrame, m: int):
    """Fold sparse (bucket, mj) registers into the HLL estimate: spine
    join fills the empty buckets as 0, then the harmonic-mean formula
    with the small-range linear-counting correction. Returns the 1-row
    aggregate DataFrame and the corrected-estimate Column — shared by
    the batch query and the streaming register-table reader so the two
    paths cannot drift."""
    alpha = _hll_alpha(m)
    spine = regs.sparkSession.range(m).select(F.col("id").alias("bucket"))
    dense = spine.join(regs, "bucket", "left").select(
        F.coalesce("mj", F.lit(0)).alias("mj")
    )
    est = dense.agg(
        (
            F.lit(float(alpha) * m * m)
            / F.sum(F.pow(F.lit(2.0), -F.col("mj")))
        ).alias("e_raw"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).alias("v_zero"),
    )
    corrected = F.when(
        (F.col("e_raw") <= 2.5 * m) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero")),
    ).otherwise(F.col("e_raw"))
    return est, corrected


def hll_cardinality(
    df: DataFrame, value_col: str, b: int = 10
) -> DataFrame:
    """HyperLogLog distinct-count estimate (Flajolet, Fusy, Gandouet,
    Meunier 2007) with exact integer register arithmetic: 60-bit md5
    hash → top ``b`` bits bucket (shift), remaining 60-b bits rank =
    leading zeros + 1 (via ``length(bin())`` — integer, no float log),
    registers = MAX rank per bucket (empty buckets count as 0 through
    a generated bucket spine), harmonic-mean estimate with the
    small-range linear-counting correction. Returns ONE row:
    (m, n_exact, hll_estimate, rel_error) — n_exact is the local-
    fixture audit; a sketch-only deployment drops that column and the
    vocabulary-sized COUNT DISTINCT it carries.

    Powers of two are exact doubles, so the only inexactness anywhere
    is the final two divisions and ln — 6dp-rounded on both engines."""
    m = 1 << b
    exact = df.agg(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    est, corrected = hll_estimate_fold(hll_registers(df, value_col, b=b), m)
    return (
        est.crossJoin(broadcast(exact))
        .select(
            F.lit(m).alias("m"),
            "n_exact",
            F.round(corrected, 6).alias("hll_estimate"),
            F.round(
                F.abs(corrected - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_error"),
        )
    )


def hll_by_group(
    df: DataFrame, group_col: str, value_col: str, b: int = 10
) -> DataFrame:
    """GROUP-WISE HyperLogLog: approximate COUNT(DISTINCT value) per
    group — the per-key form of `hll_cardinality`, state ≤ 2^b register
    rows per group instead of a per-group distinct set.

    Tighter arithmetic than the global query: the harmonic sum
    Σ 2^-mj is folded as a SCALED BIGINT Σ 2^(R-mj) (R = max possible
    rank = 60-b+1; empty buckets contribute 2^R each, reconstructed
    from m - observed without materializing a per-group spine). Every
    term and the sum stay < 2^62 — integer-EXACT, associative — so the
    only floats in the whole query are one division and one ln per
    group, and the estimate is bit-stable under any partitioning.
    n_exact is the local-fixture audit column, same as the global
    query; a sketch-only deployment drops it."""
    m = 1 << b
    r_max = 60 - b + 1
    num = _hll_alpha(m) * m * m * float(1 << r_max)
    # NULL values carry no identity: md5(NULL)=NULL would create a
    # phantom NULL-bucket register that inflates n_obs while adding
    # nothing to s_obs (and an all-NULL group would estimate NULL) —
    # drop them, matching COUNT(DISTINCT)'s NULL semantics
    ranks = _hll_ranks(
        df.filter(F.col(value_col).isNotNull()), value_col, b, group_col
    )
    folded = (
        ranks.groupBy(group_col, "bucket")
        .agg(F.max("rank").alias("mj"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {r_max} - mj)")
            ).alias("s_obs"),
        )
    )
    s_total = (
        F.col("s_obs")
        + (F.lit(m) - F.col("n_obs")) * F.lit(1 << r_max).cast("bigint")
    ).cast("double")
    scored = folded.select(
        group_col,
        (F.lit(num) / s_total).alias("e_raw"),
        (F.lit(m) - F.col("n_obs")).alias("v_zero"),
    )
    corrected = F.when(
        (F.col("e_raw") <= 2.5 * m) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero")),
    ).otherwise(F.col("e_raw"))
    exact = df.groupBy(group_col).agg(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    return (
        scored.join(exact, group_col)
        .select(
            F.col(group_col),
            F.lit(m).alias("m"),
            "n_exact",
            F.round(corrected, 6).alias("hll_estimate"),
            F.round(
                F.abs(corrected - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_error"),
        )
    )


def logbucket_sketch(
    df: DataFrame,
    value_col: str,
    s: int = 4,
    group_col: str | None = None,
) -> DataFrame:
    """Relative-error quantile sketch cells — the DDSketch idea
    (Masson, Rim, Lee, VLDB 2019) rebuilt on EXACT bit arithmetic so
    the cells are engine-reproducible: bucket a positive integer x by
    (b, m) where b = bit_length(x) and m = the (s+1)-bit normalized
    mantissa prefix ``(x << s) >> (b-1)`` ∈ [2^s, 2^(s+1)). Bucket
    bounds are then exact dyadic rationals with relative width ≤ 2^-s
    (≈6.3% at s=4). Cells are (b, m, cnt) COUNTS — plain sums, so
    per-shard and per-micro-batch sketches merge associatively exactly
    like the count-min cells — and the whole table is bounded at
    ≤ 63·2^s rows no matter how many values flow through.

    Domain: values ≥ 1 (scale your column first — e.g. price cents);
    rows below 1 are excluded. Keep values < 2^(62-s) so the shifted
    mantissa arithmetic stays in BIGINT.

    ``group_col`` keys the sketch per group — (group, b, m, cnt), the
    per-language/per-source length-profile shape. Still ONE groupBy
    with full partial aggregation; the table is bounded at
    |groups| · 63·2^s rows."""
    x = F.col(value_col).cast("bigint")
    gcols = [F.col(group_col)] if group_col else []
    bound = 1 << (62 - s)
    cells = (
        df.select(*gcols, x.alias("_x"))
        .filter(F.col("_x") >= 1)
        # loud on overflow (the docstring's domain bound, enforced): a
        # value >= 2^(62-s) wraps shiftleft negative and silently
        # corrupts every quantile that reads the sketch
        .withColumn(
            "_x",
            F.when(F.col("_x") < F.lit(bound), F.col("_x")).otherwise(
                F.assert_true(
                    F.col("_x") < F.lit(bound),
                    F.concat(
                        F.lit(f"logbucket_sketch value exceeds 2^{62 - s}"
                              " (rescale the column): "),
                        F.col("_x").cast("string"),
                    ),
                ).cast("bigint"),
            ),
        )
        .select(
            *gcols,
            F.length(F.bin("_x")).alias("b"),
            F.expr(
                f"shiftright(shiftleft(_x, {s}),"
                " cast(length(bin(_x)) as int) - 1)"
            ).alias("m"),
        )
    )
    keys = ([group_col] if group_col else []) + ["b", "m"]
    return cells.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def logbucket_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple = (0.5, 0.9, 0.99),
    s: int = 4,
    group_col: str | None = None,
) -> DataFrame:
    """Quantile estimates off the log-bucket sketch: walk the cumulative
    counts in (b, m) order and return the UPPER bound of the bucket
    holding rank ceil(q·n) — guaranteed est ∈ [v, v·(1+2^-s)] around
    the true rank value v. The cumulative window runs over the
    model-sized sketch (≤ 63·2^s rows), never the data; n folds in as a
    window total over the same sketch (no plan-splitting aggregate
    branch); the only floats are the final dyadic division (exact
    powers of two) and q·n.

    ``group_col`` computes independent quantiles per group — the
    "p50/p99 document length per language" profile — with every window
    partitioned by the group, so no single-partition stage exists at
    any group count.

    Output: (q, est, n) per requested quantile, plus the group column
    when given."""
    from pyspark.sql.window import Window

    sk = logbucket_sketch(df, value_col, s=s, group_col=group_col)
    part = [group_col] if group_col else []
    w = Window.partitionBy(*part).orderBy("b", "m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sk.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(*part))
    )
    qdf = local_frame(df.sparkSession, [(float(q),) for q in qs], "q double")
    hits = cum.crossJoin(broadcast(qdf)).filter(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
    )
    first = Window.partitionBy(*(part + ["q"])).orderBy(
        F.col("b").asc(), F.col("m").asc()
    )
    return (
        hits.withColumn("_rn", F.row_number().over(first))
        .filter(F.col("_rn") == 1)
        .select(
            *part,
            "q",
            (
                F.expr("cast(shiftleft(m + 1, cast(b as int) - 1) as double)")
                / F.lit(float(1 << s))
            ).alias("est"),
            "n",
        )
    )
