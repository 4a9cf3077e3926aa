"""Deduplication operators for training-data pipelines.

Four families, all designed for 100 TB:

- **exact**: md5-fingerprint group-by — one shuffle on the hash, partial
  aggregation does the heavy lifting map-side.
- **MinHash + LSH**: per-doc signature is computed inside a single
  projection (higher-order array expressions, no shuffle, no Python);
  banding turns near-dup search into an equi-join on band keys, so the
  only shuffle is on (band_idx, band_key) — the classic
  shingle→minhash→band→bucket-join pipeline. Candidate pairs are verified
  with exact Jaccard, bounding false positives; bucket sizes bound the
  quadratic blowup.
- **SimHash**: 16-bit signature from per-token md5 digests, again one
  projection; Hamming-neighbor buckets give near-dup candidates.
- **n-gram Jaccard**: exact verification metric over distinct token (or
  shingle) sets.

MinHash variant note: we hash *tokens* (word 1-grams) by default and
word-``n`` shingles optionally. The hash family is ONE md5 per token,
sliced into ``num_hashes`` disjoint hex windows (8 hashes → 16 bits each):
h_s(t) = md5(t)[4s..4s+4). Slices of a uniform digest act as pairwise
independent hashes for distinct tokens — the standard one-digest trick —
and computing 1 md5 instead of ``num_hashes`` md5s per token is ~8× less
hash work on the scan, which dominates at 100 TB. 16-bit values collide
more than full digests, but banding keys concatenate ``band_size`` slices
and exact-Jaccard verification bounds false positives, so candidate
quality is unaffected. Deliberately expressible identically in any engine
with md5 + substring, so every operator here is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame, truncate_lineage
from .text import grams, words


def tokens_col(text: Column | str, n_shingle: int = 1) -> Column:
    """Distinct token (or word-n-shingle) set of lowercased text.

    Single-expression form. In multi-use plans prefer ``tokens_df`` —
    referencing this column N times duplicates the whole tokenize tree N
    times because it is built inline (Catalyst shares only *named*
    projection outputs, not repeated subtrees)."""
    return F.array_distinct(_shingles(words(text), n_shingle))


def _shingles(w: Column, n_shingle: int) -> Column:
    """Word-``n_shingle`` shingles of the word array ``w``; a document
    shorter than ``n_shingle`` is ONE shingle of all its words, so every
    document keeps a non-empty set for MinHash and Jaccard."""
    if n_shingle <= 1:
        return w
    return F.when(F.size(w) < n_shingle, F.array(F.array_join(w, " "))).otherwise(
        grams(w, n_shingle)
    )


def tokens_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_shingle: int = 1,
    out: str = "toks",
    carry: tuple = (),
) -> DataFrame:
    """(id, [carry...,] token-set) as STAGED projections: split → shingle
    → distinct.

    Each step is a named column in its own ``select``, so downstream
    expressions that read the token set many times (minhash slices, simhash
    bits, jaccard) evaluate tokenization ONCE per row — CollapseProject
    refuses to inline expensive expressions with multiple consumers
    (SPARK-36718). This is the difference between O(hashes) and O(1)
    tokenize passes per document; at sf0.1 it is ~8× on the minhash stage.
    ``carry`` threads extra columns (e.g. a stream's event time) through
    unchanged.
    """
    keep = [F.col(c) for c in carry]
    w = df.select(
        F.col(id_col),
        *keep,
        words(text_col).alias("_w"),
    )
    if n_shingle > 1:
        w = w.select(
            F.col(id_col), *keep, _shingles(F.col("_w"), n_shingle).alias("_w")
        )
    return w.select(F.col(id_col), *keep, F.array_distinct("_w").alias(out))


def exact_dedup_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: md5 fingerprint → representative (min id) + copy count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_expr(toks: Column, seed: int, width: int = 4) -> Column:
    """One MinHash value: min over hex window ``seed`` of md5(token)."""
    return F.array_min(
        F.transform(toks, lambda t: F.substring(F.md5(t), 1 + seed * width, width))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    n_shingle: int = 1,
    carry: tuple = (),
    keep_tokens: str | None = None,
) -> DataFrame:
    """Per-doc MinHash signature, one column per hash — staged narrow
    projections over the scan (zero shuffle, one tokenize pass and one md5
    per token regardless of ``num_hashes``; see module docstring).
    ``carry`` threads extra columns through; ``keep_tokens`` additionally
    emits the distinct-token array under that name (the streaming guard
    needs it for the Jaccard verify without a second tokenize pass)."""
    if num_hashes > 8:
        raise ValueError("num_hashes > 8 would need >1 digest per token")
    toks = tokens_df(df, text_col, id_col, n_shingle, out="_t", carry=carry)
    keep = [F.col(c) for c in carry]
    tok_keep = [F.col("_t").alias(keep_tokens)] if keep_tokens else []
    digests = toks.select(
        F.col(id_col),
        *keep,
        *tok_keep,
        F.transform("_t", lambda t: F.md5(t)).alias("_h"),
    )
    # each hash value is a disjoint 4-hex window of the shared digest array
    return digests.select(
        F.col(id_col),
        *keep,
        *([F.col(keep_tokens)] if keep_tokens else []),
        *[
            F.array_min(
                F.transform("_h", lambda h: F.substring(h, 1 + 4 * s, 4))
            ).alias(f"mh{s}")
            for s in range(num_hashes)
        ],
    )


def lsh_band_buckets(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    carry: tuple = (),
) -> DataFrame:
    """Band the signature: band key = md5 of the concatenated minhashes in
    the band. Output: (band_idx, band_key, id[, carry...]) — docs sharing
    a (band_idx, band_key) are near-dup candidates. This function is the
    ONLY place the band-key formula lives: the batch candidate pipeline
    and the streaming near-dup guard both call it, so their keys can
    never drift apart.

    Emitted as array-of-structs + ``explode`` so the (expensive) signature
    projection upstream is evaluated ONCE per row — a UNION ALL of per-band
    selects would re-run the whole scan+tokenize+minhash chain per band.

    ``num_hashes % band_size != 0`` emits a final SHORTER band covering
    the remainder minhashes instead of silently dropping them (the
    sign-LSH path's rule, similarity.py::near_dup_pairs_lsh) — dropped
    hashes would mean candidates that agree only there are never
    emitted, a silent recall loss.
    """
    starts = list(range(0, num_hashes, band_size))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{s + j}")
                            for j in range(min(band_size, num_hashes - s))
                        ],
                    )
                ).alias("band_key"),
            )
            for b, s in enumerate(starts)
        ]
    )
    keep = [F.col(c) for c in carry]
    return sigs.select(
        F.col(id_col), *keep, F.explode(bands).alias("band")
    ).select(
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
        F.col(id_col),
        *keep,
    )


def candidate_pairs(
    buckets: DataFrame,
    id_col: str,
    max_bucket: int | None = None,
    precount: bool = False,
) -> DataFrame:
    """Distinct (id_a < id_b) near-dup candidate pairs per bucket.

    Shape: ONE shuffle (groupBy band key, map-side combine on collect_set)
    then in-bucket pair generation as a pure array expression — vs the
    naive bucket self-join which shuffles both sides and, worse, recomputes
    the upstream signature pipeline for each side. ``max_bucket`` (standard
    LSH practice) drops degenerate mega-buckets whose quadratic pair
    blowup would dominate at scale; None keeps every bucket.

    The default filters on the COLLECTED set's size — one pass, but a
    degenerate mega-bucket (the all-positive sign-LSH region) still
    materializes its full id array in one aggregation buffer before
    being discarded. ``precount=True`` is the production form: count
    distinct ids per bucket first (skinny partial-agg), broadcast
    anti-join the rare oversized keys away, THEN collect — bounded
    buffers at any bucket cardinality, at the cost of a second pass
    over the bucket stream (persist upstream, or accept the recompute;
    locally the single pass wins, which is why it stays the default).
    Both paths emit the identical pair set (asserted in tests)."""
    src = buckets
    if precount and max_bucket is not None:
        oversized = (
            buckets.groupBy("band_idx", "band_key")
            .agg(F.count_distinct(F.col(id_col)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band_idx", "band_key")
        )
        src = buckets.join(
            F.broadcast(oversized), ["band_idx", "band_key"], "left_anti"
        )
    ids = F.array_sort(F.collect_set(F.col(id_col)))
    grouped = (
        src.groupBy("band_idx", "band_key")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None and not precount:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def near_dup_components(
    pairs: DataFrame, max_iter: int = 10
) -> DataFrame:
    """Connected components over near-dup pairs by iterative min-label
    propagation WITH pointer doubling: every doc converges to the
    smallest id reachable through the dup graph — the cluster
    representative for keep-one dedup.

    Genuinely iterative (not single-statement-SQL-expressible): each
    round (1) joins the current labels across the edge list and keeps the
    min (one shuffle join — the standard large-graph CC shape,
    GraphFrames' algorithm without the dependency), then (2) pointer-jumps
    through the label table itself (component := component(component)),
    which HALVES the remaining propagation depth — convergence in
    O(log diameter) rounds, so ``max_iter=10`` covers chains ~2^10 deep,
    not 10 deep. Terminates early when a round changes nothing
    (stability under neighbor-min implies equal labels across every edge,
    i.e. the exact components the driver's recursive-closure oracle
    computes); raises loudly if ``max_iter`` rounds don't converge
    rather than returning silently-wrong labels.

    Input: (id_a, id_b) pairs. Output: (doc_id, component) for every doc
    that appears in at least one pair.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # undirected: propagate both ways. Materialize ONCE — every round joins
    # this edge list, and without the checkpoint each round would re-run the
    # whole upstream candidate-generation pipeline (minhash → banding →
    # verify) that produced the pairs.
    sym = truncate_lineage(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    for _ in range(max_iter):
        # neighbor's current label, min'd with own
        neighbor = (
            sym.join(labels.withColumnsRenamed({"id": "dst", "component": "n_comp"}), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("n_comp").alias("n_comp"))
        )
        # carry a changed flag through the checkpoint so convergence is read
        # off the materialized partitions instead of recomputing the round
        updated = truncate_lineage(  # cut the lineage per round
            labels.join(neighbor, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("n_comp"), F.col("component")) < F.col("component")).alias(
                    "chg"
                ),
            )
        )
        labels = updated.drop("chg")
        if updated.filter("chg").limit(1).count() == 0:
            break
        # pointer doubling off the materialized round: look up the label
        # of each node's label and take the min — one cheap self-join on
        # the checkpointed table, halving remaining depth (lineage stays
        # constant-depth: one join above the checkpoint)
        jump = labels.select(
            F.col("id").alias("_comp_id"), F.col("component").alias("_g_comp")
        )
        labels = (
            labels.join(jump, labels["component"] == jump["_comp_id"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_g_comp"), F.col("component")),
                ).alias("component"),
            )
        )
    else:
        raise RuntimeError(
            f"near_dup_components did not converge in {max_iter} rounds"
            " — graph diameter exceeds 2^rounds; raise max_iter"
        )
    return labels.select(F.col("id").alias("doc_id"), "component")


def jaccard_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    n_shingle: int = 1,
) -> DataFrame:
    """Verify candidate pairs with exact Jaccard over distinct token sets:
    |A∩B| / |A∪B|. Token sets are joined in (broadcast if small); the
    set arithmetic is a pure projection."""
    toks = tokens_df(df, text_col, id_col, n_shingle, out="toks")
    out = (
        pairs.join(toks.withColumnsRenamed({id_col: "id_a", "toks": "toks_a"}), "id_a")
        .join(toks.withColumnsRenamed({id_col: "id_b", "toks": "toks_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def levenshtein_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_pct: int = 80,
    max_chars: int = 2000,
) -> DataFrame:
    """Verify candidate pairs with exact EDIT-DISTANCE similarity — the
    short-text near-dup verifier (titles, questions, instructions,
    prompts) where shingle Jaccard is too coarse: a one-character typo
    in a 30-char title moves Jaccard by whole shingles but edit
    similarity by exactly 1/30,

        sim(a, b) = 1 − lev(a, b) / max(|a|, |b|)
        keep iff 100·(maxlen − dist) ≥ threshold_pct·maxlen
                 (BIGINT cross-multiplication — no float in the gate)

    ``lev`` is the built-in JVM Levenshtein (whole-stage-codegen, no
    Python in the loop); DuckDB's ``levenshtein`` computes the same
    integer, so the report is hash-exact cross-engine. The identical-
    empty-pair edge (maxlen = 0) is similarity 1 and always kept.

    Scale discipline (the ``jaccard_pairs`` contract): this runs on
    CANDIDATE pairs — LSH-banded buckets, never all-pairs — so wall
    time is linear in the CANDIDATE count, and the candidate count is
    a property of the corpus's dup structure (dup-heavy corpora grow
    it quadratically within clusters — true for ANY pairwise
    verifier). The per-pair constant is the real lever: Levenshtein is
    O(|a|·|b|) PER PAIR (measured: ~0.2 ms/pair at ~500 chars — 300k
    candidates ≈ 66 s where set-based ``jaccard_pairs`` takes 5 s), so
    ``max_chars`` fails loudly when a text exceeds it — truncate, or
    route longer docs through ``jaccard_pairs``/``exact_substr``; this
    operator's domain is SHORT text (titles/questions/prompts), where
    the kernel is microseconds and the precision gain is the point.

    Returns ``(id_a, id_b, dist, maxlen, sim)``; ``sim`` is the single
    6dp float division of the two exact integers."""
    if not 0 <= int(threshold_pct) <= 100:
        raise ValueError(
            f"threshold_pct must be in [0, 100]: got {threshold_pct!r}"
        )
    t = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_txt"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("bigint").alias(
            "_len"
        ),
    )
    over = t.filter(F.col("_len") > int(max_chars))
    n_over = over.limit(1).count()
    if n_over:
        sample = [r[0] for r in over.select(id_col).limit(5).collect()]
        raise ValueError(
            f"levenshtein_pairs: texts over max_chars={max_chars} (e.g."
            f" ids {sample}) — the O(len^2) kernel needs a bound;"
            " truncate or verify long docs with jaccard_pairs"
        )
    joined = (
        pairs.join(
            t.select(
                F.col(id_col).alias("id_a"),
                F.col("_txt").alias("_ta"),
                F.col("_len").alias("_la"),
            ),
            "id_a",
        )
        .join(
            t.select(
                F.col(id_col).alias("id_b"),
                F.col("_txt").alias("_tb"),
                F.col("_len").alias("_lb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb").cast("bigint").alias("dist"),
            F.greatest("_la", "_lb").alias("maxlen"),
        )
    )
    return joined.filter(
        (F.lit(100) * (F.col("maxlen") - F.col("dist")))
        >= (F.lit(int(threshold_pct)) * F.col("maxlen"))
    ).select(
        "id_a",
        "id_b",
        "dist",
        "maxlen",
        F.when(F.col("maxlen") == 0, F.lit(1.0))
        .otherwise(
            F.round(
                F.lit(1.0) - F.col("dist") / F.col("maxlen").cast("double"), 6
            )
        )
        .alias("sim"),
    )


def simhash16(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash as a '0'/'1' string.

    Per token, hash = md5(token); hex position i (1..16) contributes +1 if
    the digit is in [8..f] else -1; bit_i = 1 iff the positional sum is
    >= 0 (ties to 1, deterministically). Near-dup docs (high token
    overlap) agree on most bits. Staged narrow projections (tokenize and
    md5 evaluated once per row, then 16 cheap bit passes over the shared
    digest array), no shuffle, and exactly reproducible in any md5-capable
    engine.
    """
    digests = tokens_df(df, text_col, id_col, out="_t").select(
        F.col(id_col), F.transform("_t", lambda t: F.md5(t)).alias("_h")
    )
    n = F.size("_h")
    bits = []
    for i in range(1, 17):
        high = F.size(
            F.filter(
                F.col("_h"),
                lambda h: F.substring(h, i, 1).isin(*list("89abcdef")),
            )
        )
        # sum = high - (n - high) >= 0  <=>  2*high >= n
        bits.append(F.when(high * 2 >= n, F.lit("1")).otherwise(F.lit("0")))
    return digests.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def _exact_substr_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int,
    keeper_rule: str,
) -> tuple[DataFrame, DataFrame]:
    """The shared ExactSubstr pipeline (Lee et al. arXiv:2107.06499)
    behind ``exact_substr_coverage`` and ``exact_substr_dedup``: hash
    every ``min_len``-char window ONCE, one exchange on the hash with a
    window-function min/max annotation (no groupBy + join-back, which
    would re-run the explode+md5 scan — measured ~2x), then per-doc
    gaps-and-islands merging back to maximal spans.

    ``keeper_rule`` picks the span predicate — the ONLY line the two
    operators differ on:

    - ``"any_other_doc"`` (coverage): a window duplicated across >= 2
      DISTINCT docs marks both holders (min != max over the hash).
    - ``"lower_id_holder"`` (dedup surgery): a window is removable iff
      some LOWER-id doc holds it (id > min) — the canonical-keeper rule,
      deterministic on both engines; the minimum-id doc never cuts.

    Returns ``(base, merged)``: ``base`` = (id, _t, n_chars) over the
    full input; ``merged`` = (id, _isl, ms, me) maximal duplicated
    spans, 0-based [ms, me)."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col), F.col(text_col).alias("_t"), F.length(text_col).alias("n_chars")
    )
    # explode POSITIONS, hash after: materializing a per-row array of
    # md5 strings costs 2x (measured) over hashing on the exploded rows,
    # where substring+md5 run inside the same codegen stage. The doc
    # scan is spread first when it arrives under-partitioned (one small
    # parquet file = one task would hash the whole corpus serially); on
    # a real cluster the scan already has parallel splits and the
    # repartition is a no-op branch.
    src = base.filter(F.length("_t") >= min_len)
    par = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    windows = src.select(
        F.col(id_col),
        "_t",
        F.explode(F.sequence(F.lit(1), F.length("_t") - (min_len - 1))).alias("_i"),
    ).select(
        F.col(id_col),
        (F.col("_i") - 1).alias("pos"),
        F.md5(F.expr(f"substring(_t, _i, {int(min_len)})")).alias("h"),
    )

    w_h = Window.partitionBy("h")
    annotated = windows.withColumn("_lo", F.min(F.col(id_col)).over(w_h))
    if keeper_rule == "any_other_doc":
        annotated = annotated.withColumn("_hi", F.max(F.col(id_col)).over(w_h))
        dup = annotated.filter(F.col("_lo") != F.col("_hi"))
    elif keeper_rule == "lower_id_holder":
        dup = annotated.filter(F.col(id_col) > F.col("_lo"))
    else:
        raise ValueError(f"unknown keeper_rule: {keeper_rule!r}")
    spans = dup.select(
        F.col(id_col),
        F.col("pos").alias("s"),
        (F.col("pos") + min_len).alias("e"),
    )
    w_ord = Window.partitionBy(id_col).orderBy("s")
    prev_max = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    islanded = spans.withColumn(
        "_new", F.when(F.col("s") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0)
    ).withColumn("_isl", F.sum("_new").over(w_ord))
    merged = islanded.groupBy(id_col, "_isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return base, merged


def exact_substr_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 30,
) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2021,
    "Deduplicating Training Data Makes LMs Better", arXiv:2107.06499 —
    the ExactSubstr criterion): for every document, how many of its
    characters sit inside a substring of length >= ``min_len`` that also
    occurs verbatim in ANOTHER document. Doc-level dedup misses this
    class entirely (boilerplate headers, licenses, templated spans
    pasted into otherwise-unique pages).

    The reference implementation builds a corpus suffix array — a
    sequential construction Spark can't host. The distributed
    equivalent: every ``min_len``-char window (md5-hashed, fixed-width
    keys) is grouped corpus-wide; windows spanning >= 2 DISTINCT docs
    mark duplicated [start, start+min_len) intervals, and per-doc
    gaps-and-islands interval merging (one window-function pass) turns
    overlapping windows back into maximal spans — any shared substring
    of length L >= min_len contributes exactly its L - min_len + 1
    windows, whose union reconstructs the full span, so merged coverage
    equals the suffix-array answer for spans >= min_len.

    Cost shape: ~n_chars windows of 32-byte hashes, hashed ONCE — the
    shuffle is ~32x the corpus bytes, one exchange on the hash (the
    ">= 2 docs" test is a window min/max over the hash partition, not a
    groupBy + join-back that would re-run the explode+md5 scan) + one
    per-doc window pass. At 100 TB run it per-shard or on a sample; the
    criterion stays exact within the scanned scope. Integer counts and
    a 6dp ratio — exact DuckDB oracle.

    Returns ``(id, n_chars, covered_chars, coverage_ratio, n_spans)``;
    docs with no duplicated span report zeros.
    """
    base, merged = _exact_substr_spans(
        df, text_col, id_col, min_len, keeper_rule="any_other_doc"
    )
    per_doc = merged.groupBy(id_col).agg(
        F.sum(F.col("me") - F.col("ms")).alias("covered_chars"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return base.select(F.col(id_col), "n_chars").join(per_doc, id_col, "left").select(
        F.col(id_col),
        "n_chars",
        F.coalesce("covered_chars", F.lit(0)).alias("covered_chars"),
        # 0-length docs report 0.0, not the NULL a 0/0 division yields —
        # a NULL ratio vanishes from BOTH sides of a >= threshold split
        F.when(F.col("n_chars") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.coalesce("covered_chars", F.lit(0)).cast("double")
                / F.col("n_chars").cast("double"),
                6,
            )
        )
        .alias("coverage_ratio"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
    )


def exact_substr_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 30,
) -> DataFrame:
    """Exact-substring REMOVAL (the surgery half of Lee et al.
    arXiv:2107.06499's ExactSubstr dedup; ``exact_substr_coverage`` is
    the report half): every maximal span of length >= ``min_len`` that
    also occurs verbatim in a LOWER-id document is cut from this
    document's text, so exactly one copy of each shared span survives
    in the corpus — the canonical-keeper rule is the hash's minimum doc
    id, deterministic on both engines. Intra-document self-repetition
    is deliberately out of scope (that's ``repetition_report``'s job);
    a doc never cuts spans it is the canonical holder of.

    Plan shape: the SAME one-pass window/hash/min-over-hash pipeline as
    the coverage report (~32x corpus-bytes shuffle on the hash — the
    intrinsic ExactSubstr cost, per-shard at 100 TB), then per-doc
    gaps-and-islands merge, then ONE join of the merged removal islands
    (grouped to a sorted array, bounded by spans-per-doc) back to the
    doc scan, and the kept text is rebuilt by a single JVM-side
    ``aggregate`` over the islands array — substring concatenation in
    codegen, no Python, no explode of the text.

    Returns ``(id, n_chars, removed_chars, n_cuts, text_deduped)``;
    docs with nothing to cut pass through byte-identical.
    """
    base, merged = _exact_substr_spans(
        df, text_col, id_col, min_len, keeper_rule="lower_id_holder"
    )
    cuts = merged.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ms"), F.col("me")))
        ).alias("_cuts")
    )

    txt = F.col("_t")
    joined = base.join(cuts, id_col, "left").withColumn(
        "_cuts", F.coalesce("_cuts", F.array())
    )
    # fold over the removal islands: carry (chars kept so far, cursor);
    # each island appends the text between the cursor and its start;
    # finish appends the tail after the last island. Cursor arithmetic
    # is 0-based; Column.substr is 1-based.
    rebuilt = F.aggregate(
        F.col("_cuts"),
        F.struct(F.lit("").alias("acc"), F.lit(0).alias("cur")),
        lambda a, c: F.struct(
            F.concat(a["acc"], txt.substr(a["cur"] + 1, c["ms"] - a["cur"])).alias(
                "acc"
            ),
            c["me"].alias("cur"),
        ),
        lambda a: F.concat(
            a["acc"], txt.substr(a["cur"] + 1, F.col("n_chars") - a["cur"])
        ),
    )
    return joined.select(
        F.col(id_col),
        "n_chars",
        F.aggregate(
            F.col("_cuts"), F.lit(0), lambda a, c: a + (c["me"] - c["ms"])
        ).cast("bigint").alias("removed_chars"),
        F.size("_cuts").cast("bigint").alias("n_cuts"),
        rebuilt.alias("text_deduped"),
    )


def source_overlap_kmv(
    df: DataFrame,
    source_col: str,
    text_col: str,
    k: int = 256,
) -> DataFrame:
    """Pairwise SOURCE-level content-overlap matrix from k-minimum-value
    sketches (Bar-Yossef et al. 2002, the KMV distinct-value sketch) —
    the planning number cross-source dedup starts from: "which corpus
    sources substantially duplicate each other?" answered WITHOUT the
    all-pairs document join (``cross_source_dups`` is the exact
    per-document follow-up once a pair looks hot).

    Sketch: per source, the k smallest distinct 60-bit content
    fingerprints (md5 → 15 hex → BIGINT, the ``sketches._h60``
    construction — same literal function in DuckDB, so every signature
    value replays exactly). Jaccard estimate for a pair via the union
    trick: with U_k = k smallest of S_a ∪ S_b,

        Ĵ(a, b) = |U_k ∩ S_a ∩ S_b| / |U_k|

    — an unbiased estimator with error O(1/√k), and EXACT whenever
    |A ∪ B| ≤ k (the signatures are then the complete sets). All set
    arithmetic runs on sorted integer arrays (array_union /
    array_intersect / slice) — deterministic on any layout; the only
    division is the final 6dp estimate over two exact ints.

    Scale shape: one distinct-shuffle of (source, fingerprint) over the
    corpus, then TWO-STAGE exact k-smallest (row_number within
    (source, fingerprint mod 64) buckets, then within source over ≤
    64·k survivors) so no single giant source ever sorts its full
    distinct-fingerprint set on one task; per-source signatures are
    bounded arrays (k BIGINTs), and the pairwise stage is a broadcast
    self-join over the SOURCE-count-sized table — sources are a
    bounded dimension (the informational-BNLJ class), never the corpus.

    Returns one row per unordered source pair:
    ``(source_a, source_b, n_distinct_a, n_distinct_b, k_union,
    n_common_in_k, jaccard_est)``.
    """
    from pyspark.sql.functions import broadcast
    from pyspark.sql.window import Window

    if int(k) < 1:
        raise ValueError(f"k must be >= 1: got {k!r}")
    h = F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10).cast(
        "bigint"
    )
    hashes = df.select(
        F.col(source_col).alias("source"), h.alias("h")
    ).distinct()
    # two-stage exact k-smallest: bucket pass bounds the final
    # per-source sort to <= 64*k rows regardless of source size
    w1 = Window.partitionBy("source", F.pmod(F.col("h"), F.lit(64))).orderBy(
        "h"
    )
    w2 = Window.partitionBy("source").orderBy("h")
    sigs = (
        hashes.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= int(k))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= int(k))
    )
    per_source = hashes.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
    sig_arr = (
        sigs.groupBy("source")
        .agg(F.array_sort(F.collect_list("h")).alias("sig"))
        .join(per_source, "source")
    )
    a = sig_arr.select(
        F.col("source").alias("source_a"),
        F.col("sig").alias("sig_a"),
        F.col("n_distinct").alias("n_distinct_a"),
    )
    b = sig_arr.select(
        F.col("source").alias("source_b"),
        F.col("sig").alias("sig_b"),
        F.col("n_distinct").alias("n_distinct_b"),
    )
    union_k = F.slice(
        F.array_sort(F.array_union("sig_a", "sig_b")), 1, int(k)
    )
    common_in_k = F.size(
        F.array_intersect(union_k, F.array_intersect("sig_a", "sig_b"))
    )
    return (
        broadcast(a)
        .join(b, F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "n_distinct_a",
            "n_distinct_b",
            F.size(union_k).cast("int").alias("k_union"),
            common_in_k.cast("int").alias("n_common_in_k"),
            F.round(
                common_in_k.cast("double") / F.size(union_k).cast("double"),
                6,
            ).alias("jaccard_est"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_copies: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Corpus-wide LINE-level deduplication — the CCNet preprocessing
    step (Wenzek et al. 2019, arXiv:1911.00359 §3.1: paragraph-hash
    dedup run BEFORE language ID, where it removes both boilerplate —
    nav menus, cookie banners — and near-identical page variants that
    document-level dedup misses). A line whose normalized hash occurs
    ``min_copies``+ times across the corpus is boilerplate; with
    ``keep_first=True`` (the CCNet behavior) its deterministically
    first occurrence — smallest ``(id, line position)`` — survives and
    every other copy is dropped; ``keep_first=False`` drops all copies.

    Normalization for matching (hash input only; surviving lines keep
    their original bytes): lowercase + trim + whitespace-collapse.
    Blank lines never count as duplicates and are always preserved —
    they carry paragraph structure, not content. A NULL text coalesces
    to the empty string (one blank line), so the document keeps its
    accounting row instead of vanishing from the output.

    Scale shape: one posexplode pass over the corpus, one partial-agg
    groupBy on the line hash (count and min-(id,pos) winner in the SAME
    aggregate — no second shuffle for the keeper), one hash-keyed join
    back, one groupBy(id) rebuild with order restored via
    array_sort(struct(pos, line)) — the ``exact_substr_dedup`` rebuild
    discipline. Every step partial-aggregates; nothing is ever
    collected.

    Returns ``(id, text_deduped, n_lines, n_lines_dropped,
    chars_removed)`` — rebuild keeps original line text and order,
    joining survivors with single newlines.
    """
    if int(min_copies) < 2:
        raise ValueError(f"min_copies must be >= 2: got {min_copies!r}")
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\s+", " ")
    keyed = lines.withColumn("_k", F.when(norm != "", F.md5(norm)))
    stats = (
        keyed.filter(F.col("_k").isNotNull())
        .groupBy("_k")
        .agg(
            F.count(F.lit(1)).alias("_copies"),
            F.min(F.struct("_id", "pos")).alias("_first"),
        )
    )
    joined = keyed.join(stats, "_k", "left")
    is_dup = F.col("_copies") >= int(min_copies)
    if keep_first:
        is_winner = (F.col("_first._id") == F.col("_id")) & (
            F.col("_first.pos") == F.col("pos")
        )
        drop = is_dup & ~is_winner
    else:
        drop = is_dup
    drop = F.coalesce(drop, F.lit(False))  # blank lines never drop
    return (
        joined.withColumn("_drop", drop)
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text_deduped"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_drop").cast("bigint")).alias("n_lines_dropped"),
            F.sum(
                F.when(F.col("_drop"), F.length("line")).otherwise(F.lit(0))
            ).cast("bigint").alias("chars_removed"),
        )
    )


def lsh_plan(
    spark,
    threshold_pct: int,
    num_hashes: int,
    n_points: int = 9,
) -> "DataFrame":
    """MinHash-LSH parameter planner (Leskovec/Rajaraman/Ullman, MMDS
    ch. 3 S-curve analysis) — pick (bands, rows) BEFORE paying the
    banding shuffle: for every factorization b·r = num_hashes, the
    probability a pair at Jaccard s collides in ≥ 1 band is

        P(s) = 1 − (1 − s^r)^b,    curve threshold ≈ (1/b)^(1/r)

    One row per (b, r) with the curve threshold, the collision
    probability AT the target, and a probe grid of P(s) below/above it
    (how sharp the candidate filter is — recall at threshold+0.1 vs
    false-candidate rate at threshold−0.1). Rank 1 = the factorization
    whose curve threshold sits closest under the target (the
    standard "catch everything at or above t" choice).

    Exactness: ``threshold_pct`` is an integer percent (no float in
    the signature); probabilities are pure driver arithmetic on that
    exact rational, emitted at 6dp — deterministic, trivially
    SQL-replayable, zero cluster work (bounded model math, like the
    quantizer caches). Raises on a non-factorable ``num_hashes`` only
    when literally prime... every integer ≥ 1 has the (1, n) and
    (n, 1) factorizations, so the plan always exists."""
    from fractions import Fraction

    if not 0 < int(threshold_pct) < 100:
        raise ValueError(
            f"threshold_pct must be in (0, 100): got {threshold_pct!r}"
        )
    # normalize BEFORE use: a float argument (e.g. 8.0) would otherwise
    # survive the validation but make rows_per_band a float downstream
    # and fail the createDataFrame schema instead of planning cleanly
    num_hashes = int(num_hashes)
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: got {num_hashes!r}")
    t = Fraction(int(threshold_pct), 100)
    rows_out = []
    for b in range(1, num_hashes + 1):
        if num_hashes % b != 0:
            continue
        r = num_hashes // b
        curve_t = (1.0 / b) ** (1.0 / r)
        p_at = 1 - (1 - float(t) ** r) ** b
        lo = max(float(t) - 0.1, 0.0)
        hi = min(float(t) + 0.1, 1.0)
        p_lo = 1 - (1 - lo**r) ** b
        p_hi = 1 - (1 - hi**r) ** b
        rows_out.append(
            (
                b,
                r,
                round(curve_t, 6),
                round(p_at, 6),
                round(p_lo, 6),
                round(p_hi, 6),
            )
        )
    # rank: curve threshold closest UNDER the target first (catch
    # everything >= t), then the sharper (larger r) plan
    under = sorted(
        (x for x in rows_out if x[2] <= float(t)),
        key=lambda x: (-x[2], -x[1]),
    )
    over = sorted(
        (x for x in rows_out if x[2] > float(t)),
        key=lambda x: (x[2], -x[1]),
    )
    ranked = [
        (i + 1, *x) for i, x in enumerate(under + over)
    ]
    return local_frame(
        spark,
        ranked,
        "rank int, bands int, rows_per_band int, curve_threshold double,"
        " p_at_target double, p_below double, p_above double",
    )
