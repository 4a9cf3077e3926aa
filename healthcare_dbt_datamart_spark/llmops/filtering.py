"""Content filtering and data-curation operators for training pipelines:
pattern redaction (PII / denylist scrub), n-gram eval-set decontamination,
DSIR-style importance weighting, and deterministic epoch ordering.

All four are engine-independent by construction (md5 buckets, portable
regex character classes, add-alpha smoothed count ratios) so every one has
an exact DuckDB oracle, like the dedup/split families.

Scale shapes (100 TB discipline):

- ``redact_report`` is a pure projection — zero shuffle, scales as a scan.
- ``ngram_contamination`` is the Dolma/RedPajama decontamination join:
  per-doc DISTINCT grams (array ops, no explode-then-distinct shuffle per
  doc), md5-compressed gram keys so the join shuffles fixed-width hashes
  instead of raw n-gram strings, and ONE fan-out-free left join against
  the train side's deduplicated gram set feeding a single per-doc
  aggregation.
- ``importance_weights`` shares the TF-IDF shuffle shape: two partial-agg
  groupBys on the term plus one join; scalar corpus totals fold in as
  1-row broadcast aggregates (no plan-splitting ``count()`` actions).
- ``epoch_order`` never materializes a global order: rows are hashed into
  shards and ordered within the shard only (window partitioned by shard),
  which is exactly how a 1000-executor trainer consumes data — one
  deterministic shard per reader, never a single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..session import local_frame
from .text import grams, hex_prefix_int, windows, words

# Portable regexes: character classes + \b only — no backreferences, no
# lookaround — so Java (Spark) and RE2 (DuckDB/Go) agree on every match.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b",
}


def redact_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    patterns: dict[str, str],
    mask: str = "<X>",
) -> DataFrame:
    """Per-document match counts for each named pattern plus the length of
    the text after all patterns are masked — the PII-scrub / denylist
    report a curation pipeline emits before dropping or rewriting docs.

    Counting and replacement stay JVM-side (``regexp_count`` /
    ``regexp_replace`` are codegen'd); one projection, zero shuffle. The
    replacement chain applies patterns in dict order, so an overlapping
    match is consumed by the first pattern that claims it — deterministic
    and mirrored exactly by the oracle's nested regexp_replace.
    """
    c = F.col(text_col)
    cols = [F.col(id_col), F.length(c).alias("raw_len")]
    for name, pat in patterns.items():
        cols.append(F.regexp_count(c, F.lit(pat)).alias(f"{name}_hits"))
    redacted = c
    # the mask is a LITERAL, but regexp_replace treats the replacement
    # as a Java template where \ and $ are group references — a mask
    # like '$' would throw 'Illegal group reference' and '$1' would
    # silently substitute capture groups
    safe_mask = mask.replace("\\", "\\\\").replace("$", "\\$")
    for pat in patterns.values():
        redacted = F.regexp_replace(redacted, pat, safe_mask)
    cols.append(F.length(redacted).alias("redacted_len"))
    return df.select(*cols)


def _distinct_grams(
    df: DataFrame, text_col: str, id_col: str, n: int, carry: tuple = ()
) -> DataFrame:
    """(id, [carry...,] gram_hash) pairs — per-doc DISTINCT word n-grams,
    built with array expressions inside the row (tokenize once, transform
    over an index sequence, array_distinct) and only THEN exploded, so the
    shuffle sees each (doc, gram) once. Grams travel as md5 hashes: fixed
    32-byte keys instead of unbounded strings — at 100 TB the
    decontamination shuffle is dominated by key width, and a hash
    collision (2^-64-ish on the join range) only ever FLAGS a clean doc,
    never misses a dirty one. ``carry`` threads extra columns through
    unchanged (the streaming guard carries the event-time column).
    """
    keep = [F.col(id_col), *[F.col(c) for c in carry]]
    w = df.select(*keep, words(text_col).alias("_w"))
    g = w.select(*keep, grams("_w", n).alias("_g"))
    return g.select(
        *keep,
        F.explode(F.array_distinct("_g")).alias("_gram"),
    ).select(*keep, F.md5(F.col("_gram")).alias("gram_hash"))


def ngram_contamination(
    gram_source: DataFrame,
    scored: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """N-gram overlap report: for every SCORED document, how many of its
    distinct word n-grams occur anywhere in ``gram_source``. Both
    decontamination directions are this one function with the arguments
    swapped: eval-set hygiene scores eval docs against the train grams
    (``gram_source=train, scored=eval``); a release pipeline scores
    train candidates against the eval grams (``gram_source=eval,
    scored=candidates`` — how corpus_release.py calls it).

    The canonical pre-training hygiene check (13-grams in GPT-3/Dolma; n
    is a parameter — driver data uses shorter docs, so tests run n=3..5).
    Returns ``(id, n_grams, n_contaminated, contamination_ratio)``;
    docs shorter than ``n`` tokens have no grams and emit no row.

    Shape: ONE left join of eval grams against the train side's
    DEDUPLICATED gram set (dedup collapses the heavy tail of repeated
    boilerplate grams, and makes the join fan-out-free so hit-marking and
    gram-counting share a single per-doc aggregation) — one join + one
    groupBy, all keys fixed-width gram hashes.
    """
    ev = _distinct_grams(scored, text_col, id_col, n)
    tr = (
        _distinct_grams(gram_source, text_col, id_col, n)
        .select("gram_hash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    counted = (
        ev.join(tr, "gram_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    return counted.select(
        F.col(id_col),
        "n_grams",
        "n_contaminated",
        F.round(
            F.col("n_contaminated").cast("double") / F.col("n_grams").cast("double"),
            6,
        ).alias("contamination_ratio"),
    )


def importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public arXiv:2302.03169):
    score every document by the mean per-token log-likelihood ratio
    between a TARGET unigram model (docs matching ``target_pred``) and the
    CORPUS unigram model. High scorers look like the target domain;
    sampling proportional to the weight reshapes the corpus toward it.

    Both models are add-alpha smoothed over the SAME corpus vocabulary, so
    out-of-target tokens get finite mass and the ratio is defined
    everywhere. All counts are exact integers and the per-token ratio is
    computed in double then averaged and rounded to 6dp — cross-engine
    reproducible, same as ``unigram_logprob``.

    Returns ``(id, n_tokens, dsir_weight)``.
    """
    toks = df.select(
        F.col(id_col),
        # NULL predicate rows (e.g. a NULL domain column) are NOT
        # target — left as NULL they poison c_target/t_target sums and
        # silently drop tokens from the averaged weight
        F.coalesce(target_pred.cast("int"), F.lit(0)).alias("_is_target"),
        F.explode(words(text_col)).alias("term"),
    )
    freq = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("c_corpus"),
        F.sum("_is_target").alias("c_target"),
    )
    # scalar totals as ONE 1-row broadcast aggregate: corpus tokens,
    # target tokens, vocabulary size (= rows of freq, partial-agg safe)
    totals = freq.agg(
        F.sum("c_corpus").cast("double").alias("t_corpus"),
        F.sum("c_target").cast("double").alias("t_target"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    a = F.lit(float(alpha))
    ratio = freq.crossJoin(broadcast(totals)).select(
        "term",
        (
            F.log((F.col("c_target") + a) / (F.col("t_target") + a * F.col("vocab")))
            - F.log((F.col("c_corpus") + a) / (F.col("t_corpus") + a * F.col("vocab")))
        ).alias("llr"),
    )
    return (
        toks.join(ratio, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0 normalizes IEEE negative zero: round() of a tiny
            # negative mean yields -0.0, which engines stringify
            # differently (found at sf0.1)
            (F.round(F.avg("llr"), 6) + F.lit(0.0)).alias("dsir_weight"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    public arXiv:1911.00359): score every document by a per-LANGUAGE
    language-model proxy (mean negative unigram log-likelihood against
    that language's own corpus frequencies — the KenLM stand-in this
    container can host), rank within the language, and split each
    language's corpus into head / middle / tail thirds. CCNet keeps
    head+middle and drops or downweights tail; the bucket column is the
    knob.

    Determinism across engines: the score is ``round(avg(ln(...)), 6)``
    (the idiom ``unigram_logprob`` already hash-proves), the rank orders
    by (rounded score, id) so ties are impossible, and the third
    boundaries are pure integer arithmetic (3·rank vs n, never a float
    percentile).

    Scale shape: two partial-agg groupBys on (lang, term) + one join —
    the TF-IDF shuffle — then ONE window pass partitioned by language
    (never a global sort; per-language orders are what CCNet shards by
    anyway). Language totals fold in via a broadcast of the bounded
    language list.

    Returns ``(id, lang, n_tokens, ppl_score, ppl_rank, bucket)``.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        F.explode(words(text_col)).alias("term"),
    )
    freq = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tc"))
    lang_tot = freq.groupBy("lang").agg(
        F.sum("tc").cast("double").alias("lt")
    )
    scored = (
        toks.join(freq, ["lang", "term"])
        .join(broadcast(lang_tot), "lang")
        .groupBy(F.col(id_col), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # negative mean log-prob: higher = more surprising to the
            # language's own model (the perplexity proxy); -0.0 guard as
            # in importance_weights
            (
                F.round(-F.avg(F.log(F.col("tc").cast("double") / F.col("lt"))), 6)
                + F.lit(0.0)
            ).alias("ppl_score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("ppl_score").asc(), F.col(id_col).asc()
    )
    ranked = scored.select(
        F.col(id_col),
        "lang",
        "n_tokens",
        "ppl_score",
        F.row_number().over(w).alias("ppl_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("_n"),
    )
    return ranked.select(
        F.col(id_col),
        "lang",
        "n_tokens",
        "ppl_score",
        "ppl_rank",
        F.when(F.col("ppl_rank") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("ppl_rank") * 3 <= F.col("_n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _word_rows(frame: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """([keep...,] w): one tokenized word array per document — the
    n-gram LM scorers' fit and scoring input."""
    return frame.select(*keep, words(text_col).alias("w"))


def _gram_rows(arr: DataFrame, n: int, *keep: str) -> DataFrame:
    """([keep...,] w1..wn): one row per word n-gram of ``_word_rows``'
    output; a document with fewer than n words has no row."""

    def gram(*ws):
        return F.struct(*[w.alias(f"w{j + 1}") for j, w in enumerate(ws)])

    return arr.select(*keep, F.explode(windows("w", n, gram)).alias("g")).select(
        *keep, *[f"g.w{j + 1}" for j in range(n)]
    )


def bigram_interp_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_df: DataFrame | None = None,
    lam: float = 0.75,
) -> DataFrame:
    """Jelinek-Mercer interpolated BIGRAM language-model scores — the
    next rung above ``perplexity_buckets``' unigram proxy toward CCNet's
    KenLM scorer (Wenzek et al. arXiv:1911.00359: a model trained on a
    clean REFERENCE corpus — Wikipedia — scores the crawl):

        P(w2 | w1) = lam · c(w1 w2) / c(w1 ·)
                   + (1 − lam) · (c(w2) + 1) / (N + V + 1)

    with all counts from ``ref_df`` (defaults to ``df`` itself — the
    self-scoring mode ``perplexity_buckets`` uses), c(w1 ·) = bigrams
    starting with w1, N the reference token total and V its vocabulary
    size. The bigram term is 0 for pairs/contexts the reference never
    saw, and the Laplace-floored unigram backoff keeps every position
    finite — including fully out-of-vocabulary tokens, which get the
    +1/(N+V+1) OOV mass. Doc score = ``round(-avg(ln P), 6)`` over the
    doc's adjacent pairs; higher = more surprising to the reference.

    Design note, measured in the test: a SELF-trained bigram model
    saturates at P ≈ lam on a singleton doc's unique pairs (bc = c1 =
    1), i.e. self-scoring REWARDS unique phrasing — the reference-model
    split is not an optional nicety, it is what makes the score a
    quality signal. (The unigram proxy does not saturate this way,
    which is why ``perplexity_buckets`` may self-score.)

    Determinism across engines: integer counts, one float expression
    per position with shared literals, 6dp-rounded mean — the
    ``unigram_logprob`` idiom, replayed cell-for-cell against DuckDB in
    tests.

    Scale shape: one explode pass over the reference for unigram counts
    and one for pair counts (intrinsic to fitting), one pair-explode
    pass over the scored corpus; c(w1 ·), N and V DERIVE from the
    bounded count tables (no further corpus scans — the
    domain_mixture_weights discipline); scoring LEFT-joins shuffle on
    gram keys (the TF-IDF family). The SCORED corpus — the 100 TB side
    — is exploded exactly once; the unigram fit subtree plans twice
    (vocabulary join + 1-row Laplace denominator need different
    exchanges, so AQE reuse collapses only one) — both REFERENCE-sized,
    small by the CCNet design; the final-plan Generate count is pinned
    in tests. Docs with < 2 tokens have no bigram position and are
    excluded — score undefined, the ``bigram_pmi`` n >= 2 rule.

    Returns ``(id, n_bigrams, lm_score)``.
    """
    # lam=1 kills the Laplace backoff: reference-unseen pairs get P=0,
    # F.log(0) = NULL, and avg() silently DROPS those positions —
    # finite but wrong. Fail loudly instead (the temperature_rebalance
    # rate_scale discipline).
    if not 0.0 <= lam < 1.0:
        raise ValueError(
            f"lam must be in [0, 1): got {lam!r} — lam=1 makes "
            "reference-unseen pairs P=0 and ln(0) NULL-drops them "
            "from the doc mean"
        )

    ref_arr = _word_rows(ref_df if ref_df is not None else df, text_col)
    ucnt = (
        ref_arr.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    bcnt = _gram_rows(ref_arr, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("bc")
    )
    # model-table folds — derived from the COUNT tables, never a
    # further corpus pass
    c1 = bcnt.groupBy("w1").agg(F.sum("bc").alias("c1"))
    denom = ucnt.agg(
        (F.sum("uc") + F.count(F.lit(1)) + F.lit(1))
        .cast("double")
        .alias("n_v1")  # N + V + 1: Laplace denominator incl. OOV mass
    )

    scored_pairs = _gram_rows(_word_rows(df, text_col, id_col), 2, id_col)
    lam_c = F.lit(float(lam))
    p_big = F.coalesce(
        F.col("bc").cast("double") / F.col("c1"), F.lit(0.0)
    )
    p_uni = (F.coalesce(F.col("uc"), F.lit(0)) + F.lit(1)).cast(
        "double"
    ) / F.col("n_v1")
    p = lam_c * p_big + (F.lit(1.0) - lam_c) * p_uni
    return (
        scored_pairs.crossJoin(broadcast(denom))
        .join(bcnt, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .join(ucnt.withColumnsRenamed({"t": "w2"}), ["w2"], "left")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.round(-F.avg(F.log(p)), 6) + F.lit(0.0)).alias("lm_score"),
        )
    )


def trigram_interp_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_df: DataFrame | None = None,
    lam3: float = 0.5,
    lam2: float = 0.75,
) -> DataFrame:
    """Recursively-interpolated TRIGRAM Jelinek-Mercer scores — the rung
    above ``bigram_interp_scores`` on the CCNet quality ladder (same
    reference-model split: fit on a clean corpus, score the crawl):

        P3(w3 | w1 w2) = lam3 · c(w1 w2 w3) / c(w1 w2 ·)
                       + (1 − lam3) · P2(w3 | w2)
        P2(w3 | w2)    = lam2 · c(w2 w3) / c(w2 ·)
                       + (1 − lam2) · (c(w3) + 1) / (N + V + 1)

    the standard recursive JM backoff chain: each level hands its
    leftover mass down one order, and the Laplace-floored unigram keeps
    every position finite (including full-OOV tokens). ``lam3 = 0``
    degenerates EXACTLY to ``bigram_interp_scores(lam=lam2)`` restricted
    to trigram positions — the property test's pin. Doc score =
    ``round(-avg(ln P3), 6)`` over the doc's trigram positions (docs
    with < 3 tokens have no position and are excluded — score
    undefined, the n >= 3 rule).

    Both backoff levels must keep positive mass (``0 <= lam < 1`` each,
    the bigram scorer's loud-failure rule): lam3 = 1 zeroes every
    reference-unseen trigram and ln(0) = NULL silently drops the
    position; lam2 = 1 does the same one level down.

    Scale shape (the ``bigram_interp_scores`` discipline, one order
    deeper): one explode pass over the reference per n-gram order
    (intrinsic to fitting), all denominators — c(w1 w2 ·), c(w2 ·), N,
    V — DERIVE from the bounded count tables, scoring LEFT-joins
    shuffle on gram keys, and counts are integer so the only float is
    the shared per-position expression and the 6dp mean.

    Returns ``(id, n_trigrams, lm_score)``.
    """
    for name, lam in (("lam3", lam3), ("lam2", lam2)):
        if not 0.0 <= lam < 1.0:
            raise ValueError(
                f"{name} must be in [0, 1): got {lam!r} — at 1 the "
                "backoff below it gets zero mass, unseen grams score "
                "P=0 and ln(0) NULL-drops them from the doc mean"
            )

    ref_arr = _word_rows(ref_df if ref_df is not None else df, text_col)
    ucnt = (
        ref_arr.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    bcnt = _gram_rows(ref_arr, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("bc")
    )
    tcnt = _gram_rows(ref_arr, 3).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("tc")
    )
    # denominators derive from the COUNT tables, never a further corpus
    # pass (the domain_mixture_weights discipline)
    c12 = tcnt.groupBy("w1", "w2").agg(F.sum("tc").alias("c12"))
    c2 = bcnt.groupBy("w1").agg(F.sum("bc").alias("c2"))
    denom = ucnt.agg(
        (F.sum("uc") + F.count(F.lit(1)) + F.lit(1))
        .cast("double")
        .alias("n_v1")
    )

    scored = _gram_rows(_word_rows(df, text_col, id_col), 3, id_col)
    l3, l2 = F.lit(float(lam3)), F.lit(float(lam2))
    p_tri = F.coalesce(F.col("tc").cast("double") / F.col("c12"), F.lit(0.0))
    p_big = F.coalesce(F.col("bc").cast("double") / F.col("c2"), F.lit(0.0))
    p_uni = (F.coalesce(F.col("uc"), F.lit(0)) + F.lit(1)).cast(
        "double"
    ) / F.col("n_v1")
    p2 = l2 * p_big + (F.lit(1.0) - l2) * p_uni
    p3 = l3 * p_tri + (F.lit(1.0) - l3) * p2
    return (
        scored.crossJoin(broadcast(denom))
        .join(tcnt, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(
            # select-alias, not withColumnsRenamed: the {w1->w2, w2->w3}
            # map would collide if renames apply sequentially
            bcnt.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"), "bc"
            ),
            ["w2", "w3"],
            "left",
        )
        .join(c2.withColumnsRenamed({"w1": "w2"}), ["w2"], "left")
        .join(ucnt.withColumnsRenamed({"t": "w3"}), ["w3"], "left")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            (F.round(-F.avg(F.log(p3)), 6) + F.lit(0.0)).alias("lm_score"),
        )
    )


def kn_bigram_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_df: DataFrame | None = None,
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated KNESER-NEY bigram scores (Kneser & Ney 1995; Chen &
    Goodman 1999 — the smoothing KenLM actually ships, one rung above
    the JM interpolation in ``bigram_interp_scores``):

        P(w2 | w1) = max(c(w1 w2) − d, 0) / c(w1 ·)
                   + d · N1+(w1 ·) / c(w1 ·) · Pcont(w2)
        Pcont(w2)  = (N1+(· w2) + 1) / (T + C + 1)

    with c from the reference bigram counts, N1+(w1 ·) the number of
    DISTINCT continuations of w1, N1+(· w2) the number of DISTINCT
    contexts preceding w2, T the total bigram-type count and C the
    continuation-vocabulary size. The +1/(T+C+1) Laplace floor on the
    continuation distribution keeps every position finite (full-OOV w2
    included — the JM scorer's discipline); an unseen CONTEXT w1 backs
    off to Pcont(w2) entirely. Doc score = ``round(-avg(ln P), 6)``
    over adjacent pairs; < 2-token docs are excluded (no position).

    Why KN over JM: the continuation count is the signal — a word that
    follows MANY distinct contexts ("report") is a likelier novel
    continuation than one glued to a single collocation ("francisco"
    after "san"), even when the raw counts say otherwise; the property
    test pins exactly that asymmetry.

    Determinism and scale shape: EVERY model quantity — c(w1 ·),
    N1+(w1 ·), N1+(· w2), T, C — derives from the single reference
    bigram count table (one ref pair-explode; the unigram pass JM needs
    for its Laplace floor isn't needed at all), the scored corpus is
    exploded exactly once, scoring LEFT-joins shuffle on gram keys, and
    counts are integer with one shared float expression per position.

    Returns ``(id, n_bigrams, lm_score)``.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError(
            f"discount must be in (0, 1): got {discount!r} — d=0 "
            "degenerates to unsmoothed ML (unseen pairs P=0, ln(0) "
            "NULL-drops positions), d=1 erases every observed count"
        )

    ref_arr = _word_rows(ref_df if ref_df is not None else df, text_col)
    bcnt = _gram_rows(ref_arr, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("bc")
    )
    # every denominator/count below derives from bcnt — never a further
    # corpus pass (the domain_mixture_weights discipline)
    ctx = bcnt.groupBy("w1").agg(
        F.sum("bc").alias("c1"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = bcnt.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_back"))
    totals = bcnt.agg(
        F.count(F.lit(1)).alias("t_types"),
        F.count_distinct("w2").alias("c_vocab"),
    )

    scored_pairs = _gram_rows(_word_rows(df, text_col, id_col), 2, id_col)
    d = F.lit(float(discount))
    p_cont = (
        F.coalesce(F.col("n1p_back"), F.lit(0)) + F.lit(1)
    ).cast("double") / (
        F.col("t_types") + F.col("c_vocab") + F.lit(1)
    ).cast("double")
    seen_ctx = F.col("c1").isNotNull()
    p_kn = (
        F.greatest(
            F.coalesce(F.col("bc"), F.lit(0)).cast("double") - d, F.lit(0.0)
        )
        / F.col("c1").cast("double")
        + d * F.col("n1p_fwd").cast("double") / F.col("c1").cast("double")
        * p_cont
    )
    p = F.when(seen_ctx, p_kn).otherwise(p_cont)
    return (
        scored_pairs.crossJoin(broadcast(totals))
        .join(bcnt, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .join(cont, ["w2"], "left")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.round(-F.avg(F.log(p)), 6) + F.lit(0.0)).alias("lm_score"),
        )
    )


def lm_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    ref_df: DataFrame,
    lam: float = 0.75,
) -> DataFrame:
    """CCNet bucketing with the REFERENCE-MODEL scorer — the composition
    the paper actually runs (arXiv:1911.00359 §4.3): score every doc
    with the JM bigram LM fitted on the clean reference
    (``bigram_interp_scores``), rank within the doc's declared language,
    split each language into head / middle / tail thirds.
    ``perplexity_buckets`` is the self-scored unigram proxy of this;
    here the model is trained on ``ref_df`` and the score is a true
    quality signal (the measured saturation note on the bigram scorer).

    Ranking and third boundaries reuse ``perplexity_buckets``' exact
    determinism rules: order by (rounded score, id) — ties impossible —
    and integer 3·rank vs n arithmetic, never a float percentile. Docs
    with < 2 tokens have NO bigram position and therefore no score;
    they cannot be certified and are returned with a NULL score,
    rank 0 and bucket 'tail' (the null-safe discipline: unscoreable
    never silently passes a quality gate).

    Scale shape: the bigram scorer's gram-key joins + ONE window pass
    partitioned by language. Returns
    ``(id, lang, n_bigrams, lm_score, lm_rank, bucket)``.
    """
    from pyspark.sql.window import Window

    scores = bigram_interp_scores(df, text_col, id_col, ref_df=ref_df, lam=lam)
    base = df.select(F.col(id_col), F.col(lang_col).alias("lang")).join(
        scores, [id_col], "left"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score").asc(), F.col(id_col).asc()
    )
    scored = base.filter(F.col("lm_score").isNotNull())
    n_scored = Window.partitionBy("lang")
    ranked = scored.select(
        F.col(id_col),
        "lang",
        "n_bigrams",
        "lm_score",
        F.row_number().over(w).alias("lm_rank"),
        F.count(F.lit(1)).over(n_scored).alias("_n"),
    ).select(
        F.col(id_col),
        "lang",
        "n_bigrams",
        "lm_score",
        "lm_rank",
        F.when(F.col("lm_rank") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("lm_rank") * 3 <= F.col("_n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    unscoreable = base.filter(F.col("lm_score").isNull()).select(
        F.col(id_col),
        "lang",
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(None).cast("double").alias("lm_score"),
        F.lit(0).alias("lm_rank"),
        F.lit("tail").alias("bucket"),
    )
    return ranked.unionByName(unscoreable)


def bloom_prefilter(
    candidates: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    n_hex: int = 5,
    k_probes: int = 2,
) -> DataFrame:
    """Bloom-filter decontamination prefilter — the map-side runtime
    filter that makes the exact gram join affordable at 100 TB: build an
    m-bit Bloom filter (m = 16^``n_hex``) over the EVAL set's distinct
    n-gram hashes, broadcast the bitset (m/8 bytes — 128 KB at the
    default — regardless of corpus size), and test every candidate gram
    against it BEFORE the shuffle join. Bloom filters have no false
    negatives, so the exact confirm join runs only over the surviving
    grams and still counts true hits exactly; the false-positive columns
    report what the prefilter let through (the cost knob m/k trades
    against).

    Probe positions are engine-independent AND free: position_j = hex
    digits [j·n_hex, (j+1)·n_hex) of the gram's EXISTING md5 key, read
    with instr arithmetic (no conv(), no second hash — disjoint slices
    of a uniform digest act as independent hashes, the exact argument
    ``minhash_expr`` already rests on; requires k_probes·n_hex <= 32).
    The bitset itself is assembled DISTRIBUTED —
    groupBy(word) + bit_or of shifted bits, so at most m/64 rows (16 K
    longs) ever reach the driver: bounded MODEL state like the k-means
    centroids, not data. It rides back in as a broadcast 1-row array
    (data, not literals — codegen stays constant-size, the
    ``ivf_assign`` pattern).

    Returns per candidate doc: ``(id, n_grams, bloom_hits, exact_hits,
    fp_grams, fp_rate)`` — ``fp_rate`` is the realized false-positive
    fraction among grams the bloom passed.
    """
    if not 1 <= n_hex <= 6:
        raise ValueError("n_hex must be in [1, 6] (16 bits .. 16M bits)")
    if k_probes * n_hex > 32:
        raise ValueError("k_probes * n_hex must fit the 32 hex digits of md5")
    n_words = max(1, (16 ** n_hex + 63) // 64)

    def positions(g: DataFrame) -> DataFrame:
        out = g
        for j in range(k_probes):
            out = out.withColumn(
                f"_p{j}",
                hex_prefix_int(
                    F.substring(F.col("gram_hash"), 1 + j * n_hex, n_hex), n_hex
                ),
            )
        return out

    # bitset build needs no distinct: bit_or absorbs duplicate grams, so
    # the build is ONE job — scan, hash, explode positions, partial-agg
    # groupBy(word), collect (<= m/64 rows: bounded model state)
    ev = positions(
        _distinct_grams(eval_set, text_col, id_col, n).select("gram_hash")
    )
    ev_bits = ev.select(
        F.explode(F.array(*[F.col(f"_p{j}") for j in range(k_probes)])).alias("_p")
    )
    words_rows = (
        ev_bits.select(
            (F.col("_p") / 64).cast("int").alias("_w"),
            (F.col("_p") % 64).cast("int").alias("_b"),
        )
        # shiftleft via expr: the pyspark wrapper only takes literal bit
        # counts, the SQL function takes a column
        .groupBy("_w")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), _b)")).alias("_m"))
        .collect()
    )
    word_map = {int(r["_w"]): int(r["_m"]) for r in words_rows}
    words = [word_map.get(i, 0) for i in range(n_words)]
    spark = candidates.sparkSession
    bits_df = local_frame(spark, [(words,)], "_bloom array<bigint>")

    cand = positions(
        _distinct_grams(candidates, text_col, id_col, n)
    ).crossJoin(broadcast(bits_df))
    hit = F.lit(True)
    for j in range(k_probes):
        # bit test via expr — the pyspark shiftright wrapper only takes
        # literal bit counts, the SQL function takes a column
        hit = hit & F.expr(
            f"(shiftright(element_at(_bloom, CAST(_p{j} / 64 AS INT) + 1),"
            f" CAST(_p{j} % 64 AS INT)) & CAST(1 AS BIGINT)) = 1"
        )
    # probed has two consumers (per-doc counts, survivor confirm join);
    # they run as parallel branches of ONE job — re-scanning the
    # candidate grams is the standard Spark trade here, and at 100 TB a
    # pipeline would instead WRITE the skinny (id, hash, bit) gram table
    # once and fan out from the files (corpus_quality's reasoning)
    probed = cand.select(F.col(id_col), "gram_hash", hit.alias("_bloom_hit"))

    counts = probed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("_bloom_hit").cast("int")).alias("bloom_hits"),
    )
    # exact confirm join ONLY over bloom survivors — the point of the
    # prefilter: the shuffle join sees the passed fraction, not the
    # corpus. The eval grams ARE re-derived here (scan #2 of the eval
    # side): measured locally, one extra scan of the SMALL side inside
    # the final job beats a persist/checkpoint's extra job + memory
    # pin. A deployment whose eval side is large writes the distinct
    # gram table once and reads it for both the bitset and this join.
    ev_exact = (
        _distinct_grams(eval_set, text_col, id_col, n)
        .select("gram_hash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    confirmed = (
        probed.filter(F.col("_bloom_hit"))
        .join(ev_exact, "gram_hash", "left")
        .groupBy(id_col)
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).alias("exact_hits"))
    )
    return (
        counts.join(confirmed, id_col, "left")
        .select(
            F.col(id_col),
            "n_grams",
            "bloom_hits",
            F.coalesce("exact_hits", F.lit(0)).alias("exact_hits"),
            (F.col("bloom_hits") - F.coalesce("exact_hits", F.lit(0))).alias(
                "fp_grams"
            ),
            F.when(
                F.col("bloom_hits") > 0,
                F.round(
                    (F.col("bloom_hits") - F.coalesce("exact_hits", F.lit(0))).cast(
                        "double"
                    )
                    / F.col("bloom_hits").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("fp_rate"),
        )
    )


def epoch_order(
    df: DataFrame,
    id_col: str,
    seed: str,
    n_shards: int,
) -> DataFrame:
    """Deterministic global training order for one epoch: every row gets a
    shard (reader assignment) and a position within the shard, both pure
    functions of ``(seed, id)`` — rerunning anywhere reproduces the exact
    order, and changing the seed reshuffles.

    ``shard = md5-bucket(seed:id) mod n_shards``; within a shard rows sort
    by the full md5 key. The window partitions BY SHARD — there is never a
    global single-partition sort, matching how distributed trainers
    actually read (one shard per data-loader). At 100 TB: write out
    partitioned by shard; each reader scans its shard pre-sorted.
    """
    from pyspark.sql.window import Window

    if not 1 <= n_shards <= 65536:
        raise ValueError("n_shards must be in [1, 65536]")
    key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    # shard from the key's own first four hex digits (65536 buckets — a
    # 1000-reader trainer still gets unaliased shards; no second md5) —
    # the shared text.hex_prefix_int arithmetic (one decoding formula)
    bucket = hex_prefix_int(key, 4)
    keyed = df.select(
        F.col(id_col),
        key.alias("shuffle_key"),
        (bucket % n_shards).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("shuffle_key").asc(), F.col(id_col).asc()
    )
    return keyed.select(
        F.col(id_col),
        "shard",
        F.row_number().over(w).alias("position"),
        "shuffle_key",
    )


def domain_mixture_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    domain_col: str,
) -> DataFrame:
    """DoReMi-flavored domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    public arXiv:2305.10429): give each domain a mixture weight
    proportional to exp(excess loss) — domains the reference model finds
    HARDER than average get upweighted (one exponentiated-gradient step
    of the paper's update, with the engine's unigram corpus model
    standing in for the proxy LM this container can't host).

    Per-doc loss = negative mean unigram log-likelihood (the
    ``unigram_logprob`` idiom, 6dp); domain loss = 6dp mean of doc
    losses; excess = domain loss - corpus mean doc loss; weights
    exp-normalize across the bounded domain set.

    Scale shape: the token join is the TF-IDF shuffle, and it runs ONCE.
    The corpus token count comes from the vocab table (``sum(tc)`` over
    the term frequencies — the same integer as counting the exploded
    rows, without a third corpus-scale scan), and the corpus-mean /
    softmax-denominator scalars fold as unpartitioned WINDOWS over the
    bounded per-domain aggregate — NOT as separate agg+crossJoin
    branches, each of which would re-execute the corpus-scale doc-loss
    lineage (the ``temperature_weights`` discipline, splits.py). After
    the per-domain aggregation everything operates on |domains| rows.
    Returns ``(domain, n_docs, domain_loss, excess, weight)``.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        F.explode(words(text_col)).alias("term"),
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    total = freq.agg(F.sum("tc").cast("double").alias("total"))
    doc_loss = (
        toks.join(freq, "term")
        .crossJoin(broadcast(total))
        .groupBy(F.col(id_col), "domain")
        .agg(
            (
                F.round(-F.avg(F.log(F.col("tc").cast("double") / F.col("total"))), 6)
                + F.lit(0.0)
            ).alias("_loss")
        )
    )
    # ONE corpus-scale aggregation: per-domain (n_docs, sum of 6dp doc
    # losses); every scalar after this folds over the |domains|-row table
    dom = doc_loss.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_loss").alias("_sl"),
    )
    w_all = Window.partitionBy()  # bounded |domains| rows — safe fold
    return (
        dom.withColumn("domain_loss", F.round(F.col("_sl") / F.col("n_docs"), 6))
        .withColumn(
            "_ref",
            F.round(
                F.sum("_sl").over(w_all) / F.sum("n_docs").over(w_all), 6
            ),
        )
        .withColumn("excess", F.round(F.col("domain_loss") - F.col("_ref"), 6))
        .withColumn("_ew", F.round(F.exp("excess"), 9))
        .select(
            "domain",
            "n_docs",
            "domain_loss",
            "excess",
            F.round(F.col("_ew") / F.sum("_ew").over(w_all), 6).alias("weight"),
        )
    )


def min_k_prob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_df: DataFrame | None = None,
    k_pct: int = 20,
    scale: int = 10**9,
) -> DataFrame:
    """Min-K% Prob membership/contamination score (Shi et al. 2023,
    "Detecting Pretraining Data from Large Language Models",
    arXiv:2310.16789) — the decontamination-side detector beside
    ``ngram_contamination``: a text the reference distribution has
    SEEN has no surprisingly-unlikely spans, so the mean of its k%
    LOWEST token log-probabilities sits high; unseen text carries at
    least a few low-probability tokens that drag the tail mean down.
    The paper scores under the suspect LLM; this engine-side proxy
    scores under a Laplace-smoothed REFERENCE unigram LM (``ref_df``,
    default: the corpus itself — the ``kn_bigram_scores`` fit/score
    split applies when a held-out reference exists):

        p(t)      = (c_ref(t) + 1) / (N_ref + V_ref)      [Laplace]
        min_k(d)  = mean of the ceil(n_d·k/100) lowest ln p(t),
                    ties on token position (deterministic)

    Exactness discipline: each token's ln p quantizes ONCE to BIGINT
    ``scale`` units (half-up — the ``logreg_train`` convention, ulp
    absorbed), the per-doc tail selection is a rank window on
    (lp_fp, pos), and both report means are single 6dp divisions of
    exact integer sums — bit-identical on any layout, replayable in
    SQL verbatim.

    Scale shape: one explode + map-side join on the token key (the
    TF-IDF shuffle class), one rank window PARTITIONED BY document
    (never global), one partial-agg fold. The reference model is a
    (token, count) relation — corpus-sized state kept distributed,
    joined not collected; only N/V (two integers) ride the driver.

    Docs with no tokens keep a row with NULL scores (fail-as-data).
    Returns ``(<id>, n_tokens, n_lowest, min_k_logprob,
    mean_logprob)`` — low ``min_k_logprob`` = likely UNSEEN text;
    rank review candidates by ascending score."""
    if not 0 < int(k_pct) <= 100:
        raise ValueError(f"k_pct must be in (0, 100]: got {k_pct!r}")
    scale = int(scale)
    ref = ref_df if ref_df is not None else df

    def toks(frame, with_pos):
        arr = F.filter(
            words(text_col),
            lambda w: w != "",
        )
        if with_pos:
            return frame.select(
                F.col(id_col), F.posexplode(arr).alias("pos", "t")
            )
        return frame.select(F.explode(arr).alias("t"))

    rtoks = toks(ref, with_pos=False)
    freq = rtoks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    head = freq.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    n_ref, v_ref = int(head.n), int(head.v)
    if n_ref == 0:
        raise ValueError("min_k_prob: the reference corpus has no tokens")
    denom = n_ref + v_ref

    from pyspark.sql.window import Window

    scored = (
        toks(df, with_pos=True)
        .join(freq, "t", "left")
        .select(
            F.col(id_col),
            "pos",
            F.expr(
                f"cast(floor(ln((coalesce(c, 0) + 1) / {float(denom)!r}d)"
                f" * {scale} + 0.5d) as bigint)"
            ).alias("lp_fp"),
        )
    )
    w_rank = Window.partitionBy(id_col).orderBy(
        F.col("lp_fp").asc(), F.col("pos").asc()
    )
    w_doc = Window.partitionBy(id_col)
    ranked = scored.withColumn("_r", F.row_number().over(w_rank)).withColumn(
        "_n", F.count(F.lit(1)).over(w_doc)
    )
    k_rows = F.greatest(
        F.expr(f"cast(ceil(_n * {int(k_pct)} / 100.0) as bigint)"),
        F.lit(1).cast("long"),
    )
    agg = ranked.groupBy(id_col).agg(
        F.max("_n").cast("bigint").alias("n_tokens"),
        F.max(
            F.when(F.col("_r") <= k_rows, F.col("_r"))
        ).cast("bigint").alias("n_lowest"),
        F.sum(
            F.when(F.col("_r") <= k_rows, F.col("lp_fp"))
        ).alias("_tail_fp"),
        F.sum("lp_fp").alias("_all_fp"),
    )
    out = agg.select(
        F.col(id_col),
        "n_tokens",
        "n_lowest",
        F.round(
            F.col("_tail_fp") / (F.col("n_lowest") * F.lit(float(scale))), 6
        ).alias("min_k_logprob"),
        F.round(
            F.col("_all_fp") / (F.col("n_tokens") * F.lit(float(scale))), 6
        ).alias("mean_logprob"),
    )
    # fail-as-data: docs with zero tokens keep a NULL-scored row
    spine = df.select(F.col(id_col)).distinct()
    return spine.join(out, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        F.coalesce("n_lowest", F.lit(0).cast("bigint")).alias("n_lowest"),
        "min_k_logprob",
        "mean_logprob",
    )
