"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All single-projection Catalyst expressions."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame, pinned, truncate_lineage
from .text import grams, hex_prefix_int, words

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "los", "y", "en", "que"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
}


def _lang_argmax(hits: dict[str, Column]) -> Column:
    """Deterministic argmax over per-language hit counts: the greatest
    count wins, ties break toward the earlier language code, zero hits
    everywhere predicts 'und'. Shared by ``langid_scores`` and
    ``curation_funnel`` so the tie-break rule can never diverge."""
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    for lang in sorted(hits, reverse=True):  # earlier lang wins ties
        pred = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return pred


def quality_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality signals: length/uniqueness/stopword ratios and a
    composite score — the pre-training filter shape (length + lexical
    diversity + stopword density).

    Staged projections: tokenize once, then counters, then ratios, then
    the composite — each level reads *named* columns of the previous one
    so no expression tree is duplicated (cf. dedup.tokens_df)."""
    w = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        words(text_col).alias("_w"),
    )
    counts = w.select(
        F.col(id_col),
        "n_chars",
        F.size("_w").alias("n_tokens"),
        F.size(F.array_distinct("_w")).alias("n_uniq_tokens"),
        F.round(
            F.aggregate(
                F.col("_w"), F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
            )
            / F.size("_w").cast("double"),
            6,
        ).alias("avg_token_len"),
        F.size(
            F.filter(F.col("_w"), lambda t: t.isin(*STOPWORDS["en"]))
        ).alias("_en_hits"),
    )
    n = F.col("n_tokens")
    ratios = counts.select(
        F.col(id_col),
        "n_chars",
        "n_tokens",
        "n_uniq_tokens",
        "avg_token_len",
        F.round(F.col("n_uniq_tokens") / n.cast("double"), 6).alias("uniq_ratio"),
        F.round(F.col("_en_hits") / n.cast("double"), 6).alias("stopword_ratio"),
    )
    # composite: in-range length + diversity + some stopwords. Computed
    # in EXACT DECIMAL arithmetic over the already-6dp-rounded ratios and
    # only then cast to double: a double-rounded score can land exactly
    # on a half-boundary (e.g. 0.6739135) where engines' rounding
    # pipelines disagree in the 6th decimal — found at sf0.1, invisible
    # at sf0.01. Decimal arithmetic has no boundary to disagree on.
    uq, sw = _uq_feature(), _sw_feature()
    base = F.when(_len_in_band(n), F.lit(0.4)).otherwise(F.lit(0.0)).cast(
        "decimal(2,1)"
    )
    score = (
        base.cast("decimal(12,7)")
        + (uq * F.lit(0.3).cast("decimal(2,1)")).cast("decimal(12,7)")
        + (sw * F.lit(0.3).cast("decimal(2,1)")).cast("decimal(12,7)")
    )
    return ratios.select(
        F.col(id_col),
        "n_chars",
        "n_tokens",
        "n_uniq_tokens",
        "avg_token_len",
        "uniq_ratio",
        "stopword_ratio",
        score.cast("double").alias("quality_score"),
    )


def _uq_feature() -> Column:
    """uniq_ratio as exact decimal — shared by ``quality_stats`` and
    ``quality_classifier``; the cross-engine boundary discipline (see
    the composite comment in ``quality_stats``) holds only while both
    consumers use the byte-identical expression."""
    return F.col("uniq_ratio").cast("decimal(9,6)")


def _sw_feature() -> Column:
    """min(3 * stopword_ratio, 1) as exact decimal — shared, see
    ``_uq_feature``."""
    return F.least(
        (F.col("stopword_ratio").cast("decimal(9,6)") * F.lit(3)).cast(
            "decimal(12,6)"
        ),
        F.lit(1).cast("decimal(12,6)"),
    )


def _len_in_band(n: Column) -> Column:
    """The 10..10000-token length band — shared, see ``_uq_feature``."""
    return (n >= 10) & (n <= 10000)


def langid_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-hit language ID: count hits per language wordlist, predict
    the argmax (ties broken by language-code order, deterministically).

    Staged: tokenize once, count hits per language once, then the argmax
    reads the named hit columns (no tokenize duplication)."""
    w = df.select(
        F.col(id_col),
        words(text_col).alias("_w"),
    )
    hit_df = w.select(
        F.col(id_col),
        *[
            F.size(F.filter(F.col("_w"), lambda t: t.isin(*ws))).alias(f"{lang}_hits")
            for lang, ws in STOPWORDS.items()
        ],
    )
    pred = _lang_argmax({lang: F.col(f"{lang}_hits") for lang in STOPWORDS})
    return hit_df.select(
        F.col(id_col),
        *[F.col(f"{lang}_hits") for lang in STOPWORDS],
        pred.alias("predicted_lang"),
    )


def rolling_fingerprint(
    df: DataFrame, text_col: str, id_col: str, prefix_len: int = 64
) -> DataFrame:
    """Content-defined fingerprint: md5 of the normalized prefix plus a
    length bucket — cheap near-identity grouping for shard-level dedup."""
    norm = F.lower(F.trim(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.md5(F.substring(norm, 1, prefix_len)).alias("prefix_fp"),
        (F.floor(F.length(norm) / 64)).cast("long").alias("len_bucket"),
    )


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Intra-document n-gram repetition — the Gopher-style "repetitious
    text" quality filter (boilerplate, keyword stuffing, decode loops all
    score high). ``rep_ratio`` = 1 - distinct/total word n-grams; 0.0 for
    docs shorter than n tokens.

    Pure per-row array expressions (tokenize once, gram construction via
    transform over an index sequence) — zero shuffle, scales as a scan."""
    w = df.select(
        F.col(id_col),
        words(text_col).alias("_w"),
    )
    g = w.select(F.col(id_col), grams("_w", n).alias("_g"))
    return g.select(
        F.col(id_col),
        F.size("_g").alias("n_grams"),
        F.size(F.array_distinct("_g")).alias("n_uniq_grams"),
        F.when(
            F.size("_g") > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("_g")).cast("double")
                / F.size("_g").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )


def _funnel_gates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    group_col: str,
    min_tokens: int,
    min_uniq_ratio: float,
    max_rep_ratio: float,
) -> DataFrame:
    """Per-DOC gate bits behind ``curation_funnel`` — one tokenized
    projection of one scan yields every signal; returns
    (id, group, _short, _lowdiv, _rep_gate, _langmis) so funnels can
    aggregate directly or join further gates (the LM stage) first."""
    w = df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(lang_col).alias("_lang"),
        words(text_col).alias("_w"),
    )
    pred = _lang_argmax(
        {
            lang: F.size(F.filter(F.col("_w"), lambda t: t.isin(*ws)))
            for lang, ws in STOPWORDS.items()
        }
    )
    sig = w.select(
        F.col(id_col),
        F.col(group_col),
        F.size("_w").alias("_n"),
        (F.size(F.array_distinct("_w")) / F.size("_w").cast("double")).alias("_uniq"),
        F.when(
            F.size("_w") >= 3,
            F.lit(1.0)
            - F.size(F.array_distinct(grams("_w", 3))).cast("double")
            / (F.size("_w") - 2).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("_rep"),
        pred.alias("_pred"),
        F.col("_lang"),
    )
    # null-safe: a NULL declared lang is a MISMATCH (can't confirm it),
    # never a NULL that both skips n_lang_mismatch AND poisons the
    # n_pass sum — that would vanish the doc from the accounting
    return sig.select(
        F.col(id_col),
        F.col(group_col),
        (F.col("_n") < min_tokens).cast("int").alias("_short"),
        (F.col("_uniq") < min_uniq_ratio).cast("int").alias("_lowdiv"),
        (F.col("_rep") > max_rep_ratio).cast("int").alias("_rep_gate"),
        (~F.col("_pred").eqNullSafe(F.col("_lang"))).cast("int").alias(
            "_langmis"
        ),
    )


def curation_funnel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    group_col: str,
    min_tokens: int = 10,
    min_uniq_ratio: float = 0.5,
    max_rep_ratio: float = 0.1,
) -> DataFrame:
    """Per-group filter-funnel report — the C4/Gopher-style accounting a
    curation pipeline publishes before training: how many documents each
    quality gate rejects (too short, low lexical diversity, repetitious
    3-grams, language-ID mismatch) and how many survive every gate.

    Echoes the flagship tri-state violation design (gap_pipeline): ALL
    signals come from ONE tokenized projection of ONE scan — adding a
    rule adds a conditional-sum column, never a second pass. The rolled-
    up report is a partial-agg groupBy on the group key; rule counts are
    independent (a doc failing two gates counts in both) and ``n_pass``
    is the all-gates survivor count.
    """
    gates = _funnel_gates(
        df, text_col, id_col, lang_col, group_col,
        min_tokens, min_uniq_ratio, max_rep_ratio,
    )
    return gates.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_short").alias("n_too_short"),
        F.sum("_lowdiv").alias("n_low_diversity"),
        F.sum("_rep_gate").alias("n_repetitive"),
        F.sum("_langmis").alias("n_lang_mismatch"),
        F.sum(
            F.when(
                F.col("_short") + F.col("_lowdiv") + F.col("_rep_gate")
                + F.col("_langmis") == 0,
                1,
            ).otherwise(0)
        ).alias("n_pass"),
    )


def lm_gated_funnel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    group_col: str,
    ref_df: DataFrame,
    lam: float = 0.75,
    min_tokens: int = 10,
    min_uniq_ratio: float = 0.5,
    max_rep_ratio: float = 0.1,
) -> DataFrame:
    """``curation_funnel`` with the CCNet reference-model stage wired in
    (arXiv:1911.00359 §4.3): every doc additionally passes through
    ``filtering.lm_buckets`` — the JM bigram LM fitted on ``ref_df``,
    ranked into per-language thirds — and the per-language TAIL third is
    a fifth rejection gate (CCNet keeps head+middle). Unscoreable docs
    (< 2 tokens) land in the tail by the null-safe rule: a doc the
    model cannot certify never silently passes.

    The heuristic gates still come from the funnel's ONE tokenized
    pass; the LM stage joins its verdict on the doc id (the gram-key
    shuffles are intrinsic to LM scoring — CCNet runs it as its own
    stage for the same reason). Report adds ``n_lm_tail`` and folds the
    gate into ``n_pass``.
    """
    from .filtering import lm_buckets

    gates = _funnel_gates(
        df, text_col, id_col, lang_col, group_col,
        min_tokens, min_uniq_ratio, max_rep_ratio,
    )
    tails = lm_buckets(df, text_col, id_col, lang_col, ref_df, lam=lam).select(
        F.col(id_col),
        (F.col("bucket") == "tail").cast("int").alias("_lm_tail"),
    )
    return (
        gates.join(tails, [id_col])
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_short").alias("n_too_short"),
            F.sum("_lowdiv").alias("n_low_diversity"),
            F.sum("_rep_gate").alias("n_repetitive"),
            F.sum("_langmis").alias("n_lang_mismatch"),
            F.sum("_lm_tail").alias("n_lm_tail"),
            F.sum(
                F.when(
                    F.col("_short") + F.col("_lowdiv") + F.col("_rep_gate")
                    + F.col("_langmis") + F.col("_lm_tail") == 0,
                    1,
                ).otherwise(0)
            ).alias("n_pass"),
        )
    )


def normalize_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Normalization profile: whitespace-collapsed clean text length,
    alphanumeric character ratio, and leading/trailing-junk detection —
    the pre-tokenization cleanup pass. Regexes restricted to portable
    character classes so any regex engine (Java here, RE2 elsewhere)
    agrees. Pure projection — zero shuffle."""
    c = F.col(text_col)
    cleaned = F.trim(F.regexp_replace(c, r"\s+", " "))
    alnum = F.length(F.regexp_replace(c, r"[^0-9A-Za-z]", ""))
    return df.select(
        F.col(id_col),
        F.length(c).alias("raw_len"),
        F.length(cleaned).alias("clean_len"),
        F.when(
            F.length(c) > 0, F.round(alnum.cast("double") / F.length(c), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("alnum_ratio"),
        (F.length(c) != F.length(cleaned)).cast("int").alias("had_extra_ws"),
    )


def logreg_train(
    df: DataFrame,
    feature_cols: list,
    label_col: str,
    n_iter: int = 10,
    lr: float = 0.5,
    scale: int = 10**6,
    l2: float = 0.0,
) -> dict:
    """DETERMINISTIC distributed logistic-regression training — the
    missing half of ``quality_classifier`` (whose docstring defers to
    "trained coefficients from a model artifact"; this trains that
    artifact on-engine, the fastText-recipe wiki-vs-crawl classifier of
    CCNet / GPT-3 / RedPajama pipelines).

    Full-batch gradient descent with the engine's integer-sum
    discipline: each round broadcasts the weight vector as plan
    literals, computes every row's error-scaled feature contributions
    in one projection, QUANTIZES each contribution to BIGINT
    ``scale``-units (``floor(g·scale + 0.5)``), and integer-sums them —
    associative, so the trained weights are BIT-IDENTICAL under any
    partitioning/engine (a float gradient sum is merge-order-sensitive
    and cannot be replay-gated). The d+1 gradient sums collected per
    round are bounded MODEL STATE (the BPE per-round argmax class);
    weight updates happen in driver Python floats on those exact
    integers and are quantized half-up to 1e-9 units
    (``floor(w·1e9 + 0.5) / 1e9`` — pure IEEE ops, so the whole
    training loop unrolls into exact SQL) so the next round's
    literals are short and stable.

    One aggregation job per round over a skinny (label, features)
    projection — the corpus is scanned once per round with map-side
    partial sums and a (d+1)-value reduce; no shuffle of rows at all.
    Optional ``l2`` ridge term applies to non-intercept weights.

    Returns ``{"weights": [w0, w1, ...], "n_rows": n, "n_iter": k,
    "final_loss": L}`` — ``weights[0]`` is the intercept; feed to
    ``logreg_score`` (or ``quality_classifier``-style inference) as
    broadcast literals. Loss is the quantized-mean log-loss, for
    monitoring only.
    """
    import math

    if not feature_cols:
        raise ValueError("logreg_train needs at least one feature column")
    if not 0.0 < lr:
        raise ValueError(f"lr must be positive: got {lr!r}")
    scale = int(scale)

    proj = df.select(
        F.col(label_col).cast("double").alias("_y"),
        *[F.col(c).cast("double").alias(f"_x{j}") for j in range(len(feature_cols))
          for c in [feature_cols[j]]],
    )
    d = len(feature_cols)
    n_rows = proj.count()
    if n_rows == 0:
        raise ValueError("logreg_train got an empty relation")

    w = [0.0] * (d + 1)  # intercept first
    loss = None
    for _ in range(int(n_iter)):
        z = F.lit(w[0])
        for j in range(d):
            z = z + F.lit(w[j + 1]) * F.col(f"_x{j}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("_y")
        gq = [
            F.expr(f"cast(floor(_g{j} * {scale} + 0.5d) as bigint)")
            for j in range(d + 1)
        ]
        # per-row log-loss, quantized the same way so the monitor is as
        # deterministic as the weights
        ll = -(
            F.col("_y") * F.log(F.greatest(p, F.lit(1e-12)))
            + (F.lit(1.0) - F.col("_y"))
            * F.log(F.greatest(F.lit(1.0) - p, F.lit(1e-12)))
        )
        row = (
            proj.withColumn("_g0", err)
            .withColumns(
                {f"_g{j + 1}": err * F.col(f"_x{j}") for j in range(d)}
            )
            .withColumn("_ll", ll)
            .select(
                *[gq[j].alias(f"G{j}") for j in range(d + 1)],
                F.expr(f"cast(floor(_ll * {scale} + 0.5d) as bigint)").alias(
                    "LL"
                ),
            )
            .agg(
                *[F.sum(f"G{j}").alias(f"G{j}") for j in range(d + 1)],
                F.sum("LL").alias("LL"),
            )
            .collect()[0]  # d+2 BIGINTs: bounded model state per round
        )
        grads = [row[f"G{j}"] / (n_rows * scale) for j in range(d + 1)]
        loss = row["LL"] / (n_rows * scale)
        # weight quantization uses the engine's floor(x*s + 0.5) half-up
        # discipline (NOT Python round()): pure IEEE double ops, so the
        # update replays bit-for-bit in DuckDB/SQL — Python's round()
        # does correctly-rounded decimal rounding no SQL engine mirrors
        w = [
            math.floor(
                (w[j] - lr * (grads[j] + (l2 * w[j] if j > 0 else 0.0)))
                * 1e9
                + 0.5
            )
            / 1e9
            for j in range(d + 1)
        ]
    return {
        "weights": w,
        "n_rows": int(n_rows),
        "n_iter": int(n_iter),
        "final_loss": None if loss is None else round(float(loss), 6),
    }


def logreg_score(
    df: DataFrame,
    feature_cols: list,
    weights: list,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Score rows with a trained logistic model (``logreg_train``
    weights, intercept first) — the broadcast-literal inference pattern
    ``quality_classifier`` documents: zero shuffle, scales as the scan.
    Returns ``(id, logit, score, keep)`` with the 6dp-rounded sigmoid
    and the keep bit from the exact logit sign against ``threshold``'s
    logit (rounding can never flip it)."""
    import math

    if len(weights) != len(feature_cols) + 1:
        raise ValueError(
            f"weights must be intercept + one per feature: "
            f"{len(weights)} vs {len(feature_cols)} features"
        )
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): got {threshold!r}")
    z = F.lit(float(weights[0]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(weights[j + 1])) * F.col(c).cast("double")
    t_logit = math.log(threshold / (1.0 - threshold))
    return df.select(
        F.col(id_col),
        z.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        (z >= F.lit(t_logit)).cast("int").alias("keep"),
    )


def quality_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Model-based quality filtering as corpus-scale INFERENCE — the
    fastText-classifier pass of web-corpus pipelines (CCNet / GPT-3 /
    RedPajama all gate on a linear text classifier): a logistic model
    over the ``quality_stats`` feature vector, scored as a pure
    projection. The coefficients here are fixed interpretable stand-ins;
    a real deployment loads trained ones from a model artifact and
    broadcasts them into the plan exactly the same way (driver-held
    model state, the ``ivf_assign`` pattern) — inference cost and plan
    shape are identical.

    Determinism: the linear part accumulates in EXACT DECIMAL over the
    already-6dp-rounded features (the ``quality_stats`` composite's
    boundary discipline), the logistic squash is one double exp() on
    that exact value, rounded to 6dp; the keep label reads the SIGN of
    the exact logit (score >= 0.5 <=> z >= 0), which no rounding
    pipeline can flip.

    Zero shuffle — scales as the scan, which is the entire point of
    running the classifier before any join-heavy curation stage.
    """
    feats = quality_stats(df, text_col, id_col)
    uq, sw = _uq_feature(), _sw_feature()
    n = F.col("n_tokens")
    len_ok = (
        F.when(_len_in_band(n), F.lit(1)).otherwise(F.lit(0))
    ).cast("decimal(2,1)")
    # z = -2 + 2*uniq + 1.5*min(3*stopword, 1) + 1*len_ok, exact decimal
    z = (
        F.lit(-2).cast("decimal(12,7)")
        + (uq * F.lit(2).cast("decimal(2,1)")).cast("decimal(12,7)")
        + (sw * F.lit(1.5).cast("decimal(2,1)")).cast("decimal(12,7)")
        + (len_ok * F.lit(1).cast("decimal(2,1)")).cast("decimal(12,7)")
    )
    return feats.select(
        F.col(id_col),
        "n_tokens",
        "uniq_ratio",
        "stopword_ratio",
        z.cast("double").alias("logit"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-z.cast("double"))), 6
        ).alias("score"),
        (z >= 0).cast("int").alias("keep"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the cheap redundancy
    signal web-corpus filters use beside the heuristic rules
    (Gopher/Dolma-class pipelines drop documents whose bytes compress
    too well: keyword-stuffed, template, or looping text compresses
    far below prose). Pure function of the document bytes, so it runs
    on the sanctioned Arrow ``mapInPandas`` path (the ``rouge_l``
    class): batches stream through, no state, partitioning-invariant.

    ``ratio = compressed_bytes / raw_bytes`` of the UTF-8 encoding at
    the given zlib ``level`` — natural prose lands roughly 0.3–0.6,
    hard loops approach 0. The ratio is a HEURISTIC gate, not a
    hash-gated metric: zlib's exact output length is stable for a
    given zlib build but not contractually pinned across builds, so
    thresholds belong in config, not oracles (the byte counts are
    exact ints for whatever build runs). NULL text keeps a visible
    NULL-metric row. Returns ``(id, n_bytes, n_compressed, ratio)``
    (6dp; empty text → ratio NULL)."""
    import pandas as pd

    if not 1 <= int(level) <= 9:
        raise ValueError(f"level must be in [1, 9]: got {level!r}")
    lvl = int(level)
    proj = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(text_col).cast("string").alias("_t"),
    )

    def batches(it):
        import zlib

        for pdf in it:
            out = []
            for pid, t in zip(pdf["_id"], pdf["_t"]):
                if t is None or isinstance(t, float):
                    out.append((pid, None, None, None))
                    continue
                raw = str(t).encode("utf-8")
                if not raw:
                    out.append((pid, 0, None, None))
                    continue
                comp = len(zlib.compress(raw, lvl))
                out.append(
                    (pid, len(raw), comp, round(comp / len(raw), 6))
                )
            yield pd.DataFrame(
                out, columns=["_id", "n_bytes", "n_compressed", "ratio"]
            )

    return proj.mapInPandas(
        batches,
        "_id long, n_bytes long, n_compressed long, ratio double",
    ).withColumnRenamed("_id", id_col)


def vocab_richness(
    df: DataFrame,
    text_col: str,
    zipf_top_k: int = 1000,
    scale: int = 10**9,
) -> DataFrame:
    """Corpus vocabulary diagnostics in one report row — the numbers a
    corpus profile reads before trusting token statistics: total and
    distinct token counts, hapax/dis legomena, the Chao1 richness
    estimate ("how much vocabulary haven't we seen yet" — Chao 1984),
    and the Zipf rank-frequency slope over the top-k types (a healthy
    natural-language corpus sits near −1; template/boilerplate floods
    flatten it, a classic contamination tell).

        chao1 = V + f1²/(2·f2)          (f2 > 0)
              = V + f1·(f1 − 1)/2       (bias-corrected when f2 = 0)
        slope = (K·Σxy − Σx·Σy) / (K·Σx² − (Σx)²),
                x = ln(rank), y = ln(freq) over the top-K types

    Exactness: V/N/f1/f2 are integer aggregates of the term-frequency
    table (one explode + partial-agg groupBy — THE vocabulary collapse,
    shared shape with ``bpe.py``). The regression sums quantize each
    per-type ln-term to BIGINT ``scale``-units half-up (transcendental
    ulp absorbed, the ``logreg_train`` convention) and integer-sum;
    the final slope combines the four exact sums in unbounded driver
    ints (Σx·Σy overflows BIGINT at ~1e25 — Python ints are the
    arbitrary-precision cell here, DECIMAL(38,0) in a SQL replay), so
    the whole report is bit-stable under any partitioning. Top-k
    selection is TakeOrdered (freq desc, term asc — deterministic
    tie-break), never a global window over the vocabulary.

    Raises when the corpus yields fewer than 2 distinct types (slope
    undefined). Returns one row: ``(n_tokens, vocab_size, f1, f2,
    hapax_ratio, chao1, zipf_k, zipf_slope)``."""
    from pyspark.sql.window import Window

    if int(zipf_top_k) < 2:
        raise ValueError(f"zipf_top_k must be >= 2: got {zipf_top_k!r}")
    scale = int(scale)
    freq = (
        df.select(
            F.explode(words(text_col)).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    # two jobs read it: the totals fold and the top-k
    with pinned(freq) as freq:
        tot = freq.agg(
            F.sum("tc").alias("n"),
            F.count(F.lit(1)).alias("v"),
            F.sum((F.col("tc") == 1).cast("bigint")).alias("f1"),
            F.sum((F.col("tc") == 2).cast("bigint")).alias("f2"),
        ).collect()[0]
        v = int(tot.v or 0)
        if v < 2:
            raise ValueError(
                f"vocab_richness: corpus has {v} distinct types — the Zipf"
                " slope needs at least 2"
            )
        f1, f2 = int(tot.f1), int(tot.f2)
        chao1 = v + (f1 * f1 / (2.0 * f2) if f2 > 0 else f1 * (f1 - 1) / 2.0)

        top = freq.orderBy(F.col("tc").desc(), F.col("t").asc()).limit(
            int(zipf_top_k)
        )
        w = Window.orderBy(F.col("tc").desc(), F.col("t").asc())
        q = (
            top.withColumn("r", F.row_number().over(w))
            .select(
                F.expr(
                    f"cast(floor(ln(r) * {scale} + 0.5d) as bigint)"
                ).alias("qx"),
                F.expr(
                    f"cast(floor(ln(tc) * {scale} + 0.5d) as bigint)"
                ).alias("qy"),
                F.expr(
                    f"cast(floor(ln(r) * ln(tc) * {scale} + 0.5d) as bigint)"
                ).alias("qxy"),
                F.expr(
                    f"cast(floor(ln(r) * ln(r) * {scale} + 0.5d) as bigint)"
                ).alias("qx2"),
            )
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum("qx").alias("sx"),
                F.sum("qy").alias("sy"),
                F.sum("qxy").alias("sxy"),
                F.sum("qx2").alias("sx2"),
            )
            .collect()[0]
        )  # five integers: bounded model state
    kk = int(q.k)
    num = kk * int(q.sxy) * scale - int(q.sx) * int(q.sy)
    den = kk * int(q.sx2) * scale - int(q.sx) * int(q.sx)
    slope = round(num / den, 6) if den != 0 else None

    spark = df.sparkSession
    return local_frame(
        spark,
        [
            (
                int(tot.n),
                v,
                f1,
                f2,
                round(f1 / v, 6),
                round(chao1, 6),
                kk,
                slope,
            )
        ],
        "n_tokens bigint, vocab_size bigint, f1 bigint, f2 bigint,"
        " hapax_ratio double, chao1 double, zipf_k bigint,"
        " zipf_slope double",
    )


def hashed_ngram_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 2**18,
    use_bigrams: bool = True,
) -> DataFrame:
    """Hashed bag-of-n-grams features — the fastText input layer
    (Joulin et al. 2016, arXiv:1607.01759: word unigrams + bigrams
    hashed into a fixed bucket space), the feature shape the REAL
    CCNet/GPT-3 quality classifier trains on, where ``logreg_train``'s
    dense columns stop at a handful of engineered stats.

    One explode + partial-agg groupBy to the sparse triple table
    ``(id, feat, v)`` — v is the term frequency (exact BIGINT), feat a
    deterministic md5-prefix bucket (the ``text.hex_prefix_int``
    engine-independent idiom: 5 hex digits → 20 bits, reduced mod
    ``n_buckets``), so the features replay bit-for-bit in any engine.
    Collisions are fastText's own design: the bucket space, not the
    vocabulary, bounds the model."""
    if not 1 <= int(n_buckets) <= 2**20:
        raise ValueError(
            f"n_buckets must be in [1, 2^20] (the 5-hex-digit hash"
            f" bound): got {n_buckets!r}"
        )
    toks = df.select(
        F.col(id_col).alias("id"),
        words(text_col).alias("_w"),
    )
    feats = toks.select(
        "id", F.explode("_w").alias("g")
    ).filter(F.col("g") != "")
    if use_bigrams:
        # a bigram with an empty token ("" from a tab-led or empty
        # document) has a leading or trailing space and is dropped, the
        # unigram side's != "" rule
        bi = toks.select("id", F.explode(grams("_w", 2)).alias("g")).filter(
            ~F.col("g").rlike(r"(^ )|( $)|(^$)")
        )
        feats = feats.unionByName(bi)
    v = hex_prefix_int(F.md5(F.col("g")), 5)
    return (
        feats.select("id", F.pmod(v, F.lit(int(n_buckets))).alias("feat"))
        .groupBy("id", "feat")
        .agg(F.count(F.lit(1)).alias("v"))
    )


def sparse_logreg_train(
    feats: DataFrame,
    labels: DataFrame,
    n_iter: int = 6,
    lr: float = 0.5,
    scale: int = 10**6,
    l2: float = 0.0,
    checkpoint_every: int = 1,
) -> dict:
    """Distributed SPARSE logistic regression over ``(id, feat, v)``
    triples — the trainer for ``hashed_ngram_features``'s bucket space,
    where ``logreg_train``'s driver-side weight list stops: here the
    weight VECTOR lives in a DATAFRAME keyed by feature (the
    ``rasch_fit`` principle — parameters are corpus-sized state, never
    driver lists; 2^20 hashed buckets, or a raw vocabulary, both fit
    the same plan).

    Determinism discipline (the engine's quantized-loop conventions):
    weights are BIGINT ``scale``-units; the per-id margin is the EXACT
    integer ``b_fp + Σ w_fp·v`` (no float accumulates anywhere — v is
    an integer count); the single transcendental (sigmoid) runs once
    per id on that exact operand and the error quantizes ONCE
    (``floor((p−y)·scale + 0.5)``); per-feature gradients are then the
    associative integer sums ``Σ q·v``. Updates replay the
    ``logreg_train`` half-up rule feature-by-feature, so the whole
    loop unrolls into SQL and is bit-stable under any partitioning.

    Scale shape, per round: one feats ⋈ weights join on ``feat`` +
    groupBy ``id`` (the margin pass), one err ⋈ feats join on ``id`` +
    groupBy ``feat`` (the gradient pass) — two shuffles of the triple
    table per round, the sparse-LR bound (the PageRank per-round
    analogue; AQE broadcasts the weight side whenever the bucket space
    is small). Label-only rows (no features) still drive the intercept
    gradient — they are real training examples for the bias. Weights
    start at 0, so only OBSERVED features ever hold a row (absent
    features have identically-zero gradients).

    ``labels`` must be (id, y) binary and cover every id in ``feats``;
    NULL/non-binary labels or orphan feature ids raise loudly. Returns
    ``{"weights": DataFrame(feat, w_fp), "intercept_fp": int,
    "n_rows": n, "n_iter": k, "scale": scale}`` — feed to
    ``sparse_logreg_score``."""
    import math

    if int(n_iter) < 1:
        raise ValueError(f"n_iter must be >= 1: got {n_iter!r}")
    if not 0.0 < lr:
        raise ValueError(f"lr must be positive: got {lr!r}")
    scale = int(scale)

    lab = labels.select(
        F.col(labels.columns[0]).alias("id"),
        F.col(labels.columns[1]).cast("int").alias("y"),
    )
    bad = lab.agg(
        F.sum(
            (F.col("y").isNull() | ~F.col("y").isin(0, 1)).cast("bigint")
        ).alias("nb")
    ).collect()[0]
    if int(bad.nb or 0) > 0:
        raise ValueError(
            f"sparse_logreg_train: {bad.nb} labels are NULL or outside"
            " {0, 1} — clean the label relation first"
        )
    f3 = feats.select(
        F.col(feats.columns[0]).alias("id"),
        F.col(feats.columns[1]).cast("bigint").alias("feat"),
        F.col(feats.columns[2]).cast("bigint").alias("v"),
    )
    # loop-invariant: both passes of every round read it
    with pinned(f3) as f3:
        orphans = f3.join(lab, "id", "left_anti").count()
        if orphans > 0:
            raise ValueError(
                f"sparse_logreg_train: {orphans} feature rows have ids with"
                " no label — every training id needs a label"
            )
        n_rows = lab.count()
        if n_rows == 0:
            raise ValueError("sparse_logreg_train got an empty label relation")

        weights = f3.select("feat").distinct().select(
            "feat", F.lit(0).cast("long").alias("w_fp")
        )
        b_fp = 0
        lr_c, l2_c = float(lr), float(l2)
        for rnd in range(int(n_iter)):
            # margin pass: exact integer z_fp per id (label-only rows get 0)
            z = (
                f3.join(weights, "feat")
                .groupBy("id")
                .agg(F.sum(F.col("w_fp") * F.col("v")).alias("z_fp"))
            )
            err = (
                lab.join(z, "id", "left")
                .select(
                    "id",
                    F.expr(
                        f"cast(floor((1.0d / (1.0d + exp(-(({b_fp}"
                        f" + coalesce(z_fp, 0)) / {scale}.0d))) - y)"
                        f" * {scale} + 0.5d) as bigint)"
                    ).alias("q"),
                )
            )
            # gradient pass: associative integer sums per feature + bias
            g = (
                f3.join(err, "id")
                .groupBy("feat")
                .agg(F.sum(F.col("q") * F.col("v")).alias("G"))
            )
            g0 = int(err.agg(F.sum("q")).collect()[0][0] or 0)
            new_w = (
                weights.join(g, "feat", "left")
                .select(
                    "feat",
                    F.expr(
                        f"cast(floor((w_fp / {scale}.0d - {lr_c!r}d *"
                        f" (coalesce(G, 0) / ({n_rows} * cast({scale} as"
                        f" bigint)) + {l2_c!r}d * (w_fp / {scale}.0d)))"
                        f" * {scale} + 0.5d) as bigint)"
                    ).alias("w_fp"),
                )
            )
            weights = truncate_lineage(new_w, rnd, n_iter, checkpoint_every)
            b_fp = math.floor(
                (b_fp / scale - lr_c * (g0 / (n_rows * scale))) * scale + 0.5
            )
    return {
        "weights": weights,
        "intercept_fp": int(b_fp),
        "n_rows": int(n_rows),
        "n_iter": int(n_iter),
        "scale": scale,
    }


def sparse_logreg_score(
    feats: DataFrame,
    model: dict,
    threshold: float = 0.5,
) -> DataFrame:
    """Score ids with a ``sparse_logreg_train`` model: one feats ⋈
    weights join + groupBy id — the margin is the same exact integer
    ``b_fp + Σ w_fp·v``, so scores replay bit-for-bit. Ids appear once
    each; ids with no surviving features score at the intercept (they
    can only enter through the feats relation, so pass label-only ids
    with a zero-feature row if they must be scored). Returns ``(id,
    logit, score, keep)`` — the ``logreg_score`` shape."""
    import math

    scale = int(model["scale"])
    b_fp = int(model["intercept_fp"])
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): got {threshold!r}")
    f3 = feats.select(
        F.col(feats.columns[0]).alias("id"),
        F.col(feats.columns[1]).cast("bigint").alias("feat"),
        F.col(feats.columns[2]).cast("bigint").alias("v"),
    )
    z = (
        f3.join(model["weights"], "feat")
        .groupBy("id")
        .agg(
            (
                F.sum(F.col("w_fp") * F.col("v")) + F.lit(b_fp)
            ).alias("z_fp")
        )
    )
    t_logit = math.log(threshold / (1.0 - threshold))
    logit = F.col("z_fp") / F.lit(float(scale))
    return z.select(
        "id",
        logit.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
        (logit >= F.lit(t_logit)).cast("int").alias("keep"),
    )


# Rae et al. 2021 (Gopher), Appendix A1.1: the 8 "stop words" whose
# presence (>= 2 distinct) the quality filter requires.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_pct: int = 10,
    max_bullet_pct: int = 90,
    max_ellipsis_pct: int = 30,
    min_alpha_word_pct: int = 80,
    min_stop_kinds: int = 2,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, Appendix
    A1.1 — the canonical heuristic battery MassiveWeb was cleaned
    with; Dolma/RefinedWeb reuse it near-verbatim): per document,
    every counter the rules read plus one boolean per rule plus the
    conjunction ``keep``. Fail-as-data (the ``curation_funnel``
    convention): rejected documents keep their row with the guilty
    rule visible, nothing silently vanishes — a NULL/empty text scores
    zero words and fails closed.

    All-integer exactness: every rule is a BIGINT cross-multiplication
    (``100·n_symbols ≤ pct·n_words``), never a float ratio, so the
    report is bit-identical under any partitioning and replays in
    DuckDB with the same expressions. Map-only: one split per doc, no
    shuffle, scales as the scan.

    Rules (paper defaults): word count in [50, 100k]; mean word length
    in [3, 10]; symbol-to-word ratio ('#' chars + '…'/'...' marks)
    ≤ 10%; ≤ 90% of lines start with a bullet; ≤ 30% of lines end with
    an ellipsis; ≥ 80% of words contain an alphabetic character; ≥ 2
    distinct Gopher stop words present.

    ENGLISH/ASCII ASSUMPTION (faithful to the paper — Gopher's battery
    was designed for English MassiveWeb): "alphabetic" means
    ``[a-z]`` on lowercased text and the stop-word set is the English
    one, so non-Latin-script documents fail ``r_alpha_words`` and
    ``r_stop_kinds`` WHOLESALE. Run it per-language after language ID
    (the CCNet order), and for multilingual corpora swap in a Unicode
    letter class + per-language stop lists before trusting ``keep``."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.filter(words(t), lambda w: w != "")
    lines = F.filter(
        F.split(t, "\n"), lambda ln: F.trim(ln) != ""
    )
    base = df.select(
        F.col(id_col),
        F.size(ws).cast("bigint").alias("n_words"),
        F.aggregate(
            ws, F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.length(w).cast("bigint"),
        ).alias("n_word_chars"),
        F.size(lines).cast("bigint").alias("n_lines"),
        (
            (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))))
            + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
            + F.floor(
                (
                    F.length(t)
                    - F.length(F.replace(t, F.lit("..."), F.lit("")))
                )
                / F.lit(3)
            )
        ).cast("bigint").alias("n_symbols"),
        F.size(
            F.filter(
                lines,
                lambda ln: F.substring(F.ltrim(ln), 1, 1).isin(
                    "•", "-", "*"
                ),
            )
        ).cast("bigint").alias("n_bullet_lines"),
        F.size(
            F.filter(
                lines,
                lambda ln: F.rtrim(ln).endswith("...")
                | F.rtrim(ln).endswith("…"),
            )
        ).cast("bigint").alias("n_ellipsis_lines"),
        F.size(
            F.filter(ws, lambda w: w.rlike("[a-z]"))
        ).cast("bigint").alias("n_alpha_words"),
        F.size(
            F.array_intersect(
                F.array_distinct(ws),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ).cast("bigint").alias("n_stop_kinds"),
    )
    nw, nl = F.col("n_words"), F.col("n_lines")
    rules = base.select(
        "*",
        (
            (nw >= F.lit(int(min_words))) & (nw <= F.lit(int(max_words)))
        ).alias("r_word_count"),
        (
            (F.col("n_word_chars") >= F.lit(int(min_mean_word_len)) * nw)
            & (F.col("n_word_chars") <= F.lit(int(max_mean_word_len)) * nw)
            & (nw > 0)
        ).alias("r_mean_word_len"),
        (
            F.lit(100) * F.col("n_symbols") <= F.lit(int(max_symbol_pct)) * nw
        ).alias("r_symbol_ratio"),
        (
            F.lit(100) * F.col("n_bullet_lines")
            <= F.lit(int(max_bullet_pct)) * nl
        ).alias("r_bullet_lines"),
        (
            F.lit(100) * F.col("n_ellipsis_lines")
            <= F.lit(int(max_ellipsis_pct)) * nl
        ).alias("r_ellipsis_lines"),
        (
            F.lit(100) * F.col("n_alpha_words")
            >= F.lit(int(min_alpha_word_pct)) * nw
        ).alias("r_alpha_words"),
        (F.col("n_stop_kinds") >= F.lit(int(min_stop_kinds))).alias(
            "r_stop_words"
        ),
    )
    keep = (
        F.col("r_word_count")
        & F.col("r_mean_word_len")
        & F.col("r_symbol_ratio")
        & F.col("r_bullet_lines")
        & F.col("r_ellipsis_lines")
        & F.col("r_alpha_words")
        & F.col("r_stop_words")
    )
    return rules.select("*", keep.alias("keep"))


def c4_line_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The C4 cleaning recipe (Raffel et al. 2020 §2.2 — the filter
    that built the T5 corpus) as one map-only operator: keep only
    lines that end in terminal punctuation (. ! ? ") AND carry at
    least ``min_line_words`` words AND don't mention "javascript";
    drop the whole page when it contains "lorem ipsum" or a curly
    brace, or keeps fewer than ``min_sentences`` sentences —
    approximated as the COUNT of sentence-punctuation characters
    (. ! ?) in the kept text, the standard cheap proxy (an abbreviation
    dot counts; real sentence segmentation is a model, not a filter).

    Fail-as-data: every document keeps its row — ``keep`` false plus
    the kept/dropped line counts and page flags say exactly why, the
    ``gopher_rules`` accounting. ``clean_text`` is the newline-joined
    kept lines (empty when keep is false by page flag — the audit can
    still read the line numbers). Exact integer counts; one split per
    doc, no shuffle; replays in DuckDB with the same list expressions."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n")
    is_kept = (
        lambda ln: (
            F.rtrim(ln).rlike('[.!?"]$')
            & (
                F.size(
                    F.filter(
                        F.split(F.trim(ln), r"\s+"), lambda w: w != ""
                    )
                )
                >= F.lit(int(min_line_words))
            )
            & ~F.lower(ln).contains("javascript")
        )
    )
    kept = F.filter(lines, is_kept)
    ktxt = F.array_join(kept, "\n")
    n_sentences = (
        F.length(F.regexp_replace(ktxt, r"[^.!?]", ""))
    ).cast("bigint")
    base = df.select(
        F.col(id_col),
        F.size(F.filter(lines, lambda ln: F.trim(ln) != ""))
        .cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        F.lower(t).contains("lorem ipsum").alias("has_lorem_ipsum"),
        t.contains("{").alias("has_brace"),
        ktxt.alias("_clean"),
    )
    keep = (
        ~F.col("has_lorem_ipsum")
        & ~F.col("has_brace")
        & (F.col("n_sentences") >= F.lit(int(min_sentences)))
        & (F.col("n_kept_lines") > 0)
    )
    return base.select(
        F.col(id_col),
        "n_lines",
        "n_kept_lines",
        (F.col("n_lines") - F.col("n_kept_lines")).alias("n_dropped_lines"),
        "n_sentences",
        "has_lorem_ipsum",
        "has_brace",
        keep.alias("keep"),
        F.when(keep, F.col("_clean")).otherwise(F.lit("")).alias(
            "clean_text"
        ),
    )
