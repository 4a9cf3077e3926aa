"""BPE tokenizer-merge training (Sennrich et al. 2016, arXiv:1508.07909)
— tokenizer induction as a corpus operator.

Scale shape: BPE trains on the WORD-FREQUENCY table, not the corpus —
one groupBy(word) collapses 100 TB of text to a vocabulary-sized
relation, and every merge round runs over that small table (the classic
algorithm's word-dict representation, distributed). Each round is ONE
pair-count shuffle + a 1-row argmax of driver model state (the chosen
pair), then a lazy per-word string rewrite; ``truncate_lineage`` cuts
the per-round word table so round k does not recompute rounds 1..k-1
(the Lloyd-fit persistence discipline, llmops/similarity.py).

Symbol representation: a word's symbols are space-joined with sentinel
spaces (``' h e l l o '``). Applying merge (a, b) is three PLAIN string
replaces: double every space, replace ``' a  b '`` with ``' ab '``,
collapse doubles — the doubling gives every occurrence its own bounding
spaces (a naive single-space replace misses back-to-back occurrences
because adjacent matches SHARE a space), and position-scanning replace
then yields exactly the standard left-to-right non-overlapping merge
(property-checked against a reference implementation in tests). Plain
``replace()`` exists identically in every engine — no regex, no
lookbehind — so the DuckDB oracle uses the same three replaces.

Determinism: the argmax pair breaks frequency ties lexicographically
(left ASC, right ASC), so the merge sequence is reproducible and
cross-engine exact — integer frequencies only, no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import truncate_lineage
from .text import windows, words


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """(symbols, freq): the word-frequency dict with each word exploded
    to sentinel-spaced characters. One corpus shuffle, ever."""
    toks = df.select(F.explode(words(text_col)).alias("w")).filter(
        F.col("w") != ""
    )
    wf = toks.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, 1),
    )
    return wf.select(
        F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("syms"),
        "freq",
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, freq): adjacent-symbol pair frequencies, weighted by
    word frequency. Pairs are built as array expressions in the row and
    exploded once; one groupBy shuffle on the pair."""
    toks = F.split(F.trim(F.col("syms")), " ")
    pairs = windows(toks, 2, lambda a, b: F.struct(a.alias("l"), b.alias("r")))
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("freq"))
    )


def _apply_merge(col, left: str, right: str):
    """The three-replace merge rewrite (see module docstring)."""
    doubled = F.replace(col, F.lit(" "), F.lit("  "))
    merged = F.replace(
        doubled, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
    )
    return F.replace(merged, F.lit("  "), F.lit(" "))


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 8
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges over the corpus; returns the ordered
    merge list ``[(left, right, pair_freq), ...]`` — the tokenizer
    artifact a training pipeline ships. Iterative: each round's argmax
    pair is bounded driver model state feeding the next round's rewrite
    (the kmeans/connected-components carve-out class)."""
    words = truncate_lineage(_word_symbols(df, text_col))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.col("freq").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, freq = top[0]["left"], top[0]["right"], int(top[0]["freq"])
        merges.append((left, right, freq))
        words = truncate_lineage(
            words.select(
                _apply_merge(F.col("syms"), left, right).alias("syms"), "freq"
            )
        )
    return merges


def bpe_segment_report(
    df: DataFrame, text_col: str, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Apply a learned merge list and report the resulting subword
    vocabulary: for every token, ``n_occurrences`` (appearances across
    distinct word types) and ``total_freq`` (corpus-weighted
    appearances) — the vocab audit run after training. Map-only over the
    word-frequency table (the merges chain as nested string replaces;
    Catalyst folds the constants)."""
    words = _word_symbols(df, text_col)
    syms = F.col("syms")
    for left, right, _ in merges:
        syms = _apply_merge(syms, left, right)
    segmented = words.select(syms.alias("syms"), "freq")
    return (
        segmented.select(
            F.explode(F.split(F.trim(F.col("syms")), " ")).alias("token"), "freq"
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sum("freq").alias("total_freq"),
        )
    )


def _viterbi_pieces(word: str, logp: dict, max_len: int) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs ``logp`` —
    classic Viterbi over character positions. Deterministic: candidates
    scan j descending (longest piece first) with strict improvement, so
    equal-cost splits resolve to the longest-piece path; single
    characters are guaranteed in-vocab by the trainer, so every
    TRAINING word segments. A word containing out-of-vocab characters
    (scoring a corpus the vocab never saw) is UNSEGMENTABLE — returns
    ``[]`` so callers must handle OOV explicitly instead of receiving a
    pseudo-piece the tokenizer could never produce. Pure function of
    (word, vocab) — partitioning-invariant by construction."""
    n = len(word)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                continue
            cand = best[j] + lp
            if cand > best[i]:
                best[i] = cand
                back[i] = j
    if best[n] == float("-inf"):
        return []  # OOV character somewhere: no segmentation exists
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(w, freq): the plain word-frequency dict (one corpus shuffle)."""
    return (
        df.select(F.explode(words(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 64,
    n_iter: int = 2,
    max_piece_len: int = 6,
    seed_size: int = 512,
    scale: int = 10**6,
) -> list[tuple[str, int, int]]:
    """SentencePiece-style UNIGRAM-LM tokenizer training (Kudo 2018,
    arXiv:1804.10959) — the other standard subword inducer next to
    ``bpe_train`` (T5/mT5-family tokenizers), as hard-EM:

    1. SEED: every substring of every word type up to ``max_piece_len``,
       corpus-weighted; keep the ``seed_size`` heaviest plus ALL single
       characters (so every word always segments).
    2. E-step: Viterbi-segment each word type under the current piece
       probabilities; count pieces along the best paths, weighted by
       word frequency — exact BIGINT sums.
    3. M-step + PRUNE: requantize probabilities by integer division
       (``count·scale div total``) and keep the ``vocab_size`` heaviest
       pieces (ties piece-ascending), again protecting single chars.

    Scale shape (the ``bpe_train`` discipline): everything trains on the
    WORD-FREQUENCY dict — one corpus shuffle collapses 100 TB of text to
    a vocabulary-sized relation. Seeding is one substring-explode over
    that dict (≤ len·max_piece_len candidates per word type); each
    E-step is Arrow-batched ``mapInPandas`` over the dict with the
    BOUNDED vocab in closure (the multimodal pattern — per-word Viterbi
    is a pure Python function of (word, vocab), partitioning-invariant)
    followed by one piece-count shuffle; the per-round vocab collect is
    bounded MODEL STATE (the Lloyd-codebook class). Determinism: integer
    counts, integer-quantized probabilities, longest-piece-first Viterbi
    tie-break — the returned artifact is bit-identical on any layout.

    Returns the trained vocab as ``[(piece, count, prob_fp), ...]``
    sorted (count desc, piece asc) — ``prob_fp`` in ``scale`` units;
    feed to ``unigram_segment_report`` / ``_viterbi_pieces``.
    """
    import math

    import pandas as pd

    scale = int(scale)
    wf = truncate_lineage(_word_freqs(df, text_col))
    # (vocab_size is validated against the observed character count
    # below, once chars are known)

    # ---- seed: weighted substring counts over the word dict ----------
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.transform(
                F.sequence(
                    i,
                    F.least(
                        i + F.lit(int(max_piece_len) - 1), F.length("w")
                    ),
                ),
                lambda j: F.substring(F.col("w"), i, j - i + F.lit(1)),
            ),
        )
    )
    seed_counts = (
        wf.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    chars = {
        r["piece"]: int(r["cnt"])
        for r in seed_counts.filter(F.length("piece") == 1).collect()
    }
    multi = {
        r["piece"]: int(r["cnt"])
        for r in seed_counts.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(int(seed_size))
        .collect()
    }
    if int(vocab_size) <= len(chars):
        # a zero multi-piece budget can leave EVERY retained count 0
        # when all best paths run through multi-pieces (then pruned) —
        # the probability quantization would divide by zero. Fail loud.
        raise ValueError(
            f"vocab_size={vocab_size} must exceed the observed "
            f"character count ({len(chars)}) — single chars are always "
            "retained, so smaller budgets leave no room for pieces"
        )
    vocab = dict(chars)
    vocab.update(multi)

    def _probs(counts: dict) -> dict:
        total = sum(counts.values())
        if total <= 0:
            raise ValueError(
                "unigram_lm_train: every retained piece has count 0 "
                "(degenerate corpus) — cannot quantize probabilities"
            )
        return {
            p: math.log(max((c * scale) // total, 1) / scale)
            for p, c in counts.items()
        }

    spark = df.sparkSession
    for _ in range(int(n_iter)):
        logp = _probs(vocab)
        mlen = max(len(p) for p in logp)

        def _segment(batches, _logp=logp, _mlen=mlen):
            for pdf in batches:
                rows = []
                for w, f in zip(pdf["w"], pdf["freq"]):
                    for piece in _viterbi_pieces(str(w), _logp, _mlen):
                        rows.append((piece, int(f)))
                yield pd.DataFrame(rows, columns=["piece", "cnt"])

        counts_df = (
            wf.mapInPandas(_segment, "piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
        )
        counts = {
            r["piece"]: int(r["cnt"]) for r in counts_df.collect()
        }  # bounded: <= |vocab| rows
        # prune: heaviest vocab_size pieces, single chars protected
        multi_sorted = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        keep_multi = multi_sorted[: max(int(vocab_size) - len(chars), 0)]
        # chars carry their E-STEP counts (0 when no best path uses
        # them — the floor-1 prob quantization keeps them segmentable);
        # seed counts never leak past round 1
        vocab = {p: counts.get(p, 0) for p in chars}
        vocab.update(dict(keep_multi))

    total = sum(vocab.values())
    if total <= 0:
        raise ValueError(
            "unigram_lm_train: every retained piece has count 0 "
            "(degenerate corpus) — cannot quantize probabilities"
        )
    return sorted(
        (
            (p, c, max((c * scale) // total, 1))
            for p, c in vocab.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )


def unigram_segment_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pieces: list,
    scale: int = 10**6,
) -> DataFrame:
    """Per-document token accounting under a trained unigram-LM vocab
    (``unigram_lm_train`` artifact): Viterbi-segment each DISTINCT word
    once (Arrow ``mapInPandas`` over the word dict — never the corpus),
    then join the per-word piece counts back onto the documents' word
    explode. Returns ``(id, n_words, n_chars_tok, n_pieces,
    pieces_per_word)`` — the compression audit a tokenizer change ships
    with (6dp ratio)."""
    import math

    import pandas as pd

    logp = {
        p: math.log(max(int(fp), 1) / int(scale)) for p, _, fp in pieces
    }
    mlen = max(len(p) for p in logp)

    doc_words = df.select(
        F.col(id_col),
        F.explode(words(text_col)).alias("w"),
    ).filter(F.col("w") != "")
    dict_words = doc_words.select("w").distinct()

    def _seg_len(batches, _logp=logp, _mlen=mlen):
        for pdf in batches:
            out = []
            for w in pdf["w"]:
                out.append((w, len(_viterbi_pieces(str(w), _logp, _mlen))))
            yield pd.DataFrame(out, columns=["w", "n_pieces_w"])

    seg = dict_words.mapInPandas(_seg_len, "w string, n_pieces_w int")
    return (
        doc_words.join(seg, "w")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars_tok"),
            F.sum("n_pieces_w").cast("bigint").alias("n_pieces"),
            F.round(
                F.sum("n_pieces_w") / F.count(F.lit(1)), 6
            ).alias("pieces_per_word"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list,
    max_merges: int = 256,
) -> DataFrame:
    """Per-document token counts under a TRAINED merge list — the
    encode half that closes the ``bpe_train`` loop: real tokenizer
    budgets for packing/shard balancing/mixture math, where the
    whitespace count (``quality_stats.n_tokens``) is only a proxy.

    Scale shape — tokenize the VOCABULARY, not the corpus: the merge
    chain (each merge = the module's three engine-portable string
    replaces; Catalyst folds the constants) applies map-only over the
    DISTINCT-WORD table, yielding a bounded ``word → n_pieces`` map;
    the corpus then pays one explode + one join against that map (AQE
    broadcasts it when small) + one partial-agg groupBy. A 100 TB
    corpus is never string-rewritten — only its vocabulary is, once
    per release. Plan size grows with ``len(merges)`` (3 replaces
    each), so lists beyond ``max_merges`` raise rather than compile a
    pathological expression tree.

    Returns ``(id, n_words, n_tokens)`` with ONE ROW PER INPUT id —
    a NULL/whitespace-only document counts ``(0, 0)`` instead of
    vanishing (the repo's "a document never silently vanishes"
    accounting rule: packing/shard consumers join on id and must see
    every document). ``n_tokens`` is the exact BPE piece count, ≤
    characters and monotonically non-increasing in the merge list
    (pinned). Deterministic; replays in DuckDB with the identical
    replace chain."""
    if len(merges) > int(max_merges):
        raise ValueError(
            f"bpe_token_counts: {len(merges)} merges exceed max_merges="
            f"{max_merges} — a longer chain belongs in a pre-materialized"
            " word→pieces map table"
        )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(words(text_col)).alias("w"),
    ).filter(F.col("w") != "")
    vocab = toks.select("w").distinct()
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, 1),
    )
    syms = F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" "))
    for m in merges:
        left, right = m[0], m[1]
        syms = _apply_merge(syms, left, right)
    pieces = vocab.select(
        "w", F.size(F.split(F.trim(syms), " ")).alias("n_pieces")
    )
    counted = (
        toks.join(pieces, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_tokens"),
        )
    )
    # left-join back onto the full id set: empty documents get exact
    # (0, 0) rows — the explode+filter above dropped them from `toks`
    # (distinct: the pre-fix groupBy already collapsed duplicate ids)
    return df.select(F.col(id_col).alias("id")).distinct().join(
        counted, "id", "left"
    ).select(
        "id",
        F.coalesce(F.col("n_words"), F.lit(0)).cast("bigint").alias(
            "n_words"
        ),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias(
            "n_tokens"
        ),
    )
