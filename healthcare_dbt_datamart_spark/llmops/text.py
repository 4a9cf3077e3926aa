"""The one text core: the repo tokenizer and the word n-gram window.

Every operator that reads words starts from ``words``: split
``lower(trim(text))`` on ``\\s+``. That covers dedup, decontamination,
the LM quality scorers, the repetition and funnel gates, BLEU and
distinct-n, packing, BPE, sketches, BM25 and the data card. Every
documents oracle spells the same rule in DuckDB as
``string_split_regex(lower(trim(text)), '\\s+')``. ``trim`` strips
spaces only, so a tab-led document keeps a leading ``""`` token and an
empty document is the one-token array ``[""]``. Callers that drop empty
tokens (BPE, Gopher, the data card) filter them at their own call site.

``windows`` builds a document's word n-grams: the windows at positions
1..size−n+1, and an empty array when the document has fewer than n
words. The guard is not optional: ``sequence(1, k)`` counts DOWN when
k < 1, and ``element_at`` at index 0 raises. ``grams`` is the
space-joined string form. Other short-document rules stay at their call
site, e.g. dedup's "a document shorter than n is one shingle of all its
words".

chrF's character n-grams (``evaluation._chrf_gram_counts``) are
substrings of a whitespace-stripped string, not word windows, and keep
their own builder.

``hex_prefix_int`` is the one engine-independent md5-prefix decoder
(hash buckets, split shards, hashed features, Bloom bits): ``instr``
over ``HEX`` rather than ``conv``/``from_hex``, which DuckDB and Spark
spell differently.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def words(text: Column | str) -> Column:
    """The repo tokenizer: ``split(lower(trim(text)), '\\s+')``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(c)), r"\s+")


def windows(
    w: Column | str, n: int, item: Callable[..., Column]
) -> Column:
    """The n-word windows of the word array ``w``, one per position
    i = 1..size−n+1, each ``item(w[i], …, w[i+n−1])``; an empty array
    when ``w`` has fewer than n words (or is NULL)."""
    w = F.col(w) if isinstance(w, str) else w
    mk = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: item(*[F.element_at(w, i + k) for k in range(n)]),
    )
    # the untyped empty array widens to the window type
    return F.when(F.size(w) >= n, mk).otherwise(F.array())


def grams(w: Column | str, n: int) -> Column:
    """``windows`` as space-joined strings."""
    return windows(w, n, lambda *ws: F.concat_ws(" ", *ws))


def hex_prefix_int(h: Column, n_digits: int) -> Column:
    """Integer value of the first ``n_digits`` hex chars of ``h``
    (n_digits=5 → 0..1048575, 20 bits)."""
    v = None
    for i in range(1, n_digits + 1):
        d = F.call_function("instr", F.lit(HEX), F.substring(h, i, 1)) - 1
        v = d if v is None else v * 16 + d
    return v
