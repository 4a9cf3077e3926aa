"""Short documents through the word-window operators.

A one-token document, an empty document and a tab-led document (``trim``
strips spaces only, so its first token is ``""``) run through every
operator that builds word n-grams. Each result is checked against a
pure-Python reference built on one window function: the n-word windows
at positions 1..size−n+1, none when the document has fewer than n words.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

TEXTS = {
    1: "solo",
    2: "",
    3: "\tdata pipeline runs fast",
    4: "Data Pipeline runs  fast today",
    5: "a b",
    6: "a b c",
    7: "x y x y x y x y",
    8: "trailing tab\t",
    **{
        10 + i: "the data pipeline runs fast and the data pipeline scales"
        for i in range(20)
    },
}


def _words(text: str) -> list[str]:
    return re.split(r"\s+", text.lower().strip(" "))


def _windows(ws: list[str], n: int) -> list[str]:
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]


WORDS = {i: _words(t) for i, t in TEXTS.items()}


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("short_docs_sf")
    ids = sorted(TEXTS)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [TEXTS[i] for i in ids],
                "lang": ["en"] * len(ids),
                "source": [f"src{i % 2}" for i in ids],
                "n_chars": pa.array([len(TEXTS[i]) for i in ids], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    return str(d)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_bigram_pmi_query_on_short_documents(spark, sf_dir):
    """A one-token document has no bigram; it used to index position 0
    and raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT."""
    from healthcare_dbt_datamart_spark.models.testdata_queries import QUERIES

    got = QUERIES["bigram_pmi"](spark, sf_dir).collect()
    uni = Counter(w for ws in WORDS.values() for w in ws)
    big = Counter(
        tuple(g.split(" ")) for ws in WORDS.values() for g in _windows(ws, 2)
    )
    n_uni, n_big = float(sum(uni.values())), float(sum(big.values()))
    want = sorted(
        (
            (
                a,
                b,
                bc,
                round(
                    math.log((bc / n_big) / ((uni[a] / n_uni) * (uni[b] / n_uni))),
                    6,
                ),
            )
            for (a, b), bc in big.items()
            if bc >= 20
        ),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:20]
    assert want
    assert [(r.a, r.b, r.bc) for r in got] == [w[:3] for w in want]
    assert [r.pmi for r in got] == pytest.approx([w[3] for w in want], abs=2e-6)


def test_short_documents_match_window_reference(docs):
    from healthcare_dbt_datamart_spark.llmops.dedup import tokens_col, tokens_df
    from healthcare_dbt_datamart_spark.llmops.evaluation import distinct_n
    from healthcare_dbt_datamart_spark.llmops.filtering import (
        bigram_interp_scores,
        kn_bigram_scores,
        ngram_contamination,
        trigram_interp_scores,
    )
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        hashed_ngram_features,
        repetition_stats,
    )

    # dedup shingles: below three words a document is ONE shingle of
    # all its words; the column and the staged form agree
    want = {
        i: sorted(set(_windows(ws, 3)) if len(ws) >= 3 else {" ".join(ws)})
        for i, ws in WORDS.items()
    }
    got = {
        r.doc_id: sorted(r.t)
        for r in docs.select("doc_id", tokens_col("text", 3).alias("t")).collect()
    }
    assert got == want
    got = {
        r.doc_id: sorted(r.toks)
        for r in tokens_df(docs, "text", "doc_id", n_shingle=3).collect()
    }
    assert got == want

    # repetition: 1 − distinct/total trigrams, 0.0 below three words
    got = {
        r.doc_id: (r.n_grams, r.n_uniq_grams, r.rep_ratio)
        for r in repetition_stats(docs, "text", "doc_id", n=3).collect()
    }
    want = {}
    for i, ws in WORDS.items():
        g = _windows(ws, 3)
        rep = round(1 - len(set(g)) / len(g), 6) if g else 0.0
        want[i] = (len(g), len(set(g)), rep)
    assert got == want

    # decontamination against the tab-led document's trigrams
    src = set(_windows(WORDS[3], 3))
    got = {
        r.doc_id: (r.n_grams, r.n_contaminated)
        for r in ngram_contamination(
            docs.filter("doc_id = 3"), docs, "text", "doc_id", n=3
        ).collect()
    }
    want = {
        i: (len(set(g)), len(set(g) & src))
        for i, ws in WORDS.items()
        if (g := _windows(ws, 3))
    }
    assert got == want

    # the LM scorers score exactly the documents with a window, over
    # every window; the bigram JM score replays in Python
    for fn, n, col in (
        (bigram_interp_scores, 2, "n_bigrams"),
        (trigram_interp_scores, 3, "n_trigrams"),
        (kn_bigram_scores, 2, "n_bigrams"),
    ):
        rows = fn(docs, "text", "doc_id").collect()
        want = {i: len(g) for i, ws in WORDS.items() if (g := _windows(ws, n))}
        assert {r.doc_id: r[col] for r in rows} == want, fn.__name__
        assert all(math.isfinite(r.lm_score) for r in rows)
    uc = Counter(w for ws in WORDS.values() for w in ws)
    bc = Counter(g for ws in WORDS.values() for g in _windows(ws, 2))
    c1 = Counter()
    for g, c in bc.items():
        c1[g.split(" ")[0]] += c
    n_v1 = float(sum(uc.values()) + len(uc) + 1)
    lam = 0.75
    want = {}
    for i, ws in WORDS.items():
        g = _windows(ws, 2)
        if g:
            lp = [
                math.log(
                    lam * bc[x] / c1[x.split(" ")[0]]
                    + (1 - lam) * (uc[x.split(" ")[1]] + 1) / n_v1
                )
                for x in g
            ]
            want[i] = round(-sum(lp) / len(lp), 6)
    got = {
        r.doc_id: r.lm_score
        for r in bigram_interp_scores(docs, "text", "doc_id", lam=lam).collect()
    }
    assert got.keys() == want.keys()
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=2e-6), i

    # distinct-n over the corpus ("" tokens included, as tokenized)
    got = {
        r.n: (r.total_ngrams, r.distinct_ngrams, r.distinct_ratio)
        for r in distinct_n(docs, "text", ns=(1, 2, 3)).collect()
    }
    want = {}
    for n in (1, 2, 3):
        g = [x for ws in WORDS.values() for x in _windows(ws, n)]
        want[n] = (len(g), len(set(g)), round(len(set(g)) / len(g), 6))
    assert got == want

    # hashed unigram + bigram features: empty tokens, and bigrams that
    # hold one, never become features
    nb = 2**18

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:5], 16) % nb

    want = Counter()
    for i, ws in WORDS.items():
        for g in [w for w in ws if w != ""] + _windows(ws, 2):
            if g and not g.startswith(" ") and not g.endswith(" "):
                want[(i, bucket(g))] += 1
    got = {
        (r.id, r.feat): r.v
        for r in hashed_ngram_features(
            docs, "text", "doc_id", n_buckets=nb
        ).collect()
    }
    assert got == dict(want)
