"""Tests for llmops/filtering.py (redaction, decontamination, DSIR,
epoch order) and similarity.embedding_outliers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_dbt_datamart_spark.llmops.filtering import (
    PII_PATTERNS,
    epoch_order,
    importance_weights,
    ngram_contamination,
    redact_report,
)
from healthcare_dbt_datamart_spark.llmops.similarity import embedding_outliers


def test_redact_report_pii_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob@example.com or alice@test.org thanks"),
            (2, "server 10.0.0.1 called 555-123-4567 twice"),
            (3, "clean text with no sensitive content"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in redact_report(df, "text", "doc_id", dict(PII_PATTERNS)).collect()
    }
    assert out[1]["email_hits"] == 2 and out[1]["ipv4_hits"] == 0
    assert out[2]["ipv4_hits"] == 1 and out[2]["phone_hits"] == 1
    assert out[3]["email_hits"] == out[3]["ipv4_hits"] == out[3]["phone_hits"] == 0
    # masking shrinks redacted docs, leaves clean ones untouched
    assert out[1]["redacted_len"] < out[1]["raw_len"]
    assert out[3]["redacted_len"] == out[3]["raw_len"]


def test_redact_report_pattern_order_first_claim_wins(spark):
    # the email pattern consumes the token before the denylist term sees it
    df = spark.createDataFrame([(1, "ping spark@spark.io and spark")], ["doc_id", "text"])
    pats = {"email": PII_PATTERNS["email"], "term": r"\bspark\b"}
    row = redact_report(df, "text", "doc_id", pats).collect()[0]
    assert row["email_hits"] == 1
    # bare "spark" occurrences: the standalone one plus the two inside the
    # email count toward regexp_count (counting is independent per pattern)
    assert row["term_hits"] == 3
    # but replacement is sequential: after the email is masked, only the
    # standalone term remains to redact -> "ping <X> and <X>"
    assert row["redacted_len"] == len("ping <X> and <X>")


def test_ngram_contamination_detects_overlap(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    ev = spark.createDataFrame(
        [
            (10, "quick brown fox seen again"),  # shares grams
            (11, "completely different words entirely here"),  # clean
            (12, "xy"),  # < n tokens -> no grams -> absent from report
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in ngram_contamination(train, ev, "text", "doc_id", n=3).collect()
    }
    assert rows[10]["n_contaminated"] == 1  # "quick brown fox"
    assert rows[10]["contamination_ratio"] == pytest.approx(1 / 3, abs=1e-6)
    assert rows[11]["n_contaminated"] == 0
    assert 12 not in rows


def test_importance_weights_prefers_target_domain(spark):
    # target domain talks about medicine; corpus noise about sports
    rows = [(i, "heart dose clinic patient nurse", "med") for i in range(5)]
    rows += [(10 + i, "goal match score team league", "sport") for i in range(5)]
    rows.append((99, "heart dose patient visit", "unlabeled"))
    rows.append((98, "goal match score replay", "unlabeled"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    w = {
        r["doc_id"]: r["dsir_weight"]
        for r in importance_weights(
            df, "text", "doc_id", target_pred=F.col("source") == "med"
        ).collect()
    }
    # med-like doc scores higher than sport-like doc; target docs highest
    assert w[99] > w[98]
    assert w[0] > w[99] > 0 > w[98]


def test_epoch_order_deterministic_and_sharded(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    a = epoch_order(df, "doc_id", seed="s1", n_shards=4).collect()
    b = epoch_order(df, "doc_id", seed="s1", n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    c = epoch_order(df, "doc_id", seed="s2", n_shards=4).collect()
    order_a = [r["doc_id"] for r in sorted(a, key=lambda r: (r["shard"], r["position"]))]
    order_c = [r["doc_id"] for r in sorted(c, key=lambda r: (r["shard"], r["position"]))]
    assert order_a != order_c  # seed reshuffles
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    assert set(by_shard) == {0, 1, 2, 3}
    for positions in by_shard.values():  # dense 1..n per shard
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_embedding_outliers_flags_far_point(spark):
    vecs = [(i, [1.0, 0.0, 0.01 * i], 0) for i in range(6)]
    vecs.append((100, [-1.0, 0.5, 0.0], 0))  # far from the tight cluster
    vecs += [(200 + i, [0.0, 1.0, 0.0], 1) for i in range(3)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])
    out = embedding_outliers(df, "label", "vec_id", "embedding", k=2).collect()
    worst_label0 = [r for r in out if r["label"] == 0 and r["rank"] == 1][0]
    assert worst_label0["vec_id"] == 100
    # identical vectors in label 1 tie -> rank breaks by vec_id
    l1 = sorted([r for r in out if r["label"] == 1], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in l1] == [200, 201]


def test_chunk_plan_offsets_and_clamping(spark):
    from healthcare_dbt_datamart_spark.llmops.packing import chunk_plan

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20))), (2, "a b"), (3, "")],
        ["doc_id", "text"],
    )
    rows = chunk_plan(df, "text", "doc_id", size=8, stride=4).collect()
    d1 = sorted(
        [r for r in rows if r["doc_id"] == 1], key=lambda r: r["chunk_idx"]
    )
    # 20 tokens, starts 0,4,8,12,16; ends clamp at 20
    assert [(r["tok_start"], r["tok_end"]) for r in d1] == [
        (0, 8), (4, 12), (8, 16), (12, 20), (16, 20)
    ]
    assert all(r["chunk_tokens"] == r["tok_end"] - r["tok_start"] for r in rows)
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_tokens"] == 2
    # empty text still tokenizes to [''] (1 token) per the family's
    # whitespace-split convention -> one 1-token chunk, not zero rows
    d3 = [r for r in rows if r["doc_id"] == 3]
    assert len(d3) == 1 and d3[0]["chunk_tokens"] == 1


def test_redact_report_streaming_parity(spark, tmp_path):
    """Curation projections must run unchanged under Structured Streaming:
    redact_report over a file stream (foreach-batch-free, pure append)
    yields exactly the batch result."""
    from healthcare_dbt_datamart_spark.llmops.filtering import redact_report

    pats = {"email": PII_PATTERNS["email"], "term": r"\bspark\b"}
    rows = [
        (1, "contact a@b.io about spark"),
        (2, "spark spark everywhere"),
        (3, "nothing to see"),
    ]
    batch_df = spark.createDataFrame(rows, ["doc_id", "text"])
    expected = sorted(map(tuple, redact_report(batch_df, "text", "doc_id", pats).collect()))

    src = tmp_path / "rr_src"
    src.mkdir()
    batch_df.write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(batch_df.schema).parquet(str(src / "*"))
    q = (
        redact_report(stream, "text", "doc_id", pats)
        .writeStream.format("memory")
        .queryName("rr_out")
        .option("checkpointLocation", str(tmp_path / "rr_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(map(tuple, spark.table("rr_out").collect()))
    finally:
        q.stop()
    assert got == expected


def test_epoch_order_is_permutation_property(spark):
    """Property: for any id set and shard count, epoch_order emits each id
    exactly once and positions are dense per shard."""
    import random

    rng = random.Random(7)
    ids = rng.sample(range(10_000), 300)
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = epoch_order(df, "doc_id", seed="prop", n_shards=7).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(ids)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r["shard"] < 7
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for pos in by_shard.values():
        assert sorted(pos) == list(range(1, len(pos) + 1))


def test_chunk_plan_full_coverage_property(spark):
    """Property: chunks tile every token index; consecutive chunks overlap
    by exactly size - stride (except the clamped tail)."""
    from healthcare_dbt_datamart_spark.llmops.packing import chunk_plan

    docs = [(n, " ".join(f"t{i}" for i in range(n))) for n in (1, 7, 8, 9, 23, 64)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = chunk_plan(df, "text", "doc_id", size=8, stride=5).collect()
    for n, _ in docs:
        ch = sorted(
            [(r["tok_start"], r["tok_end"]) for r in rows if r["doc_id"] == n]
        )
        covered = set()
        for s, t in ch:
            covered.update(range(s, t))
        assert covered == set(range(n)), f"doc len {n} not tiled"
        starts = [s for s, _ in ch]
        assert starts == list(range(0, n, 5))


def test_curation_funnel_each_gate_fires(spark):
    from healthcare_dbt_datamart_spark.llmops.textstats import curation_funnel

    docs = [
        (1, "tiny doc", "en", "a"),                                   # too short
        (2, " ".join(["dup"] * 30), "en", "a"),                       # low diversity + repetitive
        (3, " ".join(f"w{i} the of to a in is and" for i in range(4)), "fr", "a"),  # en-looking, declared fr
        (4, "the quick brown u1 of u2 u3 to u4 u5 a u6 u7 in u8 u9 is u10", "en", "a"),  # passes all
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source"])
    row = curation_funnel(df, "text", "doc_id", "lang", "source").collect()[0]
    assert row["n_docs"] == 4
    assert row["n_too_short"] == 1
    assert row["n_low_diversity"] >= 1
    assert row["n_repetitive"] >= 1
    # docs 1 and 2 carry no stopwords -> predicted 'und' also mismatches
    assert row["n_lang_mismatch"] == 3
    assert row["n_pass"] == 1


def test_pq_rerank_exact_cosine_fixes_adc_order(spark):
    """Stage-2 exact cosine reorders the ADC shortlist: two vectors the
    compressed codes cannot tell apart (identical reconstruction) rank
    by their TRUE cosine in the final result."""
    from healthcare_dbt_datamart_spark.llmops.similarity import pq_rerank

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),  # query
        (1, [0.9, 0.1, 0.0, 0.0, 0.9, 0.1, 0.0, 0.0]),  # near query
        (2, [0.9, 0.2, 0.0, 0.0, 0.9, 0.2, 0.0, 0.0]),  # a bit farther
        (3, [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]),  # orthogonal-ish
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_rerank(emb, query_id=0, k=3, shortlist=3, m=2, n_codes=3).collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert out[0].cosine > out[1].cosine > out[2].cosine
    # stage-1 evidence rides along: every row carries its ADC distance
    assert all(r.adc_dist is not None for r in out)


def test_curation_dag_through_registry(spark):
    """The llmops funnel runs through the dbt-style registry: ref()
    resolution, staging projection, and the mart rollup compose into one
    lazy plan whose result equals calling the operator directly."""
    from healthcare_dbt_datamart_spark.llmops.textstats import curation_funnel
    from healthcare_dbt_datamart_spark.models.curation import build_curation

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox of the north", "en", "web"),
            (2, "x", "en", "web"),
            (3, " ".join(["dup"] * 20), "en", "book"),
        ],
        ["doc_id", "text", "lang", "source"],
    )
    via_registry = sorted(
        map(tuple, build_curation(spark, docs).build("curation_report").collect())
    )
    direct = sorted(
        map(
            tuple,
            curation_funnel(docs, "text", "doc_id", "lang", "source").collect(),
        )
    )
    assert via_registry == direct


# -- hypothesis property tests --------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_words = st.text(alphabet="abcde", min_size=1, max_size=4)
_texts = st.lists(_words, min_size=0, max_size=12).map(" ".join)


def test_corpus_release_dag_stages(spark):
    """The release funnel drops exactly what each stage says it drops:
    an exact duplicate resolves to its best copy, a low-quality doc
    fails the gate, a train doc plagiarizing a test doc decontaminates
    away, and the manifest accounts for every surviving doc."""
    from healthcare_dbt_datamart_spark.llmops.splits import split_col
    from healthcare_dbt_datamart_spark.models.corpus_release import (
        build_corpus_release,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far "
        "away into the green forest to find a quiet stream"
    )
    rows = [
        (1, base, "web"),
        (2, base, "web"),  # exact dup of 1: one of the pair survives
        (3, "x y", "web"),  # fails the 5-token floor
        (4, " ".join(f"w{i}" for i in range(40)), "book"),  # no stopwords,
        # uniq_ratio 1.0 -> score 0.4+0.3 < gate? 0.7 >= 0.5: survives
    ]
    # a guaranteed test-split doc + a train-split plagiarist of it:
    # search suffixes so the split label is what the fixture needs
    def find(split, tmpl):
        for i in range(1000):
            t = tmpl + f" tail{i}"
            if (
                spark.range(1)
                .select(split_col(F.lit(t)).alias("s"))
                .collect()[0][0]
                == split
            ):
                return t
        raise AssertionError("no suffix found")

    ev_text = find("test", " ".join(f"e{i}" for i in range(30)))
    # plagiarist: same 30 tokens (shares all 5-grams of the prefix),
    # different tail that lands it in train
    pl_text = find("train", " ".join(f"e{i}" for i in range(30)))
    clean_train = find("train", " ".join(f"c{i}" for i in range(30)))
    rows += [(5, ev_text, "web"), (6, pl_text, "web"), (7, clean_train, "web")]

    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    r = build_corpus_release(spark, docs)
    rel = r.build("corpus_release")
    kept = {row.doc_id for row in rel.collect()}
    assert 3 not in kept  # quality gate
    assert len({1, 2} & kept) == 1  # dup pair resolved to one copy
    assert 5 in kept  # the eval doc itself always ships
    assert 6 not in kept  # plagiarist decontaminated
    assert 7 in kept  # clean train doc survives
    man = r.build("release_manifest")
    assert man.agg(F.sum("n_docs")).collect()[0][0] == len(kept)


@settings(max_examples=6, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=15, unique=True))
def test_redact_length_accounting_property(spark, texts):
    """raw_len - redacted_len == sum over patterns of (matched chars
    removed) - (mask chars inserted); with a single pattern this is
    exactly hits*(len(match)-len(mask)) for fixed-width matches. Use the
    fixed-width word 'ab' as the pattern: the identity must hold for any
    corpus."""
    from healthcare_dbt_datamart_spark.llmops.filtering import redact_report

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = redact_report(df, "text", "doc_id", {"w": r"\bab\b"}, mask="_").collect()
    for r in out:
        assert r["raw_len"] - r["redacted_len"] == r["w_hits"] * (2 - 1)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_texts, min_size=1, max_size=10, unique=True),
    st.lists(_texts, min_size=1, max_size=10, unique=True),
)
def test_ngram_contamination_bounds_property(spark, train_texts, ev_texts):
    """0 <= n_contaminated <= n_grams for every eval doc; eval docs that
    ARE train docs verbatim (and long enough) are 100% contaminated."""
    from healthcare_dbt_datamart_spark.llmops.filtering import ngram_contamination

    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], ["doc_id", "text"]
    )
    ev_rows = [(100 + i, t) for i, t in enumerate(ev_texts)]
    # plant one verbatim copy of a train doc in eval
    ev_rows.append((999, train_texts[0]))
    ev = spark.createDataFrame(ev_rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in ngram_contamination(train, ev, "text", "doc_id", n=2).collect()}
    for r in out.values():
        assert 0 <= r["n_contaminated"] <= r["n_grams"]
    if 999 in out:  # copy had >= 2 tokens -> every gram is contaminated
        assert out[999]["n_contaminated"] == out[999]["n_grams"]
        assert out[999]["contamination_ratio"] == 1.0


def test_perplexity_buckets_thirds_and_tail(spark):
    from healthcare_dbt_datamart_spark.llmops.filtering import perplexity_buckets

    common = "the cat sat on the mat"
    rows = [(i, common, "en") for i in range(1, 6)]
    # doc 6 is all rare tokens -> most surprising to the en unigram model
    rows.append((6, "zyx qwv plk jhg", "en"))
    # a second language ranks independently
    rows += [(7, "el gato", "es"), (8, "el perro", "es"), (9, "xx yy", "es")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["doc_id"]: r.asDict()
        for r in perplexity_buckets(df, "text", "doc_id", "lang").collect()
    }
    assert len(out) == 9
    # the OOV doc is the en tail
    assert out[6]["bucket"] == "tail"
    assert out[6]["ppl_rank"] == 6
    # thirds: 6 en docs -> 2 head, 2 middle, 2 tail
    en_buckets = [out[i]["bucket"] for i in range(1, 7)]
    assert en_buckets.count("head") == 2
    assert en_buckets.count("middle") == 2
    assert en_buckets.count("tail") == 2
    # es ranks are within-language: ranks 1..3
    assert sorted(out[i]["ppl_rank"] for i in (7, 8, 9)) == [1, 2, 3]
    # identical docs tie on score; id breaks the tie deterministically
    assert out[1]["ppl_rank"] < out[2]["ppl_rank"]


def test_bloom_prefilter_no_false_negatives(spark):
    from healthcare_dbt_datamart_spark.llmops.filtering import (
        bloom_prefilter,
        ngram_contamination,
    )

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    cand = spark.createDataFrame(
        [
            (1, "alpha beta gamma unseen tokens here"),  # shares grams
            (2, "totally different content no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in bloom_prefilter(cand, ev, "text", "doc_id", n=3).collect()
    }
    exact = {
        r["doc_id"]: r.asDict()
        for r in ngram_contamination(ev, cand, "text", "doc_id", n=3).collect()
    }
    # bloom has no false negatives: exact hits through the prefilter match
    # the direct decontamination join for every doc
    for d in (1, 2):
        assert out[d]["exact_hits"] == exact[d]["n_contaminated"]
        assert out[d]["bloom_hits"] >= out[d]["exact_hits"]
        assert out[d]["fp_grams"] == out[d]["bloom_hits"] - out[d]["exact_hits"]
    assert out[1]["exact_hits"] == 1  # only "alpha beta gamma" overlaps
    assert out[2]["exact_hits"] == 0


def test_bloom_prefilter_saturated_filter_passes_everything(spark):
    # 16 bits (n_hex=1) with enough eval grams saturates the bitset: every
    # candidate gram bloom-passes, and exact_hits still stays correct —
    # the no-false-negative property is independent of m
    from healthcare_dbt_datamart_spark.llmops.filtering import bloom_prefilter

    ev = spark.createDataFrame(
        [(100, " ".join(f"tok{i}" for i in range(40)))], ["doc_id", "text"]
    )
    cand = spark.createDataFrame(
        [(1, "tok0 tok1 tok2 foo bar baz qux")], ["doc_id", "text"]
    )
    row = bloom_prefilter(cand, ev, "text", "doc_id", n=3, n_hex=1).collect()[0]
    assert row["bloom_hits"] == row["n_grams"] == 5
    assert row["exact_hits"] == 1  # only "tok0 tok1 tok2" truly overlaps


def test_stratified_sample_exact_k_and_seed(spark):
    from healthcare_dbt_datamart_spark.llmops.splits import stratified_sample

    rows = [(i, "a" if i % 2 else "b") for i in range(1, 41)]
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    s1 = stratified_sample(df, "src", "doc_id", k=5, seed="s1").collect()
    from collections import Counter

    per = Counter(r["strata"] for r in s1)
    assert per == {"a": 5, "b": 5}
    assert sorted({r["sample_rank"] for r in s1}) == [1, 2, 3, 4, 5]
    # deterministic: rerun identical
    s1b = stratified_sample(df, "src", "doc_id", k=5, seed="s1").collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s1b))
    # different seed redraws
    s2 = stratified_sample(df, "src", "doc_id", k=5, seed="s2").collect()
    assert {r["doc_id"] for r in s1} != {r["doc_id"] for r in s2}
    # k larger than the stratum returns the whole stratum
    s3 = stratified_sample(df, "src", "doc_id", k=100, seed="s1").collect()
    assert len(s3) == 40


def test_length_buckets_budget_and_padding(spark):
    from healthcare_dbt_datamart_spark.llmops.packing import length_buckets

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(
        [5, 7, 6, 40, 45, 44, 100], start=1
    )]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = length_buckets(df, "text", "doc_id", bucket_width=32, budget=64)
    rows_out = {r["doc_id"]: r.asDict() for r in out.collect()}
    # short docs share bucket 0, the 40s bucket 1, the 100 bucket 3
    assert rows_out[1]["bucket"] == rows_out[2]["bucket"] == rows_out[3]["bucket"] == 0
    assert rows_out[4]["bucket"] == rows_out[5]["bucket"] == rows_out[6]["bucket"] == 1
    assert rows_out[7]["bucket"] == 3
    # padding bound: every doc pads to its bucket's upper edge
    for r in rows_out.values():
        assert r["n_tokens"] <= r["padded_to"]
        assert r["padded_to"] - r["n_tokens"] < 32
    # batch budget: per (bucket, batch) token sums stay <= budget when no
    # single doc exceeds it (bucket 1: 40 alone, then 45+44 > 64 -> 45
    # opens batch 1... greedy running sum: 40 | 40+45=85 -> batch 1 |
    # 85+44=129 -> batch 2)
    b1 = [r for r in rows_out.values() if r["bucket"] == 1]
    assert {r["batch_id"] for r in b1} == {0, 1, 2}
    # positions are 1-based within (bucket, batch)
    assert all(r["batch_pos"] == 1 for r in b1)


def test_quality_classifier_sign_and_monotonicity(spark):
    from healthcare_dbt_datamart_spark.llmops.textstats import quality_classifier

    df = spark.createDataFrame(
        [
            # diverse, stopword-bearing, in-range length -> keep
            (1, "the quick brown fox jumps over a lazy dog and then rests in shade"),
            # degenerate repetition, no stopwords, too short -> drop
            (2, "spam spam spam spam"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in
           quality_classifier(df, "text", "doc_id").collect()}
    assert out[1]["keep"] == 1 and out[2]["keep"] == 0
    assert out[1]["score"] > 0.5 > out[2]["score"]
    # label is the logit's sign, score the squashed logit
    for r in out.values():
        assert (r["logit"] >= 0) == bool(r["keep"])
        assert 0.0 < r["score"] < 1.0


def test_domain_mixture_weights_upweights_hard_domain(spark):
    from healthcare_dbt_datamart_spark.llmops.filtering import (
        domain_mixture_weights,
    )

    common = "the cat sat on the mat again and again"
    rows = [(i, common, "easy") for i in range(1, 5)]
    # the rare-token domain is "harder" for the corpus unigram model
    rows += [(10, "zyxw qvut plkm", "hard"), (11, "jhgf dsaq mnbv", "hard")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "src"])
    got = domain_mixture_weights(df, "text", "doc_id", "src")
    # plan-shape pin: the corpus-mean and softmax-denominator scalars
    # fold as unpartitioned windows over the |domains|-row aggregate —
    # as agg+crossJoin branches each re-executed the corpus-scale
    # token-explode lineage (12 Generate subtrees; the one-pass shape
    # plans 3: freq build, the 1-row total over freq, the join probe)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") <= 3, plan.count("Generate")
    out = {r["domain"]: r.asDict() for r in got.collect()}
    assert out["hard"]["excess"] > 0 > out["easy"]["excess"]
    assert out["hard"]["weight"] > out["easy"]["weight"]
    # weights normalize over domains
    assert abs(out["hard"]["weight"] + out["easy"]["weight"] - 1.0) < 1e-5
    assert out["easy"]["n_docs"] == 4 and out["hard"]["n_docs"] == 2


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_texts, min_size=1, max_size=8, unique=True),
    st.lists(_texts, min_size=1, max_size=8, unique=True),
)
def test_bloom_prefilter_no_false_negative_property(spark, ev_texts, cand_texts):
    """For ANY corpus pair and any bitset size, bloom passes >= exact
    hits per doc (no false negatives), exact_hits equals the direct
    decontamination join's count, and fp accounting is consistent."""
    from healthcare_dbt_datamart_spark.llmops.filtering import (
        bloom_prefilter,
        ngram_contamination,
    )

    ev = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ev_texts)], ["doc_id", "text"]
    )
    cand = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(cand_texts)], ["doc_id", "text"]
    )
    # tiny bitset (n_hex=2 -> 256 bits): high FP pressure stresses the
    # no-false-negative side
    out = {r["doc_id"]: r for r in
           bloom_prefilter(cand, ev, "text", "doc_id", n=2, n_hex=2).collect()}
    exact = {r["doc_id"]: r for r in
             ngram_contamination(ev, cand, "text", "doc_id", n=2).collect()}
    assert set(out) == set(exact)
    for d, r in out.items():
        assert r["exact_hits"] == exact[d]["n_contaminated"]
        assert r["exact_hits"] <= r["bloom_hits"] <= r["n_grams"]
        assert r["fp_grams"] == r["bloom_hits"] - r["exact_hits"]
        assert 0.0 <= r["fp_rate"] <= 1.0


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10_000),
             min_size=1, max_size=60, unique=True),
    st.integers(min_value=1, max_value=7),
)
def test_stratified_sample_counts_property(spark, ids, k):
    """Per stratum: exactly min(k, stratum size) rows, ranks dense 1..m,
    and the kept set is a function of (seed, id) only."""
    from collections import Counter

    from healthcare_dbt_datamart_spark.llmops.splits import stratified_sample

    rows = [(i, f"s{i % 3}") for i in ids]
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    out = stratified_sample(df, "src", "doc_id", k=k, seed="p").collect()
    sizes = Counter(s for _, s in rows)
    per = Counter(r["strata"] for r in out)
    for s, n in sizes.items():
        assert per[s] == min(k, n)
    by_strata: dict[str, list[int]] = {}
    for r in out:
        by_strata.setdefault(r["strata"], []).append(r["sample_rank"])
    for ranks in by_strata.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=200),
                min_size=1, max_size=40))
def test_length_buckets_invariants_property(spark, token_counts):
    """Bucket bound contains the doc; batches never exceed the budget
    unless a single doc alone does; batch ids are dense per bucket."""
    from healthcare_dbt_datamart_spark.llmops.packing import length_buckets

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = length_buckets(df, "text", "doc_id", bucket_width=16, budget=48).collect()
    assert len(out) == len(rows)
    sums: dict[tuple, int] = {}
    for r in out:
        assert r["bucket"] * 16 <= r["n_tokens"] < r["padded_to"] == (r["bucket"] + 1) * 16
        sums[(r["bucket"], r["batch_id"])] = sums.get((r["bucket"], r["batch_id"]), 0) + r["n_tokens"]
    for (bucket, batch), tot in sums.items():
        members = [r for r in out if r["bucket"] == bucket and r["batch_id"] == batch]
        # offset partitioning's documented bounds: members' last-token
        # offsets share one budget window, so the sum ABOVE the first
        # member is < budget (NOT minus the last — e.g. tokens
        # [18,31,31,16] at budget 48 batch {31,31,16} where
        # tot - last = 62), and the total is < budget + bucket upper edge
        first = min(members, key=lambda m: m["batch_pos"])
        assert tot - first["n_tokens"] < 48
        assert tot < 48 + (bucket + 1) * 16


def test_pagerank_fixedpoint_properties(spark):
    """Integer PageRank: the hub of a star graph outranks the leaves,
    symmetric nodes tie exactly (bit-equal fixed-point values, not
    approximately), and the result is invariant under repartitioning —
    the associativity property float PageRank cannot offer."""
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.graph import (
        pagerank_fixedpoint,
        undirected_edges,
    )

    # star: 0 at the center of 1..6, plus an isolated pair (7, 8)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 7)] + [(7, 8)], "id_a long, id_b long"
    )
    edges = undirected_edges(pairs)
    got = {r.id: r.rank_fp for r in pagerank_fixedpoint(edges).collect()}
    assert len(got) == 9
    hub, leaves = got[0], [got[i] for i in range(1, 7)]
    assert all(hub > l for l in leaves)
    assert len(set(leaves)) == 1  # exact symmetry, no float jitter
    assert got[7] == got[8] == 10**12  # isolated pair: rank 1.0 exactly
    # partitioning invariance: bit-identical under a different layout
    reparted = pagerank_fixedpoint(edges.repartition(13))
    assert {r.id: r.rank_fp for r in reparted.collect()} == got


def test_hits_fixedpoint_structure_replay_and_layout(spark):
    """Integer HITS: on a bipartite citation graph the broad hub and
    the co-cited authorities come out on top with exact symmetry ties;
    a pure-Python replay of the integer iteration reproduces every
    fixed-point value bit-for-bit; the result is layout-invariant;
    checkpoint_every=2 is value-identical; empty edges raise."""
    import collections

    import pytest

    from healthcare_dbt_datamart_spark.llmops.graph import hits_fixedpoint

    # hubs 1..3 cite authorities 10/11; 1 cites both (the broad hub);
    # 20 cites only a fringe page 30 that nobody else endorses
    edge_list = [
        (1, 10), (1, 11), (2, 10), (3, 11), (20, 30), (10, 30),
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r.id: (r.hub_fp, r.auth_fp)
        for r in hits_fixedpoint(edges, n_iter=3).collect()
    }
    scale = 10**6
    assert set(got) == {1, 2, 3, 10, 11, 20, 30}
    # the broad hub dominates: exactly scale after max-normalization
    assert got[1][0] == scale
    assert got[1][0] > got[2][0] and got[1][0] > got[20][0]
    # symmetric single-citation hubs tie bit-exactly
    assert got[2][0] == got[3][0]
    # co-cited authorities tie at the top; the fringe page trails
    assert got[10][1] == got[11][1] == scale
    assert got[30][1] < scale
    # pure authorities have hub mass only via their own out-edges
    assert got[11][0] == 0  # no out-edges -> hub 0
    assert got[2][1] == 0   # never cited -> authority 0

    # exact pure-Python replay of the integer iteration
    nodes = {v for ed in edge_list for v in ed}
    h = {v: scale for v in nodes}
    a = {}
    for _ in range(3):
        a_raw = collections.defaultdict(int)
        for s, d in edge_list:
            a_raw[d] += h.get(s, 0)
        mxa = max(a_raw.values())
        a = {v: (r * scale) // mxa for v, r in a_raw.items()}
        h_raw = collections.defaultdict(int)
        for s, d in edge_list:
            h_raw[s] += a.get(d, 0)
        mxh = max(h_raw.values())
        h = {v: (r * scale) // mxh for v, r in h_raw.items()}
    expect = {v: (h.get(v, 0), a.get(v, 0)) for v in nodes}
    assert got == expect

    # layout invariance + amortized-checkpoint value parity
    got13 = {
        r.id: (r.hub_fp, r.auth_fp)
        for r in hits_fixedpoint(
            edges.repartition(13), n_iter=3, checkpoint_every=2
        ).collect()
    }
    assert got13 == got

    with pytest.raises(ValueError, match="empty edge list"):
        hits_fixedpoint(edges.filter("src < 0"))


def test_reliable_checkpoint_parity_and_guard(spark, request):
    """The iterative loops' truncation policy: with a checkpoint dir set
    (every cut a fault-tolerant checkpoint()), and with
    checkpoint_every=2, PageRank and Bradley-Terry produce BIT-IDENTICAL
    results to the localCheckpoint default (the arithmetic is integer
    fixed-point — truncation only moves where state lives), and the
    cuts land in the checkpoint dir."""
    from healthcare_dbt_datamart_spark.llmops.graph import (
        pagerank_fixedpoint,
        undirected_edges,
    )
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry_from_pairs,
    )

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 7)] + [(7, 8), (1, 2)],
        "id_a long, id_b long",
    )
    edges = undirected_edges(pairs)
    wins = spark.createDataFrame(
        [(1, 2, 6), (2, 1, 2), (2, 3, 4), (3, 1, 2)], "i long, j long, w2 long"
    )

    assert spark.sparkContext.getCheckpointDir() is None
    base_pr = {r.id: r.rank_fp for r in pagerank_fixedpoint(edges).collect()}
    base_bt = {
        r.item: (r.wins2, r.comparisons2, r.rating_fp)
        for r in bradley_terry_from_pairs(wins).collect()
    }

    ckpt = request.getfixturevalue("checkpoint_dir")
    rel_pr = {r.id: r.rank_fp for r in pagerank_fixedpoint(edges).collect()}
    rel_bt = {
        r.item: (r.wins2, r.comparisons2, r.rating_fp)
        for r in bradley_terry_from_pairs(wins).collect()
    }
    assert any(ckpt.rglob("part-*"))
    # amortized reliable cuts (every 2nd round) — lineage grows two
    # rounds deep between cuts, values unchanged
    amort_pr = {
        r.id: r.rank_fp
        for r in pagerank_fixedpoint(edges, checkpoint_every=2).collect()
    }
    amort_bt = {
        r.item: (r.wins2, r.comparisons2, r.rating_fp)
        for r in bradley_terry_from_pairs(wins, checkpoint_every=2).collect()
    }
    assert rel_pr == base_pr and amort_pr == base_pr
    assert rel_bt == base_bt and amort_bt == base_bt


def test_weighted_sample_deterministic_and_weight_proportional(spark):
    """Exponential-race weighted sampling: exact k, deterministic for a
    fixed seed, plan is TakeOrdered (not a global sort) for the global
    path, non-positive weights never sample, and across 400 independent
    strata the w=9 item wins ~90% of the k=1 races."""
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.splits import weighted_sample

    rows = [(f"d{i}", float(1 + i % 5)) for i in range(100)]
    rows += [("zero", 0.0), ("neg", -3.0)]
    df = spark.createDataFrame(rows, "id string, w double")
    got = weighted_sample(df, "w", "id", k=10)
    ids = [r.id for r in got.select("id").collect()]
    assert len(ids) == 10 and "zero" not in ids and "neg" not in ids
    assert ids == [r.id for r in weighted_sample(df, "w", "id", k=10).select("id").collect()]
    assert ids != [r.id for r in weighted_sample(df, "w", "id", k=10, seed="other").select("id").collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    race = spark.createDataFrame(
        [(g, f"{g}:{item}", 9.0 if item == "a" else 1.0)
         for g in range(400) for item in ("a", "b")],
        "g int, id string, w double",
    )
    picked = weighted_sample(race, "w", "id", k=1, strata_col="g")
    n_a = picked.filter(F.col("id").endswith(":a")).count()
    assert picked.count() == 400
    assert 330 <= n_a <= 390, n_a  # E[n_a] = 360, sd ~ 6


def test_temperature_weights_duckdb_replay_and_properties(spark):
    """mT5 temperature mixture: the whole weight table replays EXACTLY
    in DuckDB (oracle-parity evidence pending a driver window slot —
    the hll_by_group convention), tau=1 reproduces natural proportions
    with keep_rate 1 everywhere, tau<1 upweights the small domains
    (keep_rate 1 for the largest boost = smallest group), and the
    rebalance filter keeps a deterministic subset matching the
    hash-bucket rule row for row."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.splits import (
        hash_bucket256,
        temperature_rebalance,
        temperature_weights,
    )

    # skewed domains: 160 / 40 / 8 docs
    rows = [
        (f"d{i}", f"doc {i} body {'x' * (i % 11)}",
         "big" if i < 160 else ("mid" if i < 200 else "small"))
        for i in range(208)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")

    got = {
        r.source: (r.n_docs, r.weight, r.keep_rate, r.rate_num)
        for r in temperature_weights(df, "source", tau=0.3).collect()
    }
    assert set(got) == {"big", "mid", "small"}
    # smallest group is the most-upweighted: keeps everything
    assert got["small"][2] == 1.0 and got["small"][3] == 256
    # keep_rate strictly shrinks as the group grows (tau < 1)
    assert got["small"][2] > got["mid"][2] > got["big"][2]
    # weights normalize
    assert abs(sum(w for _, w, _, _ in got.values()) - 1.0) < 2e-6

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute("""
        WITH counts AS (
          SELECT source AS grp, COUNT(*)::BIGINT AS n_docs FROM t GROUP BY 1
        ),
        tot AS (SELECT SUM(n_docs) AS _n FROM counts),
        scored AS (
          SELECT grp, n_docs, pow(n_docs / _n, 0.3) AS _p FROM counts, tot
        ),
        z AS (SELECT SUM(_p) AS _z FROM scored),
        wtd AS (SELECT grp, n_docs, _p / _z AS _w FROM scored, z),
        mx AS (SELECT MAX(_w / n_docs) AS _mx FROM wtd)
        SELECT grp, n_docs, round(_w, 6) AS weight,
               round((_w / n_docs) / _mx, 6) AS keep_rate,
               GREATEST(CAST(floor(256.0 * (_w / n_docs) / _mx)
                             AS INTEGER), 1) AS rate_num
        FROM wtd, mx
        """).fetchall()
    }
    assert got == oracle

    # tau = 1: natural proportions, nobody downsamples
    nat = {
        r.source: (r.weight, r.keep_rate, r.rate_num)
        for r in temperature_weights(df, "source", tau=1.0).collect()
    }
    for src, (w, kr, rn) in nat.items():
        assert kr == 1.0 and rn == 256
        assert abs(w - got[src][0] / 208) < 2e-6

    # rebalance = broadcast-join + hash filter, reproducible row set
    kept = temperature_rebalance(df, "source", "text", tau=0.3)
    kept_ids = {r.doc_id for r in kept.collect()}
    rates = {s: rn for s, (_, _, _, rn) in got.items()}
    expect = {
        r.doc_id
        for r in df.withColumn("_b", hash_bucket256("text")).collect()
        if r._b < rates[r.source]
    }
    assert kept_ids == expect
    assert kept_ids == {r.doc_id for r in kept.collect()}  # deterministic
    # the filter compares rate_num against a 0..255 bucket: any other
    # rate_scale silently distorts every keep rate, so it must raise
    with pytest.raises(ValueError, match="rate_scale"):
        temperature_rebalance(df, "source", "text", tau=0.3, rate_scale=512)


def test_bootstrap_ci_duckdb_replay_and_statistics(spark):
    """Poisson-bootstrap CI: the interval brackets the true mean on a
    well-behaved fixture, quadrupling the rows roughly halves the
    width (1/sqrt(n)), the whole output is invariant under
    repartitioning (integer-exact replicate sums), and every number
    replays EXACTLY in DuckDB."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.bootstrap import (
        _POISSON1_CDF,
        bootstrap_ci,
    )

    # metric: deterministic pseudo-noise around per-group levels
    rows = [("big", i, 1000 + (i * 7919) % 201) for i in range(800)] + [
        ("small", 10_000 + i, 1000 + (i * 104729) % 201) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "src string, rid long, x long")
    out = {
        r.src: (r.n_rows, r.mean, r.ci_lo, r.ci_hi)
        for r in bootstrap_ci(
            df, "x", "src", "rid", n_boot=40, seed="t1"
        ).collect()
    }
    for src, (n, mean, lo, hi) in out.items():
        assert lo <= mean <= hi, (src, lo, mean, hi)
        assert lo < hi
    big_w = out["big"][3] - out["big"][2]
    small_w = out["small"][3] - out["small"][2]
    # 16x fewer rows -> ~4x wider; assert a conservative 2x
    assert small_w > 2 * big_w

    reparted = {
        r.src: (r.n_rows, r.mean, r.ci_lo, r.ci_hi)
        for r in bootstrap_ci(
            df.repartition(17), "x", "src", "rid", n_boot=40, seed="t1"
        ).collect()
    }
    assert reparted == out

    case = " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(f"""
        WITH reps AS (SELECT unnest(range(40)) AS rep),
        draws AS (
          SELECT src, rep, x,
                 ('0x' || substr(md5('t1:' || CAST(rep AS VARCHAR) || ':'
                    || CAST(rid AS VARCHAR)), 1, 15))::BIGINT
                   / CAST(1152921504606846976 AS DOUBLE) AS u
          FROM t, reps
        ),
        wtd AS (SELECT src, rep, x, CASE {case} ELSE 7 END AS w FROM draws),
        rm AS (
          SELECT src, rep,
                 CAST(SUM(w * x) AS DOUBLE) / SUM(w) AS m
          FROM wtd GROUP BY 1, 2 HAVING SUM(w) > 0
        ),
        ranked AS (
          SELECT src, rep, m,
                 row_number() OVER (PARTITION BY src ORDER BY m, rep) AS rn,
                 COUNT(*) OVER (PARTITION BY src) AS nb
          FROM rm
        ),
        bounds AS (
          SELECT src, round(MIN(m), 6) AS ci_lo, round(MAX(m), 6) AS ci_hi
          FROM ranked
          WHERE rn = GREATEST(CAST(ceil(0.025 * nb) AS INTEGER), 1)
             OR rn = CAST(ceil(0.975 * nb) AS INTEGER)
          GROUP BY 1
        ),
        base AS (
          SELECT src, COUNT(*) AS n_rows,
                 round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean
          FROM t GROUP BY 1
        )
        SELECT src, n_rows, mean, ci_lo, ci_hi FROM base JOIN bounds USING (src)
        """).fetchall()
    }
    assert out == oracle


def test_sketch_drift_report_psi_ks_and_duckdb_replay(spark):
    """Sketch-side drift: identical snapshots score exactly 0 on both
    statistics; a doubled-scale snapshot trips the PSI 0.25 action
    threshold and a large KS; the report replays in DuckDB from the
    same cells (6dp convention)."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.drift import (
        sketch_drift_report,
    )

    base = [(int(1 + (i * i * 7919) % 5000),) for i in range(4000)]
    a = spark.createDataFrame(base, "x long")
    same = sketch_drift_report(a, a, "x").collect()[0]
    assert same.psi == 0.0 and same.ks == 0.0
    assert same.n_a == same.n_b == 4000

    b = spark.createDataFrame([(v * 2,) for (v,) in base], "x long")
    drift = sketch_drift_report(a, b, "x").collect()[0]
    assert drift.psi > 0.25, drift.psi
    assert drift.ks > 0.3, drift.ks

    con = duckdb.connect()
    con.register("ta", a.toPandas())
    con.register("tb", b.toPandas())
    got = (drift.n_a, drift.n_b, drift.n_bins, drift.psi, drift.ks)
    oracle = con.execute("""
    WITH ka AS (
      SELECT length(bin(x)) AS b, (x << 4) >> (length(bin(x)) - 1) AS m,
             COUNT(*) AS cnt_a
      FROM ta WHERE x >= 1 GROUP BY 1, 2
    ),
    kb AS (
      SELECT length(bin(x)) AS b, (x << 4) >> (length(bin(x)) - 1) AS m,
             COUNT(*) AS cnt_b
      FROM tb WHERE x >= 1 GROUP BY 1, 2
    ),
    cells AS (
      SELECT COALESCE(ka.b, kb.b) AS b, COALESCE(ka.m, kb.m) AS m,
             COALESCE(cnt_a, 0) AS ca, COALESCE(cnt_b, 0) AS cb
      FROM ka FULL OUTER JOIN kb ON ka.b = kb.b AND ka.m = kb.m
    ),
    t AS (
      SELECT *,
        SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb,
        COUNT(*) OVER () AS nbins,
        SUM(ca) OVER (ORDER BY b, m ROWS UNBOUNDED PRECEDING) AS cuma,
        SUM(cb) OVER (ORDER BY b, m ROWS UNBOUNDED PRECEDING) AS cumb
      FROM cells
    ),
    terms AS (
      SELECT
        na, nb, nbins,
        ((ca + 1)::DOUBLE / (na + nbins)
          - (cb + 1)::DOUBLE / (nb + nbins))
        * ln(((ca + 1)::DOUBLE / (na + nbins))
           / ((cb + 1)::DOUBLE / (nb + nbins))) AS psi_term,
        abs(cuma::DOUBLE / na - cumb::DOUBLE / nb) AS gap
      FROM t
    )
    SELECT MAX(na), MAX(nb), MAX(nbins),
           round(SUM(psi_term), 6), round(MAX(gap), 6)
    FROM terms
    """).fetchall()[0]
    assert got == tuple(oracle)


def test_sketch_drift_from_streamed_cells_matches_batch(spark, tmp_path):
    """The incremental monitor: drift computed from cell tables
    maintained by the streaming log-bucket sink equals the batch report
    over the same data — the raw corpus never re-scans."""
    from healthcare_dbt_datamart_spark.llmops.drift import (
        sketch_drift_from_cells,
        sketch_drift_report,
    )
    from healthcare_dbt_datamart_spark.llmops.sketches import (
        logbucket_sketch,
    )
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        logbucket_merge_batch,
    )

    va = [(int(1 + (i * 31) % 900),) for i in range(1200)]
    vb = [(int(1 + (i * 67) % 1400),) for i in range(900)]
    a, b = (spark.createDataFrame(v, "x long") for v in (va, vb))
    for t in ("drift_cells_a", "drift_cells_b"):
        if spark.catalog.tableExists(t):
            spark.sql(f"DROP TABLE {t}")
    try:
        # feed each corpus in two micro-batches through the merge sink
        for name, df in (("drift_cells_a", a), ("drift_cells_b", b)):
            half = df.count() // 2
            first = df.limit(half)
            logbucket_merge_batch(
                spark, name, logbucket_sketch(first, "x"), 0
            )
            logbucket_merge_batch(
                spark, name, logbucket_sketch(df.exceptAll(first), "x"), 1
            )
        streamed = sketch_drift_from_cells(
            spark.table("drift_cells_a").filter("b != -1"),
            spark.table("drift_cells_b").filter("b != -1"),
        ).collect()[0]
        batch = sketch_drift_report(a, b, "x").collect()[0]
        assert tuple(streamed) == tuple(batch)
        assert streamed.psi > 0
    finally:
        for t in ("drift_cells_a", "drift_cells_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bootstrap_diff_ci_detects_gap_and_replays(spark):
    """A/B difference bootstrap: a real 40-point gap comes back
    significant with the interval bracketing it; identical
    distributions come back insignificant straddling 0; the full row
    replays exactly in DuckDB (paired replicates, integer-exact
    sums)."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.bootstrap import (
        _POISSON1_CDF,
        bootstrap_diff_ci,
    )

    rows = (
        [("a", i, 1040 + (i * 7919) % 101) for i in range(400)]
        + [("b", 10_000 + i, 1000 + (i * 104729) % 101) for i in range(400)]
        + [("c", 20_000 + i, 1040 + (i * 104729) % 101) for i in range(400)]
    )
    df = spark.createDataFrame(rows, "src string, rid long, x long")

    gap = bootstrap_diff_ci(df, "x", "src", "rid", "a", "b", seed="d1")
    r = gap.collect()[0]
    assert r.significant is True
    assert r.ci_lo <= r.diff <= r.ci_hi
    assert r.ci_lo > 20  # 40-point true gap, noise sd ~29

    null = bootstrap_diff_ci(df, "x", "src", "rid", "a", "c", seed="d1")
    r0 = null.collect()[0]
    assert r0.significant is False
    assert r0.ci_lo < 0 < r0.ci_hi

    case = " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = con.execute(f"""
    WITH two AS (SELECT * FROM t WHERE src IN ('a', 'b')),
    reps AS (SELECT unnest(range(40)) AS rep),
    draws AS (
      SELECT src, rep, x,
             ('0x' || substr(md5('d1:' || CAST(rep AS VARCHAR) || ':'
                || CAST(rid AS VARCHAR)), 1, 15))::BIGINT
               / CAST(1152921504606846976 AS DOUBLE) AS u
      FROM two, reps
    ),
    wtd AS (SELECT src, rep, x, CASE {case} ELSE 7 END AS w FROM draws),
    rm AS (
      SELECT src, rep, CAST(SUM(w * x) AS DOUBLE) / SUM(w) AS m
      FROM wtd GROUP BY 1, 2 HAVING SUM(w) > 0
    ),
    diffs AS (
      SELECT rep,
             MAX(CASE WHEN src = 'a' THEN m END)
               - MAX(CASE WHEN src = 'b' THEN m END) AS d
      FROM rm GROUP BY rep
      HAVING MAX(CASE WHEN src = 'a' THEN m END) IS NOT NULL
         AND MAX(CASE WHEN src = 'b' THEN m END) IS NOT NULL
    ),
    ranked AS (
      SELECT d, row_number() OVER (ORDER BY d, rep) AS rn,
             COUNT(*) OVER () AS nb
      FROM diffs
    ),
    bounds AS (
      SELECT round(MIN(d), 6) AS ci_lo, round(MAX(d), 6) AS ci_hi
      FROM ranked
      WHERE rn = GREATEST(CAST(ceil(0.025 * nb) AS INTEGER), 1)
         OR rn = CAST(ceil(0.975 * nb) AS INTEGER)
    ),
    base AS (
      SELECT
        round(AVG(CASE WHEN src = 'a' THEN x END), 6) AS mean_a,
        round(AVG(CASE WHEN src = 'b' THEN x END), 6) AS mean_b,
        round(AVG(CASE WHEN src = 'a' THEN x END)
              - AVG(CASE WHEN src = 'b' THEN x END), 6) AS diff
      FROM two
    )
    SELECT mean_a, mean_b, diff, ci_lo, ci_hi,
           (ci_lo > 0 OR ci_hi < 0) AS significant
    FROM base, bounds
    """).fetchall()[0]
    assert tuple(r) == tuple(oracle)


def test_temperature_weights_from_counts_matches_batch(spark):
    """The incremental mixture path: rates derived from a maintained
    (grp, n_docs) counts table equal the batch computation over the raw
    corpus — a streamed count SUM-merge keeps mixture rates fresh with
    no corpus re-scan."""
    from pyspark.sql import functions as F2

    from healthcare_dbt_datamart_spark.llmops.splits import (
        temperature_weights,
        temperature_weights_from_counts,
    )

    rows = [
        (f"d{i}", "big" if i < 160 else ("mid" if i < 200 else "small"))
        for i in range(208)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    batch = sorted(
        map(tuple, temperature_weights(df, "source", tau=0.3).collect())
    )
    counts = df.groupBy(F2.col("source").alias("grp")).agg(
        F2.count(F2.lit(1)).alias("n_docs")
    )
    inc = sorted(
        map(tuple, temperature_weights_from_counts(counts, tau=0.3).collect())
    )
    assert batch == inc


def test_index_release_pipeline_end_to_end(spark):
    """The ANN-index release DAG on the registry runtime: quantizers
    persist as a relation and round-trip exactly, the codes table lands
    PARTITIONED BY cell through the registry's dbt-style partition_by
    config (probe scan shows PartitionFilters), serving against the
    released table matches the in-plan IVFADC row-for-row, the manifest
    accounts for every vector at the declared code width, and the
    released index accepts an incremental upsert."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        ivfadc_topk,
        ivfadc_topk_indexed,
        ivfpq_index_upsert,
        kmeans_lloyd,
        pq_codebooks_trained,
    )
    from healthcare_dbt_datamart_spark.models.index_release import (
        build_index_release,
        quantizers_from_relation,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for t in ("index_quantizers", "index_codes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        r = build_index_release(spark, emb)
        r.run()

        # quantizer relation round-trips the deterministic fit exactly
        cents, books = quantizers_from_relation(
            spark.table("index_quantizers")
        )
        assert cents == kmeans_lloyd(emb, k=8, n_iter=2)
        assert books == pq_codebooks_trained(emb, m=8, k=16, n_iter=2)

        # partitioned layout: a cell probe is a partition prune
        probe = spark.table("index_codes").filter(F.col("cell") == 1)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "cell" in plan.split("PartitionFilters")[1][:200]

        # serving parity against the released table
        kwargs = dict(
            query_id=3, k=5, shortlist=20, nprobe=2,
            centroids=cents, codebooks=books,
        )
        indexed = ivfadc_topk_indexed(emb, "index_codes", **kwargs).collect()
        inplan = ivfadc_topk(
            emb, n_centroids=8, m=8, n_codes=16, **kwargs
        ).collect()
        assert [tuple(x) for x in indexed] == [tuple(x) for x in inplan]

        # manifest accounts for every vector at the declared width
        man = r.build("index_manifest").collect()
        assert sum(x.n_vectors for x in man) == emb.count()
        assert all(
            x.min_code_width == 8 and x.max_code_width == 8 for x in man
        )

        # the release accepts incremental maintenance
        delta = emb.filter(F.col("vec_id") < 5)
        ivfpq_index_upsert(delta, "index_codes", cents, books)
        assert spark.table("index_codes").count() == emb.count()
    finally:
        for t in ("index_quantizers", "index_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_majority_vote_and_annotator_agreement(spark):
    """Consensus labeling: majority with deterministic lexicographic
    tie-break, agreement ratios, per-annotator reliability, and an
    exact DuckDB replay of the consensus table."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        annotator_agreement,
        majority_vote,
    )

    rows = [
        # item 1: clear consensus 'good' (3-1); annotator a4 dissents
        (1, "a1", "good"), (1, "a2", "good"), (1, "a3", "good"), (1, "a4", "bad"),
        # item 2: 2-2 tie -> lexicographically smallest wins ('bad')
        (2, "a1", "good"), (2, "a2", "bad"), (2, "a3", "bad"), (2, "a4", "good"),
        # item 3: unanimous
        (3, "a1", "bad"), (3, "a2", "bad"),
    ]
    votes = spark.createDataFrame(
        rows, "item_id long, annotator_id string, label string"
    )
    maj = {
        r.item_id: (r.majority_label, r.n_votes, r.n_majority, r.agreement)
        for r in majority_vote(votes).collect()
    }
    assert maj[1] == ("good", 4, 3, 0.75)
    assert maj[2] == ("bad", 4, 2, 0.5)
    assert maj[3] == ("bad", 2, 2, 1.0)

    rel = {
        r.annotator_id: (r.n_items, r.n_agree, r.agree_rate)
        for r in annotator_agreement(votes).collect()
    }
    assert rel["a1"] == (3, 2, round(2 / 3, 6))
    assert rel["a2"] == (3, 3, 1.0)
    assert rel["a4"] == (2, 0, 0.0)  # dissents on item 1, picked "good" on the tie

    con = duckdb.connect()
    con.register("t", votes.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute("""
        WITH c AS (
          SELECT item_id, label AS lab, COUNT(*) AS n FROM t GROUP BY 1, 2
        ),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY item_id
                      ORDER BY n DESC, lab ASC) AS rn,
                 SUM(n) OVER (PARTITION BY item_id) AS n_votes
          FROM c
        )
        SELECT item_id, lab, n_votes, n, round(n / CAST(n_votes AS DOUBLE), 6)
        FROM r WHERE rn = 1
        """).fetchall()
    }
    assert maj == oracle


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.sampled_from("abc")),
        min_size=1,
        max_size=40,
    )
)
def test_majority_vote_invariants_property(spark, pairs):
    """For ANY vote multiset: the consensus count is the item's maximum,
    the label is the lexicographically smallest among the argmax set,
    n_votes is the item's vote total, and agreement = n_majority /
    n_votes at 6dp — one output row per item."""
    from collections import Counter

    from healthcare_dbt_datamart_spark.llmops.preferences import majority_vote

    votes = spark.createDataFrame(pairs, "item_id long, label string")
    got = {r.item_id: r for r in majority_vote(votes).collect()}
    per_item: dict = {}
    for i, lab in pairs:
        per_item.setdefault(i, Counter())[lab] += 1
    assert set(got) == set(per_item)
    for i, counts in per_item.items():
        r = got[i]
        top = max(counts.values())
        assert r.n_majority == top
        assert r.majority_label == min(
            lab for lab, n in counts.items() if n == top
        )
        assert r.n_votes == sum(counts.values())
        assert r.agreement == round(top / sum(counts.values()), 6)


def test_bradley_terry_fixed_point_ranking_and_replay(spark):
    """Fixed-point Bradley-Terry: a dominance hierarchy comes back in
    rating order, the result is bit-exact under repartitioning
    (integer arithmetic), and two MM rounds replay cell-for-cell in
    DuckDB's unrolled CTEs."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry,
    )

    # A beats B 8-2, B beats C 7-3, A beats C 9-1: true order A > B > C
    rows = (
        [("A", "B")] * 8 + [("B", "A")] * 2
        + [("B", "C")] * 7 + [("C", "B")] * 3
        + [("A", "C")] * 9 + [("C", "A")] * 1
    )
    out = spark.createDataFrame(rows, "winner_id string, loser_id string")
    got = {
        r.item: (r.wins2, r.comparisons2, r.rating_fp)
        for r in bradley_terry(out, n_iter=2).collect()
    }
    assert got["A"][2] > got["B"][2] > got["C"][2]
    # doubled+smoothed wins: A = 2*(8+9)+2 = 36
    assert got["A"][0] == 36

    reparted = {
        r.item: (r.wins2, r.comparisons2, r.rating_fp)
        for r in bradley_terry(out.repartition(13), n_iter=2).collect()
    }
    assert reparted == got

    con = duckdb.connect()
    con.register("t", out.toPandas())
    # unrolled MM: the same integer update, two rounds, scale 1e6
    s2 = 10**12
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(f"""
        WITH w AS (
          SELECT winner_id AS i, loser_id AS j, 2 * COUNT(*) + 1 AS w2
          FROM t GROUP BY 1, 2
        ),
        obs AS (
          SELECT i, j FROM w UNION SELECT j, i FROM w
        ),
        bth AS (
          SELECT obs.i, obs.j, COALESCE(w.w2, 1) AS w2
          FROM obs LEFT JOIN w ON w.i = obs.i AND w.j = obs.j
        ),
        pairs AS (
          SELECT a.i, a.j, a.w2, a.w2 + b.w2 AS n2
          FROM bth a JOIN bth b ON b.i = a.j AND b.j = a.i
        ),
        wt AS (SELECT i, SUM(w2) AS wins2 FROM pairs GROUP BY 1),
        nt AS (SELECT i, SUM(n2) AS comparisons2 FROM pairs GROUP BY 1),
        r0 AS (SELECT i AS id, CAST(1000000 AS BIGINT) AS p FROM wt),
        d1 AS (
          SELECT pairs.i, SUM((n2 * CAST({s2} AS BIGINT))
                   // (ri.p + rj.p)) AS D
          FROM pairs JOIN r0 ri ON ri.id = pairs.i
                     JOIN r0 rj ON rj.id = pairs.j
          GROUP BY 1
        ),
        r1 AS (
          SELECT d1.i AS id, (wins2 * CAST({s2} AS BIGINT)) // D AS p
          FROM d1 JOIN wt ON wt.i = d1.i
        ),
        d2 AS (
          SELECT pairs.i, SUM((n2 * CAST({s2} AS BIGINT))
                   // (ri.p + rj.p)) AS D
          FROM pairs JOIN r1 ri ON ri.id = pairs.i
                     JOIN r1 rj ON rj.id = pairs.j
          GROUP BY 1
        ),
        r2 AS (
          SELECT d2.i AS id, (wins2 * CAST({s2} AS BIGINT)) // D AS p
          FROM d2 JOIN wt ON wt.i = d2.i
        )
        SELECT r2.id, wins2, comparisons2, p
        FROM r2 JOIN wt ON wt.i = r2.id JOIN nt ON nt.i = r2.id
        """).fetchall()
    }
    assert got == oracle


def test_token_balanced_shards_lpt_balance_and_replay(spark):
    """LPT shard dealing: every doc lands in exactly one shard, shard
    token totals stay within a tight band even with a skewed length
    distribution (vs the hash dealer's wide spread), and the assignment
    replays exactly in DuckDB."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.packing import (
        token_balanced_shards,
    )

    # Zipf-ish heavy tail: the realistic corpus length profile
    rows = [
        (i, " ".join(["w"] * max(10, int(400 / (1 + i) ** 0.5))))
        for i in range(205)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_balanced_shards(df, "text", "doc_id", n_shards=8).collect()
    assert len(out) == 205 and len({r.doc_id for r in out}) == 205
    totals: dict = {}
    for r in out:
        totals[r.shard] = totals.get(r.shard, 0) + r.n_tokens
    assert set(totals) == set(range(8))
    assert max(totals.values()) <= 1.25 * min(totals.values()), totals

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(r"""
        WITH toks AS (
          SELECT doc_id,
                 len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
          FROM t
        )
        SELECT doc_id, n_tokens,
               CAST(CASE WHEN cyc < 8 THEN cyc ELSE 15 - cyc END
                    AS INTEGER) AS shard
        FROM (SELECT doc_id, n_tokens,
                     (row_number() OVER (ORDER BY n_tokens DESC,
                        doc_id ASC) - 1) % 16 AS cyc
              FROM toks)
        """).fetchall()
    }
    assert {r.doc_id: (r.n_tokens, r.shard) for r in out} == oracle


def test_pass_at_k_estimator_matches_reference_and_replays(spark):
    """pass@k: matches the Codex paper's reference numpy implementation
    on every (n, c, k) cell, handles the n−c<k → 1.0 and n<k → NULL
    edges, and the ordered-fold product replays exactly in DuckDB."""
    import duckdb
    import numpy as np

    from healthcare_dbt_datamart_spark.llmops.preferences import pass_at_k

    # reference from the paper (verbatim math, independent code)
    def ref(n, c, k):
        if n - c < k:
            return 1.0
        return 1.0 - np.prod(1.0 - k / np.arange(n - c + 1, n + 1))

    rows = []
    cases = {"t1": (10, 3), "t2": (10, 0), "t3": (5, 5), "t4": (12, 2),
             "t5": (3, 1)}
    for t, (n, c) in cases.items():
        rows += [(t, i, i < c) for i in range(n)]
    df = spark.createDataFrame(rows, "task_id string, sid int, passed boolean")
    got = {
        r.task_id: (r.n_samples, r.n_passed, r.pass_at_1, r.pass_at_10)
        for r in pass_at_k(df, ks=(1, 10)).collect()
    }
    for t, (n, c) in cases.items():
        n_s, n_p, p1, p10 = got[t]
        assert (n_s, n_p) == (n, c)
        assert p1 == round(ref(n, c, 1), 6), (t, p1)
        if n < 10:
            assert p10 is None  # undefined, surfaced not clamped
        else:
            assert p10 == round(ref(n, c, 10), 6), (t, p10)
    assert got["t3"][2] == 1.0  # all passing

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute("""
        WITH agg AS (
          SELECT task_id, COUNT(*) AS n, SUM(CAST(passed AS BIGINT)) AS c
          FROM t GROUP BY 1
        )
        SELECT task_id, n, c,
          CASE WHEN n < 1 THEN NULL WHEN n - c < 1 THEN 1.0
               ELSE round(1.0 - list_reduce(
                 list_transform(range(0, 1),
                   j -> CAST(n - c - j AS DOUBLE) / (n - j)),
                 (a, b) -> a * b), 6) END AS p1,
          CASE WHEN n < 10 THEN NULL WHEN n - c < 10 THEN 1.0
               ELSE round(1.0 - list_reduce(
                 list_transform(range(0, 10),
                   j -> CAST(n - c - j AS DOUBLE) / (n - j)),
                 (a, b) -> a * b), 6) END AS p10
        FROM agg
        """).fetchall()
    }
    assert got == oracle


def test_pref_counts_streaming_merge_feeds_bradley_terry(spark):
    """The live-leaderboard path: outcomes ingested in micro-batches
    (sum-merge with an exactly-once ledger — a replayed batch is
    skipped), then ratings re-derived from the maintained counts table
    equal the single-shot bradley_terry over all outcomes bit-for-bit."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry,
        bradley_terry_from_pairs,
    )
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        pref_counts_merge_batch,
    )

    rows = (
        [("A", "B")] * 8 + [("B", "A")] * 2
        + [("B", "C")] * 7 + [("C", "B")] * 3
        + [("A", "C")] * 9 + [("C", "A")] * 1
    )
    half = len(rows) // 2
    name = "pref_counts_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        b0 = spark.createDataFrame(rows[:half], "winner_id string, loser_id string")
        b1 = spark.createDataFrame(rows[half:], "winner_id string, loser_id string")
        assert pref_counts_merge_batch(spark, name, b0, 0) is True
        assert pref_counts_merge_batch(spark, name, b0, 0) is False  # replay
        assert pref_counts_merge_batch(spark, name, b1, 1) is True

        counts = spark.table(name).filter("i != '__batch_ledger__'")
        streamed = {
            r.item: (r.wins2, r.comparisons2, r.rating_fp)
            for r in bradley_terry_from_pairs(counts, n_iter=2).collect()
        }
        full = spark.createDataFrame(rows, "winner_id string, loser_id string")
        batch = {
            r.item: (r.wins2, r.comparisons2, r.rating_fp)
            for r in bradley_terry(full, n_iter=2).collect()
        }
        assert streamed == batch
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_fleiss_kappa_reference_values_and_ragged_panel_raises(spark):
    """Fleiss' kappa: perfect agreement scores 1, the textbook
    worked example (Fleiss 1971 / Wikipedia's 10-item 14-rater table)
    reproduces its published value, uniform-random-looking votes land
    near 0, and a ragged panel raises loudly."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.preferences import fleiss_kappa

    # perfect agreement: 4 raters, all same label per item
    perfect = spark.createDataFrame(
        [(i, f"a{r}", "x" if i % 2 else "y") for i in range(6) for r in range(4)],
        "item_id long, annotator_id string, label string",
    )
    r = fleiss_kappa(perfect).collect()[0]
    assert r.kappa == 1.0 and r.n_raters == 4 and r.n_items == 6

    # Wikipedia's worked example: 10 subjects x 14 raters, 5 categories,
    # counts per (subject, category); kappa = 0.210
    table = [
        [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6], [0, 3, 9, 2, 0],
        [2, 2, 8, 1, 1], [7, 7, 0, 0, 0], [3, 2, 6, 3, 0], [2, 5, 3, 2, 2],
        [6, 5, 2, 1, 0], [0, 2, 2, 3, 7],
    ]
    rows = []
    for i, cats in enumerate(table):
        rater = 0
        for k, cnt in enumerate(cats):
            for _ in range(cnt):
                rows.append((i, f"r{rater}", f"c{k}"))
                rater += 1
    wiki = spark.createDataFrame(
        rows, "item_id long, annotator_id string, label string"
    )
    w = fleiss_kappa(wiki).collect()[0]
    assert w.kappa == 0.209931  # published 0.210 (6dp of the exact rational)
    assert w.p_bar == round(0.378, 3) or abs(w.p_bar - 0.378) < 5e-4

    # ragged panel: loud failure
    ragged = spark.createDataFrame(
        [(1, "a", "x"), (1, "b", "x"), (2, "a", "y")],
        "item_id long, annotator_id string, label string",
    )
    with pytest.raises(ValueError, match="same n"):
        fleiss_kappa(ragged)


def test_krippendorff_alpha_bruteforce_ragged_and_duckdb(spark):
    """Krippendorff's alpha (nominal): exact-Fraction parity with an
    independent coincidence-matrix brute force on a ragged panel with
    unpairable units, layout invariance, perfect-agreement = 1, loud
    failures on single-category and nothing-pairable inputs, and a
    DuckDB replay of the bounded aggregates feeding the α fold."""
    from fractions import Fraction

    import duckdb
    import pytest

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        krippendorff_alpha,
    )

    # ragged deterministic panel: unit sizes 2..5, three categories,
    # plus two unpairable single-rating units
    rows = []
    for u in range(30):
        m = 2 + (u * 7) % 4
        for r in range(m):
            lab = "abc"[((u * 13 + r * 5) % 7) % 3]
            rows.append((u, f"r{r}", lab))
    rows += [(100, "r0", "a"), (101, "r1", "b")]
    votes = spark.createDataFrame(
        rows, "item_id long, annotator_id string, label string"
    )

    got = krippendorff_alpha(votes).collect()[0]

    # brute force: literal coincidence-matrix arithmetic in Fractions
    import collections

    units = collections.defaultdict(list)
    for u, _, lab in rows:
        units[u].append(lab)
    pairable = {u: v for u, v in units.items() if len(v) >= 2}
    n = sum(len(v) for v in pairable.values())
    o_cc = Fraction(0)
    marg = collections.Counter()
    for vals in pairable.values():
        m = len(vals)
        cnt = collections.Counter(vals)
        marg.update(cnt)
        for c, k in cnt.items():
            o_cc += Fraction(k * (k - 1), m - 1)
    a_o = o_cc / n
    a_e = Fraction(
        sum(s * (s - 1) for s in marg.values()), n * (n - 1)
    )
    alpha = (a_o - a_e) / (1 - a_e)
    assert got.n_units == len(pairable)
    assert got.n_unpairable == 2
    assert got.n_values == n
    assert got.n_categories == 3
    assert got.a_o == round(float(a_o), 6)
    assert got.a_e == round(float(a_e), 6)
    assert got.alpha == round(float(alpha), 6)
    # near-random labels: alpha should sit close to 0, below kappa=1
    assert -0.3 < got.alpha < 0.3

    # layout invariance
    got17 = krippendorff_alpha(votes.repartition(17)).collect()[0]
    assert got17 == got

    # DuckDB replay of the two bounded aggregates, then the same fold
    con = duckdb.connect()
    con.register("t", votes.toPandas())
    by_m = con.execute("""
        WITH cells AS (
          SELECT item_id, label, COUNT(*) AS n_uc FROM t GROUP BY 1, 2
        ),
        per_item AS (
          SELECT item_id, SUM(n_uc) AS m,
                 SUM(n_uc * (n_uc - 1)) AS q
          FROM cells GROUP BY 1
        )
        SELECT m, COUNT(*) AS units, SUM(q) AS Q
        FROM per_item WHERE m >= 2 GROUP BY 1
    """).fetchall()
    s_k = con.execute("""
        WITH cells AS (
          SELECT item_id, label, COUNT(*) AS n_uc FROM t GROUP BY 1, 2
        ),
        ok AS (
          SELECT item_id FROM cells GROUP BY 1 HAVING SUM(n_uc) >= 2
        )
        SELECT label, SUM(n_uc) AS S FROM cells
        WHERE item_id IN (SELECT item_id FROM ok) GROUP BY 1
    """).fetchall()
    n_d = sum(int(m) * int(u) for m, u, _ in by_m)
    a_o_d = sum(
        (Fraction(int(q), int(m) - 1) for m, _, q in by_m), Fraction(0)
    ) / n_d
    a_e_d = Fraction(
        sum(int(s) * (int(s) - 1) for _, s in s_k), n_d * (n_d - 1)
    )
    assert round(float((a_o_d - a_e_d) / (1 - a_e_d)), 6) == got.alpha

    # perfect agreement on a ragged panel is still exactly 1
    perfect = spark.createDataFrame(
        [(i, f"r{r}", "x" if i % 2 else "y")
         for i in range(6) for r in range(2 + i % 3)],
        "item_id long, annotator_id string, label string",
    )
    assert krippendorff_alpha(perfect).collect()[0].alpha == 1.0

    # single category everywhere: A_e = 1, undefined -> loud
    mono = spark.createDataFrame(
        [(1, "a", "x"), (1, "b", "x"), (2, "a", "x"), (2, "b", "x")],
        "item_id long, annotator_id string, label string",
    )
    with pytest.raises(ValueError, match="single category"):
        krippendorff_alpha(mono)

    # nothing pairable: loud
    solo = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")],
        "item_id long, annotator_id string, label string",
    )
    with pytest.raises(ValueError, match="pairable"):
        krippendorff_alpha(solo)

    # NULL labels are MISSING ratings, not a category (r7 ADVICE):
    # adding NULL votes must not change alpha, and a unit reduced to
    # one real rating becomes unpairable instead of "agreeing with
    # itself" through two NULLs.
    clean = spark.createDataFrame(
        [(1, "a", "x"), (1, "b", "x"), (2, "a", "x"), (2, "b", "y"),
         (3, "a", "y"), (3, "b", "y")],
        "item_id long, annotator_id string, label string",
    )
    base_row = krippendorff_alpha(clean).collect()[0]
    with_nulls = clean.unionByName(spark.createDataFrame(
        [(1, "c", None), (4, "a", None), (4, "b", None), (5, "a", "x"),
         (5, "b", None)],
        "item_id long, annotator_id string, label string",
    ))
    got_nulls = krippendorff_alpha(with_nulls).collect()[0]
    assert got_nulls.alpha == base_row.alpha
    assert got_nulls.n_values == base_row.n_values
    # unit 5 kept one real rating -> unpairable and counted as such
    assert got_nulls.n_unpairable == base_row.n_unpairable + 1


def test_weighted_consensus_flips_noisy_tie_and_replays(spark):
    """Dawid-Skene-style reweighting: a tie that unweighted majority
    breaks lexicographically flips to the reliable raters' label once
    ballots carry agreement weights; clear-consensus items never flip;
    the whole table replays exactly in DuckDB (decimal mass sums)."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        weighted_consensus,
    )

    rows = [
        # items 1-4: r1/r2 always agree ('x'), r3/r4 disagree with them
        # half the time — r1/r2 earn higher agreement rates
        (1, "r1", "x"), (1, "r2", "x"), (1, "r3", "x"), (1, "r4", "x"),
        (2, "r1", "x"), (2, "r2", "x"), (2, "r3", "y"), (2, "r4", "y"),
        (3, "r1", "x"), (3, "r2", "x"), (3, "r3", "x"), (3, "r4", "x"),
        (4, "r1", "x"), (4, "r2", "x"), (4, "r3", "y"), (4, "r4", "y"),
        # item 5: the decisive case — 2-2 tie, unweighted majority
        # breaks to 'a' lexicographically, but r1/r2 vote 'b'
        (5, "r1", "b"), (5, "r2", "b"), (5, "r3", "a"), (5, "r4", "a"),
    ]
    votes = spark.createDataFrame(
        rows, "item_id long, annotator_id string, label string"
    )
    out = {
        r.item_id: (r.weighted_label, r.majority_label, r.flipped)
        for r in weighted_consensus(votes).collect()
    }
    assert out[5] == ("b", "a", True)  # reliability breaks the tie
    for i in (1, 2, 3, 4):
        assert out[i][2] is False
    assert out[1] == ("x", "x", False)

    con = duckdb.connect()
    con.register("t", votes.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute("""
        WITH c AS (
          SELECT item_id, label AS lab, COUNT(*) AS n FROM t GROUP BY 1, 2
        ),
        mj AS (
          SELECT item_id, lab AS majority_label FROM (
            SELECT *, row_number() OVER (PARTITION BY item_id
                        ORDER BY n DESC, lab ASC) AS rn FROM c)
          WHERE rn = 1
        ),
        rel AS (
          SELECT annotator_id,
                 round(SUM(CASE WHEN t.label = mj.majority_label
                           THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE), 6) AS agree_rate
          FROM t JOIN mj USING (item_id) GROUP BY 1
        ),
        wts AS (
          SELECT annotator_id,
                 GREATEST(CAST(agree_rate AS DECIMAL(10,6)),
                          CAST(0.05 AS DECIMAL(10,6))) AS wt
          FROM rel
        ),
        mass AS (
          SELECT item_id, label AS lab, SUM(wt) AS m
          FROM t JOIN wts USING (annotator_id) GROUP BY 1, 2
        ),
        win AS (
          SELECT item_id, lab AS weighted_label FROM (
            SELECT *, row_number() OVER (PARTITION BY item_id
                        ORDER BY m DESC, lab ASC) AS rn FROM mass)
          WHERE rn = 1
        )
        SELECT win.item_id, weighted_label, majority_label,
               weighted_label != majority_label AS flipped
        FROM win JOIN mj USING (item_id)
        """).fetchall()
    }
    assert out == oracle


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=500),
        min_size=2, max_size=8,
    )
)
def test_temperature_weights_properties_hold_for_any_counts(spark, sizes):
    """Property sweep: for ANY group-size vector, weights sum to 1,
    every keep_rate sits in (0, 1] with the smallest group at exactly
    1, and keep_rate is non-increasing in group size (tau < 1
    upweights small domains)."""
    from healthcare_dbt_datamart_spark.llmops.splits import (
        temperature_weights,
    )

    rows = [
        (f"doc{g}_{i}", f"g{g}")
        for g, n in enumerate(sizes)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = {
        r.source: (r.n_docs, r.weight, r.keep_rate)
        for r in temperature_weights(df, "source", tau=0.3).collect()
    }
    assert abs(sum(w for _, w, _ in out.values()) - 1.0) < 5e-6
    assert all(0 < kr <= 1.0 for _, _, kr in out.values())
    by_size = sorted(out.values())
    assert by_size[0][2] == 1.0  # smallest group keeps everything
    for (n1, _, k1), (n2, _, k2) in zip(by_size, by_size[1:]):
        assert k2 <= k1 + 1e-9 or n1 == n2


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),
            st.integers(min_value=0, max_value=499),
        ),
        min_size=3, max_size=30, unique=True,
    )
)
def test_zorder_key_monotone_per_dimension(spark, pts):
    """Property sweep: with the other coordinate fixed, the Morton key
    is monotone in each dimension's bucket — the ordering property the
    range-partitioned layout's per-dimension pruning rests on."""
    from pyspark.sql import functions as F2

    from healthcare_dbt_datamart_spark.functions.layout import zorder_key

    rows = [(i, a, b) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, "rid long, a long, b long")
    z = {
        r.rid: r.z
        for r in df.select(
            "rid",
            zorder_key(
                F2.col("a"), F2.col("b"),
                F2.lit(0), F2.lit(999), F2.lit(0), F2.lit(499),
            ).alias("z"),
        ).collect()
    }

    def bucket(v, hi):
        return (v - 0) * 65536 // (hi - 0 + 1)

    for i, (a1, b1) in enumerate(pts):
        for j, (a2, b2) in enumerate(pts):
            if b1 == b2 and bucket(a1, 999) < bucket(a2, 999):
                assert z[rows[i][0]] < z[rows[j][0]]
            if a1 == a2 and bucket(b1, 499) < bucket(b2, 499):
                assert z[rows[i][0]] < z[rows[j][0]]


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=4, max_size=40,
    )
)
def test_bradley_terry_properties_for_any_outcomes(spark, raw_pairs):
    """Property sweep over arbitrary outcome lists: self-comparisons
    are dropped, ratings are positive for every participating item,
    doubling every outcome preserves the RANKING (BT is
    count-ratio-driven; only the smoothing fraction shifts), and the
    result is repartition-invariant."""
    from hypothesis import assume

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry,
    )

    pairs = [(f"i{a}", f"i{b}") for a, b in raw_pairs if a != b]
    assume(len(pairs) >= 2)
    df = spark.createDataFrame(pairs, "winner_id string, loser_id string")
    got = {
        r.item: r.rating_fp for r in bradley_terry(df, n_iter=2).collect()
    }
    assert got and all(p > 0 for p in got.values())

    doubled = spark.createDataFrame(
        pairs * 2, "winner_id string, loser_id string"
    )
    got2 = {
        r.item: r.rating_fp
        for r in bradley_terry(doubled, n_iter=2).collect()
    }
    # ranking preserved for every CLEARLY-separated pair. The margin
    # must dominate the smoothing differential: doubling the outcomes
    # halves each item's Laplace share, and at n_iter=2 (far from
    # convergence) items with few comparisons shift by well over 5% —
    # hypothesis found a 1.05-margin flip of 0.7% at the top of a
    # 7-outcome list. 1.5x separation is beyond any smoothing-driven
    # shift while still asserting real dominance survives doubling.
    for a in got:
        for b in got:
            if got[a] > got[b] * 1.5:
                assert got2[a] > got2[b], (a, b, got, got2)

    rep = {
        r.item: r.rating_fp
        for r in bradley_terry(df.repartition(7), n_iter=2).collect()
    }
    assert rep == got


def test_temperature_rate_floor_never_deletes_a_group(spark):
    """Extreme imbalance: the head group's keep_rate falls below
    1/256, but the clamped rate_num keeps at least bucket 0 — the
    group is down-sampled to the floor rate, never silently dropped."""
    from healthcare_dbt_datamart_spark.llmops.splits import (
        temperature_weights,
    )

    rows = [(f"h{i}", "head") for i in range(60000)] + [
        (f"t{i}", "tail") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = {
        r.source: (r.keep_rate, r.rate_num)
        for r in temperature_weights(df, "source", tau=0.3).collect()
    }
    assert out["head"][0] < 1 / 256  # genuinely below the quantum
    assert out["head"][1] == 1  # clamped, not deleted
    assert out["tail"][1] == 256


def test_sketch_drift_empty_snapshot_alarms_maximally(spark):
    """An empty candidate snapshot (broken ingest) must read as MAXIMAL
    drift, not NULL-that-compares-false: ks = 1.0 and a large psi."""
    from healthcare_dbt_datamart_spark.llmops.drift import (
        sketch_drift_report,
    )

    a = spark.createDataFrame([(int(1 + i % 50),) for i in range(500)], "x long")
    b = a.filter("x < 0")  # empty
    r = sketch_drift_report(a, b, "x").collect()[0]
    assert r.n_b == 0 and r.ks == 1.0  # KS carries the empty-side alarm
    assert r.psi > 0  # smoothing damps PSI when one side is empty


def test_bootstrap_diff_ci_handles_dotted_group_names(spark):
    """Group VALUES become pivot column names; ids with dots (model
    versions — the natural A/B keys) must not break column resolution."""
    from healthcare_dbt_datamart_spark.llmops.bootstrap import (
        bootstrap_diff_ci,
    )

    rows = [("model.v1", i, 1050 + (i * 7) % 21) for i in range(200)] + [
        ("model.v2", 10_000 + i, 1000 + (i * 7) % 21) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "src string, rid long, x long")
    r = bootstrap_diff_ci(
        df, "x", "src", "rid", "model.v1", "model.v2"
    ).collect()[0]
    assert r.significant is True and r.ci_lo > 0


def test_redact_mask_metacharacters_are_literal(spark):
    """Review regression: a mask containing Java-replacement
    metacharacters ($, \\) must substitute literally, not throw
    'Illegal group reference' or splice capture groups."""
    df = spark.createDataFrame(
        [(1, "call 555-123-4567 now")], "doc_id long, text string"
    )
    pats = {"phone": r"\b\d{3}-\d{3}-\d{4}\b"}
    for mask in ("$", "$1", "\\x", "<$>"):
        r = redact_report(df, "text", "doc_id", pats, mask=mask).collect()[0]
        assert r.phone_hits == 1
        assert r.redacted_len == len("call  now") + len(mask)


def test_bigram_interp_scores_duckdb_replay_and_properties(spark):
    """Reference-model JM bigram scores (the CCNet split): docs the
    reference explains score low, rare-word docs score high, every
    position stays finite on fully-OOV text, sub-2-token docs are
    excluded, lam=0 degenerates to the Laplace unigram backoff, the
    SELF-scoring saturation (P >= lam on a singleton's unique pairs) is
    pinned as the reason the reference split exists, and the whole
    table replays EXACTLY in DuckDB — promotion-queue hash-grade
    evidence."""
    import math

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.filtering import (
        bigram_interp_scores,
    )

    common = "the cat sat on the mat and the dog sat on the rug"
    ref_rows = [(1000 + i, common) for i in range(8)]
    ref_rows += [(2000 + i, "der hund sitzt auf der matte") for i in range(3)]
    ref = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    rows = [
        (0, common),                    # fully explained by the reference
        (100, "zyx qwv plk mjn"),       # fully OOV
        (101, "one"),                   # single token: no bigram position
        (102, "the cat sat quietly"),   # partial: known prefix, novel tail
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        r.doc_id: (r.n_bigrams, r.lm_score)
        for r in bigram_interp_scores(df, "text", "doc_id", ref_df=ref).collect()
    }
    assert 101 not in got
    assert got[0][0] == 12  # 13 tokens -> 12 adjacent pairs
    # reference-explained << partially-novel << fully-OOV
    assert got[0][1] < got[102][1] < got[100][1]
    assert all(math.isfinite(s) for _, s in got.values())

    # lam = 0: pure Laplace unigram backoff on w2 with REFERENCE counts
    uni: dict = {}
    for _, text in ref_rows:
        for t in text.split():
            uni[t] = uni.get(t, 0) + 1
    n_v1 = sum(uni.values()) + len(uni) + 1
    lam0 = {
        r.doc_id: r.lm_score
        for r in bigram_interp_scores(
            df, "text", "doc_id", ref_df=ref, lam=0.0
        ).collect()
    }
    for doc_id, text in rows:
        ws = text.split()
        if len(ws) < 2:
            continue
        expect = round(
            -sum(math.log((uni.get(w, 0) + 1) / n_v1) for w in ws[1:])
            / (len(ws) - 1),
            6,
        )
        assert abs(lam0[doc_id] - expect) < 1e-9, doc_id

    # the documented self-scoring saturation: a singleton doc's unique
    # pairs give P >= lam, so its self-score caps at -ln(lam) — the
    # measured reason scoring needs the reference split
    solo = spark.createDataFrame([rows[1]], ["doc_id", "text"])
    self_score = bigram_interp_scores(solo, "text", "doc_id").collect()[0]
    assert self_score.lm_score <= round(-math.log(0.75), 6)

    # lam=1 (and any lam outside [0, 1)) must fail LOUDLY: it kills the
    # Laplace backoff, so reference-unseen pairs get P=0 and ln(0)=NULL
    # silently drops them from the doc mean — finite but wrong
    for bad in (1.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="lam"):
            bigram_interp_scores(df, "text", "doc_id", ref_df=ref, lam=bad)

    # exact DuckDB replay of the reference-model score (lam = 0.75)
    con = duckdb.connect()
    con.register("t", df.toPandas())
    con.register("ref", ref.toPandas())
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute("""
        WITH rarr AS (
          SELECT string_split_regex(lower(trim(text)), '\\s+') AS w FROM ref
        ),
        ucnt AS (
          SELECT t, COUNT(*) AS uc FROM (SELECT unnest(w) AS t FROM rarr)
          GROUP BY t
        ),
        rpairs AS (
          SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> {'w1': w[i], 'w2': w[i+1]})) AS p
          FROM rarr WHERE len(w) >= 2
        ),
        bcnt AS (
          SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS bc FROM rpairs
          GROUP BY 1, 2
        ),
        c1 AS (SELECT w1, SUM(bc) AS c1 FROM bcnt GROUP BY w1),
        nv AS (SELECT (SUM(uc) + COUNT(*) + 1)::DOUBLE AS n_v1 FROM ucnt),
        darr AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
          FROM t
        ),
        dp AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> {'w1': w[i], 'w2': w[i+1]})) AS p
          FROM darr WHERE len(w) >= 2
        ),
        pb AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM dp)
        SELECT pb.doc_id, COUNT(*) AS n_bigrams,
               round(-avg(ln(
                 0.75 * COALESCE(bc::DOUBLE / c1.c1, 0.0)
                 + 0.25 * ((COALESCE(uc, 0) + 1)::DOUBLE / nv.n_v1))), 6) AS s
        FROM pb
        LEFT JOIN bcnt USING (w1, w2)
        LEFT JOIN c1 USING (w1)
        LEFT JOIN ucnt ON ucnt.t = pb.w2
        CROSS JOIN nv
        GROUP BY pb.doc_id
        """).fetchall()
    }
    assert got == oracle


def test_trigram_interp_scores_duckdb_replay_and_properties(spark):
    """Recursive-JM trigram scores (the rung above the bigram scorer):
    sub-3-token docs are excluded, reference-explained < partially-novel
    < fully-OOV ordering holds, lam3=0 degenerates EXACTLY to the bigram
    scorer over the doc's first-token-stripped text (the recursion pin),
    out-of-range interpolation weights raise loudly, and the whole table
    replays EXACTLY in DuckDB — promotion-queue hash-grade evidence."""
    import math

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.filtering import (
        bigram_interp_scores,
        trigram_interp_scores,
    )

    common = "the cat sat on the mat and the dog sat on the rug"
    ref_rows = [(1000 + i, common) for i in range(8)]
    ref_rows += [(2000 + i, "der hund sitzt auf der matte") for i in range(3)]
    ref = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    rows = [
        (0, common),                    # fully explained by the reference
        (100, "zyx qwv plk mjn"),       # fully OOV
        (101, "one two"),               # 2 tokens: no trigram position
        (102, "the cat sat quietly today"),  # known prefix, novel tail
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        r.doc_id: (r.n_trigrams, r.lm_score)
        for r in trigram_interp_scores(
            df, "text", "doc_id", ref_df=ref
        ).collect()
    }
    assert 101 not in got
    assert got[0][0] == 11  # 13 tokens -> 11 trigram positions
    assert got[0][1] < got[102][1] < got[100][1]
    assert all(math.isfinite(s) for _, s in got.values())

    # lam3 = 0 recursion pin: P3 reduces to P2(w3 | w2) over positions
    # 2..n-1 — exactly the bigram scorer run on the doc with its FIRST
    # token stripped (same reference counts)
    stripped = spark.createDataFrame(
        [(i, " ".join(text.split()[1:])) for i, text in rows],
        ["doc_id", "text"],
    )
    tri0 = {
        r.doc_id: r.lm_score
        for r in trigram_interp_scores(
            df, "text", "doc_id", ref_df=ref, lam3=0.0, lam2=0.75
        ).collect()
    }
    big = {
        r.doc_id: r.lm_score
        for r in bigram_interp_scores(
            stripped, "text", "doc_id", ref_df=ref, lam=0.75
        ).collect()
    }
    assert set(tri0) == {0, 100, 102}
    for doc_id, s in tri0.items():
        assert abs(s - big[doc_id]) < 1e-9, doc_id

    # both interpolation weights enforce the loud-failure rule
    for kw in ({"lam3": 1.0}, {"lam3": -0.1}, {"lam2": 1.0}, {"lam2": 1.5}):
        with pytest.raises(ValueError, match="lam"):
            trigram_interp_scores(df, "text", "doc_id", ref_df=ref, **kw)

    # exact DuckDB replay of the recursive formula (lam3=0.5, lam2=0.75)
    con = duckdb.connect()
    con.register("t", df.toPandas())
    con.register("ref", ref.toPandas())
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute("""
        WITH rarr AS (
          SELECT string_split_regex(lower(trim(text)), '\\s+') AS w FROM ref
        ),
        ucnt AS (
          SELECT t, COUNT(*) AS uc FROM (SELECT unnest(w) AS t FROM rarr)
          GROUP BY t
        ),
        rp AS (
          SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> {'w1': w[i], 'w2': w[i+1]})) AS p
          FROM rarr WHERE len(w) >= 2
        ),
        bcnt AS (
          SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS bc FROM rp GROUP BY 1, 2
        ),
        rt AS (
          SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                   i -> {'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]})) AS g
          FROM rarr WHERE len(w) >= 3
        ),
        tcnt AS (
          SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3, COUNT(*) AS tc
          FROM rt GROUP BY 1, 2, 3
        ),
        c12 AS (SELECT w1, w2, SUM(tc) AS c12 FROM tcnt GROUP BY 1, 2),
        c2 AS (SELECT w1, SUM(bc) AS c2 FROM bcnt GROUP BY 1),
        nv AS (SELECT (SUM(uc) + COUNT(*) + 1)::DOUBLE AS n_v1 FROM ucnt),
        darr AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
          FROM t
        ),
        dt AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 2),
                   i -> {'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]})) AS g
          FROM darr WHERE len(w) >= 3
        ),
        tg AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM dt)
        SELECT tg.doc_id, COUNT(*) AS n,
               round(-avg(ln(
                 0.5 * COALESCE(tc::DOUBLE / c12.c12, 0.0)
                 + 0.5 * (0.75 * COALESCE(bc::DOUBLE / c2.c2, 0.0)
                          + 0.25 * ((COALESCE(uc, 0) + 1)::DOUBLE
                                    / nv.n_v1)))), 6) AS s
        FROM tg
        LEFT JOIN tcnt USING (w1, w2, w3)
        LEFT JOIN c12 USING (w1, w2)
        LEFT JOIN bcnt ON bcnt.w1 = tg.w2 AND bcnt.w2 = tg.w3
        LEFT JOIN c2 ON c2.w1 = tg.w2
        LEFT JOIN ucnt ON ucnt.t = tg.w3
        CROSS JOIN nv
        GROUP BY tg.doc_id
        """).fetchall()
    }
    assert got == oracle


def test_lm_buckets_and_lm_gated_funnel_integration(spark):
    """The CCNet reference-model stage wired into the funnel:
    lm_buckets ranks per-language thirds by the src-reference bigram LM
    (scoreless < 2-token docs land in the tail with NULL score — the
    null-safe rule), the heuristic gate counts of lm_gated_funnel match
    curation_funnel exactly on the same input (the refactor is a
    no-op), n_lm_tail matches lm_buckets' own tail count per group,
    and n_pass shrinks to the docs surviving all five gates."""
    from healthcare_dbt_datamart_spark.llmops.filtering import lm_buckets
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        curation_funnel,
        lm_gated_funnel,
    )

    common = "the cat sat on the mat and the dog sat on the rug"
    ref = spark.createDataFrame(
        [(1000 + i, common) for i in range(6)], ["doc_id", "text"]
    )
    pass_text = "the quick brown u1 of u2 u3 to u4 u5 a u6 u7 in u8 u9 is u10"
    docs = [
        (1, common, "en", "a"),                 # explained -> head
        (2, pass_text, "en", "a"),              # passes heuristics, novel
        (3, "zyx qwv plk mjn oof rab gth yhn ujm ikl", "en", "a"),  # OOV
        (4, "one", "en", "a"),                  # 1 token: unscoreable
        (5, pass_text + " extra", "en", "b"),   # second group
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source"])

    buckets = {
        r.doc_id: (r.bucket, r.lm_score, r.lm_rank)
        for r in lm_buckets(df, "text", "doc_id", "lang", ref).collect()
    }
    assert len(buckets) == 5
    assert buckets[4] == ("tail", None, 0)      # unscoreable -> tail
    assert buckets[1][0] == "head"              # reference-explained
    scored = sorted(
        (v[1], k) for k, v in buckets.items() if v[1] is not None
    )
    # ranks are 1..4 over the scored docs, ascending surprisal
    assert [buckets[k][2] for _, k in scored] == [1, 2, 3, 4]

    base = {
        r.source: r.asDict()
        for r in curation_funnel(df, "text", "doc_id", "lang", "source").collect()
    }
    gated = {
        r.source: r.asDict()
        for r in lm_gated_funnel(
            df, "text", "doc_id", "lang", "source", ref_df=ref
        ).collect()
    }
    assert set(gated) == set(base) == {"a", "b"}
    for g in base:
        for col in ("n_docs", "n_too_short", "n_low_diversity",
                    "n_repetitive", "n_lang_mismatch"):
            assert gated[g][col] == base[g][col], (g, col)
    tail_by_group = {"a": 0, "b": 0}
    group_of = {1: "a", 2: "a", 3: "a", 4: "a", 5: "b"}
    for doc_id, (bucket, _, _) in buckets.items():
        if bucket == "tail":
            tail_by_group[group_of[doc_id]] += 1
    assert {g: gated[g]["n_lm_tail"] for g in gated} == tail_by_group
    # the LM gate can only shrink the survivor set
    for g in base:
        assert gated[g]["n_pass"] <= base[g]["n_pass"]


def test_lm_scorer_plan_shape_pins(spark):
    """Plan-shape pins for the LM-scorer family (the
    domain_mixture_weights lesson: denominators must DERIVE from count
    tables, never re-explode the corpus). The SCORED corpus — the
    100 TB side — is exploded exactly once; the reference-side fit
    subtrees (reference-sized by the CCNet design: the clean corpus is
    small) plan as 3 for the bigram / 5 for the trigram, one of which
    AQE collapses into a ReusedExchange — measured final-plan totals 4
    and 6. A regression that re-derives a denominator from TEXT (the
    doremi bug class) adds corpus-side Generates and fails here."""
    from healthcare_dbt_datamart_spark.llmops.filtering import (
        bigram_interp_scores,
        trigram_interp_scores,
    )

    rows = [(i, "the cat sat on the mat and slept") for i in range(4)]
    ref = spark.createDataFrame(rows, ["doc_id", "text"])
    df = spark.createDataFrame(
        [(100, "the cat sat quietly near the mat")], ["doc_id", "text"]
    )

    big = bigram_interp_scores(df, "text", "doc_id", ref_df=ref)
    big.collect()  # final adaptive plan (reuse resolves at runtime)
    plan = (
        big._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Generate") <= 4, plan.count("Generate")

    tri = trigram_interp_scores(df, "text", "doc_id", ref_df=ref)
    tri.collect()
    plan = (
        tri._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Generate") <= 6, plan.count("Generate")


def test_kn_bigram_scores_continuation_property_and_replay(spark):
    """Interpolated Kneser-Ney: the CONTINUATION count decides novel
    continuations — 'report' (seen after 3 distinct contexts) beats
    'francisco' (glued to 'san', 5 raw counts) behind an unseen
    context, the classic KN asymmetry JM cannot express; explained text
    scores below novel text; everything stays finite on full OOV;
    sub-2-token docs are excluded; the discount guard raises outside
    (0, 1); and the whole table replays EXACTLY in DuckDB."""
    import math

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.filtering import (
        kn_bigram_scores,
    )

    ref_rows = [(1000 + i, "san francisco") for i in range(5)]
    ref_rows += [
        (2000, "the report is here"),
        (2001, "a report was filed"),
        (2002, "my report said so"),
    ]
    ref = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    rows = [
        (0, "san francisco"),        # explained collocation
        (1, "zzz report"),           # unseen ctx -> Pcont favors report
        (2, "zzz francisco"),        # unseen ctx -> low continuation
        (3, "qqq zzz xxx"),          # fully OOV
        (4, "one"),                  # no bigram position
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        r.doc_id: (r.n_bigrams, r.lm_score)
        for r in kn_bigram_scores(df, "text", "doc_id", ref_df=ref).collect()
    }
    assert 4 not in got
    assert got[0][0] == 1 and got[1][0] == 1
    # the KN property: same raw-frequency advantage for francisco, but
    # report's 3 distinct contexts win behind an unseen context
    assert got[1][1] < got[2][1]
    assert got[0][1] < got[1][1]        # explained < novel
    assert all(math.isfinite(s) for _, s in got.values())

    for bad in (0.0, 1.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="discount"):
            kn_bigram_scores(df, "text", "doc_id", ref_df=ref, discount=bad)

    con = duckdb.connect()
    con.register("t", df.toPandas())
    con.register("ref", ref.toPandas())
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute("""
        WITH rarr AS (
          SELECT string_split_regex(lower(trim(text)), '\\s+') AS w FROM ref
        ),
        rp AS (
          SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> {'w1': w[i], 'w2': w[i+1]})) AS p
          FROM rarr WHERE len(w) >= 2
        ),
        bcnt AS (
          SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS bc FROM rp GROUP BY 1, 2
        ),
        ctx AS (
          SELECT w1, SUM(bc) AS c1, COUNT(*) AS nf FROM bcnt GROUP BY 1
        ),
        cont AS (SELECT w2, COUNT(*) AS nb FROM bcnt GROUP BY 1),
        tot AS (
          SELECT COUNT(*) AS tt, COUNT(DISTINCT w2) AS cv FROM bcnt
        ),
        darr AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
          FROM t
        ),
        dp AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> {'w1': w[i], 'w2': w[i+1]})) AS p
          FROM darr WHERE len(w) >= 2
        ),
        pb AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM dp)
        SELECT pb.doc_id, COUNT(*) AS n,
               round(-avg(ln(
                 CASE WHEN c1 IS NOT NULL THEN
                   greatest(COALESCE(bc, 0)::DOUBLE - 0.75, 0.0)
                     / c1::DOUBLE
                   + 0.75 * nf::DOUBLE / c1::DOUBLE
                     * ((COALESCE(nb, 0) + 1)::DOUBLE
                        / (tt + cv + 1)::DOUBLE)
                 ELSE (COALESCE(nb, 0) + 1)::DOUBLE
                      / (tt + cv + 1)::DOUBLE END)), 6) + 0.0 AS s
        FROM pb
        LEFT JOIN bcnt USING (w1, w2)
        LEFT JOIN ctx USING (w1)
        LEFT JOIN cont ON cont.w2 = pb.w2
        CROSS JOIN tot
        GROUP BY pb.doc_id
        """).fetchall()
    }
    assert got == oracle


def test_dawid_skene_recovers_ties_from_spammer_and_replays(spark):
    """True Dawid-Skene EM: a constant-'a' spammer is learned to be
    UNINFORMATIVE (near-flat confusion row), so on items where the raw
    majority ties and tie-breaks to 'a', the reliable rater's 'b'
    testimony wins — the flip agreement-weighting alone cannot make
    with a tied first-pass majority. Clear-majority items never flip,
    the n_iter=1 table replays EXACTLY in DuckDB (integer-quantized
    posteriors + ordered list_reduce folds), and n_iter=2 keeps the
    recovered labels (EM is stable on the fixture)."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import dawid_skene

    rows = []
    for i in (1, 2, 3):          # true 'a': everyone sees it
        rows += [(i, "g1", "a"), (i, "g2", "a"), (i, "s", "a")]
    for i in (4, 5, 6):          # true 'b': majority already right
        rows += [(i, "g1", "b"), (i, "g2", "b"), (i, "s", "a")]
    for i in (7, 8):             # true 'b': tie -> lexicographic 'a'
        rows += [(i, "g1", "b"), (i, "s", "a")]
    votes = spark.createDataFrame(
        rows, ["item_id", "annotator_id", "label"]
    )

    got1 = {
        r.item_id: (r.ds_label, r.posterior, r.n_votes,
                    r.majority_label, r.flipped)
        for r in dawid_skene(votes, n_iter=1).collect()
    }
    assert len(got1) == 8
    for i in (1, 2, 3):
        assert got1[i][0] == "a" and not got1[i][4]
    for i in (4, 5, 6):
        assert got1[i][0] == "b" and not got1[i][4]
    for i in (7, 8):  # the recovery: majority said 'a', EM says 'b'
        assert got1[i][3] == "a" and got1[i][0] == "b" and got1[i][4]

    got2 = {
        r.item_id: r.ds_label for r in dawid_skene(votes, n_iter=2).collect()
    }
    assert got2 == {i: ("a" if i <= 3 else "b") for i in range(1, 9)}

    with pytest.raises(ValueError, match="2 observed label"):
        dawid_skene(votes.filter(F.col("label") == "a"), n_iter=1)

    # exact DuckDB replay of ONE EM round (scale 1e6, smoothing 1)
    con = duckdb.connect()
    con.register("v", votes.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4], r[5])
        for r in con.execute("""
        WITH n_i AS (
          SELECT item_id AS item, COUNT(*)::BIGINT AS n_votes
          FROM v GROUP BY 1
        ),
        post0 AS (
          SELECT item_id AS item, label AS k,
                 (COUNT(*)::BIGINT * 1000000) // MAX(n_votes) AS p
          FROM v JOIN n_i ON n_i.item = v.item_id
          GROUP BY 1, 2
        ),
        prior AS (
          SELECT k, ((P + 1000000) * 1000000)
                     // (SUM(P) OVER () + 2000000) AS prior
          FROM (SELECT k, SUM(p)::BIGINT AS P FROM post0 GROUP BY 1)
        ),
        conf AS (
          SELECT annotator_id AS rater, post0.k AS k, label AS obs,
                 SUM(p)::BIGINT AS C
          FROM v JOIN post0 ON post0.item = v.item_id
          GROUP BY 1, 2, 3
        ),
        row_tot AS (
          SELECT rater, k, SUM(C)::BIGINT AS Crow FROM conf GROUP BY 1, 2
        ),
        pi AS (
          SELECT conf.rater, conf.k, conf.obs,
                 ((C + 1000000) * 1000000) // (Crow + 2000000) AS pi
          FROM conf JOIN row_tot USING (rater, k)
        ),
        vk AS (
          SELECT item_id AS item, annotator_id AS rater, label AS obs, k
          FROM v CROSS JOIN (SELECT unnest(['a', 'b']) AS k)
        ),
        scored AS (
          SELECT vk.item, vk.k, vk.rater, vk.obs,
                 COALESCE(pi.pi,
                   (1000000::BIGINT * 1000000)
                     // (COALESCE(row_tot.Crow, 0) + 2000000)) AS pi_eff
          FROM vk
          LEFT JOIN pi ON pi.rater = vk.rater AND pi.k = vk.k
                       AND pi.obs = vk.obs
          LEFT JOIN row_tot ON row_tot.rater = vk.rater
                            AND row_tot.k = vk.k
        ),
        folded AS (
          SELECT s.item, s.k,
                 list_reduce(
                   list_prepend(
                     CAST(MAX(prior.prior) AS DOUBLE) / 1000000.0,
                     list_transform(
                       list(ROW(s.rater, s.obs, s.pi_eff)
                            ORDER BY s.rater, s.obs, s.pi_eff),
                       x -> CAST(x[3] AS DOUBLE) / 1000000.0)),
                   (a, b) -> a * b) AS score
          FROM scored s JOIN prior ON prior.k = s.k
          GROUP BY 1, 2
        ),
        normed AS (
          SELECT item,
                 list_reduce(
                   list_prepend(0.0,
                     list_transform(list(ROW(k, score) ORDER BY k, score),
                                    x -> CAST(x[2] AS DOUBLE))),
                   (a, b) -> a + b) AS tot,
                 list(ROW(k, score) ORDER BY k, score) AS ks
          FROM folded GROUP BY 1
        ),
        post1 AS (
          SELECT item, e.k AS k,
                 CAST(floor(e.s / tot * 1000000 + 0.5) AS BIGINT) AS p
          FROM (SELECT item, tot,
                       unnest(list_transform(ks,
                         x -> {'k': x[1], 's': CAST(x[2] AS DOUBLE)})) AS e
                FROM normed)
        ),
        winner AS (
          SELECT item, k, p,
                 row_number() OVER (PARTITION BY item
                                    ORDER BY p DESC, k ASC) AS rn
          FROM post1
        ),
        maj AS (
          SELECT item, lab AS majority_label, n_votes
          FROM (
            SELECT item_id AS item, label AS lab, COUNT(*) AS n,
                   row_number() OVER (PARTITION BY item_id
                                      ORDER BY COUNT(*) DESC, label ASC)
                     AS rn,
                   SUM(COUNT(*)) OVER (PARTITION BY item_id)::BIGINT
                     AS n_votes
            FROM v GROUP BY 1, 2
          ) WHERE rn = 1
        )
        SELECT w.item, w.k AS ds_label,
               round(w.p / 1000000.0, 6) AS posterior, m.n_votes,
               m.majority_label, (w.k != m.majority_label) AS flipped
        FROM winner w JOIN maj m USING (item) WHERE w.rn = 1
        """).fetchall()
    }
    assert got1 == oracle


def test_logreg_train_deterministic_and_matches_reference(spark):
    """On-engine logistic-regression training: a separable synthetic
    relation trains to >= 0.95 accuracy with monotone-decreasing
    monitored loss, the trained weights are BIT-IDENTICAL under
    repartitioning (integer-quantized gradient sums), a pure-Python
    reference replaying the exact quantized update loop reproduces the
    weights, and the guards raise loudly."""
    import math

    from healthcare_dbt_datamart_spark.llmops.textstats import (
        logreg_score,
        logreg_train,
    )

    rows = [
        (i, x1 / 4.0, x2 / 4.0, 1 if (x1 + x2) / 4.0 > 1.0 else 0)
        for i, (x1, x2) in enumerate(
            (a, b) for a in range(5) for b in range(5)
        )
    ]
    df = spark.createDataFrame(rows, ["rid", "x1", "x2", "y"])

    model = logreg_train(df, ["x1", "x2"], "y", n_iter=40, lr=2.0)
    assert model["n_rows"] == 25 and len(model["weights"]) == 3
    assert model["final_loss"] < 0.693  # below the w=0 starting loss

    scored = {
        r.rid: r.keep
        for r in logreg_score(df, ["x1", "x2"], model["weights"], "rid").collect()
    }
    acc = sum(
        1 for rid, _, _, y in [(r[0], r[1], r[2], r[3]) for r in rows]
        if scored[rid] == y
    ) / len(rows)
    assert acc >= 0.95, acc

    # bit-identical weights under a different partitioning
    model13 = logreg_train(df.repartition(13), ["x1", "x2"], "y",
                           n_iter=40, lr=2.0)
    assert model13["weights"] == model["weights"]

    # pure-Python reference of the exact quantized update loop
    scale = 10**6
    w = [0.0, 0.0, 0.0]
    n = len(rows)
    for _ in range(40):
        sums = [0, 0, 0]
        for _, x1, x2, y in rows:
            z = w[0] + w[1] * x1 + w[2] * x2
            p = 1.0 / (1.0 + math.exp(-z))
            err = p - y
            for j, g in enumerate((err, err * x1, err * x2)):
                sums[j] += math.floor(g * scale + 0.5)
        w = [
            math.floor((w[j] - 2.0 * (sums[j] / (n * scale))) * 1e9 + 0.5)
            / 1e9
            for j in range(3)
        ]
    assert w == model["weights"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="feature"):
        logreg_train(df, [], "y")
    with _pytest.raises(ValueError, match="lr"):
        logreg_train(df, ["x1"], "y", lr=0.0)
    with _pytest.raises(ValueError, match="empty"):
        logreg_train(df.filter("rid < 0"), ["x1"], "y")
    with _pytest.raises(ValueError, match="intercept"):
        logreg_score(df, ["x1", "x2"], [0.1, 0.2], "rid")
    with _pytest.raises(ValueError, match="threshold"):
        logreg_score(df, ["x1"], [0.0, 1.0], "rid", threshold=1.5)


def test_unigram_lm_train_and_segment(spark):
    """SentencePiece-style unigram-LM training (hard-EM on the word
    dict): the dominant shared substring becomes a vocab piece, Viterbi
    is optimal (brute-force-checked on every corpus word), the trained
    artifact is bit-identical under repartitioning, and the segment
    report's per-word piece counts agree with direct Viterbi."""
    import math

    from healthcare_dbt_datamart_spark.llmops.bpe import (
        _viterbi_pieces,
        unigram_lm_train,
        unigram_segment_report,
    )

    text = ("nation nations national nationalism international "
            "internationalization the a of")
    docs = spark.createDataFrame(
        [(i, text) for i in range(4)] + [(99, "the a of zz")],
        ["doc_id", "text"],
    )

    pieces = unigram_lm_train(
        docs, "text", vocab_size=24, n_iter=2, max_piece_len=6,
        seed_size=200,
    )
    vocab = {p for p, _, _ in pieces}
    assert "nation" in vocab  # the shared 6-char stem wins a slot
    assert all(len(p) == 1 for p in vocab if len(p) == 1)  # chars kept

    # artifact determinism under a different layout
    pieces13 = unigram_lm_train(
        docs.repartition(13), "text", vocab_size=24, n_iter=2,
        max_piece_len=6, seed_size=200,
    )
    assert pieces13 == pieces

    # Viterbi optimality vs brute-force enumeration on every word
    logp = {p: math.log(max(fp, 1) / 10**6) for p, _, fp in pieces}
    mlen = max(len(p) for p in logp)

    def brute_best(word):
        best = [float("-inf")]

        def rec(i, cost):
            if i == len(word):
                best[0] = max(best[0], cost)
                return
            for j in range(i + 1, min(i + mlen, len(word)) + 1):
                lp = logp.get(word[i:j])
                if lp is not None:
                    rec(j, cost + lp)

        rec(0, 0.0)
        return best[0]

    for word in set(text.split()) | {"zz"}:
        path = _viterbi_pieces(word, logp, mlen)
        assert "".join(path) == word
        got_cost = sum(logp[p] for p in path)
        assert abs(got_cost - brute_best(word)) < 1e-9, word

    report = {
        r.doc_id: (r.n_words, r.n_pieces, r.pieces_per_word)
        for r in unigram_segment_report(
            docs, "text", "doc_id", pieces
        ).collect()
    }
    assert len(report) == 5
    n_words, n_pieces, ppw = report[0]
    assert n_words == 9
    direct = sum(
        len(_viterbi_pieces(w, logp, mlen)) for w in text.split()
    )
    assert n_pieces == direct
    assert ppw == round(direct / 9, 6)
    # the stem-heavy doc compresses far below character-level
    assert n_pieces < sum(len(w) for w in text.split())


def test_unigram_lm_oov_and_degenerate_guards(spark):
    """Hardening pins: (1) Viterbi returns [] for a word containing an
    out-of-vocab character (no pseudo-pieces), and the segment report
    counts such a word as 0 pieces; (2) a vocab budget that leaves no
    room above the single-character floor fails loudly instead of
    dividing by zero in the probability quantization."""
    import math

    import pytest

    from healthcare_dbt_datamart_spark.llmops.bpe import (
        _viterbi_pieces,
        unigram_lm_train,
        unigram_segment_report,
    )

    text = "nation nations national the a of"
    docs = spark.createDataFrame(
        [(i, text) for i in range(3)], ["doc_id", "text"]
    )
    pieces = unigram_lm_train(
        docs, "text", vocab_size=20, n_iter=2, max_piece_len=6,
        seed_size=100,
    )
    logp = {p: math.log(max(fp, 1) / 10**6) for p, _, fp in pieces}
    mlen = max(len(p) for p in logp)
    assert "q" not in logp and "z" not in logp

    # (1) OOV character anywhere -> unsegmentable, not a pseudo-piece
    assert _viterbi_pieces("naqtion", logp, mlen) == []
    assert _viterbi_pieces("zz", logp, mlen) == []
    assert _viterbi_pieces("nation", logp, mlen) != []

    # the report counts the OOV word as 0 pieces (explicit, auditable)
    scored = spark.createDataFrame(
        [(1, "nation zz"), (2, "nation")], ["doc_id", "text"]
    )
    rep = {
        r.doc_id: (r.n_words, r.n_pieces)
        for r in unigram_segment_report(
            scored, "text", "doc_id", pieces
        ).collect()
    }
    assert rep[1][0] == 2  # both words counted in the denominator
    assert rep[1][1] == rep[2][1]  # ...but zz contributes zero pieces

    # (2) vocab budget at/below the observed character count fails loud
    n_chars = len({c for w in text.split() for c in w})
    with pytest.raises(ValueError, match="must exceed"):
        unigram_lm_train(
            docs, "text", vocab_size=n_chars, n_iter=1,
            max_piece_len=6, seed_size=100,
        )
    # one above the floor is legal (single chars + one multi-piece slot)
    ok = unigram_lm_train(
        docs, "text", vocab_size=n_chars + 1, n_iter=1,
        max_piece_len=6, seed_size=100,
    )
    assert sum(1 for p, _, _ in ok if len(p) > 1) <= 1


def test_best_of_n_and_dpo_pairs(spark):
    """RLHF data construction: best-of-n picks the max-reward response
    with deterministic ties (NULL rewards can never win), dpo_pairs
    pairs max vs min per prompt, drops zero/low-margin and
    single-response prompts, excludes unscored responses, and both
    replay exactly in DuckDB."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        best_of_n,
        dpo_pairs,
    )

    rows = [
        ("p1", "r1", 0.9), ("p1", "r2", 0.1), ("p1", "r3", 0.5),
        ("p2", "r1", 0.7), ("p2", "r2", 0.7),          # tie -> r1
        ("p3", "r9", 0.4),                              # single response
        ("p4", "r1", None), ("p4", "r2", 0.2),          # NULL reward
        ("p5", "r1", 0.30), ("p5", "r2", 0.25),         # gap 0.05
    ]
    df = spark.createDataFrame(
        rows, "prompt_id string, response_id string, reward double"
    )

    bon = {
        r.prompt_id: (r.response_id, r.reward, r.n_samples)
        for r in best_of_n(df).collect()
    }
    assert bon["p1"] == ("r1", 0.9, 3)
    assert bon["p2"] == ("r1", 0.7, 2)       # deterministic tie
    assert bon["p3"] == ("r9", 0.4, 1)
    assert bon["p4"] == ("r2", 0.2, 2)       # NULL never wins

    pairs = {
        r.prompt_id: (r.chosen, r.rejected, r.reward_gap)
        for r in dpo_pairs(df, min_margin=0.1).collect()
    }
    assert pairs == {"p1": ("r1", "r2", 0.8)}  # p2 gap 0 (tie), p3
    # single, p4 one scored response, p5 gap 0.05 < margin: all dropped
    loose = {
        r.prompt_id for r in dpo_pairs(df, min_margin=0.0).collect()
    }
    assert loose == {"p1", "p5"}

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute("""
        WITH s AS (SELECT * FROM t WHERE reward IS NOT NULL),
        up AS (
          SELECT prompt_id, response_id, reward,
                 row_number() OVER (PARTITION BY prompt_id
                   ORDER BY reward DESC, response_id ASC) AS rb,
                 row_number() OVER (PARTITION BY prompt_id
                   ORDER BY reward ASC, response_id ASC) AS rw
          FROM s
        )
        SELECT b.prompt_id, b.response_id AS chosen,
               w.response_id AS rejected,
               round(b.reward - w.reward, 6) AS gap
        FROM (SELECT * FROM up WHERE rb = 1) b
        JOIN (SELECT * FROM up WHERE rw = 1) w USING (prompt_id)
        WHERE b.response_id != w.response_id
          AND round(b.reward - w.reward, 6) > 0.1
        """).fetchall()
    }
    assert pairs == oracle


def test_source_overlap_kmv_exact_estimate_and_duckdb(spark):
    """KMV source-overlap matrix: with k >= |union| the estimate IS the
    exact Jaccard; with small k it equals a pure-Python replay of the
    same md5 arithmetic bit-for-bit (hash-grade, not tolerance); the
    DuckDB window-SQL replay agrees; layout-invariant; in-source
    duplicate copies don't perturb distinct counts."""
    import hashlib

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.dedup import source_overlap_kmv

    texts = {
        "A": [f"doc {i} payload" for i in range(60)],
        "B": [f"doc {i} payload" for i in range(30, 60)]
        + [f"b-only {i}" for i in range(30)],
        "C": [f"c-only {i}" for i in range(20)],
    }
    rows = [(s, t) for s, ts in texts.items() for t in ts]
    rows += [("A", "doc 0 payload")] * 3  # exact copies: no distinct drift
    df = spark.createDataFrame(rows, "source string, text string")

    # k >= |A u B|: estimator degrades to EXACT Jaccard
    exact = {
        (r.source_a, r.source_b): r
        for r in source_overlap_kmv(df, "source", "text", k=1024).collect()
    }
    ab = exact[("A", "B")]
    assert (ab.n_distinct_a, ab.n_distinct_b) == (60, 60)
    assert ab.k_union == 90 and ab.n_common_in_k == 30
    assert ab.jaccard_est == round(30 / 90, 6)
    assert exact[("A", "C")].jaccard_est == 0.0
    assert exact[("B", "C")].jaccard_est == 0.0

    # small k: bit-equal to a pure-Python replay of the md5 arithmetic
    def h60(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)

    k = 16
    sets = {s: {h60(t) for t in ts} for s, ts in texts.items()}
    sigs = {s: sorted(v)[:k] for s, v in sets.items()}

    def kmv_est(sa, sb):
        uk = sorted(set(sigs[sa]) | set(sigs[sb]))[:k]
        common = set(sigs[sa]) & set(sigs[sb])
        n_common = sum(1 for h in uk if h in common)
        return len(uk), n_common, round(n_common / len(uk), 6)

    small = {
        (r.source_a, r.source_b): (r.k_union, r.n_common_in_k, r.jaccard_est)
        for r in source_overlap_kmv(df, "source", "text", k=k).collect()
    }
    for pair in [("A", "B"), ("A", "C"), ("B", "C")]:
        assert small[pair] == kmv_est(*pair), pair

    # layout invariance
    small13 = {
        (r.source_a, r.source_b): (r.k_union, r.n_common_in_k, r.jaccard_est)
        for r in source_overlap_kmv(
            df.repartition(13), "source", "text", k=k
        ).collect()
    }
    assert small13 == small

    # DuckDB replay of the small-k pipeline (window SQL, same md5 hash)
    con = duckdb.connect()
    con.register("t", df.toPandas())
    got = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(f"""
        WITH hashes AS (
          SELECT DISTINCT source,
                 ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
          FROM t
        ),
        sigs AS (
          SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) rn
            FROM hashes
          ) WHERE rn <= {k}
        ),
        pairs AS (
          SELECT DISTINCT a.source sa, b.source sb
          FROM sigs a JOIN sigs b ON a.source < b.source
        ),
        u AS (
          SELECT DISTINCT p.sa, p.sb, s.h
          FROM pairs p JOIN sigs s ON s.source IN (p.sa, p.sb)
        ),
        uk AS (
          SELECT sa, sb, h FROM (
            SELECT sa, sb, h,
                   row_number() OVER (PARTITION BY sa, sb ORDER BY h) rn
            FROM u
          ) WHERE rn <= {k}
        ),
        agg AS (
          SELECT uk.sa, uk.sb, COUNT(*) AS k_union,
                 SUM(CASE WHEN s1.h IS NOT NULL AND s2.h IS NOT NULL
                     THEN 1 ELSE 0 END) AS n_common
          FROM uk
          LEFT JOIN sigs s1 ON s1.source = uk.sa AND s1.h = uk.h
          LEFT JOIN sigs s2 ON s2.source = uk.sb AND s2.h = uk.h
          GROUP BY 1, 2
        )
        SELECT sa, sb, k_union, n_common,
               ROUND(n_common / CAST(k_union AS DOUBLE), 6)
        FROM agg
    """).fetchall()
    }
    assert {p: (int(a), int(b), c) for p, (a, b, c) in got.items()} == small


def test_pca_train_apply_whiten_and_matryoshka(spark):
    """PCA fit/apply: the planted 2-signal subspace dominates the
    eigvals, the fitted artifact is BIT-IDENTICAL under repartitioning
    (quantized integer moments + deterministic sign fix), a pure-Python
    replay of the quantized moment sums reproduces the covariance
    inputs exactly, projection decorrelates the axes, whitening
    equalizes variance, and matryoshka truncation renormalizes the
    prefix; size-mismatch guards stay loud/visible."""
    import math

    import numpy as np
    import pytest

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        matryoshka_truncate,
        pca_apply,
        pca_train,
    )

    # 2 strong latent signals embedded in 6 dims + deterministic jitter
    rows = []
    for i in range(200):
        a = math.sin(i * 0.7)
        b = math.cos(i * 1.3)
        eps = [((i * p) % 17 - 8) / 1000.0 for p in (3, 5, 7, 11, 13, 19)]
        vec = [
            3.0 * a + eps[0], -3.0 * a + eps[1], 2.0 * b + eps[2],
            2.0 * b + eps[3], 0.3 + eps[4], -0.1 + eps[5],
        ]
        rows.append((i, [round(x, 6) for x in vec]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    model = pca_train(df, "embedding", d_out=4)
    assert model["d_in"] == 6 and model["n_rows"] == 200
    ev = model["eigvals"]
    assert ev == sorted(ev, reverse=True)
    assert ev[1] > 20 * ev[2]  # two planted signals dominate the rest

    # artifact determinism under layout change
    model13 = pca_train(df.repartition(13), "embedding", d_out=4)
    assert model13 == model

    # pure-Python replay of the quantized integer moments
    scale = 10**6
    n, d = len(rows), 6
    m_raw = [0] * d
    s_raw = {}
    for _, v in rows:
        for j in range(d):
            m_raw[j] += math.floor(v[j] * scale + 0.5)
            for k in range(j, d):
                s_raw[(j, k)] = s_raw.get((j, k), 0) + math.floor(
                    v[j] * v[k] * scale + 0.5
                )
    mean = [m_raw[j] / (n * scale) for j in range(d)]
    assert model["mean"] == [round(x, 9) for x in mean]
    cov = np.empty((d, d))
    for j in range(d):
        for k in range(j, d):
            cov[j, k] = cov[k, j] = (
                s_raw[(j, k)] / (n * scale) - mean[j] * mean[k]
            )
    evs, evec = np.linalg.eigh(cov)
    order = np.argsort(evs)[::-1][:4]
    assert model["eigvals"] == [
        round(float(max(evs[c], 0.0)), 9) for c in order
    ]

    # projection decorrelates; whitening equalizes variance
    proj = pca_apply(df, "embedding", model).collect()
    mat = np.array([r.embedding for r in proj])
    c = np.cov(mat.T, bias=True)
    offdiag = np.abs(c - np.diag(np.diag(c))).max()
    assert offdiag < 0.01 * c[0, 0]  # decorrelated vs top variance
    white = pca_apply(df, "embedding", model, whiten=True).collect()
    wmat = np.array([r.embedding for r in white])[:, :2]  # strong axes
    wvar = wmat.var(axis=0)
    assert np.all(np.abs(wvar - 1.0) < 0.05)

    # renorm gives unit vectors
    rn = pca_apply(df, "embedding", model, renorm=True).collect()
    for r in rn[:10]:
        assert abs(sum(x * x for x in r.embedding) - 1.0) < 1e-4

    # size-mismatch rows surface as NULL on apply, raise on train
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="equal-length"):
        pca_train(ragged, "embedding", d_out=1)
    applied = {
        r.vec_id: r.embedding
        for r in pca_apply(ragged, "embedding", model).collect()
    }
    assert applied[0] is None and applied[1] is None
    with pytest.raises(ValueError, match="d_out"):
        pca_train(df, "embedding", d_out=7)

    # matryoshka: prefix + renorm, short vectors -> NULL
    tr = {
        r.vec_id: r.embedding
        for r in matryoshka_truncate(df, "embedding", 3).collect()
    }
    assert all(len(v) == 3 for v in tr.values())
    assert abs(sum(x * x for x in tr[0]) - 1.0) < 1e-4
    raw0 = rows[0][1][:3]
    nrm = math.sqrt(sum(x * x for x in raw0))
    assert tr[0] == [round(x / nrm, 6) for x in raw0]
    short = matryoshka_truncate(ragged, "embedding", 3).collect()
    got = {r.vec_id: r.embedding for r in short}
    assert got[0] is None and len(got[1]) == 3


def test_curriculum_phases_report_quantiles_and_duckdb(spark):
    """Curriculum scheduling: phase assignment matches the brute
    threshold walk (inclusive upper bounds, above-all rows in the last
    phase), NULL difficulty yields a visible NULL phase, the shuffle
    key replays exactly in DuckDB, the report's observed envelopes sit
    inside the declared bounds, sketch-derived thresholds from
    logbucket_quantiles split the corpus into rough terciles, and
    non-ascending thresholds raise."""
    import hashlib

    import duckdb
    import pytest

    from healthcare_dbt_datamart_spark.llmops.sketches import (
        logbucket_quantiles,
    )
    from healthcare_dbt_datamart_spark.llmops.splits import (
        curriculum_phases,
        curriculum_report,
    )

    rows = [(i, float((i * 37) % 100)) for i in range(300)]
    rows.append((999, None))
    df = spark.createDataFrame(rows, "doc_id int, difficulty double")
    ts = [25.0, 60.0]

    got = {
        r.doc_id: (r.phase, r.curriculum_key)
        for r in curriculum_phases(df, "difficulty", "doc_id", ts).collect()
    }

    def brute_phase(d):
        if d is None:
            return None
        for p, t in enumerate(ts):
            if d <= t:
                return p
        return len(ts)

    def brute_key(i):
        return int(
            hashlib.md5(f"cur1:{i}".encode()).hexdigest()[:15], 16
        )

    for i, d in rows:
        assert got[i] == (brute_phase(d), brute_key(i)), (i, d)

    # report: observed envelope inside declared bounds, NULL row visible
    rep = {r.phase: r for r in curriculum_report(
        df, "difficulty", "doc_id", ts
    ).collect()}
    assert rep[0].bound_lo is None and rep[0].bound_hi == 25.0
    assert rep[1].bound_lo == 25.0 and rep[1].bound_hi == 60.0
    assert rep[2].bound_lo == 60.0 and rep[2].bound_hi is None
    assert rep[0].d_max <= 25.0
    assert 25.0 < rep[1].d_min and rep[1].d_max <= 60.0
    assert rep[2].d_min > 60.0
    assert rep[None].n_rows == 1
    assert sum(r.n_rows for r in rep.values()) == len(rows)

    # DuckDB replay of phase + key assignment
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute("""
        SELECT doc_id,
               CASE WHEN difficulty IS NULL THEN NULL
                    WHEN difficulty <= 25.0 THEN 0
                    WHEN difficulty <= 60.0 THEN 1
                    ELSE 2 END,
               ('0x' || substr(md5('cur1:' || doc_id), 1, 15))::BIGINT
        FROM t
    """).fetchall()
    }
    assert oracle == got

    # sketch-derived thresholds: rough terciles of the difficulty dist
    finite = df.filter("difficulty is not null")
    qs = {
        r.q: r.est
        for r in logbucket_quantiles(finite, "difficulty", qs=(0.34, 0.67))
        .collect()
    }
    t2 = sorted(qs.values())
    staged = curriculum_phases(finite, "difficulty", "doc_id", t2)
    counts = {
        r.phase: r.cnt
        for r in staged.groupBy("phase").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert set(counts) == {0, 1, 2}
    # log-bucket quantiles guarantee est within (1 + 2^-4) of the true
    # rank value, so each phase holds a rough third of the corpus
    assert all(0.2 * 300 < c < 0.5 * 300 for c in counts.values()), counts

    with pytest.raises(ValueError, match="ascending"):
        curriculum_phases(df, "difficulty", "doc_id", [5.0, 5.0])
    with pytest.raises(ValueError, match="ascending"):
        curriculum_phases(df, "difficulty", "doc_id", [])


def test_pca_whitening_composes_with_cosine_topk(spark):
    """Integration: pca_apply(whiten+renorm) output feeds cosine_topk
    unchanged (same column contract), and whitening IMPROVES neighbor
    quality on an anisotropic space — a planted near-duplicate pair
    that raw cosine ranks below a dominant-axis impostor becomes the
    top neighbor after whitening. The pipeline a 100 TB embedding
    dedup would run: fit on a sample, project everything, dedup in the
    whitened space."""
    import math

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        cosine_topk,
        pca_apply,
        pca_train,
    )

    # dim 0 carries huge common-mode variance (dominates raw cosine);
    # dims 1-2 carry the discriminative signal
    rows = []
    for i in range(120):
        common = 100.0 * math.sin(i * 0.9)
        s1 = math.cos(i * 1.7)
        s2 = math.sin(i * 2.3)
        jit = ((i * 7) % 13 - 6) / 2000.0
        rows.append((i, [common + jit, s1, s2, 0.05 * s1 + jit]))
    # query 500 and its true near-dup 501: identical signal coords,
    # opposite (but small-in-SD-units) common-mode; impostor 502
    # shares the common-mode with opposite signal
    rows += [
        (500, [20.0, 0.9, -0.4, 0.04]),
        (501, [-20.0, 0.9, -0.4, 0.05]),
        (502, [20.0, -0.9, 0.4, -0.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    def rank_of(emb_df, target):
        ranked = cosine_topk(emb_df, query_id=500, k=200).collect()
        return next(
            pos for pos, r in enumerate(ranked) if r.vec_id == target
        )

    # raw cosine is fooled by the dominant common-mode axis: the
    # impostor (shared dim 0, opposite signal) outranks the true pair,
    # which is buried deep in the ranking
    assert rank_of(df, 502) < rank_of(df, 501)
    assert rank_of(df, 501) > 50

    model = pca_train(df, "embedding", d_out=3)
    white = pca_apply(df, "embedding", model, whiten=True, renorm=True)
    # whitening surfaces the true near-dup and banishes the impostor
    assert rank_of(white, 501) <= 5
    assert rank_of(white, 502) > 100


def test_line_dedup_ccnet_semantics_replay_and_layout(spark):
    """CCNet line dedup: case/whitespace-insensitive boilerplate lines
    are dropped corpus-wide with the deterministic first occurrence
    kept (keep_first), or all copies dropped (keep_first=False); blank
    lines always survive; min_copies thresholds; rebuild preserves
    original bytes and order; a pure-Python replay reproduces every
    output row exactly; layout-invariant."""
    import re

    import pytest

    from healthcare_dbt_datamart_spark.llmops.dedup import line_dedup

    texts = {
        1: "MENU HOME\nunique alpha\n\nshared body line\nfooter (c) site",
        2: "menu home\nunique beta\nfooter (c) site",
        3: "Menu   Home\nunique gamma\nfooter (c) site",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id int, text string"
    )

    def replay(min_copies, keep_first):
        norm = lambda l: re.sub(r"\s+", " ", l.strip().lower())  # noqa: E731
        counts, first = {}, {}
        for i in sorted(texts):
            for p, l in enumerate(texts[i].split("\n")):
                k = norm(l)
                if k == "":
                    continue
                counts[k] = counts.get(k, 0) + 1
                first.setdefault(k, (i, p))
        out = {}
        for i in sorted(texts):
            kept, dropped, chars = [], 0, 0
            for p, l in enumerate(texts[i].split("\n")):
                k = norm(l)
                dup = k != "" and counts[k] >= min_copies
                drop = dup and (not keep_first or first[k] != (i, p))
                if drop:
                    dropped += 1
                    chars += len(l)
                else:
                    kept.append(l)
            out[i] = (
                "\n".join(kept), len(texts[i].split("\n")), dropped, chars
            )
        return out

    for mc, kf in [(2, True), (2, False), (3, True), (4, True)]:
        got = {
            r.doc_id: (
                r.text_deduped, r.n_lines, r.n_lines_dropped, r.chars_removed
            )
            for r in line_dedup(
                df, "text", "doc_id", min_copies=mc, keep_first=kf
            ).collect()
        }
        assert got == replay(mc, kf), (mc, kf)

    # semantic spot checks on the default config
    got = {
        r.doc_id: r for r in line_dedup(df, "text", "doc_id").collect()
    }
    assert got[1].text_deduped == texts[1]       # first doc keeps all
    assert got[2].text_deduped == "unique beta"  # boilerplate stripped
    assert got[3].text_deduped == "unique gamma"
    assert got[1].n_lines == 5 and got[1].n_lines_dropped == 0
    assert "\n\n" in got[1].text_deduped         # blank line preserved
    # min_copies above the copy count: nothing drops
    none = line_dedup(df, "text", "doc_id", min_copies=4).collect()
    assert all(r.n_lines_dropped == 0 for r in none)
    # keep_first=False: even the first occurrence goes
    allgone = {
        r.doc_id: r.text_deduped
        for r in line_dedup(
            df, "text", "doc_id", keep_first=False
        ).collect()
    }
    assert allgone[1] == "unique alpha\n\nshared body line"

    # layout invariance
    got13 = {
        r.doc_id: (r.text_deduped, r.n_lines_dropped)
        for r in line_dedup(df.repartition(13), "text", "doc_id").collect()
    }
    assert got13 == {
        i: (r.text_deduped, r.n_lines_dropped) for i, r in got.items()
    }

    with pytest.raises(ValueError, match="min_copies"):
        line_dedup(df, "text", "doc_id", min_copies=1)

    # NULL text coalesces to one blank line: the doc keeps a visible
    # accounting row (r7 ADVICE — split(NULL) emitted no rows and the
    # doc vanished), and other docs' counts are untouched
    with_null = df.unionByName(
        spark.createDataFrame([(99, None)], "doc_id long, text string")
    )
    got_null = {
        r.doc_id: r for r in line_dedup(with_null, "text", "doc_id").collect()
    }
    assert 99 in got_null
    assert got_null[99].text_deduped == ""
    assert (got_null[99].n_lines, got_null[99].n_lines_dropped) == (1, 0)
    for i, r in got.items():
        assert (got_null[i].text_deduped, got_null[i].n_lines_dropped) == (
            r.text_deduped, r.n_lines_dropped,
        )


def test_compression_ratio_orders_redundancy_and_layout(spark):
    """zlib compression ratio: looping text compresses far below
    prose, random-ish text compresses worst, values match a direct
    zlib replay exactly (same build), NULL/empty rows stay visible,
    and the output is layout-invariant."""
    import zlib

    import pytest

    from healthcare_dbt_datamart_spark.llmops.textstats import (
        compression_ratio,
    )

    loop = "spam ham " * 200
    prose = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "plumbers argue about copper fittings in a dim basement "
    ) * 12
    rand = " ".join(
        f"w{(i * 7919) % 100000}x{(i * 104729) % 99991}" for i in range(250)
    )
    rows = [(1, loop), (2, prose), (3, rand), (4, None), (5, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    got = {r.doc_id: r for r in compression_ratio(df, "text", "doc_id").collect()}
    # exact replay against the local zlib build
    for pid, t in rows:
        if t:
            raw = t.encode()
            comp = len(zlib.compress(raw, 6))
            assert got[pid].n_bytes == len(raw)
            assert got[pid].n_compressed == comp
            assert got[pid].ratio == round(comp / len(raw), 6)
    assert got[1].ratio < got[2].ratio < got[3].ratio  # loop < prose < rand
    assert got[1].ratio < 0.05
    assert got[4].n_bytes is None and got[4].ratio is None
    assert got[5].n_bytes == 0 and got[5].ratio is None

    got13 = {
        r.doc_id: r
        for r in compression_ratio(
            df.repartition(13), "text", "doc_id"
        ).collect()
    }
    assert {k: tuple(v) for k, v in got13.items()} == {
        k: tuple(v) for k, v in got.items()
    }

    with pytest.raises(ValueError, match="level"):
        compression_ratio(df, "text", "doc_id", level=0)


def test_dawid_skene_log_space_matches_small_panels_and_survives_500(spark):
    """The log-space Dawid-Skene E-step (stretch flag for big panels):
    on small panels it recovers the SAME labels as the quantized
    product path with posteriors within a quantization unit; on a
    500-vote panel — where the product path RAISES at the documented
    ~200-vote underflow bound — it returns finite posteriors that
    recover the planted truth with near-certain confidence."""
    from healthcare_dbt_datamart_spark.llmops.preferences import dawid_skene

    rows = []
    for i in (1, 2, 3):
        rows += [(i, "g1", "a"), (i, "g2", "a"), (i, "s", "a")]
    for i in (4, 5, 6):
        rows += [(i, "g1", "b"), (i, "g2", "b"), (i, "s", "a")]
    for i in (7, 8):
        rows += [(i, "g1", "b"), (i, "s", "a")]
    votes = spark.createDataFrame(rows, ["item_id", "annotator_id", "label"])

    base = {
        r.item_id: (r.ds_label, r.posterior, r.flipped)
        for r in dawid_skene(votes, n_iter=2).collect()
    }
    logd = {
        r.item_id: (r.ds_label, r.posterior, r.flipped)
        for r in dawid_skene(votes, n_iter=2, log_space=True).collect()
    }
    assert set(base) == set(logd)
    for i, (lbl, post, fl) in base.items():
        assert logd[i][0] == lbl, i            # identical labels
        assert abs(logd[i][1] - post) <= 2e-6  # within a quantized unit
        assert logd[i][2] == fl

    # 500-vote synthetic panel: 350 raters vote the planted truth 'b',
    # 150 vote 'a'; one small control item keeps 2 label classes honest
    big = [(100, f"r{j}", "b" if j < 350 else "a") for j in range(500)]
    big += [(101, "r0", "a"), (101, "r1", "a")]
    bdf = spark.createDataFrame(big, ["item_id", "annotator_id", "label"])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="log_space=True"):
        dawid_skene(bdf, n_iter=1)

    out = {
        r.item_id: r
        for r in dawid_skene(bdf, n_iter=2, log_space=True).collect()
    }
    assert out[100].ds_label == "b" and out[100].posterior >= 0.999999
    assert out[100].n_votes == 500 and not out[100].flipped
    assert out[101].ds_label == "a"

    # layout invariance of the log-space path
    out13 = {
        r.item_id: tuple(r)
        for r in dawid_skene(
            bdf.repartition(13), n_iter=2, log_space=True
        ).collect()
    }
    assert out13 == {i: tuple(r) for i, r in out.items()}


def test_rasch_fit_recovers_planted_ordering_and_replays(spark):
    """Rasch 1PL fit: on a planted grid (rater ability 0..4, item
    difficulty 0..9, outcome = threshold + deterministic noise) the
    fitted abilities and difficulties recover the planted ORDERING at
    the extremes and monotonically on average; item estimates anchor
    to integer-mean zero each round (location invariance); a
    pure-Python replay of the exact quantized loop reproduces every
    estimate bit-for-bit; layout-invariant; loud guards."""
    import math

    from healthcare_dbt_datamart_spark.llmops.preferences import rasch_fit

    rows = []
    for r in range(5):
        for i in range(10):
            noise = ((i * 7 + r * 3) % 3) - 1  # -1/0/+1, deterministic
            y = 1 if (2 * r - i + noise) > 0 else 0
            rows.append((f"i{i:02d}", f"r{r}", y))
    votes = spark.createDataFrame(rows, ["item_id", "annotator_id", "correct"])

    out = rasch_fit(votes, n_iter=4, lr=1.0).collect()
    items = {r.key: r.estimate for r in out if r.kind == "item"}
    raters = {r.key: r.estimate for r in out if r.kind == "rater"}
    assert len(items) == 10 and len(raters) == 5
    assert all(r.n_votes == 5 for r in out if r.kind == "item")
    assert all(r.n_votes == 10 for r in out if r.kind == "rater")

    # planted ordering at the extremes + monotone-on-average
    assert raters["r4"] > raters["r2"] > raters["r0"]
    assert items["i09"] > items["i05"] > items["i00"]
    assert sum(
        raters[f"r{a}"] < raters[f"r{a+1}"] for a in range(4)
    ) >= 3
    # items re-anchor to integer-mean zero (fp units): |sum| < n_items
    assert abs(round(sum(items.values()) * 10**6)) < 10

    # layout invariance
    out13 = {
        (r.kind, r.key): r.estimate
        for r in rasch_fit(votes.repartition(13), n_iter=4).collect()
    }
    assert out13 == {(r.kind, r.key): r.estimate for r in out}

    # pure-Python replay of the exact quantized loop
    scale = 10**6
    b = {f"i{i:02d}": 0 for i in range(10)}
    th = {f"r{r}": 0 for r in range(5)}
    n_i = {k: 5 for k in b}
    n_r = {k: 10 for k in th}
    for _ in range(4):
        gi = {k: 0 for k in b}
        gr = {k: 0 for k in th}
        for it, ra, y in rows:
            p = 1.0 / (1.0 + math.exp(-(th[ra] / 1e6 - b[it] / 1e6)))
            q = math.floor((p - y) * scale + 0.5)
            gi[it] += q
            gr[ra] += q
        b = {
            k: math.floor(
                (b[k] / 1e6 + 1.0 * (gi[k] / (n_i[k] * scale))) * scale
                + 0.5
            )
            for k in b
        }
        th = {
            k: math.floor(
                (th[k] / 1e6 - 1.0 * (gr[k] / (n_r[k] * scale))) * scale
                + 0.5
            )
            for k in th
        }
        c = sum(b.values()) // len(b)
        b = {k: v - c for k, v in b.items()}
        th = {k: v - c for k, v in th.items()}
    assert items == {k: round(v / 1e6, 6) for k, v in b.items()}
    assert raters == {k: round(v / 1e6, 6) for k, v in th.items()}

    # guards
    with pytest.raises(ValueError, match="non-binary"):
        rasch_fit(
            spark.createDataFrame(
                [("a", "r", 2)], ["item_id", "annotator_id", "correct"]
            )
        ).collect()
    with pytest.raises(ValueError, match="lr"):
        rasch_fit(votes, lr=0.0)
    with pytest.raises(ValueError, match="n_iter"):
        rasch_fit(votes, n_iter=0)


def test_paired_bootstrap_detects_gain_unpaired_misses_and_replays(spark):
    """The paired test's reason to exist, pinned: a small CONSISTENT
    per-item gain under large item variance is significant for the
    paired bootstrap but invisible to the unpaired two-group interval
    on the same scores; the whole procedure replays bit-for-bit in
    pure Python from the md5 draws; loud guards; layout-invariant."""
    import hashlib
    import math

    from healthcare_dbt_datamart_spark.llmops.bootstrap import (
        _POISSON1_CDF,
        bootstrap_diff_ci,
        paired_bootstrap_test,
    )

    # item variance +-500 around 5000; system A = B + 2 everywhere
    rows = [
        (i, 5000 + ((i * 37) % 1000) - 500 + 2, 5000 + ((i * 37) % 1000) - 500)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["item_id", "score_a", "score_b"])

    got = paired_bootstrap_test(
        df, "score_a", "score_b", "item_id", n_boot=40, seed="p1"
    ).collect()[0]
    assert got.n_items == 120 and got.diff == 2.0
    assert (got.n_a_wins, got.n_b_wins, got.n_ties) == (120, 0, 0)
    # constant per-item diff: every replicate mean is exactly 2
    assert (got.ci_lo, got.ci_hi, got.significant) == (2.0, 2.0, True)

    # the UNPAIRED test on the stacked relation cannot see the gain
    stacked = spark.createDataFrame(
        [(f"a{i}", "a", sa) for i, sa, _ in rows]
        + [(f"b{i}", "b", sb) for i, _, sb in rows],
        ["row_id", "system", "score"],
    )
    unpaired = bootstrap_diff_ci(
        stacked, "score", "system", "row_id",
        group_a="a", group_b="b", n_boot=40, seed="p1",
    ).collect()[0]
    assert unpaired.significant is False
    assert unpaired.ci_lo < 0 < unpaired.ci_hi

    # pure-Python replay: md5 draws -> Poisson weights -> replicate
    # means -> ceil-rank percentile walk (noisy grid so means differ)
    rows2 = [
        (i,
         4000 + ((i * 53) % 900) + (((i * 29) % 7) - 3) * 40 + 15,
         4000 + ((i * 53) % 900))
        for i in range(80)
    ]
    df2 = spark.createDataFrame(rows2, ["item_id", "score_a", "score_b"])
    got2 = paired_bootstrap_test(
        df2, "score_a", "score_b", "item_id", n_boot=32, seed="z9"
    ).collect()[0]

    def w_of(u):
        for k, t in enumerate(_POISSON1_CDF):
            if u < t:
                return k
        return 7

    means = []
    for rep in range(32):
        ws = wd = 0
        for i, sa, sb in rows2:
            h = hashlib.md5(f"z9:{rep}:{i}".encode()).hexdigest()
            u = int(h[:15], 16) / float(1 << 60)
            w = w_of(u)
            ws += w
            wd += w * (sa - sb)
        if ws > 0:
            means.append((rep, wd / ws))
    means.sort(key=lambda t: (t[1], t[0]))
    nb = len(means)
    lo = means[max(math.ceil(0.025 * nb), 1) - 1][1]
    hi = means[math.ceil(0.975 * nb) - 1][1]
    assert (got2.ci_lo, got2.ci_hi) == (round(lo, 6), round(hi, 6))
    assert got2.diff == round(
        sum(sa - sb for _, sa, sb in rows2) / len(rows2), 6
    )

    # layout invariance
    got13 = paired_bootstrap_test(
        df2.repartition(13), "score_a", "score_b", "item_id",
        n_boot=32, seed="z9",
    ).collect()[0]
    assert got13 == got2

    import pytest as _pytest

    holed = df2.unionByName(spark.createDataFrame(
        [(999, None, 5)], "item_id long, score_a long, score_b long"
    ))
    with _pytest.raises(ValueError, match="NULL score"):
        paired_bootstrap_test(holed, "score_a", "score_b", "item_id")
    with _pytest.raises(ValueError, match=">= 2 items"):
        paired_bootstrap_test(
            df2.limit(1), "score_a", "score_b", "item_id"
        )


def test_implicit_preference_pairs_semantics_and_bt_composition(spark):
    """Implicit-feedback preference mining: strongest action per
    (user, item) wins, unmapped actions drop, equal ranks emit no
    pair, the per-user cap bounds fan-out deterministically, margins
    are rank differences, a DuckDB replay reproduces the pair table
    row-for-row, and the pairs feed bradley_terry into the planted
    ranking."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry,
        implicit_preference_pairs,
    )

    ranks = {"purchase": 3, "signup": 2, "click": 1, "view": 0}
    rows = [
        # u1: strongest-signal-wins — item A has view+purchase, B click
        (1, "A", "view"), (1, "A", "purchase"), (1, "B", "click"),
        (1, "C", "view"),
        # u2: ties emit nothing between B and C (both click)
        (2, "B", "click"), (2, "C", "click"), (2, "A", "purchase"),
        # u3: unmapped action drops entirely
        (3, "D", "error"), (3, "A", "click"), (3, "B", "view"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "item", "action"])
    got = {
        (r.winner_id, r.loser_id, r.user_id): r.margin
        for r in implicit_preference_pairs(
            ev, "user_id", "item", "action", ranks
        ).collect()
    }
    assert got == {
        ("A", "B", 1): 2, ("A", "C", 1): 3, ("B", "C", 1): 1,
        ("A", "B", 2): 2, ("A", "C", 2): 2,
        ("A", "B", 3): 1,
    }

    # DuckDB replay of the full constructor
    con = duckdb.connect()
    con.register("ev", ev.toPandas())
    oracle = {
        (r[0], r[1], r[2]): r[3]
        for r in con.execute("""
        WITH ranked AS (
          SELECT user_id, item, MAX(CASE action
            WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
            WHEN 'click' THEN 1 WHEN 'view' THEN 0 END) AS rank
          FROM ev
          WHERE action IN ('purchase','signup','click','view')
          GROUP BY 1, 2
        ),
        capped AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY rank DESC, item ASC) AS rn
            FROM ranked) WHERE rn <= 20
        )
        SELECT w.item, l.item, w.user_id, w.rank - l.rank
        FROM capped w JOIN capped l USING (user_id)
        WHERE w.rank > l.rank
        """).fetchall()
    }
    assert oracle == got

    # cap bounds fan-out: a 30-item power user emits pairs over at
    # most the 5 strongest items
    power = spark.createDataFrame(
        [(9, f"i{j:02d}", "click" if j else "purchase") for j in range(30)],
        ["user_id", "item", "action"],
    )
    pp = implicit_preference_pairs(
        power, "user_id", "item", "action", ranks, max_items_per_user=5
    ).collect()
    items = {r.winner_id for r in pp} | {r.loser_id for r in pp}
    # cap keeps: i00 (purchase) + i01..i04 (clicks, item-asc tiebreak)
    assert items == {"i00", "i01", "i02", "i03", "i04"}
    assert all(r.winner_id == "i00" for r in pp) and len(pp) == 4

    # composition: the mined pairs rank the planted favorite on top
    big = []
    for u in range(40):
        big += [(u, "best", "purchase"), (u, "mid", "click"),
                (u, "worst", "view")]
    pairs = implicit_preference_pairs(
        spark.createDataFrame(big, ["user_id", "item", "action"]),
        "user_id", "item", "action", ranks,
    )
    bt = {
        r.item: r.rating_fp
        for r in bradley_terry(pairs, n_iter=3).collect()
    }
    assert bt["best"] > bt["mid"] > bt["worst"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_items_per_user"):
        implicit_preference_pairs(
            ev, "user_id", "item", "action", ranks, max_items_per_user=1
        )
    with _pytest.raises(ValueError, match="non-empty"):
        implicit_preference_pairs(ev, "user_id", "item", "action", {})


def test_elo_ratings_periods_conservation_and_replays(spark):
    """Epoch-batched Elo: planted skill ordering recovered, exact
    zero-sum conservation per period (sum of rating_fp is invariant),
    a player absent from early periods holds the initial rating until
    they play, the quantized loop replays bit-for-bit in pure Python
    AND as unrolled DuckDB CTEs, layout-invariant, loud guards."""
    import math

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        elo_ratings,
        elo_update_period,
    )

    # planted skill p4 > p3 > p2 > p1 > p0: round-robin per period,
    # better always wins; p4 sits out periods 0-1 (late joiner)
    rows = []
    for per in range(3):
        for i in range(5):
            for j in range(i):
                if per < 2 and (i == 4 or j == 4):
                    continue
                rows.append((f"p{i}", f"p{j}", per))
    m = spark.createDataFrame(rows, ["winner_id", "loser_id", "period"])

    out = {r.item: r for r in elo_ratings(m, k=32).collect()}
    assert len(out) == 5
    r = {k: v.rating_fp for k, v in out.items()}
    assert r["p3"] > r["p2"] > r["p1"] > r["p0"]
    assert out["p4"].n_matches == 4 and out["p4"].wins == 4
    assert out["p3"].n_matches == 3 + 3 + 4

    # exact zero-sum conservation: every match moves +c/-c
    assert sum(r.values()) == 5 * 1000 * 10**6

    # late joiner: after periods 0-1 only, p4 still holds the initial
    two = {
        x.item: x.rating_fp
        for x in elo_ratings(
            m.filter("period < 2"), k=32
        ).collect()
    }
    assert "p4" not in two  # never played -> not an item yet
    ra0 = spark.createDataFrame(
        [(f"p{i}", 1000 * 10**6) for i in range(5)], ["item", "r_fp"]
    )
    stepped = {
        x.item: x.r_fp
        for x in elo_update_period(
            ra0, m.filter("period = 0").selectExpr(
                "winner_id as w", "loser_id as l"
            )
        ).collect()
    }
    assert stepped["p4"] == 1000 * 10**6  # no matches -> unchanged

    # layout invariance
    out13 = {
        x.item: tuple(x)
        for x in elo_ratings(m.repartition(13), k=32).collect()
    }
    assert out13 == {k: tuple(v) for k, v in out.items()}

    # pure-Python replay of the exact quantized loop
    scale = 10**6
    R = {f"p{i}": 1000 * scale for i in range(5)}
    for per in range(3):
        C = {k: 0 for k in R}
        for w, l, p in rows:
            if p != per:
                continue
            e = math.floor(
                scale / (1.0 + 10.0 ** ((R[l] - R[w]) / (400.0 * scale)))
                + 0.5
            )
            C[w] += scale - e
            C[l] -= scale - e
        R = {k: v + 32 * C[k] for k, v in R.items()}
    assert r == R

    # DuckDB replay: the same loop as unrolled CTEs over the match log
    con = duckdb.connect()
    con.register("m", m.toPandas())
    sql = "WITH r0 AS (SELECT DISTINCT x AS item, CAST(1000000000 AS BIGINT) AS r_fp FROM (SELECT winner_id AS x FROM m UNION SELECT loser_id FROM m))"
    for per in range(3):
        sql += f""",
c{per} AS (
  SELECT item, SUM(c) AS C FROM (
    SELECT winner_id AS item,
           1000000 - CAST(floor(1000000.0 / (1.0 + pow(10.0,
             CAST(rl.r_fp - rw.r_fp AS DOUBLE) / 400000000.0)) + 0.5)
             AS BIGINT) AS c
    FROM m JOIN r{per} rw ON m.winner_id = rw.item
           JOIN r{per} rl ON m.loser_id = rl.item
    WHERE m.period = {per}
    UNION ALL
    SELECT loser_id,
           CAST(floor(1000000.0 / (1.0 + pow(10.0,
             CAST(rl.r_fp - rw.r_fp AS DOUBLE) / 400000000.0)) + 0.5)
             AS BIGINT) - 1000000
    FROM m JOIN r{per} rw ON m.winner_id = rw.item
           JOIN r{per} rl ON m.loser_id = rl.item
    WHERE m.period = {per}
  ) GROUP BY item
),
r{per + 1} AS (
  SELECT r.item, r.r_fp + 32 * COALESCE(c.C, 0) AS r_fp
  FROM r{per} r LEFT JOIN c{per} c USING (item)
)"""
    sql += " SELECT item, r_fp FROM r3 ORDER BY item"
    assert {k: v for k, v in con.execute(sql).fetchall()} == r

    # guards
    with pytest.raises(ValueError, match="NULL winner"):
        elo_ratings(
            m.unionByName(
                spark.createDataFrame(
                    [(None, "p0", 0)],
                    "winner_id string, loser_id string, period int",
                )
            )
        ).collect()
    with pytest.raises(ValueError, match="k must be"):
        elo_ratings(m, k=0)
    with pytest.raises(ValueError, match="initial"):
        elo_ratings(m, initial=0)
    # self-matches drop (the bradley_terry convention)
    selfy = m.unionByName(
        spark.createDataFrame(
            [("p0", "p0", 0)], "winner_id string, loser_id string, period int"
        )
    )
    assert {
        x.item: x.n_matches for x in elo_ratings(selfy).collect()
    } == {k: v.n_matches for k, v in out.items()}


def test_wilson_winrate_interval_ranking_and_replays(spark):
    """Wilson leaderboard: exact counts, the 2-0 item ranks BELOW a
    180-20 one by lower bound (the interval's reason to exist), bounds
    match a closed-form Python replay to all 6dp (Wilson uses only
    IEEE-correctly-rounded ops), DuckDB replays the whole report,
    layout-invariant, loud guards."""
    import math

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        wilson_winrate,
    )

    rows = (
        [("hot", f"x{i}") for i in range(2)]          # 2-0
        + [("champ", f"y{i % 40}") for i in range(180)]  # 180 wins
        + [(f"y{i % 40}", "champ") for i in range(20)]   # 20 losses
    )
    m = spark.createDataFrame(rows, ["winner_id", "loser_id"])
    out = {r.item: r for r in wilson_winrate(m).collect()}

    assert (out["hot"].n_matches, out["hot"].wins) == (2, 2)
    assert (out["champ"].n_matches, out["champ"].wins) == (200, 180)
    assert out["hot"].winrate == 1.0 and out["champ"].winrate == 0.9
    # the point of the interval: champ's LOWER bound beats hot's
    assert out["champ"].ci_lo > out["hot"].ci_lo
    assert out["champ"].rank_lb < out["hot"].rank_lb
    assert out["hot"].ci_hi == 1.0  # p=1 pins the upper bound at 1

    # closed-form replay (IEEE +,-,*,/,sqrt only)
    def wilson(wins, n, z=1.959964):
        p = wins / n
        z2 = z * z
        den = 1.0 + z2 / n
        c = (p + z2 / (2.0 * n)) / den
        h = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / den
        return round(c - h, 6), round(c + h, 6)

    for k, (wins, n) in {"hot": (2, 2), "champ": (180, 200)}.items():
        lo, hi = wilson(wins, n)
        assert (out[k].ci_lo, out[k].ci_hi) == (lo, hi)

    # DuckDB replay of the full report
    con = duckdb.connect()
    con.register("m", m.toPandas())
    got = {
        r[0]: r[1:]
        for r in con.execute("""
        WITH sides AS (
          SELECT winner_id AS item, 1 AS win FROM m
          WHERE winner_id != loser_id
          UNION ALL
          SELECT loser_id, 0 FROM m WHERE winner_id != loser_id
        ),
        tot AS (
          SELECT item, COUNT(*) AS n, SUM(win) AS wins
          FROM sides GROUP BY item
        ),
        sc AS (
          SELECT item, n, wins,
            round(wins / CAST(n AS DOUBLE), 6) AS winrate,
            round(((wins / CAST(n AS DOUBLE)) + 1.959964*1.959964/(2.0*n))
                  / (1.0 + 1.959964*1.959964/n)
                  - 1.959964 * sqrt((wins / CAST(n AS DOUBLE))
                      * (1.0 - wins / CAST(n AS DOUBLE)) / n
                      + 1.959964*1.959964/(4.0*n*n))
                    / (1.0 + 1.959964*1.959964/n), 6) AS ci_lo,
            round(((wins / CAST(n AS DOUBLE)) + 1.959964*1.959964/(2.0*n))
                  / (1.0 + 1.959964*1.959964/n)
                  + 1.959964 * sqrt((wins / CAST(n AS DOUBLE))
                      * (1.0 - wins / CAST(n AS DOUBLE)) / n
                      + 1.959964*1.959964/(4.0*n*n))
                    / (1.0 + 1.959964*1.959964/n), 6) AS ci_hi
          FROM tot
        )
        SELECT item, n, wins, winrate, ci_lo, ci_hi,
               row_number() OVER (ORDER BY ci_lo DESC, item ASC) AS rank_lb
        FROM sc
        """).fetchall()
    }
    assert got == {k: tuple(v)[1:] for k, v in out.items()}

    # layout invariance
    out13 = {
        r.item: tuple(r) for r in wilson_winrate(m.repartition(13)).collect()
    }
    assert out13 == {k: tuple(v) for k, v in out.items()}

    # guards
    with pytest.raises(ValueError, match="NULL winner"):
        wilson_winrate(
            m.unionByName(
                spark.createDataFrame(
                    [("a", None)], "winner_id string, loser_id string"
                )
            )
        ).collect()
    with pytest.raises(ValueError, match="z must be"):
        wilson_winrate(m, z=0.0)


def test_unimax_allocation_waterfill_and_replays(spark):
    """UniMax water-filling: caps bind ascending-prefix, leftover
    splits div/mod with a deterministic +1 prefix, budget >= total
    caps leaves surplus visible, the closed-form window result matches
    a sequential pure-Python water-fill AND a DuckDB window replay,
    layout-invariant, loud guards."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.splits import (
        unimax_allocation,
    )

    counts = spark.createDataFrame(
        [("tail", 10), ("mid", 100), ("head", 1000)], ["grp", "n_tokens"]
    )
    out = {
        r.grp: r
        for r in unimax_allocation(counts, budget=1000, max_epochs=2).collect()
    }
    assert {k: v.alloc for k, v in out.items()} == {
        "tail": 20, "mid": 200, "head": 780,
    }
    assert {k: v.capped for k, v in out.items()} == {
        "tail": True, "mid": True, "head": False,
    }
    assert out["tail"].epochs_alloc == 2.0 and out["head"].epochs_alloc == 0.78
    assert sum(v.alloc for v in out.values()) == 1000

    # remainder split: 3 equal uncapped domains, budget 1000 -> 334/333/333
    # with the +1 going to the first in (cap, grp) sort order
    eq = spark.createDataFrame(
        [("a", 10**6), ("b", 10**6), ("c", 10**6)], ["grp", "n_tokens"]
    )
    got = {
        r.grp: r.alloc
        for r in unimax_allocation(eq, budget=1000, max_epochs=1).collect()
    }
    assert got == {"a": 334, "b": 333, "c": 333}

    # budget >= total caps: all capped, surplus visible as spent < budget
    small = spark.createDataFrame(
        [("x", 5), ("y", 7)], ["grp", "n_tokens"]
    )
    rows = unimax_allocation(small, budget=100, max_epochs=3).collect()
    assert all(r.capped for r in rows)
    assert sum(r.alloc for r in rows) == 36  # 3*(5+7) < 100

    # sequential water-fill replay on an uneven grid
    grid = [(f"d{i:02d}", 7 + (i * 53) % 90) for i in range(12)]
    B, E = 700, 3
    caps = sorted(((n * E, g) for g, n in grid))
    remaining, m = B, len(caps)
    expect = {}
    for cap, g in caps:
        if cap * m <= remaining:
            expect[g] = cap
            remaining -= cap
            m -= 1
    q, rem = (remaining // m, remaining % m) if m else (0, 0)
    i = 0
    for cap, g in caps:
        if g not in expect:
            expect[g] = q + (1 if i < rem else 0)
            i += 1
    gdf = spark.createDataFrame(grid, ["grp", "n_tokens"])
    got2 = {
        r.grp: r.alloc
        for r in unimax_allocation(gdf, budget=B, max_epochs=E).collect()
    }
    assert got2 == expect

    # DuckDB replay of the closed-form window SQL
    con = duckdb.connect()
    con.register("counts", gdf.toPandas())
    oracle = {
        r[0]: r[1]
        for r in con.execute(f"""
        WITH ranked AS (
          SELECT grp, n_tokens, n_tokens * {E} AS cap,
            row_number() OVER w AS r,
            COALESCE(SUM(n_tokens * {E}) OVER (w ROWS BETWEEN UNBOUNDED
              PRECEDING AND 1 PRECEDING), 0) AS cum_before,
            COUNT(*) OVER () AS n
          FROM counts
          WINDOW w AS (ORDER BY n_tokens * {E} ASC, grp ASC)
        ),
        staged AS (
          SELECT *, cap * (n - r + 1) <= {B} - cum_before AS capped
          FROM ranked
        ),
        tot AS (
          SELECT *,
            SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k,
            COALESCE(SUM(CASE WHEN capped THEN cap END) OVER (), 0) AS s
          FROM staged
        )
        SELECT grp, CASE WHEN capped THEN cap ELSE
          ({B} - s) // (n - k)
          + CASE WHEN r - k <= ({B} - s) % (n - k) THEN 1 ELSE 0 END
        END AS alloc
        FROM tot
        """).fetchall()
    }
    assert oracle == got2

    # layout invariance
    got13 = {
        r.grp: tuple(r)
        for r in unimax_allocation(
            gdf.repartition(13), budget=B, max_epochs=E
        ).collect()
    }
    assert got13 == {
        r.grp: tuple(r)
        for r in unimax_allocation(gdf, budget=B, max_epochs=E).collect()
    }

    # guards
    with pytest.raises(ValueError, match="budget"):
        unimax_allocation(counts, budget=0)
    with pytest.raises(ValueError, match="max_epochs"):
        unimax_allocation(counts, budget=10, max_epochs=0)
    with pytest.raises(ValueError, match="non-positive"):
        unimax_allocation(
            counts.unionByName(
                spark.createDataFrame([("z", 0)], ["grp", "n_tokens"])
            ),
            budget=10,
        ).collect()


def test_vocab_richness_chao1_zipf_and_replays(spark):
    """Vocab diagnostics: exact V/N/f1/f2 on a hand-counted corpus,
    Chao1 closed form (and the f2=0 bias-corrected branch), the Zipf
    slope equals the exact quantized-integer least squares replayed in
    pure Python, a planted power law recovers slope ~ -1,
    layout-invariant, loud guard."""
    import math

    from healthcare_dbt_datamart_spark.llmops.textstats import (
        vocab_richness,
    )

    # hand-countable corpus: 'a' x4, 'b' x2, 'c' x2, 'd' x1, 'e' x1
    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b c d"), (3, "A e")], ["doc_id", "text"]
    )
    got = vocab_richness(docs, "text", zipf_top_k=5).collect()[0]
    assert (got.n_tokens, got.vocab_size, got.f1, got.f2) == (10, 5, 2, 2)
    assert got.hapax_ratio == 0.4
    assert got.chao1 == 5 + 4 / 4.0  # V + f1^2/(2 f2)
    assert got.zipf_k == 5

    # pure-Python replay of the quantized regression
    freqs = [("a", 4), ("b", 2), ("c", 2), ("d", 1), ("e", 1)]
    scale = 10**9
    sx = sy = sxy = sx2 = 0
    for r, (_, tc) in enumerate(freqs, start=1):
        sx += math.floor(math.log(r) * scale + 0.5)
        sy += math.floor(math.log(tc) * scale + 0.5)
        sxy += math.floor(math.log(r) * math.log(tc) * scale + 0.5)
        sx2 += math.floor(math.log(r) * math.log(r) * scale + 0.5)
    num = 5 * sxy * scale - sx * sy
    den = 5 * sx2 * scale - sx * sx
    assert got.zipf_slope == round(num / den, 6)

    # f2 = 0 branch: every type once except one seen 3x
    d2 = spark.createDataFrame(
        [(1, "x y z"), (2, "x x")], ["doc_id", "text"]
    )
    g2 = vocab_richness(d2, "text", zipf_top_k=3).collect()[0]
    assert (g2.f1, g2.f2) == (2, 0)
    assert g2.chao1 == 3 + 2 * 1 / 2.0  # bias-corrected branch

    # planted Zipf: freq(r) = round(C/r) for 40 types -> slope near -1
    toks = []
    for r in range(1, 41):
        toks += [f"t{r:02d}"] * max(round(400 / r), 1)
    zdocs = spark.createDataFrame(
        [(i, " ".join(toks[i::7])) for i in range(7)], ["doc_id", "text"]
    )
    gz = vocab_richness(zdocs, "text", zipf_top_k=40).collect()[0]
    assert -1.1 < gz.zipf_slope < -0.9

    # layout invariance
    g13 = vocab_richness(
        docs.repartition(13), "text", zipf_top_k=5
    ).collect()[0]
    assert tuple(g13) == tuple(got)

    # guard: degenerate vocabulary
    with pytest.raises(ValueError, match="distinct types"):
        vocab_richness(
            spark.createDataFrame([(1, "same same")], ["doc_id", "text"]),
            "text",
        )
    with pytest.raises(ValueError, match="zipf_top_k"):
        vocab_richness(docs, "text", zipf_top_k=1)


def test_leaderboard_release_dag_gates_and_parity(spark):
    """The leaderboard release DAG: a planted undefeated item tops BOTH
    rating systems and the gate releases; the volume floor blocks a
    thin log; BT-from-the-state-table matches BT-from-raw (the
    incremental path parity); the gate row is layout-invariant."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry,
    )
    from healthcare_dbt_datamart_spark.models.leaderboard_release import (
        build_leaderboard_release,
    )

    # round-robin, 2 periods x 2 plays: alpha > beta > gamma > delta
    order = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for per in range(2):
        for rep in range(2):
            for i in range(4):
                for j in range(i + 1, 4):
                    rows.append((order[i], order[j], per))
    m = spark.createDataFrame(rows, ["winner_id", "loser_id", "period"])

    r = build_leaderboard_release(spark, m)
    gate = r.build("leaderboard_gate").collect()[0]
    assert gate.n_items == 4
    assert gate.n_matches == len(rows)
    assert gate.min_item_matches == 12
    assert gate.bt_top == "alpha" and gate.elo_top == "alpha"
    assert gate.tops_agree is True and gate.released is True

    lb = {x.item: x for x in r.build("leaderboard").collect()}
    assert lb["alpha"].rank_bt == 1 and lb["alpha"].rank_elo == 1
    assert lb["delta"].rank_bt == 4 and lb["delta"].rank_elo == 4
    assert lb["alpha"].winrate == 1.0

    # incremental-path parity: BT over the materialized pair_counts
    # equals BT straight off the raw log
    bt_state = {
        x.item: x.rating_fp for x in r.build("bt_ratings").collect()
    }
    bt_raw = {
        x.item: x.rating_fp
        for x in bradley_terry(m, n_iter=3).collect()
    }
    assert bt_state == bt_raw

    # volume floor: drop delta's matches below MIN_MATCHES
    thin = m.filter(
        ~((F.col("winner_id") == "gamma") & (F.col("loser_id") == "delta"))
    ).filter(
        ~((F.col("winner_id") == "beta") & (F.col("loser_id") == "delta"))
    )
    g2 = build_leaderboard_release(spark, thin).build(
        "leaderboard_gate"
    ).collect()[0]
    assert g2.min_item_matches < 10 and g2.released is False
    assert g2.tops_agree is True  # agreement still holds; volume gates

    # layout invariance of the terminal row
    g13 = build_leaderboard_release(spark, m.repartition(13)).build(
        "leaderboard_gate"
    ).collect()[0]
    assert tuple(g13) == tuple(gate)


def test_sparse_logreg_hashed_ngrams_train_score_and_replays(spark):
    """The fastText-shaped classifier: hashed unigram+bigram features
    replay as md5-prefix buckets, the sparse trainer separates a
    planted vocabulary (positive weights on good grams, negative on
    bad), label-only rows drive the intercept, the full quantized loop
    replays bit-for-bit in pure Python (weights AND intercept),
    layout-invariant, loud guards."""
    import math

    from healthcare_dbt_datamart_spark.llmops.textstats import (
        hashed_ngram_features,
        sparse_logreg_score,
        sparse_logreg_train,
    )

    # planted corpus: label = presence of 'excellent' vs 'terrible'
    docs, labels = [], []
    for i in range(60):
        good = i % 2 == 0
        word = "excellent" if good else "terrible"
        filler = f"doc number {i % 7} about things"
        docs.append((i, f"{filler} {word} stuff"))
        labels.append((i, 1 if good else 0))
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    ldf = spark.createDataFrame(labels, ["doc_id", "y"])

    feats = hashed_ngram_features(ddf, "text", "doc_id", n_buckets=2**16)
    model = sparse_logreg_train(feats, ldf, n_iter=6, lr=1.0)
    scored = {r.id: r for r in sparse_logreg_score(feats, model).collect()}
    assert all(scored[i].keep == (1 if i % 2 == 0 else 0) for i in range(60))

    # the planted grams carry the sign
    import hashlib

    def bucket(g, nb=2**16):
        return int(hashlib.md5(g.encode()).hexdigest()[:5], 16) % nb

    w = {r.feat: r.w_fp for r in model["weights"].collect()}
    assert w[bucket("excellent")] > 0 > w[bucket("terrible")]

    # pure-Python replay of the full quantized loop on a small grid
    small_feats = [
        (0, 1, 2), (0, 2, 1),
        (1, 1, 1),
        (2, 2, 3),
        (3, 3, 1), (3, 1, 1),
    ]
    small_labels = [(0, 1), (1, 1), (2, 0), (3, 0), (4, 1)]  # id 4: bias-only
    fdf = spark.createDataFrame(small_feats, ["id", "feat", "v"])
    sdf = spark.createDataFrame(small_labels, ["id", "y"])
    m2 = sparse_logreg_train(fdf, sdf, n_iter=4, lr=0.7, scale=10**6)

    scale, n = 10**6, 5
    W = {1: 0, 2: 0, 3: 0}
    b = 0
    by_id = {}
    for i, f, v in small_feats:
        by_id.setdefault(i, []).append((f, v))
    for _ in range(4):
        q = {}
        for i, y in small_labels:
            z = b + sum(W[f] * v for f, v in by_id.get(i, []))
            p = 1.0 / (1.0 + math.exp(-(z / 1e6)))
            q[i] = math.floor((p - y) * scale + 0.5)
        G = {f: 0 for f in W}
        for i, f, v in small_feats:
            G[f] += q[i] * v
        g0 = sum(q.values())
        W = {
            f: math.floor(
                (W[f] / 1e6 - 0.7 * (G[f] / (n * scale))) * scale + 0.5
            )
            for f in W
        }
        b = math.floor((b / 1e6 - 0.7 * (g0 / (n * scale))) * scale + 0.5)
    got_w = {r.feat: r.w_fp for r in m2["weights"].collect()}
    assert got_w == W and m2["intercept_fp"] == b

    # label-only id 4 (y=1) pushes the intercept up vs dropping it
    m3 = sparse_logreg_train(
        fdf, sdf.filter("id != 4"), n_iter=4, lr=0.7
    )
    assert m2["intercept_fp"] > m3["intercept_fp"]

    # layout invariance
    m13 = sparse_logreg_train(
        fdf.repartition(13), sdf.repartition(7), n_iter=4, lr=0.7
    )
    assert {
        r.feat: r.w_fp for r in m13["weights"].collect()
    } == W and m13["intercept_fp"] == b

    # guards
    with pytest.raises(ValueError, match="NULL or outside"):
        sparse_logreg_train(
            fdf,
            spark.createDataFrame([(0, 2)], ["id", "y"]),
        )
    with pytest.raises(ValueError, match="no label"):
        sparse_logreg_train(fdf, sdf.filter("id >= 2"))
    with pytest.raises(ValueError, match="n_buckets"):
        hashed_ngram_features(ddf, "text", "doc_id", n_buckets=2**21)
    with pytest.raises(ValueError, match="threshold"):
        sparse_logreg_score(fdf, m2, threshold=1.5)


def test_bradley_terry_ties_rao_kupper_and_replays(spark):
    """Rao-Kupper MM: planted ordering recovered with tie votes in the
    log, heavy ties SHRINK a pair's rating gap vs the same decided
    record without ties (ties are closeness evidence), theta=1 with no
    ties converges to plain BT's fixed point, the integer loop replays
    bit-for-bit in pure Python, layout-invariant, loud guards."""
    from fractions import Fraction

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry,
        bradley_terry_ties,
    )

    # planted: alpha > {beta, gamma} > delta; beta-gamma mostly ties
    rows = []
    rows += [("alpha", "beta", False)] * 8 + [("beta", "alpha", False)] * 2
    rows += [("alpha", "gamma", False)] * 8 + [("gamma", "alpha", False)] * 2
    rows += [("beta", "delta", False)] * 7 + [("delta", "beta", False)] * 2
    rows += [("gamma", "delta", False)] * 7 + [("delta", "gamma", False)] * 2
    rows += [("beta", "gamma", True)] * 10
    rows += [("beta", "gamma", False)] * 2 + [("gamma", "beta", False)] * 2
    df = spark.createDataFrame(rows, ["side_a", "side_b", "is_tie"])
    out = {r.item: r for r in bradley_terry_ties(df, n_iter=4).collect()}
    r = {k: v.rating_fp for k, v in out.items()}
    assert r["alpha"] > r["beta"] and r["alpha"] > r["gamma"]
    assert r["beta"] > r["delta"] and r["gamma"] > r["delta"]
    assert out["beta"].ties2 == 20  # doubled
    assert out["alpha"].ties2 == 0

    # ties shrink the gap: same 6-2 decided record, with vs without 20
    # ties appended
    base = [("x", "y", False)] * 6 + [("y", "x", False)] * 2
    no_ties = {
        q.item: q.rating_fp
        for q in bradley_terry_ties(
            spark.createDataFrame(base, ["side_a", "side_b", "is_tie"]),
            n_iter=4,
        ).collect()
    }
    with_ties = {
        q.item: q.rating_fp
        for q in bradley_terry_ties(
            spark.createDataFrame(
                base + [("x", "y", True)] * 20,
                ["side_a", "side_b", "is_tie"],
            ),
            n_iter=4,
        ).collect()
    }
    assert Fraction(with_ties["x"], with_ties["y"]) < Fraction(
        no_ties["x"], no_ties["y"]
    )
    assert with_ties["x"] > with_ties["y"]  # still ahead, just closer

    # theta = 1, no ties: same fixed point as plain BT (per-direction
    # floor split -> tiny integer drift, never ordering)
    dec = [x for x in rows if not x[2]]
    ddf = spark.createDataFrame(dec, ["side_a", "side_b", "is_tie"])
    rk = {
        q.item: q.rating_fp
        for q in bradley_terry_ties(ddf, n_iter=4, theta=(1, 1)).collect()
    }
    bt = {
        q.item: q.rating_fp
        for q in bradley_terry(
            ddf.select(
                F.col("side_a").alias("winner_id"),
                F.col("side_b").alias("loser_id"),
            ),
            n_iter=4,
        ).collect()
    }
    for k in bt:
        assert abs(rk[k] - bt[k]) <= max(3, bt[k] // 1000)

    # pure-Python bit-exact replay (theta = 3/2, 2 rounds)
    tn, td, s = 3, 2, 10**6
    items = sorted({a for a, _, _ in rows} | {b for _, b, _ in rows})
    w2 = {}
    t2 = {}
    for a, b, t in rows:
        if t:
            t2[(a, b)] = t2.get((a, b), 0) + 2
            t2[(b, a)] = t2.get((b, a), 0) + 2
        else:
            w2[(a, b)] = w2.get((a, b), 0) + 2
    pair_keys = set(w2) | {(j, i) for i, j in w2} | set(t2)
    P = {
        (i, j): (w2.get((i, j), 0) + 1, w2.get((j, i), 0) + 1,
                 t2.get((i, j), 0))
        for i, j in pair_keys
    }
    A = {i: sum(wf + t for (a, _), (wf, _, t) in P.items() if a == i)
         for i in items}
    p = {i: s for i in items}
    for _ in range(2):
        B = {i: 0 for i in items}
        for (i, j), (wf, wr, t) in P.items():
            B[i] += ((wf + t) * s * s * td) // (td * p[i] + tn * p[j])
            B[i] += ((wr + t) * s * s * tn) // (td * p[j] + tn * p[i])
        p = {i: (A[i] * s * s) // B[i] for i in items}
    got2 = {
        q.item: q.rating_fp
        for q in bradley_terry_ties(df, n_iter=2).collect()
    }
    assert got2 == p

    # layout invariance
    got13 = {
        q.item: tuple(q)
        for q in bradley_terry_ties(df.repartition(13), n_iter=4).collect()
    }
    assert got13 == {k: tuple(v) for k, v in out.items()}

    # guards
    with pytest.raises(ValueError, match="theta"):
        bradley_terry_ties(df, theta=(1, 2))
    with pytest.raises(ValueError, match="zero probability"):
        bradley_terry_ties(df, theta=(1, 1)).collect()


from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st


@_settings(max_examples=8, deadline=None)
@_given(
    counts=_st.lists(
        _st.integers(min_value=1, max_value=10**6),
        min_size=1, max_size=12,
    ),
    budget=_st.integers(min_value=1, max_value=10**7),
    epochs=_st.integers(min_value=1, max_value=5),
)
def test_unimax_allocation_waterfill_invariants(spark, counts, budget, epochs):
    """Property battery for the water-fill: spend = min(budget, Σcap),
    no domain exceeds its cap, capped domains form an ascending-sort
    prefix, and any two UNCAPPED domains differ by at most one token
    (maximal uniformity — the UniMax objective)."""
    from healthcare_dbt_datamart_spark.llmops.splits import (
        unimax_allocation,
    )

    df = spark.createDataFrame(
        [(f"d{i:02d}", n) for i, n in enumerate(counts)],
        ["grp", "n_tokens"],
    )
    rows = unimax_allocation(df, budget=budget, max_epochs=epochs).collect()
    total_cap = sum(n * epochs for n in counts)
    assert sum(r.alloc for r in rows) == min(budget, total_cap)
    assert all(0 <= r.alloc <= r.cap for r in rows)
    by_sort = sorted(rows, key=lambda r: (r.cap, r.grp))
    flags = [r.capped for r in by_sort]
    assert flags == sorted(flags, reverse=True)  # prefix property
    un = [r.alloc for r in rows if not r.capped]
    if un:
        assert max(un) - min(un) <= 1  # maximal uniformity


@_settings(max_examples=6, deadline=None)
@_given(
    matches=_st.lists(
        _st.tuples(
            _st.integers(min_value=0, max_value=5),
            _st.integers(min_value=0, max_value=5),
            _st.integers(min_value=0, max_value=2),
        ),
        min_size=1, max_size=40,
    ).filter(lambda ms: any(w != l for w, l, _ in ms)),
)
def test_elo_ratings_conservation_and_within_period_order_invariance(
    spark, matches
):
    """Property battery for period-batched Elo: total rating mass is
    EXACTLY conserved for any match log, and shuffling the order of
    matches WITHIN periods never changes a rating (period updates are
    simultaneous — the model's defining property)."""
    from healthcare_dbt_datamart_spark.llmops.preferences import elo_ratings

    rows = [
        (f"p{w}", f"p{l}", per) for w, l, per in matches if w != l
    ]
    m = spark.createDataFrame(rows, ["winner_id", "loser_id", "period"])
    out = {r.item: r.rating_fp for r in elo_ratings(m, k=8).collect()}
    assert sum(out.values()) == len(out) * 1000 * 10**6

    shuffled = list(reversed(rows))
    m2 = spark.createDataFrame(
        shuffled, ["winner_id", "loser_id", "period"]
    )
    out2 = {r.item: r.rating_fp for r in elo_ratings(m2, k=8).collect()}
    assert out2 == out


def test_elo_pre_collapsed_duplicate_rows_bit_identical(spark):
    """The pre_collapsed docstring claim, exercised: duplicate
    (w, l, p) rows in a caller-supplied pair table can never change a
    rating — each duplicate carries the same period-start expected
    score, so pre_collapsed=True (skip the internal re-aggregation)
    over a DUPLICATED-row table equals the aggregated path over the
    same rows bit-for-bit, including n_matches/wins totals
    (round-11 ADVICE)."""
    from healthcare_dbt_datamart_spark.llmops.preferences import elo_ratings

    # (w, l, p, n) rows where several (w, l, p) keys repeat with
    # different multiplicities — the shape pre_collapsed=True trusts
    dup_rows = [
        ("a", "b", 1, 2), ("a", "b", 1, 3), ("b", "c", 1, 1),
        ("c", "a", 2, 4), ("c", "a", 2, 1), ("a", "b", 2, 2),
        ("b", "c", 2, 5), ("b", "c", 2, 1), ("a", "c", 3, 3),
    ]
    dup = spark.createDataFrame(
        dup_rows, ["winner_id", "loser_id", "period", "n_m"]
    )
    fast = {
        r.item: (r.n_matches, r.wins, r.rating_fp)
        for r in elo_ratings(
            dup, k=16, n_col="n_m", pre_collapsed=True
        ).collect()
    }
    agg = {
        r.item: (r.n_matches, r.wins, r.rating_fp)
        for r in elo_ratings(dup, k=16, n_col="n_m").collect()
    }
    assert fast == agg
    # and both equal the per-match expansion of the same log
    expanded = spark.createDataFrame(
        [(w, l, p) for w, l, p, n in dup_rows for _ in range(n)],
        ["winner_id", "loser_id", "period"],
    )
    per_match = {
        r.item: (r.n_matches, r.wins, r.rating_fp)
        for r in elo_ratings(expanded, k=16).collect()
    }
    assert fast == per_match


def test_domain_concentration_gini_entropy_and_replays(spark):
    """Concentration report: uniform domains give gini 0 and maximal
    entropy ln(N), a one-domain-dominates grid gives gini near 1 and
    top1 near 1, the whole row replays in pure Python (exact Fractions
    + the quantized entropy fold) and in DuckDB window SQL,
    layout-invariant, loud guards."""
    import math
    from fractions import Fraction

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.splits import (
        domain_concentration,
    )

    # uniform: gini exactly 0, entropy exactly ln(4) at 6dp
    uni = spark.createDataFrame(
        [(f"d{i}", 250) for i in range(4)], ["grp", "n_tokens"]
    )
    gu = domain_concentration(uni).collect()[0]
    assert (gu.n_domains, gu.total, gu.gini) == (4, 1000, 0.0)
    assert gu.top1_share == 0.25 and gu.top10_share == 1.0
    assert abs(gu.entropy - math.log(4)) < 2e-6

    # skewed: one giant + 9 crumbs
    sk = spark.createDataFrame(
        [("big", 10**6)] + [(f"s{i}", 10) for i in range(9)],
        ["grp", "n_tokens"],
    )
    gs = domain_concentration(sk).collect()[0]
    assert gs.gini > 0.85 and gs.top1_share > 0.999

    # pure-Python replay on an uneven grid
    grid = [(f"d{i:02d}", 7 + (i * 53) % 90) for i in range(17)]
    gdf = spark.createDataFrame(grid, ["grp", "n_tokens"])
    got = domain_concentration(gdf).collect()[0]
    xs = sorted((x, g) for g, x in grid)
    n, t = len(xs), sum(x for x, _ in xs)
    gini = Fraction(
        2 * sum((i + 1) * x for i, (x, _) in enumerate(xs)), n * t
    ) - Fraction(n + 1, n)
    desc = sorted(grid, key=lambda p: (-p[1], p[0]))
    hq = sum(
        math.floor(-(x / t) * math.log(x / t) * 10**9 + 0.5)
        for _, x in grid
    )
    assert got.gini == round(float(gini), 6)
    assert got.top1_share == round(desc[0][1] / t, 6)
    assert got.top10_share == round(sum(x for _, x in desc[:10]) / t, 6)
    assert got.entropy == round(hq / 10**9, 6)

    # DuckDB window replay
    con = duckdb.connect()
    con.register("counts", gdf.toPandas())
    o = con.execute("""
    WITH r AS (
      SELECT grp, n_tokens AS x,
        row_number() OVER (ORDER BY n_tokens ASC, grp ASC) AS r,
        row_number() OVER (ORDER BY n_tokens DESC, grp ASC) AS rd,
        SUM(n_tokens) OVER () AS tot
      FROM counts
    )
    SELECT COUNT(*) AS n, SUM(x) AS t, SUM(r * x) AS rw,
      SUM(CASE WHEN rd = 1 THEN x END) AS t1,
      SUM(CASE WHEN rd <= 10 THEN x END) AS t10,
      SUM(CAST(floor(-(x / CAST(tot AS DOUBLE))
        * ln(x / CAST(tot AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)) AS hq
    FROM r
    """).fetchone()
    assert (o[0], o[1]) == (n, t)
    assert round(float(Fraction(2 * o[2], n * t) - Fraction(n + 1, n)), 6) \
        == got.gini
    assert round(o[5] / 10**9, 6) == got.entropy

    # layout invariance
    g13 = domain_concentration(gdf.repartition(13)).collect()[0]
    assert tuple(g13) == tuple(got)

    # guards
    with pytest.raises(ValueError, match="non-positive"):
        domain_concentration(
            gdf.unionByName(
                spark.createDataFrame([("z", 0)], ["grp", "n_tokens"])
            )
        )


def test_bpe_token_counts_encode_path_and_replays(spark):
    """The encode half of the BPE loop: counts match a pure-Python
    left-to-right merge reference word-for-word, are monotonically
    non-increasing in the merge list (0 merges = characters), replay
    in DuckDB via the identical three-replace chain, layout-invariant,
    plan-size guard raises."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.bpe import (
        bpe_token_counts,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low"),
            (2, "new newer newest new new"),
            (3, "low new widest"),
        ],
        ["doc_id", "text"],
    )
    merges = bpe_train(docs, "text", n_merges=4)
    assert len(merges) == 4

    def encode(word, ms):
        syms = list(word)
        for left, right, _ in ms:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    expect = {}
    for did, text in [(1, "low lower lowest low"),
                      (2, "new newer newest new new"),
                      (3, "low new widest")]:
        ws = text.split()
        expect[did] = (len(ws), sum(len(encode(w, merges)) for w in ws))
    got = {
        r.id: (r.n_words, r.n_tokens)
        for r in bpe_token_counts(docs, "text", "doc_id", merges).collect()
    }
    assert got == expect

    # monotone: more merges never increase the count; 0 merges = chars
    got0 = {
        r.id: r.n_tokens
        for r in bpe_token_counts(docs, "text", "doc_id", []).collect()
    }
    got2 = {
        r.id: r.n_tokens
        for r in bpe_token_counts(
            docs, "text", "doc_id", merges[:2]
        ).collect()
    }
    for did in got:
        chars = sum(len(w) for w in dict(
            [(1, "low lower lowest low"), (2, "new newer newest new new"),
             (3, "low new widest")]
        )[did].split())
        assert got0[did] == chars
        assert got[did][1] <= got2[did] <= got0[did]

    # DuckDB replay with the identical replace chain
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    chain = "concat(' ', array_to_string([w[i] for i in range(1, len(w) + 1)], ' '), ' ')"
    for left, right, _ in merges:
        chain = (
            f"replace(replace(replace({chain}, ' ', '  '),"
            f" ' {left}  {right} ', ' {left}{right} '), '  ', ' ')"
        )
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(f"""
        WITH toks AS (
          SELECT doc_id AS id,
                 unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
          FROM docs
        ),
        pieces AS (
          SELECT w, len(string_split(trim({chain}), ' ')) AS n_pieces
          FROM (SELECT DISTINCT w FROM toks WHERE w != '')
        )
        SELECT id, COUNT(*) AS n_words, SUM(n_pieces) AS n_tokens
        FROM toks JOIN pieces USING (w) GROUP BY id
        """).fetchall()
    }
    assert oracle == got

    # layout invariance
    got13 = {
        r.id: (r.n_words, r.n_tokens)
        for r in bpe_token_counts(
            docs.repartition(13), "text", "doc_id", merges
        ).collect()
    }
    assert got13 == got

    # plan-size guard
    with pytest.raises(ValueError, match="max_merges"):
        bpe_token_counts(
            docs, "text", "doc_id", [("a", "b", 1)] * 10, max_merges=5
        )


def test_new_wave_plan_shapes(spark):
    """Plan-shape pins for the round-8 second wave (the audit_plans
    discipline applied to queue-level operators): Elo's period update
    broadcasts the ratings side (never shuffles matches onto
    ratings), isotonic_apply's range lookup is a BROADCAST
    nested-loop against the bounded block frame (the documented
    model-state generalization of the 1-row BNLJ class), the sparse-LR
    margin pass carries no CartesianProduct and no Python eval in the
    hot path, and wilson_winrate's rank window follows one partial
    aggregate."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        isotonic_apply,
        isotonic_calibration,
    )
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        elo_update_period,
        wilson_winrate,
    )
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        sparse_logreg_train,
    )

    m = spark.createDataFrame(
        [(f"p{i % 7}", f"p{(i * 3) % 7}") for i in range(50) if i % 7 != (i * 3) % 7],
        ["w", "l"],
    )
    ra = spark.createDataFrame(
        [(f"p{i}", 10**9) for i in range(7)], ["item", "r_fp"]
    )
    plan = (
        elo_update_period(ra, m)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    mw = m.withColumnsRenamed({"w": "winner_id", "l": "loser_id"})
    plan = (
        wilson_winrate(mw)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    scored = spark.createDataFrame(
        [(i, (i % 10) / 10.0, i % 2) for i in range(100)],
        "rid long, s double, y int",
    )
    blocks = isotonic_calibration(scored, "s", "y")
    plan = (
        isotonic_apply(scored, "s", blocks)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan  # bounded broadcast blocks
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    # sparse LR: capture the margin-pass plan via the returned weights
    feats = spark.createDataFrame(
        [(i, i % 5, 1) for i in range(50)], ["id", "feat", "v"]
    )
    labels = spark.createDataFrame(
        [(i, i % 2) for i in range(50)], ["id", "y"]
    )
    model = sparse_logreg_train(feats, labels, n_iter=1)
    plan = (
        model["weights"]._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_personalized_pagerank_seed_expansion_and_replays(spark):
    """PPR: seeding one cluster of a two-cluster bridge graph ranks
    that cluster's non-seeds above the other cluster's, nodes
    unreachable FROM the seeds score exactly 0, the integer loop
    replays bit-for-bit in pure Python AND DuckDB, layout-invariant,
    loud guards (empty and unknown seeds)."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.graph import (
        personalized_pagerank,
        undirected_edges,
    )

    # cluster A: a0-a1-a2 triangle; cluster B: b0-b1-b2 triangle;
    # bridge a2 -> b0 (directed: B is reachable from A, A not from B)
    tri_a = [("a0", "a1"), ("a1", "a2"), ("a0", "a2")]
    tri_b = [("b0", "b1"), ("b1", "b2"), ("b0", "b2")]
    und = undirected_edges(
        spark.createDataFrame(tri_a + tri_b, ["id_a", "id_b"])
    )
    edges = und.unionByName(
        spark.createDataFrame([("a2", "b0")], ["src", "dst"])
    )
    got = {
        r.id: r.rank_fp
        for r in personalized_pagerank(edges, ["a0"], n_iter=4).collect()
    }
    assert got["a0"] > got["a1"] and got["a0"] > got["a2"]
    # the seeded cluster outranks the bridge-fed one
    assert min(got["a1"], got["a2"]) > max(got["b0"], got["b1"], got["b2"])
    assert all(v > 0 for v in got.values())  # B is reachable via a2

    # reverse: seed b0 -> cluster A is unreachable (bridge is one-way)
    rev = {
        r.id: r.rank_fp
        for r in personalized_pagerank(edges, ["b0"], n_iter=4).collect()
    }
    assert rev["a0"] == rev["a1"] == 0  # exact zero, not teleport floor
    assert rev["b1"] > 0 and rev["b2"] > 0

    # pure-Python replay of the exact integer loop
    scale, d = 10**12, 85
    nodes = sorted(got)
    deg = {}
    adj = []
    for r in edges.collect():
        deg[r.src] = deg.get(r.src, 0) + 1
        adj.append((r.src, r.dst))
    n = len(nodes)
    t_seed = (15 * n * scale) // 100  # one seed
    R = {v: (t_seed if v == "a0" else 0) for v in nodes}
    for _ in range(4):
        s = {v: 0 for v in nodes}
        for u, v in adj:
            s[v] += R[u] // deg[u]
        R = {
            v: (t_seed if v == "a0" else 0) + (d * s[v]) // 100
            for v in nodes
        }
    assert got == R

    # DuckDB replay (unrolled, materialized rounds)
    con = duckdb.connect()
    con.register("edges", edges.toPandas())
    sql = f"""WITH deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ),
    nodes AS MATERIALIZED (SELECT src AS id FROM deg),
    r0 AS MATERIALIZED (
      SELECT id, CAST(CASE WHEN id = 'a0' THEN {t_seed} ELSE 0 END
        AS BIGINT) AS r FROM nodes
    )"""
    for k in range(4):
        sql += f""",
c{k} AS MATERIALIZED (
  SELECT e.dst, SUM(r.r // d.deg) AS s
  FROM edges e JOIN r{k} r ON e.src = r.id JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r{k + 1} AS MATERIALIZED (
  SELECT n.id,
    CAST(CASE WHEN n.id = 'a0' THEN {t_seed} ELSE 0 END AS BIGINT)
      + ({d} * COALESCE(c.s, 0)) // 100 AS r
  FROM nodes n LEFT JOIN c{k} c ON n.id = c.dst
)"""
    sql += " SELECT id, r FROM r4 ORDER BY id"
    assert {k: v for k, v in con.execute(sql).fetchall()} == got

    # layout invariance
    got13 = {
        r.id: r.rank_fp
        for r in personalized_pagerank(
            edges.repartition(13), ["a0"], n_iter=4
        ).collect()
    }
    assert got13 == got

    # guards
    with pytest.raises(ValueError, match="non-empty"):
        personalized_pagerank(edges, [])
    with pytest.raises(ValueError, match="not.* graph nodes|not graph"):
        personalized_pagerank(edges, ["zz"]).collect()


def test_chunk_text_overlap_coverage_and_replays(spark):
    """Chunking: hand-checked chunks with overlap, the stride-prefix
    concatenation reconstructs the document exactly (coverage
    property), empty/NULL docs keep one accounting row, DuckDB replay,
    layout invariance, guards."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.packing import chunk_text

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xyz"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        (r.id, r.chunk_idx): (r.n_chunks, r.start_char, r.chunk)
        for r in chunk_text(docs, "text", "doc_id", size=4, overlap=1).collect()
    }
    # doc 1: len 10, stride 3 -> ceil(9/3)=3 chunks at 0,3,6
    assert got[(1, 0)] == (3, 0, "abcd")
    assert got[(1, 1)] == (3, 3, "defg")
    assert got[(1, 2)] == (3, 6, "ghij")
    assert got[(2, 0)] == (1, 0, "xyz")
    assert got[(3, 0)] == (1, 0, "")
    assert got[(4, 0)] == (1, 0, "")  # NULL text keeps its row

    # coverage property on a longer doc: stride prefixes reconstruct
    text = "the quick brown fox jumps over the lazy dog " * 5
    big = spark.createDataFrame([(9, text)], "doc_id long, text string")
    rows = sorted(
        (r.chunk_idx, r.chunk)
        for r in chunk_text(big, "text", "doc_id", size=50, overlap=10)
        .collect()
    )
    rebuilt = "".join(
        c if i == len(rows) - 1 else c[:40] for i, (_, c) in enumerate(rows)
    )
    assert rebuilt == text

    # DuckDB replay
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    oracle = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute("""
        SELECT id, i AS chunk_idx, n_chunks, CAST(i * 3 AS BIGINT),
               substring(t, i * 3 + 1, 4)
        FROM (
          SELECT doc_id AS id, COALESCE(text, '') AS t,
            GREATEST(CAST(ceil((length(COALESCE(text, '')) - 1) / 3.0)
              AS INT), 1) AS n_chunks
          FROM docs
        ), LATERAL unnest(range(n_chunks)) AS u(i)
        """).fetchall()
    }
    assert oracle == {
        k: (v[0], v[1], v[2]) for k, v in got.items()
    }

    # layout invariance
    got13 = {
        (r.id, r.chunk_idx): (r.n_chunks, r.start_char, r.chunk)
        for r in chunk_text(
            docs.repartition(13), "text", "doc_id", size=4, overlap=1
        ).collect()
    }
    assert got13 == got

    # guards
    with pytest.raises(ValueError, match="overlap"):
        chunk_text(docs, "text", "doc_id", size=4, overlap=4)
    with pytest.raises(ValueError, match="size"):
        chunk_text(docs, "text", "doc_id", size=0)


# ---------------------------------------------------------------------------
# round-9 ADVICE regressions
# ---------------------------------------------------------------------------


def test_personalized_pagerank_sink_nodes_receive_flow(spark):
    """ADVICE r8: the node universe is src UNION dst — a SINK node
    (inbound edges, no out-edges) must appear in the output and
    receive its endorsement flow instead of silently vanishing with
    its inbound mass dropped every round."""
    from healthcare_dbt_datamart_spark.llmops.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame([("s", "x"), ("x", "y")], ["src", "dst"])
    got = {
        r.id: r.rank_fp
        for r in personalized_pagerank(edges, ["s"], n_iter=3).collect()
    }
    assert set(got) == {"s", "x", "y"}  # y was absent pre-fix
    assert got["y"] > 0  # seed flow reaches the sink through x

    # pure-Python replay with the src UNION dst universe
    scale, d = 10**12, 85
    t_seed = (15 * 3 * scale) // 100  # n_nodes=3 (incl. the sink), |S|=1
    deg = {"s": 1, "x": 1}
    adj = [("s", "x"), ("x", "y")]
    ranks = {v: (t_seed if v == "s" else 0) for v in ("s", "x", "y")}
    for _ in range(3):
        sums = {v: 0 for v in ranks}
        for u, v in adj:
            sums[v] += ranks[u] // deg[u]
        ranks = {
            v: (t_seed if v == "s" else 0) + (d * sums[v]) // 100
            for v in ranks
        }
    assert got == ranks

    # seeding a sink is legal now: it holds its teleport mass; nothing
    # upstream of it is reachable, so those score exactly 0
    rev = {
        r.id: r.rank_fp
        for r in personalized_pagerank(edges, ["y"], n_iter=3).collect()
    }
    assert rev["y"] == t_seed and rev["s"] == 0 and rev["x"] == 0


def test_bpe_token_counts_empty_documents_keep_accounting_rows(spark):
    """ADVICE r8: NULL/whitespace-only documents emit exact (id, 0, 0)
    rows — the 'a document never silently vanishes' accounting rule;
    packing/shard consumers join token budgets on id and must see
    every document."""
    from healthcare_dbt_datamart_spark.llmops.bpe import (
        bpe_token_counts,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [
            (1, "low lower low"),
            (2, None),
            (3, "   "),
            (4, ""),
            (5, "new low"),
        ],
        "doc_id int, text string",
    )
    merges = bpe_train(
        docs.filter(F.col("doc_id").isin(1, 5)), "text", n_merges=2
    )
    got = {
        r.id: (r.n_words, r.n_tokens)
        for r in bpe_token_counts(docs, "text", "doc_id", merges).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}  # 2/3/4 vanished pre-fix
    assert got[2] == (0, 0) and got[3] == (0, 0) and got[4] == (0, 0)
    assert got[1][0] == 3 and got[5][0] == 2
    assert got[1][1] > 0 and got[5][1] > 0


def test_wilson_from_pairs_halves_counts_exactly_past_2_53(spark):
    """ADVICE r8: doubled counts halve with integer `div`, not float
    `/` — a double intermediate silently rounds sums past 2^53 (e.g.
    (2^54 + 2) / 2 = 2^53 + 1, unrepresentable as a double)."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        wilson_from_pairs,
    )

    big = 2**54 + 2  # halves to 2^53 + 1, off-by-one under float /
    pairs = spark.createDataFrame(
        [("a", "b", big), ("b", "a", 2)],
        "i string, j string, w2 long",
    )
    got = {
        r.item: (r.n_matches, r.wins)
        for r in wilson_from_pairs(pairs).collect()
    }
    assert got["a"] == (2**53 + 2, 2**53 + 1)
    assert got["b"] == (2**53 + 2, 1)


def test_elo_update_period_raises_on_unseeded_match_items(spark):
    """ADVICE r8: the expected-score join is inner, so a match naming
    an item with no ratings row silently vanished — the direct
    foreachBatch contract now raises via a left-anti guard;
    check_items=False restores the pre-seeded loop-driver fast path."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        elo_update_period,
    )

    ratings = spark.createDataFrame(
        [("a", 10**9), ("b", 10**9)], "item string, r_fp long"
    )
    m_ok = spark.createDataFrame([("a", "b")], "w string, l string")
    m_bad = spark.createDataFrame(
        [("a", "b"), ("a", "ghost")], "w string, l string"
    )

    got = {
        r.item: r.r_fp
        for r in elo_update_period(ratings, m_ok, k=16).collect()
    }
    assert got["a"] > 10**9 > got["b"]
    assert got["a"] + got["b"] == 2 * 10**9  # zero-sum conservation

    with pytest.raises(ValueError, match="ghost"):
        elo_update_period(ratings, m_bad, k=16)

    # the documented opt-out reproduces the pre-seeded fast path: the
    # ghost match drops (inner join) and the rest applies normally
    legacy = {
        r.item: r.r_fp
        for r in elo_update_period(
            ratings, m_bad, k=16, check_items=False
        ).collect()
    }
    assert legacy == got


def test_token_balanced_shards_bucketed_scale_variant(spark):
    """The bucket_width scale path: no single-partition window (the
    snake runs inside coarse length buckets with a per-bucket deal
    rotation), balance stays within the documented band of the exact
    global deal, a one-bucket corpus reproduces the exact variant
    row-for-row, layout-invariant, and the DEFAULT path is untouched
    (the driver row's expressions are byte-identical with
    bucket_width=None)."""
    from healthcare_dbt_datamart_spark.llmops.packing import (
        token_balanced_shards,
    )

    # skewed corpus: lengths 1..400 words over 300 docs
    docs = spark.createDataFrame(
        [(i, "w " * (1 + (i * 137) % 400)) for i in range(300)],
        "doc_id long, text string",
    )
    n = 8
    exact = token_balanced_shards(docs, "text", "doc_id", n_shards=n)
    bucketed = token_balanced_shards(
        docs, "text", "doc_id", n_shards=n, bucket_width=32
    )

    def totals(df):
        rows = df.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
        return {r.shard: r.t for r in rows}

    te, tb = totals(exact), totals(bucketed)
    assert set(te) == set(tb) == set(range(n))
    grand = sum(te.values())
    assert grand == sum(tb.values())  # every token lands exactly once
    # balance band: bucketed spread within (exact spread + one bucket
    # upper edge per ~cycle) — empirically a few max-doc sizes; pin a
    # generous but meaningful band vs the ideal mean
    mean = grand / n
    assert max(tb.values()) <= mean * 1.15
    assert min(tb.values()) >= mean * 0.85

    # one-bucket corpus (bucket 0 via width > max length): the rotation
    # offset is 0, so the bucketed deal IS the exact deal
    small = spark.createDataFrame(
        [(i, "w " * (1 + (i * 7) % 50)) for i in range(60)],
        "doc_id long, text string",
    )
    ex = {
        r.doc_id: (r.n_tokens, r.shard)
        for r in token_balanced_shards(
            small, "text", "doc_id", n_shards=4
        ).collect()
    }
    bu = {
        r.doc_id: (r.n_tokens, r.shard)
        for r in token_balanced_shards(
            small, "text", "doc_id", n_shards=4, bucket_width=10**6
        ).collect()
    }
    assert ex == bu

    # layout invariance
    b13 = {
        r.doc_id: (r.n_tokens, r.shard)
        for r in token_balanced_shards(
            docs.repartition(13), "text", "doc_id", n_shards=n,
            bucket_width=32,
        ).collect()
    }
    assert b13 == {
        r.doc_id: (r.n_tokens, r.shard) for r in bucketed.collect()
    }

    # scale shape: the bucketed plan has NO unpartitioned window (the
    # default path's documented trade); every WindowExec keys on bucket
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert plan.count("[_bucket") >= 1 or "_bucket" in plan

    # guard
    with pytest.raises(ValueError, match="bucket_width"):
        token_balanced_shards(
            docs, "text", "doc_id", n_shards=n, bucket_width=0
        )


def test_gopher_rules_paper_battery_and_replays(spark):
    """Gopher quality rules (Rae et al. 2021 A1.1): a clean passage
    keeps, each rule fails on a targeted offender (too short, long
    gibberish words, symbol spam, bullet walls, ellipsis spam,
    non-alphabetic noise, no stop words), NULL text fails closed with
    its row intact, all-integer counters replay in DuckDB,
    layout-invariant."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.textstats import gopher_rules

    clean = (
        "the quick brown fox jumps over that lazy dog and then we have "
        "a long walk to town with plenty of words in every sentence so "
        "the counter lands well above fifty words of normal prose and "
        "the mean word length stays in band for this tidy paragraph of "
        "text that reads like a page would read on the open web today"
    )
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, "too short to pass"),
            (3, " ".join(["pneumonoultramicroscopics"] * 60)),
            (4, clean + " " + "#" * 60),
            (5, "\n".join(["- bullet point item " + str(i) + " of the wall of that have list to be" for i in range(10)])),
            (6, "\n".join([("the story trails off and we have to wait for it now... ")] * 10)),
            (7, " ".join(["12345"] * 80)),
            (8, " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 20)),
            (9, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_rules(docs, "text", "doc_id").collect()}
    assert got[1].keep is True
    assert got[2].keep is False and got[2].r_word_count is False
    assert got[3].keep is False and got[3].r_mean_word_len is False
    assert got[4].keep is False and got[4].r_symbol_ratio is False
    assert got[5].keep is False and got[5].r_bullet_lines is False
    assert got[6].keep is False and got[6].r_ellipsis_lines is False
    assert got[7].keep is False and got[7].r_alpha_words is False
    assert got[8].keep is False and got[8].r_stop_words is False
    assert got[9].keep is False and got[9].n_words == 0  # fails closed

    # DuckDB replay of every counter on the full battery
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    o = {
        r[0]: r[1:]
        for r in con.execute("""
        SELECT doc_id,
          len(w) AS n_words,
          CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
            AS BIGINT) AS n_word_chars,
          len(lns) AS n_lines,
          (length(t) - length(replace(t, '#', '')))
            + (length(t) - length(replace(t, '…', '')))
            + (length(t) - length(replace(t, '...', ''))) // 3 AS n_symbols,
          len(list_filter(lns, x -> substr(ltrim(x), 1, 1) IN ('•','-','*')))
            AS n_bullet_lines,
          len(list_filter(lns, x -> rtrim(x) LIKE '%...'
            OR rtrim(x) LIKE '%…')) AS n_ellipsis_lines,
          len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
            AS n_alpha_words,
          len(list_intersect(list_distinct(w),
            ['the','be','to','of','and','that','have','with']))
            AS n_stop_kinds
        FROM (
          SELECT doc_id, COALESCE(text, '') AS t,
            list_filter(string_split_regex(lower(trim(COALESCE(text, ''))),
              '\\s+'), x -> x != '') AS w,
            list_filter(string_split(COALESCE(text, ''), chr(10)),
              x -> trim(x) != '') AS lns
          FROM docs
        )""").fetchall()
    }
    for d, r in got.items():
        assert o[d] == (
            r.n_words, r.n_word_chars, r.n_lines, r.n_symbols,
            r.n_bullet_lines, r.n_ellipsis_lines, r.n_alpha_words,
            r.n_stop_kinds,
        ), d

    # layout invariance
    g13 = {
        r.doc_id: tuple(r)
        for r in gopher_rules(docs.repartition(13), "text", "doc_id").collect()
    }
    assert g13 == {d: tuple(r) for d, r in got.items()}


def test_c4_line_filter_recipe_and_replays(spark):
    """C4 cleaning (Raffel et al. 2020 §2.2): terminal-punctuation +
    min-words + javascript line rules, lorem-ipsum / curly-brace /
    min-sentences page rules, clean_text reconstruction, NULL text
    fails closed, DuckDB replay, layout invariance."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.textstats import c4_line_filter

    good = (
        "This is a fine first sentence with enough words here.\n"
        "short line\n"
        "Another proper sentence arrives with plenty of words too!\n"
        "Enable javascript to view this content please and thanks.\n"
        "A third full sentence closes out the page very nicely?\n"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "Lorem ipsum dolor sit amet is boilerplate filler text."),
            (3, "function f() { return 1; } is code not prose at all."),
            (4, "One sentence only lives on this page right here."),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in c4_line_filter(docs, "text", "doc_id").collect()}
    g1 = got[1]
    assert g1.keep is True
    assert g1.n_lines == 5 and g1.n_kept_lines == 3
    assert g1.n_dropped_lines == 2  # the short line + the javascript line
    assert g1.clean_text.count("\n") == 2
    assert "javascript" not in g1.clean_text
    assert got[2].keep is False and got[2].has_lorem_ipsum is True
    assert got[3].keep is False and got[3].has_brace is True
    assert got[4].keep is False and got[4].n_sentences < 3
    assert got[5].keep is False and got[5].n_kept_lines == 0

    # DuckDB replay of counts + flags + clean text
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    o = {
        r[0]: r[1:]
        for r in con.execute("""
        SELECT doc_id,
          len(list_filter(lns, x -> trim(x) != '')) AS n_lines,
          len(kept) AS n_kept_lines,
          CAST(length(regexp_replace(COALESCE(array_to_string(kept,
            chr(10)), ''), '[^.!?]', '', 'g')) AS BIGINT) AS n_sentences,
          contains(lower(t), 'lorem ipsum') AS has_lorem,
          contains(t, '{') AS has_brace,
          COALESCE(array_to_string(kept, chr(10)), '') AS clean
        FROM (
          SELECT doc_id, t, lns,
            list_filter(lns, x -> regexp_matches(rtrim(x), '[.!?"]$')
              AND len(list_filter(string_split_regex(trim(x), '\\s+'),
                      y -> y != '')) >= 5
              AND NOT contains(lower(x), 'javascript')) AS kept
          FROM (
            SELECT doc_id, COALESCE(text, '') AS t,
              string_split(COALESCE(text, ''), chr(10)) AS lns
            FROM docs
          )
        )""").fetchall()
    }
    for d, r in got.items():
        want_clean = o[d][5] if (
            not o[d][3] and not o[d][4] and o[d][2] >= 3 and o[d][1] > 0
        ) else ""
        assert o[d][:3] == (r.n_lines, r.n_kept_lines, r.n_sentences), d
        assert (o[d][3], o[d][4]) == (r.has_lorem_ipsum, r.has_brace), d
        assert want_clean == r.clean_text, d

    # layout invariance
    g13 = {
        r.doc_id: tuple(r)
        for r in c4_line_filter(docs.repartition(13), "text", "doc_id").collect()
    }
    assert g13 == {d: tuple(r) for d, r in got.items()}


def test_leakage_safe_split_prevents_contamination(spark):
    """The prevention twin of split_contamination: cluster members
    share a split keyed on the cluster-min content fingerprint,
    singletons are bit-identical to assign_splits, the detector over
    the safe assignment is empty BY CONSTRUCTION on the real sf0.001
    documents, every document keeps a row, DuckDB replay of the key
    rule, layout invariance."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.splits import (
        assign_splits,
        leakage_safe_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = leakage_safe_split(docs, "text", "doc_id")
    rows = got.collect()
    assert len(rows) == docs.count()  # nothing vanishes

    by_comp: dict = {}
    singles, comp_of = {}, {}
    for r in rows:
        if r.component is not None:
            by_comp.setdefault(r.component, set()).add(r.split)
            comp_of[r.id] = r.component
        else:
            singles[r.id] = r.split
    assert by_comp, "sf0.001 documents must contain near-dup clusters"
    # every cluster agrees on one split
    assert all(len(s) == 1 for s in by_comp.values())
    # singletons == the plain content-hash assignment
    plain = {
        r.doc_id: r.split for r in assign_splits(docs, "text", "doc_id").collect()
    }
    assert singles == {i: plain[i] for i in singles}

    # by construction: no verified near-dup pair straddles splits
    from healthcare_dbt_datamart_spark.llmops.dedup import (
        candidate_pairs,
        jaccard_pairs,
        lsh_band_buckets,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=8, n_shingle=3)
    pairs = candidate_pairs(lsh_band_buckets(sigs, "doc_id", 8, 2), "doc_id")
    verified = jaccard_pairs(pairs, docs, "text", "doc_id", 0.4, 3)
    safe = {r.id: r.split for r in rows}
    leaks = [
        (p.id_a, p.id_b)
        for p in verified.collect()
        if safe[p.id_a] != safe[p.id_b]
    ]
    assert leaks == []

    # DuckDB replay of the key rule for the clustered docs: split digit
    # comes from the cluster-min md5(text)
    con = duckdb.connect()
    con.register(
        "m", spark.createDataFrame(
            [(i, c) for i, c in comp_of.items()], "id long, component long"
        ).toPandas(),
    )
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    oracle = {
        r[0]: r[1]
        for r in con.execute("""
        WITH fp AS (
          SELECT m.id, m.component, md5(d.text) AS f
          FROM m JOIN documents d ON d.doc_id = m.id
        ),
        rep AS (SELECT component, MIN(f) AS rf FROM fp GROUP BY 1)
        SELECT fp.id,
          CASE WHEN substr(rep.rf, 1, 1) IN ('0','1','2','3','4','5','6',
            '7','8','9','a','b') THEN 'train'
          WHEN substr(rep.rf, 1, 1) IN ('c','d') THEN 'val'
          ELSE 'test' END AS split
        FROM fp JOIN rep USING (component)""").fetchall()
    }
    assert oracle == {i: safe[i] for i in comp_of}

    # layout invariance
    g13 = {
        r.id: (r.component, r.split)
        for r in leakage_safe_split(
            docs.repartition(13), "text", "doc_id"
        ).collect()
    }
    assert g13 == {r.id: (r.component, r.split) for r in rows}


from hypothesis import given as _g9, settings as _s9
from hypothesis import strategies as _st9


@_s9(max_examples=6, deadline=None, derandomize=True)
@_g9(
    words=_st9.lists(
        _st9.sampled_from(
            ["the", "be", "to", "of", "fox", "12", "##", "run", "x"]
        ),
        min_size=0,
        max_size=60,
    )
)
def test_gopher_rules_counter_reference_property(spark, words):
    """Property: every Gopher counter equals a pure-Python reference
    on arbitrary word soups (incl. the empty document)."""
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    g = gopher_rules(df, "text", "doc_id").collect()[0]
    ws = [w for w in text.lower().strip().split() if w]
    assert g.n_words == len(ws)
    assert g.n_word_chars == sum(len(w) for w in ws)
    assert g.n_alpha_words == sum(
        1 for w in ws if any("a" <= c <= "z" for c in w)
    )
    assert g.n_stop_kinds == len(set(ws) & set(GOPHER_STOPWORDS))
    assert g.n_symbols == text.count("#") + text.count("…") + (
        len(text) - len(text.replace("...", ""))
    ) // 3
    assert g.keep == (
        50 <= g.n_words <= 100_000
        and g.n_words > 0
        and 3 * g.n_words <= g.n_word_chars <= 10 * g.n_words
        and 100 * g.n_symbols <= 10 * g.n_words
        and 100 * g.n_bullet_lines <= 90 * g.n_lines
        and 100 * g.n_ellipsis_lines <= 30 * g.n_lines
        and 100 * g.n_alpha_words >= 80 * g.n_words
        and g.n_stop_kinds >= 2
    )


def test_lsh_plan_s_curve_and_consistency(spark):
    """LSH planner: every factorization of num_hashes appears once,
    P(s) matches the closed form (incl. the repo's own 8-hash/4-band
    default: curve threshold (1/4)^(1/2) = 0.5), rank 1 sits closest
    under the target, the S-curve is monotone (p_below <= p_at <=
    p_above), and guards fire."""
    import math

    from healthcare_dbt_datamart_spark.llmops.dedup import lsh_plan

    got = {r.bands: r for r in lsh_plan(spark, 40, 8).collect()}
    assert set(got) == {1, 2, 4, 8}
    for b, r in ((1, 8), (2, 4), (4, 2), (8, 1)):
        row = got[b]
        assert row.rows_per_band == r
        assert row.curve_threshold == round((1 / b) ** (1 / r), 6)
        assert row.p_at_target == round(1 - (1 - 0.4**r) ** b, 6)
        assert row.p_below <= row.p_at_target <= row.p_above
    # the repo's near-dup default (8 hashes, 4 bands x 2 rows) has its
    # curve threshold at 0.5 — the documented "Jaccard >= 0.4 with
    # verify-after" operating point
    assert got[4].curve_threshold == 0.5
    # rank 1 = closest curve threshold at or under the 0.4 target
    best = min(
        (r for r in got.values() if r.curve_threshold <= 0.4),
        key=lambda r: -r.curve_threshold,
    )
    assert [r for r in got.values() if r.rank == 1][0].bands == best.bands

    # pure-math replay at another shape
    for r in lsh_plan(spark, 70, 12).collect():
        b, rr = r.bands, r.rows_per_band
        assert b * rr == 12
        assert r.p_at_target == round(1 - (1 - 0.7**rr) ** b, 6)
        assert r.curve_threshold == round(math.pow(1 / b, 1 / rr), 6)

    # a float num_hashes normalizes instead of failing the DataFrame
    # schema with float rows_per_band — round-9 ADVICE regression
    as_float = {
        (r.bands, r.rows_per_band) for r in lsh_plan(spark, 40, 8.0).collect()
    }
    assert as_float == {(b, r.rows_per_band) for b, r in got.items()}

    import pytest as _pt
    with _pt.raises(ValueError, match="threshold_pct"):
        lsh_plan(spark, 0, 8)
    with _pt.raises(ValueError, match="num_hashes"):
        lsh_plan(spark, 40, 0)


def test_winsorize_scores_order_stat_bounds_and_replays(spark):
    """Winsorization: bounds are exact ceil-rank order statistics
    (real data values, no interpolation), clamping and the clipped
    flag match a pure-Python reference per group, DuckDB replay,
    ungrouped mode works, NaN raises, layout invariance."""
    import math

    import duckdb
    import pytest as _pt

    from healthcare_dbt_datamart_spark.llmops.splits import winsorize_scores

    rows = [
        (f"g{i % 3}", i, float(((i * 37) % 100) - (500 if i == 7 else 0)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    got = {
        (r.grp, r.id): (r.lo, r.hi, r.value_w, r.clipped)
        for r in winsorize_scores(
            df, "v", "id", grp_col="grp", lo_pct=5, hi_pct=95
        ).collect()
    }

    # pure-Python reference
    byg: dict = {}
    for g, i, v in rows:
        byg.setdefault(g, []).append((v, i))
    exp = {}
    for g, vals in byg.items():
        s = sorted(vals)
        n = len(s)
        lo = s[max(math.ceil(n * 5 / 100), 1) - 1][0]
        hi = s[max(math.ceil(n * 95 / 100), 1) - 1][0]
        for v, i in vals:
            w = min(max(v, lo), hi)
            exp[(g, i)] = (lo, hi, w, v < lo or v > hi)
    assert got == exp
    # at 5% the 20-row group's low bound IS its minimum (ceil-rank 1),
    # so the planted outlier only clips once lo_pct reaches rank 2:
    tight = {
        (r.grp, r.id): r.clipped
        for r in winsorize_scores(
            df, "v", "id", grp_col="grp", lo_pct=10, hi_pct=95
        ).collect()
    }
    assert tight[("g1", 7)] is True

    # DuckDB replay
    con = duckdb.connect()
    con.register("t", df.toPandas())
    o = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5])
        for r in con.execute("""
        WITH ranked AS (
          SELECT grp, id, v,
            row_number() OVER (PARTITION BY grp ORDER BY v ASC, id ASC)
              AS r,
            COUNT(*) OVER (PARTITION BY grp) AS n
          FROM t
        ),
        bounds AS (
          SELECT grp,
            MIN(CASE WHEN r = GREATEST((n * 5 + 99) // 100, 1)
              THEN v END) AS lo,
            MIN(CASE WHEN r = GREATEST((n * 95 + 99) // 100, 1)
              THEN v END) AS hi
          FROM ranked GROUP BY grp
        )
        SELECT t.grp, t.id, b.lo, b.hi,
          GREATEST(LEAST(t.v, b.hi), b.lo) AS vw,
          (t.v < b.lo OR t.v > b.hi) AS clipped
        FROM t JOIN bounds b USING (grp)""").fetchall()
    }
    assert o == got

    # ungrouped mode: one global bound pair
    g1 = winsorize_scores(df, "v", "id", lo_pct=10, hi_pct=90).collect()
    assert len({(r.lo, r.hi) for r in g1}) == 1

    # layout invariance
    g13 = {
        (r.grp, r.id): (r.lo, r.hi, r.value_w, r.clipped)
        for r in winsorize_scores(
            df.repartition(13), "v", "id", grp_col="grp", lo_pct=5,
            hi_pct=95,
        ).collect()
    }
    assert g13 == got

    # guards
    with _pt.raises(ValueError, match="NULL/NaN"):
        winsorize_scores(
            df.unionByName(
                spark.createDataFrame(
                    [("g0", 999, float("nan"))], "grp string, id long, v double"
                )
            ),
            "v", "id", grp_col="grp",
        )
    with _pt.raises(ValueError, match="lo_pct"):
        winsorize_scores(df, "v", "id", lo_pct=50, hi_pct=50)


def test_elo_all_self_period_skips_empty_round_bitwise(spark):
    """A period holding ONLY self-matches (w == l, dropped by the
    bradley_terry convention) schedules no loop round at all — the
    calendar counts non-self rows per period — and the ratings are
    bit-for-bit what the log WITHOUT those rows produces (an empty
    round is the identity update). Covers elo_ratings and elo_boards."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        elo_boards,
        elo_ratings,
    )

    real = [
        ("a", "b", 0), ("b", "c", 0), ("c", "a", 2),
        ("a", "c", 2), ("b", "a", 2),
    ]
    selfy = [("a", "a", 1), ("b", "b", 1), ("c", "c", 1)]
    schema = "winner_id string, loser_id string, period long"
    with_self = spark.createDataFrame(real + selfy, schema)
    without = spark.createDataFrame(real, schema)

    got = {r.item: tuple(r) for r in elo_ratings(with_self, k=32).collect()}
    want = {r.item: tuple(r) for r in elo_ratings(without, k=32).collect()}
    assert got == want

    got_b = {
        r.item: tuple(r)
        for r in elo_boards(with_self, ks=(16, 32)).collect()
    }
    want_b = {
        r.item: tuple(r) for r in elo_boards(without, ks=(16, 32)).collect()
    }
    assert got_b == want_b

    # the validation still fires on a NULL hiding in the all-self period
    import pytest

    poisoned = spark.createDataFrame(
        real + [("a", None, 1)], schema
    )
    with pytest.raises(ValueError, match="NULL"):
        elo_ratings(poisoned, k=32).collect()


def test_rasch_fit_reliable_checkpoint_parity(spark, request):
    """rasch_fit honors the fault-tolerance policy end to end: with a
    checkpoint dir set, every lineage cut (the setup frame included)
    goes through checkpoint() to that dir, results bit-identical to the
    localCheckpoint default."""
    from healthcare_dbt_datamart_spark.llmops.preferences import rasch_fit

    rows = [
        (f"i{i}", f"r{r}", 1 if (2 * r - i + ((i * 7 + r * 3) % 3) - 1) > 0 else 0)
        for r in range(3)
        for i in range(6)
    ]
    votes = spark.createDataFrame(rows, ["item_id", "annotator_id", "correct"])
    assert spark.sparkContext.getCheckpointDir() is None
    base = {
        (r.kind, r.key): (r.n_votes, r.estimate)
        for r in rasch_fit(votes, n_iter=3).collect()
    }

    ckpt = request.getfixturevalue("checkpoint_dir")
    rel = {
        (r.kind, r.key): (r.n_votes, r.estimate)
        for r in rasch_fit(votes, n_iter=3).collect()
    }
    assert rel == base
    assert any(ckpt.rglob("part-*"))
