"""Classifier-evaluation operators: exact rank-sum ROC-AUC, the
reliability-diagram report, and the ECE/MCE/Brier scorecard — each
checked against an independent brute-force computation, an exact DuckDB
replay of the integer arithmetic (the `hll_by_group` evidence
convention), and partitioning invariance."""

from __future__ import annotations

from fractions import Fraction

import pytest


def _eval_rows():
    """Deterministic eval set with heavy score ties, both classes in
    several bins, and scores hitting both closed endpoints."""
    rows = []
    for i in range(240):
        score = ((i * 37) % 97) / 96.0  # includes exact 0.0 and 1.0
        # label correlates with score but disagrees often enough that
        # no bin is pure and the AUC sits strictly inside (0.5, 1)
        label = 1 if ((i * 13) % 29) / 29.0 < score else 0
        rows.append((i, round(score, 6), label))
    # tie blocks: many rows sharing one score with mixed labels
    rows += [(1000 + j, 0.5, j % 2) for j in range(40)]
    return rows


def test_roc_auc_matches_bruteforce_duckdb_and_layout(spark):
    """AUC equals the O(n²) pair count (ties at half credit) to the
    quantization, is bit-stable under repartitioning, and the whole
    BIGINT rank-sum replays exactly in DuckDB."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.evaluation import roc_auc

    rows = _eval_rows()
    df = spark.createDataFrame(rows, "id int, score double, label int")

    got = roc_auc(df, "score", "label").collect()[0]
    n_pos = sum(1 for _, _, y in rows if y == 1)
    n_neg = len(rows) - n_pos
    assert (got.n_rows, got.n_pos, got.n_neg) == (len(rows), n_pos, n_neg)

    # brute force on the quantized scores (the documented semantics)
    import math

    q = [(math.floor(s * 10**6 + 0.5), y) for _, s, y in rows]
    wins = Fraction(0)
    for sp, yp in q:
        if yp != 1:
            continue
        for sn, yn in q:
            if yn != 0:
                continue
            if sp > sn:
                wins += 1
            elif sp == sn:
                wins += Fraction(1, 2)
    expect = wins / (n_pos * n_neg)
    assert abs(got.auc - float(expect)) < 5e-7
    assert 0.5 < got.auc < 1.0

    # layout invariance: identical row after an adversarial repartition
    got13 = roc_auc(df.repartition(13), "score", "label").collect()[0]
    assert got13 == got

    # exact DuckDB replay of the rank-sum arithmetic
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = con.execute("""
        WITH cells AS (
          SELECT CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS s_fp,
                 COUNT(*) AS cnt, SUM(label) AS pos
          FROM t GROUP BY 1
        ),
        ranked AS (
          SELECT pos,
                 2 * COALESCE(SUM(cnt) OVER (ORDER BY s_fp
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) + cnt + 1 AS rank2
          FROM cells
        )
        SELECT ROUND(
          (SUM(pos * rank2) - {np} * ({np} + 1)) / (2.0 * {np} * {nn}),
          6) AS auc
        FROM ranked
    """.format(np=n_pos, nn=n_neg)).fetchone()
    assert oracle[0] == got.auc


def test_roc_auc_guards(spark):
    from healthcare_dbt_datamart_spark.llmops.evaluation import roc_auc

    one_class = spark.createDataFrame(
        [(1, 0.2, 1), (2, 0.9, 1)], "id int, score double, label int"
    )
    with pytest.raises(ValueError, match="single-class"):
        roc_auc(one_class, "score", "label").collect()

    bad_label = spark.createDataFrame(
        [(1, 0.2, 0), (2, 0.9, 2)], "id int, score double, label int"
    )
    with pytest.raises(ValueError, match="labels outside"):
        roc_auc(bad_label, "score", "label").collect()

    null_score = spark.createDataFrame(
        [(1, None, 0), (2, 0.9, 1)], "id int, score double, label int"
    )
    with pytest.raises(ValueError, match="NULL/NaN scores"):
        roc_auc(null_score, "score", "label").collect()


def test_calibration_report_summary_and_duckdb_replay(spark):
    """Per-bin conf/acc/gap match hand arithmetic; ECE/MCE/Brier match
    an exact Fraction recomputation AND a DuckDB SQL replay; score=1.0
    lands in the top bin; the endpoints round-trip."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        calibration_report,
        calibration_summary,
    )

    rows = _eval_rows()
    df = spark.createDataFrame(rows, "id int, score double, label int")
    n_bins, scale = 10, 10**6

    rep = {r.bin: r for r in calibration_report(df, "score", "label").collect()}
    assert set(rep) <= set(range(n_bins))
    assert 9 in rep  # score == 1.0 went to the TOP bin, not bin 10

    # independent per-bin recomputation on quantized scores
    import collections
    import math

    cells = collections.defaultdict(lambda: [0, 0, 0, 0, 0])
    for _, s, y in rows:
        b = min(int(s * n_bins), n_bins - 1)
        sq = math.floor(s * scale + 0.5)
        s2q = math.floor(s * s * scale + 0.5)
        c = cells[b]
        c[0] += 1
        c[1] += y
        c[2] += sq
        c[3] += s2q
        c[4] += sq * y
    for b, (n, pos, s_sum, s2_sum, _) in cells.items():
        assert rep[b].n_rows == n and rep[b].n_pos == pos
        assert rep[b].conf == round(s_sum / (n * scale), 6)
        assert rep[b].acc == round(pos / n, 6)
        assert rep[b].gap == round(abs(s_sum / (n * scale) - pos / n), 6)

    got = calibration_summary(df, "score", "label").collect()[0]
    n = len(rows)
    n_pos = sum(y for _, _, y in rows)
    ece = Fraction(
        sum(abs(c[2] - scale * c[1]) for c in cells.values()), scale * n
    )
    mce = max(
        Fraction(abs(c[2] - scale * c[1]), scale * c[0])
        for c in cells.values()
    )
    brier = Fraction(
        sum(c[3] for c in cells.values())
        - 2 * sum(c[4] for c in cells.values())
        + scale * n_pos,
        scale * n,
    )
    assert (got.n_rows, got.n_pos) == (n, n_pos)
    assert got.ece == round(float(ece), 6)
    assert got.mce == round(float(mce), 6)
    assert got.brier == round(float(brier), 6)
    # a correlated-but-imperfect classifier: sane ranges
    assert 0 < got.ece < 0.5 and got.ece <= got.mce <= 1
    assert 0 < got.brier < 0.25  # beats the always-0.5 baseline

    # DuckDB replay of the summary's integer derivations
    con = duckdb.connect()
    con.register("t", df.toPandas())
    o = con.execute(f"""
        WITH q AS (
          SELECT LEAST(CAST(floor(score * {n_bins}) AS INT), {n_bins} - 1)
                   AS bin,
                 CAST(floor(score * {scale} + 0.5) AS BIGINT) AS sq,
                 CAST(floor(score * score * {scale} + 0.5) AS BIGINT)
                   AS s2q,
                 label AS y
          FROM t
        ),
        cells AS (
          SELECT bin, COUNT(*) AS n, SUM(y) AS pos, SUM(sq) AS s_sum,
                 SUM(s2q) AS s2_sum, SUM(sq * y) AS sy_sum
          FROM q GROUP BY 1
        )
        SELECT
          ROUND(SUM(ABS(s_sum - {scale} * pos)) / ({scale} * SUM(n)), 6),
          ROUND(MAX(ABS(s_sum - {scale} * pos) / ({scale}.0 * n)), 6),
          ROUND((SUM(s2_sum) - 2 * SUM(sy_sum) + {scale} * SUM(pos))
                / ({scale} * SUM(n)), 6)
        FROM cells
    """).fetchone()
    assert o == (got.ece, got.mce, got.brier)


def test_calibration_guards(spark):
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        calibration_report,
        calibration_summary,
    )

    oob = spark.createDataFrame(
        [(1, 1.5, 1), (2, 0.25, 0), (3, -0.1, 0)],
        "id int, score double, label int",
    )
    rep = {r.bin: r for r in calibration_report(oob, "score", "label").collect()}
    assert rep[-1].n_rows == 2  # both out-of-range rows, visible
    assert rep[-1].conf is None and rep[-1].gap is None
    with pytest.raises(ValueError, match="outside \\[0, 1\\]"):
        calibration_summary(oob, "score", "label")

    bad = spark.createDataFrame(
        [(1, 0.5, None)], "id int, score double, label int"
    )
    with pytest.raises(ValueError, match="labels outside"):
        calibration_summary(bad, "score", "label")

    with pytest.raises(ValueError, match="n_bins"):
        calibration_summary(oob, "score", "label", n_bins=1)


def test_roc_auc_by_group_parity_degenerates_and_duckdb(spark):
    """Per-group AUC: each clean group matches the scalar roc_auc on
    the same slice bit-for-bit; single-class and dirty groups keep
    visible rows with NULL auc (a bad-only group included); dirty rows
    never perturb the clean ranks of other groups; the grouped
    rank-sum replays exactly in DuckDB; layout-invariant."""
    import duckdb
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        roc_auc,
        roc_auc_by_group,
    )

    base = _eval_rows()
    rows = [("en", i, s, y) for i, s, y in base]
    rows += [("fr", i, round(1.0 - s * 0.7, 6), 1 - y) for i, s, y in base[:150]]
    rows += [("solo", 1, 0.4, 1), ("solo", 2, 0.9, 1)]      # single-class
    rows += [("dirty", 1, 0.5, 2), ("dirty", 2, None, 0)]   # all bad
    rows += [("mix", i, s, y) for i, s, y in base[:80]]
    rows += [("mix", 9001, 0.5, 5)]                          # one bad row
    df = spark.createDataFrame(
        rows, "lang string, id int, score double, label int"
    )

    got = {r.lang: r for r in roc_auc_by_group(
        df, "score", "label", "lang"
    ).collect()}
    assert set(got) == {"en", "fr", "solo", "dirty", "mix"}

    # clean groups: bit-parity with the scalar operator per slice
    for g in ("en", "fr"):
        scalar = roc_auc(
            df.filter(F.col("lang") == g), "score", "label"
        ).collect()[0]
        r = got[g]
        assert (r.n_rows, r.n_pos, r.n_neg, r.n_score_cells, r.auc) == (
            scalar.n_rows, scalar.n_pos, scalar.n_neg,
            scalar.n_score_cells, scalar.auc,
        )
    assert got["en"].auc > 0.5

    # degenerate groups stay visible with NULL auc
    assert got["solo"].auc is None and got["solo"].n_neg == 0
    assert got["dirty"].auc is None
    assert (got["dirty"].n_rows, got["dirty"].n_bad) == (0, 2)
    # one dirty row poisons only its own group's auc, counts visible
    assert got["mix"].auc is None and got["mix"].n_bad == 1
    assert got["mix"].n_rows == 80  # clean rows still counted

    # layout invariance
    got13 = {r.lang: r for r in roc_auc_by_group(
        df.repartition(13), "score", "label", "lang"
    ).collect()}
    for g, r in got.items():
        assert got13[g] == r, g

    # DuckDB replay of the grouped rank-sum on the clean groups
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: r[1]
        for r in con.execute("""
        WITH cells AS (
          SELECT lang, CAST(floor(score * 1000000 + 0.5) AS BIGINT) s_fp,
                 COUNT(*) cnt, SUM(label) pos
          FROM t
          WHERE score IS NOT NULL AND label IN (0, 1)
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT lang, cnt, pos,
                 2 * COALESCE(SUM(cnt) OVER (PARTITION BY lang
                       ORDER BY s_fp ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) + cnt + 1 AS rank2
          FROM cells
        )
        SELECT lang,
               ROUND((SUM(pos * rank2) - SUM(pos) * (SUM(pos) + 1))
                 / (2.0 * SUM(pos) * (SUM(cnt) - SUM(pos))), 6) AS auc
        FROM ranked GROUP BY 1
    """).fetchall()
    }
    for g in ("en", "fr"):
        assert oracle[g] == got[g].auc


def test_by_group_null_group_slice_keeps_clean_aggregates(spark):
    """A NULL group key is a legitimate slice: the bad-side left join
    must be NULL-safe or the slice's clean aggregates vanish (n_rows 0,
    NULL metrics despite clean rows) — r7 ADVICE finding on both
    roc_auc_by_group and calibration_by_group."""
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        calibration_by_group,
        calibration_summary,
        roc_auc,
        roc_auc_by_group,
    )

    base = _eval_rows()
    rows = [("en", i, s, y) for i, s, y in base]
    rows += [(None, i, s, y) for i, s, y in base[:120]]
    df = spark.createDataFrame(
        rows, "lang string, id int, score double, label int"
    )
    null_slice = df.filter(F.col("lang").isNull())

    got = {r.lang: r for r in roc_auc_by_group(
        df, "score", "label", "lang"
    ).collect()}
    assert set(got) == {"en", None}
    scalar = roc_auc(null_slice, "score", "label").collect()[0]
    r = got[None]
    assert (r.n_rows, r.n_pos, r.n_neg, r.n_bad, r.auc) == (
        scalar.n_rows, scalar.n_pos, scalar.n_neg, 0, scalar.auc,
    )
    assert r.n_rows == 120 and r.auc is not None

    cal = {r.lang: r for r in calibration_by_group(
        df, "score", "label", "lang"
    ).collect()}
    expected = calibration_summary(null_slice, "score", "label").collect()[0]
    c = cal[None]
    assert (c.n_rows, c.n_pos, c.ece, c.mce, c.brier) == (
        expected.n_rows, expected.n_pos, expected.ece,
        expected.mce, expected.brier,
    )


def test_bleu_corpus_known_values_replay_and_guards(spark):
    """Corpus BLEU: perfect match scores exactly 1, the textbook
    clipping case caps repeated-token credit, disjoint outputs score 0
    with the zero p_n visible, brevity penalty and add-1 smoothing
    follow the published formulas (pure-Python replay of the exact
    integer counts across configs), NULL pairs are counted out, and
    the score is layout-invariant."""
    import math
    from collections import Counter

    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import bleu_corpus

    pairs = [
        (1, "the cat sat on the mat", "the cat sat on the mat"),
        (2, "the the the the", "the cat sat"),
        (3, "a small black dog runs fast today", "a small black cat runs slowly today"),
        (4, "w x y z", "p q r s"),
        (5, None, "dropped pair"),
    ]
    df = spark.createDataFrame(
        pairs, "pid int, cand string, ref string"
    )

    def replay(rows, max_n, smooth):
        tok = lambda s: s.strip().lower().split()  # noqa: E731
        clean = [
            (tok(c), tok(r)) for _, c, r in rows
            if c is not None and r is not None
        ]
        c_len = sum(len(c) for c, _ in clean)
        r_len = sum(len(r) for _, r in clean)
        ps, zero, log_sum = {}, False, 0.0
        for n in range(1, max_n + 1):
            m = t = 0
            for c, r in clean:
                cc = Counter(tuple(c[i:i + n]) for i in range(len(c) - n + 1))
                rr = Counter(tuple(r[i:i + n]) for i in range(len(r) - n + 1))
                m += sum(min(k, rr[g]) for g, k in cc.items())
                t += max(len(c) - n + 1, 0)
            if smooth and n >= 2:
                m, t = m + 1, t + 1
            ps[n] = m / t if t > 0 else 0.0
            if m == 0 or t == 0:
                zero = True
            else:
                log_sum += math.log(m / t)
        bp = 1.0 if c_len >= r_len else math.exp(1.0 - r_len / max(c_len, 1))
        bleu = 0.0 if zero else bp * math.exp(log_sum / max_n)
        return (
            c_len, r_len,
            *[round(ps[n], 6) for n in range(1, max_n + 1)],
            round(bp, 6), round(bleu, 6),
        )

    for max_n, smooth in [(4, False), (4, True), (2, False)]:
        got = bleu_corpus(
            df, "cand", "ref", "pid", max_n=max_n, smooth_add1=smooth
        ).collect()[0]
        assert got.n_pairs == 4 and got.n_null_pairs == 1
        assert tuple(got)[2:] == replay(pairs, max_n, smooth), (max_n, smooth)

    # perfect-match corpus: BLEU exactly 1, every precision 1
    perfect = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", "alpha beta gamma delta epsilon")],
        "pid int, cand string, ref string",
    )
    p = bleu_corpus(perfect, "cand", "ref", "pid").collect()[0]
    assert (p.p1, p.p2, p.p3, p.p4, p.brevity_penalty, p.bleu) == (
        1.0, 1.0, 1.0, 1.0, 1.0, 1.0,
    )

    # the classic clipping example: "the the the the" vs "the cat sat"
    clip = bleu_corpus(
        spark.createDataFrame(
            [(1, "the the the the", "the cat sat")],
            "pid int, cand string, ref string",
        ),
        "cand", "ref", "pid", max_n=1,
    ).collect()[0]
    assert clip.p1 == 0.25  # 1 clipped match / 4 candidate unigrams

    # disjoint corpus: bleu 0 with the zero precision visible
    zero = bleu_corpus(
        spark.createDataFrame(
            [(1, "w x y z", "p q r s")], "pid int, cand string, ref string"
        ),
        "cand", "ref", "pid",
    ).collect()[0]
    assert zero.bleu == 0.0 and zero.p1 == 0.0

    # layout invariance
    g13 = bleu_corpus(
        df.repartition(13), "cand", "ref", "pid"
    ).collect()[0]
    assert g13 == bleu_corpus(df, "cand", "ref", "pid").collect()[0]

    with pytest.raises(ValueError, match="no non-NULL"):
        bleu_corpus(
            df.filter("cand is null"), "cand", "ref", "pid"
        ).collect()
    with pytest.raises(ValueError, match="max_n"):
        bleu_corpus(df, "cand", "ref", "pid", max_n=0)


def test_rouge_l_known_values_replay_and_layout(spark):
    """ROUGE-L: LCS arithmetic matches a pure-Python DP replay on
    every row, the textbook knowns hold (identity = 1, subsequence
    precision/recall asymmetry, disjoint = 0), NULL pairs keep visible
    NULL-metric rows, and the output is layout-invariant."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import rouge_l

    pairs = [
        (1, "the cat sat on the mat", "the cat sat on the mat"),
        (2, "the cat the mat", "the cat sat on the mat"),
        (3, "police killed the gunman", "the gunman was killed by police"),
        (4, "a b c", "x y z"),
        (5, None, "ref only"),
        (6, "cand only", None),
    ]
    df = spark.createDataFrame(pairs, "pid int, cand string, ref string")
    got = {r.pid: r for r in rouge_l(df, "cand", "ref", "pid").collect()}

    def lcs(a, b):
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                cur[j] = prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
            prev = cur
        return prev[-1]

    for pid, c, r in pairs:
        row = got[pid]
        if c is None or r is None:
            assert row.lcs_len is None and row.f1 is None
            continue
        ct, rt = c.lower().split(), r.lower().split()
        l = lcs(ct, rt)
        assert row.lcs_len == l
        assert row.precision == round(l / len(ct), 6)
        assert row.recall == round(l / len(rt), 6)
        assert row.f1 == round(2 * l / (len(ct) + len(rt)), 6)

    assert got[1].f1 == 1.0
    # "the cat the mat" vs 6-token ref: LCS = 4 -> P 1.0, R 2/3
    assert (got[2].lcs_len, got[2].precision) == (4, 1.0)
    assert got[2].recall == round(4 / 6, 6)
    # word order matters: only subsequences count
    assert got[3].lcs_len == 2  # "the gunman" / "killed police" paths
    assert got[4].f1 == 0.0

    got13 = {
        r.pid: r
        for r in rouge_l(
            df.repartition(13), "cand", "ref", "pid"
        ).collect()
    }
    assert got13 == got


def test_distinct_n_and_spearman_rho(spark):
    """distinct_n: exact ratios vs a Counter replay, mode-collapse
    ordering (looping generator scores far lower distinct-3 than varied
    text), NULL exclusion, guards. spearman_rho: ±1 on monotone /
    reversed data, exact parity with an integer brute force on tied
    noisy data, DuckDB replay, layout invariance, loud guards."""
    import math
    from collections import Counter

    import duckdb
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        distinct_n,
        spearman_rho,
    )

    # ---- distinct_n --------------------------------------------------
    varied = [f"alpha{i} beta{i % 7} gamma{i % 3} delta{i}" for i in range(40)]
    looped = ["the same line again and again"] * 40
    for texts, lo, hi in [(varied, 0.4, 1.01), (looped, 0.0, 0.05)]:
        df = spark.createDataFrame(
            [(t,) for t in texts] + [(None,)], "text string"
        )
        got = {r.n: r for r in distinct_n(df, "text").collect()}
        assert set(got) == {1, 2, 3}
        # Counter replay
        for n in (1, 2, 3):
            grams = Counter()
            for t in texts:
                tk = t.lower().split()
                for i in range(len(tk) - n + 1):
                    grams[tuple(tk[i:i + n])] += 1
            assert got[n].total_ngrams == sum(grams.values())
            assert got[n].distinct_ngrams == len(grams)
            assert got[n].distinct_ratio == round(
                len(grams) / sum(grams.values()), 6
            )
        assert lo <= got[3].distinct_ratio <= hi, texts[0]
    with pytest.raises(ValueError, match="ns must"):
        distinct_n(df, "text", ns=(0,))

    # ---- spearman_rho ------------------------------------------------
    mono = spark.createDataFrame(
        [(i / 100.0, math.tanh(i / 30.0)) for i in range(60)],
        "x double, y double",
    )
    assert spearman_rho(mono, "x", "y").collect()[0].rho == 1.0
    rev = spark.createDataFrame(
        [(i / 100.0, -i / 50.0) for i in range(60)], "x double, y double"
    )
    assert spearman_rho(rev, "x", "y").collect()[0].rho == -1.0

    # tied noisy data: exact parity with the integer brute force
    rows = [
        (((i * 17) % 23) / 23.0, ((i * 17) % 23 + (i * 5) % 11 - 5) / 25.0)
        for i in range(90)
    ]
    df2 = spark.createDataFrame(rows, "x double, y double")
    got = spearman_rho(df2, "x", "y").collect()[0]

    def rank2_map(vals):
        cells = Counter(vals)
        out, cum = {}, 0
        for v in sorted(cells):
            out[v] = 2 * cum + cells[v] + 1
            cum += cells[v]
        return out

    xs = [math.floor(x * 10**6 + 0.5) for x, _ in rows]
    ys = [math.floor(y * 10**6 + 0.5) for _, y in rows]
    mx, my = rank2_map(xs), rank2_map(ys)
    rx = [mx[v] for v in xs]
    ry = [my[v] for v in ys]
    n = len(rows)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx, syy = sum(a * a for a in rx), sum(b * b for b in ry)
    expect = (n * sxy - sx * sy) / math.sqrt(
        n * sxx - sx * sx
    ) / math.sqrt(n * syy - sy * sy)
    assert got.rho == round(expect, 6)
    assert got.n_x_cells == len(mx) and got.n_y_cells == len(my)
    assert 0.5 < got.rho < 1.0  # correlated but tied/noisy

    # layout invariance + DuckDB replay
    assert spearman_rho(
        df2.repartition(13), "x", "y"
    ).collect()[0] == got
    con = duckdb.connect()
    con.register("t", df2.toPandas())
    o = con.execute("""
        WITH q AS (
          SELECT CAST(floor(x * 1000000 + 0.5) AS BIGINT) xq,
                 CAST(floor(y * 1000000 + 0.5) AS BIGINT) yq
          FROM t
        ),
        rx AS (
          SELECT xq, 2 * COALESCE(SUM(c) OVER (ORDER BY xq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + c + 1 AS r_x
          FROM (SELECT xq, COUNT(*) c FROM q GROUP BY 1)
        ),
        ry AS (
          SELECT yq, 2 * COALESCE(SUM(c) OVER (ORDER BY yq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + c + 1 AS r_y
          FROM (SELECT yq, COUNT(*) c FROM q GROUP BY 1)
        ),
        j AS (SELECT r_x, r_y FROM q JOIN rx USING (xq) JOIN ry USING (yq))
        SELECT COUNT(*) n, SUM(r_x) sx, SUM(r_y) sy, SUM(r_x * r_y) sxy,
               SUM(r_x * r_x) sxx, SUM(r_y * r_y) syy
        FROM j
    """).fetchone()
    dn, dsx, dsy, dsxy, dsxx, dsyy = (int(v) for v in o)
    drho = (dn * dsxy - dsx * dsy) / math.sqrt(
        dn * dsxx - dsx * dsx
    ) / math.sqrt(dn * dsyy - dsy * dsy)
    assert round(drho, 6) == got.rho

    # guards
    with pytest.raises(ValueError, match="NULL"):
        spearman_rho(
            spark.createDataFrame(
                [(0.1, None), (0.2, 0.3)], "x double, y double"
            ),
            "x", "y",
        )
    with pytest.raises(ValueError, match="constant axis"):
        spearman_rho(
            spark.createDataFrame(
                [(0.5, 0.1), (0.5, 0.9)], "x double, y double"
            ),
            "x", "y",
        )
    with pytest.raises(ValueError, match=">= 2"):
        spearman_rho(
            spark.createDataFrame([(0.1, 0.2)], "x double, y double"),
            "x", "y",
        )


def test_new_ops_on_driver_testdata(spark):
    """End-to-end smoke of the round-9 candidate operators over the
    REAL driver testdata tables (the inputs their future queries()
    slots would use): source-overlap and line-dedup over documents,
    curriculum phases off sketch quantiles of n_chars, per-language
    AUC of an n_chars-derived score, Spearman between two derived
    scores, distinct-n over the text column, and PCA + whitened
    cosine_topk over the embeddings table. Structural assertions —
    exact arithmetic is pinned by the unit tests; this pins that the
    operators run clean on the actual schemas at sf0.001."""
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.dedup import (
        line_dedup,
        source_overlap_kmv,
    )
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        distinct_n,
        roc_auc_by_group,
        spearman_rho,
    )
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        cosine_topk,
        pca_apply,
        pca_train,
    )
    from healthcare_dbt_datamart_spark.llmops.sketches import (
        logbucket_quantiles,
    )
    from healthcare_dbt_datamart_spark.llmops.splits import curriculum_phases

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_docs = docs.count()
    n_sources = docs.select("source").distinct().count()

    # source overlap: one row per unordered source pair, sane ranges
    ov = source_overlap_kmv(docs, "source", "text", k=64).collect()
    assert len(ov) == n_sources * (n_sources - 1) // 2
    assert all(0.0 <= r.jaccard_est <= 1.0 for r in ov)

    # line dedup: every doc returns, nothing negative
    ld = line_dedup(docs, "text", "doc_id").collect()
    assert len(ld) == n_docs
    assert all(r.n_lines_dropped >= 0 and r.n_lines >= 1 for r in ld)

    # curriculum off sketch quantiles of n_chars
    qs = {
        r.q: r.est
        for r in logbucket_quantiles(docs, "n_chars", qs=(0.34, 0.67))
        .collect()
    }
    ts = sorted(set(qs.values()))
    staged = curriculum_phases(docs, "n_chars", "doc_id", ts)
    phases = {r.phase for r in staged.select("phase").distinct().collect()}
    assert phases <= set(range(len(ts) + 1)) and len(phases) >= 2

    # per-language AUC of a deterministic n_chars score vs length label
    scored = docs.select(
        "lang",
        (F.pmod(F.col("n_chars"), F.lit(97)) / 96.0).alias("score"),
        (F.col("n_chars") % 2).cast("int").alias("label"),
    )
    aucs = roc_auc_by_group(scored, "score", "label", "lang").collect()
    assert len(aucs) == 5
    assert all(r.n_bad == 0 for r in aucs)
    assert all(r.auc is None or 0.0 <= r.auc <= 1.0 for r in aucs)

    # spearman between two deterministic derived scores
    sp = spearman_rho(
        docs.select(
            (F.col("n_chars") / 10000.0).alias("x"),
            (F.pmod(F.col("doc_id") * 37, F.lit(101)) / 101.0).alias("y"),
        ),
        "x", "y",
    ).collect()[0]
    assert sp.n_rows == n_docs and -1.0 <= sp.rho <= 1.0

    # distinct-n over the real text column
    dn = {r.n: r for r in distinct_n(docs, "text").collect()}
    assert set(dn) == {1, 2, 3}
    assert all(0 < dn[n].distinct_ratio <= 1.0 for n in dn)
    assert dn[3].distinct_ratio >= dn[1].distinct_ratio  # longer = rarer

    # PCA + whitened top-k over the embeddings table (float[] input)
    d = len(emb.first().embedding)
    model = pca_train(emb, "embedding", d_out=min(4, d))
    assert model["n_rows"] == emb.count() and model["d_in"] == d
    white = pca_apply(emb, "embedding", model, whiten=True, renorm=True)
    qid = emb.first().vec_id
    top = cosine_topk(white, query_id=qid, k=5).collect()
    assert len(top) == 5 and all(r.vec_id != qid for r in top)


def test_calibration_by_group_parity_and_degenerates(spark):
    """Per-group calibration: clean groups match calibration_summary
    on the same slice field-for-field; groups with dirty labels,
    out-of-range scores, or only dirty rows keep visible rows with
    NULL metrics and their n_bad/n_oob counts; layout-invariant."""
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        calibration_by_group,
        calibration_summary,
    )

    base = _eval_rows()
    rows = [("en", i, s, y) for i, s, y in base]
    rows += [("fr", i, round(1.0 - s * 0.8, 6), 1 - y) for i, s, y in base[:150]]
    rows += [("oob", 1, 1.5, 1), ("oob", 2, 0.5, 0)]   # out-of-range score
    rows += [("dirty", 1, 0.5, 7)]                      # bad label only
    df = spark.createDataFrame(
        rows, "lang string, id int, score double, label int"
    )

    got = {r.lang: r for r in calibration_by_group(
        df, "score", "label", "lang"
    ).collect()}
    assert set(got) == {"en", "fr", "oob", "dirty"}

    for g in ("en", "fr"):
        scalar = calibration_summary(
            df.filter(F.col("lang") == g), "score", "label"
        ).collect()[0]
        r = got[g]
        assert (
            r.n_rows, r.n_pos, r.n_bins_used, r.ece, r.mce, r.brier
        ) == tuple(scalar), g
        assert (r.n_bad, r.n_oob) == (0, 0)

    # out-of-range group: metrics NULL, the oob row visible and counted
    assert got["oob"].ece is None and got["oob"].n_oob == 1
    assert got["oob"].n_rows == 1  # the clean row still counted
    # bad-only group: survives the join with zeroed counts
    assert got["dirty"].ece is None
    assert (got["dirty"].n_rows, got["dirty"].n_bad) == (0, 1)

    got13 = {r.lang: r for r in calibration_by_group(
        df.repartition(13), "score", "label", "lang"
    ).collect()}
    assert got13 == got


def test_ndcg_at_k_known_values_replay_and_guards(spark):
    """NDCG@k: perfect ranking scores exactly 1, an inverted ranking
    matches the hand formula, the k cutoff drops late gains, zero-
    relevance queries keep visible NULL rows, ties break on id
    deterministically, a pure-Python replay agrees on every query, a
    DuckDB window replay agrees, and dirty grades raise."""
    import math
    from collections import defaultdict

    import duckdb
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import ndcg_at_k

    rows = [
        # qA: system order == ideal order
        ("qA", 1, 0.9, 3), ("qA", 2, 0.8, 2), ("qA", 3, 0.7, 1), ("qA", 4, 0.6, 0),
        # qB: inverted
        ("qB", 1, 0.9, 0), ("qB", 2, 0.8, 1), ("qB", 3, 0.7, 2), ("qB", 4, 0.6, 3),
        # qC: nothing relevant
        ("qC", 1, 0.9, 0), ("qC", 2, 0.8, 0),
        # qD: tie scores -> id ascending decides; rel rides along
        ("qD", 2, 0.5, 0), ("qD", 1, 0.5, 3),
        # qE: deep list to exercise the k cutoff
        *[("qE", i, 1.0 - i / 100.0, 1) for i in range(1, 16)],
    ]
    df = spark.createDataFrame(
        rows, "query string, doc_id int, score double, rel int"
    )
    k = 10
    got = {r.query: r for r in ndcg_at_k(
        df, "query", "doc_id", "score", "rel", k=k
    ).collect()}

    def replay():
        byq = defaultdict(list)
        for q, d, s, rel in rows:
            byq[q].append((d, s, rel))
        out = {}
        for q, docs in byq.items():
            sys_o = sorted(docs, key=lambda t: (-t[1], t[0]))
            ideal = sorted(docs, key=lambda t: (-t[2], t[0]))
            dcg = sum(
                (2 ** r - 1) / math.log2(i + 2)
                for i, (_, _, r) in enumerate(sys_o[:k])
            )
            idcg = sum(
                (2 ** r - 1) / math.log2(i + 2)
                for i, (_, _, r) in enumerate(ideal[:k])
            )
            nd = (
                round(round(dcg, 6) / round(idcg, 6), 6) if idcg > 0 else None
            )
            out[q] = (round(dcg, 6), round(idcg, 6), nd)
        return out

    expect = replay()
    for q, (dcg, idcg, nd) in expect.items():
        assert (got[q].dcg, got[q].idcg, got[q].ndcg) == (dcg, idcg, nd), q

    assert got["qA"].ndcg == 1.0
    assert got["qB"].ndcg is not None and got["qB"].ndcg < 0.8
    assert got["qC"].ndcg is None and got["qC"].n_relevant == 0
    # qD tie: id 1 (rel 3) ranks first -> perfect despite equal scores
    assert got["qD"].ndcg == 1.0
    # qE: 15 unit gains, only 10 count in both dcg and idcg -> 1.0
    assert got["qE"].n_docs == 15 and got["qE"].ndcg == 1.0

    # layout invariance
    got13 = {r.query: r for r in ndcg_at_k(
        df.repartition(13), "query", "doc_id", "score", "rel", k=k
    ).collect()}
    assert got13 == got

    # DuckDB window replay
    con = duckdb.connect()
    con.register("t", df.toPandas())
    o = {
        r[0]: (r[1], r[2])
        for r in con.execute(f"""
        WITH ranked AS (
          SELECT query, POW(2, rel) - 1 AS g,
                 row_number() OVER (PARTITION BY query
                   ORDER BY score DESC, doc_id ASC) r_sys,
                 row_number() OVER (PARTITION BY query
                   ORDER BY rel DESC, doc_id ASC) r_ideal
          FROM t
        )
        SELECT query,
               ROUND(SUM(CASE WHEN r_sys <= {k}
                 THEN g / log2(r_sys + 1.0) ELSE 0 END), 6) dcg,
               ROUND(SUM(CASE WHEN r_ideal <= {k}
                 THEN g / log2(r_ideal + 1.0) ELSE 0 END), 6) idcg
        FROM ranked GROUP BY 1
    """).fetchall()
    }
    for q in got:
        assert o[q] == (got[q].dcg, got[q].idcg), q

    # guards
    with pytest.raises(ValueError, match="judged pool"):
        ndcg_at_k(
            spark.createDataFrame(
                [("q", 1, 0.5, None)],
                "query string, doc_id int, score double, rel int",
            ),
            "query", "doc_id", "score", "rel",
        )
    bad = spark.createDataFrame(
        [("q", 1, 0.5, 2.5)],
        "query string, doc_id int, score double, rel double",
    )
    with pytest.raises(ValueError, match="judged pool"):
        ndcg_at_k(bad, "query", "doc_id", "score", "rel")
    with pytest.raises(ValueError, match="k must"):
        ndcg_at_k(df, "query", "doc_id", "score", "rel", k=0)


def test_source_data_card_replay_and_testdata(spark):
    """Per-source data card: dup/token/language columns replay exactly
    in pure Python on a synthetic corpus (incl. a NULL-text doc folded
    as the empty document), quality columns are deterministic under
    repartitioning, and the card runs clean over the real sf0.001
    documents table with one row per source."""
    from collections import Counter, defaultdict

    from healthcare_dbt_datamart_spark.models.data_card import (
        source_data_card,
    )

    rows = [
        (1, "srcA", "en", "the quick brown fox"),
        (2, "srcA", "en", "the quick brown fox"),      # exact dup
        (3, "srcA", "fr", "le renard brun rapide et vif"),
        (4, "srcB", "de", None),                        # NULL text
        (5, "srcB", "de", "der schnelle braune fuchs"),
        (6, "srcB", "en", "short one"),
        (7, "srcB", "en", "short one"),                 # dup in B
        (8, "srcB", "en", "short one"),                 # triplicate
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, source string, lang string, text string"
    )
    got = {r.source: r for r in source_data_card(df).collect()}

    by_src = defaultdict(list)
    for _, s, l, t in rows:
        by_src[s].append((l, t or ""))
    for s, docs in by_src.items():
        r = got[s]
        assert r.n_docs == len(docs)
        fp = Counter(t for _, t in docs)
        assert r.n_exact_dup_docs == sum(c - 1 for c in fp.values())
        assert r.dup_rate == round(
            sum(c - 1 for c in fp.values()) / len(docs), 6
        )
        toks = sum(len(t.split()) for _, t in docs)
        assert r.total_tokens == toks
        assert r.mean_tokens == round(toks / len(docs), 6)
        langs = Counter(l for l, _ in docs)
        top = min(langs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert r.majority_lang == top and r.n_langs == len(langs)
        assert 0.0 <= r.mean_quality <= 1.0
        assert 0.0 <= r.keep_rate <= 1.0

    # layout invariance (incl. the quantized quality mean)
    got13 = {
        r.source: r for r in source_data_card(df.repartition(13)).collect()
    }
    assert got13 == got

    # the real driver table: one row per source, sane ranges
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    card = source_data_card(docs).collect()
    assert len(card) == docs.select("source").distinct().count()
    assert sum(r.n_docs for r in card) == docs.count()
    assert all(0.0 <= r.dup_rate <= 1.0 for r in card)
    assert all(r.majority_lang is not None for r in card)


def test_retrieval_metrics_known_values_and_replay(spark):
    """MRR / P@k / R@k: hand-checked knowns (first-hit rank, cutoff
    arithmetic, graded rel coerced to binary), a pure-Python replay on
    every query, NULL-safe zero-relevance rows, DuckDB replay, layout
    invariance, and the dirty-pool guard."""
    from collections import defaultdict

    import duckdb
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        retrieval_metrics,
    )

    rows = [
        ("qA", 1, 0.9, 0), ("qA", 2, 0.8, 3), ("qA", 3, 0.7, 0),
        ("qA", 4, 0.6, 1),
        ("qB", 1, 0.9, 0), ("qB", 2, 0.8, 0),
        *[("qC", i, 1.0 - i / 100.0, 1 if i % 3 == 0 else 0)
          for i in range(1, 13)],
    ]
    df = spark.createDataFrame(
        rows, "query string, doc_id int, score double, rel int"
    )
    k = 3
    got = {r.query: r for r in retrieval_metrics(
        df, "query", "doc_id", "score", "rel", k=k
    ).collect()}

    byq = defaultdict(list)
    for q, d, s, r in rows:
        byq[q].append((d, s, 1 if r > 0 else 0))
    for q, docs in byq.items():
        order = [r for _, _, r in sorted(docs, key=lambda t: (-t[1], t[0]))]
        n_rel = sum(order)
        first = order.index(1) + 1 if n_rel else None
        hits = sum(order[:k])
        g = got[q]
        assert g.n_docs == len(order) and g.n_relevant == n_rel
        assert g.first_rel_rank == first
        assert g.mrr == (round(1 / first, 6) if first else None)
        assert g.precision_at_k == round(hits / k, 6)
        assert g.recall_at_k == (round(hits / n_rel, 6) if n_rel else None)

    # knowns: qA's first relevant is rank 2 -> MRR 0.5; graded rel 3
    # counts as binary relevant
    assert got["qA"].mrr == 0.5
    assert got["qA"].precision_at_k == round(1 / 3, 6)
    assert got["qA"].recall_at_k == 0.5
    # zero-relevance query: precision true 0, mrr/recall NULL
    assert got["qB"].precision_at_k == 0.0
    assert got["qB"].mrr is None and got["qB"].recall_at_k is None

    got13 = {r.query: r for r in retrieval_metrics(
        df.repartition(13), "query", "doc_id", "score", "rel", k=k
    ).collect()}
    assert got13 == got

    con = duckdb.connect()
    con.register("t", df.toPandas())
    o = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(f"""
        WITH ranked AS (
          SELECT query, CASE WHEN rel > 0 THEN 1 ELSE 0 END rel,
                 row_number() OVER (PARTITION BY query
                   ORDER BY score DESC, doc_id ASC) r
          FROM t
        )
        SELECT query,
               ROUND(1.0 / MIN(CASE WHEN rel = 1 THEN r END), 6),
               ROUND(SUM(CASE WHEN r <= {k} AND rel = 1 THEN 1
                     ELSE 0 END) / {k}.0, 6),
               CASE WHEN SUM(rel) > 0 THEN
                 ROUND(SUM(CASE WHEN r <= {k} AND rel = 1 THEN 1
                       ELSE 0 END) / CAST(SUM(rel) AS DOUBLE), 6) END
        FROM ranked GROUP BY 1
    """).fetchall()
    }
    for q in got:
        assert o[q] == (
            got[q].mrr, got[q].precision_at_k, got[q].recall_at_k
        ), q

    with pytest.raises(ValueError, match="judged pool"):
        retrieval_metrics(
            spark.createDataFrame(
                [("q", 1, None, 1)],
                "query string, doc_id int, score double, rel int",
            ),
            "query", "doc_id", "score", "rel",
        )
    with pytest.raises(ValueError, match="k must"):
        retrieval_metrics(df, "query", "doc_id", "score", "rel", k=0)


def test_mmr_rerank_diversifies_and_replays(spark):
    """MMR: lambda=1 degenerates exactly to cosine top-k order; at
    lambda=0.5 a near-duplicate cluster stops monopolizing the top
    ranks and the off-cluster item enters early; redundancy columns
    match an independent numpy replay; deterministic under
    repartitioning; guards raise."""
    import numpy as np
    import pytest

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    # query 0; ids 1-5 near-identical to the query (a dup cluster);
    # id 10 moderately relevant but orthogonal to the cluster
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]), (2, [0.998, 0.02, 0.0]),
        (3, [0.997, 0.03, 0.0]), (4, [0.996, 0.04, 0.0]),
        (5, [0.995, 0.05, 0.0]),
        (10, [0.6, 0.0, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    # lambda = 1: pure relevance == cosine_topk order
    plain = [r.vec_id for r in cosine_topk(df, 0, k=4).collect()]
    mmr1 = [r.vec_id for r in mmr_rerank(df, 0, k=4, pool=6, lam=1.0).collect()]
    assert mmr1 == plain == [1, 2, 3, 4]

    # lambda = 0.5: the orthogonal item breaks into rank 2
    got = mmr_rerank(df, 0, k=4, pool=6, lam=0.5).collect()
    order = [r.vec_id for r in got]
    assert order[0] == 1          # most relevant first, redundancy 0
    assert got[0].redundancy == 0.0
    assert 10 in order[:2]        # diversity pulls the off-cluster item up
    assert got[order.index(10)].redundancy < 0.7

    # numpy replay of the greedy (same pool, same formula)
    vecs = {i: np.array(v) for i, v in rows}
    q = vecs[0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    pool = sorted(
        ((round(cos(vecs[i], q), 6), i) for i in vecs if i != 0),
        key=lambda t: (-t[0], t[1]),
    )
    sel, expect = [], []
    remaining = [(i, rel) for rel, i in pool]
    for rank in range(1, 5):
        best = None
        for i, rel in remaining:
            red = max((cos(vecs[i], vecs[s]) for s in sel), default=0.0)
            score = 0.5 * rel - 0.5 * red
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, rel, red, score)
        _, i, rel, red, score = best
        sel.append(i)
        remaining = [t for t in remaining if t[0] != i]
        expect.append((i, rank, round(rel, 6), round(red, 6), round(score, 6)))
    assert [tuple(r) for r in got] == expect

    # determinism under layout change
    got13 = mmr_rerank(df.repartition(13), 0, k=4, pool=6, lam=0.5).collect()
    assert [tuple(r) for r in got13] == [tuple(r) for r in got]

    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(df, 0, lam=0.0)
    with pytest.raises(ValueError, match="k <= pool"):
        mmr_rerank(df, 0, k=10, pool=5)
    with pytest.raises(ValueError, match="not found"):
        mmr_rerank(df, 999, k=2, pool=3)


def test_roc_auc_large_population_no_int_overflow(spark):
    """n_pos·(n_pos+1) must ship as ONE exact long literal: two int
    literals multiplied in-plan are 32-bit and overflow under ANSI past
    n_pos ~ 46k — caught by the 10x scale probe on the replica corpus
    (regression: 100k positives here overflowed before the fix)."""
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.evaluation import roc_auc

    df = spark.range(200_000).select(
        (F.pmod(F.col("id") * 37, F.lit(1000)) / F.lit(999.0)).alias("score"),
        F.pmod(F.col("id"), F.lit(2)).cast("int").alias("label"),
    )
    row = roc_auc(df, "score", "label").collect()[0]
    assert row.n_pos == 100_000 and row.n_neg == 100_000
    assert row.auc is not None and 0.0 <= row.auc <= 1.0


def test_conformal_report_order_stat_coverage_and_replays(spark):
    """Split conformal: k = ceil((n+1)(1-alpha)) lands on the exact
    order statistic (tie cells included), eval coverage counts are
    exact integers, the whole report replays in DuckDB, empirical
    coverage on an exchangeable split meets the guarantee,
    layout-invariant, loud guards."""
    import math
    from fractions import Fraction

    import duckdb

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        conformal_report,
    )

    # calibration scores 0.01..0.20; alpha=0.25 -> k = ceil(21*0.75) = 16
    cal = spark.createDataFrame(
        [(i, i / 100.0) for i in range(1, 21)], ["rid", "s"]
    )
    ev = spark.createDataFrame(
        [(i, i / 100.0) for i in range(1, 31)], ["rid", "s"]
    )
    got = conformal_report(cal, ev, "s", alpha=0.25).collect()[0]
    assert (got.n_cal, got.k) == (20, 16)
    assert got.threshold == 0.16
    assert (got.n_eval, got.n_covered) == (30, 16)
    assert got.coverage == round(16 / 30, 6)
    k_frac = math.ceil((20 + 1) * (1 - Fraction(0.25)))
    assert got.k == k_frac

    # ties: a fat cell at the order statistic still yields its value
    calt = spark.createDataFrame(
        [(i, 0.5) for i in range(10)] + [(99, 0.1), (98, 0.9)],
        ["rid", "s"],
    )  # n=12, alpha=0.2 -> k = ceil(13*0.8) = 11 -> 11th smallest = 0.5
    gt = conformal_report(calt, ev, "s", alpha=0.2).collect()[0]
    assert (gt.k, gt.threshold) == (11, 0.5)

    # DuckDB replay of threshold + coverage
    con = duckdb.connect()
    con.register("cal", cal.toPandas())
    con.register("ev", ev.toPandas())
    oracle = con.execute("""
    WITH cc AS (
      SELECT CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS s_fp,
             COUNT(*) AS cnt
      FROM cal GROUP BY 1
    ),
    th AS (
      SELECT MIN(s_fp) AS q_fp FROM (
        SELECT s_fp, SUM(cnt) OVER (ORDER BY s_fp) AS cum FROM cc
      ) WHERE cum >= 16
    ),
    ec AS (
      SELECT CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS s_fp FROM ev
    )
    SELECT (SELECT q_fp FROM th) AS q_fp,
           COUNT(*) AS n_eval,
           SUM(CASE WHEN s_fp <= (SELECT q_fp FROM th) THEN 1 ELSE 0 END)
             AS n_cov
    FROM ec
    """).fetchone()
    assert oracle == (160000, 30, 16)
    assert got.threshold == round(oracle[0] / 10**6, 6)

    # empirical guarantee on an exchangeable split: deterministic
    # pseudo-random scores split half/half; coverage >= 1 - alpha - eps
    import hashlib

    vals = [
        (i, int(hashlib.md5(f"c{i}".encode()).hexdigest()[:8], 16) / 16**8)
        for i in range(400)
    ]
    half_a = spark.createDataFrame(vals[:200], ["rid", "s"])
    half_b = spark.createDataFrame(vals[200:], ["rid", "s"])
    gg = conformal_report(half_a, half_b, "s", alpha=0.1).collect()[0]
    assert gg.coverage >= 0.85  # 1 - alpha with sampling slack

    # layout invariance
    g13 = conformal_report(
        cal.repartition(13), ev.repartition(7), "s", alpha=0.25
    ).collect()[0]
    assert tuple(g13) == tuple(got)

    # guards
    with pytest.raises(ValueError, match="NULL"):
        conformal_report(
            cal.unionByName(
                spark.createDataFrame([(0, None)], "rid long, s double")
            ),
            ev, "s",
        ).collect()
    with pytest.raises(ValueError, match="NULL"):
        conformal_report(
            cal,
            ev.unionByName(
                spark.createDataFrame([(0, None)], "rid long, s double")
            ),
            "s",
        ).collect()
    with pytest.raises(ValueError, match="too small"):
        conformal_report(cal.limit(3), ev, "s", alpha=0.1)
    with pytest.raises(ValueError, match="alpha"):
        conformal_report(cal, ev, "s", alpha=1.5)


def test_leaderboard_wave_on_driver_testdata(spark):
    """End-to-end smoke of the leaderboard/mixture wave over the REAL
    driver testdata (the inputs their future queries() slots would
    use): Elo + Wilson + the release DAG over cheaper-supplier-wins
    matches from lineitem with period = order year, UniMax over
    per-source character budgets from documents, split-conformal over
    a deterministic doc score, and vocab_richness over the text
    column. Structural assertions — exact arithmetic is pinned by the
    unit tests; this pins the real schemas at sf0.001."""
    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        elo_ratings,
        wilson_winrate,
    )
    from healthcare_dbt_datamart_spark.llmops.splits import (
        unimax_allocation,
    )
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        conformal_report,
    )
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        vocab_richness,
    )
    from healthcare_dbt_datamart_spark.models.leaderboard_release import (
        build_leaderboard_release,
    )

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    # matches: within an order, the supplier with the cheaper unit
    # price wins (cross-multiplied cents — no float division); period
    # = order year
    lx = li.select(
        "l_orderkey",
        F.col("l_suppkey").alias("supp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    a, b = lx.alias("a"), lx.alias("b")
    matches = (
        a.join(b, "l_orderkey")
        .filter(
            (F.col("a.supp") != F.col("b.supp"))
            & (
                F.col("a.cents") * F.col("b.qty")
                < F.col("b.cents") * F.col("a.qty")
            )
        )
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("a.supp").alias("winner_id"),
            F.col("b.supp").alias("loser_id"),
            F.year("o_orderdate").alias("period"),
        )
    )
    n_matches = matches.count()
    assert n_matches > 100  # the construction yields real volume

    elo = elo_ratings(matches, k=16).collect()
    n_items = len(elo)
    assert n_items >= 2
    assert sum(r.rating_fp for r in elo) == n_items * 1000 * 10**6
    assert sum(r.n_matches for r in elo) == 2 * n_matches

    wb = wilson_winrate(matches).collect()
    assert len(wb) == n_items
    assert all(0.0 <= r.ci_lo <= r.ci_hi <= 1.0 for r in wb)
    assert sorted(r.rank_lb for r in wb) == list(range(1, n_items + 1))

    gate = build_leaderboard_release(spark, matches).build(
        "leaderboard_gate"
    ).collect()[0]
    assert gate.n_items == n_items and gate.n_matches == n_matches
    assert gate.released in (True, False)

    # UniMax over per-source character budgets
    counts = docs.groupBy(F.col("source").alias("grp")).agg(
        F.sum("n_chars").alias("n_tokens")
    )
    total = int(counts.agg(F.sum("n_tokens")).collect()[0][0])
    um = unimax_allocation(counts, budget=total // 2, max_epochs=2).collect()
    assert sum(r.alloc for r in um) == total // 2  # budget < caps: spent
    assert all(r.alloc <= r.cap for r in um)

    # split conformal over a deterministic doc score
    scored = docs.select(
        "doc_id", (F.pmod(F.col("n_chars") * 31, F.lit(997)) / 996.0).alias("s")
    )
    cal = scored.filter(F.col("doc_id") % 2 == 0)
    ev = scored.filter(F.col("doc_id") % 2 == 1)
    rep = conformal_report(cal, ev, "s", alpha=0.1).collect()[0]
    assert rep.n_cal + rep.n_eval == docs.count()
    assert rep.coverage >= 0.8  # guarantee with finite-sample slack

    # vocabulary diagnostics over the real corpus
    vr = vocab_richness(docs, "text", zipf_top_k=200).collect()[0]
    assert vr.vocab_size >= 2 and vr.n_tokens > vr.vocab_size
    assert vr.chao1 >= vr.vocab_size
    assert vr.zipf_slope < 0  # frequencies decay in rank


def test_brier_decomposition_identity_and_replays(spark):
    """Murphy decomposition: exact identity brier = REL - RES + UNC +
    residual to the printed digits BY CONSTRUCTION, a perfectly
    calibrated forecast has REL ~ 0, a constant forecast has RES = 0,
    an exact-Fraction pure-Python replay matches every field,
    layout-invariant, loud guards."""
    from fractions import Fraction

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        brier_decomposition,
    )

    # deterministic grid: score = bucket center, outcome rate != score
    rows = []
    for i in range(400):
        s = ((i * 37) % 100) / 100.0 + 0.005
        y = 1 if ((i * 13) % 100) / 100.0 < s * 0.8 else 0
        rows.append((i, s, y))
    df = spark.createDataFrame(rows, "rid long, score double, label int")
    got = brier_decomposition(df, "score", "label").collect()[0]
    assert got.n_rows == 400
    assert abs(
        got.brier
        - (got.reliability - got.resolution + got.uncertainty + got.residual)
    ) < 2e-6  # identity holds to rounding of the five printed fields

    # pure-Python replay from the same binning/quantization rules
    scale, n_bins = 10**6, 10
    import math

    bins = {}
    for _, s, y in rows:
        b = min(int(s * n_bins), n_bins - 1)
        cell = bins.setdefault(b, [0, 0, 0, 0, 0])
        cell[0] += 1
        cell[1] += y
        q = math.floor(s * scale + 0.5)
        cell[2] += q
        cell[3] += math.floor(s * s * scale + 0.5)
        cell[4] += q * y
    n = sum(c[0] for c in bins.values())
    pos = sum(c[1] for c in bins.values())
    y_bar = Fraction(pos, n)
    rel = sum(
        c[0] * (Fraction(c[2], c[0] * scale) - Fraction(c[1], c[0])) ** 2
        for c in bins.values()
    ) / n
    res = sum(
        c[0] * (Fraction(c[1], c[0]) - y_bar) ** 2 for c in bins.values()
    ) / n
    brier = Fraction(
        sum(c[3] for c in bins.values())
        - 2 * sum(c[4] for c in bins.values())
        + pos * scale,
        n * scale,
    )
    unc = y_bar * (1 - y_bar)
    assert got.reliability == round(float(rel), 6)
    assert got.resolution == round(float(res), 6)
    assert got.uncertainty == round(float(unc), 6)
    assert got.brier == round(float(brier), 6)
    assert got.residual == round(float(brier - (rel - res + unc)), 6)

    # perfectly calibrated per bin: forecast = within-bin outcome rate
    pc = []
    for i in range(200):
        b = i % 10
        s = b / 10.0 + 0.05
        y = 1 if (i // 10) % 20 < b * 2 else 0  # rate b/10 per bin
        pc.append((i, s, y))
    gpc = brier_decomposition(
        spark.createDataFrame(pc, "rid long, score double, label int"),
        "score", "label",
    ).collect()[0]
    assert gpc.reliability < 0.004  # bin means sit on outcomes

    # constant forecast: zero resolution, uncertainty floor
    gc = brier_decomposition(
        spark.createDataFrame(
            [(i, 0.55, i % 2) for i in range(100)],
            "rid long, score double, label int",
        ),
        "score", "label",
    ).collect()[0]
    assert gc.resolution == 0.0 and gc.uncertainty == 0.25

    # layout invariance
    g13 = brier_decomposition(
        df.repartition(13), "score", "label"
    ).collect()[0]
    assert tuple(g13) == tuple(got)

    # guards
    with pytest.raises(ValueError, match="outside"):
        brier_decomposition(
            df.unionByName(
                spark.createDataFrame(
                    [(999, 1.5, 0)], "rid long, score double, label int"
                )
            ),
            "score", "label",
        )
    with pytest.raises(ValueError, match="NULL/NaN scores"):
        brier_decomposition(
            df.unionByName(
                spark.createDataFrame(
                    [(999, None, 0)], "rid long, score double, label int"
                )
            ),
            "score", "label",
        )


def test_isotonic_calibration_pava_apply_and_replays(spark):
    """Isotonic calibration: a planted violation pools exactly as
    hand-PAVA says, p_cal is non-decreasing by construction, apply is
    right-continuous with end-clamping (seen cells, gap values,
    outside-range values), a pure-Python PAVA replays the block map
    bit-for-bit on a pseudo-random grid, and the composition
    (fit + apply on the fit relation) is perfectly calibrated per
    block; layout-invariant; loud guards."""
    from fractions import Fraction

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        isotonic_apply,
        isotonic_calibration,
    )

    # scores .1/.2/.3 with outcome rates .8/.2/.6: PAVA pools (.8,.2)
    # -> .5, then .5 <= .6 stands: blocks [.1-.2]->0.5, [.3]->0.6
    rows = (
        [(i, 0.1, 1 if i < 8 else 0) for i in range(10)]
        + [(i + 10, 0.2, 1 if i < 2 else 0) for i in range(10)]
        + [(i + 20, 0.3, 1 if i < 6 else 0) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "rid long, score double, label int")
    blocks = isotonic_calibration(df, "score", "label")
    got = sorted(
        (r.s_fp_lo, r.s_fp_hi, r.n, r.n_pos, r.p_cal)
        for r in blocks.collect()
    )
    assert got == [
        (100000, 200000, 20, 10, 0.5),
        (300000, 300000, 10, 6, 0.6),
    ]

    # apply: seen cell, gap value (0.25 -> lower block), below/above
    ev = spark.createDataFrame(
        [(1, 0.1), (2, 0.25), (3, 0.05), (4, 0.99), (5, 0.3)],
        "rid long, score double",
    )
    cal = {
        r.rid: r.p_cal
        for r in isotonic_apply(ev, "score", blocks).collect()
    }
    assert cal == {1: 0.5, 2: 0.5, 3: 0.5, 4: 0.6, 5: 0.6}

    # pseudo-random grid: pure-Python PAVA replay
    grid = [
        (i, ((i * 37) % 50) / 50.0, 1 if ((i * 29) % 97) < (i * 37) % 50 else 0)
        for i in range(500)
    ]
    gdf = spark.createDataFrame(grid, "rid long, score double, label int")
    gb = sorted(
        (r.s_fp_lo, r.s_fp_hi, r.n, r.n_pos, r.p_cal)
        for r in isotonic_calibration(gdf, "score", "label").collect()
    )
    import math

    cells = {}
    for _, s, y in grid:
        q = math.floor(s * 10**6 + 0.5)
        c = cells.setdefault(q, [0, 0])
        c[0] += 1
        c[1] += y
    pools = []
    for q in sorted(cells):
        cnt, pos = cells[q]
        pools.append([q, q, cnt, pos])
        while len(pools) >= 2 and Fraction(
            pools[-1][3], pools[-1][2]
        ) < Fraction(pools[-2][3], pools[-2][2]):
            lo, _, n2, p2 = pools.pop(-2)
            pools[-1][0] = lo
            pools[-1][2] += n2
            pools[-1][3] += p2
    assert gb == sorted(
        (lo, hi, n, p, round(p / n, 6)) for lo, hi, n, p in pools
    )
    # monotone by construction
    ps = [p for *_, p in gb]
    assert ps == sorted(ps)

    # composition: applying the map to the fit relation is perfectly
    # calibrated per block (PAVA's defining property)
    from pyspark.sql import functions as F

    back = isotonic_apply(gdf, "score", isotonic_calibration(
        gdf, "score", "label"
    ))
    per_block = back.groupBy("p_cal").agg(
        F.avg(F.col("label").cast("double")).alias("rate"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    for r in per_block:
        assert abs(r.rate - r.p_cal) < 1e-6

    # layout invariance
    gb13 = sorted(
        (r.s_fp_lo, r.s_fp_hi, r.n, r.n_pos, r.p_cal)
        for r in isotonic_calibration(
            gdf.repartition(13), "score", "label"
        ).collect()
    )
    assert gb13 == gb

    # guards
    with pytest.raises(ValueError, match="NULL/NaN scores"):
        isotonic_calibration(
            gdf.unionByName(
                spark.createDataFrame(
                    [(999, None, 0)], "rid long, score double, label int"
                )
            ),
            "score", "label",
        )
    with pytest.raises(ValueError, match="NULL"):
        isotonic_apply(
            spark.createDataFrame([(1, None)], "rid long, score double"),
            "score", blocks,
        )


def test_procrustes_align_recovers_rotation_and_replays(spark):
    """Procrustes: a planted orthogonal rotation is recovered to 1e-6,
    applying it aligns the source onto the target (tiny RMSE), the
    quantized cross-moment + SVD replays bit-for-bit in pure
    numpy, layout-invariant, loud guards incl. the degenerate-spectrum
    raise."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        procrustes_align,
        procrustes_apply,
    )

    # planted rotation: Givens (0,1) by 30deg and (2,3) by 60deg
    r0 = np.eye(4)
    c30, s30 = math.cos(math.pi / 6), math.sin(math.pi / 6)
    c60, s60 = math.cos(math.pi / 3), math.sin(math.pi / 3)
    r0[0, 0], r0[0, 1], r0[1, 0], r0[1, 1] = c30, -s30, s30, c30
    r0[2, 2], r0[2, 3], r0[3, 2], r0[3, 3] = c60, -s60, s60, c60

    xs = []
    for i in range(120):
        v = np.array(
            [((i * k * 37 + k) % 97) / 97.0 - 0.5 for k in range(1, 5)]
        )
        xs.append(v / np.linalg.norm(v))
    ys = [x @ r0 for x in xs]
    pairs = spark.createDataFrame(
        [
            (i, [float(a) for a in xs[i]], [float(b) for b in ys[i]])
            for i in range(120)
        ],
        "pid long, x array<double>, y array<double>",
    )
    model = procrustes_align(pairs, "x", "y")
    got_r = np.array(model["rotation"])
    assert model["d"] == 4 and model["n_rows"] == 120
    assert np.abs(got_r - r0).max() < 1e-6
    # orthogonality survives quantization
    assert np.abs(got_r @ got_r.T - np.eye(4)).max() < 1e-6
    # repeated NONZERO singular values stay well-defined: the planted
    # rotation of unit vectors gives a near-isotropic spectrum and the
    # operator must NOT raise there (only ~zero sigma is degenerate)
    assert min(model["sigma"]) > 0.01

    # apply: rotated x sits on y
    rot = procrustes_apply(
        pairs.select("pid", "x"), "x", model
    ).collect()
    by_id = {r.pid: np.array(r.x) for r in rot}
    rmse = math.sqrt(
        sum(float(np.sum((by_id[i] - ys[i]) ** 2)) for i in range(120)) / 120
    )
    assert rmse < 1e-5

    # pure-numpy replay from the same quantized cells
    scale = 10**6
    m = np.zeros((4, 4))
    for i in range(120):
        for j in range(4):
            for k in range(4):
                m[j, k] += math.floor(
                    float(xs[i][j]) * float(ys[i][k]) * scale + 0.5
                )
    m /= scale
    u, sig, vt = np.linalg.svd(m)
    want = u @ vt
    assert model["rotation"] == [
        [round(float(want[j, k]), 9) for k in range(4)] for j in range(4)
    ]
    assert model["sigma"] == [round(float(s), 9) for s in sig]

    # layout invariance: identical artifact
    m13 = procrustes_align(pairs.repartition(13), "x", "y")
    assert m13 == model

    # guards
    with pytest.raises(ValueError, match="empty"):
        procrustes_align(pairs.filter("pid < 0"), "x", "y")
    with pytest.raises(ValueError, match="equal-length"):
        procrustes_align(
            pairs.withColumn("y", F.expr("slice(y, 1, 3)")), "x", "y"
        )
    with pytest.raises(ValueError, match="degenerate"):
        one_d = spark.createDataFrame(
            [(i, [1.0, 0.0], [0.0, 1.0]) for i in range(10)],
            "pid long, x array<double>, y array<double>",
        )
        procrustes_align(one_d, "x", "y")  # rank-1 M: sigma = (1, 0)


def test_calibration_classifier_wave_on_driver_testdata(spark):
    """End-to-end smoke of the calibration/classifier/alignment wave
    over the REAL driver testdata: Brier decomposition + isotonic over
    a deterministic doc score, the hashed-ngram sparse classifier on a
    planted lang label, Rao-Kupper ties over price-tie supplier
    matches, Procrustes between the embeddings and a permuted copy,
    and concentration over per-source counts. Structural assertions —
    exact arithmetic is pinned by the unit tests."""
    import numpy as np

    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        brier_decomposition,
        isotonic_apply,
        isotonic_calibration,
    )
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry_ties,
    )
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        procrustes_align,
        procrustes_apply,
    )
    from healthcare_dbt_datamart_spark.llmops.splits import (
        domain_concentration,
    )
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        hashed_ngram_features,
        sparse_logreg_score,
        sparse_logreg_train,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    n_docs = docs.count()

    # calibration family over a deterministic score/label pair
    scored = docs.select(
        "doc_id",
        (F.pmod(F.col("n_chars") * 31, F.lit(997)) / 996.0).alias("s"),
        (F.col("n_chars") % 2).cast("int").alias("y"),
    )
    bd = brier_decomposition(scored, "s", "y").collect()[0]
    assert bd.n_rows == n_docs
    assert abs(
        bd.brier - (bd.reliability - bd.resolution + bd.uncertainty
                    + bd.residual)
    ) < 2e-6
    blocks = isotonic_calibration(scored, "s", "y")
    cal = isotonic_apply(scored, "s", blocks)
    assert cal.count() == n_docs
    ps = [r.p_cal for r in blocks.orderBy("s_fp_lo").collect()]
    assert ps == sorted(ps)

    # sparse classifier on a real text column: es-vs-rest language
    feats = hashed_ngram_features(docs, "text", "doc_id", n_buckets=2**14)
    labels = docs.select(
        "doc_id", (F.col("lang") == "es").cast("int").alias("y")
    )
    model = sparse_logreg_train(feats, labels, n_iter=3, lr=1.0)
    sc = sparse_logreg_score(feats, model)
    assert sc.count() == n_docs
    # the trained filter beats the base rate on its own training set
    joined = sc.join(labels.withColumnsRenamed({"doc_id": "id"}), "id")
    acc = joined.filter(F.col("keep") == F.col("y")).count() / n_docs
    base = max(
        labels.agg(F.avg("y")).collect()[0][0],
        1 - labels.agg(F.avg("y")).collect()[0][0],
    )
    assert acc >= base - 1e-9

    # Rao-Kupper over supplier matches incl. genuine price ties
    lx = li.select(
        "l_orderkey",
        F.col("l_suppkey").alias("supp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    a, b = lx.alias("a"), lx.alias("b")
    both = a.join(b, "l_orderkey").filter(F.col("a.supp") != F.col("b.supp"))
    m = both.filter(
        F.col("a.cents") * F.col("b.qty") <= F.col("b.cents") * F.col("a.qty")
    ).select(
        F.col("a.supp").alias("side_a"),
        F.col("b.supp").alias("side_b"),
        (
            F.col("a.cents") * F.col("b.qty")
            == F.col("b.cents") * F.col("a.qty")
        ).alias("is_tie"),
    )
    rk = bradley_terry_ties(m, n_iter=2).collect()
    assert len(rk) >= 2
    assert all(r.comparisons2 > 0 for r in rk)

    # Procrustes: embeddings vs their reversed copy -> the permutation
    pairs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("x"),
        F.reverse(F.col("embedding")).cast("array<double>").alias("y"),
    )
    pm = procrustes_align(pairs, "x", "y")
    R = np.array(pm["rotation"])
    d = pm["d"]
    anti = np.fliplr(np.eye(d))
    assert np.abs(R - anti).max() < 1e-3  # recovers the reversal
    rot = procrustes_apply(pairs.select("vec_id", "x"), "x", pm)
    assert rot.count() == emb.count()

    # concentration over per-source counts
    cc = domain_concentration(
        docs.groupBy(F.col("source").alias("grp")).agg(
            F.sum("n_chars").alias("n_tokens")
        )
    ).collect()[0]
    n_sources = docs.select("source").distinct().count()
    assert cc.n_domains == n_sources and 0.0 <= cc.gini < 1.0
    assert cc.top1_share >= 1.0 / n_sources


def test_nan_scores_are_dirty_rows_everywhere(spark):
    """ADVICE r8 (medium): NaN passes isNotNull() and
    floor(NaN·scale + 0.5) casts to 0 in non-ANSI Spark — pre-fix a
    NaN score silently entered conformal_report's calibration set as
    the MINIMAL nonconformity score, corrupting the 1−alpha coverage
    guarantee. NaN is now a dirty row in every quantizing evaluator
    (conformal_report's local cells, _quantized_cells behind
    roc_auc/isotonic/streamed-AUC, _bin_cells behind calibration)."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        calibration_summary,
        conformal_report,
        isotonic_calibration,
        roc_auc,
    )

    nan = float("nan")
    clean = spark.createDataFrame(
        [(i / 100.0, i % 2) for i in range(1, 21)], "s double, y int"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(nan, 1)], "s double, y int")
    )

    # sanity: the clean relations pass
    assert conformal_report(clean, clean, "s", alpha=0.25).count() == 1

    with pytest.raises(ValueError, match="NULL/NaN"):
        conformal_report(dirty, clean, "s", alpha=0.25)
    with pytest.raises(ValueError, match="NULL/NaN"):
        conformal_report(clean, dirty, "s", alpha=0.25)
    with pytest.raises(ValueError, match="NULL/NaN"):
        roc_auc(dirty, "s", "y")
    with pytest.raises(ValueError, match="NULL/NaN"):
        calibration_summary(dirty, "s", "y")
    with pytest.raises(ValueError, match="NULL/NaN"):
        isotonic_calibration(dirty, "s", "y")


def test_spearman_rho_raises_on_nan(spark):
    """A NaN x is a dirty row, not a value quantized to 0 (which gave
    rho = -0.2 on this frame)."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import spearman_rho

    df = spark.createDataFrame(
        [(float("nan"), 1.0), (0.2, 2.0), (0.3, 3.0), (0.4, 4.0)],
        "x double, y double",
    )
    with pytest.raises(ValueError, match="1 rows have NULL/NaN x or y"):
        spearman_rho(df, "x", "y")


def test_isotonic_apply_raises_on_nan(spark):
    """A NaN score is a dirty row, not a score quantized to 0 (which
    took the first block's p_cal)."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        isotonic_apply,
        isotonic_calibration,
    )

    fit = spark.createDataFrame(
        [(0.1, 0), (0.4, 0), (0.6, 1), (0.9, 1)], "score double, label int"
    )
    blocks = isotonic_calibration(fit, "score", "label")
    ev = spark.createDataFrame(
        [(1, float("nan")), (2, 0.5)], "rid long, score double"
    )
    with pytest.raises(ValueError, match="1 rows have a NULL/NaN 'score'"):
        isotonic_apply(ev, "score", blocks)


def test_kendall_tau_known_values_replay_and_guards(spark):
    """Kendall tau-b: perfect agreement = 1, perfect inversion = −1,
    the scipy-documented tie example matches the hand formula, a
    DuckDB pairwise replay agrees bit-for-bit, layout-invariant, loud
    guards (NaN/NULL, duplicates, bounded-model-state cap)."""
    import duckdb
    import math

    from healthcare_dbt_datamart_spark.llmops.evaluation import kendall_tau

    ident = spark.createDataFrame(
        [(f"i{k}", float(k), float(k * 2)) for k in range(8)],
        "item string, sa double, sb double",
    )
    got = kendall_tau(ident, "item", "sa", "sb").collect()[0]
    assert (got.n_items, got.n_pairs) == (8, 28)
    assert (got.concordant, got.discordant) == (28, 0)
    assert got.tau_b == 1.0

    inv = spark.createDataFrame(
        [(f"i{k}", float(k), float(-k)) for k in range(8)],
        "item string, sa double, sb double",
    )
    assert kendall_tau(inv, "item", "sa", "sb").collect()[0].tau_b == -1.0

    # ties on both sides: hand formula
    rows = [
        ("a", 1.0, 2.0), ("b", 1.0, 3.0), ("c", 2.0, 2.0),
        ("d", 3.0, 1.0), ("e", 3.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "item string, sa double, sb double")
    gt = kendall_tau(df, "item", "sa", "sb").collect()[0]
    c = d = ta = tb = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            da = (rows[i][1] > rows[j][1]) - (rows[i][1] < rows[j][1])
            db = (rows[i][2] > rows[j][2]) - (rows[i][2] < rows[j][2])
            c += da * db == 1
            d += da * db == -1
            ta += da == 0
            tb += db == 0
    n0 = 10
    want = round((c - d) / math.sqrt((n0 - ta) * (n0 - tb)), 6)
    assert (gt.concordant, gt.discordant, gt.tie_a, gt.tie_b) == (
        c, d, ta, tb,
    )
    assert gt.tau_b == want

    # DuckDB replay on a 40-item quantized board (heavy ties)
    board = [(f"m{k:02d}", float((k * 7) % 5), float((k * 3) % 4))
             for k in range(40)]
    bdf = spark.createDataFrame(board, "item string, sa double, sb double")
    gb = kendall_tau(bdf, "item", "sa", "sb").collect()[0]
    con = duckdb.connect()
    con.register("b", bdf.toPandas())
    o = con.execute("""
    WITH p AS (
      SELECT sign(x.sa - y.sa) AS da, sign(x.sb - y.sb) AS db
      FROM b x JOIN b y ON x.item < y.item
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN da * db = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN da * db = -1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
        CAST(SUM(CASE WHEN da = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ta,
        CAST(SUM(CASE WHEN db = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tb
      FROM p
    )
    SELECT c, d, ta, tb,
           round((c - d) / sqrt(CAST(n0 - ta AS DOUBLE)
             * CAST(n0 - tb AS DOUBLE)), 6) AS tau
    FROM agg""").fetchone()
    assert (gb.concordant, gb.discordant, gb.tie_a, gb.tie_b) == o[:4]
    assert gb.tau_b == o[4]

    # layout invariance
    g13 = kendall_tau(bdf.repartition(13), "item", "sa", "sb").collect()[0]
    assert tuple(g13) == tuple(gb)

    # guards
    import pytest as _pt
    with _pt.raises(ValueError, match="NULL/NaN|NULL items"):
        kendall_tau(
            bdf.unionByName(spark.createDataFrame(
                [("z", float("nan"), 1.0)],
                "item string, sa double, sb double",
            )),
            "item", "sa", "sb",
        )
    with _pt.raises(ValueError, match="duplicate"):
        kendall_tau(bdf.unionByName(bdf.limit(1)), "item", "sa", "sb")
    with _pt.raises(ValueError, match="max_items"):
        kendall_tau(bdf, "item", "sa", "sb", max_items=10)
    with _pt.raises(ValueError, match=">= 2"):
        kendall_tau(bdf.limit(1), "item", "sa", "sb")


def test_rrf_fuse_integer_exactness_replay_and_guards(spark):
    """Reciprocal rank fusion: the fused score is the exact integer
    sum of scale div (k0 + rank) terms (bit-stable under any layout,
    no float in the fold), a doc missing from one system contributes
    nothing, the DuckDB replay agrees, duplicate (system, id) votes
    and dirty ranks raise."""
    import duckdb
    import pytest as _pt

    from healthcare_dbt_datamart_spark.llmops.retrieval import rrf_fuse

    rows = [
        ("bm25", 1, 1), ("bm25", 2, 2), ("bm25", 3, 3),
        ("ann", 2, 1), ("ann", 1, 2), ("ann", 9, 3),
        ("recency", 9, 1), ("recency", 1, 2),
    ]
    df = spark.createDataFrame(rows, "system string, id long, rank long")
    got = {r.id: r for r in rrf_fuse(df, k0=60).collect()}
    s = 10**9
    exp = {}
    for sys_, i, rk in rows:
        e = exp.setdefault(i, [0, 0, 10**9])
        e[0] += 1
        e[1] += s // (60 + rk)
        e[2] = min(e[2], rk)
    for i, (ns, fp, br) in exp.items():
        assert (got[i].n_systems, got[i].rrf_fp, got[i].best_rank) == (
            ns, fp, br,
        )
        assert got[i].rrf == round(fp / s, 6)
    # doc 1 (ranks 1,2,2) outscores doc 2 (ranks 2,1) on the fused board
    assert got[1].rrf_fp > got[2].rrf_fp > got[3].rrf_fp

    # DuckDB replay
    con = duckdb.connect()
    con.register("r", df.toPandas())
    o = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute("""
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_systems,
               CAST(MIN(rank) AS BIGINT) AS best_rank,
               CAST(SUM(1000000000 // (rank + 60)) AS BIGINT) AS rrf_fp,
               round(CAST(SUM(1000000000 // (rank + 60)) AS DOUBLE)
                 / 1000000000, 6) AS rrf
        FROM r GROUP BY id""").fetchall()
    }
    for i in got:
        assert o[i] == (
            got[i].n_systems, got[i].best_rank, got[i].rrf_fp, got[i].rrf,
        )

    # layout invariance
    g13 = {r.id: tuple(r) for r in rrf_fuse(df.repartition(13)).collect()}
    assert g13 == {r_id: tuple(r) for r_id, r in got.items()}

    # guards
    with _pt.raises(ValueError, match="duplicate"):
        rrf_fuse(df.unionByName(df.limit(1)))
    with _pt.raises(ValueError, match="rank < 1|NULL id"):
        rrf_fuse(spark.createDataFrame(
            [("s", 1, 0)], "system string, id long, rank long"
        ))
    with _pt.raises(ValueError, match="k0"):
        rrf_fuse(df, k0=-1)


def test_mcnemar_test_contingency_replay_and_guards(spark):
    """McNemar: the Dietterich-style discordant-pair statistic matches
    the hand formula (continuity-corrected), significance reads the
    chi-square(1) table, no-disagreement keeps a visible NULL chi2,
    DuckDB replay agrees, dirty verdicts and unknown alpha raise."""
    import duckdb
    import pytest as _pt

    from healthcare_dbt_datamart_spark.llmops.evaluation import mcnemar_test

    # b=12 (only A right), c=2 -> chi2 = (|12-2|-1)^2/14 = 81/14
    rows = (
        [(1, 1)] * 30 + [(1, 0)] * 12 + [(0, 1)] * 2 + [(0, 0)] * 6
    )
    df = spark.createDataFrame(rows, "ca int, cb int")
    got = mcnemar_test(df, "ca", "cb").collect()[0]
    assert (got.n_items, got.both_right, got.only_a, got.only_b,
            got.both_wrong) == (50, 30, 12, 2, 6)
    assert got.chi2 == round(81 / 14, 6)
    assert got.significant is True  # 5.785714 > 3.841459

    # balanced disagreement: chi2 small, not significant
    bal = spark.createDataFrame(
        [(1, 0)] * 5 + [(0, 1)] * 5 + [(1, 1)] * 10, "ca int, cb int"
    )
    gb = mcnemar_test(bal, "ca", "cb").collect()[0]
    assert gb.chi2 == round(0 / 10, 6) and gb.significant is False

    # perfect agreement: chi2 NULL, counts visible, not significant
    agree = spark.createDataFrame([(1, 1)] * 4 + [(0, 0)] * 3, "ca int, cb int")
    ga = mcnemar_test(agree, "ca", "cb").collect()[0]
    assert ga.chi2 is None and ga.significant is False
    assert (ga.both_right, ga.both_wrong) == (4, 3)

    # DuckDB replay
    con = duckdb.connect()
    con.register("t", df.toPandas())
    o = con.execute("""
    WITH cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) n,
        CAST(SUM(CASE WHEN ca=1 AND cb=1 THEN 1 ELSE 0 END) AS BIGINT) rr,
        CAST(SUM(CASE WHEN ca=1 AND cb=0 THEN 1 ELSE 0 END) AS BIGINT) b,
        CAST(SUM(CASE WHEN ca=0 AND cb=1 THEN 1 ELSE 0 END) AS BIGINT) c,
        CAST(SUM(CASE WHEN ca=0 AND cb=0 THEN 1 ELSE 0 END) AS BIGINT) ww
      FROM t
    )
    SELECT n, rr, b, c, ww,
      CASE WHEN b + c > 0 THEN round(
        CAST(greatest(abs(b - c) - 1, 0) * greatest(abs(b - c) - 1, 0)
          AS DOUBLE) / CAST(b + c AS DOUBLE), 6) END AS chi2
    FROM cells""").fetchone()
    assert o == (got.n_items, got.both_right, got.only_a, got.only_b,
                 got.both_wrong, got.chi2)

    # layout invariance
    g13 = mcnemar_test(df.repartition(13), "ca", "cb").collect()[0]
    assert tuple(g13) == tuple(got)

    # guards
    with _pt.raises(ValueError, match="non-binary"):
        mcnemar_test(
            spark.createDataFrame([(1, 2)], "ca int, cb int"), "ca", "cb"
        )
    with _pt.raises(ValueError, match="alpha"):
        mcnemar_test(df, "ca", "cb", alpha=0.07)


def test_rbo_prefix_form_replay_and_guards(spark):
    """Rank-biased overlap: identical lists score 1 at every depth,
    disjoint lists score 0, the paper's prefix arithmetic matches an
    exact-Fraction hand replay (top-weighting pinned: agreement at
    rank 1 outweighs the same agreement at rank 5), missing-side rows
    contribute nothing, guards fire (dup items, dup ranks, depth cap,
    bad p)."""
    from fractions import Fraction

    import pytest as _pt

    from healthcare_dbt_datamart_spark.llmops.evaluation import rbo

    same = spark.createDataFrame(
        [(f"d{i}", i, i) for i in range(1, 6)],
        "item string, ra long, rb long",
    )
    g = rbo(same, "item", "ra", "rb").collect()[0]
    assert (g.depth, g.n_common) == (5, 5)
    p = Fraction(90, 100)
    want = (1 - p) * sum(p ** (i - 1) for i in range(1, 6))
    assert g.rbo == round(float(want), 6)

    disj = spark.createDataFrame(
        [(f"a{i}", i, None) for i in range(1, 4)]
        + [(f"b{i}", None, i) for i in range(1, 4)],
        "item string, ra long, rb long",
    )
    assert rbo(disj, "item", "ra", "rb").collect()[0].rbo == 0.0

    # top-weighting: one common item at rank 1 beats one at rank 5
    top = spark.createDataFrame(
        [("x", 1, 1)] + [(f"a{i}", i, None) for i in range(2, 6)]
        + [(f"b{i}", None, i) for i in range(2, 6)],
        "item string, ra long, rb long",
    )
    tail = spark.createDataFrame(
        [("x", 5, 5)] + [(f"a{i}", i, None) for i in range(1, 5)]
        + [(f"b{i}", None, i) for i in range(1, 5)],
        "item string, ra long, rb long",
    )
    r_top = rbo(top, "item", "ra", "rb").collect()[0].rbo
    r_tail = rbo(tail, "item", "ra", "rb").collect()[0].rbo
    assert r_top > r_tail > 0

    # exact-Fraction replay on a mixed example
    rows = [("a", 1, 2), ("b", 2, 1), ("c", 3, None), ("d", None, 3),
            ("e", 4, 4)]
    mixed = spark.createDataFrame(rows, "item string, ra long, rb long")
    gm = rbo(mixed, "item", "ra", "rb").collect()[0]
    acc, overlap = Fraction(0), 0
    jumps = {}
    for _, ra, rb in rows:
        if ra is not None and rb is not None:
            d = max(ra, rb)
            jumps[d] = jumps.get(d, 0) + 1
    for i in range(1, 5):
        overlap += jumps.get(i, 0)
        acc += p ** (i - 1) * Fraction(overlap, i)
    assert gm.depth == 4 and gm.n_common == 3
    assert gm.rbo == round(float((1 - p) * acc), 6)

    # layout invariance
    g13 = rbo(mixed.repartition(13), "item", "ra", "rb").collect()[0]
    assert tuple(g13) == tuple(gm)

    # guards
    with _pt.raises(ValueError, match="duplicate items"):
        rbo(same.unionByName(same.limit(1)), "item", "ra", "rb")
    with _pt.raises(ValueError, match="unique per side"):
        rbo(
            spark.createDataFrame(
                [("a", 1, 1), ("b", 1, 2)], "item string, ra long, rb long"
            ),
            "item", "ra", "rb",
        )
    # gapped ranks (upstream filtering leftovers) must raise, not
    # silently miscompute |A_1..i|/i — round-9 ADVICE regression
    with _pt.raises(ValueError, match="contiguous"):
        rbo(
            spark.createDataFrame(
                [("a", 1, 1), ("b", 5, 2)], "item string, ra long, rb long"
            ),
            "item", "ra", "rb",
        )
    with _pt.raises(ValueError, match="max_depth"):
        rbo(same, "item", "ra", "rb", max_depth=3)
    with _pt.raises(ValueError, match="p_pct"):
        rbo(same, "item", "ra", "rb", p_pct=100)
    with _pt.raises(ValueError, match="no"):
        rbo(
            spark.createDataFrame(
                [("a", None, None)], "item string, ra long, rb long"
            ),
            "item", "ra", "rb",
        )


from hypothesis import given as _e_given, settings as _e_settings
from hypothesis import strategies as _e_st


@_e_settings(max_examples=6, deadline=None, derandomize=True)
@_e_given(
    n=_e_st.integers(min_value=2, max_value=12),
    n_sys=_e_st.integers(min_value=1, max_value=4),
    k0=_e_st.integers(min_value=0, max_value=90),
)
def test_rrf_fuse_conservation_property(spark, n, n_sys, k0):
    """Property: the fused integer mass is CONSERVED — Σ_ids rrf_fp =
    Σ_systems Σ_ranks scale div (k0 + r) — and every per-id value
    equals the pure-Python fold, for any board sizes and k0."""
    from healthcare_dbt_datamart_spark.llmops.retrieval import rrf_fuse

    rows = []
    for s in range(n_sys):
        # each system ranks a rotated subset: id = (rank + s) mod n
        for r in range(1, n + 1):
            rows.append((f"sys{s}", (r + s) % n, r))
    df = spark.createDataFrame(rows, "system string, id long, rank long")
    got = {r.id: r.rrf_fp for r in rrf_fuse(df, k0=k0).collect()}
    scale = 10**9
    exp: dict = {}
    for _, i, r in rows:
        exp[i] = exp.get(i, 0) + scale // (k0 + r)
    assert got == exp
    assert sum(got.values()) == n_sys * sum(
        scale // (k0 + r) for r in range(1, n + 1)
    )


@_e_settings(max_examples=6, deadline=None, derandomize=True)
@_e_given(
    scores=_e_st.lists(
        _e_st.tuples(
            _e_st.integers(min_value=0, max_value=4),
            _e_st.integers(min_value=0, max_value=3),
        ),
        min_size=2,
        max_size=25,
    )
)
def test_kendall_tau_pair_identity_property(spark, scores):
    """Property: n_pairs = C + D + tie_a + tie_b − tie_both (every
    pair is concordant, discordant, or tied on at least one side) and
    tau_b ∈ [−1, 1], for any quantized score board."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import kendall_tau

    df = spark.createDataFrame(
        [(f"i{k}", float(a), float(b)) for k, (a, b) in enumerate(scores)],
        "item string, sa double, sb double",
    )
    g = kendall_tau(df, "item", "sa", "sb").collect()[0]
    assert g.n_pairs == (
        g.concordant + g.discordant + g.tie_a + g.tie_b - g.tie_both
    )
    if g.tau_b is not None:
        assert -1.0 <= g.tau_b <= 1.0


def test_rrf_fuse_null_system_raises_cleanly(spark):
    """A NULL system id is a dirty ranking row, not a 'duplicate
    (system, id)' artifact of count_distinct skipping NULL groups."""
    import pytest as _pt

    from healthcare_dbt_datamart_spark.llmops.retrieval import rrf_fuse

    df = spark.createDataFrame(
        [("bm25", 1, 1), (None, 2, 1)], "system string, id long, rank long"
    )
    with _pt.raises(ValueError, match="NULL system"):
        rrf_fuse(df)
