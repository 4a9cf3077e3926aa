"""The lineage-cut policy, ``session.truncate_lineage``.

Every iterative operator cuts its final round whatever the
``checkpoint_every`` cadence, so the frame it returns never reads through
a cache the loop has already released. And a session checkpoint dir is
the only switch between ``localCheckpoint`` and a fault-tolerant
``checkpoint``: with one set, every eager cut lands in it and the results
do not change.
"""

from __future__ import annotations

import pytest

from healthcare_dbt_datamart_spark.llmops import graph, preferences, textstats


def _hits(spark):
    edges = spark.range(12).selectExpr(
        "id % 4 as src", "(id * 5 + 1) % 7 + 4 as dst"
    )
    return graph.hits_fixedpoint(edges, n_iter=3, checkpoint_every=2)


def _pagerank(spark):
    pairs = spark.range(6).selectExpr("id as id_a", "id + 1 as id_b")
    return graph.pagerank_fixedpoint(
        graph.undirected_edges(pairs), n_iter=3, checkpoint_every=2
    )


def _bt_pairs(spark):
    wins = spark.range(9).selectExpr(
        "id % 3 as i", "(id + 1) % 3 as j", "2 * (1 + id % 2) as w2"
    )
    return preferences.bradley_terry_from_pairs(
        wins, n_iter=3, checkpoint_every=2
    )


def _bt_ties(spark):
    outcomes = spark.range(12).selectExpr(
        "cast(id % 4 as string) as side_a",
        "cast((id + 1) % 4 as string) as side_b",
        "id % 3 = 0 as is_tie",
    )
    return preferences.bradley_terry_ties(
        outcomes, n_iter=3, checkpoint_every=2
    )


def _elo(spark):
    matches = spark.range(12).selectExpr(
        "id % 4 as winner_id", "(id + 1) % 4 as loser_id", "id % 3 as period"
    )
    return preferences.elo_ratings(matches, checkpoint_every=2)


def _elo_boards(spark):
    matches = spark.range(12).selectExpr(
        "id % 4 as winner_id", "(id + 1) % 4 as loser_id", "id % 3 as period"
    )
    return preferences.elo_boards(matches, ks=(16, 32), checkpoint_every=2)


def _rasch(spark):
    votes = spark.range(18).selectExpr(
        "cast(id % 6 as string) as item_id",
        "cast(id % 3 as string) as annotator_id",
        "cast((id * 7) % 5 < 3 as int) as correct",
    )
    return preferences.rasch_fit(votes, n_iter=3, checkpoint_every=2)


def _sparse_logreg(spark):
    feats = spark.range(24).selectExpr(
        "id % 8 as id", "id % 5 as feat", "1 + id % 2 as v"
    )
    labels = spark.range(8).selectExpr("id", "cast(id % 2 as int) as y")
    return textstats.sparse_logreg_train(
        feats, labels, n_iter=3, checkpoint_every=2
    )["weights"]


@pytest.mark.parametrize(
    "build",
    [
        _hits, _pagerank, _bt_pairs, _bt_ties, _elo, _elo_boards, _rasch,
        _sparse_logreg,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_final_round_is_cut_whatever_the_cadence(spark, build):
    """With ``checkpoint_every=2`` over 3 rounds the last round is off
    the cadence; it is still cut, so the returned plan reads the
    materialized state, not the input (a ``Range`` scan) through caches
    the operator has already unpersisted."""
    out = build(spark)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range (" not in plan, plan
    assert out.count() > 0


def _components(spark):
    from healthcare_dbt_datamart_spark.llmops.dedup import near_dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 6), (9, 10)], "id_a long, id_b long"
    )
    return sorted(tuple(r) for r in near_dup_components(pairs).collect())


def _bpe(spark):
    from healthcare_dbt_datamart_spark.llmops.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "lower lowest newer newest"), (2, "low lower widest wider")],
        ["doc_id", "text"],
    )
    return bpe_train(docs, "text", n_merges=4)


def _ivf(spark):
    from healthcare_dbt_datamart_spark.llmops.similarity import ivf_topk

    emb = spark.createDataFrame(
        [
            (i, [float((i * 7) % 5), float((i * 3) % 4), float(i % 3), 1.0])
            for i in range(24)
        ],
        "vec_id long, embedding array<float>",
    )
    return [tuple(r) for r in ivf_topk(emb, query_id=0, k=5).collect()]


@pytest.mark.parametrize(
    "run", [_components, _bpe, _ivf], ids=lambda f: f.__name__.lstrip("_")
)
def test_formerly_raw_cuts_follow_the_checkpoint_dir(spark, request, run):
    """Connected components, BPE and IVF top-k cut lineage through
    ``truncate_lineage``: with a checkpoint dir set each returns the same
    rows as without one, and its cuts are written to the dir."""
    assert spark.sparkContext.getCheckpointDir() is None
    base = run(spark)
    ckpt = request.getfixturevalue("checkpoint_dir")
    assert not any(ckpt.rglob("rdd-*"))
    assert run(spark) == base
    assert any(ckpt.rglob("rdd-*/part-*"))


def test_truncate_lineage_cadence_and_sink(spark, request):
    """Cuts run every ``checkpoint_every`` rounds plus the last one, and
    the defaults always cut; the sink is the session's checkpoint dir
    once one is set."""
    from healthcare_dbt_datamart_spark.session import truncate_lineage

    df = spark.range(3)
    cut = [r for r in range(5) if truncate_lineage(df, r, 5, 2) is not df]
    assert cut == [1, 3, 4]
    ckpt = request.getfixturevalue("checkpoint_dir")
    assert not any(ckpt.rglob("part-*"))
    assert truncate_lineage(df).count() == 3
    assert any(ckpt.rglob("part-*"))
