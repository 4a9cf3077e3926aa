"""Distributed graph scoring: fixed-point integer PageRank over an
edge list — the authority-scoring companion to the connected-components
pass in ``dedup.py`` (same edge inputs, different question: CC answers
"which docs are the same?", PageRank "which doc is the hub?" — the
standard keep-the-canonical-page signal in web-corpus curation).

Arithmetic discipline: ranks are BIGINT fixed-point (``scale`` units =
rank 1.0) and every step is integer — contribution is floor-division by
degree, the damping update is ``(15*scale + 85*sum) div 100``. Integer
sums are associative, so the result is BIT-EXACT regardless of
partitioning, merge order, or engine — a float PageRank cannot be
hash-gated across engines because double addition is order-sensitive;
this one replays cell-for-cell in the DuckDB oracle's unrolled CTEs.

Scale shape: degree is joined ONCE outside the loop (the edge×degree
relation is loop-invariant and persisted); each iteration is one
shuffle join (ranks onto edge sources) plus one partial-agg groupBy
(sum contributions per destination) — the textbook Pregel/GraphX
PageRank round without the dependency. State per round is one
(node, rank) row per vertex. ``session.truncate_lineage`` cuts the
iteration lineage, as in every other loop: a ``localCheckpoint`` by
default, a fault-tolerant ``checkpoint`` when the session has a
checkpoint dir.

Overflow bound: total rank mass is conserved at ≤ n·scale (the floor
divisions only shed mass), and in the worst case one hub's incoming
contribution sum approaches it, so keep ``85 * n_nodes * scale`` below
2^63 — the default 1e12 scale is safe to ~10^5 graph nodes (near-dup
components are far smaller); drop scale to 1e9 for ~10^8-node web
graphs.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame, pinned, truncate_lineage


def undirected_edges(pairs: DataFrame) -> DataFrame:
    """(id_a < id_b) candidate pairs → both directed edges. Distinct
    pairs in, no duplicate directions out, so UNION ALL suffices."""
    return pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )


def hits_fixedpoint(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 10**6,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Integer HITS (Kleinberg 1999, "Authoritative sources in a
    hyperlinked environment") over a directed edge list (``src``,
    ``dst``) — hubs point AT good pages, authorities ARE the good
    pages. PageRank's companion question in corpus curation: PageRank
    scores global endorsement flow; HITS separates "link-list/index
    docs" (hubs — often boilerplate to demote) from "canonical content
    docs" (authorities — the keep-best candidates).

    Power iteration, all-integer: each round
        auth_raw(v) = Σ_{u→v} hub(u)          (one join + partial agg)
        auth(v)     = auth_raw(v)·scale div max(auth_raw)
    then the mirrored update for hubs over ``auth``. Normalization is
    L∞ (divide by the round's max) rather than the classic L2: the
    normalizer is a uniform positive scalar, so the score RATIOS —
    hence the ranking, the thing downstream curation consumes — match
    the textbook iteration at every round; ints make it bit-exact on
    any layout where a float L2 norm cannot be. The per-round max is
    ONE collected BIGINT (bounded model state, the ``logreg_train``
    gradient class); the top hub/authority sits at exactly ``scale``.

    Scale shape: two shuffle joins + two partial-agg groupBys per
    round (inherent to HITS — it is two matrix-vector products);
    ``truncate_lineage`` cuts both half-rounds' state every
    ``checkpoint_every`` rounds and on the last round. Overflow bound: the
    normalized multiply is ``raw·scale ≤ max_degree·scale²``, so keep
    ``max(in/out-degree)·scale² < 2⁶³`` — the default 1e6 scale is safe
    to ~9·10⁶-degree nodes; drop to 1e4 for hub pages beyond that.

    Nodes with no out-edges have hub 0, with no in-edges authority 0
    (kept in the output via the node universe, never dropped). Raises
    on an empty edge list. Returns ``(id, hub_fp, auth_fp)``.
    """
    with pinned(edges.select("src", "dst")) as e:
        if e.count() == 0:
            raise ValueError("hits_fixedpoint got an empty edge list")
        # every src earns a hub row and every dst an auth row each round,
        # so hubs ⋈full auth covers the whole node universe at the end
        hubs = (
            e.select(F.col("src").alias("id"))
            .unionAll(e.select(F.col("dst").alias("id")))
            .distinct()
            .select("id", F.lit(int(scale)).cast("long").alias("h"))
        )
        auth = None
        for rnd in range(int(n_iter)):
            a_raw = (
                e.join(hubs, e["src"] == hubs["id"])
                .groupBy("dst")
                .agg(F.sum("h").alias("s"))
            )
            mxa = int(a_raw.agg(F.max("s")).collect()[0][0])
            auth = a_raw.select(
                F.col("dst").alias("id"),
                F.expr(f"(s * {int(scale)}) div {mxa}").alias("a"),
            )
            auth = truncate_lineage(auth, rnd, n_iter, checkpoint_every)
            h_raw = (
                e.join(auth, e["dst"] == auth["id"])
                .groupBy("src")
                .agg(F.sum("a").alias("s"))
            )
            mxh = int(h_raw.agg(F.max("s")).collect()[0][0])
            hubs = h_raw.select(
                F.col("src").alias("id"),
                F.expr(f"(s * {int(scale)}) div {mxh}").alias("h"),
            )
            hubs = truncate_lineage(hubs, rnd, n_iter, checkpoint_every)
        return hubs.join(auth, "id", "full").select(
            "id",
            F.coalesce(F.col("h"), F.lit(0)).alias("hub_fp"),
            F.coalesce(F.col("a"), F.lit(0)).alias("auth_fp"),
        )


def pagerank_fixedpoint(
    edges: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Integer PageRank over a directed edge list (``src``, ``dst``)
    where every node has out-degree ≥ 1 (an undirected graph via
    ``undirected_edges`` guarantees it — no dangling-mass handling
    needed). Returns (id, rank_fp) after ``n_iter`` rounds from a
    uniform start of ``scale`` (= rank 1.0) per node.

    Update rule, all-integer:
        contrib(e)  = rank(src) div out_degree(src)
        rank'(dst)  = ((100-damping_pct)*scale
                       + damping_pct * sum(contrib)) div 100
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(
        F.col("src").alias("id"), F.lit(scale).cast("long").alias("r")
    )
    teleport = (100 - damping_pct) * scale
    # loop-invariant: every round re-reads edge+degree, never recomputes
    with pinned(edges.join(deg, "src")) as pre:
        pre.count()
        for rnd in range(n_iter):
            contribs = (
                pre.join(ranks, pre["src"] == ranks["id"])
                .select("dst", F.expr("r div deg").alias("contrib"))
                .groupBy("dst")
                .agg(F.sum("contrib").alias("s"))
            )
            ranks = contribs.select(
                F.col("dst").alias("id"),
                F.expr(f"({teleport} + {damping_pct} * s) div 100").alias("r"),
            )
            ranks = truncate_lineage(ranks, rnd, n_iter, checkpoint_every)
        return ranks.select("id", F.col("r").alias("rank_fp"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    n_iter: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    checkpoint_every: int = 1,
) -> DataFrame:
    """PERSONALIZED PageRank (Page et al. 1999 §6; the random walk
    restarts at a SEED SET instead of everywhere) — seed-based corpus
    expansion: given a handful of known-good documents, score every
    node by its endorsement flow FROM the seeds (the classic
    "find more like these through the link/near-dup graph" curation
    move; unreachable nodes score exactly 0 instead of the global
    teleport floor).

    Same integer discipline as ``pagerank_fixedpoint``: the teleport
    mass ``(100−d)%`` of the total ``n_nodes·scale`` concentrates on
    the seeds (``t_seed = ((100−d)·n·scale) div (100·|S|)``, one exact
    driver integer), contributions floor-divide by out-degree, and

        rank'(v) = [v ∈ S]·t_seed + (d · Σ contrib(v)) div 100

    — associative integer sums, bit-exact under any partitioning,
    unrollable into SQL. The walk starts AT the restart distribution
    (all mass on seeds), so few rounds already separate reachable from
    unreachable. Per round: ONE join of ranks onto the persisted
    edge×degree relation + one partial-agg groupBy; the constant seed
    mass rides the same aggregation as |S| tagged union rows instead of
    a per-round left-join against the node universe (guide §2.4 — that
    join shuffled every node id every round for a value that never
    changes). The loop therefore carries only the SUPPORT of the rank
    vector (seeds + nodes with inbound flow); a zero-rank node
    contributes exactly 0 downstream, so dropping its row changes no
    sum, and the full universe is re-joined ONCE after the loop to emit
    the rank-0 rows (non-seeds with no inflow — the PPR semantic that
    plain PageRank's teleport hides). Same overflow bound as the plain
    operator.

    ``seeds`` is bounded driver model state (the operator's point: a
    handful of known-good ids); unknown seed ids raise loudly — a
    silently dropped seed changes the whole distribution. The seed rows
    are a JVM ``LocalRelation`` (``session.local_frame``), so the rounds
    that re-read them never start a Python worker. Returns
    ``(id, rank_fp)``.

    EAGER: the call itself runs Spark jobs before it returns. It
    collects the node count and the seed-presence check (one job),
    materializes the edge×degree relation, cuts lineage per the
    ``checkpoint_every`` cadence and on the last round, and makes one final
    ``truncate_lineage`` cut of the output. The returned frame reads
    that last materialization (``localCheckpoint`` blocks, or the
    session's checkpoint dir when one is set), not the input plan."""
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    seed_list = sorted({str(s) for s in seeds})
    # persist the (possibly expensive — e.g. an LSH near-dup pipeline)
    # edge plan ONCE: deg, the node universe, and the pre relation all
    # branch from it, and without the cache each materialization below
    # re-ran the whole upstream plan. nodes and pre outlive it (held).
    with ExitStack() as held:
        with pinned(
            edges.select(
                F.col("src").cast("string").alias("src"),
                F.col("dst").cast("string").alias("dst"),
            )
        ) as e:
            deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            # node universe = src UNION dst (the hits_fixedpoint
            # convention): a SINK node (inbound edges, no outbound) must
            # still receive its endorsement flow and appear in the
            # output — building nodes from out-edge sources alone
            # silently dropped both. PINNED: the node frame is read
            # twice, by the node-count/seed check below and by the one
            # universe join after the loop, and as a bare plan each read
            # re-ran the edge scan.
            nodes = held.enter_context(
                pinned(
                    e.select(F.col("src").alias("id"))
                    .union(e.select(F.col("dst").alias("id")))
                    .distinct()
                )
            )
            # ONE job over the cached node frame for BOTH the node count
            # and the seed-presence check (collect_set skips the
            # non-seed NULLs, so the collected set is bounded at |S|) —
            # the count-then-filter shape paid a second full pass over
            # the universe for a bounded answer (guide §1.2)
            row = nodes.agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set(
                    F.when(F.col("id").isin(seed_list), F.col("id"))
                ).alias("ks"),
            ).collect()[0]
            n_nodes = int(row["n"])
            known = set(row["ks"])
            missing = [s for s in seed_list if s not in known]
            if missing:
                raise ValueError(
                    f"personalized_pagerank: {len(missing)} seed ids are"
                    f" not graph nodes: {missing[:5]} — seed the walk"
                    " from nodes that exist"
                )
            pre = held.enter_context(pinned(e.join(deg, "src")))
            # fill pre while e is cached: e is released on leaving here
            pre.count()
        t_seed = ((100 - int(damping_pct)) * n_nodes * int(scale)) // (
            100 * len(seed_list)
        )
        d = int(damping_pct)
        # |S| bounded driver rows (a LocalRelation): the constant restart
        # mass, re-injected each round through the SAME aggregation as
        # the edge flow (cf_/cs_ columns keep the damping exact:
        # rank = seed + (d·Σflow) div 100, never a second rounding)
        seed_rows = local_frame(
            edges.sparkSession,
            [(s,) for s in seed_list],
            "dst string",
        ).select(
            "dst",
            F.lit(0).cast("long").alias("cf"),
            F.lit(int(t_seed)).cast("long").alias("cs"),
        )
        # round 0's restart distribution: all mass on the seeds — the
        # support-only invariant starts here (zero-rank rows are absent)
        ranks = seed_rows.select(
            F.col("dst").alias("id"), F.col("cs").alias("r")
        )
        for rnd in range(int(n_iter)):
            flow = (
                pre.join(ranks, pre["src"] == ranks["id"])
                .select(
                    "dst",
                    F.expr("r div deg").alias("cf"),
                    F.lit(0).cast("long").alias("cs"),
                )
                .unionByName(seed_rows)
            )
            ranks = (
                flow.groupBy("dst")
                .agg(F.sum("cf").alias("s"), F.sum("cs").alias("sm"))
                .select(
                    F.col("dst").alias("id"),
                    (F.col("sm") + F.expr(f"({d} * s) div 100")).alias("r"),
                )
            )
            ranks = truncate_lineage(ranks, rnd, n_iter, checkpoint_every)
        # ONE universe join total (vs one per round): emit rank-0 rows
        # for unreachable non-seeds, then cut so the returned plan reads
        # a bounded materialization instead of re-deriving nodes/pre
        # after their release
        return truncate_lineage(
            nodes.join(ranks, "id", "left").select(
                "id",
                F.coalesce(F.col("r"), F.lit(0).cast("long")).alias(
                    "rank_fp"
                ),
            )
        )
