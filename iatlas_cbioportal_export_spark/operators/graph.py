"""Graph operators over id-pair DataFrames, starting with near-duplicate
clustering: pair list → connected components → canonical keeper (the step
after every near-dup detector). Transitive duplicates (a~b, b~c) collapse
into one component by min-label propagation: state is one (id, label)
table, label initialized to the node's own id; each round takes
``min(label)`` over each node's neighborhood (including itself), so only
(id, label) PAIRS ever shuffle, never document payloads; convergence is a
driver-side count of changed labels.

Rounds needed = graph diameter. Near-dup components are overwhelmingly tiny
cliques/chains (diameter ≤ 3), so the loop is 2-4 rounds in practice; the
``max_iterations`` guard bounds pathological chains. For long-chain graphs
(diameter ≫ log n) use :func:`connected_components_star` — the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014) converges in O(log² n) rounds regardless
of diameter, at the cost of one extra shuffle per round.

Every round-by-round loop except PageRank's runs through :func:`_rounds`,
which owns the round policy: lazily checkpointed round states, at most
one aggregate per round, and a ``round k`` job label on each round's jobs
(HITS labels its rounds the same way). No operator here changes session
confs; AQE sizes each round's shuffles.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.session import job_label

_LOG = logging.getLogger(__name__)

# PageRank: ranks in integer micro-units of _PR_SCALE, damping 85/100.
_PR_SCALE = 10**12
_DAMPING_NUM, _DAMPING_DEN = 85, 100
# PageRank rounds nest into one plan, truncated every this many rounds.
_PR_CHECKPOINT_INTERVAL = 4
# HITS scores are integer units of _HITS_SCALE (L1 norm = _HITS_SCALE).
_HITS_SCALE = 10**6
# Round budget of connected_components_star (O(log^2 n) rounds are needed);
# a graph that needs more raises.
_STAR_MAX_ROUNDS = 25


def _rounds(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    done: Callable[[DataFrame], bool] | None = None,
) -> tuple[DataFrame, bool]:
    """Run up to ``rounds`` rounds of ``state = step(state)``; return the
    final state and whether ``done`` stopped the loop.

    Each round's state is a LAZY ``localCheckpoint``: the LogicalRDD
    wrapper cuts the logical plan at the round when it is built, so plan
    growth stays bounded however many rounds run (rounds reference their
    predecessor more than once, and an uncut state grows analysis
    exponentially). It still runs the step's shuffle stages when it is
    built: adaptive execution plans them before the checkpoint's RDD
    exists. ``done(state)`` is the round's single aggregate: it
    materializes the round and reports whether the loop has converged.
    Without ``done`` the caller's action materializes every round. Every
    job of round k carries the job label ``round k``.
    """
    for k in range(1, rounds + 1):
        with job_label(state.sparkSession, f"round {k}"):
            state = step(state).localCheckpoint(eager=False)
            if done is not None and done(state):
                return state, True
    return state, False


def _min_merge(state: DataFrame, contrib: DataFrame, key: str, value: str) -> DataFrame:
    """One MIN of ``value`` per ``key`` over the state rows unioned with the
    contributions — a single map-side-combined groupBy, so contributions
    partial-aggregate before they shuffle. ``__improved`` marks keys that
    are new (``__od``, the key's previous value, is NULL) or whose value
    dropped; a contribution that does not improve leaves ``__nd < __od``
    false or NULL."""
    tagged = state.select(key, value, F.lit(True).alias("__own")).unionByName(
        contrib.select(key, value, F.lit(False).alias("__own"))
    )
    improved = F.col("__od").isNull() | (F.col("__nd") < F.col("__od"))
    return (
        tagged.groupBy(key)
        .agg(
            F.min(value).alias(value),
            F.min(F.when(F.col("__own"), F.col(value))).alias("__od"),
            F.min(F.when(~F.col("__own"), F.col(value))).alias("__nd"),
        )
        .select(key, value, improved.alias("__improved"))
    )


def _settled(state: DataFrame) -> bool:
    """The round job of a :func:`_min_merge` loop: True once nothing
    improved, after which every further round is a no-op."""
    return state.filter(F.col("__improved")).count() == 0


def _canon_edges(pairs: DataFrame, left_col: str, right_col: str) -> DataFrame:
    """Undirected edge list, one row per edge: (u, v) with u < v, self-loops
    and duplicates dropped."""
    return (
        pairs.select(
            F.least(F.col(left_col), F.col(right_col)).alias("u"),
            F.greatest(F.col(left_col), F.col(right_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _directed_edges(edges: DataFrame) -> DataFrame:
    """Directed edge list as (src, dst) longs, duplicates dropped."""
    return edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct()


def _nodes(e: DataFrame) -> DataFrame:
    """Every endpoint of a (src, dst) edge list once, hash-laid-out on
    ``node`` and lazily checkpointed."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .repartition("node")
        .localCheckpoint(eager=False)
    )


def connected_components(pairs: DataFrame, max_iterations: int = 10) -> DataFrame:
    """Components of the undirected pair graph.

    Returns (id, component_id) with ``component_id = min(id in component)``
    — the deterministic canonical keeper. Isolated ids never appear in
    ``pairs`` and therefore are their own (implicit) components; join the
    result back with a left join + coalesce(component_id, id) to label a
    full corpus.
    """
    # TRUNCATE the lineage at the edge list: ``persist()`` keeps the whole
    # upstream pair-producing DAG (e.g. the LSH near-dup pipeline) in the
    # plan, and every round's analysis re-walks it — measured to exhaust a
    # 1 GiB driver heap after two rounds. (On a real cluster prefer reliable
    # ``checkpoint()`` — same truncation, executor-loss-safe.)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )

    def propagate(state: DataFrame) -> DataFrame:
        contrib = edges.join(state, edges["dst"] == state["id"]).select(
            F.col("src").alias("id"), "label"
        )
        return _min_merge(state, contrib, "id", "label")

    labels, converged = _rounds(labels, propagate, max_iterations, _settled)
    if not converged:
        # Unconverged labels are silently WRONG (nodes farther than
        # max_iterations hops from their component's min keep a stale
        # label) — fail loudly rather than return them.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds (graph distance-to-min exceeds the budget); raise "
            "max_iterations or use connected_components_star, which "
            "converges in O(log^2 n) rounds regardless of diameter"
        )
    return labels.select("id", F.col("label").alias("component_id"))


def connected_components_star(
    pairs: DataFrame, left_col: str = "id_a", right_col: str = "id_b"
) -> DataFrame:
    """Components via alternating large-star / small-star (Kiveris et al.,
    SoCC 2014) — same contract as :func:`connected_components` (returns
    (id, component_id), component_id = min id), but converges in O(log² n)
    rounds independent of graph diameter, where min-label propagation needs
    diameter rounds. Prefer this when components can be long chains (e.g.
    transitive near-dup runs in sorted/sharded corpora); for tiny-clique
    dup graphs the plain min-label loop does fewer shuffles total.

    Per round, each star op is ONE shuffle: the neighborhood minimum is a
    ``min().over(Window.partitionBy(node))`` — no groupBy-plus-join-back —
    and only (node, node) long pairs ever move. Convergence is checked with
    a single aggregate scalar (count + order-insensitive hash-sum of the
    edge set) instead of a full set-difference job.

    - large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u});
    - small-star: every smaller-or-equal neighbor (and u itself) links to
      m(u).

    At the fixpoint the edge set is a union of stars rooted at each
    component's minimum id.
    """
    # Canonical directed form (big → small); lineage truncated as in
    # connected_components so rounds never re-derive the pair-producing DAG.
    edges = (
        _canon_edges(pairs, left_col, right_col)
        .select(F.col("v").alias("u"), F.col("u").alias("v"))
        .localCheckpoint(eager=True)
    )
    # consumed once, by the final densifying join
    all_ids = edges.select(F.col("u").alias("id")).union(edges.select("v")).distinct()

    def _signature(e: DataFrame) -> tuple[int, int]:
        # decimal(38,0) accumulator: a long sum of 64-bit hashes overflows
        # (and under ANSI mode throws) after a handful of edges
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def star(e: DataFrame) -> DataFrame:
        # large-star over the undirected neighbor list
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
        large = (
            nbrs.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over large-star's output, which is already big → small;
        # both emits ((v, m) and (u, m)) in ONE pass over the window output —
        # a union of two selects would recompute the large-star subtree twice
        return (
            large.withColumn("m", m)
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    sig = _signature(edges)

    def unchanged(e: DataFrame) -> bool:
        nonlocal sig
        prev, sig = sig, _signature(e)
        return sig == prev

    edges, converged = _rounds(edges, star, _STAR_MAX_ROUNDS, unchanged)
    if not converged:
        # as in connected_components: unconverged labels are wrong
        raise RuntimeError(
            f"connected_components_star did not converge in {_STAR_MAX_ROUNDS} rounds"
        )
    comps = edges.withColumnsRenamed({"u": "id", "v": "component_id"})
    return all_ids.join(comps, on="id", how="left").select(
        "id", F.coalesce("component_id", "id").alias("component_id")
    )


def dedup_components(
    pairs: DataFrame,
    corpus_ids: DataFrame,
    id_col: str = "id",
    algorithm: str = "minlabel",
) -> DataFrame:
    """Label EVERY corpus id with its dedup component (singletons keep their
    own id) and mark the kept representative. Output:
    (id, component_id, is_keeper). ``algorithm``: "minlabel" (diameter
    rounds — right for tiny dup cliques) or "star" (O(log² n) rounds — right
    when components can be long chains)."""
    components = (
        connected_components_star if algorithm == "star" else connected_components
    )
    comps = components(pairs)
    return (
        corpus_ids.select(F.col(id_col).alias("id"))
        .join(comps, on="id", how="left")
        .select("id", F.coalesce("component_id", "id").alias("component_id"))
        .withColumn("is_keeper", F.col("id") == F.col("component_id"))
    )


def pagerank(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, computed in EXACT
    integer micro-units so the result is bit-identical under any partitioning
    / shuffle-fetch order / engine (a double-summed PageRank drifts with
    reduction order and can never be value-hash checked).

    Per node: ``rank₀ = scale``;
    ``rankᵢ₊₁ = teleport + Σ_incoming (rankᵢ·d_num) div (d_den·out_degree)``
    with ``teleport = scale·(d_den−d_num) div d_den``, ``scale = 10¹²`` and
    damping ``d_num/d_den = 85/100``. All quantities are BIGINTs; `div` is
    integral division, so each iteration is a sum of exactly-representable
    longs (truncation loss stays < out_degree micro-units per node per
    round — ~1e-12 relative). Dangling nodes (out-degree 0) simply leak
    their damped mass — the standard "no dangling redistribution" PageRank
    variant; feed a symmetrized edge list if every node must keep mass.

    Scale shape: out-degrees join the edge list ONCE; each iteration is one
    (src=node) join moving only (node, rank) pairs + one map-side-combined
    groupBy(dst). Rounds are NESTED into one logical plan, truncated only
    every ``_PR_CHECKPOINT_INTERVAL`` (4) rounds: a 4-round nested plan
    runs as ONE job and measured 2.6× faster than checkpoint-per-round at
    sf0.1 (bit-identical ranks), while 12 uncheckpointed rounds piled every
    round's hash-aggregate state into one pipeline and OOMed a 1 GiB heap.

    ``edeg`` and ``nodes`` are hash-laid-out on the join keys once. With
    AQE off every per-round join reuses that layout, leaving only the
    ``groupBy(dst)`` exchange; AQE does not trust LogicalRDD partitioning
    and re-inserts the join exchanges, yet wins at test scale by
    coalescing the tiny shuffles. On a big cluster run the loop with AQE
    off to activate the reuse.

    Output: ``(node, rank_int)`` — rank in micro-units of ``scale``.
    """
    return _pagerank(edges, iterations)


def personalized_pagerank(
    edges: DataFrame, seeds: Sequence[int], iterations: int = 4
) -> DataFrame:
    """Personalized PageRank: identical exact-integer iteration to
    :func:`pagerank`, but ALL teleport mass returns to the ``seeds``
    (rank₀ = scale on seeds, 0 elsewhere; per-round teleport only on
    seeds) — the random-walk-with-restart relevance score that powers
    "similar to these items" retrieval and seed-expansion labeling.
    Non-seed ranks decay toward pure propagated mass, so the scores ORDER
    nodes by proximity to the seed set.

    The seed set is a query parameter (KB literal, like the IVF centroid
    tables); plan shape, partitioning-reuse hints and checkpoint-interval
    economics are exactly :func:`pagerank`'s. Output: (node, rank_int).
    """
    seed_list = sorted(int(s) for s in seeds)
    if not seed_list:
        raise ValueError("personalized_pagerank requires at least one seed")
    return _pagerank(edges, iterations, seed_list)


def _pagerank(
    edges: DataFrame, iterations: int, seeds: list[int] | None = None
) -> DataFrame:
    """The body of :func:`pagerank` and, with ``seeds``, of
    :func:`personalized_pagerank`: the initial rank and the teleport mass
    land on every node, or only on the seeds."""
    e = _directed_edges(edges).localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # (src, dst, od): built once, hash-laid-out on the per-round join key
    edeg = e.join(deg, on="src").repartition("src").localCheckpoint(eager=False)
    nodes = _nodes(e)

    def on_seeds(mass: int):
        if seeds is None:
            return F.lit(mass)
        return F.when(F.col("node").isin(seeds), F.lit(mass)).otherwise(F.lit(0))

    teleport = _PR_SCALE * (_DAMPING_DEN - _DAMPING_NUM) // _DAMPING_DEN
    share = F.expr(f"(rank_int * {_DAMPING_NUM}) div ({_DAMPING_DEN} * od)")
    rank = on_seeds(teleport) + F.coalesce("m", F.lit(0))
    ranks = nodes.select("node", on_seeds(_PR_SCALE).cast("long").alias("rank_int"))
    for i in range(1, iterations + 1):
        contribs = (
            edeg.join(ranks, edeg["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), share.alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks = nodes.join(contribs, on="node", how="left").select(
            "node", rank.cast("long").alias("rank_int")
        )
        # Truncate lineage every _PR_CHECKPOINT_INTERVAL rounds, never after
        # the last (the caller's action is the materialization point).
        if i % _PR_CHECKPOINT_INTERVAL == 0 and i < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def count_triangles(pairs: DataFrame) -> DataFrame:
    """Global triangle count of the undirected graph — the clustering /
    community-density primitive (MapReduce triangle counting à la Suri &
    Vassilvitskii 2011): orient every edge from the lower to the higher
    endpoint under the (degree, id) total order, enumerate wedges at each
    LOW vertex, and close them against the oriented edge set.

    Why orientation matters at scale: wedge fan-out is Σ out-degree², and
    degree-ordering bounds every out-degree by O(√m) — a hub of degree d
    contributes d² wedges un-oriented but only its higher-ranked neighbors
    oriented. The order is encoded as one long (degree·2³² + id), so the
    wedge join and the closing join shuffle only id/rank longs.

    Output: one row (n_vertices, n_edges, n_triangles).
    """
    canon = _canon_edges(pairs, "src", "dst").localCheckpoint(eager=False)
    deg = (
        canon.select(F.col("u").alias("x"))
        .union(canon.select("v"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
        .select("x", (F.col("d") * F.lit(1 << 32) + F.col("x")).alias("rank"))
    )
    ranked = (
        canon.join(deg.withColumnsRenamed({"x": "u", "rank": "ru"}), on="u")
        .join(deg.withColumnsRenamed({"x": "v", "rank": "rv"}), on="v")
    )
    oriented = ranked.select(
        F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(F.col("ru") < F.col("rv"), F.col("ru")).otherwise(F.col("rv")).alias("ra"),
        F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(F.col("ru") < F.col("rv"), F.col("rv")).otherwise(F.col("ru")).alias("rb"),
    ).localCheckpoint(eager=False)
    e1 = oriented.select("a", F.col("b").alias("b1"), F.col("rb").alias("rb1"))
    e2 = oriented.select("a", F.col("b").alias("b2"), F.col("rb").alias("rb2"))
    wedges = e1.join(e2, on="a").filter(F.col("rb1") < F.col("rb2"))
    closing = oriented.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
    tri = wedges.join(closing, on=["b1", "b2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = canon.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_vertices")))
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_vertices", "n_edges", "n_triangles"
    )


def kcore_peel(pairs: DataFrame, k: int, rounds: int = 4) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly drop vertices of degree < k
    and the edges touching them — the dense-subgraph extractor (spam rings,
    co-purchase cores, community nuclei). A FIXED round count keeps the
    shape oracle-replayable, and each round's survivor counts show how fast
    the periphery evaporates.

    Per round: one degree aggregate + two semi-joins (only id pairs
    shuffle); state is the surviving edge list. One aggregate job per round
    counts the survivors: nodes = rows of their degree table, edges = half
    its degree sum.

    Output: (round, n_nodes, n_edges) for rounds 1..``rounds``.
    """

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("x"))
            .union(e.select("v"))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    def peel(e: DataFrame) -> DataFrame:
        alive = degrees(e).filter(F.col("c") >= k).select("x")
        return e.join(alive.withColumnRenamed("x", "u"), on="u", how="left_semi").join(
            alive.withColumnRenamed("x", "v"), on="v", how="left_semi"
        )

    stats: list[tuple[int, int, int]] = []

    def record(e: DataFrame) -> bool:
        row = degrees(e).agg(
            F.count(F.lit(1)).alias("n"), F.sum("c").alias("d")
        ).collect()[0]
        stats.append((len(stats) + 1, int(row["n"]), int(row["d"] or 0) // 2))
        return False

    canon = _canon_edges(pairs, "src", "dst").localCheckpoint(eager=False)
    _rounds(canon, peel, rounds, record)
    return pairs.sparkSession.createDataFrame(
        stats, "round int, n_nodes long, n_edges long"
    )


def bfs_distances(pairs: DataFrame, source: int, rounds: int = 3) -> DataFrame:
    """Single-source BFS hop distances (≤ ``rounds`` hops) over the
    undirected graph — frontier expansion, the canonical iterative-join
    primitive under "friends-of-friends" / blast-radius queries. Hop-count
    BFS is min-plus shortest paths over unit weights, so this is
    :func:`sssp_distances` with ``w = 1``. A fixed round count keeps the
    shape oracle-replayable (and in practice IS the query: "within 3
    hops").

    Output: (node, dist) for every node reached within ``rounds`` hops
    (source included at dist 0), dist an int.
    """
    unit = pairs.select(
        F.col("src").alias("s"), F.col("dst").alias("t"), F.lit(1).alias("w")
    )
    return sssp_distances(unit, source, rounds, "s", "t", "w").select(
        "node", F.col("dist").cast("int").alias("dist")
    )


def label_propagation(pairs: DataFrame, rounds: int = 3) -> DataFrame:
    """Fixed-round synchronous label propagation — community detection by
    majority vote: every node starts as its own label; each round it
    adopts the most frequent label among its neighbors (ties → smallest
    label), all nodes updating simultaneously. Complements
    ``connected_components`` (communities are denser-than-connected
    structure) with the mode-vote rather than min-label update rule.

    Per round: one labels⋈edges join + one (node, label) count aggregate +
    one deterministic argmax ``max(struct(count, -label))`` — only
    (node, label, count) longs shuffle; state is the (node, label) table.
    Fixed rounds keep the shape oracle-replayable (the PageRank/k-core
    pattern).

    Output: (node, label) after ``rounds`` rounds.
    """
    s, t = F.col("src").cast("long"), F.col("dst").cast("long")
    e = (
        pairs.select(s.alias("s"), t.alias("t"))
        .union(pairs.select(t, s))
        .filter(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def vote(labels: DataFrame) -> DataFrame:
        votes = (
            e.join(labels, e["t"] == labels["node"])
            .select(F.col("s").alias("n"), "label")
            .groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))
        return votes.groupBy("n").agg(best.alias("__b")).select(
            F.col("n").alias("node"), (-F.col("__b.nl")).alias("label")
        )

    labels = e.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels, _ = _rounds(labels, vote, rounds)
    return labels


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge list
    in EXACT integer units — the link-analysis dual of :func:`pagerank`
    (good hubs point at good authorities and vice versa; on a bipartite
    buyer→item graph it ranks "broad, well-sourced" versus
    "widely-pointed-at" nodes, which plain degree or PageRank conflate).

    Per round (the standard mutual recursion, L1-normalized to
    ``scale = 10⁶``):
    ``a_raw(v) = Σ_{u→v} h(u)``, then ``a = (a_raw·scale) div Σ a_raw``;
    ``h_raw(u) = Σ_{u→v} a(v)``, then ``h = (h_raw·scale) div Σ h_raw``.
    Integer L1 (not the float L2) keeps the fixed point ORDERING with every
    quantity exactly representable, so values hash-check across engines.
    The ``a_raw·scale`` products run in DECIMAL(38,0): with 1e9+ edges
    ``Σ a_raw`` alone passes 1e15, and BIGINT·scale would overflow (``div``
    on decimals returns the BIGINT quotient, ≤ scale by construction).

    Plan shape is :func:`pagerank`'s: the edge list is laid out once, each
    half-round is one equi-join moving (node, score) pairs + one
    map-side-combined groupBy. Scores are SPARSE between rounds (an absent
    node scores exactly 0 and adds nothing), so only the final output
    densifies. Output: ``(node, hub_int, auth_int)`` — on bipartite graphs
    source nodes carry auth 0 and sink nodes hub 0 after round 1.
    """
    e = (
        _directed_edges(edges)
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    # No second dst-partitioned edge layout: the score sides are node-count
    # rows and AQE broadcasts them, so the dst-side join never re-exchanges
    # the edge table; the extra layout's one-time materialization cost more
    # than it saved (median 4.6s → 5.9s at sf0.1).
    nodes = _nodes(e)
    dec = "decimal(38,0)"

    def half_round(score: DataFrame, on: str, to: str, col: str) -> DataFrame:
        """(node, score) → (node, col): the score summed along the edges
        from ``on`` to ``to``, L1-rescaled (0-total-safe). The Σ-total
        collect is the half-round's one job (it materializes the lazily
        checkpointed sums); the total replays exactly as a decimal
        literal."""
        raw = (
            e.join(score, e[on] == score["node"])
            .select(F.col(to).alias("node"), F.col(score.columns[1]).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias(col))
            .localCheckpoint(eager=False)
        )
        total = raw.agg(
            F.sum(F.col(col).cast(dec)).alias("__total")
        ).collect()[0]["__total"]
        if not total:
            return raw.select("node", F.lit(0).cast("long").alias(col))
        return raw.select(
            "node",
            F.expr(
                f"(CAST({col} AS {dec}) * CAST({_HITS_SCALE} AS {dec}))"
                f" div CAST('{int(total)}' AS {dec})"
            )
            .cast("long")
            .alias(col),
        )

    hub = nodes.select("node", F.lit(_HITS_SCALE).cast("long").alias("h"))
    for k in range(1, iterations + 1):
        with job_label(edges.sparkSession, f"round {k}"):
            auth = half_round(hub, "src", "dst", "a")
            hub = half_round(auth, "dst", "src", "h")
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).alias("hub_int"),
            F.coalesce("a", F.lit(0)).alias("auth_int"),
        )
    )


def sssp_distances(
    pairs: DataFrame,
    source: int,
    rounds: int = 4,
    left_col: str = "src",
    right_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted single-source shortest paths, bounded-round Bellman-Ford —
    the weighted form of :func:`bfs_distances` (min-plus semiring instead
    of hop counting). Integer weights keep every distance exact, so rounds
    replay bit-identically in any engine.

    Frontier-optimized relaxation: only nodes whose distance IMPROVED last
    round join the edge table next round (classic delta-relaxation — the
    result is identical to relaxing everything, rounds just get cheaper as
    the frontier shrinks). Per round the frontier ⋈ edges emits the
    relaxation candidates ``(t, dist + w)``, and candidates and the current
    state merge in ONE map-side-combined ``min`` per node
    (:func:`_min_merge`).

    Edges are symmetrized, parallel edges collapsed to their min weight.
    The round bound is a CAP — the honest distributed contract (it is the
    graph diameter bound); the per-round materializing count doubles as a
    convergence probe and relaxation stops the first round no distance
    improves, so a generous cap costs nothing on a small-diameter graph.

    Output: (node, dist) for every node reachable within ``rounds``
    relaxation rounds, dist = exact min path weight.
    """
    s, t, w = (F.col(c).cast("long") for c in (left_col, right_col, weight_col))
    # ONE shuffle builds the laid-out edge table: repartition("s") FIRST,
    # then collapse parallel edges — HashPartitioning(s) satisfies the
    # groupBy(s, t) clustering requirement (s is a prefix of the grouping
    # key), so the aggregate runs partition-local with no second exchange.
    e = (
        pairs.select(s.alias("s"), t.alias("t"), w.alias("w"))
        .union(pairs.select(t, s, w))
        .repartition("s")
        .groupBy("s", "t")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )

    def relax(state: DataFrame) -> DataFrame:
        frontier = state.filter(F.col("__improved"))
        contrib = frontier.join(e, frontier["node"] == e["s"]).select(
            F.col("t").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return _min_merge(state, contrib, "node", "dist")

    start = pairs.sparkSession.createDataFrame(
        [(int(source), 0, True)], "node long, dist long, __improved boolean"
    )
    dist, _ = _rounds(start, relax, rounds, _settled)
    return dist.select("node", "dist")


def dedup_cluster_report(labeled: DataFrame, id_col: str = "id") -> DataFrame:
    """Per-cluster summary of a components labeling — the audit artifact
    every dedup run ships with: cluster size, canonical keeper, the
    members themselves (CSV, sorted), and how many rows dedup drops.

    One map-side-combined groupBy over (id, component_id) longs. The
    member list is cluster-size-bounded — fine for near-dup clusters
    (tens of members); for pathological mega-clusters cap upstream or
    drop the members column (the counts never blow up).

    Output: (component_id, size, n_dropped, members_csv), one row per
    cluster including singletons.
    """
    return (
        labeled.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("size"),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members_csv"),
        )
        .select("component_id", "size", "n_dropped", "members_csv")
    )


def link_prediction(
    edges: DataFrame, top_k: int = 200, max_degree: int = 1000
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph — the
    classic "who should be connected" primitive (recommendations, missing
    references, record-linkage hints): candidate pairs share ≥ 1 neighbor,
    scored by exact common-neighbor count and neighborhood-Jaccard ppm,
    existing edges excluded, top-k by (common desc, jaccard desc, u, v).

    Hub cap (the df-cap lesson applied to graphs): candidate fan-out
    through a shared neighbor w is deg(w)², so one celebrity node turns
    the self-join quadratic. Neighbors with degree > ``max_degree`` are
    excluded from CANDIDATE GENERATION (count logged) — principled, not
    just pragmatic: a hub shared by everyone carries no link evidence
    (the same insight Adamic-Adar encodes by 1/log-degree
    down-weighting; this is its hard-threshold form). Jaccard
    denominators keep FULL degrees, so scores of surviving pairs are
    honest about total neighborhoods.

    Plan shape: undirected-distinct adjacency, one degree aggregate, the
    neighbor-keyed candidate self-join (id longs only), one (u, v) count
    aggregation, an anti-join against existing edges, and
    TakeOrderedAndProject for top-k — no full sort, no payload shuffle.
    """
    und = (
        edges.select(F.col("src").alias("n"), F.col("dst").alias("m"))
        .unionByName(
            edges.select(
                F.col("dst").alias("n"), F.col("src").alias("m")
            )
        )
        .distinct()
    )
    deg = und.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    hub_names = deg.filter(F.col("deg") > max_degree)
    n_hubs = hub_names.count()
    if n_hubs:
        _LOG.warning(
            "link_prediction: excluding %d hub neighbor(s) with degree > %d "
            "from candidate generation",
            n_hubs,
            max_degree,
        )
    non_hub_adj = und.join(
        hub_names.select(F.col("n").alias("m")), "m", "left_anti"
    )
    a = non_hub_adj.select(F.col("n").alias("u"), "m")
    b = non_hub_adj.select(F.col("n").alias("v"), "m")
    common = (
        a.join(b, "m")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    existing = und.select(
        F.col("n").alias("u"), F.col("m").alias("v")
    ).filter(F.col("u") < F.col("v"))
    new_pairs = common.join(existing, ["u", "v"], "left_anti")
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("__dv"))
    scored = (
        new_pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("common").cast("long").alias("common"),
            F.expr("common * 1000000 DIV (__du + __dv - common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("common").desc(),
        F.col("jaccard_ppm").desc(),
        F.col("u").asc(),
        F.col("v").asc(),
    ).limit(top_k)
