"""Connected components / dedup clustering over near-dup pair lists."""

import pytest

import random

from iatlas_cbioportal_export_spark.operators.graph import (
    connected_components,
    connected_components_star,
    dedup_components,
)


def test_connected_components_chain_and_island(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r["id"]: r["component_id"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_direction_agnostic(spark):
    # edges listed in either order collapse identically
    pairs = spark.createDataFrame([(5, 2), (2, 9)], "id_a long, id_b long")
    out = {r["id"]: r["component_id"] for r in connected_components(pairs).collect()}
    assert out == {2: 2, 5: 2, 9: 2}


def test_dedup_components_singletons_and_keepers(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    out = {
        r["id"]: (r["component_id"], r["is_keeper"])
        for r in dedup_components(pairs, corpus, id_col="doc_id").collect()
    }
    assert out == {1: (1, True), 2: (1, False), 3: (3, True)}


def _ref_components(edges):
    """Driver-side union-find reference."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.slow
def test_star_matches_minlabel_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 10 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        expected = _ref_components(edges)
        star = {
            r["id"]: r["component_id"]
            for r in connected_components_star(pairs).collect()
        }
        minlabel = {
            r["id"]: r["component_id"]
            for r in connected_components(pairs, max_iterations=60).collect()
        }
        assert star == expected
        assert minlabel == expected


@pytest.mark.slow
def test_star_long_chain_beats_minlabel_round_budget(spark):
    # diameter-40 chain: min-label needs 40 rounds; star converges well
    # inside its default O(log^2 n) budget of 25
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    out = {
        r["id"]: r["component_id"]
        for r in connected_components_star(pairs).collect()
    }
    assert set(out.values()) == {0}
    assert len(out) == 41


def test_star_clique_and_islands(spark):
    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)] + [(100, 101)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {
        r["id"]: r["component_id"]
        for r in connected_components_star(pairs).collect()
    }
    assert out == {**{i: 0 for i in range(5)}, 100: 100, 101: 100}


def test_star_direction_agnostic(spark):
    pairs = spark.createDataFrame([(5, 2), (2, 9)], "id_a long, id_b long")
    out = {
        r["id"]: r["component_id"]
        for r in connected_components_star(pairs).collect()
    }
    assert out == {2: 2, 5: 2, 9: 2}


def test_minlabel_raises_instead_of_silently_wrong(spark):
    # distance-to-min 15 > budget 3: must raise, never return stale labels
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=3)


def test_star_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(pairs).count() == 0


def test_long_chain_converges(spark):
    # diameter 9 chain: must converge within max_iterations=10
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    out = {r["id"]: r["component_id"] for r in connected_components(pairs).collect()}
    assert set(out.values()) == {0}


def _ref_pagerank(edges, iterations, scale=10**12):
    # exact integer reference: same div-truncation arithmetic as the operator
    from collections import defaultdict

    edges = sorted(set(edges))
    nodes = sorted({n for e in edges for n in e})
    od = defaultdict(int)
    for s, _ in edges:
        od[s] += 1
    teleport = scale * 15 // 100
    rank = {n: scale for n in nodes}
    for _ in range(iterations):
        m = defaultdict(int)
        for s, t in edges:
            m[t] += (rank[s] * 85) // (100 * od[s])
        rank = {n: teleport + m[n] for n in nodes}
    return rank


def test_pagerank_matches_integer_reference(spark):
    from iatlas_cbioportal_export_spark.operators.graph import pagerank

    raw = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1), (1, 4), (3, 4)]
    df = spark.createDataFrame(raw, "src long, dst long")
    for k in (1, 3):
        got = {
            r["node"]: r["rank_int"]
            for r in pagerank(df, iterations=k).collect()
        }
        assert got == _ref_pagerank(raw, k)


def test_pagerank_dangling_node_keeps_teleport_only(spark):
    from iatlas_cbioportal_export_spark.operators.graph import pagerank

    # A -> B; B dangles (no out-edges): A gets only teleport mass, B gets
    # teleport + A's damped contribution
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {
        r["node"]: r["rank_int"] for r in pagerank(df, iterations=2).collect()
    }
    scale, tp = 10**12, 10**12 * 15 // 100
    assert got[1] == tp
    assert got[2] == tp + (tp * 85) // 100


def test_count_triangles_known_graphs(spark):
    from iatlas_cbioportal_export_spark.operators.graph import (
        count_triangles,
    )

    # K4 has 4 triangles; plus a pendant edge and a duplicate/reversed edge
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 9), (1, 0), (2, 2)]  # reversed dup + self-loop noise
    df = spark.createDataFrame(edges, "src long, dst long")
    r = count_triangles(df).collect()[0]
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (5, 7, 4)

    # triangle-free: a star
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    assert count_triangles(star).collect()[0]["n_triangles"] == 0


def test_kcore_peel_rounds(spark):
    from iatlas_cbioportal_export_spark.operators.graph import kcore_peel

    # K4 (all degree 3) + a tail 3-4-5: k=2 peels the tail in two rounds
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["round"]: (r["n_nodes"], r["n_edges"])
           for r in kcore_peel(df, k=2, rounds=3).collect()}
    # round 1: node 5 (deg 1) dies -> edge (4,5) gone; 4 now deg 1
    assert out[1] == (5, 7)
    # round 2: node 4 dies -> (3,4) gone; K4 remains (stable 2-core)
    assert out[2] == (4, 6)
    assert out[3] == (4, 6)


def test_bfs_distances_chain_and_bound(spark):
    from iatlas_cbioportal_export_spark.operators.graph import bfs_distances

    # chain 0-1-2-3-4-5 with a shortcut 0-3
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, source=0, rounds=3).collect()
    }
    # shortcut wins for 3; node 5 (true dist 3 via shortcut) included;
    # nothing beyond 3 hops
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2, 5: 3}


def test_label_propagation_matches_python_reference(spark):
    from collections import Counter, defaultdict

    from iatlas_cbioportal_export_spark.operators.graph import (
        label_propagation,
    )

    # two triangles bridged by one edge — synchronous majority vote with
    # smallest-label ties (labels DO leak across the bridge over rounds;
    # the reference fold is the contract, not an intuition)
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    for rounds in (1, 2, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df_from(spark, edges), rounds=rounds).collect()
        }
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        lab = {n: n for n in adj}
        for _ in range(rounds):
            nxt = {}
            for n in adj:
                c = Counter(lab[m] for m in adj[n])
                best = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                nxt[n] = best
            lab = nxt
        assert got == lab, rounds


def df_from(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_personalized_pagerank_seed_locality(spark):
    """Two disconnected components; seeding in one leaves the other at
    exactly zero, seeds outrank their neighbors, and the integer iteration
    matches a driver-side reference."""
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = {
        r["node"]: r["rank_int"]
        for r in personalized_pagerank(df, [1], iterations=4).collect()
    }
    # other component gets nothing
    assert ranks[10] == 0 and ranks[11] == 0
    assert ranks[1] > ranks[2] > 0 and ranks[3] > 0

    # driver-side integer replay
    scale, tele = 10**12, 10**12 * 15 // 100
    out_deg = {}
    adj = {}
    for s, d in set(edges):
        out_deg[s] = out_deg.get(s, 0) + 1
        adj.setdefault(s, []).append(d)
    nodes = {n for e in edges for n in e}
    r = {n: (scale if n == 1 else 0) for n in nodes}
    for _ in range(4):
        m = {n: 0 for n in nodes}
        for s, ds in adj.items():
            c = (r[s] * 85) // (100 * out_deg[s])
            for d in ds:
                m[d] += c
        r = {n: (tele if n == 1 else 0) + m[n] for n in nodes}
    assert ranks == r

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one seed"):
        personalized_pagerank(df, [])


def test_hits_tiny_bipartite_exact_rounds(spark):
    """Hand-replayed integer L1 rounds: hub 1 covers both authorities so it
    must out-rank hub 2; authority 10 (indegree 2) out-ranks 11. Values are
    the exact 2-round fixed-point integers."""
    from iatlas_cbioportal_export_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "src long, dst long"
    )
    out = {r["node"]: r for r in hits(edges, iterations=2).collect()}
    # round 1: a=(10:666666, 11:333333), h=(1:600000, 2:400000)
    # round 2: a_raw=(10:1000000, 11:600000) → a=(625000, 375000)
    #          h_raw=(1:1000000, 2:625000)  → h=(615384, 384615)
    assert out[1]["hub_int"] == 615384 and out[2]["hub_int"] == 384615
    assert out[10]["auth_int"] == 625000 and out[11]["auth_int"] == 375000
    assert out[1]["auth_int"] == 0 and out[10]["hub_int"] == 0


def test_hits_empty_edges(spark):
    from iatlas_cbioportal_export_spark.operators.graph import hits

    edges = spark.createDataFrame([], "src long, dst long")
    assert hits(edges, iterations=1).count() == 0


def test_sssp_weighted_beats_hop_count(spark):
    from iatlas_cbioportal_export_spark.operators.graph import sssp_distances

    # 0-1 costs 10 direct, but 0-2-1 costs 1+2=3: SSSP must take the
    # 2-hop cheaper path where BFS would stop at the direct edge.
    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 5)],
        "src long, dst long, w long",
    )
    out = {r["node"]: r["dist"] for r in sssp_distances(edges, 0, rounds=4).collect()}
    assert out == {0: 0, 1: 3, 2: 1, 3: 8}


def test_sssp_parallel_edges_and_symmetry(spark):
    from iatlas_cbioportal_export_spark.operators.graph import sssp_distances

    # parallel edges collapse to min weight; traversal is undirected
    edges = spark.createDataFrame(
        [(1, 0, 7), (0, 1, 4), (2, 1, 6)],
        "src long, dst long, w long",
    )
    out = {r["node"]: r["dist"] for r in sssp_distances(edges, 0, rounds=3).collect()}
    assert out == {0: 0, 1: 4, 2: 10}


def test_sssp_round_bound_limits_reach(spark):
    from iatlas_cbioportal_export_spark.operators.graph import sssp_distances

    # chain 0-1-2-3: rounds=2 must not reach node 3
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1)],
        "src long, dst long, w long",
    )
    out = {r["node"]: r["dist"] for r in sssp_distances(edges, 0, rounds=2).collect()}
    assert out == {0: 0, 1: 1, 2: 2}


def test_dedup_cluster_report_sizes_and_members(spark):
    from iatlas_cbioportal_export_spark.operators.graph import (
        dedup_cluster_report,
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    universe = spark.createDataFrame([(i,) for i in range(1, 10)], "id long")
    labeled = dedup_components(pairs, universe)
    out = {
        r["component_id"]: r
        for r in dedup_cluster_report(labeled).collect()
    }
    assert out[1]["size"] == 3 and out[1]["n_dropped"] == 2
    assert out[1]["members_csv"] == "1,2,3"
    assert out[7]["members_csv"] == "7,8"
    singles = [c for c, r in out.items() if r["size"] == 1]
    assert sorted(singles) == [4, 5, 6, 9]


def test_link_prediction_scores_and_hub_cap(spark):
    from iatlas_cbioportal_export_spark.operators.graph import link_prediction

    # triangle-ish graph: 1-2, 1-3 (so 2,3 share neighbor 1), 2-3 EXISTS
    # for (4,5) via shared 6; hub 9 connected to everyone with max_degree=3
    edges = [(1, 2), (1, 3), (2, 3), (4, 6), (5, 6)] + [
        (9, x) for x in (1, 2, 3, 4, 5, 6)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        (r["u"], r["v"]): r
        for r in link_prediction(df, top_k=50, max_degree=3).collect()
    }
    # (2,3) is an existing edge -> excluded even though they share 1
    assert (2, 3) not in out
    # (4,5) share only node 6 (deg 3 incl. hub edge): common=1,
    # deg(4)=deg(5)=2 -> jaccard = 1/(2+2-1)
    assert out[(4, 5)]["common"] == 1
    assert out[(4, 5)]["jaccard_ppm"] == 1_000_000 // 3
    # hub 9 (degree 6 > 3) generates no candidates: (1,4) share ONLY 9
    assert (1, 4) not in out


def test_link_prediction_deterministic_topk(spark):
    from iatlas_cbioportal_export_spark.operators.graph import link_prediction

    edges = [(i, 100 + (i % 5)) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = [tuple(r) for r in link_prediction(df, top_k=10).collect()]
    b = [tuple(r) for r in link_prediction(df.repartition(7), top_k=10).collect()]
    assert a == b and len(a) == 10


def test_star_components_raise_when_unconverged(spark, monkeypatch):
    """A graph that needs more rounds than the budget raises instead of
    returning stale labels, as connected_components does."""
    from iatlas_cbioportal_export_spark.operators import graph

    monkeypatch.setattr(graph, "_STAR_MAX_ROUNDS", 1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(20)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components_star(chain).collect()
