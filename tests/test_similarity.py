"""Similarity search: brute-force exactness + LSH recall floor."""

import math

import pytest

from iatlas_cbioportal_export_spark.operators import similarity
from iatlas_cbioportal_export_spark.operators.similarity import (
    ann_topk_lsh,
    brute_force_topk,
    embedding_near_duplicates,
)


def _unit(angle):
    return [math.cos(angle), math.sin(angle)] + [0.0] * 6


@pytest.fixture(scope="module")
def vectors(spark):
    # 40 vectors on a circle: neighbors in angle are neighbors in cosine
    rows = [(i, _unit(i * 0.15)) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_exact(vectors):
    out = brute_force_topk(vectors, vectors.filter("vec_id = 10"), k=2)
    got = [(r["vec_id"], r["rank"]) for r in out.collect()]
    # nearest by angle: 9 and 11 (cosine ties broken by id asc)
    assert sorted(r[0] for r in got) == [9, 11]
    ranks = {r["vec_id"]: r["rank"] for r in out.collect()}
    assert ranks[9] == 1 and ranks[11] == 2  # tie at cos(0.15) -> id asc


def test_brute_force_excludes_self(vectors):
    out = brute_force_topk(vectors, vectors.filter("vec_id = 3"), k=5)
    assert all(r["vec_id"] != 3 for r in out.collect())


def test_ann_lsh_recall_floor(spark, vectors):
    queries = vectors.filter("vec_id < 8")
    exact = brute_force_topk(vectors, queries, k=5).collect()
    approx = ann_topk_lsh(vectors, queries, dim=8, k=5, num_planes=8).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_topk_finds_scaled_twin(spark, vectors):
    from iatlas_cbioportal_export_spark.operators.similarity import ivf_topk
    import pyspark.sql.functions as F

    # plant scaled copies: cosine is scale-invariant so twin shares the cell
    twins = vectors.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = vectors.select("vec_id", "embedding").unionByName(twins)
    out = ivf_topk(
        corpus, twins, k=1, n_cells=4, n_probe=2
    ).collect()
    got = {r["query_id"]: (r["vec_id"], r["cosine_sim"]) for r in out}
    assert set(got) == {1000, 1001, 1002}
    for qid, (vid, sim) in got.items():
        assert vid == qid - 1000 and sim == 1.0


def test_ivf_recall_floor_vs_brute_force(spark, vectors):
    from iatlas_cbioportal_export_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    import pyspark.sql.functions as F

    queries = vectors.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(vectors, queries, k=5).collect()
    approx = ivf_topk(vectors, queries, k=5, n_cells=4, n_probe=3).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"IVF recall {recall} below floor"


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_duplicates(df, dim=3, threshold=0.99, num_planes=4)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_semantic_dedup_pairs_planted(spark):
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    # two tight clusters; near-dups exist only within the first cluster
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.001, 0.0]), (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_pairs(df, threshold=0.99, n_cells=2, iterations=2)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_semantic_dedup_scaled_twin_shares_cell(spark):
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    base = spark.createDataFrame(
        [(i, _unit(i * 0.7)) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    twins = base.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    out = semantic_dedup_pairs(
        base.unionByName(twins), threshold=0.99, n_cells=3, iterations=2
    )
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out.collect()}
    # power-of-two scaling gives bit-identical centroid sims -> same cell,
    # so every planted pair MUST surface at cosine 1.0
    for i in range(4):
        assert pairs.get((i, i + 1000)) == 1.0


def test_semantic_dedup_hot_cell_cap(spark, monkeypatch):
    from iatlas_cbioportal_export_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    rows = [(i, [1.0, i * 1e-4, 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # every vector lands in one cell; cap below its size drops the cell
    monkeypatch.setattr(similarity, "_MAX_CELL_SIZE", 5)
    out = semantic_dedup_pairs(df, threshold=0.9, n_cells=1, iterations=1)
    assert out.count() == 0


def test_kmeans_centroids_converge_toward_clusters(spark):
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.similarity import (
        kmeans_centroids,
    )

    # two tight clusters around orthogonal axes
    rows = []
    for i in range(20):
        eps = (i % 5) * 0.01
        rows.append((i, [1.0, eps, 0.0, 0.0]))
        rows.append((100 + i, [0.0, 0.0, 1.0, eps]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, n_cells=2, iterations=3)
    assert len(cents) == 2
    # one centroid dominated by dim0, the other by dim2
    doms = sorted(max(range(4), key=lambda d: c[d]) for _, c in cents)
    assert doms == [0, 2]


def test_ivf_trained_recall_at_least_seeded(spark, vectors):
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_trained,
    )

    queries = vectors.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(vectors, queries, k=5).collect()}
    trained = {(r["query_id"], r["vec_id"])
               for r in ivf_topk_trained(vectors, queries, k=5, n_cells=4,
                                         n_probe=3, iterations=2).collect()}
    recall = len(exact & trained) / len(exact)
    assert recall >= 0.4, f"trained IVF recall {recall} below floor"


def test_partition_topk_invariant_to_partitioning(spark, vectors):
    # the per-partition partial top-k must not change results under any
    # input partitioning (total order: cosine desc, id asc)
    queries = vectors.filter("vec_id < 4")
    one = brute_force_topk(vectors.coalesce(1), queries, k=3).collect()
    many = brute_force_topk(vectors.repartition(8), queries, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in one]) == sorted(
        [(r["query_id"], r["rank"], r["vec_id"]) for r in many]
    )


def test_embedding_near_dup_hot_bucket_cap(spark, monkeypatch):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # default cap: pair survives
    out = embedding_near_duplicates(df, dim=3, threshold=0.99, num_planes=4)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(1, 2)}
    # cap=1: every bucket holding the near-dup pair (size >= 2) is dropped
    monkeypatch.setattr(similarity, "_MAX_BUCKET_SIZE", 1)
    out = embedding_near_duplicates(df, dim=3, threshold=0.99, num_planes=4)
    assert out.count() == 0


def test_scalar_quantize_roundtrip_and_recall(spark, vectors):
    from iatlas_cbioportal_export_spark.operators.similarity import (
        corpus_dim_ranges,
        scalar_quantize,
    )

    mins, maxs = corpus_dim_ranges(vectors, dim=8)
    q = scalar_quantize(vectors, dim=8)
    codes = {r["vec_id"]: r["codes"] for r in q.collect()}
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)
    # reconstruction error bounded by half a quantization step per dim
    spans = [(mx - mn) if mx > mn else 1.0 for mn, mx in zip(mins, maxs)]
    deq = {vid: [mn + c * sp / 255 for c, mn, sp in zip(cs, mins, spans)]
           for vid, cs in codes.items()}
    orig = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    for vid, v in orig.items():
        for i, (a, b) in enumerate(zip(v, deq[vid])):
            span = (maxs[i] - mins[i]) or 1.0
            assert abs(a - b) <= span / 255 / 2 + 1e-12
    # int8-quantized brute-force top-3 keeps high recall vs exact
    queries = vectors.filter("vec_id < 5")
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(vectors, queries, k=3).collect()}
    deq_df = spark.createDataFrame(
        sorted(deq.items()), "vec_id long, embedding array<double>"
    )
    approx = {(r["query_id"], r["vec_id"])
              for r in brute_force_topk(
                  deq_df, deq_df.filter("vec_id < 5"), k=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"quantized recall {recall}"


def test_pq_encode_reconstruct_recall(spark, vectors):
    from iatlas_cbioportal_export_spark.operators.similarity import (
        pq_encode,
        pq_seed_codebooks,
    )

    books = pq_seed_codebooks(vectors, dim=8, m=4, k=8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 2
    enc = pq_encode(vectors, books)
    codes = {r["vec_id"]: r["codes"] for r in enc.collect()}
    assert all(len(cs) == 4 and all(0 <= c < 8 for c in cs) for cs in codes.values())
    # seed vectors encode to themselves in the DISTINCTIVE subvector: the
    # fixture's dims 2..7 are all zero, so those subvectors tie across every
    # centroid and resolve to index 0 (deterministic low-index tiebreak);
    # subvector 0 ([cos, sin], unique per vector) must hit its own centroid
    for vid in range(8):
        assert codes[vid][0] == vid
        assert codes[vid][1:] == [0, 0, 0]
    # reconstructed vectors keep reasonable top-3 recall vs exact
    rec = spark.createDataFrame(
        [(vid, [x for j, c in enumerate(cs) for x in books[j][c]])
         for vid, cs in sorted(codes.items())],
        "vec_id long, embedding array<double>",
    )
    queries = vectors.filter("vec_id < 5")
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(vectors, queries, k=3).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in brute_force_topk(rec, rec.filter("vec_id < 5"), k=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"PQ recall {recall}"


def test_l2_normalize_unit_norm_and_zero_vector(spark):
    from iatlas_cbioportal_export_spark.operators.similarity import l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r["embedding"] for r in l2_normalize(df).collect()}
    assert out[1] == [0.6, 0.8]
    assert out[2] == [0.0, 0.0]


def test_mean_pool_groups(spark):
    from iatlas_cbioportal_export_spark.operators.similarity import mean_pool

    df = spark.createDataFrame(
        [
            ("d1", [1.0, 2.0]),
            ("d1", [3.0, 4.0]),
            ("d2", [10.0, 20.0]),
        ],
        "doc string, embedding array<double>",
    )
    out = {r["doc"]: (r["n_vectors"], r["pooled"]) for r in mean_pool(df, "doc").collect()}
    assert out["d1"] == (2, [2.0, 3.0])
    assert out["d2"] == (1, [10.0, 20.0])


def test_mean_pool_partitioning_invariant(spark):
    from iatlas_cbioportal_export_spark.operators.similarity import mean_pool

    df = spark.createDataFrame(
        [(f"d{i % 4}", [float(i), float(i * 2), float(i % 7)]) for i in range(40)],
        "doc string, embedding array<double>",
    )
    a = sorted((r["doc"], r["n_vectors"]) for r in mean_pool(df, "doc").collect())
    b = sorted(
        (r["doc"], r["n_vectors"]) for r in mean_pool(df.repartition(11), "doc").collect()
    )
    assert a == b


def test_random_projection_preserves_pairwise_distance_roughly(spark):
    import math

    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.similarity import (
        random_projection,
    )

    # two parallel vectors and one orthogonal-ish: JL keeps relative
    # geometry; identical inputs project identically (determinism)
    rows = [
        (1, [1.0] * 64),
        (2, [1.0] * 64),
        (3, [(-1.0) ** i for i in range(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = random_projection(df, dim_out=16).collect()
    v = {}
    for r in out:
        v.setdefault(r["id"], {})[r["pos"]] = r["value"]
    assert v[1] == v[2]                       # deterministic matrix
    assert len(v[1]) == 16
    # norm preserved within JL distortion for the all-ones vector
    n_in = math.sqrt(64)
    n_out = math.sqrt(sum(x * x for x in v[1].values()))
    assert 0.3 * n_in < n_out < 3 * n_in


def test_item_cf_cosine_and_cap(spark, monkeypatch):
    import math

    from iatlas_cbioportal_export_spark.operators.similarity import (
        item_cooccurrence_similarity,
    )

    rows = [
        # items 1,2 shared by users a,b; item 3 only with a; dup interaction
        ("a", 1), ("a", 2), ("a", 3), ("a", 1),
        ("b", 1), ("b", 2),
        ("c", 9),
    ]
    df = spark.createDataFrame(rows, "user_id string, item_id long")
    out = {
        (r["item_a"], r["item_b"]): (r["n_both"], r["cosine"])
        for r in item_cooccurrence_similarity(df).collect()
    }
    # c_1=2, c_2=2, c_12=2 -> cosine 1.0; c_13=1 -> 1/sqrt(2*1)
    assert out[(1, 2)] == (2, 1.0)
    assert out[(1, 3)] == (1, round(1 / math.sqrt(2), 6))
    assert (3, 9) not in out
    # cap: a hyper-user is dropped entirely
    spam = [("z", i) for i in range(50)]
    df2 = spark.createDataFrame(rows + spam, "user_id string, item_id long")
    monkeypatch.setattr(similarity, "_MAX_USER_ITEMS", 10)
    capped = item_cooccurrence_similarity(df2)
    assert {(r["item_a"], r["item_b"]) for r in capped.collect()} == {
        (1, 2), (1, 3), (2, 3),
    }


def test_association_rules_confidence_and_lift(spark):
    from iatlas_cbioportal_export_spark.operators.similarity import (
        association_rules,
    )

    # 4 baskets: {1,2} x3, {1} x1 -> rule 2->1 has confidence 1.0,
    # rule 1->2 has confidence 0.75; lift = 3*4/(4*3) = 1.0 and
    # 3*4/(3*4)... c1=4, c2=3: lift(1->2) = 3*4/(4*3)=1.0
    rows = [("a", 1), ("a", 2), ("b", 1), ("b", 2), ("c", 1), ("c", 2),
            ("d", 1)]
    df = spark.createDataFrame(rows, "user_id string, item_id long")
    out = {
        (r["antecedent"], r["consequent"]): (
            r["support"], r["confidence"], r["lift"]
        )
        for r in association_rules(df, min_pair_support=2).collect()
    }
    assert out[(2, 1)] == (3, 1.0, 1.0)
    assert out[(1, 2)] == (3, 0.75, 1.0)


def test_brute_force_topk_query_cap_guard(spark, monkeypatch):
    """The exact path refuses oversized query sets (|C|x|Q| work) and points
    at the ANN/IVF scale paths; a set at the cap runs."""
    import pytest

    from iatlas_cbioportal_export_spark.operators.similarity import (
        brute_force_topk,
    )

    corpus = spark.range(20).selectExpr(
        "id as vec_id", "array(cast(id as double), 1.0d) as embedding"
    )
    queries = spark.range(5).selectExpr(
        "id + 100 as vec_id", "array(cast(id as double), 2.0d) as embedding"
    )
    monkeypatch.setattr(similarity, "_MAX_EXACT_QUERIES", 3)
    with pytest.raises(ValueError, match="ann_topk_lsh"):
        brute_force_topk(corpus, queries, k=2)
    monkeypatch.setattr(similarity, "_MAX_EXACT_QUERIES", 5)
    out = brute_force_topk(corpus, queries, k=2)
    assert out.count() == 10


def test_mips_topk_differs_from_cosine_when_norms_matter(spark):
    # d1 points the same direction as q but is SHORT; d2 is slightly
    # off-angle but LONG: cosine prefers d1, inner product prefers d2.
    rows = [
        (0, [1.0, 0.0]),        # query
        (1, [0.1, 0.0]),        # d1: cos=1.0, dot=0.1
        (2, [4.0, 3.0]),        # d2: cos=0.8, dot=4.0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from iatlas_cbioportal_export_spark.operators.similarity import mips_topk

    mips = mips_topk(df, df.filter("vec_id = 0"), k=2)
    got = {r["vec_id"]: r["rank"] for r in mips.collect()}
    assert got == {2: 1, 1: 2}
    cos = brute_force_topk(df, df.filter("vec_id = 0"), k=2)
    cos_got = {r["vec_id"]: r["rank"] for r in cos.collect()}
    assert cos_got == {1: 1, 2: 2}  # the orderings really do disagree


def test_mips_topk_query_cap_guard(spark, monkeypatch):
    from iatlas_cbioportal_export_spark.operators.similarity import mips_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_queries"):
        monkeypatch.setattr(similarity, "_MAX_EXACT_QUERIES", 5)
        mips_topk(df, df, k=2)


def test_grid_dbscan_roles_and_merging(spark):
    from iatlas_cbioportal_export_spark.operators.similarity import (
        grid_dbscan,
    )

    # eps=1 unit cells. Cluster A: dense cells (0,0) and (1,1) touch
    # diagonally -> ONE cluster. Cluster B: dense cell (5,5), separated.
    # Border: point in sparse cell (2,2) adjacent to (1,1). Noise: point
    # far away in (9,9).
    def pt(i, x, y):
        return (i, [float(x), float(y)])

    rows = (
        [pt(i, 0.1 + 0.01 * i, 0.1) for i in range(3)]        # cell (0,0)
        + [pt(10 + i, 1.2 + 0.01 * i, 1.2) for i in range(3)]  # cell (1,1)
        + [pt(20 + i, 5.5, 5.1 + 0.01 * i) for i in range(3)]  # cell (5,5)
        + [pt(30, 2.5, 2.5), pt(31, 9.5, 9.5)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["id"]: r
        for r in grid_dbscan(df, eps=1.0, min_pts=3).collect()
    }
    # all of A's points share one cluster (min cell id of (0,0),(1,1) = 0)
    a_clusters = {out[i]["cluster"] for i in (0, 1, 2, 10, 11, 12)}
    assert a_clusters == {0}
    assert all(out[i]["role"] == "core" for i in (0, 1, 2, 10, 11, 12))
    # B is its own cluster, not merged with A
    b_clusters = {out[i]["cluster"] for i in (20, 21, 22)}
    assert b_clusters == {5 * 100000 + 5}
    # border point attaches to A via (1,1); noise has no cluster
    assert out[30]["role"] == "border" and out[30]["cluster"] == 0
    assert out[31]["role"] == "noise" and out[31]["cluster"] is None


def test_ivfpq_exact_twin_ranks_original_first(spark):
    import random

    from iatlas_cbioportal_export_spark.operators.similarity import (
        ivfpq_topk,
    )

    rng = random.Random(7)
    dim = 16
    corpus = spark.createDataFrame(
        [
            (i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    twins = corpus.filter("vec_id < 3").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding"
    )
    out = ivfpq_topk(corpus, twins, k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {1000000, 1000001, 1000002}
    for qid, rs in by_q.items():
        # exact twin must find its original, and at rank 1: its ADC
        # distance is the original's own quantization error, minimal
        top = min(rs, key=lambda r: r["rank"])
        assert top["vec_id"] == qid - 1000000
        assert len(rs) <= 5
        assert all(rs_i["adc_d2"] >= top["adc_d2"] for rs_i in rs)


def test_ivfpq_corpus_state_is_codes_not_vectors(spark):
    import random

    from iatlas_cbioportal_export_spark.operators.similarity import (
        ivfpq_topk,
    )

    rng = random.Random(3)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    q = corpus.filter("vec_id = 0").selectExpr(
        "vec_id + 500 AS vec_id", "embedding"
    )
    df = ivfpq_topk(corpus, q, k=3)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the corpus side joins on (id, cell, codes) only: no embedding
    # column survives past the narrow encode on the corpus branch
    assert "__codes" in plan
    assert df.collect()  # and it runs


def test_covariance_matrix_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    data = rng.normal(size=(60, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    from iatlas_cbioportal_export_spark.operators.similarity import (
        covariance_matrix,
    )

    out = covariance_matrix(df, dims=8).collect()
    ref = np.cov(data.astype(np.float64), rowvar=False)
    for r in out:
        assert abs(r["cov"] - ref[r["i"], r["j"]]) < 1e-6
    assert len(out) == 36 and all(r["n"] == 60 for r in out)
