"""Deterministic hash-based sampling / splitting (reproducibility is the
contract: same rows selected under any partitioning)."""

import pytest
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
)


def test_sample_invariant_to_partitioning(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_sample(df.coalesce(1), "doc_id", 0.3).collect()}
    b = {r["doc_id"] for r in deterministic_sample(df.repartition(16), "doc_id", 0.3).collect()}
    assert a == b
    # fraction approximately honored (hash buckets are near-uniform)
    assert 0.2 < len(a) / 1000 < 0.4


def test_split_partitions_everything_once(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id").groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]


def test_split_and_sample_validate_inputs(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="fraction"):
        deterministic_sample(df, "doc_id", 1.5)


def test_stratified_sample_honors_per_stratum_fractions(spark):
    from iatlas_cbioportal_export_spark.operators.sampling import (
        stratified_sample,
    )

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(
        df, "doc_id", "source", fractions={"a": 0.8}, default_fraction=0.1
    )
    counts = {r["source"]: r["count"]
              for r in out.groupBy("source").count().collect()}
    assert 0.7 < counts["a"] / 1000 < 0.9
    assert 0.03 < counts.get("b", 0) / 1000 < 0.2
    # determinism under repartition
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in stratified_sample(
        df.repartition(16), "doc_id", "source",
        fractions={"a": 0.8}, default_fraction=0.1).collect()}
    assert a == b
    import pytest
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(df, "doc_id", "source", fractions={"a": 2.0})


def _es_reference(ids, weights, k, salt=0):
    """Numpy replay of the Efraimidis-Spirakis key + ordering."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.float64)
    h = ((ids + salt) * 2654435761) % 1000003
    key = np.log((h + 0.5) / 1000003.0) / weights
    order = np.lexsort((ids, -key))
    return [int(i) for i in ids[order[:k]]]


def test_weighted_sample_matches_reference_and_partitioning(spark):
    from iatlas_cbioportal_export_spark.operators.sampling import weighted_sample

    rows = [(i, 1 + (i * 37) % 200) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    expect = _es_reference([r[0] for r in rows], [r[1] for r in rows], 25)
    got1 = [r["doc_id"] for r in weighted_sample(df.coalesce(1), "doc_id", "w", 25).collect()]
    got16 = [r["doc_id"] for r in weighted_sample(df.repartition(16), "doc_id", "w", 25).collect()]
    assert got1 == expect
    assert got16 == expect


@pytest.mark.slow
def test_weighted_sample_proportional_to_weight(spark):
    # k=1 race between weight 9 and weight 1: the heavy row should win
    # about 90% of 100 id pairs. Deterministic, so the count is a fixed
    # number; assert a generous band around the theoretical 0.9.
    from iatlas_cbioportal_export_spark.operators.sampling import weighted_sample

    wins = sum(
        weighted_sample(
            spark.createDataFrame([(s + 1, 9), (s + 2, 1)], "doc_id long, w long"),
            "doc_id", "w", 1,
        ).collect()[0]["doc_id"] == s + 1
        for s in range(100)
    )
    assert 75 <= wins <= 100, wins


def test_weighted_sample_excludes_nonpositive_and_caps_at_n(spark):
    from iatlas_cbioportal_export_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -2), (4, None), (5, 3)], "doc_id long, w long"
    )
    got = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", 10).collect()}
    assert got == {1, 5}
    with pytest.raises(ValueError, match="k must be positive"):
        weighted_sample(df, "doc_id", "w", 0)


def test_class_balanced_sample_exact_counts(spark):
    from iatlas_cbioportal_export_spark.operators.sampling import (
        class_balanced_sample,
    )

    rows = (
        [(i, "big") for i in range(50)]
        + [(100 + i, "mid") for i in range(20)]
        + [(200 + i, "small") for i in range(7)]
    )
    df = spark.createDataFrame(rows, "id long, cls string")
    out = class_balanced_sample(df, "id", "cls")
    counts = {
        r["cls"]: r["n"]
        for r in out.groupBy("cls").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"big": 7, "mid": 7, "small": 7}
    # deterministic: same selection on re-run
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in class_balanced_sample(df, "id", "cls").collect())
    assert a == b


def test_leakage_safe_splits_cluster_invariant(spark):
    from iatlas_cbioportal_export_spark.operators.graph import (
        dedup_components,
    )
    from iatlas_cbioportal_export_spark.operators.sampling import (
        leakage_safe_splits,
    )

    # clusters {1,2,3}, {10,11}, singletons 20..40
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    universe = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11] + list(range(20, 41))], "id long"
    )
    labeled = dedup_components(pairs, universe)
    out = leakage_safe_splits(labeled)
    # invariant: exactly one split per component
    per_comp = (
        out.groupBy("component_id")
        .agg(F.countDistinct("split").alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in per_comp)
    # and all members of each planted cluster share the split
    by_id = {r["id"]: r["split"] for r in out.collect()}
    assert by_id[1] == by_id[2] == by_id[3]
    assert by_id[10] == by_id[11]


def test_mixture_weights_sqrt_temperature_and_integer_exactness(spark):
    from iatlas_cbioportal_export_spark.operators.sampling import (
        mixture_weights,
    )

    df = spark.createDataFrame(
        [("a", 100, i) for i in range(4)]
        + [("b", 400, i) for i in range(2)]
        + [("c", 0, 0)],
        "source string, n_tok long, i long",
    )
    out = {
        r["source"]: r
        for r in mixture_weights(
            df, ["source"], "n_tok", target_tokens=1_000_000
        ).collect()
    }
    # tokens: a=400, b=800, c=0 → micro-weights 20e6, floor(sqrt(800)*1e6), 0
    import math

    wa, wb = 20_000_000, math.floor(math.sqrt(800.0) * 1_000_000)
    total = wa + wb
    assert out["a"]["tokens"] == 400 and out["a"]["weight_micro"] == wa
    assert out["b"]["weight_micro"] == wb and out["c"]["weight_micro"] == 0
    assert out["a"]["share_ppm"] == wa * 1_000_000 // total
    assert out["b"]["budget_tokens"] == wb * 1_000_000 // total
    # shares cover the whole mixture up to integer-floor slack (< n groups)
    assert 1_000_000 - sum(r["share_ppm"] for r in out.values()) < 3


def test_pack_sequences_exact_manifest(spark):
    from iatlas_cbioportal_export_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(0, 5), (1, 0), (2, 12), (3, 3), (4, 10)],
        "doc_id long, n_tokens long",
    )
    got = sorted(
        (r.doc_id, r.chunk_id, r.start_in_chunk, r.n_tokens_in_chunk)
        for r in pack_sequences(
            df, "n_tokens", "doc_id", seq_len=8, bucket_width=2
        ).collect()
    )
    # token stream: doc0 [0,5) doc2 [5,17) doc3 [17,20) doc4 [20,30); L=8
    assert got == [
        (0, 0, 0, 5),
        (2, 0, 5, 3), (2, 1, 0, 8), (2, 2, 0, 1),
        (3, 2, 1, 3),
        (4, 2, 4, 4), (4, 3, 0, 6),
    ]


def test_pack_sequences_conservation_and_partitioning_invariance(spark):
    import pyspark.sql.functions as F

    from iatlas_cbioportal_export_spark.operators.sampling import pack_sequences

    rows = [(i, (i * 17) % 29) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, "n_tokens", "doc_id", seq_len=64)
    # every token lands in exactly one chunk slot
    assert (
        out.agg(F.sum("n_tokens_in_chunk")).first()[0]
        == sum(n for _, n in rows)
    )
    # per-doc totals conserved
    per_doc = {
        r.doc_id: r.total
        for r in out.groupBy("doc_id")
        .agg(F.sum("n_tokens_in_chunk").alias("total"))
        .collect()
    }
    assert per_doc == {i: n for i, n in rows if n > 0}
    # every chunk except the last is exactly full
    sizes = {
        r.chunk_id: r.fill
        for r in out.groupBy("chunk_id")
        .agg(F.sum("n_tokens_in_chunk").alias("fill"))
        .collect()
    }
    last = max(sizes)
    assert all(v == 64 for c, v in sizes.items() if c != last)
    # offsets don't depend on physical partitioning
    repart = pack_sequences(
        df.repartition(13, "n_tokens"), "n_tokens", "doc_id", seq_len=64
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, repart.collect())
    )


def test_pack_sequences_exact_past_double_precision(spark):
    # chunk ids use integer `div`: double division is exact only below
    # 2^53 — at __start = 2^54 - 1 the float path rounds UP to 2^54 and
    # misassigns the first chunk (4 instead of 3).
    from iatlas_cbioportal_export_spark.operators.sampling import (
        pack_sequences,
    )

    L = 2**52
    df = spark.createDataFrame(
        [(1, 2**54 - 1), (2, 5)], "doc_id long, n_tokens long"
    )
    out = {
        (r.doc_id, r.chunk_id): (r.start_in_chunk, r.n_tokens_in_chunk)
        for r in pack_sequences(df, "n_tokens", "doc_id", seq_len=L).collect()
    }
    # doc a fills chunks 0..2 and all but the last token of chunk 3
    assert out[(1, 0)] == (0, L)
    assert out[(1, 3)] == (0, L - 1)
    # doc b starts at global offset 2^54 - 1 = chunk 3, offset L - 1
    assert out[(2, 3)] == (L - 1, 1)
    assert out[(2, 4)] == (0, 4)
    assert (2, 5) not in out and (1, 4) not in out
