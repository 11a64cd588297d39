"""Sketch tier: count-min (one-sided error, exactness without collisions,
shard mergeability) and HyperLogLog (accuracy gate, determinism, register
mergeability — the properties that make them 100 TB profiling tools)."""

import pytest

from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.operators.sketch import (
    count_min_build,
    count_min_estimate,
    hll_distinct,
)


def test_cms_estimates_never_undercount(spark):
    rows = [(i, f"tok{i % 13} filler common the the words") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counters = count_min_build(df, depth=4, width=64)
    out = count_min_estimate(df, ["the", "filler", "tok0", "absent"], counters)
    for r in out.collect():
        assert r["overcount"] >= 0, r
        assert r["est_count"] >= r["true_count"]


@pytest.mark.slow
def test_cms_exact_when_width_dominates_vocab(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")], "doc_id long, text string"
    )
    counters = count_min_build(df, depth=4, width=4096)
    out = {
        r["token"]: r
        for r in count_min_estimate(
            df, ["alpha", "beta", "gamma", "delta"], counters
        ).collect()
    }
    assert out["alpha"]["est_count"] == 2 and out["alpha"]["overcount"] == 0
    assert out["beta"]["est_count"] == 2
    assert out["gamma"]["est_count"] == 1
    assert out["delta"]["est_count"] == 0 and out["delta"]["true_count"] == 0


def test_hll_estimate_within_bound_and_deterministic(spark):
    """10k sequential ids (the adversarial case for a linear fold — the
    scramble rounds exist for exactly this input) estimate within the 3σ
    band, and two runs produce identical rows (order-independent exact
    integer denominator)."""
    df = spark.range(10_000).select(
        (F.col("id") % 2).cast("string").alias("g"), F.col("id").alias("k")
    )
    out1 = {r["g"]: r for r in hll_distinct(df, "k", ["g"], p=8).collect()}
    out2 = {r["g"]: r for r in hll_distinct(df, "k", ["g"], p=8).collect()}
    for g in ("0", "1"):
        r = out1[g]
        assert r["exact_distinct"] == 5_000
        assert r["within_bound"], r
        assert r["rel_err_pct"] <= 19.5
        assert out2[g] == r


def test_hll_shard_sketches_merge_by_register_max(spark):
    """Register tables built on disjoint shards merge by bucket-wise max
    into exactly the whole-corpus register table — the tree-of-maxes
    100 TB shape (shards overlap in keys here, which max absorbs)."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        hll_register_table,
    )

    df = spark.range(4_000).select(
        F.lit("all").alias("g"), F.col("id").alias("k")
    )
    whole = {
        (r["bucket"],): r["mj"]
        for r in hll_register_table(df, "k", ["g"], p=6).collect()
    }
    a = hll_register_table(df.filter("k < 2500"), "k", ["g"], p=6)
    b = hll_register_table(df.filter("k >= 2000"), "k", ["g"], p=6)
    merged = {
        (r["bucket"],): r["mj"]
        for r in a.unionByName(b)
        .groupBy("g", "bucket")
        .agg(F.max("mj").alias("mj"))
        .collect()
    }
    assert merged == whole


def test_hll_set_ops_identical_and_disjoint(spark):
    """Identical sets: union registers == each set's registers, so
    est_union == est_a exactly. Disjoint sets: exact_intersection is 0 and
    the estimated intersection is small relative to the set sizes."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        hll_set_report,
    )

    same = spark.range(3_000).select(F.col("id").alias("k"))
    r = hll_set_report(same, same, "k", p=8).collect()[0]
    assert r["est_union"] == r["est_a"] == r["est_b"]
    assert r["exact_intersection"] == 3_000

    a = spark.range(3_000).select(F.col("id").alias("k"))
    b = spark.range(3_000).select((F.col("id") + 1_000_000).alias("k"))
    r = hll_set_report(a, b, "k", p=8).collect()[0]
    assert r["exact_intersection"] == 0
    assert abs(r["est_intersection"]) < 0.25 * 3_000
    assert r["union_within_bound"]


def test_hll_set_ops_empty_sets(spark):
    """Empty inputs: absent register tables estimate 0 (the all-zero-
    register value), the gate is vacuously true, and nothing raises under
    ANSI division rules."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        hll_set_report,
    )

    empty = spark.range(0).select(F.col("id").alias("k"))
    some = spark.range(100).select(F.col("id").alias("k"))
    r = hll_set_report(empty, empty, "k", p=6).collect()[0]
    assert r["est_a"] == r["est_b"] == r["est_union"] == 0.0
    assert r["exact_union"] == 0 and r["union_within_bound"]
    r = hll_set_report(some, empty, "k", p=6).collect()[0]
    assert r["est_b"] == 0.0 and r["exact_b"] == 0
    assert r["est_union"] == r["est_a"]


def test_bloom_no_false_negatives_and_detects_misses(spark):
    """Every dim key passes its own filter (the structural Bloom
    guarantee), and with a roomy bit array non-members are rejected."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        bloom_prefilter_report,
    )

    dim = spark.range(20).select((F.col("id") * 7).alias("k"))
    fact = spark.range(500).select(F.col("id").alias("k"))
    r = bloom_prefilter_report(
        fact, dim, "k", "k", m_bits=4096, k=4
    ).collect()[0]
    assert r["no_false_negatives"]
    # dim keys 0,7,...,133 all fall inside the 0..499 fact range
    assert r["n_true_match"] == 20
    assert r["n_bloom_pass"] >= 20
    # 80 hash positions in 4096 bits: fp rate should be well under 1%
    assert r["false_positive_rate"] < 0.01


def test_bloom_shard_filters_merge_by_bitwise_or(spark):
    """Filters built over disjoint key shards OR together into exactly the
    whole-set filter — the shard-parallel build shape."""
    from iatlas_cbioportal_export_spark.operators.sketch import bloom_build

    df = spark.range(300).select(F.col("id").alias("k"))
    whole = bloom_build(df, "k", m_bits=512, k=3)
    a = bloom_build(df.filter("k < 150"), "k", m_bits=512, k=3)
    b = bloom_build(df.filter("k >= 150"), "k", m_bits=512, k=3)

    def _u(w):  # signed word -> unsigned for OR comparison
        return w + (1 << 64) if w < 0 else w

    merged = [_u(x) | _u(y) for x, y in zip(a, b)]
    assert merged == [_u(w) for w in whole]


def test_cms_shard_sketches_merge_by_addition(spark):
    rows = [(i, f"w{i % 5} w{i % 3} common") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    whole = count_min_build(df, depth=2, width=32)
    a = count_min_build(df.filter("doc_id % 2 = 0"), depth=2, width=32)
    b = count_min_build(df.filter("doc_id % 2 = 1"), depth=2, width=32)
    merged = [
        [x + y for x, y in zip(ra, rb)] for ra, rb in zip(a, b)
    ]
    assert merged == whole


def test_bloom_and_hll_ignore_null_keys(spark):
    """NULL keys carry no join/distinct information: bloom_build must not
    TypeError on a NULL position row, and the HLL register table must not
    mint a NULL-bucket register that inflates used_registers."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        bloom_build,
        hll_distinct,
        hll_register_table,
    )

    dim = spark.createDataFrame(
        [("k1",), ("k2",), (None,)], "key string"
    )
    words = bloom_build(dim, "key", m_bits=128, k=3)
    assert any(w != 0 for w in words)
    words_no_null = bloom_build(dim.filter("key is not null"), "key", m_bits=128, k=3)
    assert words == words_no_null

    regs = hll_register_table(dim, "key", group_cols=[], p=4)
    regs_no_null = hll_register_table(
        dim.filter("key is not null"), "key", group_cols=[], p=4
    )
    assert sorted(map(tuple, regs.collect())) == sorted(
        map(tuple, regs_no_null.collect())
    )
    est = hll_distinct(dim, "key", group_cols=[], p=4).collect()[0]
    est_clean = hll_distinct(
        dim.filter("key is not null"), "key", group_cols=[], p=4
    ).collect()[0]
    assert tuple(est) == tuple(est_clean)


def test_misra_gries_contract(spark):
    """MG summary: <= k items, never overcounts, undercounts by <= n/(k+1);
    the gate finds every true heavy hitter with both booleans TRUE."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        heavy_hitters_gate,
        misra_gries_summary,
    )

    # 3 heavy items + 200 singletons; n = 300+150+90+200 = 740, k=9 ->
    # threshold 74: heavy = {a: 300, b: 150, c: 90}.
    data = (
        [("a",)] * 300 + [("b",)] * 150 + [("c",)] * 90
        + [(f"x{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(data, "item string").repartition(8)
    n, k = 740, 9
    summ = {r["item"]: r["est"] for r in misra_gries_summary(df, "item", k).collect()}
    assert len(summ) <= k
    exact = {"a": 300, "b": 150, "c": 90}
    for item, est in summ.items():
        f = exact.get(item, 1)
        assert est <= f, (item, est, f)
        assert f - est <= n / (k + 1)

    gate = heavy_hitters_gate(df, "item", k).collect()
    assert [r["item"] for r in gate] == ["a", "b", "c"]
    assert all(r["found_by_sketch"] and r["within_bound"] for r in gate)


def test_misra_gries_skips_nulls(spark):
    from iatlas_cbioportal_export_spark.operators.sketch import (
        misra_gries_summary,
    )

    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), ("b",)], "item string"
    )
    summ = {r["item"]: r["est"] for r in misra_gries_summary(df, "item", 4).collect()}
    assert None not in summ and summ["a"] == 2


def test_bitmap_distinct_exact_and_mergeable(spark):
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.sketch import (
        bitmap_distinct,
    )

    df = spark.createDataFrame(
        [(g, k) for g in ("a", "b") for k in [0, 1, 63, 64, 65, 1000, 1000]]
        + [("a", None)],
        "g string, k long",
    )
    out = {r["g"]: r["distinct_exact"] for r in bitmap_distinct(df, "k", ["g"]).collect()}
    assert out == {"a": 6, "b": 6}

    # shard merge: OR of word masks == whole-corpus bitmap
    s1 = spark.range(0, 500).selectExpr("id AS k")
    s2 = spark.range(250, 800).selectExpr("id AS k")
    whole = bitmap_distinct(s1.union(s2), "k").collect()[0]["distinct_exact"]
    assert whole == 800


def test_rank_quantile_gate_contract_and_exactness(spark):
    from iatlas_cbioportal_export_spark.operators.sketch import (
        rank_sample_quantile_gate,
    )
    from pyspark.sql import functions as F

    # 0..9999 shuffled across partitions: the estimate's exact rank must
    # land in [target, target + 2·slack) for every quantile.
    df = spark.range(10000).select(
        ((F.col("id") * 7919) % 10000).alias("x")
    ).repartition(8)
    out = rank_sample_quantile_gate(df, "x")
    rows = {r["quantile"]: r for r in out.collect()}
    assert all(r["within_bound"] for r in rows.values())
    assert rows[0.5]["n"] == 10000 and rows[0.5]["target_rank"] == 5000
    assert rows[0.99]["target_rank"] == 9900


def test_rank_quantile_gate_small_and_degenerate(spark):
    from iatlas_cbioportal_export_spark.operators.sketch import (
        rank_sample_quantile_gate,
    )
    from pyspark.sql import functions as F

    # n < B: every element is its own block, slack = #batches, exact result
    tiny = spark.createDataFrame([(v,) for v in range(10)], "x long")
    rows = rank_sample_quantile_gate(tiny, "x").collect()
    assert all(r["within_bound"] and r["n"] == 10 for r in rows)
    # all-equal values: any estimate has full rank n ≥ target
    const = spark.range(5000).select(F.lit(42).alias("x"))
    rows = rank_sample_quantile_gate(const, "x").collect()
    assert all(r["within_bound"] for r in rows)


def test_rank_quantile_gate_empty(spark):
    from iatlas_cbioportal_export_spark.operators.sketch import (
        rank_sample_quantile_gate,
    )

    empty = spark.createDataFrame([], "x long")
    rows = rank_sample_quantile_gate(empty, "x").collect()
    assert [r["within_bound"] for r in rows] == [True, True, True]
    assert all(r["n"] == 0 for r in rows)


def test_kmv_distinct_exact_below_k_and_accurate_above(spark):
    from iatlas_cbioportal_export_spark.operators.sketch import kmv_distinct

    df = spark.range(0, 12_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 50)   # g=0: 50 distinct
        .otherwise(F.col("id"))                          # g=1,2: 4000 each
        .alias("k"),
    )
    out = {r["g"]: r for r in kmv_distinct(df, "k", k=256, group_cols=["g"]).collect()}
    # below k: sketch is exact
    assert out["0"]["est_distinct"] == out["0"]["n_hashes_kept"]
    assert out["0"]["est_distinct"] == 50
    # above k: bottom-256 estimate within ~4 sigma (sigma ≈ 1/sqrt(k) ≈ 6%)
    for g in ("1", "2"):
        est, true = out[g]["est_distinct"], 4000
        assert abs(est - true) / true < 0.25, (g, est)
        assert out[g]["n_hashes_kept"] == 256


def test_kmv_distinct_partitioning_invariant(spark):
    from iatlas_cbioportal_export_spark.operators.sketch import kmv_distinct

    df = spark.range(0, 3000).select(F.col("id").alias("k"))
    a = kmv_distinct(df, "k", k=64).collect()[0]
    b = kmv_distinct(df.repartition(17), "k", k=64).collect()[0]
    assert (a["kth_min"], a["est_distinct"]) == (b["kth_min"], b["est_distinct"])
