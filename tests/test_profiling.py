"""Key-skew profiling: exact integer statistics and the salting handoff."""

import pyspark.sql.functions as F

from iatlas_cbioportal_export_spark.operators.profiling import key_skew_report


def _df(spark, counts: dict[str, int]):
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "k string")


def test_skew_report_exact_values(spark):
    # 80 'hot' + 10 'a' + 10 'b' = 100 rows, 3 keys
    df = _df(spark, {"hot": 80, "a": 10, "b": 10})
    out = {
        r["key_value"]: r
        for r in key_skew_report(df, "k", top_k=3, num_partitions=4).collect()
    }
    hot = out["hot"]
    assert hot["cnt"] == 80
    assert hot["share_ppm"] == 800_000
    # 80 * 3 keys * 1000 / 100 = 2400: hot carries 2.4 keys' worth of rows
    assert hot["skew_x1000"] == 2400
    # ceil(80 * 4 / 100) = ceil(3.2) = 4 salt buckets
    assert hot["suggested_salt"] == 4
    assert hot["rank"] == 1
    assert out["a"]["suggested_salt"] == 1  # 10 rows < one uniform share
    assert out["a"]["rank"] == 2  # tie with 'b' broken by key asc
    assert out["b"]["rank"] == 3


def test_skew_report_uniform_keys_salt_one(spark):
    df = _df(spark, {c: 5 for c in "abcd"})
    rows = key_skew_report(df, "k", top_k=10, num_partitions=8).collect()
    assert len(rows) == 4
    assert all(r["suggested_salt"] <= 2 for r in rows)
    assert all(r["skew_x1000"] == 1000 for r in rows)


def test_skew_report_top_k_limits(spark):
    df = _df(spark, {f"k{i}": i + 1 for i in range(20)})
    rows = key_skew_report(df, "k", top_k=5).collect()
    assert [r["cnt"] for r in rows] == [20, 19, 18, 17, 16]
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]


def test_skew_report_exact_ceiling_boundary(spark):
    # cnt * P / total exactly integral: 50 * 4 / 100 = 2.0 -> ceil stays 2
    df = _df(spark, {"x": 50, "y": 25, "z": 25})
    out = {
        r["key_value"]: r["suggested_salt"]
        for r in key_skew_report(df, "k", top_k=3, num_partitions=4).collect()
    }
    assert out["x"] == 2
    assert out["y"] == 1


def test_skew_report_decimal_products_no_overflow(spark):
    """The share/skew/salt products are computed in DECIMAL(38,0): with
    BIGINT-scale counts (cnt ~ 4.6e18, beyond sqrt-overflow territory for
    cnt * n_keys * 1000) the report must return exact values, not wrap or
    raise ARITHMETIC_OVERFLOW under ANSI mode."""
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.profiling import (
        key_skew_report,
    )

    big = 4_600_000_000_000_000_000  # cnt * 2 keys * 1000 >> 2^63
    counts = spark.createDataFrame(
        [("hot", big), ("cold", big // 10)], "key_value string, cnt long"
    )
    # Drive the same arithmetic path through a pre-aggregated frame by
    # exploding is impossible at this magnitude — instead call the operator
    # on a tiny frame and separately pin the expression arithmetic.
    dcnt = "CAST(cnt AS DECIMAL(38,0))"
    row = (
        counts.crossJoin(
            F.broadcast(
                counts.agg(
                    F.sum("cnt").alias("__total"),
                    F.count(F.lit(1)).alias("__n_keys"),
                )
            )
        )
        .select(
            "key_value",
            F.expr(f"{dcnt} * 1000000 div __total").alias("share_ppm"),
            F.expr(f"{dcnt} * __n_keys * 1000 div __total").alias("skew_x1000"),
        )
        .filter(F.col("key_value") == "hot")
        .collect()[0]
    )
    total = big + big // 10
    assert row["share_ppm"] == big * 1_000_000 // total
    assert row["skew_x1000"] == big * 2 * 1000 // total

    # And the operator end-to-end still yields exact small-scale values.
    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2, "k string"
    )
    out = {r["key_value"]: r for r in key_skew_report(df, "k", top_k=2).collect()}
    assert out["a"]["skew_x1000"] == 6 * 2 * 1000 // 8
    assert out["a"]["share_ppm"] == 750000


def test_table_profile_stats_and_single_pass(spark):
    from iatlas_cbioportal_export_spark.operators.profiling import (
        table_profile,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "aa"),
            (2, 20.0, "bbbb"),
            (3, None, "aa"),
            (None, 30.0, None),
        ],
        "k long, v double, s string",
    )
    out = {r["col_name"]: r for r in table_profile(df).collect()}
    assert set(out) == {"k", "v", "s"}
    assert out["k"]["n_nulls"] == 1 and out["k"]["n_distinct"] == 3
    assert out["v"]["num_min"] == 10.0 and out["v"]["num_max"] == 30.0
    assert out["v"]["num_avg"] == 20.0
    assert out["s"]["str_min"] == "aa" and out["s"]["str_max"] == "bbbb"
    assert out["s"]["len_avg"] == round((2 + 4 + 2) / 3, 6)
    assert out["s"]["num_min"] is None and out["k"]["str_min"] is None
    # single pass: exactly one scan of the source in the plan
    plan = table_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1


def test_join_cardinality_report_exact_without_join(spark):
    from iatlas_cbioportal_export_spark.operators.profiling import (
        join_cardinality_report,
    )

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 3]], "k long"
    )
    right = spark.createDataFrame(
        [(k,) for k in [1, 1, 2, 2, 2, 9]], "k long"
    )
    r = join_cardinality_report(left, right, "k", "k").collect()[0]
    assert r["n_left"] == 5 and r["n_right"] == 6
    assert r["n_keys_left"] == 3 and r["n_keys_right"] == 3
    assert r["n_common_keys"] == 2
    # 3*2 (key 1) + 1*3 (key 2) = 9 — equals the real join size
    assert r["est_inner_rows"] == "9"
    real = left.join(right, on="k").count()
    assert real == 9
    assert r["max_key_product"] == "6" and r["hottest_key"] == "1"


def test_join_cardinality_report_disjoint_keys(spark):
    from iatlas_cbioportal_export_spark.operators.profiling import (
        join_cardinality_report,
    )

    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(3,)], "k long")
    r = join_cardinality_report(left, right, "k", "k").collect()[0]
    assert r["n_common_keys"] == 0 and r["est_inner_rows"] == "0"
    assert r["max_key_product"] is None and r["hottest_key"] is None
