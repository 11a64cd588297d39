"""A1-A8 aggregation operators, incl. the keep-latest window and the
chunk-assignment ceiling-division boundary cases (reference
tests/test_maf.py:51-84)."""

import pyspark.sql.functions as F
import pytest

from iatlas_cbioportal_export_spark.operators.aggregates import (
    case_list_groups,
    chunk_assignment,
    drop_duplicates,
    duplicate_rows,
    keep_latest_by,
    null_profile,
)


def test_case_list_groups(spark):
    df = spark.createDataFrame(
        [("Melanoma", "s1"), ("Melanoma", "s2"), ("Lung", "s3")],
        "CANCER_TYPE string, SAMPLE_ID string",
    )
    out = {r["CANCER_TYPE"]: r for r in case_list_groups(df).collect()}
    assert out["Melanoma"]["sample_ids"] == ["s1", "s2"]
    assert out["Melanoma"]["n_samples"] == 2
    assert out["Melanoma"]["sample_ids_tsv"] == "s1\ts2"
    assert out["Lung"]["n_samples"] == 1


def test_null_profile(spark):
    df = spark.createDataFrame(
        [("a", None, None), ("b", 1.0, None)], "x string, y double, z double"
    )
    prof = {r["column_name"]: r for r in null_profile(df).collect()}
    assert prof["x"]["n_null"] == 0 and not prof["x"]["all_null"]
    assert prof["y"]["n_null"] == 1 and not prof["y"]["all_null"]
    assert prof["z"]["n_null"] == 2 and prof["z"]["all_null"]


def test_duplicate_rows_whole_and_keyed(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 3)], "k string, v long"
    )
    whole = duplicate_rows(df).collect()
    assert len(whole) == 1 and whole[0]["k"] == "a" and whole[0]["n_occurrences"] == 2
    keyed = duplicate_rows(df, subset=["k"]).collect()
    assert len(keyed) == 1 and keyed[0]["n_occurrences"] == 3


def test_drop_duplicates(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    assert drop_duplicates(df).count() == 2


def test_keep_latest_by(spark):
    df = spark.createDataFrame(
        [(1, 10, "2024-01-01"), (1, 11, "2024-02-01"), (2, 20, "2024-01-15")],
        "user long, oid long, d string",
    )
    out = {r["user"]: r["oid"] for r in keep_latest_by(df, ["user"], ["d", "oid"]).collect()}
    assert out == {1: 11, 2: 20}


def test_chunk_assignment_boundaries(spark):
    # ceil-division chunk counts (reference tests/test_maf.py:51-84:
    # 10/max5 -> 2; 0 -> 0; n=max -> 1; n=max+1 -> 2)
    def n_chunks(n, max_rows):
        if n == 0:
            return 0
        df = spark.range(n).withColumnRenamed("id", "k")
        out = chunk_assignment(df, "k", max_rows=max_rows)
        return out.select(F.countDistinct("chunk_id")).collect()[0][0]

    assert n_chunks(10, 5) == 2
    assert n_chunks(0, 5) == 0
    assert n_chunks(5, 5) == 1
    assert n_chunks(6, 5) == 2


def test_merge_rollup_equals_full_recompute(spark):
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.aggregates import merge_rollup

    events = spark.createDataFrame(
        [(d, t, v) for d in ("d1", "d2") for t, v in
         [("click", 1.0), ("view", 2.0), ("click", 3.0)]],
        "day string, event_type string, value double",
    )
    old = events.filter(F.col("value") < 3.0)
    new = events.filter(F.col("value") >= 3.0)

    def rollup(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("value_sum"),
        )

    merged = merge_rollup(
        rollup(old), rollup(new), ["day", "event_type"], ["n", "value_sum"]
    )
    full = rollup(events)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_merge_rollup_dynamic_partition_overwrite(spark, tmp_path):
    """Write-side: with dynamic partitionOverwriteMode, merging a delta that
    touches ONE day rewrites only that day's partition directory."""
    import os
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.aggregates import merge_rollup

    path = str(tmp_path / "rollup")
    base = spark.createDataFrame(
        [("d1", 5, 10.0), ("d2", 3, 6.0)], "day string, n long, value_sum double"
    )
    base.write.partitionBy("day").parquet(path)
    d2_files_before = set(os.listdir(f"{path}/day=d2"))

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        delta = spark.createDataFrame([("d1", 2, 4.0)], "day string, n long, value_sum double")
        existing_d1 = spark.read.parquet(path).filter(F.col("day") == "d1")
        merged = merge_rollup(existing_d1, delta, ["day"], ["n", "value_sum"])
        merged.select("n", "value_sum", "day").write.mode("overwrite").partitionBy(
            "day"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    out = {r["day"]: (r["n"], r["value_sum"])
           for r in spark.read.parquet(path).collect()}
    assert out == {"d1": (7, 14.0), "d2": (3, 6.0)}
    # d2's partition directory was not rewritten
    assert set(os.listdir(f"{path}/day=d2")) == d2_files_before


def test_scd2_history_versions_and_intervals(spark):
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.aggregates import scd2_history

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "bronze"),
            (1, "2024-01-02 00:00:00", "bronze"),   # same value: collapses
            (1, "2024-01-03 00:00:00", "silver"),
            (1, "2024-01-05 00:00:00", "gold"),
            (2, "2024-01-01 00:00:00", "bronze"),
        ],
        "user_id long, ts string, tier string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(r["user_id"], r["version"]): r
           for r in scd2_history(events, "user_id", "ts", "tier").collect()}
    assert len(out) == 4  # 3 versions for user 1, 1 for user 2
    v1 = out[(1, 1)]
    assert v1["tier"] == "bronze" and str(v1["valid_to"]) == "2024-01-03 00:00:00"
    v3 = out[(1, 3)]
    assert v3["tier"] == "gold" and v3["valid_to"] is None
    assert out[(2, 1)]["valid_to"] is None


def test_scd2_point_in_time_lookup(spark):
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.aggregates import scd2_history

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (1, "2024-01-10 00:00:00", "b")],
        "k long, ts string, v string",
    ).withColumn("ts", F.to_timestamp("ts"))
    hist = scd2_history(events, "k", "ts", "v")
    at = F.to_timestamp(F.lit("2024-01-05 00:00:00"))
    row = hist.filter(
        (F.col("valid_from") <= at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > at))
    ).collect()
    assert len(row) == 1 and row[0]["v"] == "a"


def test_pivot_wide_explicit_values_and_zero_fill(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import pivot_wide

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y")],
        "grp string, st string",
    )
    out = {r["grp"]: r for r in pivot_wide(df, "grp", "st", ["x", "y", "z"]).collect()}
    assert out["a"]["x"] == 2 and out["a"]["y"] == 1 and out["a"]["z"] == 0
    assert out["b"]["x"] == 0 and out["b"]["y"] == 1
    # unknown pivot values are not invented as rows/columns
    assert set(out["a"].asDict()) == {"grp", "x", "y", "z"}


def test_unpivot_long_roundtrips_columns(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import unpivot_long

    df = spark.createDataFrame([(1, 10, 2.5), (2, 20, 7.5)], "id long, a long, b double")
    out = unpivot_long(df, ["id"], ["a", "b"]).collect()
    got = {(r["id"], r["metric"]): r["value"] for r in out}
    assert got[(1, "a")] == 10.0 and got[(2, "b")] == 7.5
    assert len(out) == 4


def test_apply_changelog_upsert_delete_passthrough(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import apply_changelog

    snap = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    log = spark.createDataFrame(
        [
            (1, 1, "U", 11.0),   # update key 1
            (1, 2, "U", 12.0),   # later update wins
            (2, 1, "D", None),   # delete key 2
            (9, 1, "U", 90.0),   # insert new key 9
        ],
        "k long, seq long, op string, v double",
    )
    out = {r["k"]: r["v"] for r in apply_changelog(snap, log, ["k"], ["seq"]).collect()}
    assert out == {1: 12.0, 3: 30.0, 9: 90.0}


def test_apply_changelog_delete_then_reinsert_latest_wins(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import apply_changelog

    snap = spark.createDataFrame([(1, 1.0)], "k long, v double")
    log = spark.createDataFrame(
        [(1, 1, "D", None), (1, 2, "U", 5.0)], "k long, seq long, op string, v double"
    )
    out = apply_changelog(snap, log, ["k"], ["seq"]).collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, 5.0)]


def test_exact_order_statistic_small_domain(spark, monkeypatch):
    from iatlas_cbioportal_export_spark.operators import aggregates

    monkeypatch.setattr(aggregates, "_ORDER_STAT_BUCKETS", 4)
    vals = [5, 1, 9, 3, 3, 7, 2, 8, 6, 4]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    s = sorted(vals)
    for q in (0.1, 0.5, 0.9, 1.0):
        import math

        k = max(1, math.ceil(q * len(vals)))
        n, [(kk, v)] = aggregates.exact_order_statistics(df, "c", [q])
        assert (n, kk, v) == (len(vals), k, s[k - 1])


@pytest.mark.slow
def test_exact_order_statistic_duplicates_and_negatives(spark, monkeypatch):
    from iatlas_cbioportal_export_spark.operators import aggregates

    monkeypatch.setattr(aggregates, "_ORDER_STAT_BUCKETS", 8)
    vals = [-50, -50, -50, 0, 0, 1_000_000_000_000, 7]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    s = sorted(vals)
    import math

    for q in (0.25, 0.5, 0.99):
        k = max(1, math.ceil(q * len(vals)))
        _, [(_, v)] = aggregates.exact_order_statistics(df, "c", [q])
        assert v == s[k - 1], q


def test_equi_depth_buckets_quartiles(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        equi_depth_buckets,
    )

    df = spark.createDataFrame([(v,) for v in range(1, 101)], "c long")
    bounds, assigned = equi_depth_buckets(df, "c")
    assert bounds == [25, 50, 75]
    counts = {
        r["bucket"]: r["n"]
        for r in assigned.groupBy("bucket").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count(
                "*"
            ).alias("n")
        ).collect()
    }
    assert counts == {0: 25, 1: 25, 2: 25, 3: 25}


def test_chi_square_hand_computed_2x2(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        chi_square_independence,
    )

    # classic 2x2: O = [[10, 20], [20, 10]]; chi2 = N*(ad-bc)^2/(r1*r2*c1*c2)
    rows = (
        [("x", "u")] * 10 + [("x", "v")] * 20
        + [("y", "u")] * 20 + [("y", "v")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_independence(df, "a", "b").collect()[0]
    expect = 60 * (10 * 10 - 20 * 20) ** 2 / (30 * 30 * 30 * 30)
    assert (r["n"], r["dof"]) == (60, 1)
    assert abs(r["chi2"] - round(expect, 6)) < 1e-6


def test_chi_square_absent_cell_contributes_expected(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        chi_square_independence,
    )

    # cell (y, v) has zero observations but E = 2*2/4 = 1 -> contributes 1
    rows = [("x", "u"), ("x", "v"), ("y", "u"), ("y", "u")]
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_independence(df, "a", "b").collect()[0]
    # O=[[1,1],[2,0]]; E=[[1.5,0.5],[1.5,0.5]]
    expect = (0.25 / 1.5) + (0.25 / 0.5) + (0.25 / 1.5) + (0.25 / 0.5)
    assert abs(r["chi2"] - round(expect, 6)) < 1e-6


def test_grouped_linear_fit_exact_line(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_linear_fit,
    )

    # group a: exact line y=3x+7 (r2=1); group b: constant x (degenerate)
    rows = [("a", x, 3 * x + 7) for x in range(10)] + [
        ("b", 5, 1), ("b", 5, 9),
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r for r in grouped_linear_fit(df, "g", "x", "y").collect()}
    assert out["a"]["slope"] == 3.0
    assert out["a"]["intercept"] == 7.0
    assert out["a"]["r2"] == 1.0
    assert out["b"]["slope"] is None and out["b"]["r2"] is None


def test_psi_report_identical_and_shifted(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        psi_report,
    )

    ref = spark.createDataFrame([(v,) for v in range(1, 101)], "c long")
    # identical distributions -> every term 0
    out = psi_report(ref, ref, "c", [25, 50, 75]).collect()
    assert len(out) == 4
    assert all(r["psi_term"] == 0.0 for r in out)
    # fully shifted sample: everything lands in the last bin
    cur = spark.createDataFrame([(v,) for v in range(200, 300)], "c long")
    rows = {r["bucket"]: r for r in psi_report(ref, cur, "c", [25, 50, 75]).collect()}
    assert rows[3]["n_cur"] == 100 and rows[0]["n_cur"] == 0
    p, q = 26 / 104, 1 / 104
    assert abs(rows[0]["psi_term"] - round((p - q) * math.log(p / q), 9)) < 1e-9
    psi = sum(r["psi_term"] for r in rows.values())
    assert psi > 1.0  # drastic drift


def test_ks_two_sample_known_values(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        ks_two_sample,
    )

    # disjoint supports -> D = 1
    a = spark.createDataFrame([(v,) for v in (1, 2, 3)], "c long")
    b = spark.createDataFrame([(v,) for v in (10, 11)], "c long")
    r = ks_two_sample(a, b, "c").collect()[0]
    assert (r["n_a"], r["n_b"], r["d_stat"]) == (3, 2, 1.0)
    # identical samples -> D = 0
    r2 = ks_two_sample(a, a, "c").collect()[0]
    assert r2["d_stat"] == 0.0
    # hand case: a={1,2}, b={2,3}: D at v=1 is |1/2-0|=0.5
    a3 = spark.createDataFrame([(1,), (2,)], "c long")
    b3 = spark.createDataFrame([(2,), (3,)], "c long")
    assert ks_two_sample(a3, b3, "c").collect()[0]["d_stat"] == 0.5


def test_two_proportion_ztest_hand_computed(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        two_proportion_ztest,
    )

    # A: 3/4 convert; B: 1/4 convert
    rows = (
        [(i, "A", 1) for i in range(3)] + [(3, "A", 0)]
        + [(10, "B", 1)] + [(11 + i, "B", 0) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "uid long, bucket string, conv int")
    r = two_proportion_ztest(df, "uid", "bucket", "conv").collect()[0]
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) == (4, 3, 4, 1)
    p, q, pp = 0.75, 0.25, 0.5
    z = (p - q) / math.sqrt(pp * 0.5 * (0.25 + 0.25))
    assert r["z"] == round(z, 6)
    # identical buckets -> z == 0
    df2 = spark.createDataFrame(
        [(1, "A", 1), (2, "A", 0), (3, "B", 1), (4, "B", 0)],
        "uid long, bucket string, conv int",
    )
    assert two_proportion_ztest(df2, "uid", "bucket", "conv").collect()[0]["z"] == 0.0


def test_two_proportion_ztest_degenerate_yields_null(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        two_proportion_ztest,
    )

    # everyone converts -> pooled variance 0 -> z NULL (ANSI-safe)
    df = spark.createDataFrame(
        [(1, "A", 1), (2, "A", 1), (3, "B", 1)],
        "uid long, bucket string, conv int",
    )
    assert two_proportion_ztest(df, "uid", "bucket", "conv").collect()[0]["z"] is None


def test_correlation_matrix_known_values(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        correlation_matrix,
    )

    rows = [(x, 2 * x + 1, -x, 5) for x in range(10)]
    df = spark.createDataFrame(rows, "a long, b long, c long, d long")
    out = {
        (r["col_a"], r["col_b"]): r["pearson_r"]
        for r in correlation_matrix(df, ["a", "b", "c", "d"]).collect()
    }
    assert out[("a", "b")] == 1.0     # perfect positive
    assert out[("a", "c")] == -1.0    # perfect negative
    assert out[("a", "d")] is None    # constant column -> undefined
    assert len(out) == 6


def test_mad_outlier_profile(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        mad_outlier_profile,
    )

    # group a: values 1..9 plus a wild 1000 -> med=5 (rank 5 of 10),
    # deviations {4,3,2,1,0,1,2,3,4,995} -> mad = 2 (rank 5 of sorted
    # devs 0,1,1,2,2,3,3,4,4,995); outliers: |x-5| > 10 -> only 1000
    rows = [("a", v) for v in range(1, 10)] + [("a", 1000)]
    df = spark.createDataFrame(rows, "g string, x long")
    r = mad_outlier_profile(df, "g", "x", k=5).collect()[0]
    assert (r["n"], r["median"], r["mad"], r["n_outliers"]) == (10, 5, 2, 1)


def test_mutual_information_known_cases(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        mutual_information,
    )

    # perfectly dependent: B == A -> MI == H(A) == ln 2; NMI == 1
    dep = spark.createDataFrame(
        [("x", "u")] * 5 + [("y", "v")] * 5, "a string, b string"
    )
    r = mutual_information(dep, "a", "b").collect()[0]
    assert r["mi"] == round(math.log(2), 6)
    assert r["normalized_mi"] == 1.0
    # independent uniform 2x2 -> MI == 0
    ind = spark.createDataFrame(
        [("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")] * 3,
        "a string, b string",
    )
    r2 = mutual_information(ind, "a", "b").collect()[0]
    assert abs(r2["mi"]) < 1e-6


@pytest.mark.slow
def test_sketch_accuracy_report_bounds(spark):
    """Both sketches meet their published error bounds on a 50k-row column,
    and the report carries the exact statistics for oracle comparison."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        sketch_accuracy_report,
    )

    df = spark.range(50_000).selectExpr("id as k", "id % 1000 as v")
    rows = {r["stat"]: r for r in sketch_accuracy_report(df, "k", "v").collect()}
    assert rows["distinct_k"]["reference"] == 50_000
    assert rows["distinct_k"]["within_bound"] is True
    assert rows["p50_rank_v"]["reference"] == 50_000
    assert rows["p50_rank_v"]["within_bound"] is True


def test_global_running_sum_matches_single_partition_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        global_running_sum,
    )

    # keys straddle many buckets (width 10 over 0..999) with duplicates to
    # exercise RANGE tie semantics at and across bucket boundaries
    df = spark.range(2000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") % 7 + 1).alias("v")
    ).repartition(16)
    got = global_running_sum(df, "k", "v", bucket_width=10)
    want = df.withColumn(
        "running_v", F.sum("v").over(Window.orderBy("k"))
    )
    assert (
        got.select("k", "v", "running_v")
        .exceptAll(want.select("k", "v", "running_v"))
        .count()
        == 0
    )
    assert got.count() == want.count()


def test_global_running_sum_no_global_window_over_corpus(spark):
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        global_running_sum,
    )

    df = spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    out_df = global_running_sum(df, "k", "v", bucket_width=8)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    # r9: the ONLY window in the plan is the bucket-partitioned phase-1
    # window — phase 2 (bucket offsets) is a driver-side prefix sum stamped
    # back as a literal map, so there is NO no-partition window (the r8
    # partitionBy(lit(0)) was constant-folded away and still warned) and NO
    # offsets join at all.
    assert plan.count("Window") >= 1
    assert "partitionspec=[__b" in plan.lower().replace(" ", "") or "__b" in plan

    out = {r["k"]: r["running_v"] for r in out_df.collect()}
    assert out[0] == 1 and out[7] == 8 and out[8] == 9 and out[99] == 100


def test_global_running_sum_rejects_non_numeric_and_null_order(spark):
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        global_running_sum,
    )

    strings = spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v long"
    )
    with pytest.raises(TypeError, match="numeric order column"):
        global_running_sum(strings, "k", "v", bucket_width=8)

    with_null = spark.createDataFrame(
        [(1, 1), (None, 2), (3, 3)], "k long, v long"
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        global_running_sum(with_null, "k", "v", bucket_width=8).count()


def test_global_running_sum_empty(spark):
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        global_running_sum,
    )

    df = spark.range(0).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    assert global_running_sum(df, "k", "v", bucket_width=8).count() == 0


def test_global_running_sum_broadcast_join_path_above_4096_buckets(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.aggregates import (
        global_running_sum,
    )

    # width 1 over 0..4999 → 5000 buckets: above the 4096 literal-map cap,
    # below the 65536 offsets contract — exercises the broadcast-join path
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 5 + 1).alias("v")
    ).repartition(8)
    got = global_running_sum(df, "k", "v", bucket_width=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    want = df.withColumn("running_v", F.sum("v").over(Window.orderBy("k")))
    assert (
        got.select("k", "v", "running_v")
        .exceptAll(want.select("k", "v", "running_v"))
        .count()
        == 0
    )
    assert got.count() == want.count()


def test_multi_linear_fit_recovers_planted_plane(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_multi_linear_fit,
    )

    # exact plane y = 5 + 2*x1 - 3*x2 over a non-collinear integer grid
    rows = [
        ("g", x1, x2, 5 + 2 * x1 - 3 * x2)
        for x1 in range(6)
        for x2 in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
    out = grouped_multi_linear_fit(df, "g", "x1", "x2", "y").collect()[0]
    assert out["n"] == 30
    assert abs(out["b0"] - 5) < 1e-6
    assert abs(out["b1"] - 2) < 1e-9
    assert abs(out["b2"] + 3) < 1e-9
    assert out["r2"] == 1.0


def test_multi_linear_fit_collinear_returns_null(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_multi_linear_fit,
    )

    # x2 = 2*x1 exactly -> singular normal matrix -> NULL coefficients
    rows = [("g", x, 2 * x, 7 * x + 1) for x in range(10)]
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
    out = grouped_multi_linear_fit(df, "g", "x1", "x2", "y").collect()[0]
    assert out["b0"] is None and out["b1"] is None and out["r2"] is None


def test_grouped_auc_hand_case_with_ties(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_auc,
    )

    # scores: pos at 0.9, 0.5; neg at 0.5, 0.1
    # pairs: (0.9 vs 0.5)=1, (0.9 vs 0.1)=1, (0.5 vs 0.5)=0.5,
    # (0.5 vs 0.1)=1 -> AUC = 3.5/4 = 0.875
    df = spark.createDataFrame(
        [
            ("g", 0.9, True),
            ("g", 0.5, True),
            ("g", 0.5, False),
            ("g", 0.1, False),
        ],
        "grp string, score double, label boolean",
    )
    out = grouped_auc(df, "score", "label", "grp").collect()[0]
    assert out["n_pos"] == 2 and out["n_neg"] == 2
    assert out["auc"] == 0.875


def test_grouped_auc_perfect_and_degenerate(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_auc,
    )

    df = spark.createDataFrame(
        [
            ("perfect", 0.9, True),
            ("perfect", 0.8, True),
            ("perfect", 0.2, False),
            ("inverted", 0.1, True),
            ("inverted", 0.9, False),
            ("allpos", 0.5, True),
        ],
        "grp string, score double, label boolean",
    )
    out = {r["grp"]: r for r in grouped_auc(df, "score", "label", "grp").collect()}
    assert out["perfect"]["auc"] == 1.0
    assert out["inverted"]["auc"] == 0.0
    assert out["allpos"]["auc"] is None  # no negatives -> undefined


def test_winsorize_report_exact_bounds_and_sums(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        winsorize_report,
    )

    # values 1..100: p05 -> k=5 -> 5, p95 -> k=95 -> 95
    df = spark.createDataFrame([(i,) for i in range(1, 101)], "v long")
    r = winsorize_report(df, "v", 0.05, 0.95).collect()[0]
    assert (r["k_low"], r["low_value"]) == (5, 5)
    assert (r["k_high"], r["high_value"]) == (95, 95)
    assert r["n_clamped_low"] == 4 and r["n_clamped_high"] == 5
    # original sum 5050; winsorized: 1..4 -> 5 (+10), 96..100 -> 95 (-15)
    assert r["sum_original"] == "5050"
    assert r["sum_winsorized"] == str(5050 + 10 - 15)


def test_confusion_matrix_report_exact_counts(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        confusion_matrix_report,
    )

    rows = (
        [("en", "en")] * 6
        + [("en", "fr")] * 2      # fp for en, fn for fr
        + [("fr", "fr")] * 3
        + [("und", "de")] * 1     # 'de' never predicted, 'und' never actual
    )
    df = spark.createDataFrame(rows, "pred string, label string")
    out = {
        r["class"]: r
        for r in confusion_matrix_report(df, "pred", "label").collect()
    }
    en = out["en"]
    assert (en["tp"], en["fp"], en["fn"]) == (6, 2, 0)
    assert en["precision_ppm"] == 6 * 1_000_000 // 8
    assert en["recall_ppm"] == 1_000_000
    assert en["f1_ppm"] == 12 * 1_000_000 // 14
    fr = out["fr"]
    assert (fr["tp"], fr["fp"], fr["fn"]) == (3, 0, 2)
    de = out["de"]
    assert (de["tp"], de["fp"], de["fn"]) == (0, 0, 1)
    assert de["precision_ppm"] is None  # never predicted: 0/0 reported NULL
    assert de["recall_ppm"] == 0
    und = out["und"]
    assert (und["tp"], und["fp"], und["fn"]) == (0, 1, 0)
    assert und["recall_ppm"] is None


def test_reciprocal_rank_report(spark):
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        reciprocal_rank_report,
    )

    results = spark.createDataFrame(
        [
            (1, 10, 1), (1, 11, 2), (1, 12, 3),   # q1: first relevant at 3
            (2, 20, 1), (2, 21, 2),               # q2: relevant at 1
            (3, 30, 1), (3, 31, 2),               # q3: nothing relevant
        ],
        "query_id long, doc_id long, rank int",
    )
    relevance = spark.createDataFrame(
        [(1, 12), (1, 99), (2, 20), (3, 77)],
        "query_id long, doc_id long",
    )
    out = {r["query_id"]: r
           for r in reciprocal_rank_report(results, relevance).collect()}
    assert out[1]["first_rel_rank"] == 3 and out[1]["rr_ppm"] == 333_333
    assert out[2]["first_rel_rank"] == 1 and out[2]["rr_ppm"] == 1_000_000
    assert out[3]["first_rel_rank"] is None and out[3]["rr_ppm"] == 0
    # integral MRR over the report: sum DIV count
    mrr_ppm = sum(r["rr_ppm"] for r in out.values()) // len(out)
    assert mrr_ppm == (333_333 + 1_000_000 + 0) // 3


def test_exact_order_statistics_bucket_count_invariant(spark, monkeypatch):
    # r10 regression pin for the 65536-bucket default: the returned order
    # statistics are exact and therefore INDEPENDENT of the bucket count — the
    # default-width path must agree with tiny-bucket refinement (more
    # passes) and with the brute-force sort on every quantile.
    from iatlas_cbioportal_export_spark.operators import aggregates
    import math

    vals = [-7, 0, 0, 3, 3, 3, 12, 99, 100_000, 100_001, 2**40, 5]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    s = sorted(vals)
    qs = (0.05, 0.25, 0.5, 0.9, 1.0)
    n_default, res_default = aggregates.exact_order_statistics(df, "c", qs)
    monkeypatch.setattr(aggregates, "_ORDER_STAT_BUCKETS", 4)
    n_tiny, res_tiny = aggregates.exact_order_statistics(df, "c", qs)
    assert n_default == n_tiny == len(vals)
    assert res_default == res_tiny
    for q, (k, v) in zip(qs, res_default):
        assert k == max(1, math.ceil(q * len(vals)))
        assert v == s[k - 1]
