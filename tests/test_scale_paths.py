"""Scale-path operators: bucketed co-located joins (no Exchange) and salted
skew joins (same result, redistributed shuffle)."""

import pyspark.sql.functions as F

from iatlas_cbioportal_export_spark.operators.joins import salted_join
from iatlas_cbioportal_export_spark.sources.bucketing import write_bucketed


def _physical_plan(df) -> str:
    qe = df._jdf.queryExecution()
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    return qe.explainString(jmode)


def test_bucketed_join_has_no_exchange(spark):
    # tables land in ./spark-warehouse (gitignored); dropped in finally
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("b")
    )
    write_bucketed(left, "t_left", ["k"], 8, ["k"])
    write_bucketed(right, "t_right", ["k"], 8, ["k"])
    # disable broadcast so the join would otherwise need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_left").join(spark.table("t_right"), on="k")
        plan = _physical_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")


def test_salted_join_equals_plain_join(spark):
    # skewed fact: 90% of rows share key 0
    fact = spark.range(0, 1000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    plain = fact.join(dim, on="k").select("k", "payload", "v")
    salted = salted_join(fact, dim, on="k").select("k", "payload", "v")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    assert salted.count() == plain.count() > 0


def test_write_partitioned_datasets(spark, tmp_path):
    import os

    from iatlas_cbioportal_export_spark.sources.sinks import (
        write_partitioned_datasets,
    )

    df = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 3)], "Dataset string, x int"
    )
    out = str(tmp_path / "datasets")
    write_partitioned_datasets(df, out)
    dirs = {d for d in os.listdir(out) if d.startswith("Dataset=")}
    assert dirs == {"Dataset=A", "Dataset=B"}
    back = spark.read.parquet(out)
    assert back.filter("Dataset = 'A'").count() == 2
    assert back.filter("Dataset = 'B'").count() == 1


def test_salted_join_rejects_outer_modes(spark):
    import pytest

    fact = spark.createDataFrame([(1, "x")], "k long, payload string")
    dim = spark.createDataFrame([(1, "d")], "k long, v string")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="inner.*left"):
            salted_join(fact, dim, on="k", how=how)
