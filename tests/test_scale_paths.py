"""Scale-path operators: salted skew joins (same result, redistributed
shuffle)."""

import pyspark.sql.functions as F

from iatlas_cbioportal_export_spark.operators.joins import salted_join


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


def test_salted_join_rejects_outer_modes(spark):
    import pytest

    fact = spark.createDataFrame([(1, "x")], "k long, payload string")
    dim = spark.createDataFrame([(1, "d")], "k long, v string")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="inner.*left"):
            salted_join(fact, dim, on="k", how=how)
