"""Bucketed tables: an equi-join of two tables bucketed on its key plans
with no exchange."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def no_broadcast(spark):
    # simulate the fact-fact case bucketing exists for: with both sides
    # small enough to broadcast, the planner (correctly) prefers broadcast
    # and ignores bucketing, so pin it off for the plan assertions
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_snapshot_diff_over_bucketed_snapshots_no_exchange(
    spark, no_broadcast
):
    """snapshot_diff's full-outer join rides bucketing like any equi-join:
    two snapshots bucketed on the key diff with ZERO exchanges (the claim
    in the operator docstring, proven on the plan)."""
    from iatlas_cbioportal_export_spark.operators.joins import snapshot_diff

    old = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 10).cast("double").alias("v")
    )
    new = old.filter(F.col("k") % 7 != 0).withColumn(
        "v", F.when(F.col("k") % 11 == 0, F.col("v") + 1.0).otherwise(F.col("v"))
    )
    for df, table in ((old, "t_snap_old"), (new, "t_snap_new")):
        df.write.format("parquet").mode("overwrite").bucketBy(4, "k").sortBy(
            "k"
        ).saveAsTable(table)
    try:
        diff = snapshot_diff(
            spark.table("t_snap_old"), spark.table("t_snap_new"), ["k"]
        )
        assert "Exchange" not in diff._jdf.queryExecution().executedPlan().toString()
        out = {r["k"]: r["change_type"] for r in diff.collect()}
        assert all(k % 7 == 0 for k, c in out.items() if c == "removed")
        assert sum(1 for c in out.values() if c == "removed") == 143
        assert sum(1 for c in out.values() if c == "changed") == 78
    finally:
        spark.sql("DROP TABLE IF EXISTS t_snap_old")
        spark.sql("DROP TABLE IF EXISTS t_snap_new")
