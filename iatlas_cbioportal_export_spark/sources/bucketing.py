"""Bucketed tables: pre-shuffled storage for exchange-free joins and
aggregations (north star scale path).

At 100 TB the dominant cost of a fact-fact join is the shuffle. Bucketing
pays that shuffle ONCE at write time: both sides are hash-partitioned into
the same number of buckets on the join key and sorted within each bucket,
so every subsequent join/aggregation on that key is a zero-exchange
SortMergeJoin — each task reads bucket i of A and bucket i of B. The same
applies to repeated ``groupBy`` on the bucket key (no Exchange before the
final aggregate).

Spark's bucketing rides the session catalog (``saveAsTable``), not plain
``save``: bucket metadata lives in the metastore, which is what lets the
planner drop the Exchange. ``spark.sql.sources.bucketing.enabled`` is on by
default; ``spark.sql.sources.v2.bucketing.enabled`` extends this to v2
sources. Bucket-count mismatches between the two sides fall back to
shuffling the smaller-bucketed side (``spark.sql.bucketing
.coalesceBucketsInJoin.enabled``).

Rule of thumb for choosing ``num_buckets`` at scale: total size / target
bucket file size (128-512 MB compressed), rounded to a power of two so
future 2× re-bucketing can split files instead of reshuffling everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+ optionally sorted) catalog table.

    Sorting within buckets on the join key makes the downstream join a pure
    merge (no per-task sort); sorting on a secondary column instead serves
    bucket-pruned range scans.
    """
    writer = (
        df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key.

    With both sides bucketed identically this plans as a SortMergeJoin with
    NO Exchange on either side (assert via :func:`plan_has_no_exchange`) —
    the join cost collapses to a co-located per-bucket merge, the plan you
    want for repeated fact-fact joins at 100 TB.
    """
    return spark.table(left_table).join(spark.table(right_table), on=on, how="inner")


def plan_has_no_exchange(df: DataFrame) -> bool:
    """True when the physical plan contains no shuffle (Exchange) operator —
    the bucketing payoff check. (BroadcastExchange is also absent in a
    bucket-co-located SortMergeJoin, so a bare substring test is right.)"""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" not in plan
