"""Streaming sinks: exactly-once parquet output via ``foreachBatch``
(north star §6 streaming extension — the operational side of Structured
Streaming: checkpointed progress + idempotent writes = end-to-end
exactly-once even though ``foreachBatch`` itself is at-least-once).

The pattern: each micro-batch lands in a ``batch_id=N`` subdirectory with
``mode("overwrite")``. A replayed batch (failure between the write and the
checkpoint commit) overwrites its own directory instead of appending
duplicates; the checkpoint dir carries the read offsets, so a restarted
query resumes after the last committed batch. Readers see the union of the
batch directories as one partitioned dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def write_stream_idempotent(
    stream: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Start a ``foreachBatch`` parquet sink whose writes are idempotent
    under micro-batch replay (overwrite-by-batch-id). Returns the running
    query; callers ``awaitTermination()``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def read_stream_output(spark: SparkSession, path: str) -> DataFrame:
    """Read the idempotent sink's output back as one dataset (batch_id is a
    partition column; drop it unless auditing batch lineage)."""
    return spark.read.option("basePath", path).parquet(f"{path}/batch_id=*")


def topk_snapshot_stream(
    stream: DataFrame, state_dir: str, checkpoint_dir: str, key_col: str = "user_id"
) -> StreamingQuery:
    """Incrementally-maintained count materialization over a stream — the
    materialized-view-maintenance pattern: a streaming ``groupBy(key)``
    aggregation in UPDATE mode emits the new cumulative total for every
    key touched by a micro-batch, and ``foreachBatch`` upserts those rows
    into a versioned parquet snapshot (previous state anti-joined on the
    changed keys + the changed rows, written to ``batch_id=N``).

    Exactly-once without transactions: each batch writes a NEW state
    version keyed by batch_id (idempotent under micro-batch replay — a
    replayed batch rewrites its own version from the same previous
    version), and readers take the highest committed version. The
    anti-join is state-sized x changed-keys, never corpus-sized; the
    streaming agg itself carries the running totals in the state store.

    Local-fs listing suffices here; on a cluster the version listing goes
    through the Hadoop FS API (same contract). Read the live snapshot
    with :func:`read_topk_snapshot`.
    """
    import os

    counts = stream.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev_versions = (
            sorted(
                int(d.split("=")[1])
                for d in os.listdir(state_dir)
                if d.startswith("batch_id=") and int(d.split("=")[1]) < batch_id
            )
            if os.path.isdir(state_dir)
            else []
        )
        changed = batch_df.select("key", "cnt")
        if prev_versions:
            prev = spark.read.parquet(
                f"{state_dir}/batch_id={prev_versions[-1]}"
            )
            merged = prev.join(changed, on="key", how="left_anti").unionByName(
                changed
            )
        else:
            merged = changed
        merged.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )

    writer = (
        counts.writeStream.foreachBatch(merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def read_topk_snapshot(
    spark: SparkSession, state_dir: str, k: int = 10
) -> DataFrame:
    """Top-k keys by count from the LATEST committed snapshot version of
    :func:`topk_snapshot_stream` (deterministic (cnt desc, key asc)
    tie-break; TakeOrderedAndProject, never a full sort)."""
    import os

    versions = sorted(
        int(d.split("=")[1])
        for d in os.listdir(state_dir)
        if d.startswith("batch_id=")
    )
    snap = spark.read.parquet(f"{state_dir}/batch_id={versions[-1]}")
    return snap.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(k)
