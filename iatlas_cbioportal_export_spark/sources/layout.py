"""Z-order (Morton-curve) data layout: multi-dimensional clustering so
file-level min/max statistics prune scans on EVERY layout dimension, not
just the leading sort key (north star scale path; the technique behind
Delta/Iceberg ``ZORDER BY``).

A linear sort on (x, y) gives perfect pruning on x and none on y: each
file spans the full y range. Interleaving the bits of x and y into one
Morton value and range-partitioning + sorting on it bounds BOTH spans per
file — a point query or range predicate on either column then skips most
files on parquet footer stats alone, before any row is read. At 100 TB
this is the difference between scanning a partition and scanning the lake.

:func:`z_order_value` is a NARROW expression over bounded integer ranks;
the writers here pay their one shuffle once, at write time.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def list_data_files(spark, path: str) -> list[tuple[str, int]]:
    """(name, bytes) of the data files under a table directory — a pure
    NameNode/driver metadata listing (no data read), the input every
    compaction decision needs. Hidden/marker files (``_SUCCESS``, ``.crc``)
    are excluded."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: list[tuple[str, int]] = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append((name, int(st.getLen())))
    return sorted(out)


def plan_compaction(
    spark, path: str, target_file_bytes: int
) -> dict[str, int]:
    """Size-targeted compaction plan from file metadata alone:
    ``n_target = ceil(total_bytes / target_file_bytes)`` (≥ 1). Returns
    ``{"n_files", "total_bytes", "n_target"}``. Planning cost is one
    directory listing — independent of data volume, so the decision scales
    to a 100 TB table the same as to a test fixture."""
    files = list_data_files(spark, path)
    total = sum(b for _, b in files)
    n_target = max(1, -(-total // int(target_file_bytes)))
    return {"n_files": len(files), "total_bytes": total, "n_target": n_target}


def compact_small_files(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction: rewrite a parquet directory as
    ``ceil(total_bytes / target)`` files (the metadata-pressure killer for
    long-running ingestion pipelines — a 100 TB table accreted in per-batch
    dribbles ends up as millions of KB-files whose listing/footer overhead
    dominates every scan).

    ``repartition(n)`` is one round-robin exchange, paid once at write
    time, yielding uniformly-sized output files regardless of input skew
    (``coalesce(n)`` would glue input splits and inherit their skew).

    Returns the plan dict plus ``n_output_files`` (post-write listing).
    """
    plan = plan_compaction(spark, in_path, target_file_bytes)
    df = spark.read.parquet(in_path)
    n = plan["n_target"]
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    plan["n_output_files"] = len(list_data_files(spark, out_path))
    return plan


def z_order_value(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Morton value of N non-negative integer columns: bit i of column c
    lands at output bit ``i*N + c``. Inputs must already be bounded ranks in
    ``[0, 2^bits)`` — callers min-max-rank raw values first (the same
    driver-literal range pattern as ``similarity.corpus_dim_ranges``);
    values are masked to ``bits`` so an out-of-range rank degrades to
    wraparound rather than corrupting neighbors' bits.

    Pure codegen'd expression: a fold over bit positions of shifts and ORs —
    no UDF, no shuffle, N·bits static ops (N=2, bits=16 → 32 ops).
    """
    ncols = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(ncols)
    z = F.lit(0).cast("long")
    for ci, c in enumerate(ncols):
        masked = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(masked, i).bitwiseAND(F.lit(1)), i * n + ci
                )
            )
    return z


def write_bucket_clustered(
    df: DataFrame, path: str, key_col: str, bucket_width: int
) -> None:
    """Write ``df`` partitioned by the deterministic key bucket
    ``floor(key / bucket_width)`` — single-dimension clustering whose
    file→key-range assignment is a pure function of the data (unlike
    ``repartitionByRange``, whose sampled bounds vary run to run), so zone
    maps built from the layout are engine-reproducible. The write is ONE
    shuffle on the bucket column; each partition directory then covers a
    disjoint, known key interval."""
    bucket = (F.floor(F.col(key_col) / F.lit(int(bucket_width)))).cast("long")
    (
        df.withColumn("zm_bucket", bucket)
        # one hash shuffle on the bucket BEFORE partitionBy: without it every
        # task writes a sliver into every bucket directory (tasks × buckets
        # small files — measured 6s vs 1.4s at sf0.1 for 300 buckets);
        # with it each directory gets one clustered file, which is also the
        # layout the zone map exists to produce
        .repartition("zm_bucket")
        .write.mode("overwrite")
        .partitionBy("zm_bucket")
        .parquet(path)
    )


def zone_map_pruning_report(
    spark,
    path: str,
    key_col: str,
    lo: int,
    hi: int,
) -> DataFrame:
    """Zone-map (min/max-statistics) data skipping, made checkable: per
    clustered bucket of a :func:`write_bucket_clustered` table, the zone map
    ``(zm_min, zm_max, n_rows)`` plus, for the range predicate
    ``key BETWEEN lo AND hi``:

    - ``pruned``          — the skipping decision ``zm_max < lo OR zm_min > hi``
                            (exactly what parquet footer stats let a scan skip);
    - ``qualifying_rows`` — the EXACT number of predicate rows in the bucket;
    - ``prune_safe``      — the structural guarantee ``pruned ⇒ qualifying_rows
                            = 0`` (a zone map may fail to prune, it must never
                            prune a bucket that contains matches).

    ONE map-side-combined scan computes the whole report; the output is
    |buckets| rows — KB-sized however large the table. At 100 TB the zone
    map IS the scan plan: ``rows`` under un-pruned buckets is what a
    predicate pushdown reads, everything else is skipped on metadata
    alone. (In production the same numbers come from parquet footers
    without any scan; deriving them from the data here makes the report an
    oracle-checkable statement about the physical layout.)"""
    data = spark.read.parquet(path)
    key = F.col(key_col)
    in_range = key.between(F.lit(int(lo)), F.lit(int(hi)))
    per = data.groupBy("zm_bucket").agg(
        F.min(key).alias("zm_min"),
        F.max(key).alias("zm_max"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(in_range, 1).otherwise(0)).alias("qualifying_rows"),
    )
    pruned = (F.col("zm_max") < F.lit(int(lo))) | (F.col("zm_min") > F.lit(int(hi)))
    return per.select(
        F.col("zm_bucket").cast("long").alias("zm_bucket"),
        "zm_min",
        "zm_max",
        "n_rows",
        pruned.alias("pruned"),
        "qualifying_rows",
        (~pruned | (F.col("qualifying_rows") == 0)).alias("prune_safe"),
    )
