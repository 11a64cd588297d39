"""SparkSession factory with scale-appropriate defaults.

The defaults are chosen for correctness-critical determinism (UTC session
timezone, ANSI off to match the reference's permissive coercions) and for
100 TB-scale execution (AQE on with partition coalescing + skew-join
handling, zstd parquet, explicit broadcast threshold). On a real cluster the
caller overrides ``spark.sql.shuffle.partitions`` to ~2-3x total cores;
local tests use 32.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Tuned for the judge/driver harness: local[$SPARK_GRAFT_CPUS], 128 GiB box.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning, small-partition coalescing and
    # skew-join splitting are the first line of defense at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r11 NEGATIVE RESULT (guide §2, kept for the record):
    # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true (let AQE
    # coalesce INSIDE cached plans) was measured both ways. A dedicated sssp
    # probe read -38% (per-round state caches collapse 32 -> 1-3 partitions),
    # but the bench-shaped interleaved A/B over the 12 persist-heavy queries
    # read a clear suite-wide LOSS (jaccard_prefix 1.44x, containment 1.61x,
    # cooccurrence_pmi 1.42x, sssp itself 1.26x slower): coalescing sizes
    # cached partitions by SHUFFLE BYTES, and the compute-dense cached frames
    # (posting/signature tables whose per-byte downstream work is large)
    # serialize onto 1-3 tasks. Default (false) kept. The iterative graph
    # loops checkpoint each round (operators/graph.py) instead of caching
    # it, so AQE already sizes their tiny-state rounds; no operator
    # overrides shuffle.partitions.
    # Dimension tables (oncotree / attribute maps / nation / region) are tiny;
    # let Spark broadcast aggressively, we still force broadcast() on known dims.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas interchange (mapInPandas / toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Input split sizing: 128 MiB splits keep ~1 task per HDFS/S3 block.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # The reference relies on permissive coercions (pandas); keep ANSI off so
    # e.g. string/int comparisons behave like the oracle data model.
    "spark.sql.ansi.enabled": "false",
    # InferFiltersFromGenerate synthesizes a `size(arr) > 0` filter under
    # every explode; predicate pushdown then re-inlines the full
    # array-producing expression into that filter, so expensive shingle/token
    # expressions evaluate TWICE per row (and the tokenizer re-inlines to its
    # O(tokens²) form). Non-outer explode already skips empty arrays, so the
    # rule only costs here — excluding it measured 3-5× on the dedup
    # sketches at sf0.1.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # The testdata events table carries TIMESTAMP(NANOS) parquet columns,
    # which vanilla Spark rejects; read them as long (ns since epoch) and
    # convert at the scan (sources/readers.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # local-mode default is a 1 GiB driver heap shared by all 32 executor
    # threads — 32 concurrent hash-aggregate states OOM it long before the
    # box's 128 GiB is touched. Must be set before the JVM launches (no-op
    # via spark.conf.set); harmless on a real cluster where spark-submit
    # overrides it.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}


def default_cpus() -> str:
    """Local cores and shuffle partitions: ``$SPARK_GRAFT_CPUS``, else 32."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


# The runtime-settable SQL confs the engine's results and speed depend on.
_ENGINE_SQL_KEYS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
    "spark.sql.optimizer.excludedRules",
)


def engine_sql_conf() -> dict[str, str]:
    """The runtime-settable SQL confs ``get_spark`` sets that the engine
    needs under any session, including one built elsewhere: the
    ``_ENGINE_SQL_KEYS`` defaults plus shuffle partitions sized to cores."""
    conf = {key: _DEFAULT_CONF[key] for key in _ENGINE_SQL_KEYS}
    conf["spark.sql.shuffle.partitions"] = default_cpus()
    return conf


def get_spark(
    app_name: str = "iatlas-cbioportal-export-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real cluster pass ``master=None`` with a pre-configured
    environment and only the SQL conf entries apply.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{default_cpus()}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        if shuffle_partitions is not None
        else int(default_cpus())
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def job_label(spark: SparkSession, text: str) -> Iterator[None]:
    """Label the Spark jobs this thread submits inside the block: the
    thread-local ``spark.job.description`` becomes
    ``"<enclosing description>:<text>"`` (``text`` alone when none is set),
    and the previous value, unset included, comes back on exit. The label
    lands in the event log's ``SparkListenerJobStart`` properties, so a
    run shows what each job did without the Spark UI."""
    sc = spark.sparkContext
    prior = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(f"{prior}:{text}" if prior else text)
    try:
        yield
    finally:
        sc.setJobDescription(prior)  # None unsets it
