"""Sources: TSV / MAF / parquet scans (SURVEY.md §2.1 S1-S3).

Reference behavior being re-expressed (not copied):
- S1 Synapse TSV scan  -> header'd tab-separated read (reference:
  ``clinical.py:319-322`` uses ``pd.read_csv(sep="\\t")`` with inferred
  dtypes). :func:`read_tsv` infers its types when it gets no schema, as the
  reference does: a header job plus an inference job per file. The
  ``clinical`` and ``maf`` inputs are read so, because their inferred types
  reach the bundle bytes; ``validate`` and ``load`` read the bundle back
  with :func:`tsv_string_schema`, which runs no job.
- S2 multi-file MAF folder scan with ``comment="#"`` skip and outer column
  alignment (reference: ``maf.py:14-36``).
- S3 header-skipping re-read of cBioPortal clinical output (reference:
  ``clinical.py:798-808`` with ``skiprows=4``; the 4 header rows are
  ``#``-prefixed so a comment option expresses the same scan).

Scale notes: every reader returns a lazy DataFrame; globbed multi-file reads
parallelize across executors; column pruning and predicate pushdown reach the
scan because nothing is materialized here. The jobs a read does run itself
(csv header and inference, parquet footers) and every write are labelled
``read <name>`` / ``write <name>`` with ``session.job_label``.
"""

from __future__ import annotations

import csv
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from iatlas_cbioportal_export_spark.session import job_label

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    comment: str | None = None,
) -> DataFrame:
    """S1: tab-separated scan with header; explicit schema preferred.

    With ``schema=None`` we fall back to sampled inference (one extra pass) —
    acceptable for tiny dimension tables, wrong for 100 TB fact tables.
    """
    reader = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("nullValue", "")
        .option("emptyValue", "")
    )
    if comment:
        reader = reader.option("comment", comment)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    with job_label(spark, f"read {os.path.basename(path)}"):
        return reader.csv(path)


def tsv_string_schema(path: str, comment: str | None = None) -> StructType:
    """An all-string schema for the header'd TSV at ``path`` (a file, or a
    directory of part files as the csv source reads it), built on the
    driver from the first line that is neither empty nor a ``comment``
    line: :func:`read_tsv` with it runs no header or inference job.

    The names follow the csv source's header rules: an empty name becomes
    ``_c<i>`` and names repeated (case-insensitively) get their position
    appended."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
    header: list[str] = []
    for name in files:
        with open(name, newline="") as fh:
            lines = (ln for ln in fh if ln.strip("\r\n"))
            if comment:
                lines = (ln for ln in lines if not ln.startswith(comment))
            first = next(lines, None)
        if first is not None:
            header = next(csv.reader([first], delimiter="\t"))
            break
    repeats = Counter(c.lower() for c in header)
    return StructType(
        [
            StructField(
                f"_c{i}" if not c else f"{c}{i}" if repeats[c.lower()] > 1 else c,
                StringType(),
            )
            for i, c in enumerate(header)
        ]
    )


def read_maf_folder(spark: SparkSession, folder: str) -> DataFrame | None:
    """S2: scan ``*.maf`` files in a folder, skipping ``#`` comment lines.

    The reference reads each file then ``pd.concat(ignore_index=True)`` which
    outer-aligns columns by NAME (``maf.py:14-36``). Headers may differ from
    file to file, so each file is its own scan and the scans are combined
    with ``unionByName(allowMissingColumns=True)`` — same semantics, still a
    parallel scan per file.

    Returns ``None`` when the folder holds no ``.maf`` files (reference
    returns ``None`` for an empty folder).
    """
    files = sorted(
        os.path.join(folder, f) for f in os.listdir(folder) if f.endswith(".maf")
    )
    if not files:
        return None
    dfs = [read_tsv(spark, f, comment="#") for f in files]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def read_tsv_skip_cbioportal_header(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """S3: re-read a cBioPortal clinical file, dropping the 4 ``#`` header rows."""
    return read_tsv(spark, path, schema=schema, comment="#")


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """JSON-lines scan with a REQUIRED explicit schema.

    Schema is not optional here by design: json inference is a full extra
    pass over the data (and samples by default), which is never acceptable
    on a 100 TB corpus — declare the shape, let the scan project only the
    requested fields (Spark's json reader prunes unparsed fields when the
    schema names only what you need)."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per line, the LLM-corpus interchange
    format). Distributed write — one file per partition."""
    with job_label(df.sparkSession, f"write {os.path.basename(path)}"):
        df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan. Columnar like parquet (column pruning + predicate pushdown
    reach the scan); ORC carries its own schema."""
    with job_label(spark, f"read {os.path.basename(path)}"):
        return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — the interchange format for Hive-ecosystem consumers."""
    with job_label(df.sparkSession, f"write {os.path.basename(path)}"):
        df.write.mode("overwrite").orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: StructType | None = None,
) -> DataFrame:
    """XML scan (Spark 4's built-in xml source). Schema is strongly
    recommended for the same no-inference-pass reason as
    :func:`read_jsonl`; ``row_tag`` names the repeating element. Each task
    stream-parses its own files (StAX) — the scan distributes like any
    text source, but XML carries no column statistics, so filters CANNOT
    push down into the scan: treat it as an ingest format, convert to
    parquet at the boundary (the ``read → write_parquet`` hop is one narrow
    pass)."""
    reader = spark.read.option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    with job_label(spark, f"read {os.path.basename(path)}"):
        return reader.xml(path)


def write_xml(df: DataFrame, path: str, row_tag: str) -> None:
    """XML sink — one ``<row_tag>`` element per row, one file per
    partition. Interchange with XML-expecting consumers (clinical-data
    registries, legacy ETL); not a storage format."""
    with job_label(df.sparkSession, f"write {os.path.basename(path)}"):
        df.write.mode("overwrite").option("rowTag", row_tag).xml(path)
