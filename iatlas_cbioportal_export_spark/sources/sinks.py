"""Sinks: TSV / chunked / cBioPortal-header / meta-file writers (SURVEY.md §2.1 S4-S8).

Reference behavior being re-expressed:
- S4 chunked TSV sink, ≤``max_rows`` rows per file (reference ``maf.py:39-72``
  slices the frame into ceil(n/max_rows) chunks for the ~55 MB Genome Nexus
  service limit). Spark-native form: ``option("maxRecordsPerFile", n)`` — the
  limit is enforced per task file without any driver-side slicing.
- S5 TSV sink with float normalization (reference ``clinical.py:353-358`` uses
  ``float_format="%.12g"`` to fight pandas int→float promotion; our typed
  schemas make that unnecessary).
- S6 driver-rendered tiny text docs (meta files, case lists; reference
  ``clinical.py:645-718``) — these are kilobyte-sized key:value documents, so
  rendering on the driver from a collected result is the correct plan at any
  scale.
- the ``insert_clinical_metadata.py`` subprocess (reference
  ``clinical.py:598-604``) becomes a pure formatting step: 4 ``#``-prefixed
  header lines prepended above the column header.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame

from iatlas_cbioportal_export_spark.session import job_label

# Byte-identical to the reference's template (clinical.py:56-62): five
# key:value lines, NO trailing newline — pinned by the rendering
# differential against the actual reference writer.
CASE_LIST_TEXT_TEMPLATE = (
    "cancer_study_identifier: {study_id}\n"
    "stable_id: {stable_id}\n"
    "case_list_name: {name}\n"
    "case_list_description: {description}\n"
    "case_list_ids: {ids}"
)


def with_pandas_float_format(df: DataFrame) -> DataFrame:
    """Render every float/double column with C's ``%.12g`` — byte-identical
    to the reference's ``to_csv(float_format="%.12g")``
    (``clinical.py:585-620``), which routes through the same C formatter via
    Python's ``%`` operator. NaN and null both render as empty (pandas'
    ``na_rep``). Arrow-batched ``pandas_udf`` — the one place Python touches
    the rows, used ONLY by artifact writers that promise reference byte
    parity; analytical sinks keep typed columns (see :func:`write_tsv`'s
    module docstring)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    float_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float")
    ]
    if not float_cols:
        return df

    @pandas_udf("string")
    def _g12(s):
        import pandas as pd

        return s.map(lambda v: None if pd.isna(v) else "%.12g" % v)

    for c in float_cols:
        df = df.withColumn(c, _g12(F.col(c)))
    return df


def write_tsv(
    df: DataFrame,
    path: str,
    pandas_float_format: bool = False,
    order_by: Iterable[str] | None = None,
) -> None:
    """S5: header'd tab-separated sink. Typed schema replaces ``%.12g`` by
    default; ``pandas_float_format=True`` opts into the reference's exact
    float rendering for byte-parity artifacts. ``order_by`` gives the output
    a deterministic global row order (range-partitioned sort, so
    filename-ordered part concatenation preserves it)."""
    if pandas_float_format:
        df = with_pandas_float_format(df)
    if order_by:
        df = df.orderBy(*order_by)
    with job_label(df.sparkSession, f"write {os.path.basename(path)}"):
        (
            df.write.mode("overwrite")
            .option("sep", "\t")
            .option("header", True)
            .option("emptyValue", "")
            .option("nullValue", "")
            .csv(path)
        )


def write_chunked_tsv(df: DataFrame, path: str, max_rows: int = 40_000) -> None:
    """S4: bound rows-per-output-file without driver-side slicing.

    One ``count`` job sizes the write: the frame is always repartitioned to
    ceil(n/max_rows) partitions (the reference's ceil-division chunk count,
    ``maf.py:43,63``) and ``maxRecordsPerFile`` caps each file at
    ``max_rows`` rows. A zero-row frame goes to :func:`write_tsv` as is.
    """
    name = os.path.basename(path)
    with job_label(df.sparkSession, f"count {name} rows"):
        n = df.count()
    if n == 0:
        write_tsv(df.limit(0), path)
        return
    n_chunks = math.ceil(n / max_rows)
    with job_label(df.sparkSession, f"write {name}"):
        (
            df.repartition(n_chunks)
            .write.mode("overwrite")
            .option("sep", "\t")
            .option("header", True)
            .option("maxRecordsPerFile", max_rows)
            .csv(path)
        )


def cbioportal_clinical_header(
    columns: Iterable[str], attr_meta: Mapping[str, Mapping[str, object]]
) -> list[str]:
    """Build the 4 ``#``-prefixed cBioPortal header lines for ``columns``.

    ``attr_meta`` maps NORMALIZED_COLUMN_HEADER -> {display_name, description,
    datatype, priority} (reference sources these from the clinical-attributes
    metadata table, ``clinical.py:47-54,440-474``). Unknown columns fall back
    to the column name / STRING / 1 — same defaults the reference's metadata
    tooling applies.
    """
    cols = list(columns)

    def field(c: str, key: str, default: object) -> str:
        return str(attr_meta.get(c, {}).get(key, default))

    return [
        "#" + "\t".join(field(c, "display_name", c) for c in cols),
        "#" + "\t".join(field(c, "description", c) for c in cols),
        "#" + "\t".join(field(c, "datatype", "STRING") for c in cols),
        "#" + "\t".join(field(c, "priority", "1") for c in cols),
    ]


def _concat_csv_parts(parts_dir: str, out_path: str, head_lines: list[str]) -> str:
    """Driver-side merge of a csv sink's part files into ONE artifact file:
    ``head_lines`` first, then the column header from the first part, then
    every part's data rows in filename order (= global order when the frame
    was written sorted)."""
    part_files = sorted(
        os.path.join(parts_dir, f)
        for f in os.listdir(parts_dir)
        if f.startswith("part-") and f.endswith(".csv")
    )
    with open(out_path, "w") as out:
        for line in head_lines:
            out.write(line + "\n")
        wrote_col_header = False
        for pf in part_files:
            with open(pf) as fh:
                first = fh.readline()
                if not first:
                    # empty part (Spark's csv sink creates the file even for
                    # an empty partition) — skipping it here keeps the REAL
                    # column header from a later part from being dropped
                    continue
                if not wrote_col_header:
                    out.write(first)
                    wrote_col_header = True
                for line in fh:
                    out.write(line)
    return out_path


def write_single_tsv(
    df: DataFrame,
    path: str,
    pandas_float_format: bool = False,
    order_by: Iterable[str] | None = None,
) -> str:
    """ONE header'd TSV file (no ``#`` metadata lines) — the shape of the
    reference's ``data_clinical_merged.txt`` (``clinical.py:611-620``). Row
    formatting runs distributed via the csv sink; the driver only
    concatenates part files. Returns the file path written."""
    tmp = path + ".parts"
    write_tsv(
        df, tmp, pandas_float_format=pandas_float_format, order_by=order_by
    )
    return _concat_csv_parts(tmp, path, [])


def write_cbioportal_clinical(
    df: DataFrame,
    path: str,
    attr_meta: Mapping[str, Mapping[str, object]],
    pandas_float_format: bool = False,
    order_by: Iterable[str] | None = None,
) -> str:
    """Write a clinical table as ONE cBioPortal file: 4 ``#`` header lines,
    then the column header, then tab-separated rows.

    cBioPortal ingests a single file per datatype, so the final artifact is a
    driver-side merge of the task outputs — the heavy lifting (row formatting)
    still happens distributed via the csv sink; the driver only concatenates
    part files and prepends ~4 lines. Returns the file path written.
    """
    tmp = path + ".parts"
    write_tsv(
        df, tmp, pandas_float_format=pandas_float_format, order_by=order_by
    )
    header_lines = cbioportal_clinical_header(df.columns, attr_meta)
    return _concat_csv_parts(tmp, path, header_lines)


def render_case_list_text(
    study_id: str,
    cancer_type: str,
    sample_ids: Iterable[str],
    name: str | None = None,
    description: str | None = None,
) -> tuple[str, str]:
    """F7+F8: slugify a cancer type and render the case-list document,
    REFERENCE-EXACT (``clinical.py:683-718``, pinned byte-for-byte by the
    rendering differential): empty cancer type displays as ``NA``; the slug
    is spaces→``_``, commas removed, ``/``→``_``, and a resulting ``NA``
    becomes ``no_oncotree_code``; name/description default to the
    reference's "Tumor Type: <ct>" / "All tumors with cancer type <ct>"
    (the ``name``/``description`` overrides exist for the cases_all /
    cases_sequenced lists, which the reference delegates to the external
    datahub tool). Returns (filename_stem, rendered_text)."""
    ct = "NA" if cancer_type in (None, "") else cancer_type
    slug = ct.replace(" ", "_").replace(",", "").replace("/", "_")
    slug = "no_oncotree_code" if slug == "NA" else slug
    ids = list(sample_ids)
    text = CASE_LIST_TEXT_TEMPLATE.format(
        study_id=study_id,
        stable_id=f"{study_id}_{slug}",
        name=name if name is not None else "Tumor Type: " + ct,
        description=(
            description
            if description is not None
            else "All tumors with cancer type " + ct
        ),
        ids="\t".join(ids),
    )
    return slug, text


def render_meta_file(fields: Mapping[str, object]) -> str:
    """S6: render a ``meta_*.txt`` key:value document (reference
    ``clinical.py:645-656`` renders e.g. study id ``iatlas_{dataset}``,
    reference genome hg38)."""
    return "".join(f"{k}: {v}\n" for k, v in fields.items())


def tsv_text_remove_pandas_float(df: DataFrame, header: bool = True) -> str:
    """F9 (reference ``utils.py:133-153``): render a frame as TSV text with
    the reference's textual ``.0`` strip — its cure for pandas promoting
    integers to floats in mixed-dtype frames. Reference-exact, pinned by
    the differential suite, INCLUDING the blunt edges: the replace is
    purely textual, so a STRING cell ending in ``.0`` at a field boundary
    is clipped too, and a genuinely fractional value (``2.5``) survives.

    Driver-side by design: the reference materializes the entire frame
    into one string (it feeds KB-scale artifact files); the typed Spark
    sinks (:func:`write_tsv`, :func:`write_chunked_tsv`) make this
    obsolete for data files — schemas keep integers integral — which is
    why F9 is dead code in the reference too. It exists here so a
    reference user can run the same call natively."""
    import math

    def cell(v: object) -> str:
        if v is None:
            return ""
        if isinstance(v, float) and math.isnan(v):
            return ""  # pandas to_csv renders NaN as empty
        return str(v)

    cols = df.columns
    lines = []
    if header:
        lines.append("\t".join(cols))
    with job_label(df.sparkSession, "collect TSV text"):
        rows = df.collect()
    for row in rows:
        lines.append("\t".join(cell(row[c]) for c in cols))
    text = "\n".join(lines) + "\n"
    return text.replace(".0\t", "\t").replace(".0\n", "\n")
