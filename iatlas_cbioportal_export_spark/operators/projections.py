"""Projection / pruning operators (SURVEY.md §2.2 P4-P6).

P4 (typed column split) and P6 (rename) are pure metadata operations that
Catalyst's ColumnPruning pushes to the scan. P5 (drop 100%-null columns) is
data-dependent and inherently needs one aggregate pass — the same cost the
reference pays (``clinical.py:538-547``), but here it is a single distributed
``agg`` with map-side partial counts instead of a full pandas materialization.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.session import job_label


# Key columns that lead each view, in this order.
_PATIENT_KEYS = ("PATIENT_ID",)
_SAMPLE_KEYS = ("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "CANCER_TYPE_DETAILED")


def split_patient_sample(
    df: DataFrame, attr_types: Mapping[str, str]
) -> tuple[DataFrame, DataFrame]:
    """P4 + A7: split the clinical table into patient / sample views.

    ``attr_types`` maps column name -> ``"PATIENT"`` | ``"SAMPLE"`` (collected
    from the small mapping table — reference ``clinical.py:365-400``). The
    patient view is whole-row deduplicated (reference ``clinical.py:398``,
    ``drop_duplicates()`` keep-first; since the rows kept are identical,
    keep-first and keep-any agree — ``dropDuplicates`` is correct and shuffles
    only the patient projection, not the full table).
    """
    patient_cols = [c for c in df.columns if attr_types.get(c) == "PATIENT"]
    sample_cols = [c for c in df.columns if attr_types.get(c) == "SAMPLE"]
    patient = df.select(
        *[c for c in _PATIENT_KEYS if c in df.columns],
        *[c for c in patient_cols if c not in _PATIENT_KEYS],
    ).dropDuplicates()
    sample = df.select(
        *[c for c in _SAMPLE_KEYS if c in df.columns],
        *[c for c in sample_cols if c not in _SAMPLE_KEYS],
    )
    return patient, sample


def prune_all_null_columns(df: DataFrame) -> DataFrame:
    """P5: keep only columns with ≥1 non-null value.

    One distributed aggregate (``count(col)`` per column — partial aggregation
    map-side, tiny shuffle of one row), one driver collect of that single row,
    then a metadata-only ``select``. Reference: ``clinical.py:538-547``.
    """
    with job_label(df.sparkSession, "count non-null values"):
        counts = df.agg(
            *[F.count(F.col(c)).alias(c) for c in df.columns]
        ).collect()[0]
    keep = [c for c in df.columns if counts[c] > 0]
    return df.select(*keep)


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P6: bulk header rename (reference ``clinical.py:334-340`` renames via
    the cli→cBioPortal mapping dict). Metadata-only."""
    return df.withColumnsRenamed(dict(mapping))
