"""Study-bundle writer: the reference's complete per-dataset output surface
(SURVEY.md §3.1 steps 6-7, §2.9) as one composed plan.

For each dataset the reference emits (``clinical.py:572-656``, ``maf.py:168-216``,
``load.py:12-35``):

- ``data_clinical_patient.txt`` / ``data_clinical_sample.txt`` — the two
  clinical views, 100%-null columns pruned (P5, ``clinical.py:581-582``),
  each with the 4 ``#``-prefixed cBioPortal metadata header lines that the
  ``insert_clinical_metadata.py`` subprocess used to add (``clinical.py:598-604``);
- ``data_mutations_extended.txt`` parts — the annotated MAF, chunked to
  ≤``max_rows`` rows per file (S4, ``maf.py:39-72``);
- ``meta_*.txt`` — key:value descriptors per datatype plus ``meta_study.txt``
  (study id ``iatlas_{dataset}``, reference genome hg38, ``clinical.py:645-656``);
- ``case_lists/`` — ``cases_all`` (every sample), ``cases_sequenced``
  (samples present in the mutation data — J5, ``load.py:16-18``), and one
  list per CANCER_TYPE (A1+F7/F8, ``clinical.py:659-718``).

Scale shape: the two clinical views and the MAF write distributed (csv sink
tasks); only the case-list aggregation result (one row per cancer type, with
its sample-id list) and the kilobyte meta documents are collected — bounded
by id-list size, never by table width or the MAF. For a multi-dataset run,
call once per dataset over a ``.filter(Dataset == d)`` slice — with the input
stored partitioned by ``Dataset`` the filter is partition pruning, not a scan.

The module also owns reading a bundle back: :func:`find_artifact` is the
one lookup of an artifact with several spellings (``cli validate`` and the
load stage use it), and every read-back goes through
``sources.readers.read_tsv``.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.operators.aggregates import case_list_groups
from iatlas_cbioportal_export_spark.operators.joins import semi_join_sequenced
from iatlas_cbioportal_export_spark.operators.projections import (
    prune_all_null_columns,
)
from iatlas_cbioportal_export_spark.operators.validation import parse_meta_text
from iatlas_cbioportal_export_spark.session import job_label
from iatlas_cbioportal_export_spark.sources.readers import read_tsv, tsv_string_schema
from iatlas_cbioportal_export_spark.sources.sinks import (
    render_case_list_text,
    render_meta_file,
    write_cbioportal_clinical,
    write_chunked_tsv,
    write_single_tsv,
)

# The bundle's key columns (reference clinical.py / maf.py spellings).
_SAMPLE_ID = "SAMPLE_ID"
_CANCER_TYPE = "CANCER_TYPE"
_BARCODE = "Tumor_Sample_Barcode"


def _meta_clinical(study_id: str, datatype: str, filename: str) -> Mapping[str, object]:
    return {
        "cancer_study_identifier": study_id,
        "genetic_alteration_type": "CLINICAL",
        "datatype": datatype,
        "data_filename": filename,
    }


# The bundle's mutation artifact spellings, in lookup order. The writer
# emits the chunked ``data_mutations_extended`` directory (S4); the
# reference writes a single ``data_mutations.txt``. Readers accept any.
MAF_ARTIFACT_NAMES = (
    "data_mutations_extended",
    "data_mutations.txt",
    "data_mutations_extended.txt",
)


def find_artifact(bundle_dir: str, names: Iterable[str]) -> str | None:
    """Path of the first of ``names`` that exists in ``bundle_dir``, else
    ``None`` — the one lookup of a bundle artifact that has several
    spellings (e.g. :data:`MAF_ARTIFACT_NAMES`)."""
    for name in names:
        path = os.path.join(bundle_dir, name)
        if os.path.exists(path):
            return path
    return None


def _write_text(path: str, text: str) -> str:
    """Write one kilobyte document (meta file, case list); returns its path."""
    with open(path, "w") as fh:
        fh.write(text)
    return path


def write_mutations(
    out_dir: str, study_id: str, mutations: DataFrame, max_rows: int
) -> dict[str, str]:
    """Write the chunked ``data_mutations_extended`` directory (≤``max_rows``
    rows per file, S4) and its ``meta_mutations_extended.txt`` (the
    reference's generate_meta_files step, ``maf.py:209-216``); returns
    artifact name → path."""
    maf_dir = os.path.join(out_dir, "data_mutations_extended")
    write_chunked_tsv(mutations, maf_dir, max_rows=max_rows)
    meta_path = _write_text(
        os.path.join(out_dir, "meta_mutations_extended.txt"),
        render_meta_file(
            {
                "cancer_study_identifier": study_id,
                "genetic_alteration_type": "MUTATION_EXTENDED",
                "datatype": "MAF",
                "data_filename": "data_mutations_extended",
            }
        ),
    )
    return {"data_mutations_extended": maf_dir, "meta_mutations_extended.txt": meta_path}


# cases_all / cases_sequenced: the reference delegates these to the external
# datahub generate_case_lists.py (load.py:28-35); name and description follow
# that tool's conf conventions (NUM = id count) over the same documented
# case-list template the reference's native per-type writer uses.
_CASE_LIST_TITLES = {
    "all": ("All samples", "All samples ({n} samples)"),
    "sequenced": ("Sequenced samples", "Samples with mutation data ({n} samples)"),
}


def _write_case_list(
    case_list_dir: str, study_id: str, kind: str, ids: Iterable[str]
) -> str:
    """Write ``cases_<kind>.txt`` (``kind`` in :data:`_CASE_LIST_TITLES`)
    over the sorted ``ids``; returns its path."""
    name, description = _CASE_LIST_TITLES[kind]
    ids = sorted(ids)
    return _write_text(
        os.path.join(case_list_dir, f"cases_{kind}.txt"),
        render_case_list_text(
            study_id, kind, ids, name=name, description=description.format(n=len(ids))
        )[1],
    )


def _write_sequenced(
    case_list_dir: str, study_id: str, samples: DataFrame, mutations: DataFrame
) -> str:
    """Write ``cases_sequenced.txt``: the ``SAMPLE_ID``s of the one-column
    ``samples`` frame that appear as a ``Tumor_Sample_Barcode`` in
    ``mutations`` (J5 semi-join; only the matching id list is collected)."""
    with job_label(samples.sparkSession, "collect sequenced samples"):
        sequenced = semi_join_sequenced(
            samples, mutations, clinical_key=_SAMPLE_ID, mutation_key=_BARCODE
        ).collect()
    return _write_case_list(
        case_list_dir, study_id, "sequenced", (r[_SAMPLE_ID] for r in sequenced)
    )


def write_study_bundle(
    out_dir: str,
    dataset: str,
    clinical_patient: DataFrame,
    clinical_sample: DataFrame,
    attr_meta: Mapping[str, Mapping[str, object]] | None = None,
    clinical_merged: DataFrame | None = None,
) -> dict[str, str]:
    """Write one dataset's clinical study bundle — the clinical views and
    their meta files, ``meta_study.txt`` and the per-cancer-type and
    ``cases_all`` case lists; returns artifact name → path. The mutation
    artifacts and ``cases_sequenced`` come later, from
    :func:`write_mutations` and :func:`write_load_stage_case_lists`.

    ``clinical_sample`` feeds THREE actions (P5 null-count aggregate, the
    file write, the A1 case-list aggregation) — without a persist each
    action re-runs the whole upstream preprocess DAG, so both views are
    cached for the bundle's lifetime (memory-and-disk: safe when a dataset
    slice outgrows executor memory) and released before returning, also
    when a write raises.

    ``clinical_merged`` is the one switch for the reference's byte-parity
    surface (r9, pinned by the full-bundle differential and by
    ``tests/test_bundle.py``). When given, the bundle also carries the
    reference's ``data_clinical_merged.txt`` (a single header'd TSV —
    column header but none of the 4 ``#`` metadata lines; the reference's
    ``to_csv`` with the ``header=True`` default, ``clinical.py:611-620``,
    after unconditionally dropping the ``Dataset`` bookkeeping column — we
    drop it here too when present), every float column renders with the
    reference's ``%.12g``, and the rows are in a deterministic global order
    (patient view by ``PATIENT_ID``, sample and merged by ``SAMPLE_ID``) so
    the single-file artifacts reproduce byte-for-byte.
    """
    study_id = f"iatlas_{dataset}"
    os.makedirs(out_dir, exist_ok=True)
    case_list_dir = os.path.join(out_dir, "case_lists")
    os.makedirs(case_list_dir, exist_ok=True)
    attr_meta = attr_meta or {}
    parity = clinical_merged is not None
    artifacts: dict[str, str] = {}
    clinical_patient = clinical_patient.persist()
    clinical_sample = clinical_sample.persist()
    try:

        # Clinical views: prune 100%-null columns (P5), then header'd single file.
        # r11 (guide §2.6 overlap independent jobs): each artifact costs a fixed
        # chain of small driver-triggered jobs (the P5 null-count aggregate, the
        # csv write, and — for the sample view — the A1 case-list aggregate).
        # The chains are independent (distinct output files, shared persisted
        # inputs), so they run from a small thread pool and back-fill each
        # other's job tails instead of serializing ~5 fixed-overhead jobs.
        # Byte surface unchanged: same files, same contents, and the artifacts
        # dict is assembled in the original insertion order after the futures
        # complete.
        def _clinical_artifact(name: str, view: DataFrame, key: str):
            pruned = prune_all_null_columns(view)
            written = write_cbioportal_clinical(
                pruned,
                os.path.join(out_dir, name),
                attr_meta,
                pandas_float_format=parity,
                order_by=[key] if parity else None,
            )
            meta_name = "meta_" + name[len("data_") :]
            datatype = "PATIENT_ATTRIBUTES" if "patient" in name else "SAMPLE_ATTRIBUTES"
            meta_path = _write_text(
                os.path.join(out_dir, meta_name),
                render_meta_file(_meta_clinical(study_id, datatype, name)),
            )
            return [(name, written), (meta_name, meta_path)]

        # Case lists carry SAMPLE_ID as text, as the sample file renders it: an
        # inferred numeric id (`007` read as 7) is listed as `7`, not an int.
        case_ids = clinical_sample.select(
            F.col(_SAMPLE_ID).cast("string").alias(_SAMPLE_ID), _CANCER_TYPE
        )

        def _case_list_groups():
            with job_label(clinical_sample.sparkSession, "collect case-list groups"):
                return case_list_groups(
                    case_ids, group_col=_CANCER_TYPE, id_col=_SAMPLE_ID
                ).collect()

        # Pool threads do not inherit the caller's local properties (job group,
        # scheduler pool, job description) or job tags. Each task is wrapped on
        # its own in inheritable_thread_target(session), which hands the task a
        # private copy of them and re-adds the session's tags: tasks sharing
        # one copy would see each other's SQL execution ids. Passing the
        # session needs PySpark's pinned-thread mode, its default.
        spark = clinical_sample.sparkSession
        with ThreadPoolExecutor(max_workers=3) as pool:
            clinical_futures = [
                pool.submit(
                    inheritable_thread_target(spark)(_clinical_artifact), name, view, key
                )
                for name, view, key in (
                    ("data_clinical_patient.txt", clinical_patient, "PATIENT_ID"),
                    ("data_clinical_sample.txt", clinical_sample, _SAMPLE_ID),
                )
            ]
            # Case lists need only the persisted sample view — kick the A1
            # aggregate off concurrently; its rendering happens below, after
            # the meta_study write, exactly where it happened before.
            groups_future = pool.submit(inheritable_thread_target(spark)(_case_list_groups))
            for fut in clinical_futures:
                for key, value in fut.result():
                    artifacts[key] = value

        # data_clinical_merged.txt — the pre-split frame the reference keeps
        # next to the two views (clinical.py:611-620; it also feeds the
        # reference's case-list reader). Single header'd TSV (column header,
        # no # metadata lines), no pruning: the reference writes the merged
        # subset as-is, minus the Dataset bookkeeping column, which it drops
        # unconditionally (clinical.py:615) — mirror that here so callers that
        # pass the pre-split frame straight through (the CLI) stay byte-equal.
        if parity:
            if "Dataset" in clinical_merged.columns:
                clinical_merged = clinical_merged.drop("Dataset")
            artifacts["data_clinical_merged.txt"] = write_single_tsv(
                clinical_merged,
                os.path.join(out_dir, "data_clinical_merged.txt"),
                pandas_float_format=True,
                order_by=[_SAMPLE_ID],
            )

        # meta_study.txt — byte-identical to the reference's native writer
        # (clinical.py:645-656: exact key order, TBD/PLACEHOLDER fields and
        # all; pinned by the rendering differential).
        artifacts["meta_study.txt"] = _write_text(
            os.path.join(out_dir, "meta_study.txt"),
            render_meta_file(
                {
                    "cancer_study_identifier": study_id,
                    "type_of_cancer": "mixed",
                    "name": "TBD",
                    "pmid": "29033130",
                    "reference_genome": "hg38",
                    "citation": "PLACEHOLDER",
                    "description": "PLACEHOLDER",
                }
            ),
        )

        # Case lists. ONE aggregation pass (A1); collected result is one row per
        # cancer type carrying its (sorted) sample-id list (computed concurrently
        # with the clinical artifacts above).
        groups = groups_future.result()
        all_ids: list[str] = []
        for row in sorted(groups, key=lambda r: (r[_CANCER_TYPE] is None, r[_CANCER_TYPE])):
            ids = row["sample_ids"]
            all_ids.extend(ids)
            slug, text = render_case_list_text(study_id, row[_CANCER_TYPE], ids)
            artifacts[f"case_lists/cases_{slug}.txt"] = _write_text(
                os.path.join(case_list_dir, f"cases_{slug}.txt"), text
            )

        artifacts["case_lists/cases_all.txt"] = _write_case_list(
            case_list_dir, study_id, "all", all_ids
        )
        return artifacts
    finally:
        clinical_patient.unpersist()
        clinical_sample.unpersist()


def write_load_stage_case_lists(spark, bundle_dir: str) -> dict[str, str]:
    """The reference's LOAD-stage case-list generation
    (``load.py:12-35``, ``write_case_lists_all_and_sequenced`` → external
    ``generate_case_lists.py``): ``cases_all.txt`` and — when the bundle
    carries mutation data — ``cases_sequenced.txt`` (J5 semi-join), written
    from the already-exported bundle artifacts right before upload.

    The study id comes from ``meta_study.txt`` (parsed by
    ``operators.validation.parse_meta_text``). The sample file and the
    mutation artifact are found with :func:`find_artifact` and read back
    with ``sources.readers.read_tsv(comment="#")``: sample ids from
    ``data_clinical_merged.txt`` when present (the staging file the
    external tool reads) else ``data_clinical_sample.txt`` (its 4 ``#``
    header lines skipped); barcodes from the first of
    :data:`MAF_ARTIFACT_NAMES` that exists — the chunked directory and the
    single-file spellings read alike, ``#version`` lines skipped. Both are
    read as strings (``sources.readers.tsv_string_schema``, no job), so an
    id such as ``007`` is listed verbatim, as ``cli validate`` reads it.

    Scale shape: only the distinct sample-id list is collected (the same
    KB/MB-bounded id-list class as the bundle writer's case lists); the
    semi-join and distincts run distributed. Returns artifact → path for
    whatever it wrote (empty dict when the bundle has no clinical file)."""
    meta_study = os.path.join(bundle_dir, "meta_study.txt")
    if not os.path.exists(meta_study):
        return {}
    with open(meta_study) as fh:
        study_id = parse_meta_text("meta_study.txt", fh.read()).get(
            "cancer_study_identifier"
        )
    if study_id is None:
        return {}

    sample_path = find_artifact(
        bundle_dir, ("data_clinical_merged.txt", "data_clinical_sample.txt")
    )
    if sample_path is None:
        return {}
    samples = read_tsv(
        spark, sample_path, tsv_string_schema(sample_path, comment="#"), comment="#"
    )
    if _SAMPLE_ID not in samples.columns:
        return {}
    samples = samples.select(_SAMPLE_ID).distinct()

    case_list_dir = os.path.join(bundle_dir, "case_lists")
    os.makedirs(case_list_dir, exist_ok=True)
    with job_label(spark, "collect sample ids"):
        rows = samples.collect()
    artifacts = {
        "case_lists/cases_all.txt": _write_case_list(
            case_list_dir, study_id, "all", (r[_SAMPLE_ID] for r in rows)
        )
    }

    maf_path = find_artifact(bundle_dir, MAF_ARTIFACT_NAMES)
    if maf_path is not None:
        maf = read_tsv(
            spark, maf_path, tsv_string_schema(maf_path, comment="#"), comment="#"
        )
        if _BARCODE in maf.columns:
            artifacts["case_lists/cases_sequenced.txt"] = _write_sequenced(
                case_list_dir, study_id, samples, maf
            )
    return artifacts
