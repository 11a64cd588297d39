"""CLI surface mirroring the reference's four entry points
(``clinical.py:842-954``, ``maf.py:272-348``, ``validate.py:229-284``,
``load.py:85-137`` — each an argparse ``main()``), re-expressed over the
Spark plans:

    python -m iatlas_cbioportal_export_spark.cli clinical  --clinical c.tsv --oncotree o.tsv --dataset D --out dir
    python -m iatlas_cbioportal_export_spark.cli maf       --maf-folder dir --out dir [--endpoint BASE_URL]
    python -m iatlas_cbioportal_export_spark.cli validate  --bundle dir
    python -m iatlas_cbioportal_export_spark.cli load      --bundle dir --dest dir

``maf --endpoint`` takes the Genome Nexus base URL (the service root;
the annotator posts to ``{BASE_URL}/annotation``); without it the offline
fake annotator runs. ``validate`` exits non-zero when any check ERRORs —
the reference's ``ErrorFlagHandler`` gate (``utils.py:52-58``) as an exit
code.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import SparkSession

from iatlas_cbioportal_export_spark.session import get_spark, job_label


def _spark() -> SparkSession:
    return get_spark("iatlas-cli")


def cmd_clinical(args: argparse.Namespace) -> int:
    from iatlas_cbioportal_export_spark.operators.projections import (
        split_patient_sample,
    )
    from iatlas_cbioportal_export_spark.plans.bundle import write_study_bundle
    from iatlas_cbioportal_export_spark.plans.clinical_pipeline import (
        preprocess_clinical,
    )
    from iatlas_cbioportal_export_spark.sources.readers import read_tsv

    spark = _spark()
    clinical = read_tsv(spark, args.clinical)
    oncotree = read_tsv(spark, args.oncotree)
    codes = read_tsv(spark, args.codes) if args.codes else None
    neo = read_tsv(spark, args.neoantigen) if args.neoantigen else None
    header_renames: dict[str, str] = {}
    case_modes: dict[str, str] = {}
    attr_types: dict[str, str] = {}
    if args.mapping:
        # The cli→cBioPortal attribute mapping drives three things in the
        # reference: header renames (clinical.py:334-340), per-column case
        # normalization (clinical.py:136-167) and the PATIENT/SAMPLE split
        # (clinical.py:381-395). It is a kilobyte dimension table — collect.
        mapping = read_tsv(spark, args.mapping)
        with job_label(spark, "collect mapping"):
            mapping_rows = mapping.collect()
        for row in mapping_rows:
            src = row["iATLAS_attribute"] if "iATLAS_attribute" in row else None
            dst = row["NORMALIZED_HEADER"]
            if src and dst and src != dst:
                header_renames[src] = dst
            case = row["Case"] if "Case" in row else None
            if case:
                case_modes[dst] = case
            attr_type = row["ATTRIBUTE_TYPE"] if "ATTRIBUTE_TYPE" in row else None
            if attr_type:
                attr_types[dst] = attr_type
    pre = preprocess_clinical(
        clinical,
        oncotree,
        neoantigen=neo,
        header_renames=header_renames or None,
        case_modes=case_modes or None,
        oncotree_codes=codes,
    )
    if not attr_types:
        # no mapping given: the reference cannot split either — treat every
        # non-key column as a sample attribute (documented degraded mode)
        attr_types = {c: "SAMPLE" for c in pre.columns if c not in ("PATIENT_ID",)}
    patient, sample = split_patient_sample(pre, attr_types)
    # --reference-artifacts (r9): the reference main()'s byte-parity
    # surface — data_clinical_merged.txt, %.12g floats, id-sorted rows
    # (pinned by tests/test_reference_differential_bundle.py).
    artifacts = write_study_bundle(
        args.out,
        args.dataset,
        patient,
        sample,
        clinical_merged=pre if args.reference_artifacts else None,
    )
    print(f"wrote {len(artifacts)} artifacts to {args.out}")
    return 0


def cmd_maf(args: argparse.Namespace) -> int:
    from iatlas_cbioportal_export_spark.operators.maf import (
        annotate,
        drop_chrm,
        fake_annotator,
        genome_nexus_annotator,
        split_annotation_errors,
    )
    from iatlas_cbioportal_export_spark.plans.bundle import write_mutations
    from iatlas_cbioportal_export_spark.sources.readers import read_maf_folder
    from iatlas_cbioportal_export_spark.sources.sinks import write_chunked_tsv

    spark = _spark()
    maf = read_maf_folder(spark, args.maf_folder)
    if maf is None:
        print("no .maf files found", file=sys.stderr)
        return 1
    annotator = genome_nexus_annotator(args.endpoint) if args.endpoint else fake_annotator
    # Every action below (the chunked write's count and write, the failure
    # count and report) reads this one checkpointed copy, so each variant
    # goes through the annotator once. Lazy as it is, the checkpoint runs
    # the round-robin repartition's shuffle stage when it is built.
    with job_label(spark, "repartition MAF for annotation"):
        annotated = annotate(maf, annotator=annotator).localCheckpoint(eager=False)
    ok, failed = split_annotation_errors(annotated)
    write_mutations(args.out, f"iatlas_{args.dataset}", drop_chrm(ok), args.max_rows)
    with job_label(spark, "count annotation failures"):
        n_failed = failed.count()
    if n_failed:
        write_chunked_tsv(failed, os.path.join(args.out, "annotation_errors"))
        print(f"{n_failed} rows failed annotation", file=sys.stderr)
    return 0


# The reference's bundle surface (utils.py:11-22 REQUIRED_OUTPUT_FILES);
# the mutation artifact spellings are plans.bundle.MAF_ARTIFACT_NAMES.
_MAF_META_NAMES = ("meta_mutations_extended.txt", "meta_mutations.txt")
_PASSTHROUGH_FILES = (
    "data_gene_signatures.txt",
    "meta_gene_signatures.txt",
    "data_rna_seq_mrna.txt",
    "meta_rna_seq_mrna.txt",
)


def cmd_validate(args: argparse.Namespace) -> int:
    """Full-bundle validation: the reference ``validate.py`` main flow
    (``validate.py:229-284``) re-expressed natively over the whole bundle —
    V1 file presence (``utils.py:11-22``), then
    ``operators.validation.bundle_checks``: per-clinical-table fused profile
    checks, patient↔sample referential keyset, the 118-column MAF schema
    check (V12, ``validate.py:159-172``), MAF value conformance (the native
    subset of cBioPortal ``validateData.py --strict_maf_checks`` the
    reference shells out to, ``validate.py:211-216``), MAF-barcodes ⊆
    clinical-samples, V13 maf-vs-neoantigen keyset (``validate.py:135-157``,
    with ``--neoantigen``), and gene-signature / RNA-seq pass-through matrix
    checks (``validate.py:175-195``: present, non-empty, sample columns ⊆
    clinical samples).

    Every file is read with an all-string schema taken from its header on
    the driver, so no job runs before the one collect of the lazy findings
    union, which scans each file once. The checks need no types: the
    clinical ones test nulls and keys, and the MAF rules cast positions and
    counts themselves. Each row prints as a tab-separated line and any
    ERROR row exits 1 (ErrorFlagHandler semantics, ``utils.py:52-58``)."""
    from iatlas_cbioportal_export_spark.operators.validation import (
        FINDINGS_COLUMNS,
        bundle_checks,
        file_presence_findings,
        findings_union,
    )
    from iatlas_cbioportal_export_spark.plans.bundle import (
        MAF_ARTIFACT_NAMES,
        find_artifact,
    )
    from iatlas_cbioportal_export_spark.sources.readers import (
        read_tsv,
        read_tsv_skip_cbioportal_header,
        tsv_string_schema,
    )

    spark = _spark()
    bundle = args.bundle

    maf_path = find_artifact(bundle, MAF_ARTIFACT_NAMES)
    maf_meta = find_artifact(bundle, _MAF_META_NAMES)
    required = [
        "data_clinical_patient.txt",
        "data_clinical_sample.txt",
        "meta_clinical_patient.txt",
        "meta_clinical_sample.txt",
        "meta_study.txt",
        os.path.basename(maf_path or MAF_ARTIFACT_NAMES[0]),
        os.path.basename(maf_meta or _MAF_META_NAMES[0]),
    ]
    optional = list(_PASSTHROUGH_FILES)
    if args.strict:
        required += optional
        optional = []

    clinical = {}
    for name in ("data_clinical_patient.txt", "data_clinical_sample.txt"):
        path = os.path.join(bundle, name)
        if os.path.exists(path):  # else already an ERROR finding
            clinical[name] = read_tsv_skip_cbioportal_header(
                spark, path, tsv_string_schema(path, comment="#")
            )
    maf = neo = None
    if maf_path is not None:
        # One read for the chunked directory and the single-file spellings
        # alike (the csv source takes both), `#version` lines skipped.
        maf = read_tsv(spark, maf_path, tsv_string_schema(maf_path, comment="#"), comment="#")
        if args.neoantigen:
            neo = read_tsv(spark, args.neoantigen, tsv_string_schema(args.neoantigen))
    matrices = {}
    for name in ("data_gene_signatures.txt", "data_rna_seq_mrna.txt"):
        path = os.path.join(bundle, name)
        if os.path.exists(path):
            matrices[name] = read_tsv(spark, path, tsv_string_schema(path))

    findings = [file_presence_findings(spark, bundle, required, optional)]
    if clinical or maf is not None or matrices:
        findings.append(
            bundle_checks(
                clinical.get("data_clinical_patient.txt"),
                clinical.get("data_clinical_sample.txt"),
                maf,
                neo,
                matrices,
            )
        )
    with job_label(spark, "collect findings"):
        rows = findings_union(findings).collect()
    print("\t".join(FINDINGS_COLUMNS))
    for row in rows:
        print("\t".join("NULL" if v is None else str(v) for v in row))
    return 1 if any(row["status"] == "ERROR" for row in rows) else 0


def cmd_load(args: argparse.Namespace) -> int:
    # The reference's load stage first generates cases_all/cases_sequenced
    # from the exported artifacts (load.py:12-35, the external
    # generate_case_lists.py), THEN uploads; mirror that ordering so a
    # clinical+maf bundle leaves load complete. Upload itself (Synapse,
    # load.py:38-82) becomes a copy to the destination store path
    # (driver-side, kilobyte metas + already-distributed data files).
    from iatlas_cbioportal_export_spark.plans.bundle import (
        write_load_stage_case_lists,
    )

    written = write_load_stage_case_lists(_spark(), args.bundle)
    if written:
        print(f"wrote {len(written)} case lists: {sorted(written)}")
    shutil.copytree(args.bundle, args.dest, dirs_exist_ok=True)
    print(f"loaded bundle {args.bundle} -> {args.dest}")
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """LLM-corpus curation end-to-end over JSONL: normalize → quality gates
    → optional classifier gate → language filter → PII redaction → exact
    dedup → JSONL out. Each stage is the library operator; the CLI only
    wires them."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iatlas_cbioportal_export_spark.operators import curation as cur
    from iatlas_cbioportal_export_spark.operators.dedup import exact_dedup_keep_min
    from iatlas_cbioportal_export_spark.operators.text import (
        language_id,
        quality_classifier,
    )
    from iatlas_cbioportal_export_spark.sources.readers import read_jsonl, write_jsonl

    spark = _spark()
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    docs = read_jsonl(spark, args.input, schema)
    with job_label(spark, "count input docs"):
        n_in = docs.count()
    normed = cur.normalize_text(docs).withColumnRenamed("text_norm", "text")
    gates = cur.gopher_quality(normed, min_words=args.min_words)
    kept = normed.join(
        gates.filter(F.col("passes")).select("doc_id"), "doc_id", "left_semi"
    )
    if args.min_quality is not None:
        scored = quality_classifier(kept, threshold=args.min_quality)
        kept = kept.join(
            scored.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )
    if args.lang:
        langs = language_id(kept)
        kept = kept.join(
            langs.filter(F.col("predicted_lang") == args.lang).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    redacted = cur.redact_pii(kept).withColumnRenamed("text_redacted", "text")
    keepers = exact_dedup_keep_min(redacted).select("doc_id")
    out = redacted.select("doc_id", "text").join(keepers, "doc_id", "left_semi")
    write_jsonl(out, args.output)
    with job_label(spark, "count curated docs"):
        n_out = out.count()
    print(f"curated {n_in} -> {n_out} docs ({args.input} -> {args.output})")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="iatlas-export-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("clinical", help="preprocess clinical TSVs into a study bundle")
    c.add_argument("--clinical", required=True)
    c.add_argument("--oncotree", required=True)
    c.add_argument("--codes")
    c.add_argument("--neoantigen")
    c.add_argument(
        "--mapping",
        help="clinical→cBioPortal attribute mapping TSV (iATLAS_attribute, "
        "NORMALIZED_HEADER, ATTRIBUTE_TYPE, Case) driving renames, case "
        "normalization and the patient/sample split",
    )
    c.add_argument("--dataset", required=True)
    c.add_argument("--out", required=True)
    c.add_argument(
        "--reference-artifacts",
        action="store_true",
        default=False,
        help="byte-parity artifact mode: also write data_clinical_merged"
        ".txt, render floats with the reference's %%.12g, and sort rows by"
        " their id columns (reproducible single-file artifacts)",
    )
    c.set_defaults(fn=cmd_clinical)

    m = sub.add_parser("maf", help="annotate and export mutation data")
    m.add_argument("--maf-folder", required=True)
    m.add_argument("--out", required=True)
    m.add_argument(
        "--endpoint",
        help="Genome Nexus base URL, e.g. https://www.genomenexus.org"
        " (default: offline fake annotator)",
    )
    m.add_argument("--max-rows", type=int, default=40_000)
    m.add_argument("--dataset", default="study", help="dataset name for the study id")
    m.set_defaults(fn=cmd_maf)

    v = sub.add_parser("validate", help="run the validation suite on a bundle")
    v.add_argument("--bundle", required=True)
    v.add_argument(
        "--neoantigen",
        help="neoantigen summary TSV for the V13 maf-vs-neoantigen keyset check",
    )
    v.add_argument(
        "--strict",
        action="store_true",
        help="treat missing gene-signature / RNA-seq pass-through files as "
        "ERROR (the reference requires all 10 bundle files)",
    )
    v.set_defaults(fn=cmd_validate)

    load = sub.add_parser("load", help="copy a bundle to its destination store")
    load.add_argument("--bundle", required=True)
    load.add_argument("--dest", required=True)
    load.set_defaults(fn=cmd_load)

    cu = sub.add_parser(
        "curate",
        help="LLM-corpus curation over JSONL: normalize, quality-gate, "
        "language-filter, PII-redact, dedup",
    )
    cu.add_argument("--input", required=True, help="input JSONL path/dir")
    cu.add_argument("--output", required=True, help="output JSONL dir")
    cu.add_argument("--min-words", type=int, default=50)
    cu.add_argument(
        "--min-quality",
        type=float,
        default=None,
        help="classifier-gate threshold on quality_prob (off when omitted)",
    )
    cu.add_argument("--lang", help="keep only this predicted language (e.g. en)")
    cu.set_defaults(fn=cmd_curate)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
