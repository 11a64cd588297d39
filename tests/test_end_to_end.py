"""End-to-end integration: the reference's full §3.1 + §3.2 + §3.3 flow in
one run — preprocess → patient/sample split → annotated MAF → bundle write →
read-back → validation suite — asserting the written study bundle passes the
same checks the reference gates on (V1-V7 analogues) with zero ERROR rows.
"""

import os


from iatlas_cbioportal_export_spark.operators.maf import (
    annotate,
    drop_chrm,
    fake_annotator,
    split_annotation_errors,
)
from iatlas_cbioportal_export_spark.operators.projections import (
    split_patient_sample,
)
from iatlas_cbioportal_export_spark.operators.validation import (
    count_equality,
    findings_union,
    keyset_preserved,
    table_profile_checks,
)
from iatlas_cbioportal_export_spark.plans.bundle import (
    write_load_stage_case_lists,
    write_mutations,
    write_study_bundle,
)
from iatlas_cbioportal_export_spark.plans.clinical_pipeline import (
    preprocess_clinical,
)
from iatlas_cbioportal_export_spark.sources.readers import (
    read_tsv_skip_cbioportal_header,
)


def _inputs(spark):
    clinical = spark.createDataFrame(
        [
            # (sample, study_sample, patient, study_patient, TCGA, AMADEUS,
            #  Dataset, os_status, os_days, cancer-ish code cols)
            ("s1", "pub1", "p1", None, "SKCM", "mel", "Anders_JITC_2022", 0, 200.0),
            ("s2-nd-x", None, "p1", "pp1", "SKCM", "mel", "Anders_JITC_2022", 1, 400.0),
            ("s3", "pub3", "p2", "pp2", "LUAD", "lung", "Other_DS", 1, 304.4),
            ("s4", None, "p3", None, "LUAD", "lung", "Other_DS", 2, None),
        ],
        "sample_name string, study_sample_name string, patient_name string, "
        "study_patient_name string, TCGA_Study string, AMADEUS_Study string, "
        "Dataset string, OS_STATUS int, OS_MONTHS double",
    )
    oncotree = spark.createDataFrame(
        [
            ("SKCM", "mel", "Anders_JITC_2022", "SKCM"),
            ("LUAD", "lung", "Other_DS", "LUAD"),
        ],
        "TCGA_Study string, AMADEUS_Study string, Dataset string, ONCOTREE_CODE string",
    )
    codes = spark.createDataFrame(
        [
            ("SKCM", "Melanoma", "Cutaneous Melanoma"),
            ("LUAD", "Lung Cancer", "Lung Adenocarcinoma"),
        ],
        "ONCOTREE_CODE string, CANCER_TYPE string, CANCER_TYPE_DETAILED string",
    )
    maf = spark.createDataFrame(
        [
            ("TP53", "chr17", 100, "pub1", 10, 30),
            ("KRAS", "chrM", 200, "pub1", 5, 20),  # dropped by P2
            ("EGFR", "chr7", 300, "pub3", 8, 40),
        ],
        "Hugo_Symbol string, Chromosome string, Start_Position long, "
        "Tumor_Sample_Barcode string, t_alt_count long, t_ref_count long",
    )
    return clinical, oncotree, codes, maf


def test_full_study_export_flow(spark, tmp_path):
    clinical, oncotree, codes, maf = _inputs(spark)

    # §3.1 preprocess (one DAG) — J1, F4, P1, F3, F5, F1, J4
    pre = preprocess_clinical(clinical, oncotree, oncotree_codes=codes)
    rows = {r["SAMPLE_ID"]: r for r in pre.collect()}
    # P1 dropped the Anders '-nd-' sample; F4 preferred study ids
    assert set(rows) == {"pub1", "s4", "pub3"}
    assert rows["pub1"]["OS_STATUS"] == "0:LIVING"
    assert rows["s4"]["OS_STATUS"] == "2"  # unmapped passthrough
    assert rows["pub3"]["OS_MONTHS"] == 10.0  # 304.4 / 30.44
    assert rows["pub1"]["CANCER_TYPE"] == "Melanoma"  # J4 expansion

    # split into patient / sample views (P4 + A7)
    attr_types = {"OS_STATUS": "PATIENT", "OS_MONTHS": "PATIENT",
                  "TCGA_Study": "SAMPLE", "AMADEUS_Study": "SAMPLE"}
    patient, sample = split_patient_sample(pre, attr_types)

    # §3.2 MAF: annotate (mapInPandas fake) → error split → chrM filter
    annotated = annotate(maf, annotator=fake_annotator)
    ok, failed = split_annotation_errors(annotated)
    assert failed.count() == 0
    mutations = drop_chrm(ok)
    assert mutations.count() == 2

    # §3.1/6-7 bundle write, as the clinical, maf and load commands write it
    out = str(tmp_path / "study")
    artifacts = write_study_bundle(
        out, "IT_2026", patient, sample,
        attr_meta={"OS_STATUS": {"display_name": "Overall Survival Status"}},
    )
    artifacts.update(write_mutations(out, "iatlas_IT_2026", mutations, 40_000))
    artifacts.update(write_load_stage_case_lists(spark, out))

    # V1: required artifacts exist
    for name in (
        "data_clinical_patient.txt",
        "data_clinical_sample.txt",
        "meta_study.txt",
        "case_lists/cases_all.txt",
        "case_lists/cases_sequenced.txt",
    ):
        assert os.path.exists(artifacts[name]), name

    # read the written bundle back (S3 inverse) and run the validation suite
    sample_back = read_tsv_skip_cbioportal_header(
        spark, artifacts["data_clinical_sample.txt"]
    )
    patient_back = read_tsv_skip_cbioportal_header(
        spark, artifacts["data_clinical_patient.txt"]
    )
    findings = findings_union(
        [
            count_equality(sample, sample_back),                      # V2
            keyset_preserved(sample, "SAMPLE_ID", sample_back, "SAMPLE_ID"),  # V3
            keyset_preserved(patient, "PATIENT_ID", patient_back, "PATIENT_ID"),  # V4
            table_profile_checks(
                sample_back,
                no_null_cols=["SAMPLE_ID", "PATIENT_ID"],             # V5/V6
                all_null_cols=sample_back.columns,                    # V7
            ),
        ]
    )
    assert findings.filter("status = 'ERROR'").count() == 0, findings.collect()

    # cases_sequenced = J5 semi-join of written clinical vs mutation barcodes
    with open(artifacts["case_lists/cases_sequenced.txt"]) as fh:
        ids = fh.read().splitlines()[-1].split(": ")[1].split("\t")
    assert sorted(ids) == ["pub1", "pub3"]
