"""The findings contract: every public validator returns exactly
``FINDINGS_COLUMNS`` typed (string, string, bigint, bigint, string), and
every status is OK, WARN or ERROR."""

import inspect

from iatlas_cbioportal_export_spark.operators import validation as v

# Public functions of the module that are not findings validators.
_NOT_VALIDATORS = {
    "findings_union",
    "constraint_suite",  # its own (rule, kind, violations, total, status)
    "parse_meta_text",
}
_TYPES = ["string", "string", "bigint", "bigint", "string"]


def _validators(spark, tmp_path):
    a = spark.createDataFrame(
        [("s1", "p1"), ("s2", None), ("s2", "p2")],
        "SAMPLE_ID string, PATIENT_ID string",
    )
    b = spark.createDataFrame([("s1",)], "SAMPLE_ID string")
    patients = spark.createDataFrame([("p1",), ("p9",)], "PATIENT_ID string")
    maf = spark.createDataFrame(
        [("chr1", "A", "A", 5, 3, "s1")],
        "Chromosome string, Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Start_Position long, End_Position long, Tumor_Sample_Barcode string",
    )
    clinical = spark.createDataFrame(
        [("p 1", "s1", "1")], "PATIENT_ID string, SAMPLE_ID string, OS_STATUS string"
    )
    metas = spark.createDataFrame(
        [
            ("meta_study", "x", None, None, None, None),
            ("meta_m", "y", "MUTATION_EXTENDED", "MAF", "m", "data_m.txt"),
        ],
        "meta_name string, cancer_study_identifier string, "
        "genetic_alteration_type string, datatype string, stable_id string, "
        "data_filename string",
    )
    files = spark.createDataFrame([("data_x.txt",)], "filename string")
    attrs = spark.createDataFrame(
        [("f", "PATIENT_ID", "", "d", "WORD", "x", True)],
        "filename string, column_id string, display_name string, "
        "description string, datatype string, priority string, arity_ok boolean",
    )
    return {
        "count_equality": v.count_equality(a, b),
        "no_duplicate_rows": v.no_duplicate_rows(a, ["SAMPLE_ID"]),
        "keyset_preserved": v.keyset_preserved(a, "SAMPLE_ID", b, "SAMPLE_ID"),
        "file_presence_findings": v.file_presence_findings(
            spark, str(tmp_path), ["absent.txt"], ["optional.txt"]
        ),
        "required_columns_present": v.required_columns_present(a, ["SAMPLE_ID", "X"]),
        "schema_matches_exactly": v.schema_matches_exactly(a, ["SAMPLE_ID"]),
        "maf_value_conformance": v.maf_value_conformance(maf),
        "table_profile_checks": v.table_profile_checks(
            a,
            count_check="rows",
            distinct_cols=["SAMPLE_ID"],
            no_null_cols=["PATIENT_ID"],
            all_null_cols=a.columns,
        ),
        "keyed_dup_and_distinct_checks": v.keyed_dup_and_distinct_checks(
            a, "SAMPLE_ID", distinct_check="distinct_samples"
        ),
        "clinical_value_conformance": v.clinical_value_conformance(clinical),
        "cross_file_referential_checks": v.cross_file_referential_checks(
            patients, a, data_files={"maf": (maf, "Tumor_Sample_Barcode")},
            case_lists={"all": b},
        ),
        "bundle_checks": v.bundle_checks(
            patients, a, maf, spark.createDataFrame([("s1",)], "Sample_ID string"),
            {"data_m.txt": spark.createDataFrame([("g", "1")], "Hugo_Symbol string, s9 string")},
        ),
        "meta_consistency_checks": v.meta_consistency_checks(metas, files),
        "clinical_header_conformance": v.clinical_header_conformance(attrs),
    }


def test_every_public_validator_is_covered(spark, tmp_path):
    public = {
        name
        for name, fn in vars(v).items()
        if inspect.isfunction(fn)
        and fn.__module__ == v.__name__
        and not name.startswith("_")
    }
    assert public - _NOT_VALIDATORS == set(_validators(spark, tmp_path))


def test_findings_schema_and_status_vocabulary(spark, tmp_path):
    frames = _validators(spark, tmp_path)
    for name, df in frames.items():
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        assert got == list(zip(v.FINDINGS_COLUMNS, _TYPES)), name
    suite = v.findings_union(list(frames.values()))
    assert suite.columns == v.FINDINGS_COLUMNS
    statuses = {r["status"] for r in suite.collect()}
    # the planted inputs exercise every status, and nothing else appears
    assert statuses == {"OK", "WARN", "ERROR"}
