"""Validation suite V1-V14 as lazy findings DataFrames (one action for the
whole suite)."""

import pytest

from iatlas_cbioportal_export_spark.operators.validation import (
    count_equality,
    findings_union,
    keyset_preserved,
    no_duplicate_rows,
    required_columns_present,
    table_profile_checks,
)


@pytest.mark.slow
def test_findings_ok_and_error(spark):
    a = spark.createDataFrame([("s1",), ("s2",)], "SAMPLE_ID string")
    b = spark.createDataFrame([("s1",)], "SAMPLE_ID string")
    findings = findings_union(
        [
            count_equality(a, b),                      # ERROR
            table_profile_checks(
                a, distinct_cols=["SAMPLE_ID"], no_null_cols=["SAMPLE_ID"],
                all_null_cols=a.columns,
            ),
            no_duplicate_rows(a),
            keyset_preserved(a, "SAMPLE_ID", b, "SAMPLE_ID", check="sets"),  # ERROR
            required_columns_present(a, ["SAMPLE_ID", "MISSING"], check="cols"),  # ERROR
        ]
    )
    rows = findings.collect()
    status = {r["check"]: r["status"] for r in rows}
    detail = {r["check"]: r["detail"] for r in rows}
    assert status["row_count_preserved"] == "ERROR"
    assert detail["row_count_preserved"] == "in=2 out=1"
    assert status["no_null_sample_id"] == "OK"
    assert status["sets"] == "ERROR" and detail["sets"] == "left_only=1 right_only=0"
    assert status["cols"] == "ERROR" and detail["cols"] == "missing: MISSING"
    assert status["no_all_null_columns"] == "OK"
    (ok,) = count_equality(a, a).collect()
    assert ok["status"] == "OK" and ok["detail"] == "in=2 out=2"


def test_null_key_finding(spark):
    df = spark.createDataFrame([("s1",), (None,)], "SAMPLE_ID string")
    (row,) = table_profile_checks(df, no_null_cols=["SAMPLE_ID"]).collect()
    assert row["status"] == "ERROR" and row["observed"] == 1
    assert row["detail"] == "null rows in SAMPLE_ID"


def test_all_null_column_detected(spark):
    df = spark.createDataFrame([("a", None), ("b", None)], "x string, dead string")
    (row,) = table_profile_checks(df, all_null_cols=df.columns).collect()
    assert row["status"] == "ERROR"
    assert row["detail"] == "all-null: dead"


def test_maf_value_conformance_rules(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        maf_value_conformance,
    )

    rows = [
        # chrom, ref, alt, start, end, t_ref, t_alt
        ("chr1", "A", "C", 10, 20, 5, 3),      # clean
        ("chr23", "A", "C", 10, 20, 5, 3),     # bad chromosome
        ("chrX", "A", "Z", 10, 20, 5, 3),      # bad allele alphabet
        ("chr2", "G", "G", 10, 20, 5, 3),      # ref == alt
        ("chr3", "A", "C", 30, 20, 5, 3),      # end < start
        ("chr4", "A", "C", 10, 20, -1, 3),     # negative count
        (None, None, None, None, None, None, None),  # nulls skipped
    ]
    df = spark.createDataFrame(
        rows,
        "Chromosome string, Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Start_Position long, End_Position long, t_ref_count long, t_alt_count long",
    )
    out = {r["check"]: (r["status"], r["observed"])
           for r in maf_value_conformance(df).collect()}
    assert out["maf_chromosome_vocabulary"] == ("ERROR", 1)
    assert out["maf_allele_alphabet"] == ("ERROR", 1)
    assert out["maf_ref_equals_alt"] == ("ERROR", 1)
    assert out["maf_position_order"] == ("ERROR", 1)
    assert out["maf_negative_allele_counts"] == ("ERROR", 1)


def test_maf_value_conformance_tier2_rules(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        maf_value_conformance,
    )

    base = ("chr1", 10, 10, "A", "C", 5, 3)
    rows = [
        # (..., build, vt, barcode, mstatus)
        base + ("GRCh37", "SNP", "TCGA-01", "Somatic"),        # clean
        base + ("hg20", None, "TCGA-02", "Somatic"),           # bad build
        base + ("hg19", "SNV", "TCGA-03", "Somatic"),          # bad vt vocab
        # INS whose alleles contradict it (ref not '-', alt not longer)
        base + ("38", "INS", "TCGA-04", "Somatic"),
        # DEL with equal-length alleles (alt not '-', ref not longer)
        base + ("38", "DEL", "TCGA-05", "Somatic"),
        # SNP with end != start → span rule, alleles themselves fine
        ("chr1", 10, 12, "A", "C", 5, 3, "37", "SNP", "TCGA-06", "Somatic"),
        # DEL span: end-start+1=3 but len(ref)=2
        ("chr1", 10, 12, "AC", "-", 5, 3, "37", "DEL", "TCGA-07", "Somatic"),
        base + ("GRCh38", "SNP", "TCGA 08", "Somatic"),        # space in barcode
        base + ("GRCh38", "SNP", "TCGA-09", "Speculative"),    # bad status
        base + ("GRCh38", "SNP", "TCGA-10", "SOMATIC"),        # case-insensitive OK
        # NULL tier-2 fields are skipped by every tier-2 rule
        base + (None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "Chromosome string, Start_Position long, End_Position long, "
        "Reference_Allele string, Tumor_Seq_Allele2 string, "
        "t_ref_count long, t_alt_count long, NCBI_Build string, "
        "Variant_Type string, Tumor_Sample_Barcode string, "
        "Mutation_Status string",
    )
    out = {r["check"]: (r["status"], r["observed"])
           for r in maf_value_conformance(df).collect()}
    assert out["maf_ncbi_build"] == ("ERROR", 1)
    assert out["maf_variant_type_vocabulary"] == ("ERROR", 1)
    assert out["maf_allele_vs_variant_type"] == ("ERROR", 2)
    assert out["maf_position_allele_span"] == ("ERROR", 2)
    assert out["maf_barcode_format"] == ("ERROR", 1)
    assert out["maf_mutation_status_vocabulary"] == ("ERROR", 1)
    assert out["maf_positive_start"] == ("OK", 0)  # unconditional tier-3 rule
    assert len(out) == 12


def test_maf_value_conformance_tier2_skipped_without_columns(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        maf_value_conformance,
    )

    df = spark.createDataFrame(
        [("chr1", "A", "C", 10, 20, 5, 3)],
        "Chromosome string, Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Start_Position long, End_Position long, t_ref_count long, t_alt_count long",
    )
    out = [r["check"] for r in maf_value_conformance(df).collect()]
    # column-gated tier-2/3 rules absent; only the 5 tier-1 rules plus the
    # unconditional positive-start rule remain
    assert len(out) == 6


def test_maf_value_conformance_tier3_rules(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        maf_value_conformance,
    )

    base = ("chr1", 10, 10, "A", "C")
    rows = [
        # (..., entrez, valstatus, verstatus, strand, hgvsp)
        base + ("7157", "Valid", "Verified", "+", "p.V600E"),   # clean
        base + ("-1", "Valid", "Verified", "-", "p.V600E"),     # bad entrez
        base + ("12x", "INVALID", "unknown", "+", ""),          # bad entrez;
        #  case-insensitive statuses OK; empty HGVSp skipped
        base + ("5", "Sketchy", "Maybe", "*", "V600E"),         # bad status,
        #  verification, strand, and missing p. prefix
        base + (None, None, None, None, None),                  # nulls skipped
    ]
    df = spark.createDataFrame(
        rows,
        "Chromosome string, Start_Position long, End_Position long, "
        "Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Entrez_Gene_Id string, Validation_Status string, "
        "Verification_Status string, Strand string, HGVSp_Short string",
    )
    out = {r["check"]: (r["status"], r["observed"])
           for r in maf_value_conformance(df).collect()}
    assert out["maf_entrez_gene_id_format"] == ("ERROR", 2)
    assert out["maf_validation_status_vocabulary"] == ("ERROR", 1)
    assert out["maf_verification_status_vocabulary"] == ("ERROR", 1)
    assert out["maf_positive_start"] == ("OK", 0)
    assert out["maf_strand_symbol"] == ("ERROR", 1)
    assert out["maf_hgvsp_prefix"] == ("ERROR", 1)


def test_maf_variant_classification_vocabulary(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        maf_value_conformance,
    )

    df = spark.createDataFrame(
        [
            ("chr1", 10, 10, "A", "C", "Missense_Mutation"),
            ("chr1", 10, 10, "A", "C", "3'UTR"),        # apostrophe class OK
            ("chr1", 10, 10, "A", "C", "Bad_Class"),    # out of vocabulary
            ("chr1", 10, 10, "A", "C", ""),             # blank skipped
            ("chr1", 10, 10, "A", "C", None),           # null skipped
        ],
        "Chromosome string, Start_Position long, End_Position long, "
        "Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Variant_Classification string",
    )
    out = {r["check"]: (r["status"], r["observed"])
           for r in maf_value_conformance(df).collect()}
    assert out["maf_variant_classification_vocabulary"] == ("ERROR", 1)


def test_maf_value_conformance_all_ok(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        maf_value_conformance,
    )

    df = spark.createDataFrame(
        [("chr1", "A", "C", 10, 20, 5, 3), ("MT", "GG", "-", 1, 1, 0, 0)],
        "Chromosome string, Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Start_Position long, End_Position long, t_ref_count long, t_alt_count long",
    )
    statuses = {r["check"]: r["status"] for r in maf_value_conformance(df).collect()}
    assert set(statuses.values()) == {"OK"}


@pytest.mark.slow
def test_table_profile_checks_matches_individual_ops(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        count_equality,
        findings_union,
        table_profile_checks,
    )

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (2, None, None)],
        "k long, v string, dead string",
    )
    fused = table_profile_checks(
        df,
        count_check="row_count_preserved",
        distinct_cols=["k"],
        no_null_cols=["k", "v"],
        all_null_cols=["k", "v", "dead"],
    ).collect()
    individual = findings_union(
        [
            count_equality(df, df),
            table_profile_checks(df, distinct_cols=["k"]),
            table_profile_checks(df, no_null_cols=["k"]),
            table_profile_checks(df, no_null_cols=["v"]),
            table_profile_checks(df, all_null_cols=["k", "v", "dead"]),
        ]
    ).collect()
    assert sorted(map(tuple, fused)) == sorted(map(tuple, individual))
    by_check = {r["check"]: r for r in fused}
    assert by_check["no_null_v"]["status"] == "ERROR"
    assert by_check["no_all_null_columns"]["detail"] == "all-null: dead"


def test_keyed_dup_and_distinct_checks(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        keyed_dup_and_distinct_checks,
    )

    df = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k long")
    out = {r["check"]: r for r in keyed_dup_and_distinct_checks(
        df, "k", distinct_check="distinct_k_preserved", dup_check="no_dup_k"
    ).collect()}
    assert out["distinct_k_preserved"]["observed"] == 3
    assert out["distinct_k_preserved"]["status"] == "OK"
    assert out["no_dup_k"]["observed"] == 1
    assert out["no_dup_k"]["status"] == "ERROR"


def test_constraint_suite_all_kinds(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        constraint_suite,
    )

    df = spark.createDataFrame(
        [
            (1, 5, "A", "aa", 1),
            (2, 60, "Z", "bb", 1),     # range violation (60 > 50)
            (None, 5, "A", "cc", 2),   # not_null violation
            (4, None, "Q", "d!", 2),   # in_set + regex violations
            (4, 5, "A", "ee", 99),     # fk violation (99 not in ref)
            (4, 5, "A", "ee", 1),      # duplicate (k, s) with row above? no: unique on (k,txt)
        ],
        "k long, q long, flag string, txt string, ref_id long",
    )
    ref = spark.createDataFrame([(1,), (2,)], "rid long")
    rules = [
        {"kind": "not_null", "col": "k"},
        {"kind": "range", "col": "q", "min": 1, "max": 50},
        {"kind": "in_set", "col": "flag", "values": ["A", "Z"]},
        {"kind": "regex", "col": "txt", "pattern": "^[a-z]+$"},
        {"kind": "custom", "expr": "q < 100", "name": "q_lt_100"},
        {"kind": "unique", "cols": ["k", "txt"]},
        {"kind": "min_rows", "threshold": 10},
        {"kind": "foreign_key", "col": "ref_id", "ref": ref,
         "ref_col": "rid"},
    ]
    out = {r["rule"]: r for r in constraint_suite(df, rules).collect()}
    assert out["not_null_k"]["violations"] == 1
    assert out["range_q"]["violations"] == 1          # null q doesn't violate
    assert out["in_set_flag"]["violations"] == 1
    assert out["regex_txt"]["violations"] == 1
    assert out["q_lt_100"]["violations"] == 0         # null q is unknown, not false
    assert out["unique_k_txt"]["violations"] == 1     # (4, ee) appears twice
    assert out["min_rows"]["violations"] == 4 and out["min_rows"]["status"] == "ERROR"
    assert out["fk_ref_id"]["violations"] == 1
    assert out["fk_ref_id"]["total"] == 6
    assert all(r["total"] == 6 for r in out.values())
    statuses = {r["rule"]: r["status"] for r in out.values()}
    assert statuses["q_lt_100"] == "OK" and statuses["regex_txt"] == "ERROR"


def test_constraint_suite_empty_table_and_bad_kind(spark):
    import pytest

    from iatlas_cbioportal_export_spark.operators.validation import (
        constraint_suite,
    )

    df = spark.createDataFrame([], "k long")
    out = {
        r["rule"]: r
        for r in constraint_suite(
            df,
            [
                {"kind": "not_null", "col": "k"},
                {"kind": "min_rows", "threshold": 3},
            ],
        ).collect()
    }
    # empty table: no null rows (sum over nothing = 0), min_rows trips
    assert out["not_null_k"]["violations"] == 0
    assert out["min_rows"]["violations"] == 3
    with pytest.raises(ValueError, match="unknown constraint kind"):
        constraint_suite(df, [{"kind": "nope"}])
    with pytest.raises(ValueError, match="at least one rule"):
        constraint_suite(df, [])


def test_clinical_value_conformance_rules(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        clinical_value_conformance,
    )

    rows = [
        ("P-1", "S-1", "62.5", "TRUE", "0:LIVING", "1:PROGRESSION"),   # clean
        ("P 2", "S-2", "NA", "false", "1:deceased", "0:censored"),    # bad pid;
        #  NA number legal; booleans/status case-insensitive
        ("P-3", "S 3", "-1e3", "na", "0:LIVING", "0:CENSORED"),       # bad sid;
        #  scientific number legal; 'na' boolean legal
        ("P-4", "S-4", "abc", "yes", "1", "progression"),             # bad age,
        #  boolean, raw unmapped OS, prefixless PFS
        (None, None, None, None, None, None),                          # skipped
    ]
    df = spark.createDataFrame(
        rows,
        "PATIENT_ID string, SAMPLE_ID string, AGE string, "
        "MSI_STATUS string, OS_STATUS string, PFS_STATUS string",
    )
    out = {r["check"]: (r["status"], r["observed"])
           for r in clinical_value_conformance(
               df, number_cols=["AGE"], boolean_cols=["MSI_STATUS"]
           ).collect()}
    assert out["clinical_patient_id_format"] == ("ERROR", 1)
    assert out["clinical_sample_id_format"] == ("ERROR", 1)
    assert out["clinical_number_age"] == ("ERROR", 1)
    assert out["clinical_boolean_msi_status"] == ("ERROR", 1)
    assert out["clinical_os_status_vocabulary"] == ("ERROR", 1)
    assert out["clinical_pfs_status_vocabulary"] == ("ERROR", 1)
    assert len(out) == 6


@pytest.mark.slow
def test_clinical_value_conformance_column_gating(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        clinical_value_conformance,
    )

    df = spark.createDataFrame([("P-1",)], "PATIENT_ID string")
    out = [r["check"] for r in clinical_value_conformance(
        df, number_cols=["AGE"], boolean_cols=["B"]
    ).collect()]
    assert out == ["clinical_patient_id_format"]


def test_cross_file_referential_checks(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        cross_file_referential_checks,
    )

    patients = spark.createDataFrame(
        [("P-1",), ("P-2",), ("P-3",)], "PATIENT_ID string"
    )
    # P-3 has no samples (WARN); S-2's patient P-9 is undefined (ERROR).
    samples = spark.createDataFrame(
        [("P-1", "S-1"), ("P-9", "S-2"), ("P-2", "S-3")],
        "PATIENT_ID string, SAMPLE_ID string",
    )
    maf = spark.createDataFrame(
        [("S-1",), ("S-1",), ("S-404",)], "Tumor_Sample_Barcode string"
    )
    case = spark.createDataFrame(
        [("S-1",), ("S-1",), ("S-3",), ("S-UNK",)], "member string"
    )
    out = {
        r["check"]: (r["status"], r["observed"])
        for r in cross_file_referential_checks(
            patients,
            samples,
            data_files={"maf": (maf, "Tumor_Sample_Barcode")},
            case_lists={"seq": case},
        ).collect()
    }
    assert out["xref_sample_patients_in_patient_file"] == ("ERROR", 1)
    assert out["xref_patients_have_samples"] == ("WARN", 1)
    assert out["xref_maf_samples_in_clinical"] == ("ERROR", 1)
    assert out["case_list_seq_members_in_clinical"] == ("ERROR", 1)
    assert out["case_list_seq_duplicate_members"] == ("ERROR", 1)
    assert len(out) == 5


def test_cross_file_referential_checks_clean_bundle(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        cross_file_referential_checks,
    )

    patients = spark.createDataFrame([("P-1",), ("P-2",)], "PATIENT_ID string")
    samples = spark.createDataFrame(
        [("P-1", "S-1"), ("P-2", "S-2")],
        "PATIENT_ID string, SAMPLE_ID string",
    )
    case = spark.createDataFrame([("S-1",), ("S-2",)], "member string")
    rows = cross_file_referential_checks(
        patients, samples, case_lists={"all": case}
    ).collect()
    assert all(r["status"] == "OK" for r in rows)
    assert len(rows) == 4


def test_parse_meta_text_roundtrips_renderer():
    from iatlas_cbioportal_export_spark.operators.validation import (
        parse_meta_text,
    )
    from iatlas_cbioportal_export_spark.sources.sinks import render_meta_file

    fields = {
        "cancer_study_identifier": "iatlas_x",
        "genetic_alteration_type": "CLINICAL",
        "datatype": "PATIENT_ATTRIBUTES",
        "data_filename": "data_clinical_patient.txt",
        "description": "a: colon-bearing value",
    }
    got = parse_meta_text("meta_clinical_patient.txt", render_meta_file(fields))
    assert got["meta_name"] == "meta_clinical_patient.txt"
    for k, v in fields.items():
        assert got[k] == v


@pytest.mark.slow
def test_meta_consistency_checks_planted_violations(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        meta_consistency_checks,
    )

    metas = spark.createDataFrame(
        [
            # meta_study: no alteration type / datatype / data file
            ("meta_study.txt", "iatlas_x", None, None, None, None),
            ("meta_clinical_patient.txt", "iatlas_x", "CLINICAL",
             "PATIENT_ATTRIBUTES", None, "data_clinical_patient.txt"),
            ("meta_clinical_sample.txt", "iatlas_x", "CLINICAL",
             "SAMPLE_ATTRIBUTES", None, "data_clinical_sample.txt"),
            # WRONG study id
            ("meta_mutations_extended.txt", "iatlas_y", "MUTATION_EXTENDED",
             "MAF", "mutations", "data_mutations_extended.txt"),
            # UNDEFINED datatype combination + duplicate stable_id +
            # data file missing from the bundle
            ("meta_rna.txt", "iatlas_x", "MRNA_EXPRESSION", "MAF",
             "mutations", "data_rna_seq.txt"),
        ],
        "meta_name string, cancer_study_identifier string, "
        "genetic_alteration_type string, datatype string, "
        "stable_id string, data_filename string",
    )
    bundle = spark.createDataFrame(
        [
            ("data_clinical_patient.txt",),
            ("data_clinical_sample.txt",),
            ("data_mutations_extended.txt",),
            ("data_orphan_matrix.txt",),  # no meta references it
            ("cases_sequenced.txt",),
            # cases_all.txt missing -> required-files violation
            ("meta_clinical_patient.txt",),
            ("meta_clinical_sample.txt",),
        ],
        "filename string",
    )
    got = {
        r["check"]: (r["status"], r["observed"])
        for r in meta_consistency_checks(metas, bundle).collect()
    }
    assert got["meta_study_id_uniform"] == ("ERROR", 1)
    assert got["meta_datatype_combination"] == ("ERROR", 1)
    assert got["meta_data_file_exists"] == ("ERROR", 1)
    assert got["meta_orphan_data_files"] == ("WARN", 1)
    assert got["meta_duplicate_stable_id"] == ("ERROR", 1)
    assert got["meta_required_files"] == ("ERROR", 1)
    # a listing with duplicate filenames must NOT double-count orphans:
    # the one-row-per-file contract is enforced by an internal distinct
    dup_bundle = bundle.union(
        spark.createDataFrame([("data_orphan_matrix.txt",)], "filename string")
    )
    got_dup = {
        r["check"]: (r["status"], r["observed"])
        for r in meta_consistency_checks(metas, dup_bundle).collect()
    }
    assert got_dup["meta_orphan_data_files"] == ("WARN", 1)


@pytest.mark.slow
def test_meta_consistency_checks_clean_bundle(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        REQUIRED_BUNDLE_FILES,
        meta_consistency_checks,
    )

    metas = spark.createDataFrame(
        [
            ("meta_clinical_patient.txt", "iatlas_x", "CLINICAL",
             "PATIENT_ATTRIBUTES", None, "data_clinical_patient.txt"),
            ("meta_clinical_sample.txt", "iatlas_x", "CLINICAL",
             "SAMPLE_ATTRIBUTES", None, "data_clinical_sample.txt"),
        ],
        "meta_name string, cancer_study_identifier string, "
        "genetic_alteration_type string, datatype string, "
        "stable_id string, data_filename string",
    )
    bundle = spark.createDataFrame(
        [(f,) for f in REQUIRED_BUNDLE_FILES], "filename string"
    )
    out = meta_consistency_checks(metas, bundle).collect()
    assert {r["status"] for r in out} == {"OK"}
    assert len(out) == 6


# ---------------------------------------------------------------------------
# clinical attribute-header conformance (round 7: the header tier)
# ---------------------------------------------------------------------------


def test_clinical_header_conformance_counts(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        clinical_header_conformance,
    )

    attrs = spark.createDataFrame(
        [
            # fine attribute
            ("f1", "PATIENT_ID", "Patient", "d", "STRING", "1", True),
            # bad datatype + bad priority + empty display
            ("f1", "AGE", "", "d", "FLOAT", "high", True),
            # duplicate column id within f1
            ("f1", "PATIENT_ID", "Patient", "d", "STRING", "1", True),
            # f2 ragged, missing PATIENT_ID
            ("f2", "COL", "C", "d", "NUMBER", "0", False),
        ],
        "filename string, column_id string, display_name string, "
        "description string, datatype string, priority string, "
        "arity_ok boolean",
    )
    got = {
        r["check"]: (r["status"], r["observed"])
        for r in clinical_header_conformance(attrs).collect()
    }
    assert got["header_datatype_vocabulary"] == ("ERROR", 1)
    assert got["header_priority_integer"] == ("ERROR", 1)
    assert got["header_duplicate_column_id"] == ("ERROR", 1)
    assert got["header_arity_mismatch"] == ("ERROR", 1)
    assert got["header_display_name_missing"] == ("WARN", 1)
    assert got["header_required_patient_id"] == ("ERROR", 1)


def test_clinical_header_conformance_all_ok(spark):
    from iatlas_cbioportal_export_spark.operators.validation import (
        clinical_header_conformance,
    )

    attrs = spark.createDataFrame(
        [
            ("f1", "PATIENT_ID", "Patient", "d", "STRING", "1", True),
            ("f1", "OS_MONTHS", "OS months", "d", "NUMBER", "2", True),
        ],
        "filename string, column_id string, display_name string, "
        "description string, datatype string, priority string, "
        "arity_ok boolean",
    )
    rows = clinical_header_conformance(attrs).collect()
    assert all(r["status"] == "OK" for r in rows)
    assert len(rows) == 6


def test_clinical_header_conformance_empty_input_all_ok(spark):
    # sum over zero rows is NULL in SQL; without the coalesce every
    # sum-based rule would mis-report ERROR/WARN with a NULL count on a
    # vacuously clean (empty) attribute table
    from iatlas_cbioportal_export_spark.operators.validation import (
        clinical_header_conformance,
    )

    attrs = spark.createDataFrame(
        [],
        "filename string, column_id string, display_name string, "
        "description string, datatype string, priority string, "
        "arity_ok boolean",
    )
    rows = clinical_header_conformance(attrs).collect()
    assert len(rows) == 6
    assert all(r["status"] == "OK" for r in rows)
    assert all(r["observed"] == 0 for r in rows)
