"""CLI surface: the reference's four entry points driven end-to-end on tiny
TSV inputs (clinical → bundle → validate → load)."""

import pytest

import os

from iatlas_cbioportal_export_spark.cli import main


def _write_inputs(tmp_path):
    clinical = tmp_path / "clinical.tsv"
    clinical.write_text(
        "sample_name\tpatient_name\tTCGA_Study\tAMADEUS_Study\tDataset\tOS_STATUS\n"
        "s1\tp1\tSKCM\tmel\tDemo\t0\n"
        "s2\tp1\tSKCM\tmel\tDemo\t1\n"
        "s3\tp2\tLUAD\tlung\tDemo\t1\n"
    )
    oncotree = tmp_path / "oncotree.tsv"
    oncotree.write_text(
        "TCGA_Study\tAMADEUS_Study\tDataset\tONCOTREE_CODE\n"
        "SKCM\tmel\tDemo\tSKCM\n"
        "LUAD\tlung\tDemo\tLUAD\n"
    )
    codes = tmp_path / "codes.tsv"
    codes.write_text(
        "ONCOTREE_CODE\tCANCER_TYPE\tCANCER_TYPE_DETAILED\n"
        "SKCM\tMelanoma\tCutaneous Melanoma\n"
        "LUAD\tLung Cancer\tLung Adenocarcinoma\n"
    )
    maf_dir = tmp_path / "mafs"
    maf_dir.mkdir()
    (maf_dir / "x.maf").write_text(_full_width_maf())
    return clinical, oncotree, codes, maf_dir


def _full_width_maf() -> str:
    """A MAF carrying the reference's full 118-column schema
    (validate.py:14-133) so the CLI validate's V12 check passes — only the
    fields the pipeline/conformance checks read are populated."""
    from iatlas_cbioportal_export_spark.sources.maf_schema import REQUIRED_MAF_COLS

    rows = [
        {"Hugo_Symbol": "TP53", "Chromosome": "chr17", "Start_Position": "100",
         "End_Position": "101", "Reference_Allele": "A", "Tumor_Seq_Allele2": "G",
         "t_ref_count": "10", "t_alt_count": "5", "Tumor_Sample_Barcode": "s1"},
        {"Hugo_Symbol": "KRAS", "Chromosome": "chrM", "Start_Position": "200",
         "End_Position": "200", "Reference_Allele": "C", "Tumor_Seq_Allele2": "T",
         "t_ref_count": "8", "t_alt_count": "3", "Tumor_Sample_Barcode": "s2"},
        {"Hugo_Symbol": "EGFR", "Chromosome": "chr7", "Start_Position": "300",
         "End_Position": "300", "Reference_Allele": "G", "Tumor_Seq_Allele2": "A",
         "t_ref_count": "12", "t_alt_count": "6", "Tumor_Sample_Barcode": "s3"},
    ]
    lines = ["#version", "\t".join(REQUIRED_MAF_COLS)]
    for row in rows:
        lines.append("\t".join(row.get(c, "") for c in REQUIRED_MAF_COLS))
    return "\n".join(lines) + "\n"


def test_cli_clinical_validate_load_roundtrip(spark, tmp_path):
    clinical, oncotree, codes, maf_dir = _write_inputs(tmp_path)
    bundle = str(tmp_path / "bundle")

    rc = main(
        [
            "clinical",
            "--clinical", str(clinical),
            "--oncotree", str(oncotree),
            "--codes", str(codes),
            "--dataset", "Demo",
            "--out", bundle,
        ]
    )
    assert rc == 0
    assert os.path.exists(os.path.join(bundle, "data_clinical_sample.txt"))

    rc = main(["maf", "--maf-folder", str(maf_dir), "--out", bundle])
    assert rc == 0
    maf_out = os.path.join(bundle, "data_mutations_extended")
    assert any(f.endswith(".csv") for f in os.listdir(maf_out))

    rc = main(["validate", "--bundle", bundle])
    assert rc == 0

    dest = str(tmp_path / "store")
    rc = main(["load", "--bundle", bundle, "--dest", dest])
    assert rc == 0
    assert os.path.exists(os.path.join(dest, "meta_study.txt"))


def test_cli_validate_fails_on_missing_file(tmp_path):
    assert main(["validate", "--bundle", str(tmp_path / "nope")]) == 1


def test_cli_full_pipeline_reference_gate(spark, tmp_path):
    """r10 (VERDICT #5): ONE chained run of the REAL CLI over a synthetic
    study — clinical → maf → validate → load — where load lands the bundle
    in a datahub-shaped store and generates the load-stage case lists the
    reference's ``write_case_lists_all_and_sequenced`` would
    (``load.py:12-35``). The LOADED bundle must gate clean under BOTH our
    ``validate`` command and the reference's own ``validate_export_files``
    + ``ErrorFlagHandler`` (``clinical.py:765-839``)."""
    import logging
    from unittest import mock

    from tests import test_reference_differential as refdiff

    ref = refdiff._load_reference_clinical()
    if ref is None:
        pytest.skip(refdiff.skip_reason)

    clinical, oncotree, codes, maf_dir = _write_inputs(tmp_path)
    bundle = str(tmp_path / "bundle")
    assert main(
        ["clinical", "--clinical", str(clinical), "--oncotree", str(oncotree),
         "--codes", str(codes), "--dataset", "Demo", "--out", bundle,
         "--reference-artifacts"]
    ) == 0
    assert main(
        ["maf", "--maf-folder", str(maf_dir), "--out", bundle,
         "--dataset", "Demo"]
    ) == 0
    assert main(["validate", "--bundle", bundle]) == 0

    # load into the datahub layout the reference validator resolves
    # ({datahub}/add-clinical-header/{dataset})
    datahub = tmp_path / "datahub"
    ach = datahub / "add-clinical-header"
    os.makedirs(ach)
    dest = str(ach / "Demo")
    assert main(["load", "--bundle", bundle, "--dest", dest]) == 0

    # load generated the case lists the reference's load stage writes;
    # cases_sequenced is the J5 semi-join of clinical samples vs surviving
    # (post-chrM-filter) mutation barcodes
    for f in ("cases_all.txt", "cases_sequenced.txt"):
        assert os.path.exists(os.path.join(dest, "case_lists", f)), f
    with open(os.path.join(dest, "case_lists", "cases_sequenced.txt")) as fh:
        seq_ids = fh.read().splitlines()[-1].split(": ")[1].split("\t")
    assert seq_ids == ["s1", "s3"]  # s2's only variant is chrM-filtered

    # our validate gates the LOADED copy green too
    assert main(["validate", "--bundle", dest]) == 0

    # the reference's own validator accepts the loaded bundle as a drop-in
    flagger = ref.utils.ErrorFlagHandler()
    logger = logging.getLogger("cli_pipeline_gate")
    logger.handlers = [flagger]
    logger.propagate = False
    with mock.patch.object(
        ref.syn, "get", return_value=mock.Mock(path=str(clinical))
    ):
        ref.validate_export_files(
            input_df_synid="synX",
            dataset_name="Demo",
            datahub_tools_path=str(datahub),
            logger=logger,
        )
    assert flagger.had_error is False


def test_cli_clinical_with_mapping_splits_patient_attrs(spark, tmp_path):
    # --mapping drives header renames + the PATIENT/SAMPLE attribute split
    # (reference clinical.py:334-340, 381-395): os_status is renamed to
    # OS_STATUS and lands in the PATIENT file, not the sample file.
    clinical = tmp_path / "clinical.tsv"
    clinical.write_text(
        "sample_name\tpatient_name\tTCGA_Study\tAMADEUS_Study\tDataset\tos_status\n"
        "s1\tp1\tSKCM\tmel\tDemo\t0\n"
        "s2\tp1\tSKCM\tmel\tDemo\t1\n"
    )
    oncotree = tmp_path / "oncotree.tsv"
    oncotree.write_text(
        "TCGA_Study\tAMADEUS_Study\tDataset\tONCOTREE_CODE\nSKCM\tmel\tDemo\tSKCM\n"
    )
    codes = tmp_path / "codes.tsv"
    codes.write_text(
        "ONCOTREE_CODE\tCANCER_TYPE\tCANCER_TYPE_DETAILED\n"
        "SKCM\tMelanoma\tCutaneous Melanoma\n"
    )
    mapping = tmp_path / "mapping.tsv"
    mapping.write_text(
        "iATLAS_attribute\tNORMALIZED_HEADER\tATTRIBUTE_TYPE\tCase\n"
        "os_status\tOS_STATUS\tPATIENT\t\n"
        "TCGA_Study\tTCGA_STUDY\tSAMPLE\tCAPS\n"
    )
    bundle = str(tmp_path / "bundle")
    rc = main(
        [
            "clinical",
            "--clinical", str(clinical),
            "--oncotree", str(oncotree),
            "--codes", str(codes),
            "--mapping", str(mapping),
            "--dataset", "Demo",
            "--out", bundle,
        ]
    )
    assert rc == 0
    patient = open(os.path.join(bundle, "data_clinical_patient.txt")).read()
    sample = open(os.path.join(bundle, "data_clinical_sample.txt")).read()
    assert "OS_STATUS" in patient
    assert "OS_STATUS" not in sample
    assert "TCGA_STUDY" in sample


def test_cli_curate_jsonl_roundtrip(tmp_path, spark):
    import json

    from iatlas_cbioportal_export_spark.cli import main

    good = "the and " + " ".join(f"tok{i}" for i in range(60))
    docs = [
        {"doc_id": 1, "text": good + " reach me at a@b.io"},
        {"doc_id": 2, "text": good + " reach me at a@b.io"},   # exact dup of 1 post-redaction
        {"doc_id": 3, "text": "too short"},                     # fails word gate
        {"doc_id": 4, "text": good + " unique tail"},
    ]
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs))
    out_dir = str(tmp_path / "out")
    rc = main(
        ["curate", "--input", str(src), "--output", out_dir, "--min-words", "50",
         "--lang", "en"]
    )
    assert rc == 0
    kept = [
        json.loads(line)
        for p in __import__("pathlib").Path(out_dir).glob("part-*")
        for line in p.read_text().splitlines()
    ]
    by_id = {d["doc_id"]: d["text"] for d in kept}
    assert set(by_id) == {1, 4}  # 2 deduped (keep-min), 3 gated out
    assert "<EMAIL>" in by_id[1] and "a@b.io" not in by_id[1]


def _make_bundle(tmp_path):
    clinical, oncotree, codes, maf_dir = _write_inputs(tmp_path)
    bundle = str(tmp_path / "vbundle")
    assert main(
        ["clinical", "--clinical", str(clinical), "--oncotree", str(oncotree),
         "--codes", str(codes), "--dataset", "Demo", "--out", bundle]
    ) == 0
    assert main(["maf", "--maf-folder", str(maf_dir), "--out", bundle,
                 "--dataset", "Demo"]) == 0
    return bundle


def test_cli_validate_full_bundle(spark, tmp_path, capsys):
    """The reference validate.py main flow end-to-end: clinical+maf bundle →
    V1 presence, fused clinical profiles, V12 118-col MAF check, value
    conformance, maf-barcodes⊆samples, V13 neoantigen keyset."""
    bundle = _make_bundle(tmp_path)
    # Neoantigen summary matching the POST-chrM-drop barcodes (s1, s3).
    neo = tmp_path / "neo.tsv"
    neo.write_text("Sample_ID\tneoantigen_count\ns1\t4\ns3\t2\n")
    rc = main(["validate", "--bundle", bundle, "--neoantigen", str(neo)])
    out = capsys.readouterr().out
    assert rc == 0
    for check in (
        "file_present_meta_study.txt",
        "file_present_data_mutations_extended",
        "no_duplicate_patient_id_patient",
        "no_duplicate_sample_id_sample",
        "sample_patients_in_patient_table",
        "maf_required_columns",
        "maf_chromosome_vocabulary",
        "maf_barcodes_in_clinical",
        "neoantigen_maf_ids_equal",
    ):
        assert check in out, check
    # Missing pass-throughs are WARN by default, not ERROR.
    assert "WARN" in out


def test_cli_validate_neoantigen_mismatch_fails(spark, tmp_path):
    bundle = _make_bundle(tmp_path)
    neo = tmp_path / "neo.tsv"
    neo.write_text("Sample_ID\tneoantigen_count\ns1\t4\nsX\t9\n")  # sX extra, s3 missing
    assert main(["validate", "--bundle", bundle, "--neoantigen", str(neo)]) == 1


def test_cli_validate_strict_requires_passthroughs(spark, tmp_path):
    bundle = _make_bundle(tmp_path)
    assert main(["validate", "--bundle", bundle, "--strict"]) == 1


def test_cli_validate_exit_code_matches_printed_rows(spark, tmp_path, capsys):
    """validate prints one tab-separated line per finding and exits 1
    exactly when a printed row is ERROR: a repeated sample row is the one
    planted ERROR."""
    from iatlas_cbioportal_export_spark.operators.validation import FINDINGS_COLUMNS

    bundle = _make_bundle(tmp_path)
    path = os.path.join(bundle, "data_clinical_sample.txt")
    with open(path) as fh:
        last = fh.read().splitlines()[-1]
    with open(path, "a") as fh:
        fh.write(last + "\n")
    rc = main(["validate", "--bundle", bundle])
    lines = capsys.readouterr().out.splitlines()
    rows = [ln.split("\t") for ln in lines if ln.count("\t") == 4]
    assert rows[0] == FINDINGS_COLUMNS
    assert {r[1] for r in rows[1:]} <= {"OK", "WARN", "ERROR"}
    errors = [r for r in rows[1:] if r[1] == "ERROR"]
    assert [r[0] for r in errors] == ["no_duplicate_sample_id_sample"]
    assert errors[0][2:4] == ["1", "0"]
    assert rc == 1


@pytest.mark.slow
def test_cli_validate_passthrough_matrix_checks(spark, tmp_path, capsys):
    bundle = _make_bundle(tmp_path)
    # Valid gene-signature matrix: sample columns ⊆ clinical samples → rc 0.
    with open(os.path.join(bundle, "data_gene_signatures.txt"), "w") as fh:
        fh.write("geneset_id\ts1\ts2\ts3\nIFNG_SIG\t0.1\t0.2\t0.3\n")
    rc = main(["validate", "--bundle", bundle])
    out = capsys.readouterr().out
    assert rc == 0
    assert "nonempty_data_gene_signatures.txt" in out
    assert "matrix_samples_in_clinical_data_gene_signatures.txt" in out
    # RNA-seq matrix referencing an unknown sample → ERROR.
    with open(os.path.join(bundle, "data_rna_seq_mrna.txt"), "w") as fh:
        fh.write("Hugo_Symbol\ts1\tsGHOST\nTP53\t1.5\t2.5\n")
    assert main(["validate", "--bundle", bundle]) == 1


@pytest.mark.slow
def test_cli_validate_chunked_maf_numeric_position_order(spark, tmp_path):
    """Regression: the chunked data_mutations_extended/ directory is read
    header-only (all strings), so Start/End ordering must compare
    NUMERICALLY. Lexicographically "99" > "100" (false positive on a valid
    row) and "100" < "99" (false negative on a real violation) — both
    directions are pinned here."""
    from iatlas_cbioportal_export_spark.sources.maf_schema import REQUIRED_MAF_COLS

    bundle = _make_bundle(tmp_path)
    maf_dir = os.path.join(bundle, "data_mutations_extended")

    def _rewrite_chunks(start: str, end: str) -> None:
        row = {
            "Hugo_Symbol": "TP53", "Chromosome": "chr17",
            "Start_Position": start, "End_Position": end,
            "Reference_Allele": "A", "Tumor_Seq_Allele2": "G",
            "t_ref_count": "10", "t_alt_count": "5",
            "Tumor_Sample_Barcode": "s1",
        }
        body = "\t".join(REQUIRED_MAF_COLS) + "\n" + "\t".join(
            row.get(c, "") for c in REQUIRED_MAF_COLS
        ) + "\n"
        for f in os.listdir(maf_dir):
            if f.endswith(".csv"):
                with open(os.path.join(maf_dir, f), "w") as fh:
                    fh.write(body)
            elif f.endswith(".crc"):
                # Stale Hadoop checksum sidecars would fail the re-read.
                os.remove(os.path.join(maf_dir, f))

    # Valid row whose string comparison would falsely flag it.
    _rewrite_chunks("99", "100")
    assert main(["validate", "--bundle", bundle]) == 0

    # Real violation whose string comparison would miss it.
    _rewrite_chunks("100", "99")
    assert main(["validate", "--bundle", bundle]) == 1


def test_cli_curate_min_quality_gate(tmp_path, spark):
    import json

    from iatlas_cbioportal_export_spark.cli import main

    # doc 1: english-looking, classifier prob high; doc 5: symbol soup long
    # enough to pass the word gate but with zero stopword/alpha signal.
    good = "the and of to " + " ".join(f"tok{i}" for i in range(60))
    junk = " ".join("@@@" for _ in range(60))
    docs = [
        {"doc_id": 1, "text": good},
        {"doc_id": 5, "text": junk},
    ]
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs))
    out_dir = str(tmp_path / "outq")
    rc = main(
        ["curate", "--input", str(src), "--output", out_dir,
         "--min-words", "50", "--min-quality", "0.5"]
    )
    assert rc == 0
    kept = {
        json.loads(line)["doc_id"]
        for p in __import__("pathlib").Path(out_dir).glob("part-*")
        for line in p.read_text().splitlines()
    }
    assert kept == {1}


def test_cli_clinical_reference_artifacts_mode(spark, tmp_path):
    """r9: --reference-artifacts writes the reference main()'s full
    per-dataset surface — data_clinical_merged.txt next to the two views,
    %.12g floats, key-sorted reproducible rows (two invocations byte-equal)."""
    clinical, oncotree, codes, _maf = _write_inputs(tmp_path)

    def run(out: str) -> None:
        rc = main(
            [
                "clinical",
                "--clinical", str(clinical),
                "--oncotree", str(oncotree),
                "--codes", str(codes),
                "--dataset", "Demo",
                "--out", out,
                "--reference-artifacts",
            ]
        )
        assert rc == 0

    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    run(b1)
    merged_path = os.path.join(b1, "data_clinical_merged.txt")
    assert os.path.exists(merged_path)
    with open(merged_path) as fh:
        lines = fh.read().splitlines()
    header, data = lines[0].split("\t"), lines[1:]
    # r10 (ADVICE): the reference drops the Dataset bookkeeping column
    # unconditionally before writing data_clinical_merged.txt
    # (clinical.py:615) — the canonical CLI input carries Dataset (the
    # oncotree join needs it), so the merged header must NOT retain it
    assert "Dataset" not in header
    sid = header.index("SAMPLE_ID")
    ids = [ln.split("\t")[sid] for ln in data]
    assert ids == sorted(ids) and len(ids) == 3
    # reproducibility: a second run produces byte-identical artifacts
    run(b2)
    for name in (
        "data_clinical_merged.txt",
        "data_clinical_patient.txt",
        "data_clinical_sample.txt",
    ):
        with open(os.path.join(b1, name), "rb") as fh:
            one = fh.read()
        with open(os.path.join(b2, name), "rb") as fh:
            two = fh.read()
        assert one == two, name


_GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def _plant_duplicate_sample(bundle):
    """Repeat the sample file's last row: the one planted ERROR."""
    path = os.path.join(bundle, "data_clinical_sample.txt")
    with open(path) as fh:
        last = fh.read().splitlines()[-1]
    with open(path, "a") as fh:
        fh.write(last + "\n")


@pytest.mark.parametrize("variant", ["plain", "neoantigen", "duplicate"])
def test_cli_validate_stdout_matches_golden(spark, tmp_path, capsys, variant):
    """`cli validate` prints the committed findings table byte for byte,
    rows in order, on the _make_bundle fixture: as is, with the neoantigen
    TSV, and with a repeated sample row."""
    bundle = _make_bundle(tmp_path)
    argv = ["validate", "--bundle", bundle]
    if variant == "neoantigen":
        neo = tmp_path / "neo.tsv"
        neo.write_text("Sample_ID\tneoantigen_count\ns1\t4\ns3\t2\n")
        argv += ["--neoantigen", str(neo)]
    if variant == "duplicate":
        _plant_duplicate_sample(bundle)
    capsys.readouterr()
    rc = main(argv)
    with open(os.path.join(_GOLDEN, f"cli_validate_{variant}.tsv")) as fh:
        assert capsys.readouterr().out == fh.read()
    assert rc == (1 if variant == "duplicate" else 0)


def _write_sample_file(bundle, rows):
    """A cBioPortal sample file (4 ``#`` header lines) with ``rows`` of
    (SAMPLE_ID, PATIENT_ID)."""
    header = "SAMPLE_ID\tPATIENT_ID"
    with open(os.path.join(bundle, "data_clinical_sample.txt"), "w") as fh:
        fh.write("".join(f"#{header}\n" for _ in range(4)) + header + "\n")
        fh.write("".join(f"{s}\t{p}\n" for s, p in rows))


def test_cli_load_lists_numeric_looking_sample_ids_verbatim(spark, tmp_path):
    """Sample ids that all look numeric stay strings: `007` and `7` are two
    case-list members, and load does not fail joining them."""
    bundle, dest = str(tmp_path / "bundle"), str(tmp_path / "store")
    os.makedirs(bundle)
    with open(os.path.join(bundle, "meta_study.txt"), "w") as fh:
        fh.write("cancer_study_identifier: iatlas_Num\n")
    _write_sample_file(bundle, [("007", "p1"), ("7", "p2")])
    assert main(["load", "--bundle", bundle, "--dest", dest]) == 0
    with open(os.path.join(dest, "case_lists", "cases_all.txt")) as fh:
        ids = fh.read().splitlines()[-1].split(": ")[1].split("\t")
    assert ids == ["007", "7"]


def test_cli_clinical_lists_numeric_looking_sample_ids_as_written(spark, tmp_path):
    """When every sample id looks numeric, clinical reads them as ints like
    pandas does, and each case list names the ids exactly as the sample
    file's SAMPLE_ID column spells them."""
    clinical, oncotree, codes, _ = _write_inputs(tmp_path)
    clinical.write_text(
        "sample_name\tpatient_name\tTCGA_Study\tAMADEUS_Study\tDataset\n"
        "007\tp1\tSKCM\tmel\tDemo\n"
        "7\tp2\tLUAD\tlung\tDemo\n"
        "12\tp2\tLUAD\tlung\tDemo\n"
    )
    bundle = tmp_path / "bundle"
    assert main(["clinical", "--clinical", str(clinical), "--oncotree",
                 str(oncotree), "--codes", str(codes), "--dataset", "Demo",
                 "--out", str(bundle)]) == 0
    rows = (bundle / "data_clinical_sample.txt").read_text().splitlines()[5:]
    written = sorted(row.split("\t")[0] for row in rows)

    def listed(name):
        line = (bundle / "case_lists" / name).read_text().splitlines()[-1]
        return line.split(": ")[1].split("\t")

    assert sorted(listed("cases_all.txt")) == written
    assert sorted(listed("cases_Melanoma.txt") + listed("cases_Lung_Cancer.txt")) == written


def test_cli_validate_distinct_numeric_looking_ids_are_no_duplicates(
    spark, tmp_path, capsys
):
    """`007`, `7` and `0007` are three sample ids, not one id three times."""
    bundle = _make_bundle(tmp_path)
    _write_sample_file(bundle, [("007", "p1"), ("7", "p1"), ("0007", "p2")])
    capsys.readouterr()
    main(["validate", "--bundle", bundle])
    lines = capsys.readouterr().out.splitlines()
    assert "no_duplicate_sample_id_sample\tOK\t0\t0\tduplicate key groups" in lines


def test_tsv_string_schema_reads_without_a_job(spark, tmp_path):
    """A read with the header-derived string schema submits no Spark job
    and names the columns as the csv source's own header read does, for a
    file and for a directory of part files."""
    from iatlas_cbioportal_export_spark.sources.readers import (
        read_tsv,
        tsv_string_schema,
    )

    text = "#version 2\n\na\t\tA\tb\n1\t2\t3\t4\n"
    single = tmp_path / "t.tsv"
    single.write_text(text)
    parts = tmp_path / "parts"
    parts.mkdir()
    (parts / "_SUCCESS").write_text("")
    (parts / "part-00000.csv").write_text(text)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for path in (str(single), str(parts)):
        sc.setJobGroup("read-probe", "declared-schema read probe")
        try:
            df = read_tsv(spark, path, tsv_string_schema(path, comment="#"), comment="#")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(tracker.getJobIdsForGroup("read-probe")) == []
        assert df.columns == read_tsv(spark, path, comment="#").columns
        assert df.collect() == [tuple("1234")]


def _validate_probe(spark, tmp_path, monkeypatch):
    """Run `cli validate --neoantigen` on the fixture under a job group and
    return (jobs in the group when the findings union is built, the
    findings frame)."""
    from iatlas_cbioportal_export_spark.operators import validation

    bundle = _make_bundle(tmp_path)
    neo = tmp_path / "neo.tsv"
    neo.write_text("Sample_ID\tneoantigen_count\ns1\t4\ns3\t2\n")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = {}

    def probe(findings):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seen["jobs"] = list(tracker.getJobIdsForGroup("validate-probe"))
        seen["findings"] = union(findings)
        return seen["findings"]

    union = validation.findings_union
    monkeypatch.setattr(validation, "findings_union", probe)
    sc.setJobGroup("validate-probe", "cli validate probe")
    try:
        assert main(["validate", "--bundle", bundle, "--neoantigen", str(neo)]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return seen["jobs"], seen["findings"]


def test_cli_validate_runs_no_job_before_its_collect(spark, tmp_path, monkeypatch):
    jobs, _ = _validate_probe(spark, tmp_path, monkeypatch)
    assert jobs == []


def test_cli_validate_scans_each_file_once(spark, tmp_path, monkeypatch):
    """The findings plan reads each of the four files (patient, sample,
    the MAF directory, neoantigen) with one scan."""
    _, findings = _validate_probe(spark, tmp_path, monkeypatch)
    plan = findings._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan alone, not the initial one too
    assert plan.toString().count("FileScan csv") == 4, plan.toString()
