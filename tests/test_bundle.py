"""Study-bundle writer: complete per-dataset output surface (SURVEY.md §3.1)."""

import os

import pytest

from iatlas_cbioportal_export_spark.plans.bundle import (
    write_load_stage_case_lists,
    write_mutations,
    write_study_bundle,
)
from iatlas_cbioportal_export_spark.session import job_label
from iatlas_cbioportal_export_spark.sources.readers import (
    read_tsv_skip_cbioportal_header,
)


def _fixtures(spark):
    patient = spark.createDataFrame(
        [
            ("P1", "F", None),
            ("P2", "M", None),
        ],
        "PATIENT_ID string, SEX string, DEAD_COL string",
    )
    sample = spark.createDataFrame(
        [
            ("S1", "P1", "Melanoma"),
            ("S2", "P1", "Lung Cancer"),
            ("S3", "P2", "Melanoma"),
            ("S4", "P2", None),
        ],
        "SAMPLE_ID string, PATIENT_ID string, CANCER_TYPE string",
    )
    maf = spark.createDataFrame(
        [
            ("TP53", "chr17", "S1"),
            ("KRAS", "chr12", "S1"),
            ("EGFR", "chr7", "S3"),
            ("BRAF", "chr7", "SX"),  # barcode not in clinical
        ],
        "Hugo_Symbol string, Chromosome string, Tumor_Sample_Barcode string",
    )
    return patient, sample, maf


def test_bundle_structure_and_roundtrip(spark, tmp_path):
    patient, sample, maf = _fixtures(spark)
    out = str(tmp_path / "bundle")
    attr_meta = {"SEX": {"display_name": "Sex", "datatype": "STRING", "priority": 1}}
    artifacts = write_study_bundle(out, "Demo_2026", patient, sample, attr_meta=attr_meta)
    # the maf and load commands add the mutation artifacts and cases_sequenced
    artifacts.update(write_mutations(out, "iatlas_Demo_2026", maf, 40_000))
    artifacts.update(write_load_stage_case_lists(spark, out))

    expected = {
        "data_clinical_patient.txt",
        "data_clinical_sample.txt",
        "meta_clinical_patient.txt",
        "meta_clinical_sample.txt",
        "meta_study.txt",
        "data_mutations_extended",
        "meta_mutations_extended.txt",
        "case_lists/cases_all.txt",
        "case_lists/cases_sequenced.txt",
        "case_lists/cases_Melanoma.txt",
        "case_lists/cases_Lung_Cancer.txt",
        "case_lists/cases_no_oncotree_code.txt",
    }
    assert expected <= set(artifacts)
    for path in artifacts.values():
        assert os.path.exists(path)

    # 4 '#' header lines + column header + rows; all-null DEAD_COL pruned (P5)
    with open(artifacts["data_clinical_patient.txt"]) as fh:
        lines = fh.read().splitlines()
    assert [ln[0] for ln in lines[:4]] == ["#"] * 4
    assert lines[0] == "#PATIENT_ID\tSex"
    assert lines[4].split("\t") == ["PATIENT_ID", "SEX"]
    assert len(lines) == 4 + 1 + 2

    # S3 inverse scan round-trips the data under the headers
    back = read_tsv_skip_cbioportal_header(
        spark, artifacts["data_clinical_sample.txt"]
    )
    assert back.count() == 4
    assert set(back.columns) == {"SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE"}

    # case lists: cases_all covers every sample; sequenced = J5 semi-join
    with open(artifacts["case_lists/cases_all.txt"]) as fh:
        assert fh.read().splitlines()[-1] == "case_list_ids: S1\tS2\tS3\tS4"
    with open(artifacts["case_lists/cases_sequenced.txt"]) as fh:
        body = fh.read()
    assert body.splitlines()[-1] == "case_list_ids: S1\tS3"
    assert "cancer_study_identifier: iatlas_Demo_2026" in body

    with open(artifacts["meta_study.txt"]) as fh:
        meta = fh.read()
    assert "reference_genome: hg38" in meta
    assert "cancer_study_identifier: iatlas_Demo_2026" in meta


def test_bundle_maf_chunking(spark, tmp_path):
    patient, sample, maf = _fixtures(spark)
    out = str(tmp_path / "bundle2")
    write_mutations(out, "iatlas_Demo_2026", maf, 2)
    maf_dir = os.path.join(out, "data_mutations_extended")
    parts = [f for f in os.listdir(maf_dir) if f.endswith(".csv")]
    # 4 rows at ≤2 rows/file → ≥2 part files (ceil-division, maf.py:43,63)
    assert len(parts) >= 2


def test_bundle_and_load_stage_case_lists_bytes(spark, tmp_path):
    """cases_all is written by both the bundle writer and the load stage,
    cases_sequenced by the load stage; pin their full text, name and
    description lines included, for one sample set."""
    patient, sample, maf = _fixtures(spark)
    out = str(tmp_path / "bundle")
    write_study_bundle(out, "Demo_2026", patient, sample)
    write_mutations(out, "iatlas_Demo_2026", maf, 40_000)
    expected = {
        "cases_all.txt": (
            "cancer_study_identifier: iatlas_Demo_2026\n"
            "stable_id: iatlas_Demo_2026_all\n"
            "case_list_name: All samples\n"
            "case_list_description: All samples (4 samples)\n"
            "case_list_ids: S1\tS2\tS3\tS4"
        ),
        "cases_sequenced.txt": (
            "cancer_study_identifier: iatlas_Demo_2026\n"
            "stable_id: iatlas_Demo_2026_sequenced\n"
            "case_list_name: Sequenced samples\n"
            "case_list_description: Samples with mutation data (2 samples)\n"
            "case_list_ids: S1\tS3"
        ),
    }

    def read_lists(names):
        texts = {}
        for name in names:
            path = os.path.join(out, "case_lists", name)
            with open(path) as fh:
                texts[name] = fh.read()
            os.remove(path)
        return texts

    assert read_lists(["cases_all.txt"]) == {"cases_all.txt": expected["cases_all.txt"]}
    written = write_load_stage_case_lists(spark, out)
    assert set(written) == {f"case_lists/{name}" for name in expected}
    assert read_lists(expected) == expected


def test_single_tsv_global_order_across_many_partitions(spark, tmp_path):
    """r9 byte-parity plumbing under REAL parallelism: write_single_tsv with
    order_by over a 5000-row, 32-partition frame must produce ONE file in
    global key order (orderBy range-partitions; filename-ordered part
    concatenation preserves the total order) with %.12g float rendering
    (integral doubles bare, NaN empty)."""
    import pyspark.sql.functions as F

    from iatlas_cbioportal_export_spark.sources.sinks import write_single_tsv

    n = 5000
    df = (
        spark.range(n)
        .repartition(32)
        .select(
            # keys arrive shuffled across partitions, zero-padded for
            # lexicographic == numeric order
            F.format_string("k%05d", (F.col("id") * 2654435761 % n)).alias("k"),
            F.when(F.col("id") % 11 == 0, None)
            .otherwise((F.col("id") % 7).cast("double"))
            .alias("v"),
        )
    )
    path = str(tmp_path / "single.tsv")
    write_single_tsv(df, path, pandas_float_format=True, order_by=["k"])
    with open(path) as fh:
        lines = fh.read().splitlines()
    assert lines[0] == "k\tv"
    keys = [ln.split("\t")[0] for ln in lines[1:]]
    assert len(keys) == n
    assert keys == sorted(keys), "single-file artifact lost the global order"
    vals = {ln.split("\t")[1] for ln in lines[1:]}
    # integral doubles render bare; nulls render empty
    assert vals <= {"", "0", "1", "2", "3", "4", "5", "6"}, vals


def test_concat_csv_parts_survives_empty_leading_part(tmp_path):
    """r10 (ADVICE): an empty (0-byte) part-*.csv sorting FIRST must not
    have its '' readline consumed as the column header — that used to emit
    a headerless artifact and drop the real header from the next part.
    (This Spark build writes header-only files for empty partitions, but
    older/other writers produce 0-byte parts; the merge is defensive.)"""
    from iatlas_cbioportal_export_spark.sources.sinks import _concat_csv_parts

    parts = tmp_path / "x.parts"
    parts.mkdir()
    (parts / "part-00000-a.csv").write_text("")  # empty partition's file
    (parts / "part-00001-b.csv").write_text("k\tv\nz1\t1\n")
    (parts / "part-00002-c.csv").write_text("k\tv\nz2\t2\n")
    out = str(tmp_path / "x.tsv")
    _concat_csv_parts(str(parts), out, ["# meta"])
    with open(out) as fh:
        lines = fh.read().splitlines()
    assert lines[0] == "# meta"
    assert lines[1] == "k\tv", "column header lost to an empty leading part"
    assert lines[2:] == ["z1\t1", "z2\t2"]


def _data_lines(path):
    """A clinical artifact's column header and data rows (``#`` lines dropped)."""
    with open(path) as fh:
        lines = [ln for ln in fh.read().splitlines() if not ln.startswith("#")]
    return lines[0].split("\t"), [ln.split("\t") for ln in lines[1:]]


def test_bundle_jobs_keep_caller_job_group(spark, tmp_path):
    """The bundle's thread-pool jobs carry the caller's job group, so a tool
    that attributes jobs by group sees every one of them."""
    patient, sample, _ = _fixtures(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("bundle-probe", "write_study_bundle job-group probe")
    try:
        write_study_bundle(str(tmp_path / "bundle"), "Demo_2026", patient, sample)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert tracker.getJobIdsForGroup("bundle-probe")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    # ... and each names its purpose after the caller's description
    store = sc._jsc.sc().statusStore()
    options = [
        store.job(job_id).description()
        for job_id in tracker.getJobIdsForGroup("bundle-probe")
    ]
    descriptions = [d.get() if d.isDefined() else None for d in options]
    assert all(
        (d or "").startswith("write_study_bundle job-group probe:") for d in descriptions
    ), descriptions


def test_bundle_pool_tasks_are_given_the_session(spark, tmp_path):
    """The pool tasks are wrapped with the session, so a caller's job tags
    reach them and PySpark raises no tags-not-inherited warning."""
    import warnings

    patient, sample, _ = _fixtures(spark)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        write_study_bundle(str(tmp_path / "bundle"), "Demo_2026", patient, sample)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_bundle_releases_its_caches_when_a_write_raises(spark, tmp_path):
    """A failed write leaves no cached view behind in the session."""
    patient, sample, _ = _fixtures(spark)
    out = tmp_path / "bundle"
    (out / "data_clinical_patient.txt").mkdir(parents=True)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(IsADirectoryError):
        write_study_bundle(str(out), "Demo_2026", patient, sample)
    assert cache.isEmpty()


def test_job_label_nests_and_restores(spark):
    sc = spark.sparkContext
    key = "spark.job.description"
    sc.setJobDescription(None)
    with job_label(spark, "outer"):
        assert sc.getLocalProperty(key) == "outer"
        with pytest.raises(RuntimeError):
            with job_label(spark, "round 1"):
                assert sc.getLocalProperty(key) == "outer:round 1"
                raise RuntimeError
        assert sc.getLocalProperty(key) == "outer"
    assert sc.getLocalProperty(key) is None


def test_bundle_reference_parity_surface(spark, tmp_path):
    """``clinical_merged`` alone switches on the byte-parity surface: the
    merged file (minus ``Dataset``), ``%.12g`` floats and id-sorted rows in
    all three clinical files."""
    merged = spark.createDataFrame(
        [
            ("S2", "P2", "Melanoma", "D", 12.0),
            ("S1", "P1", "Melanoma", "D", 0.1 + 0.2),
        ],
        "SAMPLE_ID string, PATIENT_ID string, CANCER_TYPE string, "
        "Dataset string, SCORE double",
    )
    patient = merged.select("PATIENT_ID", "SCORE")
    sample = merged.select("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "SCORE")
    artifacts = write_study_bundle(
        str(tmp_path / "bundle"), "Demo_2026", patient, sample, clinical_merged=merged
    )
    for name, key in (
        ("data_clinical_patient.txt", "PATIENT_ID"),
        ("data_clinical_sample.txt", "SAMPLE_ID"),
        ("data_clinical_merged.txt", "SAMPLE_ID"),
    ):
        header, rows = _data_lines(artifacts[name])
        assert "Dataset" not in header, name
        ids = [r[header.index(key)] for r in rows]
        assert ids == sorted(ids) and len(ids) == 2, (name, ids)
        assert [r[header.index("SCORE")] for r in rows] == ["0.3", "12"], name


def test_load_stage_case_lists_on_reference_spellings(spark, tmp_path):
    """The load stage reads the merged clinical file before the sample
    file, and skips a single-file MAF's ``#version`` line."""
    bundle = tmp_path / "bundle"
    bundle.mkdir()
    (bundle / "meta_study.txt").write_text(
        "cancer_study_identifier: iatlas_Ref\nreference_genome: hg38\n"
    )
    (bundle / "data_clinical_merged.txt").write_text(
        "SAMPLE_ID\tPATIENT_ID\nS1\tP1\nS2\tP1\nS3\tP2\n"
    )
    (bundle / "data_clinical_sample.txt").write_text(
        "#Sample\n#Sample\n#STRING\n#1\nSAMPLE_ID\nS1\nS9\n"
    )
    (bundle / "data_mutations.txt").write_text(
        "#version 2.4\nHugo_Symbol\tTumor_Sample_Barcode\n"
        "TP53\tS1\nKRAS\tS3\nEGFR\tS9\nBRAF\tS1\n"
    )
    written = write_load_stage_case_lists(spark, str(bundle))
    assert set(written) == {"case_lists/cases_all.txt", "case_lists/cases_sequenced.txt"}
    ids = {}
    for name, path in written.items():
        with open(path) as fh:
            lines = fh.read().splitlines()
        assert lines[0] == "cancer_study_identifier: iatlas_Ref"
        ids[name] = lines[-1]
    assert ids["case_lists/cases_all.txt"] == "case_list_ids: S1\tS2\tS3"
    assert ids["case_lists/cases_sequenced.txt"] == "case_list_ids: S1\tS3"
