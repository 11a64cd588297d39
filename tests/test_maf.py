"""MAF path: folder scan + union, comment skip, annotation stage, chrM
filter, allele frequency (reference maf.py semantics)."""

import os

from iatlas_cbioportal_export_spark.operators.maf import (
    allele_frequency,
    annotate,
    drop_chrm,
    fake_annotator,
    split_annotation_errors,
)
from iatlas_cbioportal_export_spark.sources.readers import read_maf_folder


def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)


def test_read_maf_folder_empty_returns_none(spark, tmp_path):
    assert read_maf_folder(spark, str(tmp_path)) is None


def test_read_maf_folder_union_heterogeneous(spark, tmp_path):
    # outer column alignment by name (reference maf.py:14-36 pd.concat)
    _write(
        tmp_path / "a.maf",
        "#version 2.4\nHugo_Symbol\tChromosome\nTP53\tchr17\n",
    )
    _write(
        tmp_path / "b.maf",
        "#version 2.4\nHugo_Symbol\tt_alt_count\nKRAS\t5\n",
    )
    _write(tmp_path / "ignore.txt", "not\ta\tmaf\n")
    df = read_maf_folder(spark, str(tmp_path))
    assert set(df.columns) == {"Hugo_Symbol", "Chromosome", "t_alt_count"}
    rows = {r["Hugo_Symbol"]: r for r in df.collect()}
    assert rows["TP53"]["Chromosome"] == "chr17" and rows["TP53"]["t_alt_count"] is None
    assert rows["KRAS"]["t_alt_count"] == 5 and rows["KRAS"]["Chromosome"] is None


def test_annotate_adds_columns_and_errors_split(spark):
    df = spark.createDataFrame(
        [("TP53", "chr17"), ("KRAS", "chr12")], "Hugo_Symbol string, Chromosome string"
    )
    ann = annotate(df, annotator=fake_annotator)
    from iatlas_cbioportal_export_spark.operators.maf import ANNOTATION_COLS

    assert set(ann.columns) == {"Hugo_Symbol", "Chromosome"} | {
        name for name, _t in ANNOTATION_COLS
    }
    ok, failed = split_annotation_errors(ann)
    assert ok.count() == 2 and failed.count() == 0


def test_drop_chrm_keeps_nulls(spark):
    df = spark.createDataFrame(
        [("chr1",), ("chrM",), (None,)], "Chromosome string"
    )
    vals = {str(r["Chromosome"]) for r in drop_chrm(df).collect()}
    assert vals == {"chr1", "None"}


def test_allele_frequency(spark):
    df = spark.createDataFrame(
        [(3, 1), (0, 0), (None, 1)], "t_alt_count int, t_ref_count int"
    )
    out = [r["tumor_allele_freq"] for r in allele_frequency(df).collect()]
    assert out[0] == 0.75
    assert out[1] is None  # zero depth
    assert out[2] is None  # null input


def test_write_then_scan_cbioportal_roundtrip(spark, tmp_path):
    from iatlas_cbioportal_export_spark.sources.readers import (
        read_tsv_skip_cbioportal_header,
    )
    from iatlas_cbioportal_export_spark.sources.sinks import write_cbioportal_clinical

    df = spark.createDataFrame(
        [("s1", "p1", 7.59), ("s2", "p2", None)],
        "SAMPLE_ID string, PATIENT_ID string, OS_MONTHS double",
    )
    path = os.path.join(tmp_path, "data_clinical_sample.txt")
    write_cbioportal_clinical(
        df, path, {"OS_MONTHS": {"datatype": "NUMBER", "display_name": "OS months"}}
    )
    with open(path) as fh:
        lines = fh.read().splitlines()
    assert [ln.startswith("#") for ln in lines[:4]] == [True] * 4
    assert lines[4].split("\t") == ["SAMPLE_ID", "PATIENT_ID", "OS_MONTHS"]
    back = read_tsv_skip_cbioportal_header(spark, path, schema=df.schema)
    assert back.count() == 2
    assert {r["SAMPLE_ID"] for r in back.collect()} == {"s1", "s2"}


def test_write_chunked_tsv(spark, tmp_path):
    df = spark.range(10).withColumnRenamed("id", "k")
    out = os.path.join(tmp_path, "chunks")
    from iatlas_cbioportal_export_spark.sources.sinks import write_chunked_tsv

    write_chunked_tsv(df, out, max_rows=4)
    csvs = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(csvs) == 3  # ceil(10/4)
    total = 0
    for f in csvs:
        with open(os.path.join(out, f)) as fh:
            n = len(fh.read().splitlines()) - 1  # minus header
        assert n <= 4
        total += n
    assert total == 10


def test_annotate_by_variant_matches_rowwise_annotate(spark):
    from iatlas_cbioportal_export_spark.operators.maf import (
        annotate,
        annotate_by_variant,
    )

    maf = spark.createDataFrame(
        [
            ("chr1", 100, "s1"),
            ("chr1", 100, "s2"),   # duplicate variant, different sample
            ("chr2", 200, "s1"),
            (None, None, "s3"),    # FAILED side-band
            (None, None, "s4"),
        ],
        "Chromosome string, Start_Position long, Tumor_Sample_Barcode string",
    )
    from collections import Counter

    a = Counter(map(tuple, annotate(maf).collect()))
    b_df = annotate_by_variant(maf)
    b = Counter(map(tuple, b_df.select(*[c for c in annotate(maf).columns]).collect()))
    assert a == b
    # the Python stage only saw 3 distinct keys, but all 5 rows come back
    assert b_df.count() == 5


def test_oncoprint_matrix_ranks_and_counts(spark):
    from iatlas_cbioportal_export_spark.operators.maf import oncoprint_matrix

    rows = [
        # geneA in 3 samples, geneB in 2 (s1 twice), geneC in 1
        ("geneA", "s1"), ("geneA", "s2"), ("geneA", "s3"),
        ("geneB", "s1"), ("geneB", "s1"), ("geneB", "s2"),
        ("geneC", "s9"),
    ]
    df = spark.createDataFrame(
        rows, "Hugo_Symbol string, Tumor_Sample_Barcode string"
    )
    out = {
        (r["gene"], r["sample"]): (r["gene_rank"], r["n_mutations"])
        for r in oncoprint_matrix(df, top_genes=2).collect()
    }
    # geneC excluded (rank 3); geneB's s1 counts 2 mutations
    assert set(g for g, _ in out) == {"geneA", "geneB"}
    assert out[("geneA", "s1")] == (1, 1)
    assert out[("geneB", "s1")] == (2, 2)


def test_gene_co_occurrence_counts_and_exclusive_pairs(spark):
    from iatlas_cbioportal_export_spark.operators.maf import (
        gene_co_occurrence,
    )

    rows = [
        # A & B co-occur in s1, s2; C never overlaps A/B (exclusive)
        ("A", "s1"), ("B", "s1"), ("A", "s2"), ("B", "s2"),
        ("A", "s3"), ("C", "s4"), ("C", "s5"),
    ]
    df = spark.createDataFrame(
        rows, "Hugo_Symbol string, Tumor_Sample_Barcode string"
    )
    out = {
        (r["gene_a"], r["gene_b"]): r
        for r in gene_co_occurrence(df, top_genes=3).collect()
    }
    assert out[("A", "B")]["n_both"] == 2
    assert out[("A", "C")]["n_both"] == 0          # exclusivity row kept
    assert out[("A", "C")]["log2_ratio"] < 0
    assert out[("A", "B")]["log2_ratio"] > 0
    # expected under independence: n_a * n_b / N  (N = 5 samples)
    assert out[("A", "B")]["expected"] == round(3 * 2 / 5, 6)
