"""Empty-input robustness: every operator family must handle a zero-row
(but schema'd) input without raising — the behavior a scheduled pipeline
hits when an upstream drop produces an empty partition or dataset."""

import pyspark.sql.functions as F

from iatlas_cbioportal_export_spark.operators.aggregates import (
    case_list_groups,
    chunk_assignment,
    null_profile,
)
from iatlas_cbioportal_export_spark.operators.dedup import (
    exact_dedup_keep_min,
    minhash_near_duplicates,
)
from iatlas_cbioportal_export_spark.operators.maf import annotate, drop_chrm
from iatlas_cbioportal_export_spark.operators.projections import (
    prune_all_null_columns,
)
from iatlas_cbioportal_export_spark.operators.text import language_id, token_stats
from iatlas_cbioportal_export_spark.operators.validation import table_profile_checks
from iatlas_cbioportal_export_spark.plans.clinical_pipeline import (
    preprocess_clinical,
)


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, lang string")


def test_dedup_on_empty_corpus(spark):
    docs = _empty_docs(spark)
    assert exact_dedup_keep_min(docs).count() == 0
    assert minhash_near_duplicates(docs, num_hashes=8, bands=4).count() == 0


def test_text_ops_on_empty_corpus(spark):
    docs = _empty_docs(spark)
    assert token_stats(docs).count() == 0
    assert language_id(docs).count() == 0


def test_aggregates_on_empty(spark):
    df = spark.createDataFrame(
        [], "CANCER_TYPE string, SAMPLE_ID string, row_idx long"
    )
    assert case_list_groups(df).count() == 0
    # chunk_assignment requires a NUMERIC order column (r9: the bucket key
    # is CAST(order AS BIGINT); a string column would silently NULL-bucket)
    assert chunk_assignment(df, "row_idx").count() == 0
    import pytest as _pytest

    with _pytest.raises(TypeError, match="numeric order column"):
        chunk_assignment(df, "SAMPLE_ID")
    profile = null_profile(df)
    assert profile.count() == 3  # one row per column, zero counts
    assert all(r["n_non_null"] == 0 for r in profile.collect())


def test_prune_all_null_on_empty_keeps_no_columns(spark):
    df = spark.createDataFrame([], "a string, b long")
    # zero rows → every column is all-null → everything pruned
    assert prune_all_null_columns(df).columns == []


def test_validation_suite_on_empty_is_clean(spark):
    df = spark.createDataFrame([], "SAMPLE_ID string")
    findings = table_profile_checks(df, no_null_cols=["SAMPLE_ID"])
    assert findings.filter("status = 'ERROR'").count() == 0


def test_maf_path_on_empty(spark):
    maf = spark.createDataFrame(
        [], "Hugo_Symbol string, Chromosome string, Start_Position long"
    )
    assert drop_chrm(annotate(maf)).count() == 0


def test_preprocess_on_empty_clinical(spark):
    clinical = spark.createDataFrame(
        [],
        "sample_name string, patient_name string, TCGA_Study string, "
        "AMADEUS_Study string, Dataset string",
    )
    oncotree = spark.createDataFrame(
        [("X", "Y", "Z", "C")],
        "TCGA_Study string, AMADEUS_Study string, Dataset string, ONCOTREE_CODE string",
    )
    out = preprocess_clinical(clinical, oncotree)
    assert out.count() == 0
    assert "SAMPLE_ID" in out.columns and "ONCOTREE_CODE" in out.columns


def test_round4_ops_on_empty(spark):
    from iatlas_cbioportal_export_spark.operators.joins import snapshot_diff
    from iatlas_cbioportal_export_spark.operators.sketch import (
        bitmap_distinct,
        heavy_hitters_gate,
        misra_gries_summary,
    )
    from iatlas_cbioportal_export_spark.operators.text import (
        inverted_index,
        quality_classifier,
    )
    from iatlas_cbioportal_export_spark.streaming.events import resample_ffill

    edocs = spark.createDataFrame([], "doc_id long, text string")
    assert inverted_index(edocs, ngram=2).count() == 0
    assert quality_classifier(edocs).count() == 0

    eitems = spark.createDataFrame([], "item string")
    assert misra_gries_summary(eitems, "item", 5).count() == 0
    assert heavy_hitters_gate(eitems, "item", 5).count() == 0

    ekeys = spark.createDataFrame([], "k long")
    # ungrouped: one row counting 0 (COUNT(DISTINCT) convention); grouped:
    # zero rows
    assert bitmap_distinct(ekeys, "k").collect()[0]["distinct_exact"] == 0
    assert bitmap_distinct(ekeys.withColumn("g", ekeys.k), "k", ["g"]).count() == 0

    esnap = spark.createDataFrame([], "k long, v double")
    assert snapshot_diff(esnap, esnap, ["k"]).count() == 0
    # one empty side: everything labeled
    one = spark.createDataFrame([(1, 1.0)], "k long, v double")
    out = {r["k"]: r["change_type"] for r in snapshot_diff(esnap, one, ["k"]).collect()}
    assert out == {1: "added"}

    eev = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    assert resample_ffill(eev).count() == 0
