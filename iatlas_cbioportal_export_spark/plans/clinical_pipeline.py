"""The flagship composed plan: the reference's clinical preprocessing as ONE
lazy DataFrame DAG (SURVEY.md §3.1).

Reference call graph (``clinical.py:290-362``): oncotree left join (J1) →
id remap (F4) → neoantigen outer join (J3) → header rename (P6) → regex
filter (P1) → status recode (F3) → days→months ×2 (F5) → suffix strip (F1)
→ case normalization (F2) → oncotree code expansion (J4). The reference
materializes TSV between stages and shells out twice; here it is one DAG —
Catalyst reorders/pushes filters, both dimension joins broadcast, and the
caller materializes once (``cache()``) before the patient/sample split.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.functions.scalar import (
    case_normalize,
    days_to_months,
    recode_values,
)
from iatlas_cbioportal_export_spark.functions.scalar import strip_colname_suffixes
from iatlas_cbioportal_export_spark.operators.filters import regex_filter_scoped
from iatlas_cbioportal_export_spark.operators.joins import (
    broadcast_left_join,
    code_expansion_join,
)
from iatlas_cbioportal_export_spark.operators.projections import rename_columns
from iatlas_cbioportal_export_spark.session import job_label

ONCOTREE_MERGE_COLS = ["TCGA_Study", "AMADEUS_Study", "Dataset"]
STATUS_RECODE = {0: "0:LIVING", 1: "1:DECEASED"}
SAMPLE_FILTER_PATTERN = r"-(?:nd|ad|nr)-"
SAMPLE_FILTER_DATASET = "Anders_JITC_2022"


def preprocess_clinical(
    clinical: DataFrame,
    oncotree_map: DataFrame,
    neoantigen: DataFrame | None = None,
    header_renames: Mapping[str, str] | None = None,
    case_modes: Mapping[str, str] | None = None,
    oncotree_codes: DataFrame | None = None,
) -> DataFrame:
    """One-DAG clinical preprocessing; every stage optional except the
    oncotree join so unit tests can exercise slices."""
    out = broadcast_left_join(
        clinical, oncotree_map, on=ONCOTREE_MERGE_COLS, dim_cols=["ONCOTREE_CODE"]
    )
    # F4: prefer paper ids where present (clinical.py:170-196); with no
    # study_* columns the base names promote to the canonical ids directly
    for preferred, fallback, dest in (
        ("study_sample_name", "sample_name", "SAMPLE_ID"),
        ("study_patient_name", "patient_name", "PATIENT_ID"),
    ):
        if preferred in out.columns and fallback in out.columns:
            out = out.withColumn(dest, F.coalesce(preferred, fallback)).drop(
                preferred, fallback
            )
        elif fallback in out.columns:
            out = out.withColumnRenamed(fallback, dest)
    # J3: neoantigen outer join (clinical.py:265-287); key cast to string first
    if neoantigen is not None:
        out = out.withColumn("SAMPLE_ID", F.col("SAMPLE_ID").cast("string")).join(
            neoantigen.withColumn("SAMPLE_ID", F.col("SAMPLE_ID").cast("string")),
            on="SAMPLE_ID",
            how="outer",
        )
    if header_renames:
        out = rename_columns(out, header_renames)
    # P1 scoped regex filter (clinical.py:74-95)
    out = regex_filter_scoped(
        out, "SAMPLE_ID", SAMPLE_FILTER_PATTERN, "Dataset", SAMPLE_FILTER_DATASET
    )
    # F3 status recode (clinical.py:403-422)
    for c in ("OS_STATUS", "PFS_STATUS"):
        if c in out.columns:
            out = out.withColumn(c, recode_values(c, STATUS_RECODE))
    # F5 days→months (clinical.py:515-535)
    for c in ("OS_MONTHS", "PFS_MONTHS"):
        if c in out.columns:
            out = out.withColumn(c, days_to_months(c))
    # F1 suffix strip over all string columns (clinical.py:98-133); the
    # reference additionally strips "_amadeus" from the exact column
    # AMADEUS_STUDY after the general per-column strip (clinical.py:123-126)
    out = strip_colname_suffixes(out, special={"AMADEUS_STUDY": "_amadeus"})
    # F2 case normalization driven by the mapping's Case column
    for c, mode in (case_modes or {}).items():
        if c in out.columns:
            out = out.withColumn(c, case_normalize(c, mode))
    # J4 oncotree code expansion (native replacement of the subprocess)
    if oncotree_codes is not None:
        out = code_expansion_join(
            out, oncotree_codes, "ONCOTREE_CODE", ["CANCER_TYPE", "CANCER_TYPE_DETAILED"]
        )
    return out


def kaplan_meier(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curves per group — the survival analysis the
    reference's clinical schema exists to feed (OS_MONTHS/OS_STATUS,
    cf. reference clinical.py's survival-status recode F3/F5): at each
    distinct event time tᵢ, S(tᵢ) = Π_{j≤i} (1 − dⱼ/nⱼ) with dⱼ deaths at
    tⱼ and nⱼ subjects still at risk.

    DataFrame-native shape: one groupBy(group, duration) collapses subjects
    to per-time (deaths, total) rows — the only corpus-sized shuffle; the
    at-risk counts are a REVERSE running sum and the survival product a
    FORWARD running ``exp(Σ ln(1−d/n))``, both over the same per-group
    window ordering, so state is one row per distinct (group, time). The
    window's cumulative order fixes the float association — both engines
    fold the same ln terms in the same sequence (round 6dp absorbs the
    last-ulp libm differences).

    ``event_col``: 1 = event occurred, 0 = censored (censored subjects
    leave the risk set at their time but contribute no death factor).
    Output: (group, time, n_risk, n_events, survival) for times with ≥1
    event.
    """
    from pyspark.sql import Window

    per_t = df.groupBy(
        F.col(group_col).alias("g"), F.col(duration_col).alias("t")
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("d"),
        F.count(F.lit(1)).alias("c"),
    )
    w_rev = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_fwd = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the time where EVERYONE remaining dies (d == n_risk, necessarily the
    # group's last row) has factor 0: ln(0) raises in DuckDB and returns
    # NULL in Spark (silently dropped by sum) — guard it explicitly and pin
    # survival to 0.0 there in both engines
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    curves = per_t.select(
        "g",
        "t",
        "d",
        F.sum("c").over(w_rev).alias("n_risk"),
    ).select(
        "g",
        "t",
        "d",
        "n_risk",
        F.when(F.col("d") == F.col("n_risk"), F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(term).over(w_fwd)), 6))
        .alias("survival"),
    )
    return curves.filter(F.col("d") > 0).select(
        F.col("g").alias(group_col),
        F.col("t").alias(duration_col),
        F.col("n_risk"),
        F.col("d").alias("n_events"),
        "survival",
    )


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample log-rank test (Mantel-Cox) — "do these survival curves
    differ?", the statistic a clinical pipeline computes right after
    :func:`kaplan_meier`. At each event time on the JOINT grid:
    observed deaths O_a, expected E_a = d·n_a/n, hypergeometric variance
    V = d·(n_a/n)·(1−n_a/n)·(n−d)/(n−1); Z = Σ(O_a−E_a)/√ΣV.

    Determinism contract: the per-time e/v terms are doubles, and a plain
    double sum would depend on shuffle-fetch order — each term is rounded
    to 9dp and summed as DECIMAL(28,9) (exact, associative), the same lane
    the time-decay op uses. Counts stay integers end-to-end.

    Plan: one groupBy(time) over the two groups' per-time death/total
    counts (conditional sums — no pivot); the two risk sets (reverse
    running sums over the joint grid) come from ONE bucketed two-phase
    running sum (:func:`~iatlas_cbioportal_export_spark.operators.
    aggregates.global_running_sums` — r10: the r9 shape ran an
    unpartitioned reverse window over the grid, one task for every
    distinct event time; fractional durations make that grid
    corpus-sized) via the suffix identity
    ``n(t) = total − prefix_incl(t) + c(t)`` (exact on the distinct-time
    grid, where ROWS ≡ RANGE); then one single-row final aggregate.
    Output: (group_a, group_b, observed_a, expected_a, variance, z).
    """
    two = df.filter(F.col(group_col).isin([group_a, group_b]))
    per_t = two.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, F.col(event_col)).otherwise(0)
        ).cast("long").alias("d_a"),
        F.sum(F.col(event_col).cast("long")).alias("d"),
        F.count(F.when(F.col(group_col) == group_a, F.lit(1))).alias("c_a"),
        F.count(F.lit(1)).alias("c"),
    ).persist()
    with job_label(df.sparkSession, "collect event-time range"):
        mm = per_t.agg(
            F.min(F.expr("CAST(t AS BIGINT)")).alias("lo"),
            F.max(F.expr("CAST(t AS BIGINT)")).alias("hi"),
        ).collect()[0]
    if mm["lo"] is None:
        grid = per_t.select(
            "t", "d_a", "d",
            F.col("c_a").alias("n_a"), F.col("c").alias("n"),
        )
    else:
        from iatlas_cbioportal_export_spark.operators.aggregates import (
            global_running_sums,
        )

        width = max(1, (int(mm["hi"]) - int(mm["lo"])) // 2048 + 1)
        run, tot = global_running_sums(per_t, "t", ["c_a", "c"], width)
        # the helper's persisted frame supersedes per_t's cache
        per_t.unpersist()
        grid = run.select(
            "t",
            "d_a",
            "d",
            (F.lit(tot["c_a"]) - F.col("running_c_a") + F.col("c_a"))
            .cast("long")
            .alias("n_a"),
            (F.lit(tot["c"]) - F.col("running_c") + F.col("c"))
            .cast("long")
            .alias("n"),
        )
    grid = grid.filter(F.col("d") > 0)
    ratio = F.col("n_a").cast("double") / F.col("n")
    e_term = F.round(F.col("d") * ratio, 9).cast("decimal(28,9)")
    v_term = F.round(
        F.when(
            F.col("n") > 1,
            F.col("d")
            * ratio
            * (F.lit(1.0) - ratio)
            * (F.col("n") - F.col("d"))
            / (F.col("n") - F.lit(1)),
        ).otherwise(F.lit(0.0)),
        9,
    ).cast("decimal(28,9)")
    agg = grid.agg(
        F.sum("d_a").alias("observed_a"),
        F.sum(e_term).alias("__e"),
        F.sum(v_term).alias("__v"),
    )
    return agg.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        "observed_a",
        F.col("__e").cast("double").alias("expected_a"),
        F.col("__v").cast("double").alias("variance"),
        F.round(
            (F.col("observed_a") - F.col("__e").cast("double"))
            / F.sqrt(F.col("__v").cast("double")),
            6,
        ).alias("z"),
    )
