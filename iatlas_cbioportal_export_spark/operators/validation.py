"""Validation suite (SURVEY.md §2.10 V1-V14) as LAZY findings DataFrames.

The reference's "query workload" is a set of read-aggregate-assert checks
that log ERROR through a flag-collecting handler (``utils.py:52-58``); any
ERROR fails the study (``clinical.py:949-950``). Here every check builds a
small lazy DataFrame in a uniform findings schema — ``(check, status,
observed, expected, detail)`` — and :func:`findings_union` combines them so
the WHOLE suite evaluates in one Spark action (the eager version paid one
job per check; at 15k rows that was 6.5s of pure job overhead, measured).

No check collects fact-table data to the driver; each is an aggregate whose
result is a single row (or one row per audited column).

Every finding row is one :func:`_finding` struct exploded over its
aggregate by :func:`_findings`. The two exceptions: :func:`file_presence_findings`
builds its rows on the driver, and :func:`constraint_suite` keeps its own
``(rule, kind, violations, total, status)`` schema.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FINDINGS_COLUMNS = ["check", "status", "observed", "expected", "detail"]


def _as_col(v) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


def _finding(check, ok, observed, expected, detail, severity: str = "ERROR") -> Column:
    """One finding row as a struct: status OK when ``ok`` holds (a NULL
    ``ok`` does not), else ``severity``. Plain values become literals."""
    return F.struct(
        _as_col(check).alias("check"),
        F.when(_as_col(ok), F.lit("OK")).otherwise(F.lit(severity)).alias("status"),
        _as_col(observed).cast("long").alias("observed"),
        _as_col(expected).cast("long").alias("expected"),
        _as_col(detail).alias("detail"),
    )


def _violation(check: str, n, detail, severity: str = "ERROR") -> Column:
    """A finding whose ``n`` counts violations: OK iff ``n`` is 0."""
    return _finding(check, n == 0, n, 0, detail, severity)


def _findings(agg: DataFrame, rows: Sequence[Column]) -> DataFrame:
    """Explode :func:`_finding` structs over ``agg`` into findings rows."""
    return agg.select(F.explode(F.array(*rows)).alias("f")).select("f.*")


def _count_violation(
    df: DataFrame, check: str, detail: str, severity: str = "ERROR"
) -> DataFrame:
    """One finding that counts every row of ``df`` as a violation."""
    n = df.agg(F.count(F.lit(1)).alias("n"))
    return _findings(n, [_violation(check, F.col("n"), detail, severity)])


def _rule_findings(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One aggregate pass counting, per rule, the rows whose predicate
    holds (a NULL predicate is no violation); one finding row per rule.
    The count is a SUM, so a zero-row input reads NULL (ERROR)."""
    agg = df.agg(
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"__v{i}")
            for i, cond in enumerate(rules.values())
        ]
    )
    return _findings(
        agg,
        [
            _violation(name, F.col(f"__v{i}"), "violating rows")
            for i, name in enumerate(rules)
        ],
    )


def _dup_groups(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The ``keys`` groups of ``df`` holding more than one row."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
    )


def _unchanged(check: str, n: Column) -> Column:
    """A self-comparison (in == out by construction): always OK."""
    return _finding(check, True, n, n, F.format_string("in=%d out=%d", n, n))


def _in_out_equal(
    df_in: DataFrame, df_out: DataFrame, measure: Column, check: str
) -> DataFrame:
    n_in, n_out = F.col("n_in"), F.col("n_out")
    both = df_in.agg(measure.alias("n_in")).crossJoin(
        df_out.agg(measure.alias("n_out"))
    )
    detail = F.format_string("in=%d out=%d", n_in, n_out)
    return _findings(both, [_finding(check, n_in == n_out, n_out, n_in, detail)])


def count_equality(
    df_in: DataFrame, df_out: DataFrame, check: str = "row_count_preserved"
) -> DataFrame:
    """V2/V8: row count in == out (reference ``clinical.py:814-817``,
    ``maf.py:234-237``)."""
    return _in_out_equal(df_in, df_out, F.count(F.lit(1)), check)


def distinct_count_equality(df_in: DataFrame, df_out: DataFrame, col: str) -> DataFrame:
    """V3/V4: distinct key counts in == out (reference ``clinical.py:809-825``)."""
    return _in_out_equal(
        df_in, df_out, F.countDistinct(col), f"distinct_{col.lower()}_preserved"
    )


def no_null_keys(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """V5/V6/V11: key / required columns contain no nulls (reference
    ``clinical.py:826-830``; ``maf.py:250-269`` for t_ref/t_alt counts).
    ONE aggregate pass for all columns; one finding row per column."""
    return table_profile_checks(df, no_null_cols=cols)


def no_all_null_columns(df: DataFrame) -> DataFrame:
    """V7: no output column is 100% null (reference ``clinical.py:833-837``)."""
    return table_profile_checks(df, all_null_cols=df.columns)


def no_duplicate_rows(
    df: DataFrame, subset: Sequence[str] | None = None, check: str = "no_duplicate_rows"
) -> DataFrame:
    """V9/V14: duplicate detection (whole-row or keyed) — reference
    ``maf.py:239-240``, ``clinical.py:214-225``."""
    dups = _dup_groups(df, list(subset or df.columns))
    return _count_violation(dups, check, "duplicate key groups")


def keyset_preserved(
    left: DataFrame, left_key: str, right: DataFrame, right_key: str,
    check: str = "keyset_preserved",
) -> DataFrame:
    """V10/V13: distinct key sets equal (reference ``maf.py:242-246``,
    ``validate.py:135-157``) via symmetric anti-joins (J6)."""
    from iatlas_cbioportal_export_spark.operators.joins import keyset_equality

    lo, ro = keyset_equality(left, left_key, right, right_key)
    n_lo, n_ro = F.col("n_lo"), F.col("n_ro")
    both = lo.agg(F.count(F.lit(1)).alias("n_lo")).crossJoin(
        ro.agg(F.count(F.lit(1)).alias("n_ro"))
    )
    detail = F.format_string("left_only=%d right_only=%d", n_lo, n_ro)
    return _findings(both, [_violation(check, n_lo + n_ro, detail)])


def keyset_subset(
    left: DataFrame, left_key: str, right: DataFrame, right_key: str,
    check: str = "keyset_subset",
) -> DataFrame:
    """Referential check: every distinct ``left_key`` value appears in
    ``right_key`` (one-directional — the containment half of
    :func:`keyset_preserved`). This is the native form of cBioPortal
    ``validateData.py``'s sample-reference checks (MAF barcodes must be
    clinical samples; matrix columns must be clinical samples) that the
    reference shells out to (``validate.py:211-216``). One distinct + one
    anti-join on the key column only — never the full rows."""
    missing = (
        left.select(F.col(left_key).alias("__k"))
        .distinct()
        .join(
            right.select(F.col(right_key).alias("__k")).distinct(),
            "__k",
            "left_anti",
        )
    )
    return _count_violation(missing, check, f"{left_key} values absent from {right_key}")


def file_presence_findings(
    spark, bundle_dir: str, required: Sequence[str], optional: Sequence[str] = ()
) -> DataFrame:
    """V1: bundle-file presence as finding rows (reference
    ``utils.py:11-22`` ``REQUIRED_OUTPUT_FILES`` + the read-or-die loop in
    ``validate.py:175-196``). ``required`` misses are ERROR; ``optional``
    misses (the gene-signature / RNA-seq pass-throughs a clinical+maf run
    doesn't produce) are WARN — present files of either kind are OK.
    Driver-side stat of ~10 paths; no data scan."""
    import os

    rows = []
    for kind, names in (("required", required), ("optional", optional)):
        for name in names:
            present = os.path.exists(os.path.join(bundle_dir, name))
            status = "OK" if present else ("ERROR" if kind == "required" else "WARN")
            rows.append(
                (f"file_present_{name}", status, int(present), 1,
                 "" if present else f"missing {kind} file {name}")
            )
    return spark.createDataFrame(
        rows, "check string, status string, observed long, expected long, detail string"
    )


def required_columns_present(
    df: DataFrame, required: Sequence[str], check: str = "required_columns_present"
) -> DataFrame:
    """V12 (subset form): every required column present — extra columns are
    fine. Schema-only, no data scan. The reference's own check
    (``validate.py:159-172``) is stricter — SET equality, so extra columns
    also fire — see :func:`schema_matches_exactly` for the faithful form;
    this subset form backs the "these columns must exist" contracts
    (v_validation_suite's lineitem_schema etc.)."""
    missing = [c for c in required if c not in df.columns]
    detail = "missing: " + ",".join(missing) if missing else ""
    return _findings(df.sparkSession.range(1), [_violation(check, len(missing), detail)])


def schema_matches_exactly(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """V12 (reference-faithful form): the column SET must equal ``required``
    — reference ``validate.py:159-172`` errs on ``set(required) !=
    set(columns)``, i.e. EXTRA columns fail too (its message lists only the
    missing side; the detail here lists both). Schema-only, no data scan;
    pinned against the actual reference function by the differential
    suite."""
    missing = [c for c in required if c not in df.columns]
    req = set(required)
    extra = [c for c in df.columns if c not in req]
    parts = []
    if missing:
        parts.append("missing: " + ",".join(missing))
    if extra:
        parts.append("extra: " + ",".join(extra))
    n = len(missing) + len(extra)
    return _findings(
        df.sparkSession.range(1),
        [_violation("schema_matches_exactly", n, "; ".join(parts))],
    )


_CHROMOSOME_RE = r"^(chr)?([1-9]|1[0-9]|2[0-2]|X|Y|M|MT)$"
_ALLELE_RE = r"^[ACGTN-]+$"
_BARCODE_RE = r"^[A-Za-z0-9._-]+$"
# Exact spellings accepted by cBioPortal validateData.py's checkNCBIbuild
# for the two supported reference genomes.
_NCBI_BUILDS = ("37", "GRCh37", "hg19", "38", "GRCh38", "hg38")
_VARIANT_TYPES = ("SNP", "DNP", "TNP", "ONP", "INS", "DEL")
# checkMutationStatus's accepted vocabulary (compared case-insensitively).
_MUTATION_STATUSES = (
    "somatic",
    "germline",
    "loh",
    "post-transcriptional modification",
    "unknown",
    "wildtype",
    "none",
)
# checkValidationStatus / checkVerificationStatus vocabularies
# (case-insensitive).
_VALIDATION_STATUSES = (
    "valid",
    "invalid",
    "untested",
    "inconclusive",
    "redacted",
    "unknown",
    "na",
)
_VERIFICATION_STATUSES = ("verified", "unknown", "na")
# validateData.py's accepted Variant_Classification vocabulary
# (MutationsExtendedValidator; case-sensitive upstream).
_VARIANT_CLASSIFICATIONS = (
    "Missense_Mutation",
    "Nonsense_Mutation",
    "Nonstop_Mutation",
    "Silent",
    "Splice_Site",
    "Splice_Region",
    "Frame_Shift_Del",
    "Frame_Shift_Ins",
    "In_Frame_Del",
    "In_Frame_Ins",
    "Translation_Start_Site",
    "3'UTR",
    "5'UTR",
    "3'Flank",
    "5'Flank",
    "Intron",
    "RNA",
    "IGR",
    "Targeted_Region",
    "De_novo_Start_InFrame",
    "De_novo_Start_OutOfFrame",
    "Fusion",
    "Unknown",
)


def maf_value_conformance(maf: DataFrame) -> DataFrame:
    """Per-field MAF value checks — the native subset of cBioPortal
    ``validateData.py --strict_maf_checks`` the reference shells out to
    (``validate.py:211-216``). Tier 1: chromosome vocabulary, allele
    alphabet, ref==alt "silent non-variant", position ordering, and
    allele-count sanity. Tier 2 (the strict-mode consistency checks,
    emitted only when the column is present in the frame): NCBI_Build
    spelling (checkNCBIbuild), Variant_Type vocabulary, allele content vs
    variant type (checkAllelesPositionsAndLength: SNP/DNP/TNP lengths, ONP
    equal-length >3, INS needs ref='-' or longer alt, DEL needs alt='-' or
    longer ref), position span vs allele length (SNP ⇒ end=start, DEL ⇒
    end−start+1 = len(ref)), Tumor_Sample_Barcode charset, and
    Mutation_Status vocabulary (case-insensitive). Tier 3 (the remaining
    per-field checks of MutationsExtendedValidator, same column-presence
    gating): Entrez_Gene_Id non-negative integer (checkEntrezGeneId),
    Validation_Status and Verification_Status vocabularies, positive
    Start_Position, Strand ∈ {+,-} and ``p.``-prefixed HGVSp_Short
    (checkAminoAcidChange). ONE aggregate pass (map-side combined sums of
    violation predicates), one finding row per rule; NULL field values are
    skipped by each rule (presence is V5/V6/V11's job, not a value check).
    """
    chrom = F.col("Chromosome")
    ref, alt = F.col("Reference_Allele"), F.col("Tumor_Seq_Allele2")
    # Cast positions numerically so the ordering rule is type-safe even when
    # the caller read the MAF with an all-string schema (e.g. a header-only
    # directory scan): lexicographic "99" > "100" must not fire the rule, and
    # real violations with wider End digits must not be missed.
    start = F.col("Start_Position").cast("long")
    end = F.col("End_Position").cast("long")
    t_ref = F.col("t_ref_count").cast("double")
    t_alt = F.col("t_alt_count").cast("double")

    def _present(c: Column) -> Column:
        # TSV-borne MAFs carry missing values as EMPTY STRINGS, not NULLs
        # (the 118-col fixture and real exports alike); a blank field is
        # "missing" to every value rule, exactly like NULL — presence
        # enforcement stays the validation suite's job.
        return c.isNotNull() & (c != "")

    rules = {
        "maf_chromosome_vocabulary": _present(chrom)
        & ~chrom.rlike(_CHROMOSOME_RE),
        "maf_allele_alphabet": (_present(ref) & ~ref.rlike(_ALLELE_RE))
        | (_present(alt) & ~alt.rlike(_ALLELE_RE)),
        "maf_ref_equals_alt": _present(ref) & _present(alt) & (ref == alt),
        "maf_position_order": start.isNotNull()
        & end.isNotNull()
        & (start > end),
    }
    cols = set(maf.columns)
    # t_ref/t_alt_count are OPTIONAL MAF columns (unlike the coordinate and
    # allele fields) — emit the count-sanity rule only when both exist.
    if "t_ref_count" in cols and "t_alt_count" in cols:
        rules["maf_negative_allele_counts"] = (t_ref < 0) | (t_alt < 0)
    if "NCBI_Build" in cols:
        build = F.col("NCBI_Build")
        rules["maf_ncbi_build"] = _present(build) & ~build.isin(
            *_NCBI_BUILDS
        )
    if "Variant_Type" in cols:
        vt = F.col("Variant_Type")
        rules["maf_variant_type_vocabulary"] = _present(vt) & ~vt.isin(
            *_VARIANT_TYPES
        )
        lr, la = F.length(ref), F.length(alt)
        rules["maf_allele_vs_variant_type"] = (
            _present(vt)
            & _present(ref)
            & _present(alt)
            & (
                (
                    (vt == "SNP")
                    & ~(
                        (lr == 1)
                        & (la == 1)
                        & (ref != "-")
                        & (alt != "-")
                    )
                )
                | ((vt == "DNP") & ~((lr == 2) & (la == 2)))
                | ((vt == "TNP") & ~((lr == 3) & (la == 3)))
                | ((vt == "ONP") & ~((lr == la) & (lr > 3)))
                | ((vt == "INS") & ~((ref == "-") | (la > lr)))
                | ((vt == "DEL") & ~((alt == "-") | (lr > la)))
            )
        )
        rules["maf_position_allele_span"] = (
            _present(vt)
            & start.isNotNull()
            & end.isNotNull()
            & (
                ((vt == "SNP") & (end != start))
                | (
                    (vt == "DEL")
                    & ref.isNotNull()
                    & (ref != "-")
                    & (end - start + 1 != F.length(ref))
                )
            )
        )
    if "Tumor_Sample_Barcode" in cols:
        bc = F.col("Tumor_Sample_Barcode")
        rules["maf_barcode_format"] = _present(bc) & ~bc.rlike(_BARCODE_RE)
    if "Mutation_Status" in cols:
        ms = F.lower(F.col("Mutation_Status"))
        rules["maf_mutation_status_vocabulary"] = _present(
            F.col("Mutation_Status")
        ) & ~ms.isin(*_MUTATION_STATUSES)
    if "Variant_Classification" in cols:
        vc = F.col("Variant_Classification")
        rules["maf_variant_classification_vocabulary"] = _present(
            vc
        ) & ~vc.isin(*_VARIANT_CLASSIFICATIONS)
    if "Entrez_Gene_Id" in cols:
        ez = F.col("Entrez_Gene_Id").cast("string")
        rules["maf_entrez_gene_id_format"] = _present(ez) & ~ez.rlike(
            r"^[0-9]+$"
        )
    if "Validation_Status" in cols:
        vs = F.col("Validation_Status")
        rules["maf_validation_status_vocabulary"] = _present(vs) & ~F.lower(
            vs
        ).isin(*_VALIDATION_STATUSES)
    if "Verification_Status" in cols:
        vrs = F.col("Verification_Status")
        rules["maf_verification_status_vocabulary"] = _present(
            vrs
        ) & ~F.lower(vrs).isin(*_VERIFICATION_STATUSES)
    rules["maf_positive_start"] = start.isNotNull() & (start < 1)
    if "Strand" in cols:
        st = F.col("Strand")
        rules["maf_strand_symbol"] = _present(st) & ~st.isin("+", "-")
    if "HGVSp_Short" in cols:
        hp = F.col("HGVSp_Short")
        rules["maf_hgvsp_prefix"] = (
            hp.isNotNull() & (hp != "") & ~hp.startswith("p.")
        )
    return _rule_findings(maf, rules)


def table_profile_checks(
    df: DataFrame,
    count_check: str | None = None,
    distinct_cols: Sequence[str] = (),
    no_null_cols: Sequence[str] = (),
    all_null_cols: Sequence[str] = (),
) -> DataFrame:
    """The self-comparison (pipeline in == out) fusion of
    :func:`count_equality` + :func:`distinct_count_equality` +
    :func:`no_null_keys` + :func:`no_all_null_columns`: ONE map-side-combined
    aggregate scan emits all their finding rows (identical schema, names,
    details) instead of 4-6 separate scans of the same table. At 100 TB a
    validation pass re-reading the fact table per check is the difference
    between one pass and six; the two-sided operators remain for genuine
    in-vs-out comparisons."""
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.countDistinct(c).alias(f"__d_{c}") for c in distinct_cols],
        *[
            F.count(F.col(c)).alias(f"__c_{c}")
            for c in sorted({*no_null_cols, *all_null_cols})
        ],
    )

    n = F.col("__n")
    rows = [_unchanged(count_check, n)] if count_check else []
    rows += [
        _unchanged(f"distinct_{c.lower()}_preserved", F.col(f"__d_{c}"))
        for c in distinct_cols
    ]
    rows += [
        _violation(f"no_null_{c.lower()}", n - F.col(f"__c_{c}"), f"null rows in {c}")
        for c in no_null_cols
    ]
    if all_null_cols:
        bad = F.array_compact(
            F.array(
                *[F.when(F.col(f"__c_{c}") == 0, F.lit(c)) for c in all_null_cols]
            )
        )
        detail = F.when(
            F.size(bad) > 0, F.concat(F.lit("all-null: "), F.concat_ws(",", bad))
        ).otherwise(F.lit(""))
        rows.append(_violation("no_all_null_columns", F.size(bad), detail))
    return _findings(agg, rows)


def keyed_dup_and_distinct_checks(
    df: DataFrame,
    key: str,
    distinct_check: str | None = None,
    dup_check: str = "no_duplicate_rows",
) -> DataFrame:
    """Fusion of :func:`no_duplicate_rows` (keyed) with
    :func:`distinct_count_equality` (self-comparison): both derive from the
    SAME ``groupBy(key)`` — the distinct count is the group count, the dup
    count is the >1 group count — so one shuffle serves two checks."""
    grouped = df.groupBy(key).agg(F.count(F.lit(1)).alias("__k"))
    agg = grouped.agg(
        F.count(F.lit(1)).alias("__nd"),
        F.sum(F.when(F.col("__k") > 1, 1).otherwise(0)).alias("__dup"),
    )
    rows = [_unchanged(distinct_check, F.col("__nd"))] if distinct_check else []
    rows.append(_violation(dup_check, F.col("__dup"), "duplicate key groups"))
    return _findings(agg, rows)


def findings_union(findings: Sequence[DataFrame]) -> DataFrame:
    """Combine check DataFrames into ONE lazy findings DataFrame (single
    action evaluates the whole suite)."""
    return reduce(lambda a, b: a.unionByName(b), findings)


def has_errors(findings: DataFrame) -> bool:
    """ErrorFlagHandler semantics: any ERROR row ⇒ failed study
    (reference ``utils.py:52-58``, checked at ``clinical.py:949-950``)."""
    return findings.filter(F.col("status") == "ERROR").limit(1).count() > 0


def constraint_suite(
    df: DataFrame,
    rules: Sequence[dict],
) -> DataFrame:
    """Declarative data-quality constraints (the Deequ/GreatExpectations
    surface) compiled to ONE fused aggregate scan — the generalization of
    :func:`table_profile_checks` from fixed check kinds to a user rule
    list. At 100 TB the compilation is the feature: N rules = N aggregate
    expressions in one map-side-combined pass, never N table scans;
    ``foreign_key`` rules add one anti-join each (distinct keys only on
    the probe side).

    Rule kinds (each a dict with ``kind`` and an optional ``name``):

    - ``not_null``  {col}                 — NULLs are the violations
    - ``range``     {col, min?, max?}     — non-null values outside
      [min, max]; NULLs don't violate (pair with not_null if they should)
    - ``in_set``    {col, values}         — non-null values not in the set
    - ``regex``     {col, pattern}        — non-null values not rlike
    - ``custom``    {expr}                — SQL predicate; violation ⟺ the
      predicate evaluates FALSE (NULL = unknown = no violation, the SQL
      convention)
    - ``unique``    {cols}                — rows beyond the first per
      distinct combination (n − countDistinct(struct))
    - ``min_rows``  {threshold}           — table-level row-count floor
    - ``foreign_key`` {col, ref, ref_col} — non-null values absent from
      the ``ref`` DataFrame's ``ref_col`` (referential integrity)

    Output: (rule, kind, violations, total, status) — one row per rule,
    deterministic order-insensitive content; status ERROR ⟺ violations>0
    (min_rows: observed<threshold).
    """
    # r10: rules compile to SQL STRINGS parsed JVM-side in one shot per
    # aggregate/projection (guide §1 driver fixed costs) — the old
    # per-rule Column DSL cost a py4j round trip per operator (~3000
    # round trips ≈ 1 s of pure driver time for a 12-rule suite). The
    # rendered predicates mirror the former Column trees exactly
    # (isNull ⟺ IS NULL, isin ⟺ IN, when/otherwise ⟺ CASE WHEN), and
    # every violation count is an exact integer, so results are
    # unchanged. Violation-count strings reference the slot aliases and
    # are re-used inside the struct rows below.
    def _lit(v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            return f"{v!r}D"
        if isinstance(v, int):
            # F.lit(int) picks IntegerType in int32 range, LongType above
            return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    def _q(col: str) -> str:
        return "`" + col.replace("`", "``") + "`"

    agg_exprs: list[str] = ["count(1) AS __n"]
    agg_rules: list[tuple[str, str, str]] = []  # (name, kind, viol SQL)
    fk_frames: list[DataFrame] = []

    for r in rules:
        kind = r["kind"]
        name = r.get("name")
        if kind == "not_null":
            c = r["col"]
            name = name or f"not_null_{c}"
            slot = f"__v{len(agg_exprs)}"
            agg_exprs.append(
                f"sum(cast(({_q(c)} IS NULL) as bigint)) AS {slot}"
            )
            agg_rules.append((name, kind, f"coalesce({slot}, 0)"))
        elif kind == "range":
            c = _q(r["col"])
            bounds = []
            if "min" in r:
                bounds.append(f"({c} < {_lit(r['min'])})")
            if "max" in r:
                bounds.append(f"({c} > {_lit(r['max'])})")
            bad = " OR ".join(bounds)
            name = name or f"range_{r['col']}"
            slot = f"__v{len(agg_exprs)}"
            agg_exprs.append(
                f"sum(cast(({c} IS NOT NULL AND ({bad})) as bigint)) AS {slot}"
            )
            agg_rules.append((name, kind, f"coalesce({slot}, 0)"))
        elif kind == "in_set":
            c = _q(r["col"])
            name = name or f"in_set_{r['col']}"
            slot = f"__v{len(agg_exprs)}"
            vals = ", ".join(_lit(v) for v in r["values"])
            agg_exprs.append(
                f"sum(cast(({c} IS NOT NULL AND NOT ({c} IN ({vals}))) "
                f"as bigint)) AS {slot}"
            )
            agg_rules.append((name, kind, f"coalesce({slot}, 0)"))
        elif kind == "regex":
            c = _q(r["col"])
            name = name or f"regex_{r['col']}"
            slot = f"__v{len(agg_exprs)}"
            agg_exprs.append(
                f"sum(cast(({c} IS NOT NULL AND NOT ({c} RLIKE "
                f"{_lit(r['pattern'])})) as bigint)) AS {slot}"
            )
            agg_rules.append((name, kind, f"coalesce({slot}, 0)"))
        elif kind == "custom":
            name = name or "custom"
            slot = f"__v{len(agg_exprs)}"
            agg_exprs.append(
                f"sum(cast((({r['expr']}) = FALSE) as bigint)) AS {slot}"
            )
            agg_rules.append((name, kind, f"coalesce({slot}, 0)"))
        elif kind == "unique":
            cols = list(r["cols"])
            name = name or "unique_" + "_".join(cols)
            slot = f"__v{len(agg_exprs)}"
            struct_cols = ", ".join(_q(c) for c in cols)
            agg_exprs.append(
                f"count(DISTINCT struct({struct_cols})) AS {slot}"
            )
            agg_rules.append((name, kind, f"(__n - coalesce({slot}, 0))"))
        elif kind == "min_rows":
            name = name or "min_rows"
            thr = int(r["threshold"])
            agg_rules.append(
                (
                    name,
                    kind,
                    f"(CASE WHEN __n < {_lit(thr)} THEN {_lit(thr)} - __n "
                    "ELSE 0 END)",
                )
            )
        elif kind == "foreign_key":
            c, ref, ref_col = r["col"], r["ref"], r["ref_col"]
            name = name or f"fk_{c}"
            fk_viol = (
                df.select(F.col(c).alias("__k"))
                .filter(F.col("__k").isNotNull())
                .join(
                    ref.select(F.col(ref_col).alias("__k")).distinct(),
                    "__k",
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).alias("__viol"))
            )
            total = df.agg(F.count(F.lit(1)).alias("__n"))
            fk_frames.append(
                fk_viol.crossJoin(F.broadcast(total)).select(
                    F.lit(name).alias("rule"),
                    F.lit(kind).alias("kind"),
                    F.col("__viol").cast("long").alias("violations"),
                    F.col("__n").cast("long").alias("total"),
                    F.when(F.col("__viol") > 0, F.lit("ERROR"))
                    .otherwise(F.lit("OK"))
                    .alias("status"),
                )
            )
        else:
            raise ValueError(f"unknown constraint kind: {kind!r}")

    frames: list[DataFrame] = []
    if agg_rules:
        agg = df.agg(*[F.expr(e) for e in agg_exprs])
        rows = ", ".join(
            f"named_struct('rule', {_lit(name)}, 'kind', {_lit(kind)}, "
            f"'violations', cast({viol} as bigint), "
            "'total', cast(__n as bigint), "
            f"'status', CASE WHEN {viol} > 0 THEN 'ERROR' ELSE 'OK' END)"
            for name, kind, viol in agg_rules
        )
        frames.append(
            agg.selectExpr(f"explode(array({rows})) AS f").select("f.*")
        )
    frames.extend(fk_frames)
    if not frames:
        raise ValueError("constraint_suite needs at least one rule")
    return reduce(lambda a, b: a.unionByName(b), frames)


# cBioPortal clinical status vocabularies (validateData.py clinical
# validator; the reference maps raw {0,1} into these at clinical.py:418-422
# and a value left unmapped fails the study validator).
_OS_STATUSES = ("0:living", "1:deceased")
_PFS_STATUSES = ("0:censored", "1:progression")


def clinical_value_conformance(
    clinical: DataFrame,
    number_cols: Sequence[str] = (),
    boolean_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-field CLINICAL value checks — the clinical-file half of
    cBioPortal ``validateData.py`` (the MAF half is
    :func:`maf_value_conformance`): the reference shells the whole bundle
    out to the validator (``validate.py:211-216``) whose clinical
    validator enforces id charsets, declared-datatype conformance and the
    survival-status vocabularies the reference's own remap produces
    (``clinical.py:403-422``).

    Rules (each column-presence gated, NULLs skipped — presence is the
    validation suite's job):
    - ``clinical_patient_id_format`` / ``clinical_sample_id_format``:
      cBioPortal id charset ``[A-Za-z0-9._-]``.
    - ``clinical_number_<col>``: a NUMBER-typed attribute must parse as a
      number or be the literal ``NA`` (validateData's datatype check —
      the meta-header DATATYPE line drives which columns are NUMBER).
    - ``clinical_boolean_<col>``: BOOLEAN attribute ∈ {TRUE, FALSE, NA}.
    - ``clinical_os_status_vocabulary`` / ``clinical_pfs_status_vocabulary``:
      ``0:LIVING / 1:DECEASED`` and ``0:CENSORED / 1:PROGRESSION``
      (case-insensitive; an un-remapped raw 0/1 is exactly what this
      catches — the reference errors on it post-remap).

    ONE aggregate pass, same findings schema as every validator here.
    """
    cols = set(clinical.columns)
    id_re = r"^[A-Za-z0-9._-]+$"
    num_re = r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$"
    rules: dict[str, Column] = {}
    if "PATIENT_ID" in cols:
        pid = F.col("PATIENT_ID")
        rules["clinical_patient_id_format"] = (
            pid.isNotNull() & (pid != "") & ~pid.rlike(id_re)
        )
    if "SAMPLE_ID" in cols:
        sid = F.col("SAMPLE_ID")
        rules["clinical_sample_id_format"] = (
            sid.isNotNull() & (sid != "") & ~sid.rlike(id_re)
        )
    for c in number_cols:
        if c not in cols:
            continue
        v = F.col(c).cast("string")
        rules[f"clinical_number_{c.lower()}"] = (
            v.isNotNull() & (v != "NA") & (v != "") & ~v.rlike(num_re)
        )
    for c in boolean_cols:
        if c not in cols:
            continue
        v = F.upper(F.col(c).cast("string"))
        rules[f"clinical_boolean_{c.lower()}"] = (
            F.col(c).isNotNull() & (v != "") & ~v.isin("TRUE", "FALSE", "NA")
        )
    if "OS_STATUS" in cols:
        osv = F.lower(F.col("OS_STATUS"))
        rules["clinical_os_status_vocabulary"] = (
            F.col("OS_STATUS").isNotNull()
            & (F.col("OS_STATUS") != "")
            & ~osv.isin(*_OS_STATUSES)
        )
    if "PFS_STATUS" in cols:
        pfv = F.lower(F.col("PFS_STATUS"))
        rules["clinical_pfs_status_vocabulary"] = (
            F.col("PFS_STATUS").isNotNull()
            & (F.col("PFS_STATUS") != "")
            & ~pfv.isin(*_PFS_STATUSES)
        )
    return _rule_findings(clinical, rules)


def _absent_keys(
    left: DataFrame, left_col: str, right: DataFrame, right_col: str
) -> DataFrame:
    """Distinct non-NULL values of ``left_col`` absent from ``right_col``
    (unlike :func:`keyset_subset`, a NULL key is skipped, not missing).
    Only distinct key values move — never the rows."""
    return (
        left.select(F.col(left_col).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .distinct()
        .join(
            right.select(F.col(right_col).alias("__k"))
            .filter(F.col("__k").isNotNull())
            .distinct(),
            "__k",
            "left_anti",
        )
    )


def cross_file_referential_checks(
    patient_df: DataFrame,
    sample_df: DataFrame,
    data_files: "dict[str, tuple[DataFrame, str]] | None" = None,
    case_lists: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Cross-FILE referential checks — the bundle-level half of cBioPortal
    ``validateData.py`` that the reference reaches only through its
    subprocess call (``validate.py:211-216``); the per-field halves are
    :func:`maf_value_conformance` / :func:`clinical_value_conformance`.
    cBioPortal's validator errors when a data file references a sample the
    clinical sample file doesn't define, when the sample file references an
    undefined patient, and when a case list contains unknown or duplicate
    sample ids; it warns on patients that have no samples.

    Checks (uniform findings schema, ONE lazy union — the whole report is
    a single Spark action):

    - ``xref_sample_patients_in_patient_file`` (ERROR): every
      ``PATIENT_ID`` in the sample file appears in the patient file.
    - ``xref_patients_have_samples`` (WARN): patients with zero samples.
    - ``xref_<name>_samples_in_clinical`` (ERROR): for each
      ``data_files[name] = (df, its_sample_column)`` — MAF barcodes,
      expression-matrix sample columns, timeline files — every referenced
      sample is a clinical sample.
    - ``case_list_<name>_members_in_clinical`` (ERROR) and
      ``case_list_<name>_duplicate_members`` (ERROR): for each
      ``case_lists[name]`` (a one-column DataFrame of member sample ids).

    Scale: every check anti-joins DISTINCT id columns only; data-file rows
    and clinical rows never shuffle. At 100 TB the distinct id sets are
    the small side (ids are bounded by cohort size, not by variants), so
    these joins broadcast or at worst shuffle ids alone.
    """
    findings = [
        _count_violation(
            _absent_keys(sample_df, "PATIENT_ID", patient_df, "PATIENT_ID"),
            "xref_sample_patients_in_patient_file",
            "sample-file patient ids absent from patient file",
        ),
        _count_violation(
            _absent_keys(patient_df, "PATIENT_ID", sample_df, "PATIENT_ID"),
            "xref_patients_have_samples",
            "patients with no samples",
            severity="WARN",
        ),
    ]
    for name, (df, df_sample_col) in (data_files or {}).items():
        findings.append(
            _count_violation(
                _absent_keys(df, df_sample_col, sample_df, "SAMPLE_ID"),
                f"xref_{name}_samples_in_clinical",
                f"{name} sample ids absent from clinical samples",
            )
        )
    for name, members in (case_lists or {}).items():
        mcol = members.columns[0]
        ids = members.select(F.col(mcol).alias("__k")).filter(F.col("__k").isNotNull())
        findings += [
            _count_violation(
                _absent_keys(members, mcol, sample_df, "SAMPLE_ID"),
                f"case_list_{name}_members_in_clinical",
                f"case list {name} ids absent from clinical samples",
            ),
            _count_violation(
                _dup_groups(ids, ["__k"]),
                f"case_list_{name}_duplicate_members",
                f"case list {name} ids listed more than once",
            ),
        ]
    return findings_union(findings)


#: cBioPortal's documented (genetic_alteration_type, datatype) matrix for
#: the file formats this pipeline can emit (public file-format docs; the
#: reference reaches the same table through the datahub
#: ``generate_meta_files.py -m datatypes.txt`` subprocess,
#: ``clinical.py:634-641``).
ALLOWED_META_DATATYPES = frozenset(
    {
        ("CLINICAL", "PATIENT_ATTRIBUTES"),
        ("CLINICAL", "SAMPLE_ATTRIBUTES"),
        ("MUTATION_EXTENDED", "MAF"),
        ("COPY_NUMBER_ALTERATION", "DISCRETE"),
        ("COPY_NUMBER_ALTERATION", "CONTINUOUS"),
        ("COPY_NUMBER_ALTERATION", "LOG2-VALUE"),
        ("COPY_NUMBER_ALTERATION", "SEG"),
        ("MRNA_EXPRESSION", "CONTINUOUS"),
        ("MRNA_EXPRESSION", "Z-SCORE"),
        ("GENERIC_ASSAY", "LIMIT-VALUE"),
        ("STRUCTURAL_VARIANT", "SV"),
        ("METHYLATION", "CONTINUOUS"),
    }
)

#: Reference ``clinical.py:66-73``: files every exported study must carry.
REQUIRED_BUNDLE_FILES = (
    "data_clinical_patient.txt",
    "data_clinical_sample.txt",
    "cases_sequenced.txt",
    "cases_all.txt",
    "meta_clinical_patient.txt",
    "meta_clinical_sample.txt",
)


def parse_meta_text(name: str, text: str) -> dict:
    """Parse one ``meta_*.txt`` / ``cases_*.txt`` key:value document (the
    inverse of ``sinks.render_meta_file``) into a flat dict with
    ``meta_name`` added. Driver-side by design — meta files are KB-sized
    study descriptors, exactly like the reference's own handling."""
    fields: dict = {"meta_name": name}
    for line in text.splitlines():
        if ":" in line:
            k, v = line.split(":", 1)
            fields[k.strip()] = v.strip()
    return fields


def meta_consistency_checks(
    metas: DataFrame,
    bundle_files: DataFrame,
) -> DataFrame:
    """Meta-file ↔ bundle cross-consistency — the study-descriptor tier of
    cBioPortal ``validateData.py`` (the reference reaches it only through
    its subprocess call, ``validate.py:211-216``), completing the native
    validator next to :func:`cross_file_referential_checks` (id-level) and
    the per-field conformance rules.

    ``metas``: one row per meta file with columns ``meta_name,
    cancer_study_identifier, genetic_alteration_type, datatype, stable_id,
    data_filename`` (NULL where a meta legitimately omits a key — e.g.
    ``meta_study`` carries no alteration type). ``bundle_files``: one
    ``filename`` column listing the bundle directory.

    Checks (uniform findings schema, ONE lazy union):

    - ``meta_study_id_uniform`` (ERROR): every meta declares the same
      ``cancer_study_identifier`` (validator: mismatched study ids abort
      the import).
    - ``meta_datatype_combination`` (ERROR): each
      (genetic_alteration_type, datatype) pair is a combination cBioPortal
      defines (:data:`ALLOWED_META_DATATYPES`).
    - ``meta_data_file_exists`` (ERROR): every ``data_filename`` a meta
      references exists in the bundle.
    - ``meta_orphan_data_files`` (WARN): ``data_*`` files no meta claims —
      silently-unloaded data, the classic packaging mistake.
    - ``meta_duplicate_stable_id`` (ERROR): stable ids are unique across
      metas.
    - ``meta_required_files`` (ERROR): the reference's REQUIRED
      bundle files (``clinical.py:66-73``) are all present.

    Scale: metas and file listings are KB-sized study descriptors — every
    join here broadcasts; nothing from the data files themselves is read,
    so the check costs nothing at 100 TB.
    """
    spark = metas.sparkSession

    # enforce the documented one-row-per-file contract: a listing with
    # duplicate filenames would double-count orphans (the one branch where
    # bundle_files is the LEFT side) and diverge from the DISTINCT oracle.
    bundle_files = bundle_files.select("filename").distinct()

    # deviants = metas not declaring the canonical (minimum) study id —
    # computed as two aggregates over the per-study counts (min-struct
    # picks the canonical id's count), NOT a scalar crossJoin: keeps the
    # plan nested-loop-free for the registry linter.
    per_study = (
        metas.filter(F.col("cancer_study_identifier").isNotNull())
        .groupBy("cancer_study_identifier")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    deviants = per_study.agg(
        (
            F.coalesce(F.sum("__c"), F.lit(0))
            - F.coalesce(
                F.min(
                    F.struct(F.col("cancer_study_identifier"), F.col("__c"))
                ).getField("__c"),
                F.lit(0),
            )
        ).alias("n")
    )

    pair = F.concat_ws("/", "genetic_alteration_type", "datatype")
    allowed = [f"{g}/{d}" for g, d in sorted(ALLOWED_META_DATATYPES)]
    bad_pairs = metas.filter(
        F.col("genetic_alteration_type").isNotNull() & ~pair.isin(allowed)
    )
    referenced = metas.filter(F.col("data_filename").isNotNull()).select(
        F.col("data_filename").alias("filename")
    )
    missing_data = referenced.join(
        F.broadcast(bundle_files), "filename", "left_anti"
    )
    orphans = (
        bundle_files.filter(F.col("filename").startswith("data_"))
        .join(F.broadcast(referenced.distinct()), "filename", "left_anti")
    )
    dup_stable = _dup_groups(
        metas.filter(F.col("stable_id").isNotNull()), ["stable_id"]
    )
    required = spark.createDataFrame(
        [(f,) for f in REQUIRED_BUNDLE_FILES], "filename string"
    )
    missing_required = required.join(
        F.broadcast(bundle_files), "filename", "left_anti"
    )
    return findings_union(
        [
            _findings(
                deviants,
                [
                    _violation(
                        "meta_study_id_uniform",
                        F.col("n"),
                        "metas declaring a different cancer_study_identifier",
                    )
                ],
            ),
            _count_violation(
                bad_pairs,
                "meta_datatype_combination",
                "(genetic_alteration_type, datatype) not defined by cBioPortal",
            ),
            _count_violation(
                missing_data,
                "meta_data_file_exists",
                "metas referencing a data file absent from the bundle",
            ),
            _count_violation(
                orphans,
                "meta_orphan_data_files",
                "data_* files no meta references",
                severity="WARN",
            ),
            _count_violation(
                dup_stable,
                "meta_duplicate_stable_id",
                "stable_id values shared by more than one meta",
            ),
            _count_violation(
                missing_required,
                "meta_required_files",
                "required bundle files absent (reference clinical.py:66-73)",
            ),
        ]
    )


#: cBioPortal clinical attribute datatypes (validateData's DATATYPE line
#: vocabulary; the sink writes these at sinks.py:93-96).
CLINICAL_HEADER_DATATYPES = ("STRING", "NUMBER", "BOOLEAN")


def parse_clinical_header_text(name: str, text: str) -> list[dict]:
    """Parse a cBioPortal clinical file's 5-line attribute header (four
    ``#`` lines — display name / description / datatype / priority — then
    the column-id line; the inverse of ``sinks.cbioportal_clinical_header``)
    into one dict per attribute. Driver-side by design: headers are
    KB-sized, exactly like :func:`parse_meta_text`.

    ``arity_ok`` is a FILE-level flag repeated on every attribute row:
    False when any ``#`` line's field count differs from the column line's
    (cBioPortal's validator errors on ragged headers). Ragged lines are
    padded with NULLs so the per-attribute rules still see every column."""
    lines = text.splitlines()
    hash_lines = [ln[1:].split("\t") for ln in lines[:4] if ln.startswith("#")]
    if len(hash_lines) != 4 or len(lines) < 5 or lines[4].startswith("#"):
        raise ValueError(
            f"{name}: expected 4 '#' header lines then a column line"
        )
    col_ids = lines[4].split("\t")
    arity_ok = all(len(h) == len(col_ids) for h in hash_lines)

    def field(j: int, i: int) -> str | None:
        return hash_lines[j][i] if i < len(hash_lines[j]) else None

    return [
        {
            "filename": name,
            "column_id": cid,
            "display_name": field(0, i),
            "description": field(1, i),
            "datatype": field(2, i),
            "priority": field(3, i),
            "arity_ok": arity_ok,
        }
        for i, cid in enumerate(col_ids)
    ]


def clinical_header_conformance(attrs: DataFrame) -> DataFrame:
    """Attribute-HEADER conformance — the header tier of cBioPortal
    ``validateData.py``'s clinical validator (the reference only reaches it
    via the subprocess call, ``validate.py:211-216``), completing the
    native stack under :func:`clinical_value_conformance` (values) /
    :func:`cross_file_referential_checks` (ids) /
    :func:`meta_consistency_checks` (study descriptors).

    ``attrs``: one row per (filename, column_id) attribute as produced by
    :func:`parse_clinical_header_text` — columns ``filename, column_id,
    display_name, description, datatype, priority, arity_ok``.

    Rules (ONE aggregate pass; uniform findings schema):
    - ``header_datatype_vocabulary`` (ERROR): datatype ∈ STRING/NUMBER/
      BOOLEAN.
    - ``header_priority_integer`` (ERROR): priority is a base-10 integer
      (validateData: non-numeric priority aborts the import).
    - ``header_duplicate_column_id`` (ERROR): column ids unique per file.
    - ``header_arity_mismatch`` (ERROR): files whose ``#`` lines disagree
      with the column line's field count.
    - ``header_display_name_missing`` (WARN): empty display names load but
      render as raw ids in the portal UI.
    - ``header_required_patient_id`` (ERROR): every file carries a
      PATIENT_ID column.

    Scale: headers are KB-sized per file — this whole validator is a
    single combiner-reduced aggregate over descriptor rows; it reads no
    data-file bytes, so it costs nothing at 100 TB."""
    dt = F.col("datatype")
    pr = F.col("priority").cast("string")
    dn = F.col("display_name")
    # F.sum over zero rows is NULL, which would make "n_bad == 0" NULL on an
    # empty attrs frame and mis-report every sum rule as failing with a NULL
    # count — coalesce to 0 so a vacuously clean input reads all-OK
    zsum = lambda c, name: F.coalesce(F.sum(c), F.lit(0)).alias(name)  # noqa: E731
    aggs = [
        zsum(
            F.when(
                dt.isNull() | ~dt.isin(*CLINICAL_HEADER_DATATYPES), 1
            ).otherwise(0),
            "__bad_datatype",
        ),
        zsum(
            F.when(pr.isNull() | ~pr.rlike(r"^[0-9]+$"), 1).otherwise(0),
            "__bad_priority",
        ),
        (
            F.count(F.lit(1)) - F.countDistinct("filename", "column_id")
        ).alias("__dup_ids"),
        F.countDistinct(
            F.when(~F.col("arity_ok"), F.col("filename"))
        ).alias("__arity_files"),
        zsum(
            F.when(dn.isNull() | (dn == ""), 1).otherwise(0),
            "__missing_display",
        ),
        F.countDistinct("filename").alias("__n_files"),
        F.countDistinct(
            F.when(F.col("column_id") == "PATIENT_ID", F.col("filename"))
        ).alias("__has_patient_id"),
    ]
    agg = attrs.agg(*aggs)
    rules = [
        ("header_datatype_vocabulary", F.col("__bad_datatype"), "ERROR",
         "attrs with datatype outside STRING/NUMBER/BOOLEAN"),
        ("header_priority_integer", F.col("__bad_priority"), "ERROR",
         "attrs with non-integer priority"),
        ("header_duplicate_column_id", F.col("__dup_ids"), "ERROR",
         "duplicate column ids within a file"),
        ("header_arity_mismatch", F.col("__arity_files"), "ERROR",
         "files with ragged '#' header lines"),
        ("header_display_name_missing", F.col("__missing_display"), "WARN",
         "attrs with empty display names"),
        ("header_required_patient_id",
         F.col("__n_files") - F.col("__has_patient_id"), "ERROR",
         "files missing required column PATIENT_ID"),
    ]
    return _findings(
        agg,
        [_violation(name, n, detail, sev) for name, n, sev, detail in rules],
    )
