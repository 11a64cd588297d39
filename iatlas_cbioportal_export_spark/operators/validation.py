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

Every predicate, aggregate and finding row is a SQL string (:func:`_lit`
and :func:`_q` are the only renderers), so an aggregate costs one
``selectExpr`` and its finding rows one more (:func:`_findings`), where a
Column tree cost a py4j round trip per operator. :class:`_Pass` evaluates
the checks over one or more tables with ONE scan per table;
:func:`file_presence_findings` decides its rows on the driver, and
:func:`constraint_suite` keeps its own ``(rule, kind, violations, total,
status)`` schema.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FINDINGS_COLUMNS = ["check", "status", "observed", "expected", "detail"]


def _lit(v) -> str:
    """A Python value as a SQL literal."""
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
    """A column name as a SQL identifier."""
    return "`" + col.replace("`", "``") + "`"


def _finding(
    check: str, ok: str, observed: str, expected: str, detail: str,
    severity: str = "ERROR",
) -> str:
    """One finding row as a SQL struct: status OK when the predicate ``ok``
    holds (a NULL ``ok`` does not), else ``severity``. ``ok``,
    ``observed``, ``expected`` and ``detail`` are SQL expressions."""
    return (
        f"named_struct('check', {_lit(check)}, "
        f"'status', CASE WHEN {ok} THEN 'OK' ELSE {_lit(severity)} END, "
        f"'observed', CAST({observed} AS BIGINT), "
        f"'expected', CAST({expected} AS BIGINT), 'detail', {detail})"
    )


def _violation(check: str, n: str, detail: str, severity: str = "ERROR") -> str:
    """A finding whose SQL count ``n`` counts violations: OK iff it is 0."""
    return _finding(check, f"({n}) = 0", n, "0", detail, severity)


def _unchanged(check: str, n: str) -> str:
    """A self-comparison (in == out by construction): always OK."""
    return _finding(check, "TRUE", n, n, f"format_string('in=%d out=%d', {n}, {n})")


def _in_out(check: str, n_in: str, n_out: str) -> str:
    """OK iff the SQL measures ``n_in`` and ``n_out`` are equal."""
    detail = f"format_string('in=%d out=%d', {n_in}, {n_out})"
    return _finding(check, f"{n_in} = {n_out}", n_out, n_in, detail)


def _findings(agg: DataFrame, rows: Sequence[str]) -> DataFrame:
    """The SQL struct ``rows`` over ``agg``'s columns as findings rows."""
    return agg.selectExpr(f"inline(array({', '.join(rows)}))")


def _count_violation(
    df: DataFrame, check: str, detail: str, severity: str = "ERROR"
) -> DataFrame:
    """One finding that counts every row of ``df`` as a violation."""
    n = df.selectExpr("count(1) AS n")
    return _findings(n, [_violation(check, "n", _lit(detail), severity)])


def _dup_groups(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The ``keys`` groups of ``df`` holding more than one row."""
    return df.groupBy(*keys).agg(F.expr("count(1) AS __c")).filter("__c > 1")


class _Pass:
    """Checks over one or more tables, evaluated with ONE scan per table.

    :meth:`table` registers a frame with the key columns its key checks
    read, each in a named key space; keys of one space are compared with
    each other as strings. Each row emits one census entry per key (one
    keyless entry when it has none), and its first entry also carries
    the per-row values the row checks added, one slot each. When a key
    check is added, one ``groupBy(space, key)`` sums every slot: a
    co-group that moves key columns and counters only, which is all a
    cross-file anti-join would read. Otherwise the entries feed the
    aggregate directly. One aggregate then computes every check's numbers
    and :meth:`findings` emits the rows in the order the checks were
    added."""

    def __init__(self) -> None:
        self._tables: list[tuple[DataFrame, list[tuple[str, str]], dict[str, str]]] = []
        self._aggs: list[str] = []
        self._rows: list[str] = []
        self._keyed = False

    def table(self, df: DataFrame, keys: Sequence[tuple[str, str]]) -> int:
        """Register ``df`` with its ``(space, column)`` keys; returns its id."""
        self._tables.append((df, list(keys), {}))
        return len(self._tables) - 1

    def row(self, finding: str) -> None:
        """Add a :func:`_finding` row over the aggregates."""
        self._rows.append(finding)

    def _agg(self, sql: str) -> str:
        name = f"__a{len(self._aggs)}"
        self._aggs.append(f"{sql} AS {name}")
        return name

    def _slot(self, t: int, pred: str) -> str:
        values = self._tables[t][2]
        slot = f"__t{t}v{len(values)}"
        values[slot] = f"CASE WHEN {pred} THEN 1 ELSE 0 END"
        return slot

    def hits(self, t: int, pred: str) -> str:
        """Rows of table ``t`` where the SQL predicate holds (a NULL
        predicate does not); NULL on an empty table."""
        return self._agg(f"sum({self._slot(t, pred)})")

    def count(self, t: int, pred: str = "TRUE") -> str:
        """Like :meth:`hits`, but 0 on an empty table."""
        return self._agg(f"coalesce(sum({self._slot(t, pred)}), 0)")

    def _in(self, t: int, space: str) -> tuple[str, str]:
        """The condition selecting ``space``'s census groups, and the slot
        counting table ``t``'s rows in a group (NULL where it has none)."""
        self._keyed = True
        spaces = [s for s, _ in self._tables[t][1]]
        return f"__space = {_lit(space)}", f"__t{t}k{spaces.index(space)}"

    def distinct(self, t: int, space: str) -> str:
        """Distinct non-NULL ``space`` keys of table ``t``."""
        cond, n = self._in(t, space)
        return self._agg(f"count(CASE WHEN {cond} AND __key IS NOT NULL AND {n} > 0 THEN 1 END)")

    def _absent(self, left: int, right: int, space: str, skip_null: bool) -> str:
        cond, n_left = self._in(left, space)
        n_right = self._in(right, space)[1]
        missing = (
            f"__key IS NOT NULL AND {n_right} IS NULL"
            if skip_null
            else f"(__key IS NULL OR {n_right} IS NULL)"
        )
        return self._agg(f"count(CASE WHEN {cond} AND {n_left} > 0 AND {missing} THEN 1 END)")

    def subset(
        self, left: int, right: int, space: str, check: str, detail: str,
        skip_null: bool = False, severity: str = "ERROR",
    ) -> None:
        """Distinct ``space`` keys of ``left`` absent from ``right``. A NULL
        key is absent (anti-join semantics), or skipped with
        ``skip_null``."""
        n = self._absent(left, right, space, skip_null)
        self.row(_violation(check, n, _lit(detail), severity))

    def equal(self, left: int, right: int, space: str, check: str) -> None:
        """The distinct ``space`` key sets of ``left`` and ``right`` are
        equal (both anti-joins of :func:`keyset_preserved`)."""
        lo = self._absent(left, right, space, False)
        ro = self._absent(right, left, space, False)
        detail = f"format_string('left_only=%d right_only=%d', {lo}, {ro})"
        self.row(_violation(check, f"{lo} + {ro}", detail))

    def duplicates(
        self, t: int, space: str, check: str, distinct_check: str | None = None
    ) -> None:
        """:func:`keyed_dup_and_distinct_checks`: the ``space`` groups (a
        NULL key is one) and those holding more than one row of ``t``; the
        latter is NULL on an empty table."""
        cond, n = self._in(t, space)
        if distinct_check:
            groups = self._agg(f"count(CASE WHEN {cond} AND {n} > 0 THEN 1 END)")
            self.row(_unchanged(distinct_check, groups))
        dup = self._agg(f"sum(CASE WHEN {cond} THEN CAST({n} > 1 AS INT) END)")
        self.row(_violation(check, dup, _lit("duplicate key groups")))

    def repeated(self, t: int, space: str, check: str, detail: str) -> None:
        """Non-NULL ``space`` keys listed by more than one row of ``t``."""
        cond, n = self._in(t, space)
        dup = self._agg(f"count(CASE WHEN {cond} AND __key IS NOT NULL AND {n} > 1 THEN 1 END)")
        self.row(_violation(check, dup, _lit(detail)))

    def rules(self, t: int, rules: dict[str, str]) -> None:
        """One finding per rule: the rows of ``t`` whose SQL predicate holds
        (a NULL predicate is no violation); NULL, so ERROR, on an empty
        table."""
        for name, pred in rules.items():
            self.row(_violation(name, self.hits(t, pred), _lit("violating rows")))

    def profile(
        self,
        t: int,
        count_check: str | None = None,
        distinct_cols: Sequence[str] = (),
        no_null_cols: Sequence[str] = (),
        all_null_cols: Sequence[str] = (),
    ) -> None:
        """:func:`table_profile_checks`' rows over table ``t``; each of
        ``distinct_cols`` must be one of its key spaces."""
        n = self.count(t)
        counts = {
            c: self.count(t, f"{_q(c)} IS NOT NULL")
            for c in dict.fromkeys([*no_null_cols, *all_null_cols])
        }
        if count_check:
            self.row(_unchanged(count_check, n))
        for c in distinct_cols:
            self.row(_unchanged(f"distinct_{c.lower()}_preserved", self.distinct(t, c)))
        for c in no_null_cols:
            self.row(
                _violation(f"no_null_{c.lower()}", f"{n} - {counts[c]}", _lit(f"null rows in {c}"))
            )
        if all_null_cols:
            bad = "array_compact(array({}))".format(
                ", ".join(f"CASE WHEN {counts[c]} = 0 THEN {_lit(c)} END" for c in all_null_cols)
            )
            detail = (
                f"CASE WHEN size({bad}) > 0 THEN concat('all-null: ', concat_ws(',', {bad})) "
                "ELSE '' END"
            )
            self.row(_violation("no_all_null_columns", f"size({bad})", detail))

    def findings(self) -> DataFrame:
        """The rows of every check added, in order, as one lazy frame."""
        slots = [
            slot
            for t, (_, keys, values) in enumerate(self._tables)
            for slot in [*(f"__t{t}k{j}" for j in range(len(keys))), *values]
        ]
        frames = []
        for t, (df, keys, values) in enumerate(self._tables):
            entries = []
            for j, (space, col) in enumerate(keys or [(None, None)]):
                own = dict(values) if j == 0 else {}
                if col is not None:
                    own[f"__t{t}k{j}"] = "1"
                entries.append(
                    {
                        "__space": _lit(space) if space else "CAST(NULL AS STRING)",
                        "__key": f"CAST({_q(col)} AS STRING)" if col else "CAST(NULL AS STRING)",
                        **{s: own.get(s, "CAST(NULL AS INT)") for s in slots},
                    }
                )
            if len(entries) == 1:
                frames.append(df.selectExpr(*[f"{v} AS {k}" for k, v in entries[0].items()]))
            else:
                structs = ", ".join(
                    "named_struct({})".format(", ".join(f"{_lit(k)}, {v}" for k, v in e.items()))
                    for e in entries
                )
                frames.append(df.selectExpr(f"inline(array({structs}))"))
        census = reduce(DataFrame.union, frames)
        if self._keyed:
            census = census.groupBy("__space", "__key").agg(
                *[F.expr(f"sum({s}) AS {s}") for s in slots]
            )
        return _findings(census.selectExpr(*self._aggs), self._rows)


def count_equality(df_in: DataFrame, df_out: DataFrame) -> DataFrame:
    """V2/V8: row count in == out (reference ``clinical.py:814-817``,
    ``maf.py:234-237``)."""
    p = _Pass()
    n_in, n_out = p.count(p.table(df_in, [])), p.count(p.table(df_out, []))
    p.row(_in_out("row_count_preserved", n_in, n_out))
    return p.findings()


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
    ``validate.py:135-157``): both directions of the J6 symmetric
    anti-join (``joins.keyset_equality``), counted in one co-group of the
    two key columns."""
    p = _Pass()
    p.equal(p.table(left, [("k", left_key)]), p.table(right, [("k", right_key)]), "k", check)
    return p.findings()


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
    for kind, severity, names in (("required", "ERROR", required), ("optional", "WARN", optional)):
        for name in names:
            present = os.path.exists(os.path.join(bundle_dir, name))
            rows.append(
                _finding(
                    f"file_present_{name}", _lit(present), _lit(int(present)), "1",
                    _lit("" if present else f"missing {kind} file {name}"), severity,
                )
            )
    return _findings(spark.range(1), rows)


def _missing_columns(columns: Sequence[str], required: Sequence[str], check: str) -> str:
    """The :func:`required_columns_present` finding row."""
    missing = [c for c in required if c not in columns]
    detail = "missing: " + ",".join(missing) if missing else ""
    return _violation(check, _lit(len(missing)), _lit(detail))


def required_columns_present(
    df: DataFrame, required: Sequence[str], check: str = "required_columns_present"
) -> DataFrame:
    """V12 (subset form): every required column present — extra columns are
    fine. Schema-only, no data scan. The reference's own check
    (``validate.py:159-172``) is stricter — SET equality, so extra columns
    also fire — see :func:`schema_matches_exactly` for the faithful form;
    this subset form backs the "these columns must exist" contracts
    (v_validation_suite's lineitem_schema etc.)."""
    return _findings(df.sparkSession.range(1), [_missing_columns(df.columns, required, check)])


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
        [_violation("schema_matches_exactly", _lit(n), _lit("; ".join(parts)))],
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


def _present(c: str) -> str:
    # TSV-borne MAFs carry missing values as EMPTY STRINGS, not NULLs (the
    # 118-col fixture and real exports alike); a blank field is "missing"
    # to every value rule, exactly like NULL — presence enforcement stays
    # the validation suite's job.
    return f"({c} IS NOT NULL AND {c} != '')"


def _in_set(c: str, values: Sequence[str]) -> str:
    return f"{c} IN ({', '.join(_lit(v) for v in values)})"


def _maf_rules(columns: Sequence[str]) -> dict[str, str]:
    """:func:`maf_value_conformance`'s rules as SQL predicates over a MAF
    with these columns (each true on a violating row)."""
    chrom, ref, alt = _q("Chromosome"), _q("Reference_Allele"), _q("Tumor_Seq_Allele2")
    # Cast positions numerically so the ordering rule is type-safe on a MAF
    # read with an all-string schema (as `cli validate` reads it):
    # lexicographic "99" > "100" must not fire the rule, and real
    # violations with wider End digits must not be missed.
    start = f"CAST({_q('Start_Position')} AS BIGINT)"
    end = f"CAST({_q('End_Position')} AS BIGINT)"
    rules = {
        "maf_chromosome_vocabulary": f"{_present(chrom)} AND NOT ({chrom} RLIKE {_lit(_CHROMOSOME_RE)})",
        "maf_allele_alphabet": (
            f"({_present(ref)} AND NOT ({ref} RLIKE {_lit(_ALLELE_RE)}))"
            f" OR ({_present(alt)} AND NOT ({alt} RLIKE {_lit(_ALLELE_RE)}))"
        ),
        "maf_ref_equals_alt": f"{_present(ref)} AND {_present(alt)} AND ({ref} = {alt})",
        "maf_position_order": f"{start} IS NOT NULL AND {end} IS NOT NULL AND ({start} > {end})",
    }
    cols = set(columns)
    # t_ref/t_alt_count are OPTIONAL MAF columns (unlike the coordinate and
    # allele fields) — emit the count-sanity rule only when both exist.
    if "t_ref_count" in cols and "t_alt_count" in cols:
        rules["maf_negative_allele_counts"] = (
            f"(CAST({_q('t_ref_count')} AS DOUBLE) < 0)"
            f" OR (CAST({_q('t_alt_count')} AS DOUBLE) < 0)"
        )
    if "NCBI_Build" in cols:
        build = _q("NCBI_Build")
        rules["maf_ncbi_build"] = f"{_present(build)} AND NOT ({_in_set(build, _NCBI_BUILDS)})"
    if "Variant_Type" in cols:
        vt = _q("Variant_Type")
        lr, la = f"length({ref})", f"length({alt})"
        rules["maf_variant_type_vocabulary"] = (
            f"{_present(vt)} AND NOT ({_in_set(vt, _VARIANT_TYPES)})"
        )
        rules["maf_allele_vs_variant_type"] = (
            f"{_present(vt)} AND {_present(ref)} AND {_present(alt)} AND ("
            f"(({vt} = 'SNP') AND NOT (({lr} = 1) AND ({la} = 1) AND ({ref} != '-') AND ({alt} != '-')))"
            f" OR (({vt} = 'DNP') AND NOT (({lr} = 2) AND ({la} = 2)))"
            f" OR (({vt} = 'TNP') AND NOT (({lr} = 3) AND ({la} = 3)))"
            f" OR (({vt} = 'ONP') AND NOT (({lr} = {la}) AND ({lr} > 3)))"
            f" OR (({vt} = 'INS') AND NOT (({ref} = '-') OR ({la} > {lr})))"
            f" OR (({vt} = 'DEL') AND NOT (({alt} = '-') OR ({lr} > {la}))))"
        )
        rules["maf_position_allele_span"] = (
            f"{_present(vt)} AND {start} IS NOT NULL AND {end} IS NOT NULL AND ("
            f"(({vt} = 'SNP') AND ({end} != {start}))"
            f" OR (({vt} = 'DEL') AND {ref} IS NOT NULL AND ({ref} != '-')"
            f" AND ((({end} - {start}) + 1) != {lr})))"
        )
    if "Tumor_Sample_Barcode" in cols:
        bc = _q("Tumor_Sample_Barcode")
        rules["maf_barcode_format"] = f"{_present(bc)} AND NOT ({bc} RLIKE {_lit(_BARCODE_RE)})"
    if "Mutation_Status" in cols:
        ms = _q("Mutation_Status")
        rules["maf_mutation_status_vocabulary"] = (
            f"{_present(ms)} AND NOT ({_in_set(f'lower({ms})', _MUTATION_STATUSES)})"
        )
    if "Variant_Classification" in cols:
        vc = _q("Variant_Classification")
        rules["maf_variant_classification_vocabulary"] = (
            f"{_present(vc)} AND NOT ({_in_set(vc, _VARIANT_CLASSIFICATIONS)})"
        )
    if "Entrez_Gene_Id" in cols:
        ez = f"CAST({_q('Entrez_Gene_Id')} AS STRING)"
        rules["maf_entrez_gene_id_format"] = f"{_present(ez)} AND NOT ({ez} RLIKE '^[0-9]+$')"
    if "Validation_Status" in cols:
        vs = _q("Validation_Status")
        rules["maf_validation_status_vocabulary"] = (
            f"{_present(vs)} AND NOT ({_in_set(f'lower({vs})', _VALIDATION_STATUSES)})"
        )
    if "Verification_Status" in cols:
        vrs = _q("Verification_Status")
        rules["maf_verification_status_vocabulary"] = (
            f"{_present(vrs)} AND NOT ({_in_set(f'lower({vrs})', _VERIFICATION_STATUSES)})"
        )
    rules["maf_positive_start"] = f"{start} IS NOT NULL AND ({start} < 1)"
    if "Strand" in cols:
        st = _q("Strand")
        rules["maf_strand_symbol"] = f"{_present(st)} AND NOT ({_in_set(st, ('+', '-'))})"
    if "HGVSp_Short" in cols:
        hp = _q("HGVSp_Short")
        rules["maf_hgvsp_prefix"] = f"{_present(hp)} AND NOT startswith({hp}, 'p.')"
    return rules


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
    p = _Pass()
    p.rules(p.table(maf, []), _maf_rules(maf.columns))
    return p.findings()


def table_profile_checks(
    df: DataFrame,
    count_check: str | None = None,
    distinct_cols: Sequence[str] = (),
    no_null_cols: Sequence[str] = (),
    all_null_cols: Sequence[str] = (),
) -> DataFrame:
    """Self-comparison (pipeline in == out) profile checks of one table in
    ONE scan: the row count (V2, as ``count_check``), distinct counts of
    ``distinct_cols`` (V3/V4), no nulls in ``no_null_cols`` (V5/V6/V11,
    reference ``clinical.py:826-830``) and no 100%-null column among
    ``all_null_cols`` (V7, reference ``clinical.py:833-837``), instead of
    4-6 separate scans of the same table. At 100 TB a validation pass
    re-reading the fact table per check is the difference between one pass
    and six; :func:`count_equality` and :func:`keyset_preserved` remain for
    genuine in-vs-out comparisons."""
    p = _Pass()
    t = p.table(df, [(c, c) for c in distinct_cols])
    p.profile(t, count_check, distinct_cols, no_null_cols, all_null_cols)
    return p.findings()


def keyed_dup_and_distinct_checks(
    df: DataFrame,
    key: str,
    distinct_check: str | None = None,
    dup_check: str = "no_duplicate_rows",
) -> DataFrame:
    """Fusion of :func:`no_duplicate_rows` (keyed) with a self-compared
    distinct key count: both derive from the
    SAME ``key`` grouping — the distinct count is the group count, the dup
    count is the >1 group count — so one shuffle serves two checks."""
    p = _Pass()
    p.duplicates(p.table(df, [(key, key)]), key, dup_check, distinct_check)
    return p.findings()


def findings_union(findings: Sequence[DataFrame]) -> DataFrame:
    """Combine check DataFrames into ONE lazy findings DataFrame (single
    action evaluates the whole suite)."""
    return reduce(lambda a, b: a.unionByName(b), findings)


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
                df.selectExpr(f"{_q(c)} AS __k")
                .filter("__k IS NOT NULL")
                .join(
                    ref.selectExpr(f"{_q(ref_col)} AS __k").distinct(),
                    "__k",
                    "left_anti",
                )
                .selectExpr("count(1) AS __viol")
            )
            total = df.selectExpr("count(1) AS __n")
            fk_frames.append(
                fk_viol.crossJoin(total.hint("broadcast")).selectExpr(
                    f"{_lit(name)} AS rule",
                    f"{_lit(kind)} AS kind",
                    "CAST(__viol AS BIGINT) AS violations",
                    "CAST(__n AS BIGINT) AS total",
                    "CASE WHEN __viol > 0 THEN 'ERROR' ELSE 'OK' END AS status",
                )
            )
        else:
            raise ValueError(f"unknown constraint kind: {kind!r}")

    frames: list[DataFrame] = []
    if agg_rules:
        agg = df.selectExpr(*agg_exprs)
        rows = ", ".join(
            f"named_struct('rule', {_lit(name)}, 'kind', {_lit(kind)}, "
            f"'violations', cast({viol} as bigint), "
            "'total', cast(__n as bigint), "
            f"'status', CASE WHEN {viol} > 0 THEN 'ERROR' ELSE 'OK' END)"
            for name, kind, viol in agg_rules
        )
        frames.append(agg.selectExpr(f"inline(array({rows}))"))
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
    id_re = _lit(r"^[A-Za-z0-9._-]+$")
    num_re = _lit(r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$")
    rules: dict[str, str] = {}
    for c in ("PATIENT_ID", "SAMPLE_ID"):
        if c in cols:
            rules[f"clinical_{c.lower()}_format"] = f"{_present(_q(c))} AND NOT ({_q(c)} RLIKE {id_re})"
    for c in number_cols:
        if c in cols:
            v = f"CAST({_q(c)} AS STRING)"
            rules[f"clinical_number_{c.lower()}"] = (
                f"{v} IS NOT NULL AND ({v} != 'NA') AND ({v} != '') AND NOT ({v} RLIKE {num_re})"
            )
    for c in boolean_cols:
        if c in cols:
            v = f"upper(CAST({_q(c)} AS STRING))"
            rules[f"clinical_boolean_{c.lower()}"] = (
                f"{_q(c)} IS NOT NULL AND ({v} != '') AND NOT ({_in_set(v, ('TRUE', 'FALSE', 'NA'))})"
            )
    for c, vocabulary in (("OS_STATUS", _OS_STATUSES), ("PFS_STATUS", _PFS_STATUSES)):
        if c in cols:
            rules[f"clinical_{c.lower()}_vocabulary"] = (
                f"{_present(_q(c))} AND NOT ({_in_set(f'lower({_q(c)})', vocabulary)})"
            )
    p = _Pass()
    p.rules(p.table(clinical, []), rules)
    return p.findings()


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

    Checks (uniform findings schema, ONE lazy frame — the whole report is
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

    A NULL id is skipped, not missing. Scale: every input is scanned once
    and only its id columns move — one co-group of all of them, whose
    groups are bounded by cohort size, not by variants; data-file rows and
    clinical rows never shuffle.
    """
    p = _Pass()
    patients = p.table(patient_df, [("PATIENT_ID", "PATIENT_ID")])
    samples = p.table(sample_df, [("PATIENT_ID", "PATIENT_ID"), ("SAMPLE_ID", "SAMPLE_ID")])
    p.subset(
        samples, patients, "PATIENT_ID", "xref_sample_patients_in_patient_file",
        "sample-file patient ids absent from patient file", skip_null=True,
    )
    p.subset(
        patients, samples, "PATIENT_ID", "xref_patients_have_samples",
        "patients with no samples", skip_null=True, severity="WARN",
    )
    for name, (df, df_sample_col) in (data_files or {}).items():
        p.subset(
            p.table(df, [("SAMPLE_ID", df_sample_col)]), samples, "SAMPLE_ID",
            f"xref_{name}_samples_in_clinical",
            f"{name} sample ids absent from clinical samples", skip_null=True,
        )
    for name, members in (case_lists or {}).items():
        m = p.table(members, [("SAMPLE_ID", members.columns[0])])
        p.subset(
            m, samples, "SAMPLE_ID", f"case_list_{name}_members_in_clinical",
            f"case list {name} ids absent from clinical samples", skip_null=True,
        )
        p.repeated(
            m, "SAMPLE_ID", f"case_list_{name}_duplicate_members",
            f"case list {name} ids listed more than once",
        )
    return p.findings()


# Columns that identify the gene row (not a sample) in the pass-through
# matrices (gene-signature / RNA-seq: gene × sample wide tables).
_MATRIX_GENE_COLS = {
    "Hugo_Symbol", "Entrez_Gene_Id", "geneset_id", "NAME", "DESCRIPTION",
}


def bundle_checks(
    patient: DataFrame | None,
    sample: DataFrame | None,
    maf: DataFrame | None,
    neoantigen: DataFrame | None,
    matrices: dict[str, DataFrame],
) -> DataFrame:
    """The data checks ``cli validate`` runs on a bundle (reference
    ``validate.py:229-284``), each frame scanned ONCE; a ``None`` frame is
    an absent file. In order:

    - per clinical file: its null-key and all-null-column rows
      (:func:`table_profile_checks`) and its duplicate keys
      (:func:`keyed_dup_and_distinct_checks`); then sample
      ``PATIENT_ID`` ⊆ patient ``PATIENT_ID``;
    - the MAF: the 118-column schema (V12, ``validate.py:159-172``),
      :func:`maf_value_conformance`, no NULL barcode, barcodes ⊆ clinical
      samples and, given ``neoantigen``, its ``Sample_ID`` set equals the
      barcode set (V13, ``validate.py:135-157``);
    - per pass-through matrix (file name → frame, ``validate.py:175-195``):
      non-empty, and its sample columns ⊆ clinical samples.

    Each row reads as its standalone validator's would."""
    from iatlas_cbioportal_export_spark.sources.maf_schema import REQUIRED_MAF_COLS

    p = _Pass()
    ids: dict[str, tuple[int, list[str]]] = {}
    for name, df, key in (("patient", patient, "PATIENT_ID"), ("sample", sample, "SAMPLE_ID")):
        if df is None:
            continue
        cols = df.columns
        t = p.table(df, [(k, k) for k in dict.fromkeys((key, "PATIENT_ID")) if k in cols])
        ids[name] = (t, cols)
        p.profile(t, no_null_cols=[key] if key in cols else [], all_null_cols=cols)
        if key in cols:
            p.duplicates(t, key, f"no_duplicate_{key.lower()}_{name}")
    if len(ids) == 2 and all("PATIENT_ID" in cols for _, cols in ids.values()):
        p.subset(
            ids["sample"][0], ids["patient"][0], "PATIENT_ID",
            "sample_patients_in_patient_table", "PATIENT_ID values absent from PATIENT_ID",
        )
    sample_cols = ids["sample"][1] if "sample" in ids else []
    samples = ids["sample"][0] if "SAMPLE_ID" in sample_cols else None

    barcode = "Tumor_Sample_Barcode"
    if maf is not None:
        cols = maf.columns
        m = p.table(maf, [("SAMPLE_ID", barcode)] if barcode in cols else [])
        p.row(_missing_columns(cols, REQUIRED_MAF_COLS, "maf_required_columns"))
        p.rules(m, _maf_rules(cols))
        if barcode in cols:
            p.profile(m, no_null_cols=[barcode])
            if samples is not None:
                p.subset(
                    m, samples, "SAMPLE_ID", "maf_barcodes_in_clinical",
                    f"{barcode} values absent from SAMPLE_ID",
                )
            if neoantigen is not None:
                neo = p.table(neoantigen, [("SAMPLE_ID", "Sample_ID")])
                p.equal(m, neo, "SAMPLE_ID", "neoantigen_maf_ids_equal")

    for name, mat in matrices.items():
        n = p.count(p.table(mat, []))
        p.row(_finding(f"nonempty_{name}", f"{n} > 0", n, "1", _lit("matrix row count")))
        sample_cols = [c for c in mat.columns if c not in _MATRIX_GENE_COLS]
        if sample_cols == mat.columns:
            sample_cols = sample_cols[1:]  # unknown gene column: skip the first
        if sample_cols and samples is not None:
            listed = mat.sparkSession.createDataFrame(
                [(c,) for c in sample_cols], "matrix_sample string"
            )
            p.subset(
                p.table(listed, [("SAMPLE_ID", "matrix_sample")]), samples, "SAMPLE_ID",
                f"matrix_samples_in_clinical_{name}", "matrix_sample values absent from SAMPLE_ID",
            )
    return p.findings()


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
        metas.filter("cancer_study_identifier IS NOT NULL")
        .groupBy("cancer_study_identifier")
        .agg(F.expr("count(1) AS __c"))
    )
    deviants = per_study.selectExpr(
        "coalesce(sum(__c), 0)"
        " - coalesce(min(struct(cancer_study_identifier, __c)).__c, 0) AS n"
    )

    allowed = [f"{g}/{d}" for g, d in sorted(ALLOWED_META_DATATYPES)]
    pair = "concat_ws('/', genetic_alteration_type, datatype)"
    bad_pairs = metas.filter(
        f"genetic_alteration_type IS NOT NULL AND NOT ({_in_set(pair, allowed)})"
    )
    referenced = metas.filter("data_filename IS NOT NULL").selectExpr(
        "data_filename AS filename"
    )
    missing_data = referenced.join(bundle_files.hint("broadcast"), "filename", "left_anti")
    orphans = bundle_files.filter("startswith(filename, 'data_')").join(
        referenced.distinct().hint("broadcast"), "filename", "left_anti"
    )
    dup_stable = _dup_groups(metas.filter("stable_id IS NOT NULL"), ["stable_id"])
    required = spark.createDataFrame(
        [(f,) for f in REQUIRED_BUNDLE_FILES], "filename string"
    )
    missing_required = required.join(bundle_files.hint("broadcast"), "filename", "left_anti")
    return findings_union(
        [
            _findings(
                deviants,
                [
                    _violation(
                        "meta_study_id_uniform",
                        "n",
                        _lit("metas declaring a different cancer_study_identifier"),
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



def clinical_header_conformance(attrs: DataFrame) -> DataFrame:
    """Attribute-HEADER conformance — the header tier of cBioPortal
    ``validateData.py``'s clinical validator (the reference only reaches it
    via the subprocess call, ``validate.py:211-216``), completing the
    native stack under :func:`clinical_value_conformance` (values) /
    :func:`cross_file_referential_checks` (ids) /
    :func:`meta_consistency_checks` (study descriptors).

    ``attrs``: one row per (filename, column_id) attribute of a file's
    4-line ``#`` header (``sinks.cbioportal_clinical_header``) — columns
    ``filename, column_id, display_name, description, datatype, priority,
    arity_ok`` (``arity_ok``: every ``#`` line has the column line's field
    count).

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
    pr = "CAST(priority AS STRING)"
    # A SUM over zero rows is NULL, which would make "n_bad = 0" NULL on an
    # empty attrs frame and mis-report every sum rule as failing with a NULL
    # count — coalesce to 0 so a vacuously clean input reads all-OK
    agg = attrs.selectExpr(
        "coalesce(sum(CASE WHEN datatype IS NULL OR NOT ("
        f"{_in_set('datatype', CLINICAL_HEADER_DATATYPES)}) THEN 1 ELSE 0 END), 0)"
        " AS __bad_datatype",
        f"coalesce(sum(CASE WHEN {pr} IS NULL OR NOT ({pr} RLIKE '^[0-9]+$')"
        " THEN 1 ELSE 0 END), 0) AS __bad_priority",
        "count(1) - count(DISTINCT filename, column_id) AS __dup_ids",
        "count(DISTINCT CASE WHEN NOT arity_ok THEN filename END) AS __arity_files",
        "coalesce(sum(CASE WHEN display_name IS NULL OR display_name = ''"
        " THEN 1 ELSE 0 END), 0) AS __missing_display",
        "count(DISTINCT filename) AS __n_files",
        "count(DISTINCT CASE WHEN column_id = 'PATIENT_ID' THEN filename END)"
        " AS __has_patient_id",
    )
    rules = [
        ("header_datatype_vocabulary", "__bad_datatype", "ERROR",
         "attrs with datatype outside STRING/NUMBER/BOOLEAN"),
        ("header_priority_integer", "__bad_priority", "ERROR",
         "attrs with non-integer priority"),
        ("header_duplicate_column_id", "__dup_ids", "ERROR",
         "duplicate column ids within a file"),
        ("header_arity_mismatch", "__arity_files", "ERROR",
         "files with ragged '#' header lines"),
        ("header_display_name_missing", "__missing_display", "WARN",
         "attrs with empty display names"),
        ("header_required_patient_id", "__n_files - __has_patient_id", "ERROR",
         "files missing required column PATIENT_ID"),
    ]
    return _findings(
        agg,
        [_violation(name, n, _lit(detail), sev) for name, n, sev, detail in rules],
    )
