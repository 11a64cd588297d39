"""Scalar column functions (SURVEY.md §2.7 F1-F9) as Column expression factories.

All are built from ``pyspark.sql.functions`` so they stay inside whole-stage
codegen — no Python UDFs anywhere in this module. Each factory documents the
reference semantics it reproduces (file:line cites into /root/reference).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def strip_first_literal(c: Column | str, literal: str) -> Column:
    """F1: remove the FIRST occurrence of ``literal`` (no regex) from a string.

    The reference uses pandas ``str.replace(suffix, "", n=1, regex=False)``
    (``clinical.py:98-133``). Spark's ``regexp_replace`` replaces ALL matches,
    so the faithful form is locate + substring surgery:
    ``concat(substr(1, pos-1), substr(pos+len(literal), …))`` guarded by
    ``locate(...) > 0``. Handles the repeated-suffix case
    (``clinical_response_response`` → ``clinical_response``) exactly like
    pandas ``n=1``. NULL in → NULL out.
    """
    col = F.col(c) if isinstance(c, str) else c
    pos = F.locate(literal, col)  # 1-based; 0 when absent
    lit_len = len(literal)
    stripped = F.concat(
        col.substr(F.lit(1), pos - F.lit(1)),
        col.substr(pos + F.lit(lit_len), F.length(col)),
    )
    return F.when(pos > F.lit(0), stripped).otherwise(col)


def _quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _strip_first_literal_sql(inner: str, literal: str) -> str:
    """SQL-string twin of :func:`strip_first_literal` — identical
    locate + substring surgery, rendered as one parseable expression so
    table-wide application costs one JVM parse per column instead of
    ~15 py4j Column calls (r10; codegen's subexpression elimination
    collapses the repeated ``locate``)."""
    lit = literal.replace("\\", "\\\\").replace("'", "\\'")
    n = len(literal)
    pos = f"locate('{lit}', {inner})"
    return (
        f"CASE WHEN {pos} > 0 THEN concat("
        f"substr({inner}, 1, {pos} - 1), "
        f"substr({inner}, {pos} + {n}, length({inner}))) "
        f"ELSE {inner} END"
    )


def strip_colname_suffixes(
    df: DataFrame, special: Mapping[str, str] | None = None
) -> DataFrame:
    """F1 applied table-wide: for every string column, strip the first
    occurrence of ``"_" + lower(colname)`` from its values.

    ``special`` adds a SECOND per-column strip applied after the default one
    (reference special-cases ``AMADEUS_STUDY``: the general loop strips
    ``_amadeus_study`` first, then ``clinical.py:123-126`` additionally strips
    ``_amadeus`` — both run, in that order, pinned by the reference
    differential test). The reference asserts the NA count is unchanged
    afterwards (``clinical.py:129-132``) — guaranteed here because the
    expression is NULL-preserving.

    r10: expressions are built as SQL strings (``selectExpr``) — the
    per-column Column-DSL construction was ~0.3 s of pure driver py4j
    round trips on a ~15-column clinical frame, paid on every plan build.
    """
    special = dict(special or {})
    exprs = []
    for field in df.schema.fields:
        if field.dataType.typeName() == "string":
            expr = _strip_first_literal_sql(
                _quote_ident(field.name), "_" + field.name.lower()
            )
            if field.name in special:
                expr = _strip_first_literal_sql(expr, special[field.name])
            exprs.append(f"{expr} AS {_quote_ident(field.name)}")
        else:
            exprs.append(_quote_ident(field.name))
    return df.selectExpr(*exprs)


def case_normalize(c: Column | str, mode: str | None) -> Column:
    """F2: per-mapping case normalization (reference ``clinical.py:136-167``).

    ``CAPS`` → underscores to spaces, uppercase; ``Title Case`` → underscores
    to spaces, title-case; anything else passes through. pandas ``str.title()``
    capitalizes after any non-alpha while Spark ``initcap`` capitalizes after
    whitespace — equivalent once underscores became spaces (documented edge,
    SURVEY.md F2).
    """
    col = F.col(c) if isinstance(c, str) else c
    spaced = F.translate(col, "_", " ")
    if mode == "CAPS":
        return F.upper(spaced)
    if mode == "Title Case":
        return F.initcap(spaced)
    return col


def recode_values(c: Column | str, mapping: Mapping[object, str]) -> Column:
    """F3: dict value recode with passthrough for unmapped values.

    Reference applies ``{0: "0:LIVING", 1: "1:DECEASED"}`` to OS/PFS status
    and leaves unmapped values (e.g. ``2``) unchanged (``clinical.py:403-422``).
    pandas leaves a mixed-dtype column; Spark forces one type, so the
    passthrough arm casts to string (SURVEY.md §7 risk list).
    """
    col = F.col(c) if isinstance(c, str) else c
    expr: Column | None = None
    for key, val in mapping.items():
        cond = col == F.lit(key)
        expr = F.when(cond, F.lit(val)) if expr is None else expr.when(cond, F.lit(val))
    if expr is None:
        return col.cast("string")
    return expr.otherwise(col.cast("string"))


def days_to_months(c: Column | str) -> Column:
    """F5: survival days → months, ``round(col / 30.44, 2)``
    (reference ``clinical.py:515-535``; constant at ``clinical.py:531``).

    Spark ``round`` is HALF_UP on the decimal rendering of the double — the
    golden values from the reference's tests (231→7.59, 1000→32.85,
    345→11.33, 706.208→23.2, ``tests/test_clinical.py:24-31``) are covered in
    our test suite.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col / F.lit(30.44), 2)


def coalesce_remap(df: DataFrame, out_col: str, preferred: str, fallback: str) -> DataFrame:
    """F4: ``out_col = coalesce(preferred, fallback)`` (reference
    ``clinical.py:170-196`` overwrites ``sample_name`` with
    ``study_sample_name`` where non-null, then renames to ``SAMPLE_ID``)."""
    return df.withColumn(out_col, F.coalesce(F.col(preferred), F.col(fallback)))


def case_list_slug(c: Column | str) -> Column:
    """F7: case-list filename slug (reference ``clinical.py:699-705``):
    spaces→``_``, commas removed, ``/``→``_``; empty/NA → ``no_oncotree_code``.
    """
    col = F.col(c) if isinstance(c, str) else c
    slug = F.translate(col, " /", "__")
    slug = F.replace(slug, F.lit(","), F.lit(""))
    return F.when(
        col.isNull() | (col == F.lit("")) | (col == F.lit("NA")),
        F.lit("no_oncotree_code"),
    ).otherwise(slug)
