"""Join operators (SURVEY.md §2.3 J1-J6).

Every reference join is an equi-join against a small mapping table → each is
expressed as a **broadcast hash join** (no shuffle of the fact side). The
audit variants return (joined, audit) pairs where the audit is itself a lazy
DataFrame — callers decide when to pay for the action.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_left_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    dim_cols: Sequence[str] | None = None,
) -> DataFrame:
    """J1: fact ⟕ broadcast(dim) on a (possibly composite) key.

    Reference: clinical ⟕ oncotree map on ``["TCGA_Study", "AMADEUS_Study",
    "Dataset"]`` bringing in ``ONCOTREE_CODE`` (``clinical.py:323-327,45``).
    ``dim_cols`` projects the dim side before broadcast (column pruning on the
    broadcast payload matters at 1000 executors: ship only what's joined in).
    """
    keys = list(on)
    if dim_cols is not None:
        dim = dim.select(*keys, *[c for c in dim_cols if c not in keys])
    return fact.join(F.broadcast(dim), on=keys, how="left")


def left_join_null_audit(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    audit_col: str,
) -> tuple[DataFrame, DataFrame]:
    """J2: left join + audit of rows whose looked-up ``audit_col`` is NULL.

    Reference: sample view ⟕ lens map on SAMPLE_ID, ERROR if any
    ``SAMPLE_DISPLAY_NAME`` is null post-join (``clinical.py:231-262``).
    The audit is an anti-pattern-free lazy count: ``filter(isNull)`` on the
    joined frame — no second join needed.
    """
    on_cols = [on] if isinstance(on, str) else list(on)
    joined = fact.join(F.broadcast(dim), on=on_cols, how="left")
    audit = joined.filter(F.col(audit_col).isNull()).select(*on_cols)
    return joined, audit


def outer_join_growth_audit(
    left: DataFrame, right: DataFrame, on: Sequence[str] | str
) -> tuple[DataFrame, DataFrame]:
    """J3: full outer join + audit of right-only keys (row growth).

    Reference: clinical ⟗ neoantigen summary on SAMPLE_ID; ERROR when the
    outer join grows the row count, i.e. neo-only samples exist
    (``clinical.py:265-287``). Rather than comparing two ``count()`` actions,
    the audit is the *explanatory* anti-join right ▷ left — empty iff no
    growth, and it names the offending keys.
    """
    on_cols = [on] if isinstance(on, str) else list(on)
    joined = left.join(right, on=on_cols, how="outer")
    audit = right.select(*on_cols).distinct().join(
        left.select(*on_cols).distinct(), on=on_cols, how="left_anti"
    )
    return joined, audit


def code_expansion_join(
    fact: DataFrame,
    codes: DataFrame,
    code_col: str,
    derived_cols: Sequence[str],
) -> DataFrame:
    """J4: in-engine replacement for the ``oncotree_code_converter.py``
    subprocess (reference ``clinical.py:477-496``): broadcast-join a code
    reference table and derive columns (CANCER_TYPE, CANCER_TYPE_DETAILED)."""
    return broadcast_left_join(fact, codes, on=[code_col], dim_cols=derived_cols)


def semi_join_sequenced(
    clinical: DataFrame,
    mutations: DataFrame,
    clinical_key: str = "SAMPLE_ID",
    mutation_key: str = "Tumor_Sample_Barcode",
) -> DataFrame:
    """J5: cases_sequenced = clinical samples that appear in the mutation data
    (in-engine ``generate_case_lists.py``, reference ``load.py:12-35``).

    ``left_semi`` never duplicates clinical rows and Spark plans the distinct
    barcode side as a broadcast when small; at 100 TB both sides shuffle on the
    key — still the minimal plan for a semi-join.
    """
    return clinical.join(
        mutations.select(F.col(mutation_key).alias(clinical_key)).distinct(),
        on=clinical_key,
        how="left_semi",
    )


def asof_join(
    left: DataFrame, right: DataFrame, on: str, value_cols: Sequence[str] = ()
) -> DataFrame:
    """As-of join: for each left row, attach ``value_cols`` from the LATEST
    right row with ``right.ts <= left.ts`` for the same key (NULL when no
    prior right row exists).

    Spark has no native as-of join; the naive formulation (theta-join on
    ``right.ts <= left.ts`` + keep-latest) explodes to O(|matches|) rows
    before pruning. This is the scale-correct union-LOCF plan instead: union
    both sides, ONE shuffle on the key, and a running ``last(ignorenulls)``
    window ordered by (timestamp, side) carries each right value forward to
    the left rows that follow it. Ties (equal timestamps) sort the right row
    first — inclusive as-of semantics, matching e.g. DuckDB's ASOF JOIN.
    Cost: one shuffle + one sort of |left|+|right|, independent of match
    fan-out.
    """
    from pyspark.sql import Window

    vals = list(value_cols)
    l_side = left.withColumn("__ts", F.col("ts")).withColumn("__src", F.lit(1))
    r_side = (
        right.select(on, F.col("ts").alias("__ts"), *vals)
        .withColumn("__src", F.lit(0))
    )
    unioned = l_side.unionByName(r_side, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__src").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in vals:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return unioned.filter(F.col("__src") == 1).drop("__src", "__ts")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float = 1.0,
) -> DataFrame:
    """Interval join: pair each left row with every right row whose
    ``[lo_col, hi_col]`` interval contains ``left_val``.

    Spark's native plan for the raw theta predicate is a broadcast
    nested-loop / cartesian — O(|L|·|R|). The scale path bucketizes instead:
    each right interval explodes into the ``bucket_width``-sized buckets it
    overlaps, the left side maps to its single bucket, the join is an
    EQUI-join on bucket id (shuffle- or broadcast-hash), and the exact
    BETWEEN filter prunes bucket-mates. Cost: O(|L| + |R|·(span/width) +
    |matches|). Pick ``bucket_width`` ≈ the median interval span so each
    interval lands in O(1) buckets.
    """
    lo, hi, v = F.col(lo_col), F.col(hi_col), F.col(left_val)
    w = float(bucket_width)
    r_bucketed = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(lo / F.lit(w)).cast("long"),
                F.floor(hi / F.lit(w)).cast("long"),
            )
        ),
    )
    l_bucketed = left.withColumn("__bucket", F.floor(v / F.lit(w)).cast("long"))
    return (
        l_bucketed.join(r_bucketed, on="__bucket")
        .filter((v >= lo) & (v <= hi))
        .drop("__bucket")
    )


def salted_join(
    fact: DataFrame, dim: DataFrame, on: str, how: str = "inner"
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact key with a random-ish bucket
    derived from other fact columns, replicate the (smaller) ``dim`` side
    16 times, join on (key, salt).

    AQE's skew-join split handles MOST skew at runtime (session.py turns it
    on); explicit salting is the deterministic fallback for the pathological
    case — one key holding >1 partition's worth of rows on BOTH sides of a
    shuffle join, where AQE cannot split the build side. The salt is
    ``pmod(xxhash64(all fact columns), B)`` — deterministic, so the plan is
    reproducible run-to-run.

    Result columns/rows equal the unsalted join (tested); only the shuffle
    distribution changes: the hot key's rows spread over B reducers.

    Only ``inner`` and ``left`` (fact-preserving) joins are equivalent to
    the unsalted join: replicating the dim side B times would surface each
    UNMATCHED dim row B times under right/full-outer semantics, silently
    corrupting the result — those modes are rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' only (got {how!r}): "
            "the replicated dim side would emit unmatched rows "
            "16x under right/full-outer semantics"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(16))
    salted_fact = fact.withColumn("__salt", salt)
    replicated_dim = dim.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(16)])),
    )
    return salted_fact.join(replicated_dim, on=[on, "__salt"], how=how).drop("__salt")


def keyset_equality(
    left: DataFrame, left_key: str, right: DataFrame, right_key: str
) -> tuple[DataFrame, DataFrame]:
    """J6: symmetric key-set difference — both empty ⟺ the distinct key sets
    are equal (reference ``validate.py:135-157``, ``maf.py:242-246``).

    Returns (left_only, right_only) lazy DataFrames of one column ``key``.
    """
    lk = left.select(F.col(left_key).alias("key")).distinct()
    rk = right.select(F.col(right_key).alias("key")).distinct()
    return lk.join(rk, on="key", how="left_anti"), rk.join(lk, on="key", how="left_anti")


def point_in_time_join(
    facts: DataFrame, history: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Join facts to the SCD2 dimension version valid AT the fact's
    timestamp: ``valid_from <= ts < coalesce(valid_to, +inf)`` (exclusive
    upper bound — an empty interval, from a same-timestamp value flip,
    matches nothing, by design).

    Scale shape: the key equality is the join key, so this plans as a
    hash/sort-merge EQUI-join with the interval check as a residual join
    condition — never a nested loop. Versions per key are few, so the
    residual filter touches a handful of candidate rows per fact.
    Output: facts columns + the matched version's columns (left join —
    facts before the first version keep NULL dimension values).
    """
    f, h = facts.alias("__f"), history.alias("__h")
    cond = (
        (F.col(f"__f.{key_col}") == F.col(f"__h.{key_col}"))
        & (F.col("__h.valid_from") <= F.col(f"__f.{ts_col}"))
        & (
            F.col("__h.valid_to").isNull()
            | (F.col(f"__f.{ts_col}") < F.col("__h.valid_to"))
        )
    )
    return f.join(h, cond, "left").drop(F.col(f"__h.{key_col}"))


def longest_prefix_join(
    facts: DataFrame,
    rules: DataFrame,
    id_col: str,
    name_col: str,
    max_depth: int = 4,
) -> DataFrame:
    """Longest-prefix-match join: each fact matches the DEEPEST rule whose
    token-prefix starts its name — the join shape behind IP-route lookup,
    URL routing and category-tree tagging, which plain equi/range joins
    can't express.

    Plan: explode each fact into its 1..max_depth token prefixes (bounded
    fan-out — max_depth rows per fact, NOT a cross join against the rule
    table), equi-join candidates on the prefix string (rule tables are
    dimension-sized → broadcast), then ONE map-side-combined argmax
    ``max(struct(depth, prefix))`` per fact. A fact has exactly one k-token
    prefix, so at most one rule matches per depth and the argmax is
    deterministic without tie-break columns.

    Output: (id, matched_prefix, depth) — facts with no matching rule are
    absent (left-join the result back for LEFT semantics).
    """
    toks = F.split(F.col(name_col), " ")
    cand = facts.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(F.size(toks), F.lit(max_depth))),
                lambda k: F.struct(
                    k.alias("depth"),
                    F.array_join(F.slice(toks, 1, k), " ").alias("pfx"),
                ),
            )
        ).alias("c"),
    ).select("id", F.col("c.depth").alias("depth"), F.col("c.pfx").alias("pfx"))
    r = F.broadcast(rules.select(F.col("prefix").alias("pfx")).distinct())
    matched = cand.join(r, on="pfx")
    return (
        matched.groupBy("id")
        .agg(F.max(F.struct("depth", "pfx")).alias("__m"))
        .select(
            "id",
            F.col("__m.pfx").alias("matched_prefix"),
            F.col("__m.depth").alias("depth"),
        )
    )


def interval_self_overlap(
    df: DataFrame,
    key_col: str,
    id_col: str,
    start_col: str,
    end_col: str,
    cell_width: int = 3600,
) -> DataFrame:
    """All pairs of intervals (same key) that OVERLAP in time — the
    interval-interval join behind double-booking detection, concurrent-
    session analysis and shift-conflict checks; a shape neither equi- nor
    point-in-range joins express.

    Algorithm: each interval explodes to the grid cells it touches
    (``floor(start/w) .. floor(end/w)`` — ⌈len/w⌉+1 rows per interval,
    bounded fan-out, never a per-key cartesian), candidates equi-join on
    (key, cell), the true overlap predicate ``sₐ ≤ e_b ∧ s_b ≤ eₐ``
    filters, and ``distinct`` collapses pairs that share several cells.
    Pick ``cell_width`` near the median interval length: too small
    multiplies the explode, too large degrades toward per-key all-pairs
    within a cell (per-key concurrency bounds the worst cell).

    start/end are integral (epoch seconds). Output:
    ``(key, id_a, id_b, overlap_seconds)`` with ``id_a < id_b``.
    """
    w = F.lit(int(cell_width))
    base = df.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id"),
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    )
    cells = base.select(
        "k",
        "id",
        "s",
        "e",
        F.explode(
            F.sequence(F.floor(F.col("s") / w), F.floor(F.col("e") / w))
        ).alias("cell"),
    )
    a = cells.select(
        "k", "cell",
        F.col("id").alias("id_a"), F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = cells.select(
        "k", "cell",
        F.col("id").alias("id_b"), F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    return (
        a.join(b, on=["k", "cell"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
        )
        .select(
            F.col("k").alias(key_col),
            "id_a",
            "id_b",
            (
                F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
            ).alias("overlap_seconds"),
        )
        .distinct()
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Keyed diff of two table snapshots — the change-data audit between a
    table version and its successor (what a lakehouse surface calls
    "table diff"): one row per key whose state changed, labeled
    ``added`` / ``removed`` / ``changed``.

    ONE full-outer join on the keys decides everything: key only on the new
    side → added; only on the old side → removed; both sides but any
    non-key column NOT null-safe-equal (``<=>``) → changed; identical rows
    produce nothing. Column comparison is a codegen'd conjunction — no
    hashing, so engines with different hash functions agree, and NULL↔value
    transitions are real changes while NULL↔NULL is not.

    Scale: the join shuffles both snapshots once on the key (co-located /
    bucketed layouts make it exchange-free); the output is |changes| rows.
    The non-key columns must match by NAME — schema drift is a schema
    change, not a row diff (``validation.required_columns_present`` is the
    gate for that).
    """
    ks = list(keys)
    val_cols = [c for c in old.columns if c not in ks]
    if set(val_cols) != {c for c in new.columns if c not in ks}:
        raise ValueError(
            "snapshot_diff requires identical non-key columns; "
            f"old={sorted(val_cols)} "
            f"new={sorted(c for c in new.columns if c not in ks)}"
        )
    o = old.select(
        *[F.col(k).alias(k) for k in ks],
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"__o_{c}") for c in val_cols],
    )
    n = new.select(
        *[F.col(k).alias(k) for k in ks],
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in val_cols],
    )
    joined = o.join(n, on=ks, how="full_outer")
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*ks, "change_type")
    )
