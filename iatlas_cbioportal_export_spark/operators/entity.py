"""Fuzzy entity-resolution join: edit-distance string matching WITHOUT a
cartesian product — symmetric-delete blocking (the SymSpell invariant) +
exact threshold-levenshtein verification.

The reference pipeline joins identifiers exactly (SURVEY.md §2.3); real
entity resolution — recrawled URLs, OCR'd names, near-identical patient
labels — needs `ed(s, t) <= d` matching. The naive plan is |L|·|R|
levenshtein calls.

Why symmetric delete and not q-gram (ED-Join) blocking: gram-prefix
candidates scale with GRAM ENTROPY, not match density. On low-entropy keys
(zero-padded sequential ids — the classic ER workload) every q-gram is
common: measured on 15k×15k "Customer#000…" names, position-compatible
2-gram prefixes produced 14M candidates and 4-grams 107M (every digit gram
appears in ~10³ names) — OOM territory for a 16k-pair answer. Deletion
variants instead are near-unique per string: two strings share a variant
essentially only when they're genuinely close, so candidates ≈ true pairs.

Soundness (the SymSpell invariant): if ``ed(s, t) <= d`` then the
≤d-deletion neighborhoods of s and t intersect — each substitution deletes
the affected char from both sides, each insertion/deletion deletes it from
the longer side; composing ≤ d edits needs ≤ d deletions per side. So the
candidate set (pairs sharing ≥1 variant HASH) provably contains every true
match; hash collisions only ADD candidates (verification removes them),
never lose one.

Cost model: (len choose ≤d) variants per string — len+1 for d=1,
O(len²/2) for d=2; this operator targets the realistic ER regime d ≤ 2.
Variants shuffle as xxhash64 LONGS (blocking internals need no
cross-engine portability — completeness is structural and the output is
levenshtein-verified); only (id, hash) and (id, id) pairs move until the
final per-id string fetch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _delete_at(col: Column, i: Column) -> Column:
    """The string with the i-th char (1-based) deleted."""
    return F.concat(
        col.substr(F.lit(1), i - 1),
        col.substr(i + 1, F.length(col)),
    )


def _deletion_key_hashes(col: Column, d: int) -> Column:
    """xxhash64 of every ≤d-deletion variant of ``col`` (including the
    string itself), deduplicated. d=1: len+1 keys; d=2: +len·(len−1)/2."""
    keys = F.array(F.xxhash64(col))
    if d >= 1:
        keys = F.concat(
            keys,
            F.transform(
                F.sequence(F.lit(1), F.length(col)),
                lambda i: F.xxhash64(_delete_at(col, i)),
            ),
        )
    if d >= 2:
        # delete j then i with i < j — deleting the later position first
        # keeps the earlier index stable
        keys = F.concat(
            keys,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(2), F.greatest(F.length(col), F.lit(2))),
                    lambda j: F.transform(
                        F.sequence(F.lit(1), j - 1),
                        lambda i: F.xxhash64(
                            _delete_at(_delete_at(col, j), i)
                        ),
                    ),
                )
            ),
        )
    if d >= 3:
        raise ValueError(
            "symmetric-delete blocking targets d <= 2 (variant count grows "
            "as len^d); for larger d use a metric tree / trie partitioning"
        )
    return F.array_distinct(keys)


def fuzzy_join_edit_distance(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    max_distance: int = 1,
) -> DataFrame:
    """All pairs (l, r) with ``levenshtein(l[left_col], r[right_col]) <=
    max_distance`` — exact result set, candidate-pruned plan.

    Output: ``(l_id, r_id, edit_distance)``.

    Plan: explode each side's ≤d-deletion variant hashes (bounded fan-out,
    narrow), equi-join the two hash streams (candidates ≈ true-match
    density — see module docstring), length-filter, distinct id pairs,
    fetch the two strings by id, codegen'd threshold levenshtein.
    """
    d = max_distance
    lk = left.select(
        F.col(left_id).alias("l_id"),
        F.length(left_col).alias("l_len"),
        F.explode(
            _deletion_key_hashes(F.col(left_col), d)
        ).alias("kh"),
    )
    rk = right.select(
        F.col(right_id).alias("r_id"),
        F.length(right_col).alias("r_len"),
        F.explode(
            _deletion_key_hashes(F.col(right_col), d)
        ).alias("kh"),
    )
    cand = (
        lk.join(rk, on="kh")
        .filter(F.abs(F.col("l_len") - F.col("r_len")) <= d)
        .select("l_id", "r_id")
        .distinct()
    )
    lv = left.select(
        F.col(left_id).alias("l_id"), F.col(left_col).alias("__ls")
    )
    rv = right.select(
        F.col(right_id).alias("r_id"), F.col(right_col).alias("__rs")
    )
    return (
        cand.join(lv, on="l_id")
        .join(rv, on="r_id")
        .select(
            "l_id",
            "r_id",
            F.levenshtein("__ls", "__rs", d).alias("edit_distance"),
        )
        .filter(F.col("edit_distance") >= 0)
    )


def fellegi_sunter_linkage(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    block_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Probabilistic record linkage, Fellegi-Sunter (1969) model: blocked
    candidate pairs are scored by per-field agreement log-likelihood
    ratios and classified link (score >= 3) / possible (score > 0)
    / non-link — the statistical
    upgrade of :func:`fuzzy_join_edit_distance` when fields carry very
    different evidential value (agreeing on a phone number means more
    than agreeing on a market segment).

    Model estimation is FROM THE DATA, in-plan: each field's
    u-probability (chance two UNRELATED records agree) is the exact
    value-frequency square sum ``sum(cnt^2)/n^2`` over the right table —
    one map-side-combined groupBy per field over |values| rows, collected
    as k decision scalars (KB-bounded) and baked back as literals, so the
    pair-scoring stage stays a pure narrow projection over the blocked
    join. m (chance truly-linked records agree) is the literal 0.95, as in
    practice (estimating m needs labeled pairs or EM).

    Weights: agree -> log2(m/u), disagree -> log2((1-m)/(1-u)), u clamped
    to [1e-9, 1-1e-9] (a constant field would otherwise send the
    disagreement weight to -inf). Per-pair score is the DECIMAL(28,12)
    sum of field weights (engine-exact; the doubles themselves are
    deterministic libm values), surfaced as a 6dp double.

    Scale shape: blocking join is a plain equi-join on block_cols (AQE
    re-plannable, salting-compatible); u-estimation never touches pairs.
    NULL fields compare via a sentinel (NULL agrees with NULL).

    Output: (left_id, right_id, agree_<field>..., score, decision).
    """
    import math

    sent = " null "

    def _norm(df: DataFrame, c: str) -> Column:
        return F.coalesce(F.col(c).cast("string"), F.lit(sent))

    n = right.count()
    us = {}
    for c in compare_cols:
        freq = (
            right.select(_norm(right, c).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("s2"))
            .collect()[0]["s2"]
        )
        u = freq / (n * n)
        us[c] = min(max(u, 1e-9), 1 - 1e-9)
    m = 0.95
    weights = {
        c: (math.log2(m / us[c]), math.log2((1 - m) / (1 - us[c])))
        for c in compare_cols
    }
    lsel = left.select(
        F.col(left_id).alias("l_id"),
        *[F.col(b).alias(f"__b_{b}") for b in block_cols],
        *[_norm(left, c).alias(f"__l_{c}") for c in compare_cols],
    )
    rsel = right.select(
        F.col(right_id).alias("r_id"),
        *[F.col(b).alias(f"__b_{b}") for b in block_cols],
        *[_norm(right, c).alias(f"__r_{c}") for c in compare_cols],
    )
    pairs = lsel.join(rsel, on=[f"__b_{b}" for b in block_cols])
    agree = {c: (F.col(f"__l_{c}") == F.col(f"__r_{c}")) for c in compare_cols}
    score_dec = None
    for c in compare_cols:
        wa, wd = weights[c]
        term = (
            F.when(agree[c], F.lit(wa)).otherwise(F.lit(wd))
        ).cast("decimal(28,12)")
        score_dec = term if score_dec is None else score_dec + term
    score = F.round(score_dec, 6).cast("double")
    return pairs.select(
        "l_id",
        "r_id",
        *[agree[c].alias(f"agree_{c}") for c in compare_cols],
        score.alias("score"),
        F.when(score >= F.lit(3.0), F.lit("link"))
        .when(score > F.lit(0.0), F.lit("possible"))
        .otherwise(F.lit("non_link"))
        .alias("decision"),
    )


def golden_record(
    df: DataFrame,
    cluster_col: str,
    fields: list[str],
) -> DataFrame:
    """Survivorship: collapse each entity cluster to ONE canonical record —
    the last stage of the ER pipeline after :func:`fellegi_sunter_linkage`
    (pairs) and ``graph.dedup_components`` (clusters). Per field the
    surviving value is the cluster MODE over non-null values (majority
    vote absorbs per-copy damage), ties broken by the smallest value —
    fully deterministic, so the canonical record is reproducible on any
    engine and partitioning.

    Plan shape: the fields MELT into (cluster, field, value) rows in one
    narrow projection, ONE map-side-combined count aggregation + one
    min-struct argmax per (cluster, field), then a map-assembly groupBy —
    shuffled rows are combiner-reduced counts, never the source records;
    adding fields widens the melt, not the number of passes. Clusters
    where a field is entirely null surface it as NULL (reported, not
    dropped).

    Output: (cluster_col, n_members, <field> for each field) —
    one row per cluster. Values are returned as strings (the melt casts
    for a uniform value column; callers re-cast typed fields).
    """
    melted = df.select(
        F.col(cluster_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"),
                        F.col(f).cast("string").alias("value"),
                    )
                    for f in fields
                ]
            )
        ).alias("fv"),
    ).select(cluster_col, "fv.field", "fv.value")
    counts = (
        melted.filter(F.col("value").isNotNull())
        .groupBy(cluster_col, "field", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = (
        counts.groupBy(cluster_col, "field")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg"), F.col("value"))
            ).alias("__b")
        )
        .select(cluster_col, "field", F.col("__b.value").alias("value"))
    )
    members = df.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    assembled = best.groupBy(cluster_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("field", "value"))
        ).alias("__m")
    )
    return members.join(assembled, cluster_col, "left").select(
        cluster_col,
        "n_members",
        *[F.col("__m").getItem(f).alias(f) for f in fields],
    )
