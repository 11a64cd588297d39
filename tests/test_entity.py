"""Fuzzy entity-resolution join: symmetric-delete blocking completeness."""

import pytest
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.operators.entity import (
    fuzzy_join_edit_distance,
)


def _pairs(out):
    return {
        (r["l_id"], r["r_id"]): r["edit_distance"] for r in out.collect()
    }


def test_each_edit_kind_found(spark):
    left = spark.createDataFrame(
        [(1, "johnson"), (2, "smithers"), (3, "walker")],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [
            (10, "jonnson"),    # substitution of 1
            (11, "smithrs"),    # deletion of 2
            (12, "walkers"),    # insertion of 3
            (13, "zzzzzzz"),    # matches nothing
        ],
        "id long, name string",
    )
    out = _pairs(
        fuzzy_join_edit_distance(
            left, right, "id", "name", "id", "name", max_distance=1
        )
    )
    assert out == {(1, 10): 1, (2, 11): 1, (3, 12): 1}


def test_short_strings_found(spark):
    # "ab" vs "cb": ed=1 with disjoint 2-gram sets — the case that broke
    # gram blocking; deletion variants share "b" so symmetric delete finds it.
    left = spark.createDataFrame([(1, "ab"), (2, "a")], "id long, name string")
    right = spark.createDataFrame(
        [(10, "cb"), (11, "b"), (12, "abc")], "id long, name string"
    )
    out = _pairs(
        fuzzy_join_edit_distance(
            left, right, "id", "name", "id", "name", max_distance=1
        )
    )
    # (1,"ab")~(10,"cb") ed1; (1,"ab")~(11,"b") ed1 (delete);
    # (1,"ab")~(12,"abc") ed1 via gram tier; (2,"a")~(11,"b") ed1;
    # (2,"a")~(10,"cb") lev=2 -> excluded by verify.
    assert out == {(1, 10): 1, (1, 11): 1, (1, 12): 1, (2, 11): 1}


def test_exact_matches_have_distance_zero(spark):
    left = spark.createDataFrame([(1, "identical")], "id long, name string")
    right = spark.createDataFrame([(9, "identical")], "id long, name string")
    out = _pairs(
        fuzzy_join_edit_distance(
            left, right, "id", "name", "id", "name", max_distance=2
        )
    )
    assert out == {(1, 9): 0}


def test_matches_brute_force_on_random_ish_corpus(spark):
    # deterministic pseudo-random names; verify the blocked join returns
    # EXACTLY the brute-force pair set (completeness is the contract)
    base = ["market", "martek", "garden", "gardens", "hardens", "mark",
            "dark", "marker", "arden", "ardent", "tent", "ten"]
    left = spark.createDataFrame(
        [(i, n) for i, n in enumerate(base)], "id long, name string"
    )
    right = spark.createDataFrame(
        [(100 + i, n) for i, n in enumerate(base)], "id long, name string"
    )
    d = 2
    out = set(
        _pairs(
            fuzzy_join_edit_distance(
                left, right, "id", "name", "id", "name", max_distance=d
            )
        )
    )
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    expect = {
        (i, 100 + j)
        for (i, a), (j, b) in itertools.product(
            enumerate(base), enumerate(base)
        )
        if lev(a, b) <= d
    }
    assert out == expect


def test_fs_linkage_field_evidence_ordering(spark):
    from iatlas_cbioportal_export_spark.operators.entity import (
        fellegi_sunter_linkage,
    )

    # "phone" is unique (low u -> strong evidence), "seg" has 2 values
    # (high u -> weak). Agreement on phone alone must outscore agreement
    # on seg alone.
    left = spark.createDataFrame(
        [(1, 1, "p1", "A"), (2, 1, "p2", "B")],
        "id long, blk long, phone string, seg string",
    )
    right = spark.createDataFrame(
        [
            (10, 1, "p1", "X"),   # agrees with 1 on phone only
            (11, 1, "zz", "A"),   # agrees with 1 on seg only
            (12, 1, "p9", "A"),   # seg skewed: high u -> weak evidence
            (13, 1, "p8", "A"),
        ],
        "id long, blk long, phone string, seg string",
    )
    out = fellegi_sunter_linkage(
        left, right, "id", "id", ["blk"], ["phone", "seg"]
    )
    sc = {(r["l_id"], r["r_id"]): r["score"] for r in out.collect()}
    assert sc[(1, 10)] > sc[(1, 11)]


def test_fs_linkage_decisions_and_null_agreement(spark):
    from iatlas_cbioportal_export_spark.operators.entity import (
        fellegi_sunter_linkage,
    )

    left = spark.createDataFrame(
        [(1, 1, "alice", None)], "id long, blk long, a string, b string"
    )
    # four distinct values per field: u = 1/4, so each agreement weighs
    # log2(0.95 / 0.25) ≈ 1.93 and two of them clear the link threshold 3
    right = spark.createDataFrame(
        [(10, 1, "alice", None), (11, 1, "bob", "x"), (12, 1, "carol", "y"),
         (13, 1, "dave", "z")],
        "id long, blk long, a string, b string",
    )
    out = {
        r["r_id"]: r
        for r in fellegi_sunter_linkage(
            left, right, "id", "id", ["blk"], ["a", "b"]
        ).collect()
    }
    # NULL b agrees with NULL b; full agreement -> link
    assert out[10]["agree_b"] and out[10]["decision"] == "link"
    assert not out[11]["agree_a"] and out[11]["decision"] == "non_link"


def test_fs_linkage_constant_field_clamped(spark):
    from iatlas_cbioportal_export_spark.operators.entity import (
        fellegi_sunter_linkage,
    )

    # a constant field has u = 1: without the clamp the disagreement
    # weight is -inf and agreement weight log2(m) -> tiny; scores must
    # stay finite
    left = spark.createDataFrame(
        [(1, 1, "k")], "id long, blk long, c string"
    )
    right = spark.createDataFrame(
        [(10, 1, "k"), (11, 1, "k")], "id long, blk long, c string"
    )
    rows = fellegi_sunter_linkage(
        left, right, "id", "id", ["blk"], ["c"]
    ).collect()
    import math

    assert all(math.isfinite(r["score"]) for r in rows)


def test_golden_record_mode_and_ties(spark):
    from iatlas_cbioportal_export_spark.operators.entity import golden_record

    rows = [
        # cluster 1: majority recovers 'Anna' and '555'; seg all-null
        (1, "Anna", "555", None),
        (1, "ANNA", "555", None),
        (1, "Anna", "556", None),
        # cluster 2: full tie on name → smallest value wins
        (2, "bob", "1", "A"),
        (2, "Bob", "1", "B"),
    ]
    df = spark.createDataFrame(
        rows, "cluster_id long, name string, code string, seg string"
    )
    out = {
        r["cluster_id"]: r
        for r in golden_record(df, "cluster_id", ["name", "code", "seg"]).collect()
    }
    assert out[1]["n_members"] == 3
    assert out[1]["name"] == "Anna" and out[1]["code"] == "555"
    assert out[1]["seg"] is None          # all-null field surfaces as NULL
    assert out[2]["name"] == "Bob"        # tie: 'Bob' < 'bob' (ASCII)
    assert out[2]["code"] == "1"
