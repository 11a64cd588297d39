"""Count-min sketch: fixed-size frequency summaries with one-sided error
(estimates never undercount) — the sketch tier next to the HLL/quantile
profiling of ``approx_count_distinct``/``percentile_approx``, but built EXPLICITLY from
engine-portable arithmetic so any engine (or the DuckDB oracle) reproduces
the counters bit-for-bit.

Scale shape: the d×w counter matrix is built in ONE aggregation whose
shuffle carries at most d·w map-side-combined rows per partition (d·w is a
few KB — constant, independent of corpus size); only the counter matrix
reaches the driver. Estimation is then a narrow lookup against the literal
counters. This is the mergeable-summary pattern: sketches from different
corpus shards ADD, so profiling 100 TB is a tree of +s, never a re-scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.functions import text as T
from iatlas_cbioportal_export_spark.functions.text import _FP_BASE, _FP_MOD

# affine row-hash constants: small odd multipliers, fixed — part of the
# sketch's identity (an index rebuilt anywhere matches, like the LSH planes)
_CMS_A = [31, 37, 41, 43]
_CMS_B = [7, 11, 13, 17]


def _token_hash(tok: Column) -> Column:
    """Portable rolling hash of a token (same fold as fingerprints/
    hashed_embedding — deliberately not xxhash64 so oracles can replay it)."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(_FP_BASE) + F.ascii(ch)) % F.lit(_FP_MOD),
    )


def count_min_build(df: DataFrame, depth: int = 4, width: int = 256) -> list[list[int]]:
    """Build the d×w counter matrix over the corpus's tokens. One explode to
    (row, bucket) pairs (d rows per token — combined map-side to ≤ d·w rows
    per partition before the shuffle) and one groupBy; the matrix (d·w
    longs, KB) is collected to the driver, mirroring the IVF-centroid
    pattern."""
    h = _token_hash(F.col("tok"))
    pairs = (
        df.select(F.explode(T.tokens("text")).alias("tok"))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("r"),
                            (
                                (h * F.lit(_CMS_A[j]) + F.lit(_CMS_B[j]))
                                % F.lit(_FP_MOD)
                                % F.lit(width)
                            ).alias("b"),
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("rb")
        )
        .select(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    )
    rows = pairs.groupBy("r", "b").agg(F.count(F.lit(1)).alias("n")).collect()
    counters = [[0] * width for _ in range(depth)]
    for rec in rows:
        counters[rec["r"]][rec["b"]] = rec["n"]
    return counters


_HLL_BASE_B = 131  # second, independent Horner base for the rank stream
_HLL_WBITS = 30  # fold values are < 1e9+7 < 2^30 → rank domain 1..31
_HLL_MIX_C = 0x9E3779B9 % _FP_MOD  # golden-ratio constant for the scramble


def _key_hash(key: Column, base: int) -> Column:
    """Portable NONLINEAR hash of a key's decimal-string form: the Horner
    fold (same arithmetic family as ``_token_hash``) followed by two
    quadratic scramble rounds ``x ← (x² + c) mod p``. The scramble is
    load-bearing for sketching: the bare fold is affine in the key, so
    sequential ids (orderkeys, doc ids) produce CONTIGUOUS hash values —
    measured 47% cardinality underestimate at sf0.1 — while two quadratic
    rounds restore uniform bit-length statistics (≤5% error, within the
    HLL 3σ band). All intermediates stay < 2^60, ANSI-safe in both
    engines."""
    h = F.aggregate(
        F.split(key.cast("string"), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(base) + F.ascii(ch)) % F.lit(_FP_MOD),
    )
    for _ in range(2):
        h = (h * h + F.lit(_HLL_MIX_C)) % F.lit(_FP_MOD)
    return h


def hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant for m ≥ 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_register_table(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """The HLL state: ``(group…, bucket, mj)`` with ``mj`` = max rank seen
    in the bucket. This IS the mergeable summary — register tables from
    disjoint shards combine by ``union → groupBy(bucket).max(mj)`` into
    exactly the whole-corpus table (the tree-of-maxes shape), and
    :func:`hll_distinct` is a pure function of it."""
    m = 1 << p
    gcols = list(group_cols)
    key = F.col(key_col)
    ha = _key_hash(key, _FP_BASE)
    hb = _key_hash(key, _HLL_BASE_B)
    rank = F.when(hb == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(hb))
    )
    return (
        # NULL keys carry no distinct-count information (exact_distinct via
        # count(distinct) ignores NULLs too); unfiltered they'd mint a
        # NULL-hash register that inflates used_registers.
        df.filter(key.isNotNull())
        .select(*gcols, (ha % F.lit(m)).alias("bucket"), rank.alias("r"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("r").alias("mj"))
    )


def hll_fold_registers(
    regs: DataFrame, group_cols: Sequence[str], p: int
) -> DataFrame:
    """Collapse a register table to per-group ``(used_registers,
    harmonic_sum_scaled)`` — the exact-integer state the estimator is a
    pure function of. Accepts any register table: a fresh build, or a
    bucket-wise-max merge of shard/set tables."""
    m = 1 << p
    gcols = list(group_cols)
    two = F.lit(2).cast("long")
    folded = regs.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("used_registers"),
        F.sum(
            F.pow(two, F.lit(_HLL_WBITS + 1) - F.col("mj")).cast("long")
        ).alias("s_present"),
    )
    zeros = (F.lit(m) - F.col("used_registers")).cast("long")
    return folded.select(
        *gcols,
        "used_registers",
        (
            F.col("s_present") + zeros * F.lit(1 << (_HLL_WBITS + 1))
        ).alias("harmonic_sum_scaled"),
    )


def hll_estimate_expr(m: int) -> Column:
    """The HLL estimate as a column over ``(used_registers,
    harmonic_sum_scaled)``: ``α·m²·2^31 / S`` with the Flajolet
    small-range fallback ``m·ln(m/zeros)`` below 2.5·m."""
    zeros = F.lit(m) - F.col("used_registers")
    raw = (
        F.lit(hll_alpha(m) * m * m * float(1 << (_HLL_WBITS + 1)))
        / F.col("harmonic_sum_scaled")
    )
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate from an EXPLICIT,
    engine-portable register table, emitted next to the exact distinct count
    (the verification twin, like ``count_min_estimate``'s ``true_count``).

    Sketch identity (any engine rebuilds it bit-for-bit):

    - two independent Horner folds of the key's decimal string, bases 31
      (bucket stream) and 131 (rank stream), both mod 1e9+7;
    - ``bucket = h_a mod m`` with ``m = 2^p`` registers;
    - ``rank = 31 − bitlen(h_b)`` (the fold is < 2^30, so the rank domain
      is 1..31; ``bitlen`` is ``length(bin(x))``, identical in Spark and
      DuckDB, with ``h_b = 0 → rank 31``);
    - register ``M_j = max rank`` seen in bucket j.

    The harmonic denominator ``Σ 2^(−M_j)`` is kept EXACT by scaling:
    ``S = Σ 2^(31−M_j)`` over all m registers (absent buckets contribute
    2^31), a sum of bounded BIGINTs — reduction-order independent, so the
    estimate is value-hash checkable. ``raw = α·m²·2^31 / S``; the standard
    small-range fallback ``m·ln(m/zeros)`` applies below 2.5·m.

    Scale shape: the only corpus-sized work is one map-side-combined
    groupBy to (group, bucket, max-rank) — ≤ groups·m rows reach the
    shuffle regardless of input size; registers MERGE by bucket-wise max,
    so 100 TB profiles as a tree of maxes, never a re-scan. The exact
    column is the oracle twin and costs one distinct-count shuffle —
    drop it in production. The 30-bit portable fold caps reliable
    estimates well below 2^30 distinct keys; at true 100 TB cardinalities
    swap both folds for xxhash64 streams (identical algebra, 64-bit rank
    domain) and lose only oracle replayability.

    Output per group: ``(group…, m, used_registers, zero_registers,
    harmonic_sum_scaled, est_distinct, exact_distinct, rel_err_pct,
    within_bound)`` with ``within_bound`` = relative error inside
    3·1.04/√m (the 3σ HLL guarantee).
    """
    m = 1 << p
    gcols = list(group_cols)
    regs = hll_register_table(df, key_col, gcols, p)
    exact = (
        df.groupBy(*gcols)
        .agg(F.countDistinct(key_col).alias("exact_distinct"))
    )
    est = hll_estimate_expr(m)
    bound = 3.0 * 1.04 / (m**0.5)
    folded = hll_fold_registers(regs, gcols, p)
    # group_cols=[] is the whole-table estimate: both sides are single-row
    # frames, joined by a bounded 1×1 cross (join(on=[]) is invalid).
    joined = (
        folded.crossJoin(exact) if not gcols else folded.join(exact, on=gcols)
    )
    out = (
        joined
        .select(
            *gcols,
            F.lit(m).alias("m"),
            "used_registers",
            (F.lit(m) - F.col("used_registers")).alias("zero_registers"),
            "harmonic_sum_scaled",
            F.round(est, 4).alias("est_distinct"),
            "exact_distinct",
            F.round(
                F.lit(100.0) * F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err_pct"),
            (
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct")
                <= F.lit(bound)
            ).alias("within_bound"),
        )
    )
    return out


def count_min_estimate(
    df: DataFrame, probes: Sequence[str], counters: list[list[int]]
) -> DataFrame:
    """Estimate each probe token's corpus frequency from the sketch (min
    over rows of its counter) next to the TRUE count (an exact groupBy over
    only the probe tokens — a broadcast-filterable sliver). The CMS
    guarantee ``est >= true`` is emitted as a checkable column.
    Output: (token, est_count, true_count, overcount)."""
    spark = df.sparkSession
    width = len(counters[0])
    probe_df = spark.createDataFrame([(p,) for p in probes], "token string")
    h = _token_hash(F.col("token"))
    est = F.least(
        *[
            F.element_at(
                F.array(*[F.lit(int(c)) for c in counters[j]]),
                (
                    (h * F.lit(_CMS_A[j]) + F.lit(_CMS_B[j]))
                    % F.lit(_FP_MOD)
                    % F.lit(width)
                ).cast("int")
                + 1,
            )
            for j in range(len(counters))
        ]
    )
    true_counts = (
        df.select(F.explode(T.tokens("text")).alias("token"))
        .filter(F.col("token").isin(list(probes)))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        probe_df.withColumn("est_count", est)
        .join(true_counts, on="token", how="left")
        .select(
            "token",
            "est_count",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            (F.col("est_count") - F.coalesce("true_count", F.lit(0))).alias(
                "overcount"
            ),
        )
    )


def _bloom_positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions for a key via Kirsch-Mitzenmacher double hashing
    ``p_i = (h1 + i·h2) mod m`` over the two portable scrambled streams —
    any engine recomputes the identical positions."""
    h1 = _key_hash(key, _FP_BASE)
    h2 = _key_hash(key, _HLL_BASE_B)
    return [((h1 + F.lit(i) * h2) % F.lit(m_bits)) for i in range(k)]


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 256,
    k: int = 4,
) -> list[int]:
    """Build the Bloom bit array over the (distinct) keys of ``df`` —
    the DIM side of a prefiltered join. One explode to bit positions and
    one distinct; only ≤ m_bits position longs reach the driver, which
    packs them into ``m_bits/64`` words (the KB-literal pattern shared
    with the count-min counters / IVF centroids). Shard filters merge by
    bitwise OR."""
    key = F.col(key_col)
    pos_rows = (
        # NULL keys set no bits: hashing NULL yields a NULL position row
        # that would TypeError in the driver-side pack (and a NULL dim key
        # never equi-joins, so the filter loses nothing).
        df.filter(key.isNotNull())
        .select(
            F.explode(F.array(*_bloom_positions(key, m_bits, k))).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in pos_rows:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # keep words in signed-64 range for F.lit on the read side
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_prefilter_report(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 256,
    k: int = 4,
) -> DataFrame:
    """The join-prefilter pattern that cuts shuffle volume at 100 TB: build
    a Bloom filter over the small DIM side's keys, evaluate it as a NARROW
    literal-bitmask test on every FACT row (no shuffle, no broadcast hash
    table — m_bits is constant), and report its quality against the true
    semi-join.

    Output (one row): ``(n_fact, n_bloom_pass, n_true_match,
    n_false_positive, false_positive_rate, no_false_negatives)``.
    ``no_false_negatives`` is the Bloom guarantee — every true match
    passes the filter — checked structurally (same hash arithmetic on
    both sides), not assumed. The true-match flags come from a broadcast
    left semi-style join against the dim key set, which is the accuracy
    oracle here exactly like count-min's ``true_count``; a production
    prefilter drops it and keeps only the narrow bitmask test in front
    of the real join."""
    words = bloom_build(dim, dim_key, m_bits=m_bits, k=k)
    bits = F.array(*[F.lit(w).cast("long") for w in words])
    key = F.col(fact_key)
    with_pos = fact.select(
        fact_key,
        bits.alias("_bits"),
        *[
            p.alias(f"_p{i}")
            for i, p in enumerate(_bloom_positions(key, m_bits, k))
        ],
    )
    # bit test: arithmetic shiftright then parity — the Python shiftright
    # wrapper only takes a literal count, so the column-count form goes
    # through the SQL expression (sign propagation is harmless: an odd
    # remainder is ±1, an even one is 0)
    passes = None
    for i in range(k):
        hit = F.expr(
            f"shiftright(element_at(_bits, cast(_p{i} div 64 as int) + 1), "
            f"cast(_p{i} % 64 as int)) % 2 != 0"
        )
        passes = hit if passes is None else (passes & hit)
    dimkeys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    flagged = (
        with_pos.withColumn("bloom_pass", passes)
        .select(fact_key, "bloom_pass")
        .join(
            F.broadcast(dimkeys.withColumn("is_true", F.lit(True))),
            on=fact_key,
            how="left",
        )
        .select(
            "bloom_pass",
            F.coalesce("is_true", F.lit(False)).alias("is_true"),
        )
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
        F.sum(F.col("is_true").cast("long")).alias("n_true_match"),
        F.sum(
            (F.col("bloom_pass") & ~F.col("is_true")).cast("long")
        ).alias("n_false_positive"),
        F.sum(
            (F.col("is_true") & ~F.col("bloom_pass")).cast("long")
        ).alias("n_missed"),
    )
    return agg.select(
        "n_fact",
        "n_bloom_pass",
        "n_true_match",
        "n_false_positive",
        F.round(
            F.when(
                F.col("n_fact") > F.col("n_true_match"),
                F.col("n_false_positive")
                / (F.col("n_fact") - F.col("n_true_match")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("false_positive_rate"),
        (F.col("n_missed") == 0).alias("no_false_negatives"),
    )


def hll_set_report(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    p: int = 8,
) -> DataFrame:
    """Set-cardinality algebra over HLL registers: estimate |A|, |B|,
    |A∪B| and |A∩B| (inclusion-exclusion) WITHOUT re-scanning the union —
    the union registers are the bucket-wise max MERGE of A's and B's
    register tables, which is what makes the sketch a cross-shard /
    cross-corpus audience-overlap tool: each corpus is sketched once,
    m-row tables travel, set algebra happens on registers.

    Exact twins for all four quantities ride along (one distinct-count
    aggregate over the labeled union), plus the 3σ gate on the union
    estimate. Intersection inherits the summed error of three estimates
    and CAN be negative near zero overlap — reported as-is (the standard
    inclusion-exclusion caveat, not a defect to hide).

    Output (one row): ``(est_a, est_b, est_union, est_intersection,
    exact_a, exact_b, exact_union, exact_intersection,
    union_within_bound)``.
    """
    m = 1 << p
    labeled = df_a.select(
        F.lit("a").alias("s"), F.col(key_col).alias("k")
    ).unionByName(
        df_b.select(F.lit("b").alias("s"), F.col(key_col).alias("k"))
    )
    regs = hll_register_table(labeled, "k", ["s"], p)
    regs_u = (
        regs.groupBy("bucket")
        .agg(F.max("mj").alias("mj"))
        .select(F.lit("u").alias("s"), "bucket", "mj")
    )
    folded = hll_fold_registers(
        regs.unionByName(regs_u), ["s"], p
    ).select("s", hll_estimate_expr(m).alias("est"))
    # an EMPTY set has no register rows at all, so its label is absent from
    # ``folded`` — coalesce to 0.0, which equals the estimator's value on
    # an all-zero register table (small-range: m·ln(m/m) = 0)
    ests = folded.agg(
        F.coalesce(
            F.max(F.when(F.col("s") == "a", F.col("est"))), F.lit(0.0)
        ).alias("_ea"),
        F.coalesce(
            F.max(F.when(F.col("s") == "b", F.col("est"))), F.lit(0.0)
        ).alias("_eb"),
        F.coalesce(
            F.max(F.when(F.col("s") == "u", F.col("est"))), F.lit(0.0)
        ).alias("_eu"),
    )
    exacts = labeled.agg(
        F.countDistinct(F.when(F.col("s") == "a", F.col("k"))).alias(
            "exact_a"
        ),
        F.countDistinct(F.when(F.col("s") == "b", F.col("k"))).alias(
            "exact_b"
        ),
        F.countDistinct("k").alias("exact_union"),
    )
    bound = 3.0 * 1.04 / (m**0.5)
    return (
        ests.crossJoin(F.broadcast(exacts))
        .select(
            F.round("_ea", 4).alias("est_a"),
            F.round("_eb", 4).alias("est_b"),
            F.round("_eu", 4).alias("est_union"),
            F.round(
                F.col("_ea") + F.col("_eb") - F.col("_eu"), 4
            ).alias("est_intersection"),
            "exact_a",
            "exact_b",
            "exact_union",
            (
                F.col("exact_a") + F.col("exact_b") - F.col("exact_union")
            ).alias("exact_intersection"),
            F.when(
                F.col("exact_union") > 0,
                F.abs(F.col("_eu") - F.col("exact_union"))
                / F.col("exact_union")
                <= F.lit(bound),
            )
            .otherwise(F.lit(True))  # vacuous on two empty sets
            .alias("union_within_bound"),
        )
    )


def misra_gries_summary(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Misra-Gries heavy-hitter summary: ≤ ``k`` (item, est) rows whose
    estimates undercount true frequencies by at most ``n/(k+1)`` — the
    mergeable deterministic counterpart of count-min for top-item detection
    (Misra & Gries 1982; merge rule per Agarwal et al., "Mergeable
    Summaries", PODS 2012).

    Shape: one ``mapInPandas`` pass keeps a k-bounded counter dict per
    PARTITION (Arrow-batched; the per-item work is a dict op, and the
    output is ≤ k rows per partition, so nothing corpus-sized ever leaves
    the scan stage). Partials then merge associatively: sum counters by
    item, subtract the (k+1)-largest summed value (0 when ≤ k items
    survive), keep positives — a valid MG summary of the whole stream.
    The merge input is ≤ k·partitions rows, KB-scale at any data size; at
    100 TB this is the canonical two-level combine (the same economics as
    a map-side-combined groupBy, but with a HARD k-row bound per task
    regardless of item cardinality).

    NULL items are skipped (no frequency semantics, same rule as the other
    sketches). Estimates depend on partitioning (any valid MG run does) —
    downstream checks must use the structural guarantees, not the raw
    ests; see :func:`heavy_hitters_gate`.
    """
    import pandas as pd

    kk = int(k)

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            for item in pdf[item_col]:
                if item is None or (isinstance(item, float) and pd.isna(item)):
                    continue
                if item in counters:
                    counters[item] += 1
                elif len(counters) < kk:
                    counters[item] = 1
                else:
                    # decrement-all; drop zeros (the classic MG step,
                    # amortized O(1) via dict comprehension per trigger)
                    counters = {
                        i: c - 1 for i, c in counters.items() if c > 1
                    }
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "est": list(counters.values())}
            )

    partials = df.select(F.col(item_col).alias(item_col)).mapInPandas(
        mg_partition, schema=f"item string, est long"
    )
    summed = partials.groupBy("item").agg(F.sum("est").alias("est"))
    # (k+1)-largest summed count = the merge offset. The summed frame is
    # ≤ k·partitions rows; the offset is a KB-bounded decision scalar.
    top = summed.orderBy(F.col("est").desc()).limit(kk + 1).collect()
    offset = int(top[kk]["est"]) if len(top) > kk else 0
    return summed.select(
        "item", (F.col("est") - F.lit(offset)).alias("est")
    ).filter(F.col("est") > 0)


def heavy_hitters_gate(
    df: DataFrame, item_col: str, k: int
) -> DataFrame:
    """Deterministic heavy-hitter CONTRACT check over the Misra-Gries
    summary — the oracle-checkable surface for a sketch whose raw counter
    values are partitioning-defined (same pattern as
    :func:`~iatlas_cbioportal_export_spark.operators.aggregates.sketch_accuracy_report`).

    For every TRUE heavy hitter (exact frequency > n/(k+1), the MG
    detection threshold), emits:

    - ``exact_count``     — the exact frequency (oracle-computable);
    - ``found_by_sketch`` — MG guarantees every item with f > n/(k+1)
                            survives the summary → deterministically TRUE;
    - ``within_bound``    — ``0 ≤ exact − est ≤ n/(k+1)`` (MG never
                            overcounts, undercounts by at most n/(k+1)) →
                            deterministically TRUE.

    Costs: the MG pass, one exact groupBy over the items (the verification
    twin — drop it in production where the sketch is the point), and a
    broadcast join of the ≤ k summary rows onto the heavy set.
    """
    summary = misra_gries_summary(df, item_col, k)
    counts = (
        df.filter(F.col(item_col).isNotNull())
        .groupBy(F.col(item_col).alias("item"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .localCheckpoint(eager=False)
    )
    # n from the combiner-reduced term counts (KB aggregate) — not a third
    # scan of the corpus; the checkpoint keeps the groupBy single-run
    # across the two uses.
    n = counts.agg(F.sum("exact_count")).collect()[0][0]
    # empty/all-NULL input: sum() is NULL — no items, no heavy hitters;
    # thresh 0 keeps the (empty) filter well-typed
    thresh = (n or 0) / (k + 1)
    exact = counts.filter(F.col("exact_count") > F.lit(thresh))
    joined = exact.join(F.broadcast(summary), on="item", how="left")
    return joined.select(
        "item",
        "exact_count",
        F.col("est").isNotNull().alias("found_by_sketch"),
        (
            F.col("est").isNotNull()
            & (F.col("exact_count") - F.col("est") >= 0)
            & (F.col("exact_count") - F.col("est") <= F.lit(thresh))
        ).alias("within_bound"),
    ).orderBy(F.col("exact_count").desc(), F.col("item").asc())


def bitmap_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """EXACT distinct count of a non-negative integer key via mergeable
    64-bit bitmap words — the roaring-bitmap idea reduced to its
    engine-portable core, and the exact counterpart of :func:`hll_distinct`
    for dense integer domains (user ids, order keys, row numbers).

    ``word = key div 64``, ``bit = key mod 64``; one map-side-combined
    ``groupBy(group…, word)`` OR-folds the bit masks, then
    ``sum(bit_count(mask))`` per group. Two aggregations, both combined
    before the shuffle: at most ``keyspace/64`` rows move per group however
    many input rows there are — for a 10⁹-key domain that is ~16M longs
    (128 MB) TOTAL, vs count(distinct)'s full repartition of every distinct
    key occurrence. Bitmap tables from disjoint shards merge by bucket-wise
    ``bit_or`` (same tree-of-merges shape as the HLL registers) — and the
    merge is EXACT, so incremental maintenance never re-scans history.

    NULL and negative keys are excluded (count(distinct) parity for NULLs;
    negatives have no bit position — callers rank/offset signed domains
    first). Output: (group…, distinct_exact).
    """
    gcols = list(group_cols)
    key = F.col(key_col).cast("long")
    words = (
        df.filter(key.isNotNull() & (key >= 0))
        .select(
            *gcols,
            F.floor(key / F.lit(64)).cast("long").alias("__w"),
            (key % 64).cast("int").alias("__b"),
        )
        # the pyspark shiftleft wrapper takes a literal bit count; the SQL
        # function form accepts a column
        .withColumn("__m", F.expr("shiftleft(cast(1 as bigint), __b)"))
        .groupBy(*gcols, "__w")
        .agg(F.bit_or("__m").alias("__mask"))
    )
    return words.groupBy(*gcols).agg(
        # COALESCE matches COUNT(DISTINCT)'s empty-input convention: the
        # ungrouped aggregate of zero rows is ONE row counting 0, not NULL
        F.coalesce(F.sum(F.bit_count("__mask")), F.lit(0).cast("long")).alias(
            "distinct_exact"
        )
    )


def rank_sample_quantile_gate(df: DataFrame, value_col: str) -> DataFrame:
    """Custom MERGEABLE quantile sketch (one-level uniform compaction, the
    KLL level-0 idea) + its deterministic rank-error contract, reduced to
    oracle-checkable gate rows.

    Sketch: every Arrow batch sorts its n values and keeps B evenly-spaced
    block maxima — block j covers sorted ranks [⌊(j−1)n/B⌋, ⌊jn/B⌋), its
    REPRESENTATIVE is the block max, its WEIGHT the block size. Partials
    from any number of batches/shards merge by concatenation (the
    mergeable-summary property: 100 TB = a union of KB partials, never a
    re-sort), and the estimate for quantile q is the smallest
    representative whose merged cumulative weight reaches
    ``target = ⌈q·N⌉``.

    Proof of the gate, tie-safe (an exact quantile value v satisfies
    ``rank_lo(v) < target ≤ rank_hi(v)`` with ``rank_lo = count(<v)``,
    ``rank_hi = count(≤v)`` — with duplicated values no algorithm can pin
    ``count(≤v)`` itself near target). Per batch, elements ≤ v form a
    rank-prefix whose fully-covered blocks all have representative ≤ v, so
    ``cumwt(v) ≤ rank_hi(v)``; elements < v* in blocks whose rep ≥ v* are
    confined to ONE partially-covered block per batch, so with
    ``slack := Σ_batches max_block(batch)`` and v*'s predecessor rep p
    (``cumwt(p) < target``): ``rank_lo(v*) < cumwt(p) + slack < target +
    slack``. The chosen v* (min rep with ``cumwt ≥ target``) thus obeys
    ``rank_lo(v*) < target + slack ≤ rank_hi(v*) + slack`` — i.e. the gate
    ``rank_hi ≥ target AND rank_lo < target + slack``, which collapses to
    a one-sided-slack exact-quantile test on distinct values and stays
    meaningful under ties. That boolean next to (n, target_rank) is the
    engine-portable shape for a sketch whose raw samples are
    partitioning-defined (same pattern as ``sketch_accuracy_report`` /
    ``heavy_hitters_gate``).

    Plan: ONE narrow mapInPandas pass emits ≤ B+1 rows per batch (no
    shuffle); the merged sample table is KB-bounded (batches·(B+1) rows),
    so it is collected whole and the N/slack totals plus the
    cumulative-weight estimate walk run in driver Python (r10 — one
    collect instead of checkpoint + totals + windowed-estimate jobs);
    ONE more corpus scan computes the exact
    ranks of the three literal estimates for the gate (the gate
    is the only reason the corpus is read twice — production use stops at
    the estimates). N, slack and the estimates are KB-bounded decision
    values collected to the driver, like the CMS counter matrix above.

    Output: one row per quantile (0.5, 0.9, 0.99) — (quantile, n, target_rank,
    within_bound) with ``within_bound ⇔ rank_hi(est) ≥ target AND
    rank_lo(est) < target + slack``.
    """
    import pandas as pd

    B = 256
    spark = df.sparkSession

    def _partials(batches):
        import numpy as np

        for pdf in batches:
            a = pdf.iloc[:, 0].dropna().to_numpy()
            n = len(a)
            if n == 0:
                continue
            a = np.sort(a)
            bounds = [(j * n) // B for j in range(B + 1)]
            reps, weights = [], []
            for j in range(1, B + 1):
                lo, hi = bounds[j - 1], bounds[j]
                if hi > lo:
                    reps.append(int(a[hi - 1]))
                    weights.append(hi - lo)
            yield pd.DataFrame(
                {
                    "v": reps + [None],
                    "w": weights + [max(weights)],
                    "is_slack": [False] * len(reps) + [True],
                }
            )

    # r10: the merged sample table is KB-bounded BY CONSTRUCTION
    # (batches·(B+1) rows — the mergeable-summary property above), so
    # collect it ONCE and do the N/slack totals and the cumulative-weight
    # estimate walk in plain Python. This replaces three driver-side jobs
    # (checkpoint, totals aggregate, windowed estimate aggregate) with one
    # collect, and removes the operator's only unpartitioned window — the
    # runtime `WindowExec: No Partition Defined` WARN it fired was
    # harmless (KB input) but indistinguishable in logs from a real
    # scale-killer. The walk reproduces the window exactly: per distinct
    # v ascending, a value qualifies for q iff the cumulative weight
    # through its tie group reaches ⌈q·N⌉ (intra-tie row order never
    # changed the minimal qualifying v).
    p_rows = (
        df.select(F.col(value_col).cast("long").alias("v"))
        .mapInPandas(_partials, schema="v long, w long, is_slack boolean")
        .collect()
    )
    n_total = sum(r["w"] for r in p_rows if not r["is_slack"])
    slack = sum(r["w"] for r in p_rows if r["is_slack"])
    qs = [0.5, 0.9, 0.99]
    if n_total == 0:
        return spark.createDataFrame(
            [(q, 0, 0, True) for q in qs],
            "quantile double, n long, target_rank long, within_bound boolean",
        )

    import math

    targets = {q: math.ceil(q * n_total) for q in qs}
    vw: dict[int, int] = {}
    for r in p_rows:
        if not r["is_slack"]:
            vw[r["v"]] = vw.get(r["v"], 0) + r["w"]
    ests: dict[float, int] = {}
    acc = 0
    for v in sorted(vw):
        acc += vw[v]
        for q in qs:
            if q not in ests and acc >= targets[q]:
                ests[q] = v
    rank_row = df.agg(
        *[
            agg
            for i, q in enumerate(qs)
            for agg in (
                F.sum(
                    (F.col(value_col).cast("long") <= F.lit(ests[q])).cast(
                        "long"
                    )
                ).alias(f"hi{i}"),
                F.sum(
                    (F.col(value_col).cast("long") < F.lit(ests[q])).cast(
                        "long"
                    )
                ).alias(f"lo{i}"),
            )
        ]
    ).collect()[0]
    rows = []
    for i, q in enumerate(qs):
        ok = (
            rank_row[f"hi{i}"] >= targets[q]
            and rank_row[f"lo{i}"] < targets[q] + slack
        )
        rows.append((q, n_total, targets[q], bool(ok)))
    return spark.createDataFrame(
        rows,
        "quantile double, n long, target_rank long, within_bound boolean",
    )


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    k: int = 256,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch — the third
    mergeable cardinality estimator next to :func:`hll_distinct`
    (register-max) and :func:`bitmap_distinct` (exact bitmap): keep the k
    SMALLEST portable hash values per group; with hashes uniform on
    [0, p), the k-th minimum estimates density, ``D ≈ (k-1)·p / h_(k)``
    (Bar-Yossef et al. 2002). Bottom-k sets merge by union+truncate, so
    partial sketches combine associatively — the same
    mergeable-across-partitions contract as the other sketches, and
    unlike HLL the SAME sketch also supports set operations by hash-set
    intersection.

    Exactness of the readout: the bottom-k selection and h_(k) are
    integers from the portable scrambled fold (any engine replays them);
    the estimate is integer DIV ``(k-1)·p // h_(k)``. When a group has
    fewer than k distinct hashes the sketch is EXACT (estimate = count of
    distinct hashes, up to hash collisions).

    Plan shape: hash is a narrow projection; ONE (group, hash) distinct
    aggregation; bottom-k via min-heap window over ≤ distinct-hash rows
    per group — only (group, hash) longs shuffle. NULL keys are excluded
    (a NULL is not a value; mirrors bloom/hll).

    Output: group_cols + (n_hashes_kept, kth_min, est_distinct).
    """
    from pyspark.sql import Window as W

    gcols = list(group_cols)
    hashed = (
        df.filter(F.col(key_col).isNotNull())
        .select(*gcols, _key_hash(F.col(key_col), _FP_BASE).alias("__h"))
        .distinct()
    )
    w = W.partitionBy(*gcols).orderBy(F.col("__h").asc()) if gcols else (
        W.partitionBy(F.lit(1)).orderBy(F.col("__h").asc())
    )
    ranked = hashed.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= k
    )
    agg = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_hashes_kept"),
        F.max("__h").alias("kth_min"),
    )
    # numerator computed driver-side: inside the SQL expression the
    # int literals would multiply in 32-bit INT and silently wrap
    # ((k-1)·p ≈ 2.6e11 > 2^31) before any cast could widen them
    numerator = (k - 1) * _FP_MOD
    est = F.when(
        F.col("n_hashes_kept") < k, F.col("n_hashes_kept").cast("long")
    ).otherwise(
        F.expr(
            f"CAST({numerator} AS DECIMAL(38,0)) DIV kth_min"
        ).cast("long")
    )
    return agg.select(
        *gcols,
        F.col("n_hashes_kept").cast("long").alias("n_hashes_kept"),
        F.col("kth_min").cast("long").alias("kth_min"),
        est.alias("est_distinct"),
    )
