"""Deterministic sampling / splitting for training-data pipelines
(north star §7 ext).

``df.sample()`` / ``sampleBy()`` draw from ``rand(seed)``, whose stream is
PARTITIONING-dependent — re-running after a repartition (or on a different
cluster) selects different rows, which is unacceptable for reproducible
training sets. These operators derive membership from a pure arithmetic
hash of a stable id instead: the same row lands in the same
sample/split on every run, any engine, any partitioning — and the hash is
plain integer arithmetic, so an external system (or the DuckDB oracle) can
reproduce the exact subset.

Hash: ``h(id) = (id · 2654435761) mod 1000003`` (Knuth multiplicative
step into a prime modulus; products stay < 2^63 for any id < 2^31, so
64-bit arithmetic is exact in every engine).
Bucket = ``h mod 10000`` gives 0.01% granularity.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_KNUTH = 2654435761
_MOD = 1000003
_BUCKETS = 10_000


def _bucket(id_col: str) -> Column:
    return ((F.col(id_col).cast("long") * F.lit(_KNUTH)) % F.lit(_MOD)) % F.lit(_BUCKETS)


def deterministic_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, selected by id hash — reproducible across
    runs, partitionings and engines (unlike ``df.sample``). Narrow filter;
    pushes down to the scan like any predicate."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_bucket(id_col) < int(round(fraction * _BUCKETS)))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the source-mixture weighting
    step of a training-data pipeline (keep 80% of source A, 5% of source B,
    drop the rest). Same id-hash membership as
    :func:`deterministic_sample`, with the keep-threshold chosen per stratum
    value; strata not listed get ``default_fraction``. Narrow filter —
    reproducible and oracle-expressible like the unstratified form."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0, 1], got {frac}")
    bucket = _bucket(id_col)
    threshold = None
    for name, frac in fractions.items():
        cond = F.col(strata_col) == name
        lit = F.lit(int(round(frac * _BUCKETS)))
        threshold = (
            F.when(cond, lit) if threshold is None else threshold.when(cond, lit)
        )
    default_lit = F.lit(int(round(default_fraction * _BUCKETS)))
    threshold = default_lit if threshold is None else threshold.otherwise(default_lit)
    return df.filter(bucket < threshold)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k rows, by the
    Efraimidis–Spirakis exponential race (Inf. Proc. Letters 97(5), 2006):
    each row gets key ``u^(1/w)`` for pseudo-uniform ``u`` and weight
    ``w``; the k largest keys are a weight-proportional sample without
    replacement. Ranking by ``ln(u)/w`` descending is the same order
    (ln is monotone, both factors positive/negative consistently) and
    avoids the underflow of ``u^(1/w)`` for tiny weights.

    ``u`` derives from the same integer id-hash as every sampler here —
    ``u = (h(id) + 0.5) / MOD`` in (0, 1) — so the selected set is
    identical on every run, engine and partitioning, and the DuckDB
    oracle replays it exactly. This is the source-mixture primitive for
    quality-weighted corpus subsampling (weight = quality score, token
    count, …) where Bernoulli thinning can't hit an exact k.

    Rows with weight ≤ 0 or NULL are excluded (they have zero selection
    probability in the limit; E-S keys are undefined for them).

    Plan shape: narrow key computation → ``orderBy(key desc).limit(k)``,
    which Spark plans as ``TakeOrderedAndProject`` — per-partition k-row
    heaps, ONE k·P-row exchange, never a full sort. Output adds
    ``es_key`` (the E-S key, rounded to 6 dp for the report) and keeps
    every input column.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = (F.col(id_col).cast("long") * F.lit(_KNUTH)) % F.lit(_MOD)
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_MOD))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__es_key_raw", key)
        .orderBy(F.col("__es_key_raw").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("es_key", F.round(F.col("__es_key_raw"), 6))
        .drop("__es_key_raw")
    )


def hash_split(df: DataFrame, id_col: str) -> DataFrame:
    """Assign every row a deterministic 90/5/5 train/val/test split label
    by id-hash bucket ranges. Split boundaries are cumulative bucket
    thresholds, so the assignment is stable under any future re-run or
    re-partitioning. Narrow."""
    weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    bucket = _bucket(id_col)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < int(round(cum * _BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", out)


def class_balanced_sample(df: DataFrame, id_col: str, class_col: str) -> DataFrame:
    """Downsample every class to the MINORITY class's size — exact class
    balancing for classifier training sets, deterministic across runs,
    partitionings and engines: within each class rows are ranked by the
    portable id hash (id tiebreak) and the first ``min_class_count`` kept.

    Plan shape: one map-side-combined groupBy for the class histogram
    (KB: |classes| rows, min taken via a 1-row aggregate broadcast back),
    one per-class window for the hash ranking. The window shuffles the
    corpus ONCE partitioned by class — at 100 TB prefer the approximate
    variant (per-class `stratified_sample` with fraction = target/size:
    no sort, narrow) unless exact counts are contractual; this operator
    is the exact-count path.

    Output: the kept rows (original columns), exactly min-class-count per
    class.
    """
    counts = df.groupBy(F.col(class_col).alias("__c")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    target = counts.agg(F.min("__n").alias("__target"))
    w = Window.partitionBy(class_col).orderBy(
        _bucket(id_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .crossJoin(F.broadcast(target))
        .filter(F.col("__rk") <= F.col("__target"))
        .drop("__rk", "__target")
    )


def leakage_safe_splits(labeled: DataFrame) -> DataFrame:
    """Train/val/test assignment by DEDUP CLUSTER, not by row — the
    leakage guard for near-duplicate corpora: hash-splitting documents
    individually puts near-copies of one text on both sides of the
    train/eval fence (the classic benchmark-contamination bug);
    splitting on the component id keeps every member of a duplicate
    cluster in the SAME split by construction.

    Input is a components labeling ((id, component_id) — the output of
    ``graph.dedup_components``); the split is :func:`hash_split` applied
    to the component id, so it inherits its determinism and narrowness
    (no extra shuffle beyond the labeling itself).

    Output: input columns + split label; invariant (tested): one split
    per component.
    """
    return hash_split(labeled, "component_id")


def mixture_weights(
    df: DataFrame,
    group_cols: list[str],
    size_col: str,
    target_tokens: int,
) -> DataFrame:
    """Per-source corpus mixture weights — the data-mixing step of a
    training pipeline: how much of each (source, language, …) group goes
    into the next training run. Temperature sampling (multilingual-scaling
    practice, e.g. the T-weighting in mC4/PaLM data mixes) flattens group
    mass: sampling weight ∝ tokens^(1/T), so T=1 keeps natural proportions
    and larger T up-weights the tail.

    Engine-portable exactness: only T=2 (the common default) uses a
    transcendental-free path — ``sqrt`` is IEEE-correctly-rounded in every
    engine, while ``pow(x, 1/T)`` for general T is libm-dependent and can
    flip last bits between JVM and C. So T=2 is the temperature here, and
    the weight is quantized to an INTEGER
    micro-weight ``floor(sqrt(tokens) * 1e6)`` before normalization: the
    group sum, the ppm share, and the per-group token budget are then
    exact integer arithmetic that any engine (and the DuckDB oracle)
    reproduces bit-for-bit.

    Plan shape: one map-side-combined groupBy over (group_cols) — rows
    shuffled are one per group — then a broadcast of the 1-row total for
    the normalization. No window, no second scan of the fact table.

    Output: group_cols + n_docs, tokens, weight_micro, share_ppm
    (integer-div ppm of the mixture), budget_tokens (integer share of
    ``target_tokens``).
    """
    groups = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(size_col).cast("long")).alias("tokens"),
    )
    w = F.floor(F.sqrt(F.col("tokens").cast("double")) * F.lit(1_000_000.0)).cast(
        "long"
    )
    weighted = groups.withColumn("weight_micro", w)
    total = weighted.agg(
        F.sum("weight_micro").cast("decimal(38,0)").alias("__total")
    )
    # Integral DIV on exact DECIMAL(38,0) products — floor(decimal/decimal)
    # would round to the result scale (HALF_UP) BEFORE the floor and can be
    # off by one at quotient boundaries; DIV is the exact floor in both
    # Spark and DuckDB (//).
    share = "CAST(weight_micro AS DECIMAL(38,0)) * 1000000 DIV __total"
    budget = (
        f"CAST(weight_micro AS DECIMAL(38,0)) * {int(target_tokens)}"
        " DIV __total"
    )
    return (
        weighted.join(F.broadcast(total))
        .select(
            *group_cols,
            "n_docs",
            "tokens",
            "weight_micro",
            F.expr(share).cast("long").alias("share_ppm"),
            F.expr(budget).cast("long").alias("budget_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    n_tokens_col: str,
    order_col: str,
    seq_len: int,
    bucket_width: int = 1_000,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM pre-training
    batching step (GPT-style): documents are conceptually concatenated in
    ``order_col`` order into one global token stream, which is sliced into
    fixed ``seq_len`` training sequences; a document contributes to every
    chunk its token span overlaps. This produces the (chunk, doc) manifest
    a dataloader needs WITHOUT materializing the stream: pure offset
    arithmetic over token counts.

    Scale shape: the only non-narrow step is the global exclusive prefix
    sum of token counts, delegated to
    :func:`~..aggregates.global_running_sum` (two-phase bucketed cumsum —
    NO single-partition window; see its docstring for the 100 TB
    argument). Chunk expansion is ``sequence``/``explode`` JVM-side; each
    doc explodes into ``ceil(n_tokens / seq_len) + 1`` rows at most, so
    output grows linearly with corpus tokens.

    Determinism: offsets depend only on (``order_col`` order, token
    counts) — any engine (or the DuckDB oracle) reproduces the exact
    manifest; no RNG, no partitioning dependence, matching this module's
    reproducible-training-set contract.

    Output: ``order_col``, ``chunk_id`` (0-based ``seq_len``-sized slice
    of the global stream), ``start_in_chunk`` (token offset of this doc's
    first token within the chunk), ``n_tokens_in_chunk``. Zero-token docs
    contribute no rows (nothing to pack).
    """
    from .aggregates import global_running_sum

    run = global_running_sum(
        df.select(order_col, n_tokens_col),
        order_col=order_col,
        value_col=n_tokens_col,
        bucket_width=bucket_width,
    )
    n = F.col(n_tokens_col).cast("long")
    end = F.col(f"running_{n_tokens_col}").cast("long")
    start = (end - n).alias("__start")
    L = F.lit(int(seq_len))
    spans = run.select(
        order_col,
        n.alias("__n"),
        start,
        end.alias("__end"),
    ).filter(F.col("__n") > 0)
    chunk = F.col("__chunk")
    # integer `div`, not double `/` + cast: double division is exact only
    # below 2^53 — past that the floor can be off by one, corrupting chunk
    # ids exactly at the corpus scale this manifest targets.
    return spans.select(
        order_col,
        "__start",
        "__end",
        F.explode(
            F.sequence(
                F.expr(f"`__start` div {int(seq_len)}"),
                F.expr(f"(`__end` - 1) div {int(seq_len)}"),
            )
        ).alias("__chunk"),
    ).select(
        order_col,
        chunk.alias("chunk_id"),
        F.greatest(F.col("__start") - chunk * L, F.lit(0)).alias(
            "start_in_chunk"
        ),
        (
            F.least(F.col("__end"), (chunk + 1) * L)
            - F.greatest(F.col("__start"), chunk * L)
        ).alias("n_tokens_in_chunk"),
    )
