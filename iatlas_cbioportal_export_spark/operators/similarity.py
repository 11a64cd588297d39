"""Similarity search over embedding columns (north star §7 ext).

Two paths:
- brute-force cosine top-k — the exact baseline; O(|Q|·|C|) with a broadcast
  of the (small) query set, so the corpus never shuffles;
- LSH-bucketed ANN (random hyperplane signs) — the 100 TB path; candidates
  come from sign-pattern buckets, exact cosine re-ranks bucket-mates only.

The dot product is a sequential left fold (``F.aggregate`` over
``zip_with``) in double precision — deterministic summation order, which is
what makes the result hash-comparable against the DuckDB oracle.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HP_SEED = 0x51_7C_C1_B7

# Guard rails: the exact top-k paths serve at most this many queries, and
# the near-dup/CF candidate joins drop any bucket, cell or user above these
# sizes (a quadratic hot spot means the bucketing is too coarse).
_MAX_EXACT_QUERIES = 1000
_MAX_BUCKET_SIZE = 10_000
_MAX_CELL_SIZE = 100_000
_MAX_USER_ITEMS = 1000


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _q(col: str) -> str:
    """Backtick-quote a raw column name for SQL-string rendering."""
    return "`" + col.replace("`", "``") + "`"


def cosine_sql(a_sql: str, b_sql: str) -> str:
    """Cosine similarity of two array<numeric> columns given by plain column
    NAMES, double precision, as SQL text (r10 guide §1 driver fixed costs):
    the Column DSL builds its three higher-order
    folds through ~5 py4j lambda registrations (~0.5 s of driver wall per
    call site); the identical expression text parses JVM-side in one call.
    Lambda bodies, the ``0.0D`` seed, and the ``dot / (na * nb)``
    parenthesization replicate :func:`_dot` / :func:`_norm` exactly, so
    every double is bit-identical."""
    dot = (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "0.0D, (acc, x) -> acc + x)"
    )
    na = (
        f"sqrt(aggregate({a_sql}, 0.0D, "
        "(acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    nb = (
        f"sqrt(aggregate({b_sql}, 0.0D, "
        "(acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    return f"{dot} / ({na} * {nb})"


def _round6_cosine(a_col: str, b_col: str) -> Column:
    """``round(cosine(a, b), 6)`` (:func:`cosine_sql`) as one parsed expression — the shared
    scoring projection of every ANN/similarity path below."""
    return F.expr(f"round({cosine_sql(_q(a_col), _q(b_col))}, 6)")


def _partition_topk(
    df: DataFrame, k: int, group_col: str, order_col: str, tiebreak_col: str
) -> DataFrame:
    """Per-INPUT-PARTITION top-k rows per group — no shuffle.

    A ``groupBy``/window keyed on (group, partition_id) still exchanges every
    row (partial ``collect_list`` aggregation carries full lists through the
    shuffle), so the partial top-k runs as an Arrow-batched ``mapInPandas``
    stage instead: within one partition it folds batches keeping at most
    k rows per group (vectorized ``sort_values`` + ``groupby().head``), so
    downstream stages see ≤ k·|groups| rows per partition. The row order
    (order desc, tiebreak asc) is a TOTAL order (ids unique), so any
    globally-top-k row is necessarily in its partition's top-k — the final
    k-of-(k·P) merge is exact, not approximate.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: pd.DataFrame | None = None
        for batch in batches:
            cur = batch if state is None else pd.concat((state, batch))
            cur = cur.sort_values(
                [group_col, order_col, tiebreak_col],
                ascending=[True, False, True],
                kind="mergesort",
            )
            state = cur.groupby(group_col, sort=False).head(k)
        if state is not None:
            yield state

    return df.mapInPandas(run, schema=df.schema)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k nearest neighbors by cosine for each query vector.

    ``queries`` (small) is broadcast and the corpus is scanned once; scoring
    is JVM codegen. The |C|·|Q| scored triples are then reduced to ≤ k·|Q|
    rows PER PARTITION by a no-shuffle partial top-k (:func:`_partition_topk`)
    before the global per-query window — the only exchange carries k·|Q|·P
    survivor rows, not every scored pair (at 100 TB the full-pair exchange is
    the bottleneck; it also serializes each query's ranking into a single
    reducer task). Self-matches (same id) are excluded.
    Output: (query_id, vec_id, cosine_sim, rank).

    This is the EXACT small-|Q| path: work is |C|·|Q| regardless of any
    pruning, so it is guarded by :data:`_MAX_EXACT_QUERIES` (10³). A query
    set above the cap raises with a pointer at :func:`ann_topk_lsh` /
    :func:`ivf_topk`, which bucket the corpus so each query scores a sliver
    of |C|. The guard
    counts ``limit(cap+1)`` on the query side only — bounded work even when
    a huge frame is passed by mistake (the failure mode it exists to catch).
    """
    max_queries = _MAX_EXACT_QUERIES
    n_queries = queries.limit(max_queries + 1).count()
    if n_queries > max_queries:
        raise ValueError(
            f"brute_force_topk saw more than max_queries="
            f"{max_queries} query vectors: the exact path is "
            "|corpus|x|queries| work and "
            "is meant for small query sets. Use ann_topk_lsh or ivf_topk "
            "for large query sets."
        )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "vec_id",
        _round6_cosine("__qvec", "embedding").alias("cosine_sim"),
    )
    partial = _partition_topk(scored, k, "query_id", "cosine_sim", "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mips_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by MAXIMUM INNER PRODUCT (MIPS) — the retrieval scoring
    used by dot-product-trained dual encoders (DPR-style dense retrieval),
    where cosine is WRONG: document norms carry learned importance, and
    normalizing them away reorders results.

    Same execution shape as :func:`brute_force_topk` (broadcast query side,
    JVM-codegen'd sequential-fold scoring, no-shuffle per-partition partial
    top-k, then the k·|Q|·P-row global window) and the same
    :data:`_MAX_EXACT_QUERIES` guard — the exact path is |C|·|Q| work by
    definition.

    Output: (query_id, vec_id, inner_product, rank); ties broken by id asc.
    """
    max_queries = _MAX_EXACT_QUERIES
    n_queries = queries.limit(max_queries + 1).count()
    if n_queries > max_queries:
        raise ValueError(
            f"mips_topk saw more than max_queries={max_queries} query "
            "vectors: the exact path is |corpus|x|queries| work and is "
            "meant for small query sets."
        )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "vec_id",
        F.round(_dot(F.col("__qvec"), F.col("embedding")), 6).alias("inner_product"),
    )
    partial = _partition_topk(scored, k, "query_id", "inner_product", "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("inner_product").desc(), F.col("vec_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_signature(vec: Column | str, dim: int, num_planes: int = 16) -> Column:
    """Random-hyperplane LSH signature: sign bits of ``num_planes`` fixed
    pseudo-random hyperplanes, packed into a long (Horner fold over the
    plane list — plane p holds bit ``num_planes-1-p``).

    Hyperplane components are deterministic hash-derived values in [-1, 1] —
    no stored model, any executor (or engine) regenerates them bit-identically.

    Built as ONE ``F.expr`` string parsed JVM-side: the earlier per-component
    ``lit()`` formulation created ~dim×num_planes Column objects through
    py4j, which put SECONDS of driver-side chatter on every plan build; the
    whole plane matrix is now a single nested-array literal inside one
    parse call. ``vec`` may be a column name or a Column whose SQL rendering
    is a plain reference.
    """
    planes = []
    for p in range(num_planes):
        # component h(p, i) in [-1, 1] via a splitmix-style integer mix
        comps = []
        for i in range(dim):
            x = (p * 1_000_003 + i * 0x9E37 + _HP_SEED) & 0xFFFFFFFF
            x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
            x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
            x = x ^ (x >> 16)
            comps.append((x / 0xFFFFFFFF) * 2.0 - 1.0)
        planes.append(comps)
    vec_sql = vec if isinstance(vec, str) else vec._jc.toString()
    matrix_sql = ",".join(
        "array(" + ",".join(f"{c!r}D" for c in comps) + ")" for comps in planes
    )
    return F.expr(
        f"aggregate(array({matrix_sql}), cast(0 as bigint), "
        f"(acc, plane) -> acc * 2L + (case when "
        f"aggregate(zip_with({vec_sql}, plane, (a, b) -> a * b), 0.0D, "
        f"(s, x) -> s + x) > 0.0D then 1L else 0L end))"
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 12,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane-sign bucket
    (or differ in ≤1 bit via broadcast of query signatures); exact cosine
    re-ranks candidates only.

    At 100 TB the corpus is scanned once to compute signatures (narrow), the
    join is on the signature bucket (tiny shuffle), and exact cosine touches
    only bucket-mates. Recall is tunable via ``num_planes`` (fewer planes →
    bigger buckets → higher recall, more work). Output schema matches
    :func:`brute_force_topk`.
    """
    # r10: ONE signature Column reused on both sides (the unresolved expr
    # resolves per-plan) — the plane-matrix literal parses once instead of
    # twice; the probe array renders as one expr (each bitwiseXOR Column op
    # was a py4j round trip).
    sig = hyperplane_signature(F.col("embedding"), dim, num_planes)
    c_sig = corpus.withColumn("__sig", sig)
    q_sig = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        sig.alias("__qsig"),
    )
    # neighbor buckets: exact + 1-bit flips (multi-probe LSH)
    probes = F.expr(
        "array(`__qsig`, "
        + ", ".join(f"`__qsig` ^ {1 << p}" for p in range(num_planes))
        + ")"
    )
    q_probed = q_sig.select(
        "query_id", "__qvec", F.explode(probes).alias("__sig")
    )
    cands = c_sig.join(F.broadcast(q_probed), on="__sig").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        _round6_cosine("__qvec", "embedding").alias("cosine_sim"),
    ).dropDuplicates(["query_id", "vec_id"])
    scored = _partition_topk(scored, k, "query_id", "cosine_sim", "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroid_sims_expr(centroids: list[tuple[int, list[float]]]) -> Column:
    """array<struct<sim,cell_id>> of the ``embedding`` column's cosine
    similarity to each centroid — struct ordering compares ``sim`` first,
    so array_max / reverse(array_sort) give nearest cells without any
    shuffle. One ``F.expr`` parse instead of thousands of py4j ``F.lit``
    round-trips (16 cells x 64 dims of Column objects cost ~3s of driver
    time; the equivalent SQL string parses in milliseconds). Folds and cast
    placement replicate :func:`cosine_sql` exactly; centroid norms are
    pre-folded driver-side with the same left-to-right accumulation, so
    every double is bit-identical."""
    norm_vec = (
        "sqrt(aggregate(embedding, 0.0D, "
        "(acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    parts = []
    for cid, cv in centroids:
        arr = "array(" + ",".join(f"{x!r}D" for x in cv) + ")"
        acc = 0.0
        for v in cv:
            acc = acc + v * v
        nc = f"{math.sqrt(acc)!r}D"
        dot = (
            f"aggregate(zip_with(embedding, {arr}, "
            "(x, y) -> cast(x as double) * cast(y as double)), "
            "0.0D, (a, b) -> a + b)"
        )
        parts.append(
            f"named_struct('sim', {dot} / ({norm_vec} * {nc}), "
            f"'cell_id', {cid})"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN top-k: partition the corpus into ``n_cells`` Voronoi
    cells around deterministic centroids; queries probe their ``n_probe``
    nearest cells; exact cosine re-ranks candidates.

    Centroids are the ``n_cells`` lowest-id corpus vectors (deterministic; a
    production build would k-means them — the plan shape is identical). They
    are collected to the driver (n_cells × dim doubles — kilobytes) and baked
    into the plan as literals, so CELL ASSIGNMENT IS A NARROW MAP over the
    corpus: ``array_max`` over the per-centroid similarity structs — no
    shuffle, no window. The only shuffles are the tiny probed-cell broadcast
    join and the final per-query top-k window over candidate rows.

    Recall: a vector and any positive scaling of it share a cell (cosine is
    scale-invariant), and probing ``n_probe`` cells bounds misses to
    cell-boundary cases — the standard IVF trade; raise ``n_probe`` for
    recall. Output schema matches :func:`brute_force_topk`.
    """
    centroids = [
        (i, [float(x) for x in row["embedding"]])
        for i, row in enumerate(
            corpus.select("embedding", "vec_id")
            .orderBy("vec_id")
            .limit(n_cells)
            .collect()
        )
    ]
    assigned = corpus.withColumn(
        "__cell", F.array_max(_centroid_sims_expr(centroids))["cell_id"]
    )
    probes = F.slice(
        F.reverse(F.array_sort(_centroid_sims_expr(centroids))),
        1,
        n_probe,
    )
    q_probed = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.explode(probes).alias("__probe"),
    ).select("query_id", "__qvec", F.col("__probe.cell_id").alias("__cell"))
    cands = assigned.join(F.broadcast(q_probed), on="__cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        _round6_cosine("__qvec", "embedding").alias("cosine_sim"),
    ).dropDuplicates(["query_id", "vec_id"])
    scored = _partition_topk(scored, k, "query_id", "cosine_sim", "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_centroids(
    corpus: DataFrame, n_cells: int = 16, iterations: int = 3
) -> list[tuple[int, list[float]]]:
    """Train IVF centroids with Lloyd's k-means, DataFrame-native.

    Each iteration: (1) assign every vector to its nearest centroid — a
    NARROW map (argmax over broadcast centroid literals, no shuffle, same
    expression as :func:`ivf_topk`); (2) recompute centroids as the
    element-wise mean per cell — ``posexplode`` to (cell, dim_pos, value)
    rows and ONE groupBy, so the shuffle carries only n_cells × dim doubles
    of aggregated state (map-side combined). Only the K×dim centroid matrix
    ever reaches the driver. Seeds are the lowest-id vectors
    (deterministic); empty cells keep their previous centroid.
    """
    centroids = [
        (i, [float(x) for x in row["embedding"]])
        for i, row in enumerate(
            corpus.select("embedding", "vec_id")
            .orderBy("vec_id")
            .limit(n_cells)
            .collect()
        )
    ]
    for _ in range(iterations):
        assigned = corpus.withColumn(
            "__cell",
            F.array_max(_centroid_sims_expr(centroids))["cell_id"],
        ).select("__cell", F.posexplode(F.col("embedding")).alias("__pos", "__val"))
        means = (
            assigned.groupBy("__cell", "__pos")
            .agg(F.avg(F.col("__val").cast("double")).alias("__mean"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["__cell"], {})[r["__pos"]] = r["__mean"]
        centroids = [
            (
                cid,
                [by_cell[cid][p] for p in sorted(by_cell[cid])]
                if cid in by_cell
                else old,
            )
            for cid, old in centroids
        ]
    return centroids


def ivf_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    iterations: int = 3,
) -> DataFrame:
    """:func:`ivf_topk` with k-means-trained centroids instead of raw seeds —
    tighter cells, better recall at the same ``n_probe``. The training is the
    iterative-algorithm path (driver loop over lazy jobs); search is
    identical to the untrained variant."""
    centroids = kmeans_centroids(
        corpus, n_cells=n_cells, iterations=iterations
    )
    assigned = corpus.withColumn(
        "__cell", F.array_max(_centroid_sims_expr(centroids))["cell_id"]
    )
    probes = F.slice(
        F.reverse(F.array_sort(_centroid_sims_expr(centroids))),
        1,
        n_probe,
    )
    q_probed = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.explode(probes).alias("__probe"),
    ).select("query_id", "__qvec", F.col("__probe.cell_id").alias("__cell"))
    cands = assigned.join(F.broadcast(q_probed), on="__cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        _round6_cosine("__qvec", "embedding").alias("cosine_sim"),
    ).dropDuplicates(["query_id", "vec_id"])
    scored = _partition_topk(scored, k, "query_id", "cosine_sim", "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 12,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane sign buckets.

    Scale shape (mirrors ``minhash_near_duplicates``): ONLY (id, sig) pairs
    shuffle for the bucket self-join — raw vectors never move on the
    candidate path; they are fetched back by a semi-join on candidate ids for
    the exact cosine verification. Buckets larger than
    :data:`_MAX_BUCKET_SIZE` are dropped with the standard LSH justification: a quadratic blow-up
    inside one sign bucket means ``num_planes`` is too low for the corpus's
    density — re-run with more planes rather than letting one hot bucket
    dominate the stage (the cap is a guard rail, not a tuning knob; it is far
    above any healthy bucket size). Output: (id_a, id_b, cosine_sim).
    """
    sig = df.select(
        F.col("vec_id").alias("id"),
        hyperplane_signature(F.col("embedding"), dim, num_planes).alias("__sig"),
    )
    bucket_sizes = sig.groupBy("__sig").agg(F.count(F.lit(1)).alias("__bn"))
    sig = sig.join(
        F.broadcast(bucket_sizes.filter(F.col("__bn") <= _MAX_BUCKET_SIZE)),
        on="__sig",
        how="left_semi",
    )
    a = sig.withColumnsRenamed({"id": "id_a"})
    b = sig.withColumnsRenamed({"id": "id_b"})
    # r10: no dropDuplicates — each id carries exactly ONE signature (a
    # single hyperplane sign vector, unlike banded MinHash), so the
    # bucket equi-join emits every (id_a, id_b) pair at most once by
    # construction; the old dedup was a full exchange+aggregate no-op
    # (guide §2.4: "a distinct on data that is already unique").
    # persist: the candidate pair list is referenced FIVE times per action
    # (the verify join below, plus twice via each side's cand_ids
    # semi-join) and the subtrees never canonicalize equal — without the
    # cache the signature self-join ran up to 5x. (id, id) longs only;
    # evictable MEMORY_AND_DISK, cleared by callers via clearCache().
    cand = (
        a.join(b, on="__sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .persist()
    )
    # No .distinct() either: the left_semi join below dedups by itself
    # (build side is hashed into a set; duplicate probe keys can't
    # multiply rows), so the exchange the distinct cost bought nothing.
    cand_ids = cand.select(F.col("id_a").alias("id")).union(
        cand.select("id_b")
    )
    vecs = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("__vec")
    ).join(cand_ids, "id", "left_semi")
    return (
        cand.join(vecs.withColumnsRenamed({"id": "id_a", "__vec": "vec_a"}), "id_a")
        .join(vecs.withColumnsRenamed({"id": "id_b", "__vec": "vec_b"}), "id_b")
        .withColumn("cosine_sim", _round6_cosine("vec_a", "vec_b"))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def corpus_dim_ranges(df: DataFrame, dim: int) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — ONE aggregate whose
    shuffle carries dim×2 doubles of combined state (posexplode + groupBy
    position, map-side combined); only the 2×dim range vectors reach the
    driver (kilobytes, like the IVF centroids)."""
    rows = (
        df.select(F.posexplode(F.col("embedding")).alias("__pos", "__val"))
        .groupBy("__pos")
        .agg(
            F.min(F.col("__val").cast("double")).alias("__mn"),
            F.max(F.col("__val").cast("double")).alias("__mx"),
        )
        .collect()
    )
    mins = [0.0] * dim
    maxs = [0.0] * dim
    for r in rows:
        mins[r["__pos"]] = r["__mn"]
        maxs[r["__pos"]] = r["__mx"]
    return mins, maxs


def scalar_quantize(df: DataFrame, dim: int) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column — the
    memory side of the ANN scale path (int8 codes are 4-8x smaller than
    float32/64 vectors, which at 100 TB decides whether the candidate set
    fits executor memory).

    ``code_i = round((x_i - min_i) / (max_i - min_i) · 255)`` (8-bit codes;
    0 where the dimension is constant). The (min, max) range vectors
    (:func:`corpus_dim_ranges`) are driver-collected kilobytes baked into the plan as literals, so encoding
    is a NARROW map — no shuffle, no model table join. Output:
    (vec_id, codes array<int>).
    """
    levels = 255
    mins, maxs = corpus_dim_ranges(df, dim)
    mins_arr = F.array(*[F.lit(float(m)) for m in mins])
    spans_arr = F.array(
        *[F.lit(float(mx - mn) if mx > mn else 1.0) for mn, mx in zip(mins, maxs)]
    )
    codes = F.expr(
        "zip_with(embedding, zip_with(__mins, __spans, (mn, sp) -> struct(mn, sp)), "
        f"(x, r) -> cast(round((cast(x as double) - r.mn) / r.sp * {levels}, 0) as int))"
    )
    return (
        df.withColumn("__mins", mins_arr)
        .withColumn("__spans", spans_arr)
        .select(F.col("vec_id"), codes.alias("codes"))
    )


def pq_seed_codebooks(
    df: DataFrame, dim: int, m: int = 8, k: int = 16
) -> list[list[list[float]]]:
    """Seeded product-quantization codebooks: subvector j's codebook is the
    j-th subvector of the k lowest-id corpus vectors (deterministic — the
    same seeding rule as :func:`ivf_topk`; a production build Lloyd-refines
    each codebook with :func:`kmeans_centroids` over the subvector slices,
    identical plan shape). Driver-collected kilobytes: m·k·(dim/m) doubles.
    Returns codebooks[j][c] = centroid vector (length dim/m)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    rows = df.select("embedding", "vec_id").orderBy("vec_id").limit(k).collect()
    return [
        [[float(x) for x in row["embedding"][j * d : (j + 1) * d]] for row in rows]
        for j in range(m)
    ]


def _pq_codes_expr(
    vec_col: str, codebooks: list[list[list[float]]]
) -> Column:
    """codes[j] = argmin_c ||subvec_j - codebook[j][c]||² as ONE parsed
    expression (the hyperplane-matrix trick: literal nested arrays inside a
    single F.expr, not thousands of py4j Column objects). Ties break on the
    lower centroid index — array_min over (dist, c) structs."""
    d = len(codebooks[0][0])
    subs = []
    for j, book in enumerate(codebooks):
        cents = ",".join(
            "named_struct('d2', aggregate(zip_with("
            f"slice({vec_col}, {j * d + 1}, {d}), "
            "array(" + ",".join(f"{x!r}D" for x in cv) + "), "
            "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
            f"0.0D, (a, b) -> a + b), 'c', {c})"
            for c, cv in enumerate(book)
        )
        subs.append(f"array_min(array({cents})).c")
    return F.expr("array(" + ",".join(f"cast({s} as int)" for s in subs) + ")")


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Product-quantize vectors to m centroid indices — with k=16 codebooks
    that is m·4 bits per vector (16-64x smaller than float32), the standard
    billion-scale ANN memory layout. Codebooks are plan literals, so
    encoding is a NARROW map: no shuffle, no model join. Output:
    (vec_id, codes array<int>)."""
    return df.select(
        F.col("vec_id"), _pq_codes_expr("embedding", codebooks).alias("codes")
    )


def l2_normalize(df: DataFrame, out_col: str | None = None) -> DataFrame:
    """Unit-normalize an embedding column (the standard step before cosine
    ANN indexing — dot product on unit vectors IS cosine, so the index math
    gets cheaper). Narrow, pure JVM expressions; zero vectors map to zero
    vectors (not NaN). The fold order is the same deterministic sequential
    left fold as :func:`cosine_sql`, so results are oracle-comparable."""
    out = out_col or "embedding"
    vec = F.col("embedding")
    nrm = _norm(vec)
    normalized = F.when(
        nrm > 0, F.transform(vec, lambda x: x.cast("double") / nrm)
    ).otherwise(F.transform(vec, lambda x: F.lit(0.0)))
    return df.withColumn(out, normalized)


def mean_pool(df: DataFrame, group_col: str, sums_col: str | None = None) -> DataFrame:
    """Mean-pool vectors per group (chunk embeddings → document embedding).

    Plan: posexplode → groupBy(group, position) (ONE shuffle of
    (group, pos, value) triples, map-side combined) → re-assemble ordered
    arrays. Never collects vectors, never relies on Python; group
    cardinality bounds the output size.

    Accumulation is DECIMAL, not double: double partial sums merge in
    shuffle-fetch order, which is nondeterministic — decimal addition is
    exact, so results are bit-stable under any partitioning. The mean array
    divides that exact sum once at the end; ``sums_col`` additionally emits
    the per-position sums decimal-rounded to 6 dp (rounding in the DECIMAL
    domain is exact and engine-portable — rounding a double is not, the two
    differ by 1 ulp near .5 boundaries).
    Output: (group_col, n_vectors, pooled[, sums_col])."""
    exploded = df.select(
        F.col(group_col), F.posexplode("embedding").alias("__pos", "__v")
    ).select(
        group_col,
        "__pos",
        # widen float→double BEFORE the decimal cast: Spark's float→decimal
        # goes through the FLOAT's shortest string repr (~9 digits, ~5e-10
        # error per element); double→decimal keeps 17
        F.col("__v").cast("double").cast("decimal(28,12)").alias("__v"),
    )
    per_pos = exploded.groupBy(group_col, "__pos").agg(
        (F.sum("__v").cast("double") / F.count(F.lit(1))).alias("__mean"),
        F.round(F.sum("__v"), 6).cast("double").alias("__sum6"),
        F.count(F.lit(1)).alias("__n"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("__pos"), F.col("__mean"), F.col("__sum6")))
    )
    aggs = [
        F.max("__n").alias("n_vectors"),
        F.transform(ordered, lambda s: s["__mean"]).alias("pooled"),
    ]
    if sums_col:
        aggs.append(F.transform(ordered, lambda s: s["__sum6"]).alias(sums_col))
    return per_pos.groupBy(group_col).agg(*aggs)


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    iterations: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means cells as the candidate
    generator (Abbas et al. 2023, "SemDeDup" — cluster the embedding space,
    compare only within clusters) instead of LSH sign buckets.

    Complements :func:`embedding_near_duplicates`: LSH buckets are cheap and
    stateless but probabilistic per-pair; k-means cells adapt to the corpus
    density, so semantically-clustered near-dups (paraphrases, boilerplate
    families) land in one cell by construction. Cosine is scale-invariant, so
    a vector and any positive scaling of it share a cell deterministically.

    Scale shape (same rules as the LSH path):
    - centroid training shuffles only K×dim aggregated state per round
      (:func:`kmeans_centroids`);
    - cell assignment is a NARROW map (argmax over broadcast centroid
      literals — no shuffle, no window);
    - ONLY (id, cell) pairs shuffle for the within-cell self-join; raw
      vectors are fetched back by semi-join on candidate ids;
    - cells larger than :data:`_MAX_CELL_SIZE` are dropped with the standard
      guard-rail justification: a quadratic blow-up inside one cell means
      ``n_cells`` is too low for the corpus — raise K rather than letting
      one hot cell dominate the stage.

    Output: (id_a, id_b, cosine_sim) with id_a < id_b, cosine_sim >= threshold.
    """
    centroids = kmeans_centroids(
        df, n_cells=n_cells, iterations=iterations
    )
    # TRUNCATE lineage here: ``assigned`` is (id, cell) longs, but its plan
    # nests the full argmax-over-centroid-literals expression over the
    # corpus, and it feeds FOUR downstream branches (sizes, both self-join
    # sides, candidate-id union) — without truncation each branch re-scans
    # the corpus and re-runs the centroid expression (measured 20.4s → the
    # whole query re-deriving assignment per branch at sf0.01).
    assigned = df.select(
        F.col("vec_id").alias("id"),
        F.array_max(_centroid_sims_expr(centroids))["cell_id"].alias(
            "__cell"
        ),
    ).localCheckpoint(eager=False)
    cell_sizes = assigned.groupBy("__cell").agg(F.count(F.lit(1)).alias("__cn"))
    assigned = assigned.join(
        F.broadcast(cell_sizes.filter(F.col("__cn") <= _MAX_CELL_SIZE)),
        on="__cell",
        how="left_semi",
    )
    a = assigned.withColumnsRenamed({"id": "id_a"})
    b = assigned.withColumnsRenamed({"id": "id_b"})
    cand = (
        a.join(b, on="__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)  # reused 3×: verify join + id union ×2
    )
    cand_ids = cand.select(F.col("id_a").alias("id")).union(
        cand.select("id_b")
    ).distinct()
    vecs = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("__vec")
    ).join(cand_ids, "id", "left_semi")
    return (
        cand.join(vecs.withColumnsRenamed({"id": "id_a", "__vec": "vec_a"}), "id_a")
        .join(vecs.withColumnsRenamed({"id": "id_b", "__vec": "vec_b"}), "id_b")
        .withColumn("cosine_sim", _round6_cosine("vec_a", "vec_b"))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def random_projection(df: DataFrame, dim_out: int) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each vector
    through a DETERMINISTIC ±1 matrix (sign from a fixed quadratic-parity
    formula — no stored model, any engine/rebuild derives the identical
    matrix, the same portability rule as the LSH hyperplanes) and scale by
    1/√dim_out. JL preserves pairwise distances within (1±ε), which is why
    it's the standard pre-ANN shrink for fat embeddings.

    Entirely NARROW — one sequential fold per output lane, fold order fixed
    by the input index so the double result is reduction-order
    deterministic (the oracle replays the identical fold). Output is
    exploded to (id, pos, value) rows — hashable scalars, and the long/thin
    shape the quantizers downstream consume.
    """
    import math

    inv = 1.0 / math.sqrt(dim_out)
    vec = F.col("embedding")

    def lane(j: int):
        # sign(i, j) = parity of (i·131 + j·137 + 13)² mod 1000003 —
        # integer arithmetic any engine replays. The quadratic mix matters:
        # a LINEAR form's parity is just (i + j) mod 2, which makes every
        # lane ±the same alternating vector and projects constant vectors
        # to ZERO (caught by the norm-preservation test).
        def signed(x, i):
            y = i * 131 + F.lit(j * 137 + 13)
            return x.cast("double") * (
                F.lit(1) - F.lit(2) * (((y * y) % 1_000_003) % 2)
            )

        return F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                signed,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) * F.lit(inv)

    lanes = F.array(*[F.round(lane(j), 6) for j in range(dim_out)])
    return df.select(
        F.col("vec_id").alias("id"),
        F.posexplode(lanes).alias("pos", "value"),
    )


def item_cooccurrence_similarity(interactions: DataFrame, top_n: int = 100) -> DataFrame:
    """Item-item collaborative-filtering similarity from an interaction
    log: cosine over binary user vectors, which reduces to
    ``c_ij / √(c_i·c_j)`` with c_ij = users who touched both items — the
    classic co-occurrence recommender ("users who bought X also bought Y").

    Plan: interactions dedup to DISTINCT (user, item) (map-side combined);
    pairs are generated PER USER by a self-join on the user key, so the
    fan-out is Σ_user items_u² — bounded by :data:`_MAX_USER_ITEMS` (users over
    the cap are dropped with a narrow pre-filter; a user touching
    everything contributes no signal and quadratic rows — the hot-bucket
    cap rule from the LSH tiers). Item totals broadcast back; the top-N is
    a TakeOrderedAndProject heap.

    Output: (item_a, item_b, n_both, cosine) — top_n by (n_both desc,
    item_a, item_b), item_a < item_b.
    """
    ui = interactions.select(
        F.col("user_id").alias("u"), F.col("item_id").alias("i")
    ).distinct()
    per_user = ui.groupBy("u").agg(F.count(F.lit(1)).alias("nu"))
    ui = ui.join(
        F.broadcast(per_user.filter(F.col("nu") <= _MAX_USER_ITEMS)),
        on="u",
        how="left_semi",
    )
    item_counts = ui.groupBy("i").agg(F.count(F.lit(1)).alias("ci"))
    a = ui.select("u", F.col("i").alias("item_a"))
    b = ui.select("u", F.col("i").alias("item_b"))
    pairs = (
        a.join(b, on="u")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = item_counts.withColumnsRenamed({"i": "item_a", "ci": "ca"})
    cb = item_counts.withColumnsRenamed({"i": "item_b", "ci": "cb"})
    return (
        pairs.join(F.broadcast(ca), on="item_a")
        .join(F.broadcast(cb), on="item_b")
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.round(
                F.col("n_both")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("n_both"), "item_a", "item_b")
        .limit(top_n)
    )


def association_rules(
    interactions: DataFrame, min_pair_support: int = 2, top_n: int = 100
) -> DataFrame:
    """Market-basket association rules a→b from the same co-occurrence
    counts as :func:`item_cooccurrence_similarity`: support = c_ab,
    confidence = c_ab/c_a, lift = (c_ab·N)/(c_a·c_b) with N = basket
    (user) count. DIRECTED rules: each unordered pair yields both a→b and
    b→a (confidence differs).

    Same plan skeleton as item CF (per-user pair fan-out capped, broadcast
    item totals + one-row N); the ``min_pair_support`` filter prunes the
    rule set before the ranking heap. Output: (antecedent, consequent,
    support, confidence, lift) — top_n by (support desc, antecedent,
    consequent).
    """
    ui = interactions.select(
        F.col("user_id").alias("u"), F.col("item_id").alias("i")
    ).distinct()
    per_user = ui.groupBy("u").agg(F.count(F.lit(1)).alias("nu"))
    ui = ui.join(
        F.broadcast(per_user.filter(F.col("nu") <= 1000)),
        on="u",
        how="left_semi",
    )
    n_users = ui.select("u").distinct().agg(
        F.count(F.lit(1)).alias("nb")
    )
    item_counts = ui.groupBy("i").agg(F.count(F.lit(1)).alias("ci"))
    a = ui.select("u", F.col("i").alias("x"))
    b = ui.select("u", F.col("i").alias("y"))
    pairs = (
        a.join(b, on="u")
        .filter(F.col("x") != F.col("y"))
        .groupBy(
            F.col("x").alias("antecedent"), F.col("y").alias("consequent")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_pair_support)
    )
    ca = item_counts.withColumnsRenamed({"i": "antecedent", "ci": "ca"})
    cb = item_counts.withColumnsRenamed({"i": "consequent", "ci": "cb"})
    return (
        pairs.join(F.broadcast(ca), on="antecedent")
        .join(F.broadcast(cb), on="consequent")
        .crossJoin(F.broadcast(n_users))
        .select(
            "antecedent",
            "consequent",
            "support",
            F.round(
                F.col("support") / F.col("ca").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (F.col("support") * F.col("nb"))
                / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "antecedent", "consequent")
        .limit(top_n)
    )


def covariance_matrix(df: DataFrame, dims: int = 8) -> DataFrame:
    """Exact covariance matrix of the first ``dims`` embedding
    coordinates in ONE aggregate pass — the PCA front half: every moment
    (Σxᵢ, Σxᵢxⱼ) is a DECIMAL-lane sum (inputs quantized to
    DECIMAL(18,9), products DECIMAL(37,18) — exact in any engine), so
    the matrix replays bit-identically however the corpus is
    partitioned. No explode: the dims·(dims+3)/2 sums ride one
    map-side-combined aggregate, KB-sized however big the corpus.

    cov(i,j) = (Sᵢⱼ − Sᵢ·Sⱼ/n) / (n−1), computed in doubles FROM the
    exact sums (the grouped_linear_fit discipline).

    Output: (i, j, n, cov 9dp) for i ≤ j, ordered.
    """
    # r10 (guide §1 fixed costs): two changes, results bit-identical.
    # (a) quantize each coordinate ONCE in a narrow projection instead of
    # inlining element_at+double+decimal casts into every product — the
    # dims·(dims+1)/2 product expressions then reference plain columns,
    # shrinking the aggregate's expression tree ~5x (analysis + codegen)
    # and cutting per-row work from ~2·dims² element_at/cast evaluations
    # to dims. (b) build the expressions as SQL strings (one JVM parse
    # per expression) instead of ~600 chained Column DSL calls — every
    # DSL operator is a py4j round trip, and constructing this frame
    # alone measured ~1.4 s of pure driver time, independent of scale.
    quant = df.selectExpr(
        *[
            f"CAST(CAST(element_at(embedding, {i + 1}) AS double)"
            f" AS decimal(18,9)) AS x_{i}"
            for i in range(dims)
        ]
    )
    aggs = [F.expr("count(1) AS n")]
    for i in range(dims):
        aggs.append(F.expr(f"sum(x_{i}) AS s_{i}"))
    for i in range(dims):
        for j in range(i, dims):
            aggs.append(F.expr(f"sum(x_{i} * x_{j}) AS s_{i}_{j}"))
    wide = quant.agg(*aggs)
    structs = []
    for i in range(dims):
        for j in range(i, dims):
            structs.append(
                f"struct({i} AS i, {j} AS j, n, "
                f"round((CAST(s_{i}_{j} AS double)"
                f" - CAST(s_{i} AS double) * CAST(s_{j} AS double)"
                f" / CAST(n AS double))"
                f" / (CAST(n AS double) - CAST(1.0 AS double)), 9) AS cov)"
            )
    return (
        wide.selectExpr(f"explode(array({', '.join(structs)})) AS c")
        .select("c.*")
        .orderBy("i", "j")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbours — the billion-scale ANN
    memory layout (Jégou et al. 2011): IVF coarse cells bound WHICH
    vectors are scored, product-quantization codes bound WHAT is stored,
    and ADC (asymmetric distance computation) scores query-vs-codes
    without ever touching the original corpus vectors.

    Composition of this package's primitives: seeded IVF centroids
    (:func:`ivf_topk`'s rule) + seeded PQ codebooks
    (:func:`pq_seed_codebooks`) — both literal plan constants, so the
    corpus pass (cell assignment + PQ encode) is ONE narrow map emitting
    (id, cell, codes): m small ints per vector instead of dim floats.
    That projection is the whole point at 100 TB — the shuffled/joined
    state is 16-64x smaller than the raw vectors, and raw vectors are
    never needed again (no fetch-back join; contrast
    :func:`embedding_near_dup`).

    ADC: dist²(q, x) ≈ sum_j ||q_sub_j − codebook_j[codes_j]||², computed
    per subspace and combined by an EXPLICIT left-to-right chain
    (((0 + d₀) + d₁) …) so the double result replays in any engine that
    writes the same fold. Candidates come from the n_probe nearest cells
    (broadcast of the exploded query probes); top-k per query by
    (adc_d2 asc, id asc).

    Execution: the corpus pass (cell argmax + PQ-encode argmins) and the
    ADC scorer run as Arrow-batched ``mapInPandas`` stages, NOT as literal
    Catalyst expressions — the m·kc·(dim/m) codebook doubles embedded in a
    SQL string made expression parse + codegen the dominant cost (~25s of
    a 30s wall at sf0.1, constant in data size), which a 100 TB run
    amortizes but a bench rep pays in full. The numpy kernels replay the
    contract folds ACCUMULATION-BY-ACCUMULATION (explicit per-element
    loops, never ``np.sum``'s pairwise summation), so every double —
    cosine cell similarity, PQ d², ADC d² — is bit-identical to the
    Catalyst/DuckDB fold and the oracle still hash-matches. Tie-breaks
    replicated: cell argmax takes the LARGER cell on equal sim (struct
    array_max), PQ argmin the SMALLER code on equal d² (struct array_min).

    Quantization granularity, not recall loss, is the trade: exact-twin
    queries always probe their own cell and rank their original by its
    quantization error. Output: (query_id, id, adc_d2 6dp, rank).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as ST

    # 16 coarse cells, 4 probed; 8 PQ subspaces of 16 codes each
    n_cells, n_probe, m, kc = 16, 4, 8, 16
    first = corpus.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"])
    d = dim // m
    centroids = [
        (i, [float(x) for x in row["embedding"]])
        for i, row in enumerate(
            corpus.select("embedding", "vec_id")
            .orderBy("vec_id")
            .limit(n_cells)
            .collect()
        )
    ]
    books = pq_seed_codebooks(corpus, dim, m=m, k=kc)

    cent_norms = []
    for _, cv in centroids:
        acc = 0.0
        for v in cv:
            acc = acc + v * v
        cent_norms.append(math.sqrt(acc))

    id_type = corpus.schema["vec_id"].dataType
    assigned_schema = ST.StructType(
        [
            ST.StructField("vec_id", id_type),
            ST.StructField("__cell", ST.IntegerType()),
            ST.StructField("__codes", ST.ArrayType(ST.IntegerType())),
        ]
    )

    def _stack(col: pd.Series) -> "np.ndarray":
        return np.stack([np.asarray(v, dtype=np.float64) for v in col])

    def assign_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = _stack(pdf["embedding"])
            n = x.shape[0]
            # ||x|| via the contract fold: acc = ((0 + x0²) + x1²) ...
            acc = np.zeros(n)
            for i in range(dim):
                acc = acc + x[:, i] * x[:, i]
            norm_x = np.sqrt(acc)
            best_sim = np.full(n, -np.inf)
            best_cell = np.zeros(n, dtype=np.int32)
            for cid, cv in centroids:
                dot = np.zeros(n)
                for i in range(dim):
                    dot = dot + x[:, i] * cv[i]
                sim = dot / (norm_x * cent_norms[cid])
                upd = sim >= best_sim  # ties → larger cid (ascending scan)
                best_sim[upd] = sim[upd]
                best_cell[upd] = cid
            codes = np.zeros((n, m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * d : (j + 1) * d]
                best_d2 = np.full(n, np.inf)
                for c, cv in enumerate(books[j]):
                    d2 = np.zeros(n)
                    for i in range(d):
                        diff = xs[:, i] - cv[i]
                        d2 = d2 + diff * diff
                    upd = d2 < best_d2  # ties → smaller c (strict <)
                    best_d2[upd] = d2[upd]
                    codes[upd, j] = c
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "__cell": best_cell,
                    "__codes": list(codes),
                }
            )

    assigned = corpus.select("vec_id", "embedding").mapInPandas(
        assign_encode, schema=assigned_schema
    )

    probes = F.slice(
        F.reverse(F.array_sort(_centroid_sims_expr(centroids))),
        1,
        n_probe,
    )
    q_probed = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.explode(probes).alias("__probe"),
    ).select("query_id", "__qvec", F.col("__probe.cell_id").alias("__cell"))

    qid_type = queries.schema["vec_id"].dataType
    scored_schema = ST.StructType(
        [
            ST.StructField("query_id", qid_type),
            ST.StructField("vec_id", id_type),
            ST.StructField("__d2", ST.DoubleType()),
        ]
    )

    def adc_tab(qvec: "np.ndarray") -> "np.ndarray":
        # tab[j, c] = ((0 + (q0-c0)²) + (q1-c1)²) ... — scalar left fold
        tab = np.empty((m, kc))
        for j in range(m):
            qs = qvec[j * d : (j + 1) * d]
            for c, cv in enumerate(books[j]):
                acc = 0.0
                for i in range(d):
                    diff = float(qs[i]) - cv[i]
                    acc = acc + diff * diff
                tab[j, c] = acc
        return tab

    def adc_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tabs: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            qids = pdf["query_id"].values
            for qid, qvec in zip(qids, pdf["__qvec"]):
                if qid not in tabs:
                    tabs[qid] = adc_tab(np.asarray(qvec, dtype=np.float64))
            uq, inv = np.unique(qids, return_inverse=True)
            tab3 = np.stack([tabs[q] for q in uq])
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["__codes"]]
            )
            # total = (((0 + s0) + s1) + …) — the contract chain over j
            acc = np.zeros(len(pdf))
            for j in range(m):
                acc = acc + tab3[inv, j, codes[:, j]]
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "vec_id": pdf["vec_id"].values,
                    "__d2": acc,
                }
            )

    cands = assigned.join(F.broadcast(q_probed), on="__cell").mapInPandas(
        adc_score, schema=scored_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d2").asc(), F.col("vec_id").asc()
    )
    return (
        cands.dropDuplicates(["query_id", "vec_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("__d2"), 6).alias("adc_d2"),
            "rank",
        )
    )


def grid_dbscan(df: DataFrame, eps: float = 0.05, min_pts: int = 4) -> DataFrame:
    """Grid-density clustering (GriDBSCAN / DBSCAN's standard cell
    approximation) over two embedding coordinates: points land in
    eps-sized grid cells, cells holding >= ``min_pts`` points are DENSE,
    touching dense cells (8-neighborhood) merge into one cluster, and
    points in sparse cells attach to an adjacent dense cell's cluster as
    BORDER points or stay NOISE. Density clustering without pairwise
    distances — the shape that survives 100 TB where true eps-ball DBSCAN
    (a distance self-join) cannot.

    Scale design: the only corpus-sized step is ONE narrow cell
    assignment + ONE map-side-combined groupBy(cell).count(); everything
    after runs on the CELL graph (|dense cells| rows, orders of magnitude
    smaller — the semantic-dedup cell trick). Cluster merging reuses
    :func:`~iatlas_cbioportal_export_spark.operators.graph.
    connected_components_star` (O(log²n) rounds — dense-cell ridges are
    long chains, so diameter-bound min-label does not survive scale-up)
    over the 8-neighbor edges; cluster ids are the component's minimum
    encoded cell id, so
    labels are deterministic and engine-replayable (the oracle replays
    the closure as a recursive CTE). Border attachment takes the MIN
    cluster id among adjacent dense cells (deterministic tie-break).

    Cell-granular semantics (documented approximation): core = "point in
    a dense cell" rather than "eps-ball holds min_pts"; cells are
    eps-sized so every true eps-core point is within one cell of its
    neighbors. Exact DBSCAN verification per candidate cluster is the
    refinement step at small scale.

    Output: (id, cell_x, cell_y, role core|border|noise, cluster_id
    nullable long).
    """
    from iatlas_cbioportal_export_spark.operators.graph import (
        connected_components_star,
    )

    e = F.lit(float(eps))
    pts = df.select(
        F.col("vec_id").alias("id"),
        F.floor(F.element_at("embedding", 1).cast("double") / e).alias("cx"),
        F.floor(F.element_at("embedding", 2).cast("double") / e).alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    cid = (F.col("cx") * 100_000 + F.col("cy")).alias("cid")
    # r10 (guide §5 caching / §1.2 remove passes): `dense` anchors FOUR
    # downstream subtrees (both sides of the neighbor-edge join, the
    # labeling left-join, and — via dense_lbl — the core join, the sparse
    # anti-join and the border attach), and each re-ran the corpus-sized
    # groupBy(cell) aggregate. Persist the dense-cell frame once: it is
    # CELL-bounded (|dense cells| rows of three longs — orders of
    # magnitude below the corpus), evictable MEMORY_AND_DISK.
    dense = (
        cells.filter(F.col("n") >= F.lit(int(min_pts)))
        .select("cx", "cy", cid)
        .persist()
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    off = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dx).cast("long").alias("dx"),
                    F.lit(dy).cast("long").alias("dy"),
                )
                for dx, dy in offsets
                if (dx, dy) != (0, 0)
            ]
        )
    ).alias("o")
    a = dense.select("cx", "cy", "cid", off).select(
        F.col("cid").alias("src"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    b = dense.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"),
        F.col("cid").alias("dst"),
    )
    edges = a.join(b, on=["nx", "ny"]).select("src", "dst")
    # star variant, NOT min-label: dense-cell ridges are long CHAINS of
    # touching cells (diameter grows with data), and min-label needs
    # diameter rounds — the 10x scale-cliff probe blew its round budget;
    # large/small-star converges in O(log^2 n) rounds regardless
    comp = connected_components_star(edges, "src", "dst")
    # isolated dense cells are their own cluster
    # Persisted for the same reason as `dense`: three consumers (core
    # join, sparse anti-join, border attach) would each re-run the
    # labeling join. Cell-bounded, evictable.
    dense_lbl = (
        dense.join(comp, dense["cid"] == comp["id"], "left")
        .select(
            "cx", "cy", "cid",
            F.coalesce(F.col("component_id"), F.col("cid")).alias("cluster"),
        )
        .persist()
    )
    core = pts.join(dense_lbl, on=["cx", "cy"]).select(
        "id", "cx", "cy", F.lit("core").alias("role"), F.col("cluster")
    )
    sparse_pts = pts.join(dense_lbl.select("cx", "cy"), ["cx", "cy"], "left_anti")
    nbr = dense_lbl.select("cx", "cy", "cluster").alias("d")
    attach = None
    sp = sparse_pts.select("id", "cx", "cy", off).select(
        "id", "cx", "cy",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    attach = (
        sp.join(
            nbr.select(
                F.col("cx").alias("nx"), F.col("cy").alias("ny"), "cluster"
            ),
            on=["nx", "ny"],
            how="left",
        )
        .groupBy("id", "cx", "cy")
        .agg(F.min("cluster").alias("cluster"))
    )
    border_noise = attach.select(
        "id", "cx", "cy",
        F.when(F.col("cluster").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
        "cluster",
    )
    return core.unionByName(border_noise)
