"""Deduplication operators for training-data pipelines (north star §7 ext).

Five tiers, cheapest first:
- exact (hash groupBy)               — one shuffle on a 64-byte digest
- exact keep-first (min id per text) — one shuffle, deterministic keeper
- n-gram Jaccard similarity join     — exact pairwise, bucketed to bound n²
- MinHash + LSH banded candidates    — the 100 TB near-dup path
- SimHash Hamming buckets            — bit-sketch alternative

Scale design: every operator shuffles on a SKETCH (digest / band hash /
simhash prefix), never on raw text; candidate verification joins only
bucket-mates. Raw-text columns are dropped before any shuffle so 100 TB of
text never moves — only ids + sketches do.

Sketch computation shape: explode shingles → hash once per (doc, shingle) →
ONE groupBy(doc) computing all K permutation-minima (minhash) or all 64 bit
votes (simhash) as parallel aggregate expressions. This is a single
map-side-combined shuffle per corpus — the alternative (nested array
transforms per document) re-evaluates the shingle array K times and blows up
the codegen'd expression tree (~60× slower, measured at sf0.1).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iatlas_cbioportal_export_spark.functions.text import (
    tokens,
    word_ngrams_of_tokens,
)


def _shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, [extra…], shingles) with the token array materialized in its own
    projection FIRST — tokenization runs once per document, not once per
    shingle (see ``word_ngrams_of_tokens``)."""
    extra = extra_cols or []
    return df.select(
        F.col(id_col).alias("id"), *extra, tokens(text_col).alias("__toks")
    ).select(
        "id",
        *extra,
        F.array_distinct(word_ngrams_of_tokens(F.col("__toks"), n)).alias(
            "shingles"
        ),
    )

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_keep_min(df: DataFrame) -> DataFrame:
    """Exact dedup keeping the smallest id per identical text.

    Groups on sha256(text) so the shuffle key is 64 bytes regardless of
    document size; ``min(id)`` is the deterministic keeper. Output: one row
    per distinct text: (keeper id, group size, digest).
    """
    return (
        df.select(
            F.col("doc_id"),
            F.sha2(F.col("text"), 256).alias("text_sha256"),
        )
        .groupBy("text_sha256")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Exact-duplicate groups only (n_copies > 1), with member ids."""
    return (
        df.select(F.col("doc_id"), F.sha2(F.col("text"), 256).alias("text_sha256"))
        .groupBy("text_sha256")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("member_ids"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Exact pairwise n-gram Jaccard (bucketed)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame, bucket_col: str | None = None, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact near-dup pairs by word n-gram Jaccard ≥ threshold.

    Plan: explode distinct shingles → self-join on shingle (co-occurrence
    counts per pair) → join per-doc shingle-set sizes → Jaccard =
    |∩| / (|A| + |B| - |∩|). ``bucket_col`` (e.g. language) additionally
    scopes the pair space. ``id_a < id_b`` halves the pair space.

    This is the exact verifier; at 100 TB run it only on LSH candidate pairs
    (:func:`minhash_near_duplicates`) — the shingle self-join is quadratic in
    per-shingle document frequency, so hot shingles are capped upstream by
    minhashing instead.
    Output: (id_a, id_b, n_common, n_a, n_b, jaccard).
    """
    bucket = [bucket_col] if bucket_col else []
    shingled = _shingle_sets(df, "text", "doc_id", n, extra_cols=bucket).select(
        "id", *bucket, F.explode("shingles").alias("shingle")
    )
    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    a = shingled.select(
        F.col("id").alias("id_a"), *[F.col(b).alias(f"{b}_a") for b in bucket], "shingle"
    )
    # one side's shingle is renamed so the condition names two columns (both
    # sides select from one frame: `a.shingle == b.shingle` is one column)
    b = shingled.select(
        F.col("id").alias("id_b"),
        *[F.col(b).alias(f"{b}_b") for b in bucket],
        F.col("shingle").alias("shingle_b"),
    )
    join_cond = [F.col("shingle") == F.col("shingle_b"), F.col("id_a") < F.col("id_b")]
    for bc in bucket:
        join_cond.append(F.col(f"{bc}_a") == F.col(f"{bc}_b"))
    common = (
        a.join(b, join_cond)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "set_size": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "set_size": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Affine permutations (a*h + b) mod p over the Mersenne prime 2^31-1.
# h < 2^31 and a < 2^31 keep every product < 2^62 — exact in long
# arithmetic, no decimal slow path. Constants come from a fixed xorshift
# stream so every run (and any re-implementation) derives the same sketch.
_MH_PRIME = (1 << 31) - 1


def _mh_params(num_hashes: int) -> list[tuple[int, int]]:
    rng_state = 0x9E3779B97F4A7C15
    params = []
    for _ in range(num_hashes):
        rng_state ^= (rng_state >> 12) & 0xFFFFFFFFFFFFFFFF
        rng_state ^= (rng_state << 25) & 0xFFFFFFFFFFFFFFFF
        rng_state ^= (rng_state >> 27) & 0xFFFFFFFFFFFFFFFF
        a = (rng_state * 0x2545F4914F6CDD1D) % (_MH_PRIME - 1) + 1
        rng_state ^= (rng_state >> 33) & 0xFFFFFFFFFFFFFFFF
        b = (rng_state * 0x9E3779B97F4A7C15) % _MH_PRIME
        params.append((a, b))
    return params


def shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, h) rows: one 31-bit hash per distinct word n-gram per document.

    Documents with no tokens produce no rows (no shingles ⇒ excluded from
    near-dup candidacy by construction).
    """
    return (
        _shingle_sets(df, text_col, id_col, n)
        .select("id", F.explode("shingles").alias("shingle"))
        .select("id", F.pmod(F.xxhash64("shingle"), F.lit(_MH_PRIME)).alias("h"))
    )


def minhash_signatures(df: DataFrame, n: int = 3, num_hashes: int = 32) -> DataFrame:
    """MinHash signatures as columns mh0..mh{K-1}: ONE groupBy(id) with K
    parallel ``min((a_i*h + b_i) % p)`` aggregates — single shuffle,
    map-side combined."""
    hashes = shingle_hashes(df, "text", "doc_id", n)
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_mh_params(num_hashes))
    ]
    return hashes.groupBy("id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame, n: int = 3, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH banded candidate pairs: signature → ``bands`` bands of
    ``num_hashes/bands`` rows → band-hash buckets → self-join bucket-mates.

    Only (id, band_id, band_hash) tuples shuffle; a pair is a candidate if
    ANY band collides. Output: (id_a, id_b, n_bands_matched).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, n=n, num_hashes=num_hashes)
    band_structs = [
        F.struct(
            F.lit(band).alias("band_id"),
            F.xxhash64(
                *[F.col(f"mh{band * rows_per_band + j}") for j in range(rows_per_band)]
            ).alias("band_hash"),
        )
        for band in range(bands)
    ]
    # r10 (guide §5): the band self-join consumes `banded` on BOTH sides
    # and no ReusedExchange fires (the renamed subtrees canonicalize
    # apart), so the whole scan → shingle → 16-agg signature pipeline ran
    # twice. Persist the banded sketch once: (id, band_id, band_hash) —
    # bands longs per doc, the exact payload the docstring already budgets
    # for the shuffle. Evictable; callers clearCache().
    banded = (
        sig.select("id", F.explode(F.array(*band_structs)).alias("band"))
        .select("id", "band.band_id", "band.band_hash")
        .persist()
    )
    a = banded.withColumnsRenamed({"id": "id_a"})
    b = banded.withColumnsRenamed({"id": "id_b"})
    return (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def minhash_near_duplicates(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verification.

    Verification re-materializes shingle sets ONLY for candidate ids
    (semi-join pushdown), so the exact pass is linear in candidates, not
    quadratic in corpus. Output: (id_a, id_b, jaccard).
    """
    # r10 (guide §5 caching): the candidate pair list is referenced THREE
    # times per action (both cand_ids branches + the verify join) and the
    # shingle/signature/band-join lineage behind it would re-execute for
    # each — persist the (id_a, id_b, n_bands) longs once. Same for `sh`:
    # the semi-joined shingle sets feed both the id_a and id_b sides of
    # the verify join, and each side would otherwise re-tokenize the
    # corpus and re-run the semi-join. Both caches are candidate-bounded
    # (pairs + their shingle sets, never the corpus), evictable
    # MEMORY_AND_DISK, cleared by callers via clearCache().
    cands = minhash_lsh_candidates(
        df, n=n, num_hashes=num_hashes, bands=bands
    ).persist()
    shingled = _shingle_sets(df, "text", "doc_id", n)
    # No .distinct(): the left_semi join's build side dedups by itself
    # (build keys hash into a set; duplicates cannot multiply probe rows),
    # so the distinct's exchange bought nothing.
    cand_ids = cands.select(F.col("id_a").alias("id")).union(
        cands.select("id_b")
    )
    sh = shingled.join(cand_ids, "id", "left_semi").persist()
    pairs = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs.select("id_a", "id_b", "jaccard")


def minhash_cross_corpus_duplicates(
    batch: DataFrame, corpus: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Incremental dedup: flag documents in a NEW batch that near-duplicate
    an EXISTING corpus (the continuous-ingestion form of
    :func:`minhash_near_duplicates` — dedup BETWEEN datasets, not within).

    Same scale shape as the self-join variant, but the band join is
    batch × corpus instead of a self-join: only (id, band_id, band_hash)
    tuples shuffle; shingle sets come back by semi-join for candidate ids
    only. In steady state the corpus side's signatures would be a persisted
    index updated per batch, not recomputed — the plan is identical either
    way. Output: (batch_id, corpus_id, jaccard).
    """
    # 32 hashes of word 3-gram shingles, in 8 bands of 4 rows
    sig_b = minhash_signatures(batch)
    sig_c = minhash_signatures(corpus)
    rows_per_band = 4

    def banded(sig: DataFrame) -> DataFrame:
        structs = [
            F.struct(
                F.lit(band).alias("band_id"),
                F.xxhash64(
                    *[
                        F.col(f"mh{band * rows_per_band + j}")
                        for j in range(rows_per_band)
                    ]
                ).alias("band_hash"),
            )
            for band in range(8)
        ]
        return sig.select("id", F.explode(F.array(*structs)).alias("band")).select(
            "id", "band.band_id", "band.band_hash"
        )

    # r10: persist the candidate pairs — referenced three times (two
    # semi-join key branches + the verify join); the dropDuplicates here
    # is REQUIRED (a pair colliding in several bands must verify once).
    # The .distinct() on each semi-join key side is not (left_semi build
    # sides dedup by construction). Candidate-bounded cache, evictable,
    # cleared by callers via clearCache().
    cands = (
        banded(sig_b)
        .withColumnsRenamed({"id": "batch_id"})
        .join(
            banded(sig_c).withColumnsRenamed({"id": "corpus_id"}),
            on=["band_id", "band_hash"],
        )
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
        .persist()
    )
    sh_b = _shingle_sets(batch, "text", "doc_id", 3).join(
        cands.select(F.col("batch_id").alias("id")), "id", "left_semi"
    )
    sh_c = _shingle_sets(corpus, "text", "doc_id", 3).join(
        cands.select(F.col("corpus_id").alias("id")), "id", "left_semi"
    )
    return (
        cands.join(
            sh_b.withColumnsRenamed({"id": "batch_id", "shingles": "sh_b"}),
            "batch_id",
        )
        .join(
            sh_c.withColumnsRenamed({"id": "corpus_id", "shingles": "sh_c"}),
            "corpus_id",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_b", "sh_c")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_b") + F.size("sh_c") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", F.col("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_sketches(df: DataFrame) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over word 3-gram shingles.

    Same single-shuffle shape as minhash: explode shingle hashes once, then
    ONE groupBy(id) with 64 ``sum(±1)`` bit-vote aggregates; the sketch long
    is assembled from the votes with shift/add expressions.
    """
    hashes = (
        _shingle_sets(df, "text", "doc_id", 3)
        .select("id", F.explode("shingles").alias("shingle"))
        .select("id", F.xxhash64("shingle").alias("h64"))
    )
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h64"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    voted = hashes.groupBy("id").agg(*votes)
    sketch = F.lit(0).cast("long")
    for i in range(63):
        sketch = sketch + F.shiftleft(
            F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i
        )
    sketch = sketch + F.when(F.col("v63") > 0, F.lit(-(1 << 63))).otherwise(F.lit(0))
    return voted.select("id", sketch.alias("simhash"))


def simhash_buckets(
    df: DataFrame, prefix_bits: int = 16, max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dup candidates: bucket ``(id, sketch)`` rows on the top
    ``prefix_bits`` of the sketch, join bucket-mates, verify
    ``bit_count(xor) ≤ max_hamming``. Only (id, sketch) longs shuffle.
    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    bucketed = (
        simhash_sketches(df)
        .withColumnRenamed("simhash", "sketch")
        .withColumn("bucket", F.shiftrightunsigned("sketch", 64 - prefix_bits))
    )
    a = bucketed.withColumnsRenamed({"id": "id_a", "sketch": "sim_a"})
    b = bucketed.withColumnsRenamed({"id": "id_b", "sketch": "sim_b"})
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def keyed_keep_best(
    df: DataFrame, key_cols: Sequence[str], score_col: str
) -> DataFrame:
    """Keep the BEST-scoring row per key — the recrawl-dedup semantic (the
    same URL fetched repeatedly; keep the highest-quality capture), and the
    general "canonical representative by score" tier next to
    :func:`exact_dedup_keep_min`'s min-id rule.

    argmax is ONE map-side-combined aggregate: ``max(struct(score, -id))``
    orders by score then by SMALLEST id on ties — no window, no second pass,
    so the shuffle carries one (key, score, id) triple per input row and
    combines down to one per key per partition. Output: (*key_cols, id,
    score, n_copies)."""
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col("doc_id")).alias("nid")
        )
    )
    return (
        df.groupBy(*key_cols)
        .agg(best.alias("__b"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            *key_cols,
            (-F.col("__b.nid")).alias("doc_id"),
            F.col("__b.s").alias(score_col),
            "n_copies",
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (duplicated k-token windows across documents)
# ---------------------------------------------------------------------------


def duplicated_spans(df: DataFrame, k: int = 6) -> DataFrame:
    """Exact substring-level duplication signal: for every document, count
    the k-token sliding windows whose content also occurs in at least one
    OTHER document (the window-level analogue of suffix-array training-data
    dedup — Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"). Document-level dedup misses boilerplate: two distinct
    pages sharing a license header are unique docs but carry duplicated
    spans; this operator measures exactly that.

    Output: ``(id, n_windows, n_dup_windows, dup_window_fraction)`` — one
    row per input document (short docs with < k tokens get 0/0/0.0).

    Plan shape / scale: tokenization and per-token hashing are narrow; every
    k-token window is reduced to ONE bigint via a two-level portable fold
    (chars → token hash, token hashes → window hash, both Horner mod 1e9+7 —
    the fingerprint fold, so the DuckDB oracle replays it bit-for-bit).
    The only wide stages move (id, window_hash) PAIRS of longs:

      explode → groupBy(window_hash) countDistinct(id)   [shuffle 1]
      wins ⋈ dup_hashes on window_hash → groupBy(id)     [shuffle 2+3]

    Raw text never shuffles; the join keys are already hash-distributed so
    AQE coalesces the post-groupBy exchange. countDistinct gets map-side
    partial de-dup, so the shuffle carries at most one (hash, id) pair per
    partition per window content. Window-hash collisions (≈ n²/2e9 of the
    distinct-window count) can over-count one window pair; at collision-
    sensitive scale swap _FP_MOD for a 61-bit Mersenne modulus — the fold
    shape is unchanged.
    """
    from iatlas_cbioportal_export_spark.operators.sketch import _token_hash

    b2 = F.lit(1_000_003)
    mod = F.lit(1_000_000_007)
    toks = df.select(
        F.col("doc_id").alias("id"), tokens("text").alias("__toks")
    ).select(
        "id",
        F.size("__toks").alias("__n"),
        F.transform("__toks", _token_hash).alias("__th"),
    )
    per_doc = toks.select(
        "id",
        F.greatest(F.col("__n") - F.lit(k) + 1, F.lit(0)).alias("n_windows"),
        F.when(
            F.col("__n") >= k,
            F.transform(
                F.sequence(F.lit(0), F.col("__n") - F.lit(k)),
                lambda i: F.aggregate(
                    F.slice("__th", i + 1, F.lit(k)),
                    F.lit(0).cast("long"),
                    lambda acc, h: (acc * b2 + h) % mod,
                ),
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("__wh"),
    )
    wins = per_doc.select("id", F.explode("__wh").alias("wh"))
    dup_hashes = (
        wins.groupBy("wh")
        .agg(F.count_distinct("id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("wh")
    )
    per_doc_dup = (
        wins.join(dup_hashes, on="wh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        per_doc.select("id", "n_windows")
        .join(per_doc_dup, on="id", how="left")
        .select(
            "id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.round(
                    F.coalesce("n_dup_windows", F.lit(0))
                    / F.col("n_windows"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_window_fraction"),
        )
    )


def _jaccard_prefix_candidates(toks, t: float):
    """AllPairs/PPJoin candidate pairs over (id, ts) distinct-set rows —
    length, rarest-first prefix, and positional filters; see
    :func:`jaccard_prefix_join` for the completeness arguments."""
    t_num = int(round(t * 1_000_000))
    t_den = 1_000_000
    posting = toks.select(
        "id", F.size("ts").alias("n"), F.explode("ts").alias("tok")
    )
    df_tbl = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # prefix length depends on the row's own set size (row-dependent slice)
    pref_len = (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("int")
    prefixes = (
        posting.join(df_tbl, on="tok")
        .groupBy("id", "n")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("ordered")
        )
        .select(
            "id",
            "n",
            F.posexplode(
                F.slice(F.col("ordered.tok"), F.lit(1), pref_len)
            ).alias("pos", "tok"),  # pos: 0-based rarity rank
        )
        # r10: both self-join sides read this — persist so the
        # posting⋈df join + rarity sort + prefix slice run ONCE (the two
        # aliased subtrees never canonicalize equal; same fix as the
        # deletion scheme's posting, same cache-lifetime contract).
        .persist()
    )
    a = prefixes.select(
        F.col("id").alias("id_a"), F.col("n").alias("na"),
        F.col("pos").alias("pa"), "tok",
    )
    b = prefixes.select(
        F.col("id").alias("id_b"), F.col("n").alias("nb"),
        F.col("pos").alias("pb"), "tok",
    )
    # PPJoin overlap upper bound for a first-match at 0-based (pa, pb):
    # 1 + min(tokens after the match on each side).
    ubound = 1 + F.least(
        F.col("na") - F.col("pa") - 1, F.col("nb") - F.col("pb") - 1
    )
    alpha_ok = (
        ubound * F.lit(t_num + t_den)
        >= F.lit(t_num) * (F.col("na") + F.col("nb")) - F.lit(t_num + t_den)
    )
    return (
        a.join(b, on="tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") >= F.ceil(F.lit(t) * F.col("na")))
            & (F.col("na") >= F.ceil(F.lit(t) * F.col("nb")))
            & alpha_ok
        )
        .select("id_a", "id_b")
        .distinct()
    )


def _jaccard_deletion_candidates(toks, t: float):
    """Deletion-neighborhood candidate pairs over (id, ts) distinct-set
    rows, valid when every set's ka = n − ⌈t·n⌉ is ≤ 3 (caller gates).

    Each set emits signatures of itself and of every subset reachable by
    deleting up to ka elements (ka ≤ 3). A qualifying pair
    (J ≥ t ⇒ |a\\b| ≤ ka, |b\\a| ≤ kb) therefore shares the signature of
    a∩b. Signature blocks track near-identical-set density, not token
    frequency.

    The subset signature is the XOR of per-token xxhash64 values —
    order-independent and overflow-free (a 64-bit SUM trips ANSI-mode
    ARITHMETIC_OVERFLOW under the driver's plain session), so deleting
    elements is pure arithmetic: ``sig(S∖{i,j}) = total ⊕ hᵢ ⊕ hⱼ``. Each
    of the O(n^ka) signatures costs O(1) long XORs instead of
    materializing + re-hashing an O(n)-token subset array (the earlier
    concat/slice formulation measured ~40% of the whole join's wall time
    on 20-token sets: C(n,2) array builds × ~300 chars hashed each).
    Equal subsets still collide by construction; XOR collisions between
    DIFFERENT subsets can only add candidates, which exact verification
    removes — the same one-sided-error contract as every blocking hash
    here."""
    # hs/total are MATERIALIZED columns before any lambda references them —
    # referencing the raw expressions inside F.transform would re-inline
    # (and re-evaluate) the O(n) hash/sum subtree per element (the
    # measured O(n²) re-inlining trap; see cooccurrence_pmi history).
    toks = toks.select(
        "id",
        "ts",
        F.transform(F.col("ts"), lambda x: F.xxhash64(x)).alias("__hs"),
    ).select(
        "id",
        "ts",
        "__hs",
        F.aggregate(
            "__hs", F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x)
        ).alias("__htot"),
    )
    n = F.size("ts")
    ka = (n - F.ceil(F.lit(t) * n)).cast("int")
    empty = F.array().cast("array<bigint>")
    hs = F.col("__hs")
    total = F.col("__htot")
    sig0 = F.array(total)
    del1 = (
        F.when(
            (ka >= 1) & (n >= 1),
            F.transform(hs, lambda h: total.bitwiseXOR(h)),
        ).otherwise(empty)
    )
    del2 = (
        F.when(
            (ka >= 2) & (n >= 2),
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, n),
                        lambda j: total.bitwiseXOR(
                            F.element_at(hs, i)
                        ).bitwiseXOR(F.element_at(hs, j)),
                    ),
                )
            ),
        ).otherwise(empty)
    )
    del3 = (
        F.when(
            (ka >= 3) & (n >= 3),
            F.flatten(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), n - 2),
                        lambda i: F.transform(
                            F.sequence(i + 1, n - 1),
                            lambda j: F.transform(
                                F.sequence(j + 1, n),
                                lambda k: total.bitwiseXOR(
                                    F.element_at(hs, i)
                                ).bitwiseXOR(F.element_at(hs, j))
                                .bitwiseXOR(F.element_at(hs, k)),
                            ),
                        ),
                    )
                )
            ),
        ).otherwise(empty)
    )
    # r10: the posting feeds BOTH sides of the sig self-join, and the plan
    # measured the full signature explosion TWICE (the two subtrees differ
    # only in aliases but never canonicalize equal, so no exchange reuse —
    # same finding as containment_join's with_pos). Worse, the un-persisted
    # LogicalRDD lineage carries no size stats, so the planner BROADCAST a
    # ~1M-row posting table. persist() materializes the explosion once,
    # serves both sides from the columnar cache, and gives the planner real
    # sizes (measured 3.4s → 2.6s for candidate generation at sf0.1).
    # Cache lifetime follows the containment_join contract: evictable
    # MEMORY_AND_DISK, cleared by callers via catalog.clearCache().
    #
    # r11 ASYMMETRIC DEPTH (the PPJoin "indexing prefix" idea transplanted
    # to deletion neighborhoods): order every qualifying pair so that
    # a = the (n, id)-lexicographically larger side. Then with
    # o = |a∩b| ≥ t/(1+t)·(na+nb) and na ≥ nb:
    #   - a's deletion depth  da = na − o ≤ na − ⌈t·na⌉          (as before,
    #     using nb ≥ t·na from the length filter), and
    #   - b's deletion depth  db = nb − o ≤ nb − ⌈2t/(1+t)·nb⌉    (using
    #     na ≥ nb), which is STRICTLY SHALLOWER (2t/(1+t) ≥ t).
    # So the probe side keeps the full ≤ka neighborhood but the BUILD side
    # only needs depth ≤ kb = n − ⌈2t/(1+t)·n⌉ (kb computed with exact
    # integer rationals — a float ⌈⌉ that rounds up one unit too far would
    # silently DROP pairs). At t=0.9 / sf0.1 that is ~72k build rows
    # instead of ~1M: the sig-join's hash relation shrinks ~14x and the
    # matched candidate rows shrink with it. Each posting row carries its
    # deletion DEPTH so one persisted explosion serves both roles (the
    # b side is a filter over the cache). Equal-size pairs match with
    # either role (db ≤ kb holds for both when na = nb); the (na, id)
    # ordering picks exactly one.
    t_num = int(round(t * 1_000_000))
    t_den = 1_000_000
    tagged = F.concat(
        F.transform(sig0, lambda s: F.struct(F.lit(0).alias("dpt"), s.alias("sig"))),
        F.transform(del1, lambda s: F.struct(F.lit(1).alias("dpt"), s.alias("sig"))),
        F.transform(del2, lambda s: F.struct(F.lit(2).alias("dpt"), s.alias("sig"))),
        F.transform(del3, lambda s: F.struct(F.lit(3).alias("dpt"), s.alias("sig"))),
    )
    posting = (
        toks.select("id", n.alias("n"), F.explode(tagged).alias("ds"))
        .select("id", "n", F.col("ds.dpt").alias("dpt"), F.col("ds.sig").alias("sig"))
        .persist()
    )
    # exact integer ⌈2·t_num·n / (t_num+t_den)⌉: the product runs in BIGINT
    # (2·t_num·n passes 2³¹ from n ≈ 1075 at t = 0.999) and `div` is
    # integral, so no overflow and no float dust
    kb = F.expr(
        f"n - (CAST(n AS BIGINT) * {2 * t_num} + {t_num + t_den - 1})"
        f" div {t_num + t_den}"
    )
    a = posting.select(
        F.col("id").alias("id_a"), F.col("n").alias("na"), "sig"
    )
    b = posting.filter(F.col("dpt") <= kb).select(
        F.col("id").alias("id_b"), F.col("n").alias("nb"), "sig"
    )
    return (
        a.join(b, on="sig")
        .filter(
            (
                (F.col("na") > F.col("nb"))
                | ((F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b")))
            )
            & (F.col("nb") >= F.ceil(F.lit(t) * F.col("na")))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


# Deletion blocking materializes sum_{k<=ka} C(n, k) signatures per set; ka
# alone doesn't bound that — a 10k-token set at t=0.9998 has ka=2 but
# C(10000,2) ≈ 5e7 variants per ROW (executor OOM territory). Deletion is
# picked only when the worst-case per-set neighborhood stays within this
# budget; past it, prefix blocking is the safe exact path.
_DELETION_VARIANT_BUDGET = 100_000


def jaccard_prefix_join(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT token-set Jaccard similarity self-join (J ≥ threshold) — the
    exact-answer complement to the MinHash tier: no probabilistic recall,
    every qualifying pair returned, still no all-pairs product. Two
    complete candidate schemes, auto-selected by regime:

    - ``deletion`` (high-threshold regime): J ≥ t forces
      ``|a\\b| ≤ ka = na − ⌈t·na⌉`` per side (inter ≥ t·union ≥ t·na), so
      when the corpus-wide max ka ≤ 3 every qualifying pair shares the
      hash of a ≤ka-deletion subset (both sides can delete their way down
      to a∩b) — the SymSpell invariant applied to SETS, mirroring the
      measured gram-entropy replacement in operators/entity.py.
      Candidates scale with true-match density, IMMUNE to vocabulary
      entropy: the prefix scheme measured 199M candidates for a 573k-pair
      answer on a 10× row-amplified low-entropy corpus
      (061f3a8:tools/stress_bench.py) because every "rare" token was still
      corpus-common; deletion blocking keys on whole-set content instead
      of single tokens. Signature hashing is xxhash64 (internal blocking
      only — collisions can only ADD candidates, which exact verification
      removes).
    - ``prefix`` (general regime, any threshold): AllPairs/PPJoin
      (Bayardo et al. 2007; Xiao et al. 2008), used when long sets or low
      thresholds would make deletion neighborhoods combinatorial.

    Deletion is picked iff the corpus max ka ≤ 3 and the largest set's
    deletion neighborhood fits :data:`_DELETION_VARIANT_BUDGET` (one tiny
    aggregate — KB-bounded decision scalars).

    Prefix-scheme filters (all provably complete):
    - length: J(a,b) ≥ t ⇒ t·|a| ≤ |b| ≤ |a|/t;
    - prefix: J ≥ t ⇒ |a∩b| ≥ ⌈t·|a|⌉, so the ⌊|a| − t·|a|⌋ + 1 RAREST
      tokens of a (global (df, token) order — rarest-first keeps the
      candidate blocks small; cf. the measured gram-entropy lesson in
      operators/entity.py) must hit any true partner's prefix.
    - position (PPJoin, Xiao et al. 2008): a match at rarity-rank
      positions (i, j) (1-based, same global order both sides) that is the
      pair's FIRST match bounds the overlap by ``1 + min(na−i, nb−j)``;
      J ≥ t needs overlap ≥ t/(1+t)·(na+nb), so rows whose bound falls
      short are pruned BEFORE the pair distinct. Every true pair keeps its
      first-match row (no earlier common token ⇒ the bound is valid and
      met), so completeness holds even though later-match rows of the same
      pair may be pruned with an invalid-for-them bound. The comparison is
      integer (t as micro-unit rational, one overlap-unit slack), immune
      to float-boundary dust. Measured: 10× row-amplified corpus went
      super-linear (15.7×) on common-token blocks without this; the
      positional prune removes the cross-block survivors that length
      filtering alone admits.

    Before any blocking, documents with IDENTICAL token sets are collapsed
    to one representative (exact: groupBy the sorted-distinct array itself,
    no hashing) — duplicate-heavy corpora put hundreds of set-equal docs in
    every candidate block, and each such group of size g costs g² candidate
    rows for what is one set comparison. The pairwise machinery then runs
    on distinct sets only; member pairs are expanded back afterwards
    (within-group pairs at J=1, cross-group pairs inherit the set pair's
    J). Expansion work is proportional to the OUTPUT — irreducible.

    Verification fetches the two sorted token ARRAYS by set id (set-bounded
    payload, candidates only — the near-dup vector-fetch pattern) and
    computes exact |a∩b| via array_intersect. Shuffles: one set-collapse
    groupBy, (set, token) exploded pairs, then (set, set) candidates.

    Regime note (measured, 061f3a8:tools/stress_bench.py, 10× row-amplified
    low-entropy corpus, identical 573k-pair outputs): prefix 296s vs
    deletion 16s (XOR signatures; 1×: 4.9s vs 5.6s) — prefix candidate
    volume is Σ block² over prefix-token blocks and degrades toward
    all-pairs when every "rare" token is corpus-common, while deletion
    blocks stay match-density-sized. The remaining uncovered regime is low
    threshold × low entropy (ka > 3 ⇒ prefix, and prefix blocks are big):
    there the exact answer is itself near-quadratic — use
    minhash_near_duplicates (probabilistic recall, linear sketch volume)
    instead.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    t = float(threshold)
    # Empty token sets are excluded up front: J(∅, ∅) = 0/0 is undefined
    # (NOT 1.0 — two blank documents are not near-duplicates), and an empty
    # set can never reach a positive threshold against a non-empty one.
    doc_toks = df.select(
        F.col("doc_id").alias("id"),
        F.array_sort(F.array_distinct(tokens("text"))).alias("ts"),
    ).filter(F.size("ts") > 0)
    sets = (
        doc_toks.groupBy("ts")
        .agg(F.min("id").alias("sid"), F.collect_list("id").alias("members"))
        .localCheckpoint(eager=False)
    )
    toks = sets.select(F.col("sid").alias("id"), "ts")
    # One tiny stats aggregate drives BOTH regime decisions (blocking scheme
    # and verify-side broadcast): max ka and the distinct-set count are
    # KB-bounded decision scalars from a single job.
    stats = toks.agg(
        F.max(F.size("ts") - F.ceil(F.lit(t) * F.size("ts"))).alias("m"),
        F.count(F.lit(1)).alias("n"),
        F.max(F.size("ts")).alias("mx"),
    ).collect()[0]
    max_ka, n_sets, max_set_size = stats["m"], stats["n"], stats["mx"]
    if max_ka is not None and max_set_size is not None:
        deletion_variants = sum(
            math.comb(int(max_set_size), k) for k in range(int(max_ka) + 1)
        )
    else:
        deletion_variants = 0
    if (
        max_ka is not None
        and max_ka <= 3
        and deletion_variants <= _DELETION_VARIANT_BUDGET
    ):
        cand = _jaccard_deletion_candidates(toks, t)
    else:
        cand = _jaccard_prefix_candidates(toks, t)
    # Vocab-adaptive verification encoding (the dictionary + bitmap-index
    # analogue of low-cardinality columnar storage): when the corpus
    # vocabulary fits in 64 distinct tokens, each set is ONE long bitmask
    # and |a∩b| = bit_count(a & b) — exact (the token→bit dictionary is a
    # bijection; sets are distinct so popcount == set size), and orders of
    # magnitude cheaper than hashing two string arrays per candidate pair
    # when candidates run to millions. The dictionary is a KB-bounded
    # decision collect (≤ 65 rows via limit — bounded even on huge
    # corpora); larger vocabularies verify on the sorted token arrays.
    vocab_rows = (
        toks.select(F.explode("ts").alias("tok")).distinct().limit(65).collect()
    )
    small_vocab = len(vocab_rows) <= 64
    if small_vocab:
        tok_bit = {
            tok: i for i, tok in enumerate(sorted(r["tok"] for r in vocab_rows))
        }
        # map holds the PRE-SHIFTED bit value (1 << i) — shiftleft takes a
        # literal bit count, and baking the shift into the literal map is
        # one lookup per token instead of a shift per element anyway.
        bit_map = F.create_map(
            *[
                c
                for tok, i in sorted(tok_bit.items())
                for c in (F.lit(tok), F.lit(1 << i).cast("long"))
            ]
        )
        enc = F.aggregate(
            "ts",
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(F.element_at(bit_map, x)),
        )
    else:
        enc = F.col("ts")
    # Verification scores candidates against COMPACT (sid, encoding) frames
    # only — members are fetched AFTER the J ≥ t filter, so the (often much
    # larger) candidate set never drags member lists through a join, and the
    # member joins are proportional to the QUALIFYING pairs. Under the mask
    # encoding a side frame is 16 bytes/set; when the distinct-set count
    # is broadcast-sized (checkpointing hides stats from the planner, so
    # the hint is explicit, gated on the measured n_sets) the two verify
    # joins and two member joins all go broadcast-hash — the candidate pair
    # set is never shuffled. Past the cap they fall back to shuffle
    # equi-joins on set id: inherent, and still sketch-sized payloads.
    bcast_cap = 2_000_000 if small_vocab else 100_000
    hint = F.broadcast if n_sets <= bcast_cap else (lambda d: d)
    ta = sets.select(F.col("sid").alias("id_a"), enc.alias("tsa"))
    tb = sets.select(F.col("sid").alias("id_b"), enc.alias("tsb"))
    if small_vocab:
        inter = F.bit_count(F.col("tsa").bitwiseAND(F.col("tsb")))
        union = F.bit_count(F.col("tsa")) + F.bit_count(F.col("tsb")) - inter
    else:
        inter = F.size(F.array_intersect("tsa", "tsb"))
        union = F.size("tsa") + F.size("tsb") - inter
    set_pairs = (
        cand.join(hint(ta), on="id_a")
        .join(hint(tb), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )
    mem_a = sets.select(F.col("sid").alias("id_a"), F.col("members").alias("mem_a"))
    mem_b = sets.select(F.col("sid").alias("id_b"), F.col("members").alias("mem_b"))
    cross = (
        set_pairs.join(hint(mem_a), on="id_a")
        .join(hint(mem_b), on="id_b")
        # pair→members expansion as two NARROW explodes: fan-out == output
        .select("jaccard", F.explode("mem_a").alias("ma"), "mem_b")
        .select("jaccard", "ma", F.explode("mem_b").alias("mb"))
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard",
        )
    )
    within = (
        sets.filter(F.size("members") > 1)
        .select(F.explode("members").alias("id_a"), "members")
        .select("id_a", F.explode("members").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def containment_join(
    df: DataFrame,
    threshold: float = 0.8,
    ngram_n: int | None = 5,
    exact: bool = False,
) -> DataFrame:
    """EXACT directed token-set containment self-join:
    ``C(a→b) = |a∩b| / |a| ≥ threshold`` — the ASYMMETRIC complement to
    :func:`jaccard_prefix_join`. Jaccard misses the case that matters for
    decontamination and quote/boilerplate tracing: a short benchmark item
    or license block wholly CONTAINED in a much larger document has
    near-zero Jaccard but containment ≈ 1. This is the set-containment
    primitive behind "is this eval question inside a training doc"
    sweeps (the n-gram ``decontaminate`` operator gates on shared grams;
    this one reports the full containment score for ranked auditing).

    Candidate completeness (prefix filter, containment form): C ≥ t forces
    ``|a∩b| ≥ ⌈t·|a|⌉``, so at most ``|a| − ⌈t·|a|⌉`` of a's tokens may
    miss b — the ``⌊|a| − t·|a|⌋ + 1`` RAREST tokens of a (global
    (df, token) order) cannot ALL miss a true container, hence a must meet
    every true b on at least one prefix token. Only the a-side can be
    pruned: containment puts no upper bound on |b|, so the b-side indexes
    every token (the candidate volume is Σ over a-prefix tokens of df(tok)
    — rarest-first keeps those blocks small). By DEFAULT shingles whose df
    exceeds 5% of the corpus (at least 2) are dropped from
    candidate generation on BOTH sides — the fan-out bound that keeps a
    growing corpus linear (df of boilerplate shingles grows with corpus
    size, so uncapped candidates grow super-linearly); verification stays
    exact on the full string arrays, so surviving pairs' scores never
    change and recall is lost only for pairs whose entire overlap is hot
    shingles. ``exact=True`` opts out (same contract as
    :func:`text.cosine_similarity_pairs`'s df-cap).

    Set elements default to word 5-gram SHINGLES (``ngram_n=5``): on a
    dense vocabulary, word-level containment degenerates toward all-pairs
    (every document contains most words — measured 79k pairs over a 500-doc
    31-word-vocab corpus vs 60 with shingles), while shingle sets are
    discriminative and make the candidate df's tiny; ``ngram_n=None``
    switches to word tokens for short-text/set-valued inputs.

    CANDIDATE GENERATION NEVER BUILDS SHINGLE STRINGS: each token hashes
    once (``xxhash64``), and a shingle's hash is ``xxhash64`` of its n
    consecutive token hashes — O(tokens) numeric work per document versus
    the O(tokens·n) slice-and-concat string build (measured 45 → 6
    core-seconds at sf0.1, and it removes the need to cache the shingled
    corpus at all: the old string path was expensive enough to warrant an
    eager localCheckpoint whose serialization cost more than the 2×
    recompute of the numeric path). Collisions keep the usual one-sided
    blocking contract (two docs sharing a hash but not the string can only
    ADD a candidate, removed by exact verification; a candidate is LOST
    only if two distinct shared strings collide — a ~2⁻⁶⁴ event, the same
    exposure the previous string-built-then-hashed posting had).

    Candidate pruning before verification, PPJoin/PPJoin+ style, all
    integer-gated:
    - LENGTH: ``|a∩b| ≤ |b|`` forces ``n_b·1e6 ≥ t_micro·n_a``.
    - POSITIONAL (PPJoin+): both docs' capped token lists share one global
      (df, tok) order, so a match at 1-based positions (i, j) bounds the
      overlap by ``min(i−1, j−1) + 1 + min(nc_a−i, nc_b−j)`` plus — capped
      mode only — ``min(n_a−nc_a, n_b−nc_b)`` for the df-capped tokens
      absent from the lists but present in the verify arrays. The bound
      holds for EVERY common token, so any matched row failing it is
      safely dropped before the candidate dedup.

    Verification is exact on STRINGS and touches only candidate rows: the
    candidate pairs join to both sides' raw text, ONLY those rows build
    their real (distinct) shingle-string arrays, ``|a∩b|`` comes from
    ``array_intersect``, the gate is ``inter·1e6 ≥ t_micro·|a|`` in
    integers (no float boundary), and ``n_a``/``containment_ppm`` are
    computed from the string arrays — so reported scores are exact
    regardless of any hashing upstream.

    Output: directed (id_a, id_b, n_a, inter, containment_ppm) rows,
    id_a ≠ id_b, C(a→b) ≥ threshold. Shuffles: (id, hash) postings, the
    token-keyed candidate join, and the candidate-only string arrays —
    raw text never, and non-candidate documents' shingle strings are
    never even built.

    CACHE LIFETIME: the internal postings table is ``persist()``-ed
    (MEMORY_AND_DISK, eagerly materialized) and stays registered after
    this function returns — the returned DataFrame references it twice
    (left/right side of the candidate join), so unpersisting here would
    force a full recompute on every action. In a long-lived session that
    calls this operator repeatedly, evict consumed entries with
    ``returned_df.sparkSession.catalog.clearCache()`` (what the bench
    harness does between reps) or track/unpersist via
    ``spark.catalog`` once the result has been written out. The entries
    are evictable (storage-level spill-safe), so they degrade, not OOM.
    """
    t = float(threshold)
    t_micro = int(round(t * 1_000_000))
    if ngram_n is None:
        hashed = df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(
                F.transform(tokens("text"), lambda x: F.xxhash64(x))
            ).alias("hs"),
        )
    else:
        n_lit = int(ngram_n)
        # token hashes bound in their own projection (same reason as
        # word_ngrams_of_tokens: inlining re-evaluates the split per index)
        th = df.select(
            F.col("doc_id").alias("id"),
            F.transform(tokens("text"), lambda x: F.xxhash64(x)).alias(
                "__th"
            ),
        )
        n_sh = F.greatest(F.size("__th") - F.lit(n_lit - 1), F.lit(1))
        # F.get is 0-based and NULL-padding out of bounds (ANSI-safe, unlike
        # element_at); xxhash64 skips NULL inputs, so a document shorter
        # than n hashes its whole token sequence — mirroring the string
        # path's single whole-sequence shingle for short docs
        sh = F.transform(
            F.sequence(F.lit(0), n_sh - 1),
            lambda i: F.xxhash64(
                *[F.get(F.col("__th"), i + F.lit(k)) for k in range(n_lit)]
            ),
        )
        hashed = th.select("id", F.array_distinct(sh).alias("hs"))
    # hs is referenced exactly ONCE (the explode): a second reference —
    # size(hs) for n, or a size(hs)>0 filter — gets alias-inlined by
    # Catalyst (predicate pushdown and generator planning substitute
    # expressions regardless of cost), re-evaluating the whole shingle
    # transform per reference (measured: posting.count 1.7s -> 24s). Empty
    # arrays explode to zero rows, which is the old filter's semantics,
    # and n comes from a window count over the exploded postings instead.
    posting = hashed.select("id", F.explode("hs").alias("tok")).withColumn(
        "n",
        F.count(F.lit(1)).over(Window.partitionBy("id")).cast("int"),
    )
    df_tbl = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Hot-shingle cap (default ON): per-token candidate fan-out is df(tok),
    # so a boilerplate shingle shared by k docs costs k candidates for
    # every prefix that carries it — at a growing corpus that is the one
    # super-linear term (measured: 10x-rows probe ratio 8.0 uncapped).
    # Dropping tokens with df > the cap from BOTH the prefix computation
    # and the b-side index bounds fan-out to the cap per token; surviving
    # candidates are still verified against the FULL string arrays, so
    # every reported pair's n_a/inter/containment_ppm stay exact — the cap
    # costs recall only for pairs whose entire overlap is hot shingles
    # (boilerplate, for the decontamination use case). Same contract and
    # opt-out (``exact=True``) as text.cosine_similarity_pairs' df-cap.
    if not exact:
        # Resolve the fractional cap against the INPUT row count (a
        # metadata-cheap action) — counting doc_toks would force a
        # full extra shingling pass just to size the threshold, and
        # empty-token docs are a rounding error on the frac. No eager
        # hot-shingle count either (same reason); the drop is
        # observable by diffing df_tbl against the cap when auditing.
        max_df = max(2, int(math.ceil(0.05 * df.count())))
        df_tbl = df_tbl.filter(F.col("df") <= max_df)
    pref_len = (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("int")
    # ONE ranked postings table feeds BOTH join sides: per doc, each
    # token's 1-based position in the global (df, tok) order plus the
    # doc's capped token count — window functions over the id-hash
    # exchange (NOT a collect_list/posexplode round trip, measured 2×
    # slower: it materializes every doc's array just to re-explode it).
    id_w = Window.partitionBy("id").orderBy("df", "tok")
    with_pos = posting.join(df_tbl, on="tok").select(
        "id",
        "n",
        "tok",
        F.row_number().over(id_w).cast("int").alias("pos"),
        F.count(F.lit(1))
        .over(Window.partitionBy("id"))
        .cast("int")
        .alias("nc"),
    )
    # with_pos feeds BOTH join sides; without materialization the whole
    # posting→window pipeline runs twice (measured ~2x the wall at sf1 —
    # exchange reuse does NOT kick in here: each tokens()/transform call
    # mints fresh lambda exprIds, so the twin subplans never canonicalize
    # equal). Materialize it ONCE via persist + eager count: five numeric
    # columns per posting row (~40 B/row — this is exactly why candidate
    # generation carries hashes, not shingle strings), so the columnar
    # cache build is cheap (measured 2.5s vs localCheckpoint's 6s at
    # sf0.1), MEMORY_AND_DISK evicts safely under pressure, and the full
    # pipeline stays visible to plan audits (InMemoryRelation keeps its
    # child plan; a checkpoint erases it).
    with_pos = with_pos.persist()
    with_pos.count()
    a = with_pos.filter(F.col("pos") <= pref_len).select(
        F.col("id").alias("id_a"),
        F.col("n").alias("n_a"),
        F.col("nc").alias("nc_a"),
        F.col("pos").alias("pos_a"),
        "tok",
    )
    b = with_pos.select(
        F.col("id").alias("id_b"),
        F.col("n").alias("n_b"),
        F.col("nc").alias("nc_b"),
        F.col("pos").alias("pos_b"),
        "tok",
    )
    length_ok = (
        F.col("n_b") * F.lit(1_000_000) >= F.lit(t_micro) * F.col("n_a")
    )
    overlap_bound = (
        F.least(F.col("pos_a") - 1, F.col("pos_b") - 1)
        + F.lit(1)
        + F.least(
            F.col("nc_a") - F.col("pos_a"), F.col("nc_b") - F.col("pos_b")
        )
        + F.least(
            F.col("n_a") - F.col("nc_a"), F.col("n_b") - F.col("nc_b")
        )
    )
    cands = (
        a.join(b, on="tok")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & length_ok
            & (
                overlap_bound * F.lit(1_000_000)
                >= F.lit(t_micro) * F.col("n_a")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact verification, candidate rows only: join the candidate pairs to
    # the RAW texts of both sides, then build the STRING shingle arrays in
    # projections OVER THE JOINED (candidate-only) rows — the string work
    # is bounded by the candidate count, cands is consumed exactly once
    # (no checkpoint, so the whole pipeline stays visible to plan audits),
    # and the joins ship only candidate documents' text.
    va = df.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("__ta")
    )
    vb = df.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("__tb")
    )
    joined = cands.join(va, "id_a").join(vb, "id_b")
    if ngram_n is None:
        joined = joined.withColumn(
            "__tsa", F.array_distinct(tokens("__ta"))
        ).withColumn("__tsb", F.array_distinct(tokens("__tb")))
    else:
        # token arrays bound first so the shingle transform doesn't
        # re-evaluate the split per index (see word_ngrams_of_tokens)
        joined = (
            joined.withColumn("__ka", tokens("__ta"))
            .withColumn("__kb", tokens("__tb"))
            .withColumn(
                "__tsa",
                F.array_distinct(
                    word_ngrams_of_tokens(F.col("__ka"), ngram_n)
                ),
            )
            .withColumn(
                "__tsb",
                F.array_distinct(
                    word_ngrams_of_tokens(F.col("__kb"), ngram_n)
                ),
            )
        )
    return (
        joined.withColumn("n_a", F.size("__tsa").cast("long"))
        .withColumn(
            "inter",
            F.size(F.array_intersect("__tsa", "__tsb")).cast("long"),
        )
        .filter(
            F.col("inter") * F.lit(1_000_000) >= F.lit(t_micro) * F.col("n_a")
        )
        .select(
            "id_a",
            "id_b",
            "n_a",
            "inter",
            # integral DIV = exact floor (replays as DuckDB //)
            F.expr("inter * 1000000 DIV n_a").cast("long").alias(
                "containment_ppm"
            ),
        )
    )


def dedup_paragraphs(df: DataFrame) -> DataFrame:
    """Paragraph-level exact dedup (round 7) — the C4/Dolma sub-document
    pass: split each document on blank lines, keep only the FIRST
    corpus-order occurrence (min (doc_id, position)) of every distinct
    paragraph, and reassemble the documents. This is what strips repeated
    cookie banners / license blocks / navigation chrome that whole-doc
    dedup can't see. Empty paragraphs are dropped up front (deduping them
    corpus-wide would mangle structure).

    Scale shape: TWO shuffles, neither moving more than the text once —
    (1) paragraphs hash-partition on ``xxhash64(para)`` for a window
    ``row_number`` (first-occurrence pick; no join back, the window IS the
    winner selection), (2) survivors re-group on the doc id for
    reassembly. Hash collisions (≈ n²/2⁶⁴) would drop a false-duplicate
    paragraph; the window ALSO orders by the paragraph text within a hash
    bucket so a collision's effect is deterministic, and exactness can be
    restored by keying on the paragraph string itself at the cost of
    shuffling text as the key. Output: (id, n_paragraphs, n_kept, text);
    a document whose every paragraph was already seen elsewhere produces
    NO row (fully-boilerplate pages are removed, the C4 behavior).
    """
    from pyspark.sql import Window

    paras = (
        df.select(
            F.col("doc_id"),
            F.split(F.col("text"), r"\n\n").alias("__arr"),
        )
        .select(
            F.col("doc_id"),
            # per-doc paragraph count BEFORE the explode — array-side, so
            # it rides along instead of costing a third shuffle
            F.size(
                F.filter("__arr", lambda p: p != F.lit(""))
            ).alias("__n"),
            F.posexplode("__arr").alias("__pos", "__para"),
        )
        .filter(F.col("__para") != "")
    )
    w = Window.partitionBy(F.xxhash64("__para")).orderBy(
        "__para", "doc_id", "__pos"
    )
    kept = paras.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.max("__n").alias("n_paragraphs"),
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__para"))
                    ),
                    lambda s: s["__para"],
                ),
                "\n\n",
            ).alias("text"),
        )
        .withColumn("n_paragraphs", F.col("n_paragraphs").cast("long"))
        .withColumn("n_kept", F.col("n_kept").cast("long"))
    )
