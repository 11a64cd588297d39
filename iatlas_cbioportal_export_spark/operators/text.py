"""Text-analysis operators over a documents table (north star §7 ext).

All DataFrame-level compositions of the expressions in
``functions/text.py`` — JVM-side, codegen'd, shuffle-free (narrow per-row
derivations) except where noted.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.functions import text as T

_LOG = logging.getLogger(__name__)

# Probability floor of the n-gram scorers: an unseen token scores log10(1e-9).
_OOV_FLOOR = 1e-9


def token_stats(df: DataFrame) -> DataFrame:
    """Per-document token statistics: token count, char count, mean token
    length. Narrow (no shuffle); the token array is materialized in its own
    projection so the split+filter runs once per row, not once per consuming
    expression (see ``functions/text.py::word_ngrams_of_tokens``)."""
    toks = F.col("__toks")
    return df.select(
        "doc_id", F.length("text").alias("n_chars_computed"),
        T.tokens("text").alias("__toks"),
    ).select(
        "doc_id",
        "n_chars_computed",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.when(
                F.size(toks) > 0,
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
                ).cast("double")
                / F.size(toks),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("mean_token_len"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality score in [0,1]: long-enough, low punctuation noise,
    reasonable stopword density — the standard cheap pre-filter for LLM
    training corpora. Narrow."""
    base = df.select(
        "doc_id",
        T.tokens("text").alias("__toks"),
        T.punct_ratio("text").alias("__punct"),
    )
    toks = F.col("__toks")
    n_tok = F.size(toks)
    punct = F.col("__punct")
    stop = F.when(
        n_tok > 0,
        T.stopword_hits_of_tokens(toks, "en") / n_tok,
    ).otherwise(F.lit(0.0))
    score = (
        F.when(n_tok >= 20, F.lit(0.4)).otherwise(n_tok.cast("double") / 50.0)
        + F.when(punct < 0.1, F.lit(0.3)).otherwise(
            F.greatest(F.lit(0.0), F.lit(0.3) - punct)
        )
        + F.least(stop * 3.0, F.lit(0.3))
    )
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(stop, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-vote language ID: count stopword hits per candidate language,
    argmax wins (ties broken by language code order, 'und' when zero hits).

    Narrow per-row expression — at 100 TB this is a single codegen'd pass.
    Output: (id, predicted_lang, n_hits).
    """
    langs = sorted(T.STOPWORDS)
    tokenized = df.select(F.col("doc_id"), T.tokens("text").alias("__toks"))
    hit_cols = [
        T.stopword_hits_of_tokens(F.col("__toks"), lang).alias(f"hits_{lang}")
        for lang in langs
    ]
    scored = tokenized.select(F.col("doc_id"), *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier lang wins ties → apply later langs first
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id",
        pred.alias("predicted_lang"),
        best.alias("n_hits"),
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """Deterministic rolling-hash document fingerprints (exactly reproducible
    in any engine — see functions/text.py). Narrow."""
    return df.select(
        "doc_id",
        T.rolling_fingerprint("text").alias("fingerprint"),
        F.length("text").alias("n_chars_computed"),
    )


def top_ngrams(df: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-level top-k most frequent word n-grams (stop-gram / boilerplate
    detection in a training-data pipeline).

    Plan: tokenize once per doc (materialized projection — NOT inside a HOF
    lambda), explode n-grams, ONE map-side-combined count aggregation, then
    ``orderBy(...).limit(k)`` which Spark plans as TakeOrderedAndProject —
    per-partition top-k heaps + a k-row merge on the driver, NEVER a full
    sort shuffle of the n-gram dictionary. Ties break on the n-gram string,
    so the result is deterministic. Output: (ngram, n_occurrences).
    """
    grams = df.select(T.tokens("text").alias("__toks")).select(
        F.explode(T.word_ngrams_of_tokens(F.col("__toks"), n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def tf_idf(df: DataFrame, top_k: int | None = None) -> DataFrame:
    """Per-(doc, term) TF-IDF over lowercased whitespace tokens.

    ``tf_idf = (tf / doc_len) · (ln((N+1)/(df+1)) + 1)`` (smoothed idf).
    Plan: one explode, ONE (id, term) count aggregation (map-side combined),
    a term-frequency aggregation over the same rows, doc lengths from the
    same aggregation's rollup, the one-row corpus count broadcast into the
    join — so the only shuffles are on (id, term) and term, both
    combiner-reduced counts, never raw text. Hot terms (stopwords) are
    already pre-aggregated before they shuffle, so term skew is bounded by
    the combiner. With ``top_k`` the per-doc ranking window runs over the
    (already tiny) per-doc term lists. Output:
    (doc_id, term, tf, tf_idf[, rank]).
    """
    toks = df.select(
        F.col("doc_id"), F.explode(T.tokens("text")).alias("__tok")
    ).select(F.col("doc_id"), F.lower("__tok").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_len = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__doc_len"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    out = (
        tf.join(doc_len, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tf_idf",
            F.round(
                (F.col("tf").cast("double") / F.col("__doc_len"))
                * (
                    F.log(
                        (F.col("__n_docs").cast("double") + 1.0)
                        / (F.col("__df").cast("double") + 1.0)
                    )
                    + 1.0
                ),
                6,
            ),
        )
        .select("doc_id", "term", "tf", "tf_idf")
    )
    if top_k is None:
        return out
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf_idf").desc(), F.col("term").asc()
    )
    return out.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def bm25(df: DataFrame, query_terms: DataFrame, top_k: int | None = None) -> DataFrame:
    """Okapi BM25 ranking of documents against term-set queries.

    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``;
    ``score(q,d) = Σ_t idf·tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``
    with ``k1 = 1.2``, ``b = 0.75``.

    Plan shape: the (id, term) tf table and per-term df are the same
    combiner-reduced aggregations as :func:`tf_idf`; corpus constants
    (N, avgdl) are a one-row broadcast; the query-term table (small by
    construction — queries are human-sized) broadcasts into the term join,
    so the per-(query, doc) score is ONE map-side-combined sum. Raw text
    never shuffles. Output: (query_id, doc_id, bm25[, rank]).
    """
    toks = df.select(
        F.col("doc_id"), F.explode(T.tokens("text")).alias("__tok")
    ).select(F.col("doc_id"), F.lower("__tok").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_len = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    consts = df.agg(F.count(F.lit(1)).alias("__n")).crossJoin(
        toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__l")).agg(
            F.avg("__l").alias("__avgdl")
        )
    )
    q = query_terms.select(
        F.col("query_id"), F.lower(F.col("term")).alias("term")
    ).distinct()
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(doc_len, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(consts))
    )
    idf = F.log(
        1.0
        + (F.col("__n").cast("double") - F.col("__df") + 0.5)
        / (F.col("__df").cast("double") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    k1, b = 1.2, 0.75
    norm = tf_d + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
    per_term = idf * tf_d * (k1 + 1.0) / norm
    out = (
        scored.groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(per_term), 6).alias("bm25"))
    )
    if top_k is None:
        return out
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return out.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def chunk_documents(
    df: DataFrame, chunk_tokens: int = 100, overlap: int = 10
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the standard
    context-window preprocessing for LLM training/embedding corpora).

    Window ``w = chunk_tokens``, stride ``s = w - overlap``; chunk i covers
    tokens ``[i·s, i·s + w)``; the last window starts at the smallest
    multiple of ``s`` reaching the end, so every token lands in ≥ 1 chunk:
    ``n_chunks = 1 if n ≤ w else ⌈(n-w)/s⌉ + 1`` (0 for empty docs).

    Entirely narrow, JVM-side: tokens materialized ONCE per doc (not inside
    the explode lambda — the measured O(tokens²) trap), chunk indices from
    ``sequence``/``explode``, each chunk a ``slice`` + ``concat_ws``. No
    shuffle at all — at 100 TB this is a pure map stage that composes with
    any downstream partitioning. Output:
    (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens ({chunk_tokens})"
        )
    w, s = chunk_tokens, chunk_tokens - overlap
    base = df.select(F.col("doc_id"), T.tokens("text").alias("__toks")).select(
        F.col("doc_id"), "__toks", F.size("__toks").alias("__n")
    )
    n = F.col("__n")
    n_chunks = F.when(n <= w, F.lit(1)).otherwise(
        F.floor((n - w + s - 1) / s).cast("int") + 1
    )
    chunked = base.filter(n > 0).select(
        F.col("doc_id"),
        "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_id") * s + 1, w)
    return chunked.select(
        F.col("doc_id"),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def pack_token_budget_bins(df: DataFrame, budget_tokens: int = 2048) -> DataFrame:
    """Assign documents to fixed-token-budget training bins by token offset
    (sequence packing for LLM batch assembly).

    Named distinctly from :func:`..sampling.pack_sequences` (the
    concat-and-chunk manifest): THIS operator bins whole documents by start
    offset within a stratum; that one slices the global token stream into
    fixed-length training sequences. Both are correct — but they are
    different contracts, so they no longer share a name.

    Documents are laid out in deterministic ``doc_id`` order WITHIN each
    stratum (the ``source`` column) and binned by their start offset in the
    concatenated token stream: ``bin_id = floor(start_offset / budget)``.
    This is offset binning — a document whose tokens straddle a budget
    boundary keeps the bin of its start (downstream chunking handles the
    split), which is what keeps the operator a closed-form window plan:
    greedy reset-on-overflow packing is a sequential fold that cannot be a
    window function (it would need ``applyInPandas`` per stratum).

    ONE shuffle (hash by stratum, sort by id within partitions); at 100 TB
    strata parallelize across executors and AQE splits skewed ones. Output:
    (id, stratum, n_tokens, start_offset, bin_id).
    """
    base = df.select(
        F.col("doc_id"),
        F.col("source").alias("stratum"),
        T.token_count("text").alias("n_tokens"),
    )
    w = Window.partitionBy("stratum").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "stratum",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("start_offset"),
        F.floor((cum - F.col("n_tokens")) / budget_tokens)
        .cast("long")
        .alias("bin_id"),
    )


def unigram_logprob_score(df: DataFrame) -> DataFrame:
    """Statistical quality score: mean unigram log10-probability per
    document under the CORPUS's own unigram distribution (the KenLM/CCNet
    quality-filter shape with the n-gram LM order reduced to 1 — rare-token
    soup scores low, typical prose scores near the corpus mode).

    Two passes, both corpus-sized-safe: (1) token explode → groupBy(token)
    counts (the vocabulary table — millions of rows at 100 TB, NOT
    broadcast); (2) re-explode and JOIN tokens against the vocabulary, then
    mean per doc. The join is vocab-keyed (AQE picks broadcast only if the
    vocab is actually small). Empty docs score the OOV floor's log.
    Output: (id, n_tokens, mean_logprob)."""
    import math

    toks = (
        df.select(F.col("doc_id"), T.tokens("text").alias("__toks"))
        .select(F.col("doc_id"), F.explode_outer("__toks").alias("tok"))
    )
    vocab = (
        toks.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    total = vocab.agg(F.sum("__n").alias("__total"))
    lp = F.log10(
        F.greatest(F.col("__n") / F.col("__total"), F.lit(_OOV_FLOOR))
    )
    scored = (
        toks.join(vocab, on="tok", how="left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("doc_id"),
            F.col("tok"),
            F.when(F.col("tok").isNull(), F.lit(None).cast("double"))
            .otherwise(lp)
            .alias("__lp"),
            # decimal lane: the vocab join scatters one doc's tokens across
            # partitions, so a double sum/avg merges in nondeterministic
            # order — the decimal sum is exact and engine-portable (see
            # similarity.mean_pool for the measured 1-ulp failure mode)
            F.when(F.col("tok").isNull(), F.lit(None).cast("decimal(28,12)"))
            .otherwise(lp.cast("decimal(28,12)"))
            .alias("__lpd"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.col("tok")).alias("n_tokens"),
        F.round(
            F.coalesce(F.avg("__lp"), F.lit(math.log10(_OOV_FLOOR))), 6
        ).alias("mean_logprob"),
        F.coalesce(
            F.round(F.sum("__lpd"), 6).cast("double"), F.lit(0.0)
        ).alias("sum_logprob"),
    )


def hashed_embedding(df: DataFrame, dim: int = 32) -> DataFrame:
    """Feature-hashing ("hashing trick") text embedding: each token is
    bucketed by the PORTABLE rolling hash (``functions/text.py``, exact in
    any engine — deliberately not xxhash64, so the oracle can reproduce it),
    the vector is the per-bucket token count, L2-normalized (an empty
    document stays the zero vector).

    The honest no-model text→vector bridge: downstream similarity/ANN/
    near-dup operators consume its output like any learned embedding, which
    makes text→embed→ANN pipelines testable end-to-end without shipping a
    model. Narrow (one codegen'd pass, no shuffle): counts are built by a
    fold over the token array into a dim-length accumulator.
    Output: (id, embedding array<double>, n_tokens).
    """
    from iatlas_cbioportal_export_spark.functions.text import _FP_BASE, _FP_MOD

    toks = F.col("__toks")
    bucket = lambda t: (  # noqa: E731 — rolling hash % dim
        F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * F.lit(_FP_BASE) + F.ascii(ch)) % F.lit(_FP_MOD),
        )
        % F.lit(dim)
    ).cast("int")
    # bucket ids materialized ONCE per token in their own projection — the
    # accumulator transform below runs dim× per token, and inlining the hash
    # there would recompute it dim× too (the measured O(tokens²)-class trap)
    counts = F.aggregate(
        F.col("__bks"),
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, b: F.transform(
            acc, lambda v, i: F.when(i == b, v + 1.0).otherwise(v)
        ),
    )
    base = (
        df.select(F.col("doc_id"), T.tokens("text").alias("__toks"))
        .select(
            F.col("doc_id"),
            F.transform(toks, bucket).alias("__bks"),
            F.size(toks).alias("n_tokens"),
        )
        .select(F.col("doc_id"), counts.alias("__counts"), "n_tokens")
    )
    vec = F.col("__counts")
    nrm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    vec = F.when(nrm > 0, F.transform(vec, lambda x: x / nrm)).otherwise(vec)
    return base.select("doc_id", vec.alias("embedding"), "n_tokens")


def length_histogram(
    df: DataFrame, max_tokens: int = 200, num_bins: int = 20
) -> DataFrame:
    """Corpus document-length histogram: equal-width token-count bins via
    ``width_bucket`` (bin 0 = below range, bin num_bins+1 = above), count
    and corpus share per bin. One narrow pass + one tiny aggregation — the
    profiling query you run before choosing chunk/packing budgets.
    Output: (bin, bin_lo, bin_hi, n_docs, share)."""
    width = max_tokens / num_bins
    n_tok = T.token_count("text")
    binned = df.select(
        F.width_bucket(n_tok, F.lit(0), F.lit(max_tokens), F.lit(num_bins)).alias(
            "bin"
        )
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "bin",
            ((F.col("bin") - 1) * width).cast("double").alias("bin_lo"),
            (F.col("bin") * width).cast("double").alias("bin_hi"),
            "n_docs",
            F.round(F.col("n_docs") / F.col("__t"), 6).alias("share"),
        )
    )


def corpus_language_report(df: DataFrame) -> DataFrame:
    """Corpus-level report: predicted language × document count + mean hits.
    One shuffle on the (tiny-cardinality) language key."""
    lid = language_id(df)
    return (
        lid.groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_hits"), 4).alias("avg_hits"),
        )
    )


def bigram_logprob_score(df: DataFrame, lambda_interp: float = 0.7) -> DataFrame:
    """Order-2 statistical quality score: mean log10 probability of each
    document's bigrams under an interpolated corpus bigram LM —
    ``p(cur|prev) = λ·C(prev,cur)/C(prev) + (1−λ)·C(cur)/T`` — the KenLM/
    CCNet filter shape one order up from :func:`unigram_logprob_score`
    (backoff smoothing via linear interpolation with the unigram model, so
    unseen bigrams degrade to corpus-frequency mass instead of zero).

    Scale shape: corpus model tables are built by explode → groupBy (the
    bigram table is vocabulary², but counts combine map-side and only
    OBSERVED bigrams materialize — Heaps-law sized, not |V|²); each doc's
    bigram events join the two model tables on their keys — vocab-keyed
    shuffles, deliberately NOT broadcast (at 100 TB the vocab tables are
    large; AQE still picks broadcast when they measure small). The decimal
    lane makes the per-doc sum exact under any shuffle-merge order.
    Docs with < 2 tokens carry zero bigram events and score the floor.

    The model is trained on ``df`` itself. (The CCNet deployment trains on a
    clean corpus instead: under self-training a singleton bigram of a
    singleton word is "perfectly predicted" by its own count, p ≈ λ.)
    Output: (id, n_bigrams, mean_logprob).
    """
    import math

    def _bg(frame):
        t = frame.select(F.col("doc_id"), T.tokens("text").alias("__toks"))
        return t.select(
            F.col("doc_id"),
            F.explode(
                F.when(
                    F.size("__toks") >= 2,
                    F.transform(
                        F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
                        lambda tk, i: F.struct(
                            tk.alias("prev"),
                            F.element_at(F.col("__toks"), i + 2).alias("cur"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<prev:string,cur:string>>")
                )
            ).alias("__bg"),
        ).select(
            F.col("doc_id"),
            F.col("__bg.prev").alias("prev"),
            F.col("__bg.cur").alias("cur"),
        )

    train = df
    bigrams = _bg(df)
    uni = (
        train.select(T.tokens("text").alias("__toks"))
        .select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__cw"))
    )
    bi = (
        _bg(train)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("__cbg"))
    )
    total = uni.agg(F.sum("__cw").alias("__t"))

    # OOV guards: unseen bigram / unseen prev -> no conditional mass;
    # unseen cur -> no unigram mass; both zero -> the floor takes over
    cond = F.when(
        F.col("__cprev").isNotNull() & F.col("__cbg").isNotNull(),
        F.lit(lambda_interp) * F.col("__cbg") / F.col("__cprev"),
    ).otherwise(F.lit(0.0))
    unig = F.when(
        F.col("__ccur").isNotNull(),
        F.lit(1.0 - lambda_interp) * F.col("__ccur") / F.col("__t"),
    ).otherwise(F.lit(0.0))
    lp = F.log10(F.greatest(cond + unig, F.lit(_OOV_FLOOR)))
    scored = (
        bigrams.join(bi, on=["prev", "cur"], how="left")
        .join(
            uni.select(F.col("w").alias("prev"), F.col("__cw").alias("__cprev")),
            on="prev",
            how="left",
        )
        .join(
            uni.select(F.col("w").alias("cur"), F.col("__cw").alias("__ccur")),
            on="cur",
            how="left",
        )
        .crossJoin(F.broadcast(total))
        .select(F.col("doc_id"), lp.cast("decimal(28,12)").alias("__lpd"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        # cast the exact decimal sum to double BEFORE dividing: decimal
        # division scale/rounding rules differ between engines, double
        # division of identical inputs does not
        F.round(F.sum("__lpd").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_logprob"
        ),
    )
    # every doc gets a row: < 2 tokens -> 0 bigrams, floor score
    all_docs = df.select(F.col("doc_id"))
    return (
        all_docs.join(per_doc, on="doc_id", how="left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(
                F.col("mean_logprob"), F.lit(round(math.log10(_OOV_FLOOR), 6))
            ).alias("mean_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# BPE vocabulary training (iterative pair-merge, Sennrich et al. 2016)
# ---------------------------------------------------------------------------


def bpe_train_merges(
    df: DataFrame, n_merges: int = 4
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train byte-pair-encoding merges over a corpus, DataFrame-native —
    the vocabulary-learning step of an LLM data pipeline (Sennrich et al.
    2016, "Neural Machine Translation of Rare Words with Subword Units").

    Classic BPE trains on the WORD-TYPE frequency table, not token
    occurrences: state is one row per distinct word ``(word, freq,
    syms: array<string>)`` with ``syms`` initialized to characters. Each
    round:

    1. adjacent-pair counts — explode (symᵢ, symᵢ₊₁) weighted by word freq,
       ONE map-side-combined groupBy (the shuffle carries (a, b, partial
       count) rows — bounded by the pair vocabulary, not the corpus);
    2. argmax pair — ``ORDER BY count DESC, a, b`` LIMIT 1 to the driver
       (one row per round, the same driver-decision shape as k-means);
    3. greedy left-to-right merge of that pair in every word via an array
       fold: append symbol, or replace the just-appended ``a`` with ``ab``
       when the incoming symbol is ``b`` — a run of overlapping matches
       (aaa ⊃ aa) merges at even offsets only, exactly the sequential
       semantics (the per-word fold is O(len²) array copies; words are
       short, and the state table is word TYPES so 100 TB of text costs
       one word-count aggregate before any BPE round).

    State is ``localCheckpoint``-truncated per round (the fold expression
    otherwise nests n_merges deep). Returns (merge table [(a, b, count)]
    in round order, final state frame).
    """
    words = (
        df.select(F.explode(T.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = words.select(
        F.col("w").alias("word"),
        "freq",
        F.split("w", "").alias("syms"),
    ).localCheckpoint(eager=False)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        n = F.size("syms")
        pair_arr = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("a"),
                    F.element_at("syms", i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        best = (
            state.select("freq", F.explode(pair_arr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
        state = state.select(
            "word",
            "freq",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == la)
                    & (s == lb),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(lab)
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
        ).localCheckpoint(eager=False)
    return merges, state


def bpe_symbol_table(state: DataFrame) -> DataFrame:
    """Corpus symbol-frequency table of a BPE state: explode the merged
    symbol sequences, weight by word-type frequency — the checkable summary
    of the whole training run (every merge decision reshapes it)."""
    return (
        state.select("freq", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").alias("freq"))
    )


def _apply_merges(word_col, merges: list[tuple[str, str]]):
    """Apply a fixed BPE merge list to one word: chars → K greedy left folds
    (identical semantics to the training fold in :func:`bpe_train_merges`).
    Pure expression — evaluated per occurrence, JVM-side."""
    def merge_step(a: str, b: str):
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)

        def step(acc, s):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (s == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
            ).otherwise(F.concat(acc, F.array(s)))

        return step

    syms = F.split(word_col, "")
    for a, b in merges:
        syms = F.aggregate(
            syms, F.array().cast("array<string>"), merge_step(a, b)
        )
    return syms


def bpe_segment_stats(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenizer APPLY side: segment every document with a trained BPE merge
    table and emit per-doc stats — subword count (the token-budget number a
    packing/pricing pipeline needs) and an order-sensitive segmentation
    fingerprint (Horner fold over per-word subword-stream hashes, all in
    the portable mod-1e9+7 arithmetic).

    Plan: ENTIRELY NARROW — merges are literals baked into the expression,
    applied per token occurrence; no dictionary join, no shuffle of the
    token stream, no state. Recomputing the K folds per occurrence is pure
    executor CPU, which beats shuffling (doc_id, pos, word) triples to meet
    a segmented dictionary at 100 TB (the alternative plan); for an
    extremely hot+huge dictionary, segment the distinct-word table once and
    broadcast it instead — same output contract.

    Output: (id, n_tokens, n_subwords, seg_fingerprint).
    """
    b2 = F.lit(1_000_003)
    mod = F.lit(1_000_000_007)
    from iatlas_cbioportal_export_spark.operators.sketch import _token_hash

    seg = F.transform(T.tokens("text"), lambda w: _apply_merges(w, merges))
    word_hashes = F.transform(
        seg,
        lambda syms: F.aggregate(
            syms,
            F.lit(0).cast("long"),
            lambda acc, sym: (acc * b2 + _token_hash(sym)) % mod,
        ),
    )
    return df.select(
        F.col("doc_id").alias("id"),
        F.size(T.tokens("text")).alias("n_tokens"),
        F.aggregate(
            seg, F.lit(0).cast("long"), lambda acc, s: acc + F.size(s)
        ).alias("n_subwords"),
        F.aggregate(
            word_hashes,
            F.lit(0).cast("long"),
            lambda acc, h: (acc * b2 + h) % mod,
        ).alias("seg_fingerprint"),
    )


def cooccurrence_pmi(df: DataFrame, window: int = 3, top_n: int = 200) -> DataFrame:
    """Windowed token co-occurrence counts with pointwise mutual
    information — the corpus statistic behind GloVe-style embedding
    pretraining and collocation mining. An ORDERED pair (a, b) is counted
    once per occurrence of b within `window` tokens AFTER a.

    pmi(a,b) = ln( (c_ab/T) / ((c_a/N)·(c_b/N)) ) with c_* the pair/token
    occurrence counts, T total pairs, N total tokens — counts stay exact
    integers end-to-end; only the final ln is floating (round 6dp, and the
    oracle mirrors the exact parenthesization).

    Plan shape: pair expansion is NARROW (nested index transforms +
    flatten, ≤ window rows per token); then one groupBy(a, b) for pair
    counts and one groupBy(token) for unigrams — both map-side combined,
    shuffling only (string, count) rows bounded by vocabulary², not corpus
    size. The two scalar totals broadcast; the final top-N is a
    TakeOrderedAndProject (never a global sort materialization). At
    100 TB the pair-count state is the dominant shuffle — cap it upstream
    with a vocabulary filter (min token frequency) if the corpus is
    open-vocabulary.

    Output: (a, b, pair_count, pmi) — top_n by (count desc, a, b).
    """
    # materialize the token array ONCE per row before any element_at
    # references it: the tokenizer expression otherwise re-inlines into
    # every lambda reference — the O(tokens²) trap (measured 19.9s → 6.9s
    # at sf0.1 for this query)
    tokenized = df.select(T.tokens("text").alias("__toks"))
    t = F.col("__toks")
    n = F.size(t)
    pair_arr = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, F.least(i + window, n)),
                    lambda j: F.struct(
                        F.element_at(t, i).alias("a"),
                        F.element_at(t, j).alias("b"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))

    pairs = tokenized.select(F.explode(pair_arr).alias("p")).select(
        "p.a", "p.b"
    )
    # r10 NEGATIVE RESULT (recorded so nobody "fixes" this again): both
    # count tables anchor diamonds (pair_counts 2 consumers, tok_counts
    # 3), but persisting them measured ~0.3-0.4 s SLOWER at sf0.1 in an
    # interleaved A/B (1.6-1.8 s unpersisted vs 2.0-2.1 s persisted,
    # reps=3, both orders) — the duplicated subtrees canonicalize EQUAL
    # here (no renames between them), so runtime exchange reuse already
    # deduplicates the shuffles and a cache only adds write/read
    # overhead. Contrast minhash/inverted_index, where renamed branches
    # defeat canonical equality and the persist wins.
    pair_counts = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("pair_count")
    )
    toks = tokenized.select(F.explode(t).alias("tok"))
    tok_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = pair_counts.agg(F.sum("pair_count").alias("T")).crossJoin(
        tok_counts.agg(F.sum("c").alias("N"))
    )
    return (
        pair_counts.join(
            tok_counts.select(F.col("tok").alias("a"), F.col("c").alias("ca")),
            on="a",
        )
        .join(
            tok_counts.select(F.col("tok").alias("b"), F.col("c").alias("cb")),
            on="b",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "pair_count",
            F.round(
                F.log(
                    (F.col("pair_count") / F.col("T"))
                    / (
                        (F.col("ca") / F.col("N"))
                        * (F.col("cb") / F.col("N"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(top_n)
    )


def vocabulary_growth(
    df: DataFrame, fractions: tuple[float, ...] = (0.25, 0.5, 0.75, 1.0)
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-token count at nested
    deterministic corpus prefixes — the curve that decides whether a corpus
    is still yielding NEW vocabulary (worth ingesting more of) or has
    saturated (more data ≈ more duplicates), and what vocab size a tokenizer
    trained on X% of it will see.

    Prefixes are the id-hash samples of ``operators.sampling`` (bucket <
    f·10⁴), so they are NESTED (a doc in the 25% sample is in the 50% one),
    reproducible under any partitioning/engine, and the oracle can replay
    membership exactly.

    Plan shape — the token dictionary is aggregated ONCE for all fractions:
    explode tokens with the doc's sample bucket, ``groupBy(token).min(bucket)``
    (map-side combined; a token's first-appearance fraction is the min bucket
    over its docs), then ONE single-row conditional aggregate per threshold,
    unpivoted to (fraction_bp, n_docs, vocab_size) rows. Adding fractions
    adds columns to a 1-row aggregate, not passes over the data.

    Output: one row per fraction — ``fraction_bp`` (basis points of 10⁴),
    ``n_docs``, ``vocab_size``.
    """
    from iatlas_cbioportal_export_spark.operators.sampling import (
        _BUCKETS,
        _bucket,
    )

    thresholds = sorted({int(round(f * _BUCKETS)) for f in fractions})
    b = _bucket("doc_id")
    tok_min = (
        df.select(b.alias("__b"), T.tokens("text").alias("__toks"))
        .select("__b", F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("__b").alias("mb"))
    )
    vocab_row = tok_min.agg(
        *[
            F.sum((F.col("mb") < F.lit(t)).cast("long")).alias(f"v{t}")
            for t in thresholds
        ]
    )
    docs_row = df.agg(
        *[
            F.sum((b < F.lit(t)).cast("long")).alias(f"d{t}")
            for t in thresholds
        ]
    )
    stack_expr = "stack({n}, {args}) as (fraction_bp, n_docs, vocab_size)".format(
        n=len(thresholds),
        args=", ".join(f"{t}, d{t}, v{t}" for t in thresholds),
    )
    return docs_row.crossJoin(F.broadcast(vocab_row)).selectExpr(stack_expr)


def inverted_index(
    df: DataFrame, min_df: int = 1, max_df_ratio: float = 0.5, ngram: int = 1
) -> DataFrame:
    """Inverted-index (postings-list) construction — the retrieval-index
    build step of a corpus pipeline: per surviving term, its document
    frequency and the SORTED posting list of doc ids containing it.

    Document-frequency gates are load-bearing at scale: without
    ``max_df_ratio``, stopword postings are |corpus|-sized rows (the classic
    index-build OOM); terms in more than that fraction of documents carry no
    retrieval signal (idf ≈ 0) and are dropped BEFORE their postings are
    assembled — the df filter runs on combiner-reduced (term, df) counts, so
    the giant lists are never materialized. ``min_df`` symmetrically drops
    hapax noise when asked.

    Plan: one explode → distinct (doc, term) pairs (map-side combined), df
    counts per term, df-gate semi-join, then ONE groupBy(term) building
    ``sort_array(collect_list(id))`` — deterministic postings regardless of
    shuffle order. Shuffled payloads are (term, id) pairs and bounded
    postings only. ``ngram > 1`` indexes space-joined word n-grams (phrase
    retrieval — and the realistic df distribution when the unigram vocab is
    tiny). Output: (term, df, postings).
    """
    # Token array materialized once per row (re-inlining trap): every
    # n-gram position references it.
    toked = df.select(
        F.col("doc_id").alias("id"),
        F.transform(T.tokens("text"), lambda t: F.lower(t)).alias("__toks"),
    )
    if ngram <= 1:
        term_arr = F.col("__toks")
    else:
        term_arr = F.when(
            F.size("__toks") >= ngram,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - (ngram - 1)),
                lambda i: F.concat_ws(
                    " ",
                    *[
                        F.element_at("__toks", (i + k).cast("int"))
                        for k in range(ngram)
                    ],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    # r10 (guide §5 caching + §1.2): `pairs` anchors a diamond (the df
    # counts AND the final posting assembly) whose subtrees do NOT
    # canonicalize equal — without the persist the tokenize + explode +
    # distinct ran twice (two parquet scans in the before plan, no
    # ReusedExchange). Persist the distinct (doc, term) pairs once —
    # they are exactly the payload the docstring already budgets for the
    # shuffle, evictable MEMORY_AND_DISK. The corpus-count decision
    # scalar joins the plan as a broadcast one-row aggregate instead of
    # an eager `df.count()` (a full extra pass at scale); int() and
    # floor() agree on the non-negative product, so the gate is
    # value-identical.
    pairs = (
        toked.select("id", F.explode(term_arr).alias("term"))
        .distinct()
        .persist()
    )
    n_docs_row = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        dfreq.crossJoin(F.broadcast(n_docs_row))
        .filter(
            (F.col("df") >= F.lit(int(min_df)))
            & (
                F.col("df")
                <= F.floor(F.col("__n_docs") * F.lit(float(max_df_ratio)))
            )
        )
        .select("term", "df")
    )
    return (
        pairs.join(kept, on="term")
        .groupBy("term", "df")
        .agg(F.sort_array(F.collect_list("id")).alias("postings"))
        .select("term", "df", "postings")
    )


_QUALITY_WEIGHTS = {
    # (feature expression name, weight) — a FIXED literal linear model in
    # the fasttext-classifier role: the weights are part of the operator's
    # identity (like the LSH planes / IVF centroids), so scores replay on
    # any engine.
    "bias": -1.0,
    "mean_word_len": 0.35,
    "stopword_ratio": 2.0,
    "alpha_ratio": 1.5,
    "long_doc": 0.5,
}

_QUALITY_STOPWORDS = ("the", "of", "and", "to", "a", "in", "is", "for")


def quality_classifier(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Model-based quality scoring with a fixed literal linear model — the
    fasttext-style "looks like reference text" gate of CCNet/GPT-3-era
    curation pipelines, reduced to an engine-portable form: interpretable
    features (mean word length, stopword ratio, alphabetic ratio, length
    gate), a literal weight vector, a sigmoid, and a keep decision.

    100% narrow plan — every feature is a JVM expression over the text
    column, no shuffle, no UDF; at 100 TB this runs at scan speed next to
    the other curation gates. Swapping the literal weights for a trained
    model's keeps the plan identical (the weights are data, not structure).

    Output: (id, mean_word_len, stopword_ratio, alpha_ratio, long_doc,
    quality_prob, keep).
    """
    # Materialize the token array ONCE per row: referencing T.tokens(...)
    # from every feature expression would re-run the tokenizer per feature
    # (the documented re-inlining trap).
    df = df.withColumn("__toks", T.tokens("text"))
    toks = F.col("__toks")
    n_tok = F.size(toks)
    safe_n = F.greatest(n_tok, F.lit(1)).cast("double")
    mean_word_len = F.round(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / safe_n,
        6,
    )
    stop_arr = F.array(*[F.lit(s) for s in _QUALITY_STOPWORDS])
    stopword_ratio = F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
        .cast("double")
        / safe_n,
        6,
    )
    alpha_ratio = F.round(
        (
            F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
        ).cast("double")
        / F.greatest(F.length(F.col("text")), F.lit(1)).cast("double"),
        6,
    )
    long_doc = (n_tok >= F.lit(50)).cast("double")
    w = _QUALITY_WEIGHTS
    z = (
        F.lit(w["bias"])
        + F.lit(w["mean_word_len"]) * mean_word_len
        + F.lit(w["stopword_ratio"]) * stopword_ratio
        + F.lit(w["alpha_ratio"]) * alpha_ratio
        + F.lit(w["long_doc"]) * long_doc
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return df.select(
        F.col("doc_id"),
        mean_word_len.alias("mean_word_len"),
        stopword_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        long_doc.alias("long_doc"),
        prob.alias("quality_prob"),
        (prob >= F.lit(threshold)).alias("keep"),
    )


def naive_bayes_train_apply(df: DataFrame) -> DataFrame:
    """Multinomial Naive Bayes text classifier, trained and applied inside
    one logical plan — the TRAINED counterpart to the fixed-literal
    :func:`quality_classifier` (fasttext-role): per-class token
    log-likelihoods with Laplace smoothing are ESTIMATED from a
    deterministic train split (``id % 5 != 0``) and applied to the
    held-out split. The workhorse shape for language-ID / quality / topic
    gates over a 100 TB corpus when a learned-but-cheap model is wanted.

    Scale design:
    - the trained likelihood table is (vocab × k) rows — vocabulary-sized,
      NOT broadcast; the apply side joins test (doc, token, tf) against it
      on (token, label) — a plain shuffled equi-join AQE can re-plan;
    - the class table (priors, totals, OOV default) is k rows — broadcast;
    - two corpus-shuffles total (train token counts, per-doc score sum);
      the argmax window partitions by doc over k rows each.

    Determinism: every log-likelihood double is cast to DECIMAL(28,12)
    before multiplication by the term frequency and summation (the
    ``unigram_logprob_score`` decimal lane — a double sum over a shuffled
    join merges in nondeterministic order). The argmax compares exact
    decimals with a label tiebreak, so predictions replay on any engine.

    Output: (id, true label, pred label, score_pred double(6dp), correct).
    """
    lbl, txt, did = F.col("lang"), F.col("text"), F.col("doc_id")
    train = df.filter(did % 5 != 0)
    test = df.filter(did % 5 == 0)

    train_toks = train.select(
        lbl.alias("label"), F.explode(T.tokens(txt)).alias("tok")
    )
    # r10 (guide §1.2: remove passes): class_tok feeds THREE consumers
    # (class totals, the vocab scalar, the trained table) — persist the
    # vocabulary×k aggregate once instead of re-running the train-corpus
    # tokenize+shuffle per consumer. The two decision scalars that were
    # eager driver actions (vocab_size via distinct().count(), n_train via
    # train.count()) — each a FULL extra pass over the train corpus — are
    # now one-row aggregates broadcast into the plan (the one-row crossJoin
    # pattern used across the engine): vocab from the persisted class_tok,
    # n_train as the k-row priors' own sum. Same doubles flow into log10,
    # so every score is bit-identical; the whole model is now ONE lazy
    # plan with a single train tokenize pass.
    class_tok = (
        train_toks.groupBy("label", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    vocab = class_tok.agg(
        F.count_distinct("tok").cast("long").alias("__vocab")
    )
    class_tot = class_tok.groupBy("label").agg(F.sum("cnt").alias("tot"))
    priors = train.groupBy(lbl.alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_train_row = priors.agg(F.sum("n_docs").alias("__n_train"))
    # k-row class table: prior + OOV default, decimal-exact.
    classes = (
        priors.join(class_tot, on="label")
        .crossJoin(F.broadcast(n_train_row))
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            F.log10(F.col("n_docs") / F.col("__n_train").cast("double"))
            .cast("decimal(28,12)")
            .alias("prior_dec"),
            F.log10(
                F.lit(1.0)
                / (F.col("tot") + F.col("__vocab")).cast("double")
            )
            .cast("decimal(28,12)")
            .alias("default_dec"),
            "tot",
        )
        # k rows, broadcast twice below (priors lane + defaults lane) —
        # persisting spares the second evaluation its own doc-level pass
        # over the train corpus.
        .persist()
    )
    trained = (
        class_tok.join(F.broadcast(class_tot), on="label")
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            "tok",
            F.log10(
                (F.col("cnt") + F.lit(1)).cast("double")
                / (F.col("tot") + F.col("__vocab")).cast("double")
            )
            .cast("decimal(28,12)")
            .alias("lp_dec"),
        )
    )

    test_docs = test.select(did.alias("id"), lbl.alias("true_label"))
    tf = (
        test.select(did.alias("id"), F.explode(T.tokens(txt)).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    contrib = (
        tf.crossJoin(F.broadcast(classes.select("label", "default_dec")))
        .join(trained, on=["tok", "label"], how="left")
        .select(
            "id",
            "label",
            (
                F.col("tf").cast("decimal(10,0)")
                * F.coalesce(F.col("lp_dec"), F.col("default_dec"))
            ).alias("c_dec"),
        )
    )
    contrib_sum = contrib.groupBy("id", "label").agg(
        F.sum("c_dec").alias("s_dec")
    )
    scores = (
        test_docs.crossJoin(F.broadcast(classes.select("label", "prior_dec")))
        .join(contrib_sum, on=["id", "label"], how="left")
        .select(
            "id",
            "true_label",
            "label",
            (
                F.col("prior_dec")
                + F.coalesce(F.col("s_dec"), F.lit(0).cast("decimal(28,12)"))
            ).alias("score_dec"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score_dec").desc(), F.col("label").asc()
    )
    return (
        scores.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id").alias("doc_id"),
            "true_label",
            F.col("label").alias("pred_label"),
            F.round(F.col("score_dec"), 6).cast("double").alias("score_pred"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


def _dense_exact_cosine_pairs(
    tf: DataFrame,
    id_col: str,
    max_entries: int = 8_000_000,
    max_vocab: int = 4096,
) -> "DataFrame | None":
    """Block-GEMM Arrow kernel for the EXACT all-pairs path on a dense
    bounded slice: when the kept vocabulary is small, the postings
    self-join degenerates to Σ df_t² ≈ V·n² rows shuffled into one giant
    aggregate (the measured 16s worst case at sf0.1), while the same dot
    products are a (n×V)·(V×n) integer matrix product — ~1e8 int64
    multiply-adds, CPU-bound, no shuffle at all. ONE ``limit``-guarded
    collect of the tf triplets feeds both the broadcast matrix and the
    full squared norms (driver-side Python-int sums, exact), so the whole
    operator runs one scan + one mapInPandas; each task GEMMs its block
    of rows against the full matrix. Returns None — caller falls back to
    the postings join — when the slice exceeds ``max_entries`` tf rows or
    ``max_vocab`` shareable terms (the guard that keeps this the
    OPT-IN-bounded-slice kernel, never a 100 TB collect; the limit stops
    the scan early on oversized inputs).

    Exactness: tf counts are int64 and ``numpy`` integer matmul is exact,
    so the emitted (doc_a, doc_b, dot, __na, __nb) rows — every pair with
    a non-zero dot, exactly the pairs the postings join aggregates, with
    the same full norms the caller would join — feed the caller's
    UNCHANGED DECIMAL(38,0) gate / round tail bit-identically. df=1 terms
    are excluded from the matrix (they can never be shared, so no dot
    changes) but included in the norms, matching the join path.
    """
    import numpy as np

    spark = tf.sparkSession
    rows = (
        tf.select(
            F.col(id_col).cast("long").alias("id"),
            "term",
            F.col("tf").cast("long").alias("tf"),
        )
        .limit(max_entries + 1)
        .collect()
    )
    if len(rows) > max_entries:
        return None
    n2: dict[int, int] = {}
    term_docs: dict[str, int] = {}
    for r in rows:
        n2[r["id"]] = n2.get(r["id"], 0) + r["tf"] * r["tf"]
        term_docs[r["term"]] = term_docs.get(r["term"], 0) + 1
    kept_terms = sorted(t for t, d in term_docs.items() if d >= 2)
    if len(kept_terms) > max_vocab:
        return None
    ids = sorted(n2)
    if not ids:
        return spark.createDataFrame(
            [], "doc_a long, doc_b long, dot long, __na long, __nb long"
        )
    id_ix = {v: i for i, v in enumerate(ids)}
    term_ix = {v: i for i, v in enumerate(kept_terms)}
    mat = np.zeros((len(ids), max(1, len(kept_terms))), dtype=np.int64)
    for r in rows:
        j = term_ix.get(r["term"])
        if j is not None:
            mat[id_ix[r["id"]], j] = r["tf"]
    ids_arr = np.asarray(ids, dtype=np.int64)
    n2_arr = np.asarray([n2[i] for i in ids], dtype=np.int64)
    bc = spark.sparkContext.broadcast((ids_arr, mat, n2_arr))

    def gemm(batches):
        import pandas as pd

        g_ids, g_mat, g_n2 = bc.value
        for batch in batches:
            idx = batch["id"].to_numpy()
            out = []
            for lo in range(0, len(idx), 512):
                blk = idx[lo : lo + 512]
                d = g_mat[blk] @ g_mat.T  # exact int64
                for r_local, g in enumerate(blk):
                    row = d[r_local]
                    js = np.nonzero(row[g + 1 :])[0] + g + 1
                    if len(js):
                        out.append(
                            pd.DataFrame(
                                {
                                    "doc_a": np.full(len(js), g_ids[g]),
                                    "doc_b": g_ids[js],
                                    "dot": row[js],
                                    "__na": np.full(len(js), g_n2[g]),
                                    "__nb": g_n2[js],
                                }
                            )
                        )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_part = min(32, max(1, len(ids) // 64))
    index_df = spark.range(0, len(ids), 1, n_part).select(
        F.col("id").cast("long")
    )
    return index_df.mapInPandas(
        gemm, schema="doc_a long, doc_b long, dot long, __na long, __nb long"
    )


def cosine_similarity_pairs(
    df: DataFrame,
    threshold: float,
    exact: bool = False,
) -> DataFrame:
    """EXACT all-pairs cosine similarity ≥ ``threshold`` over integer
    term-frequency vectors, via an inverted-index (postings) join — the
    exact counterpart to MinHash-LSH (``dedup.minhash_lsh_pairs``): no
    recall loss, candidate volume paid in full.

    Integer-exact thresholding: with tf counts the dot product ``num`` and
    the squared norms ``na``/``nb`` are exact integers, so the gate
    ``cos ≥ t`` is evaluated as ``num² · t_den ≥ t_num · na · nb`` with
    ``t² = t_num/t_den`` (``Fraction(str(threshold))²``) — no float
    boundary flips between engines. Products are computed in
    DECIMAL(38,0): at 100 TB a document can carry tf ~1e5 ⇒ ``na·nb``
    ~1e20, past BIGINT. The reported ``cosine`` is the one correctly-
    rounded double ``round(num/sqrt(na·nb), 6)``.

    Plan shape / 100 TB story: shuffles touch only combiner-reduced count
    rows — (doc, term, tf), per-term df, per-doc norms, and the (a, b)
    partial-product aggregation; raw text never shuffles. Per-term pair
    fan-out is Σ df_t², so high-df terms dominate cost while contributing
    least discrimination — by DEFAULT terms appearing in more than
    half of the corpus are dropped from the postings self-join so an accidentally
    dense vocabulary can never go quadratic (df-capped semantics: a
    surviving pair must share ≥1 kept term; each candidate is then
    VERIFIED against the full tf vectors, so the dot, the threshold gate
    and the reported cosine of every surviving pair are exact — the cap
    costs recall only for pairs whose entire overlap is hot terms). The
    number of dropped hot terms is logged. ``exact=True`` disables the guard — the explicit
    opt-in for bounded slices where full recall is required. On such a
    bounded DENSE slice the exact path auto-takes a block-GEMM Arrow
    kernel (:func:`_dense_exact_cosine_pairs`) instead of shuffling the
    Σ df² postings join — same pair set and doubles, bit-identical, one
    scan instead of three; an oversized slice takes the join. Resolving the
    fractional cap costs one count of ``df`` plus one combiner-reduced
    aggregate over the per-term df table — negligible next to the pairs
    join it bounds. Terms with df=1 can never form a pair and are always
    pruned before the postings self-join. The synthetic corpus is the
    worst case (31-term dense vocabulary ⇒ effectively all-pairs); real
    web/text corpora are Zipf-sparse where prefix/df pruning bites.
    Reference scope: the reference has no similarity operators at all —
    this extends §2's dedup tier (SURVEY.md §7 ext).

    Output: (doc_a, doc_b, dot, cosine) with doc_a < doc_b.
    """
    from fractions import Fraction

    t2 = Fraction(str(threshold)) ** 2
    t_num, t_den = t2.numerator, t2.denominator

    toks = df.select(
        F.col("doc_id"), F.explode(T.tokens("text")).alias("__tok")
    ).select(F.col("doc_id"), F.lower("__tok").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    kept = dfreq.filter(F.col("__df") >= 2)
    if not exact:
        import math as _math

        n_docs = df.select("doc_id").count()
        max_df = max(2, int(_math.ceil(0.5 * n_docs)))
        dropped = kept.filter(F.col("__df") > max_df).count()
        if dropped:
            _LOG.warning(
                "cosine_similarity_pairs: df-cap %d dropped %d hot term(s) "
                "from the postings join (pass exact=True for full recall)",
                max_df,
                dropped,
            )
        kept = kept.filter(F.col("__df") <= max_df)
    postings = tf.join(kept.select("term"), "term")

    a = postings.select(
        F.col("term"),
        F.col("doc_id").alias("doc_a"),
        F.col("tf").alias("__tfa"),
    )
    b = postings.select(
        F.col("term"),
        F.col("doc_id").alias("doc_b"),
        F.col("tf").alias("__tfb"),
    )
    if exact:
        # All terms kept ⇒ the postings join already sees the full
        # vectors; the dot falls out of the candidate aggregation.
        # DENSE-SLICE BYPASS: on a dense vocabulary the postings join
        # shuffles Σ df_t² ≈ V·n² rows (the all-pairs worst case the
        # exact flag opts into); when the slice is small enough to
        # broadcast (n·V entries bounded) the same dots are one integer
        # GEMM. Both branches feed the identical norm-join/gate/round
        # tail, so the result is bit-identical either way.
        dense = _dense_exact_cosine_pairs(tf, "doc_id")
        if dense is not None:
            dec = "decimal(38,0)"
            return (
                dense.filter(
                    F.col("dot").cast(dec)
                    * F.col("dot").cast(dec)
                    * F.lit(t_den).cast(dec)
                    >= F.lit(t_num).cast(dec)
                    * F.col("__na").cast(dec)
                    * F.col("__nb").cast(dec)
                )
                .select(
                    "doc_a",
                    "doc_b",
                    "dot",
                    F.round(
                        F.col("dot")
                        / F.sqrt((F.col("__na") * F.col("__nb")).cast("double")),
                        6,
                    ).alias("cosine"),
                )
            )
        pairs = (
            a.join(b, "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("__tfa") * F.col("__tfb")).alias("dot"))
        )
    else:
        # Candidate-generate on the df-capped postings, then VERIFY each
        # candidate against the FULL tf vectors so the dot (and therefore
        # the threshold gate and the reported cosine) stays exact for
        # every surviving pair — recall is lost only for pairs whose
        # overlap consists entirely of capped hot terms. The verify join
        # touches |candidates| x doc-length rows, bounded by the cap.
        cand = (
            a.select("term", "doc_a")
            .join(b.select("term", "doc_b"), "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        full_a = tf.select(
            F.col("doc_id").alias("doc_a"),
            F.col("term"),
            F.col("tf").alias("__tfa"),
        )
        full_b = tf.select(
            F.col("doc_id").alias("doc_b"),
            F.col("term"),
            F.col("tf").alias("__tfb"),
        )
        pairs = (
            cand.join(full_a, "doc_a")
            .join(full_b, ["doc_b", "term"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("__tfa") * F.col("__tfb")).alias("dot"))
        )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("n2").alias("__na")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("n2").alias("__nb")
    )
    dec = "decimal(38,0)"
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.col("dot").cast(dec) * F.col("dot").cast(dec) * F.lit(t_den).cast(dec)
            >= F.lit(t_num).cast(dec) * F.col("__na").cast(dec) * F.col("__nb").cast(dec)
        )
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.round(
                F.col("dot")
                / F.sqrt((F.col("__na") * F.col("__nb")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1, the
    repetition half of the quality suite — :func:`curation.gopher_quality`
    covers the word-count/ratio half): per document, the character mass of
    the most-repeated word 2-gram and of all duplicated word 3-grams.
    High-repetition documents (boilerplate, keyword stuffing, degenerate
    generations) are the canonical pre-training removal targets.

    Integer-exact readout: character counts are word characters only
    (gram length minus its separator spaces), fractions are integer-ppm
    (``floor(chars·1e6 / total_chars)``), and the top 2-gram tie-breaks on
    (count desc, gram asc) via a single min-struct — every value replays
    bit-for-bit in the DuckDB oracle.

    Plan shape / 100 TB story: the token array binds ONCE per n (the
    O(tokens²) inlining trap — see :func:`word_ngrams_of_tokens`); each
    n-gram pass shuffles only combiner-reduced (doc, gram, count) rows and
    immediately re-aggregates to one row per doc, so the join graph is
    three doc-keyed one-row-per-doc frames. Raw text shuffles nowhere.

    Output: (id, n_words, word_chars, top_2gram, top_2gram_count,
    top_2gram_char_ppm, dup_3gram_char_ppm).
    """
    base = df.select(
        F.col("doc_id"), T.tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.col("__toks"),
        F.size("__toks").alias("n_words"),
        F.aggregate(
            F.col("__toks"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).alias("word_chars"),
    )

    def gram_counts(n: int) -> DataFrame:
        return (
            base.select(
                "doc_id",
                F.explode(
                    T.word_ngrams_of_tokens(F.col("__toks"), n)
                ).alias("gram"),
            )
            .groupBy("doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    top2 = (
        gram_counts(2)
        .groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg"), F.col("gram"))
            ).alias("__top")
        )
        .select(
            "doc_id",
            F.col("__top.gram").alias("top_2gram"),
            (-F.col("__top.neg")).cast("long").alias("top_2gram_count"),
        )
    )
    g3 = gram_counts(3)
    # word chars of one gram occurrence = length minus the n-1 separator
    # spaces baked in by concat_ws
    chars3 = F.col("cnt") * (F.length("gram") - 2)
    dup3 = g3.groupBy("doc_id").agg(
        F.sum(F.when(F.col("cnt") >= 2, chars3).otherwise(0)).alias(
            "__dup_chars"
        ),
        F.sum(chars3).alias("__all_chars"),
    )
    out = (
        base.drop("__toks")
        .join(top2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
    )
    top2_chars = F.col("top_2gram_count") * (F.length("top_2gram") - 1)
    # integral DIV, not floor(double division): the double quotient is
    # correctly rounded, and floor() of it can land one off at integer
    # boundaries; DIV replays exactly as DuckDB's //.
    return out.withColumn("__top2_chars", top2_chars).select(
        "doc_id",
        "n_words",
        "word_chars",
        "top_2gram",
        "top_2gram_count",
        F.when(
            F.col("word_chars") > 0,
            F.expr("__top2_chars * 1000000 DIV word_chars"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("top_2gram_char_ppm"),
        F.when(
            F.col("__all_chars") > 0,
            F.expr("__dup_chars * 1000000 DIV __all_chars"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_3gram_char_ppm"),
    )


_BACKOFF_ALPHA = 0.4  # stupid-backoff discount per backed-off order


def trigram_backoff_score(df: DataFrame, model: DataFrame | None = None) -> DataFrame:
    """Order-3 statistical quality score with STUPID BACKOFF (Brants et
    al. 2007 — the web-scale scheme that skips discount estimation):
    ``S(w3|w1w2) = c(w1w2w3)/c(w1w2)`` when the trigram was seen, else
    ``α·c(w2w3)/c(w2)``, else ``α²·c(w3)/T``, else the floor — completing
    the n-gram family over :func:`unigram_logprob_score` (order 1) and
    :func:`bigram_logprob_score` (order 2, interpolated). Stupid backoff
    is NOT a probability (scores don't sum to 1) — exactly why it
    parallelizes: every score is a ratio of two counts, no normalization
    pass, which is the published rationale for using it at corpus scale.

    Scale shape: count tables are explode → combiner-reduced groupBys
    (observed n-grams only — Heaps-law sized); each doc's trigram events
    join the tri/bi/uni tables on their keys (vocab-keyed shuffles,
    deliberately not broadcast; AQE broadcasts when they measure small).
    The per-doc sum runs in the decimal lane, exact under any
    shuffle-merge order. ``model`` selects the training corpus (CCNet
    deployment: train clean, score raw); docs with < 3 tokens carry zero
    trigram events and score the floor.
    Output: (id, n_trigrams, mean_logprob)."""
    import math

    # r10: the tokenize/explode stages are rendered as SQL strings (guide
    # §1 driver fixed costs — one JVM parse per projection instead of a
    # py4j round trip per Column operator; ~1.1 s of build chatter on the
    # bench corpus). Expression shapes replicate the old Column DSL
    # exactly (CASE WHEN ⟺ when/otherwise, named_struct ⟺ aliased struct,
    # 0-based two-arg transform lambdas in both), so counts — and the
    # untouched float scoring below — are bit-identical.
    toks_sql = T.tokens_sql("`text`")

    def _tg(frame):
        t = frame.selectExpr("`doc_id`", f"{toks_sql} AS __toks")
        tg = (
            "CASE WHEN size(__toks) >= 3 THEN "
            "transform(slice(__toks, 1, size(__toks) - 2), (tk, i) -> "
            "named_struct('w1', tk, 'w2', element_at(__toks, i + 2), "
            "'w3', element_at(__toks, i + 3))) "
            "ELSE cast(array() as array<struct<w1:string,w2:string,w3:string>>) END"
        )
        return t.selectExpr("`doc_id`", f"explode({tg}) AS __tg").selectExpr(
            "`doc_id`",
            "__tg.w1 AS w1",
            "__tg.w2 AS w2",
            "__tg.w3 AS w3",
        )

    def _bg_counts(frame):
        t = frame.selectExpr(f"{toks_sql} AS __toks")
        bg = (
            "CASE WHEN size(__toks) >= 2 THEN "
            "transform(slice(__toks, 1, size(__toks) - 1), (tk, i) -> "
            "named_struct('a', tk, 'b', element_at(__toks, i + 2))) "
            "ELSE cast(array() as array<struct<a:string,b:string>>) END"
        )
        return (
            t.selectExpr(f"explode({bg}) AS __bg")
            .selectExpr("__bg.a AS a", "__bg.b AS b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("__cab"))
        )

    train = model if model is not None else df
    events = _tg(df)
    tri = (
        _tg(train)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("__c123"))
    )
    bi = _bg_counts(train)
    uni = (
        train.selectExpr(f"{toks_sql} AS __toks")
        .selectExpr("explode(__toks) AS w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__cw"))
    )
    total = uni.agg(F.sum("__cw").alias("__t"))

    score = (
        F.when(
            F.col("__c123").isNotNull() & F.col("__c12").isNotNull(),
            F.col("__c123") / F.col("__c12"),
        )
        .when(
            F.col("__c23").isNotNull() & F.col("__c2").isNotNull(),
            F.lit(_BACKOFF_ALPHA) * F.col("__c23") / F.col("__c2"),
        )
        .when(
            F.col("__c3").isNotNull(),
            F.lit(_BACKOFF_ALPHA * _BACKOFF_ALPHA) * F.col("__c3") / F.col("__t"),
        )
        .otherwise(F.lit(0.0))
    )
    lp = F.log10(F.greatest(score, F.lit(_OOV_FLOOR)))
    scored = (
        events.join(tri, on=["w1", "w2", "w3"], how="left")
        .join(
            bi.select(
                F.col("a").alias("w1"), F.col("b").alias("w2"),
                F.col("__cab").alias("__c12"),
            ),
            on=["w1", "w2"],
            how="left",
        )
        .join(
            bi.select(
                F.col("a").alias("w2"), F.col("b").alias("w3"),
                F.col("__cab").alias("__c23"),
            ),
            on=["w2", "w3"],
            how="left",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("__cw").alias("__c2")),
            on="w2",
            how="left",
        )
        .join(
            uni.select(F.col("w").alias("w3"), F.col("__cw").alias("__c3")),
            on="w3",
            how="left",
        )
        .crossJoin(F.broadcast(total))
        .select(F.col("doc_id"), lp.cast("decimal(28,12)").alias("__lpd"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(F.sum("__lpd").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_logprob"
        ),
    )
    return (
        df.select(F.col("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_trigrams"), F.lit(0)).alias("n_trigrams"),
            F.coalesce(
                F.col("mean_logprob"), F.lit(round(math.log10(_OOV_FLOOR), 6))
            ).alias("mean_logprob"),
        )
    )
