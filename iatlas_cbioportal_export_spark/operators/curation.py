"""Corpus-curation operators for LLM training-data pipelines (north star
§7 ext): PII redaction, benchmark decontamination, intra-document
repetition removal, and Gopher-style quality gates.

All four are the standard pre-training curation passes that sit between raw
ingestion and dedup/mixing. Everything here is built from JVM-side
expressions (regexp, array ops, broadcast semi-joins) — no Python UDFs:

- :func:`redact_pii` and :func:`remove_repeated_paragraphs` are NARROW
  (pure per-row maps, zero shuffle — they scale linearly with input splits);
- :func:`gopher_quality` is narrow likewise;
- :func:`decontaminate` shuffles only (doc_id, one count) after a broadcast
  semi-join against the benchmark n-gram set — document text never moves.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.functions import text as T

# RE2-compatible (no lookaround), identical semantics in Java regex and the
# DuckDB oracle. Order of application: emails first (an email's host could
# otherwise be chewed up by a later pattern), then IPv4, then phones.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame) -> DataFrame:
    """Replace emails / IPv4 addresses / phone numbers with typed
    placeholder tokens and count each category. Narrow (no shuffle); each
    pattern is one codegen'd ``regexp_replace`` + ``regexp_count`` pass.
    Output: (id, text_redacted, n_email, n_ipv4, n_phone)."""
    counts = [
        F.regexp_count(F.col("text"), F.lit(rx)).alias(f"n_{name}")
        for name, rx, _ in PII_PATTERNS
    ]
    redacted: Column = F.col("text")
    for _, rx, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, rx, token)
    return df.select("doc_id", redacted.alias("text_redacted"), *counts)


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with a benchmark
    (eval-set) corpus — the standard decontamination pass before training.

    Scale shape: the benchmark n-gram set is small by definition (eval sets
    are KB-GB, the corpus is TB) — it is distinct'd and BROADCAST; training
    docs explode their distinct n-grams map-side, inner-join the broadcast
    set, and only (doc_id, 1) survivor pairs reach the single count
    aggregation. Document text never shuffles; docs with zero hits are
    restored by a left join against the (tiny) hit table.
    Output: (doc_id, n_hits, contaminated).
    """
    bench_grams = (
        benchmark.select(T.tokens("text").alias("__toks"))
        .select(F.explode(T.word_ngrams_of_tokens(F.col("__toks"), n)).alias("gram"))
        .distinct()
    )
    doc_grams = (
        docs.select("doc_id", T.tokens("text").alias("__toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(T.word_ngrams_of_tokens(F.col("__toks"), n))
            ).alias("gram"),
        )
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), on="gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def remove_repeated_paragraphs(df: DataFrame) -> DataFrame:
    """Drop repeated paragraphs within each document, keeping the FIRST
    occurrence in order (boilerplate/navigation repetition removal).

    Narrow: ``split`` → ``array_distinct`` (documented to preserve
    first-occurrence order) → ``array_join``. No shuffle, no UDF.
    Output: (id, text_clean, n_paragraphs, n_removed)."""
    parts = F.split(F.col("text"), F.lit("\n"), -1)
    kept = F.array_distinct(parts)
    return df.select(
        "doc_id",
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(parts).alias("n_paragraphs"),
        (F.size(parts) - F.size(kept)).alias("n_removed"),
    )


def normalize_text(df: DataFrame) -> DataFrame:
    """Canonical text normalization before hashing/dedup: strip control
    characters, collapse all whitespace runs to single spaces, trim, and
    lowercase. Narrow, pure regexp/codegen — the standard preprocessing that
    makes exact-hash dedup robust to formatting noise. (Unicode NFC/NFKC
    folding needs ICU and is deliberately out of scope for the JVM-side
    path; plug a Pandas UDF stage upstream when corpus demands it.)
    Output: (id, text_norm, n_chars_removed)."""
    raw = F.col("text")
    stripped = F.regexp_replace(raw, r"[\x00-\x1F\x7F]", " ")
    collapsed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return df.select(
        "doc_id",
        F.lower(collapsed).alias("text_norm"),
        (F.length(raw) - F.length(collapsed)).alias("n_chars_removed"),
    )


# Gopher rule thresholds (Rae et al. 2021, Table A1 subset) — the widely
# reused cheap quality gates. Tuned constants are parameters, not magic.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality(df: DataFrame, min_words: int = GOPHER_MIN_WORDS) -> DataFrame:
    """Gopher-style per-document quality gates. One narrow projection; the
    token array is bound once (see ``word_ngrams_of_tokens`` for why) and
    every rule is a JVM expression over it. Output: per-rule metrics +
    booleans + overall ``passes``."""
    base = df.select(
        "doc_id", F.col("text").alias("__text"), T.tokens("text").alias("__toks")
    )
    toks = F.col("__toks")
    n_words = F.size(toks)
    mean_len = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast(
            "double"
        )
        / n_words,
    ).otherwise(F.lit(0.0))
    # symbol ratio: '#' and ellipsis occurrences per word
    n_symbols = F.regexp_count(F.col("__text"), F.lit(r"(#|\.\.\.)"))
    symbol_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n_words > 0, n_alpha_words / n_words).otherwise(F.lit(0.0))
    n_stop = T.stopword_hits_of_tokens(toks, "en")
    metrics = base.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_word_ratio"),
        n_stop.alias("n_stopword_hits"),
    )
    rules = metrics.select(
        "*",
        F.col("n_words").between(min_words, GOPHER_MAX_WORDS).alias("ok_word_count"),
        F.col("mean_word_len")
        .between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        .alias("ok_mean_word_len"),
        (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO).alias("ok_symbol_ratio"),
        (F.col("alpha_word_ratio") >= GOPHER_MIN_ALPHA_WORD_RATIO).alias(
            "ok_alpha_words"
        ),
        (F.col("n_stopword_hits") >= GOPHER_MIN_STOPWORD_HITS).alias("ok_stopwords"),
    )
    return rules.select(
        "*",
        (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_alpha_words")
            & F.col("ok_stopwords")
        ).alias("passes"),
    )


def _hashed_features(df: DataFrame, dim: int) -> DataFrame:
    """(``doc_id``, array<int> feature buckets of ``text``): word unigrams +
    bigrams hashed into ``dim`` buckets with the PORTABLE rolling hash
    (``functions/text.py`` — deliberately not xxhash64, so any engine
    reproduces the bucketing).
    Narrow — one codegen'd pass, bucket ids materialized once per feature
    (inlining the hash into downstream folds recomputes it per fold step,
    the measured O(n²)-class trap documented in ``text.hashed_embedding``)."""
    from iatlas_cbioportal_export_spark.functions.text import _FP_BASE, _FP_MOD

    toks = T.tokens("text")
    bigrams = F.when(
        F.size(F.col("__toks")) >= 2,
        F.transform(
            F.slice(F.col("__toks"), 1, F.size(F.col("__toks")) - 1),
            lambda t, i: F.concat(
                t, F.lit(" "), F.element_at(F.col("__toks"), i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bucket = lambda t: (  # noqa: E731
        F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * F.lit(_FP_BASE) + F.ascii(ch)) % F.lit(_FP_MOD),
        )
        % F.lit(dim)
    ).cast("int")
    return (
        df.select("doc_id", toks.alias("__toks"))
        .select("doc_id", F.concat(F.col("__toks"), bigrams).alias("__feats"))
        .select("doc_id", F.transform("__feats", bucket).alias("__bks"))
    )


def dsir_importance_weights(
    df: DataFrame, target: DataFrame, dim: int = 64
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every raw document by how target-like its hashed n-gram profile is —
    ``w(doc) = Σ_features log p̂_target(bucket) − log p̂_raw(bucket)`` with
    Laplace-smoothed bag-of-buckets models over word unigrams + bigrams.
    High weight ⇒ the doc looks like the target domain; downstream selection
    resamples ∝ exp(w) (the resampling draw itself is randomized by design
    and left to the caller — this operator is the deterministic scoring
    pass, which is the expensive distributed part).

    Scale shape (the IVF-centroid pattern): the two bucket histograms are
    built by explode → groupBy(bucket) — the shuffle carries ≤ ``dim`` rows
    of map-side-combined counts per side — and only 2×dim longs reach the
    driver, where the per-bucket log-ratio is folded into a literal array.
    Scoring is then a NARROW map: a sequential fold of the doc's bucket ids
    over the broadcast literal weights (deterministic summation order, which
    is what makes the result hash-comparable against an oracle).
    Output: (id, n_features, dsir_weight)."""
    import math

    def hist(frame: DataFrame) -> tuple[list[int], int]:
        rows = (
            _hashed_features(frame, dim)
            .select(F.explode("__bks").alias("__b"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        counts = [0] * dim
        for r in rows:
            counts[r["__b"]] = r["__n"]
        return counts, sum(counts)

    t_counts, t_total = hist(target)
    r_counts, r_total = hist(df)
    weights = [
        math.log((t_counts[b] + 1) / (t_total + dim))
        - math.log((r_counts[b] + 1) / (r_total + dim))
        for b in range(dim)
    ]
    w_lit = F.array(*[F.lit(float(w)) for w in weights])
    feats = _hashed_features(df, dim)
    score = F.aggregate(
        F.col("__bks"),
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(w_lit, b + 1),
    )
    return feats.select(
        F.col("doc_id"),
        F.size("__bks").alias("n_features"),
        F.round(score, 6).alias("dsir_weight"),
    )


def char_entropy_score(df: DataFrame) -> DataFrame:
    """Per-document Shannon character entropy (nats) — the gibberish/
    degeneracy detector in a curation stack: near-zero entropy flags
    repeated-character spam ("aaaa…"), implausibly high entropy flags
    random-noise strings; natural language sits in a stable band.

    Fully NARROW: character classes come from ``array_distinct`` +
    ``array_sort`` (the SORTED class order fixes the fold sequence, so the
    double sum is deterministic and engine-replayable), per-class counts
    are ``size(filter(...))`` — O(len·distinct) per row, fine for document
    text, zero shuffle. Output: (id, n_chars, n_distinct_chars, entropy).
    """
    # split("", "") yields [""] — drop empty elements so an empty document
    # reports 0 chars (matches the oracle's filtered split)
    chars = F.filter(
        F.split(F.col("text"), ""), lambda c: c != ""
    )
    classes = F.array_sort(F.array_distinct(chars))
    counts = F.transform(
        classes,
        lambda ch: F.size(F.filter(chars, lambda c: c == ch)),
    )
    n = F.size(chars)
    ent = F.when(
        n > 0,
        -F.aggregate(
            counts,
            F.lit(0.0),
            lambda acc, c: acc
            + (c.cast("double") / n) * F.log(c.cast("double") / n),
        ),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col("doc_id").alias("id"),
        n.alias("n_chars"),
        F.size(classes).alias("n_distinct_chars"),
        F.round(ent, 6).alias("entropy"),
    )


def pii_pseudonym_map(df: DataFrame) -> DataFrame:
    """Key-PRESERVING pseudonymization map — the GDPR-shaped complement to
    :func:`redact_pii`: redaction destroys referential integrity (every
    email becomes the same ``<EMAIL>`` token), while entity resolution,
    per-user aggregation and dedup all need "same value → same token"
    ACROSS the corpus. This emits the (kind, value, pseudonym, n_docs,
    n_occurrences) dictionary for every PII value found; applying it is a
    broadcast join + replace, and dropping the map is the
    right-to-erasure step.

    Pseudonym = ``<KIND_h>`` where ``h`` is the portable Horner
    fingerprint of the value mod 1e9+7 — pure arithmetic, identical in
    any engine (the oracle replays it), stable across runs/partitions.
    Collisions are astronomically unlikely at corpus PII cardinalities
    and harmless to the privacy contract (two values sharing a pseudonym
    reveals nothing extra); audit with a distinct-count check on the map
    if the linking use-case demands injectivity.

    Plan shape: one regexp_extract_all per pattern (narrow), explode,
    ONE combiner-reduced (kind, value) aggregation — the shuffle carries
    distinct PII values with counts, never documents.
    """
    extracted = df.select(
        F.col("doc_id"),
        *[
            F.regexp_extract_all(F.col("text"), F.lit(rx), 0).alias(
                f"__m_{name}"
            )
            for name, rx, _ in PII_PATTERNS
        ],
    )
    per_kind = [
        extracted.select(
            "doc_id", F.lit(name).alias("kind"), F.explode(f"__m_{name}").alias("value")
        )
        for name, _rx, _ in PII_PATTERNS
    ]
    from functools import reduce

    melted = reduce(lambda a, b: a.unionByName(b), per_kind)
    return (
        melted.groupBy("kind", "value")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            "kind",
            "value",
            F.concat(
                F.lit("<"),
                F.upper("kind"),
                F.lit("_"),
                T.rolling_fingerprint(F.col("value")).cast("string"),
                F.lit(">"),
            ).alias("pseudonym"),
            "n_docs",
            "n_occurrences",
        )
    )


def nfc_normalize(df: DataFrame) -> DataFrame:
    """REAL Unicode NFC normalization — the canonical-composition pass every
    text pipeline needs BEFORE hashing/dedup (the same user-visible string
    can arrive as 'é' or 'e'+U+0301; unnormalized, exact dedup and
    fingerprints silently treat them as different documents).
    :func:`normalize_text` handles regex-level cleanup; this is the Unicode
    algorithm itself, via Python's ``unicodedata`` in one Arrow stage —
    Spark has no built-in NFC, and the per-batch vectorized call is the
    honest cost (DuckDB's utf8proc ``nfc_normalize`` replays it, which is
    what makes the operator oracle-checkable).

    Narrow: one mapInPandas stage, schema (id, text_nfc), no shuffle.
    """
    import unicodedata

    from pyspark.sql.types import StringType, StructField, StructType

    id_type = df.schema["doc_id"].dataType
    schema = StructType(
        [StructField("doc_id", id_type), StructField("text_nfc", StringType())]
    )

    def run(batches):
        for batch in batches:
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "text_nfc": [
                        None if s is None else unicodedata.normalize("NFC", s)
                        for s in batch["text"]
                    ],
                }
            )

    return df.select("doc_id", "text").mapInPandas(run, schema=schema)


_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|ref_src)="


def canonicalize_urls(df: DataFrame) -> DataFrame:
    """URL canonicalization — the first hop of web-corpus dedup (the same
    page arrives under scheme/host case variants, default ports, tracking
    parameters, shuffled query strings, fragments and trailing slashes;
    CommonCrawl-style pipelines dedup on the canonical form before any
    content hashing). Rules, all JVM-side (``parse_url`` + array ops, no
    UDF):

    - scheme and authority lowercased; default ports stripped
      (``:80`` for http, ``:443`` for https)
    - path: trailing slashes stripped
    - query: tracking parameters dropped (``utm_*``, ``gclid``,
      ``fbclid``, ``msclkid``, ``ref_src``), the rest SORTED
      lexicographically and rejoined; an emptied query drops its ``?``
    - fragment dropped

    Purely a narrow projection — no shuffle; dedup on the result is one
    hash groupBy on a short string. Extension op (SURVEY.md §7): the
    reference has no web-corpus surface at all.
    """
    url = F.col("url")
    scheme = F.lower(F.expr("parse_url(url, 'PROTOCOL')"))
    auth = F.lower(F.expr("parse_url(url, 'AUTHORITY')"))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_replace(
        F.coalesce(F.expr("parse_url(url, 'PATH')"), F.lit("")),
        "/+$",
        "",
    )
    params = F.filter(
        F.split(F.coalesce(F.expr("parse_url(url, 'QUERY')"), F.lit("")), "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(
            F.lit("")
        ),
    )
    return df.withColumn("canonical_url", F.when(url.isNotNull(), canonical))


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str | None = None,
    k: int = 5,
) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et
    al. 2007) — the privacy gate a curation pipeline runs before releasing
    or training on tabular records: every combination of quasi-identifier
    values (an *equivalence class*) should cover at least ``k`` records,
    else those records are re-identifiable by joining the quasi-identifiers
    against an external dataset.

    Output: one row per VIOLATING equivalence class (class size < ``k``),
    with the quasi-identifier values, ``class_size``, and — when
    ``sensitive_col`` is given — ``l_diversity`` (distinct sensitive
    values in the class; 1 means the class leaks its members' sensitive
    value outright even at size ≥ k, so classes with ``l_diversity == 1``
    are ALSO reported regardless of size). NULL counts as a distinct
    sensitive state of its own ("declined to answer" is itself
    disclosive), so an all-NULL class has ``l_diversity = 1`` and is
    reported — plain ``countDistinct`` would skip NULLs, score the class
    0, and silently pass a homogeneous class through the privacy gate.

    Scale: ONE map-side-combined groupBy on the quasi-identifier tuple;
    only (quasi values, count, distinct-sensitive count) rows shuffle —
    never the records. Violating classes are by definition the small tail
    (< k members each), so the report is bounded by the class count, not
    the corpus. Skewed quasi tuples land in big classes, which are the
    NON-violating side — skew does not concentrate in the output.
    """
    if sensitive_col is None:
        agg = df.groupBy(*quasi_cols).agg(
            F.count(F.lit(1)).alias("class_size")
        )
        return agg.filter(F.col("class_size") < k)
    # countDistinct ignores NULLs; add 1 iff the class contains any NULL
    # sensitive value so NULL is a distinct state (never l_diversity = 0).
    agg = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
        (
            F.countDistinct(sensitive_col)
            + F.max(
                F.when(F.col(sensitive_col).isNull(), 1).otherwise(0)
            )
        ).alias("l_diversity"),
    )
    return agg.filter(
        (F.col("class_size") < k) | (F.col("l_diversity") == 1)
    )
