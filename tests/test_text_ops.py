"""Text analysis operators: token stats, quality, language ID, fingerprints."""

import pytest

from iatlas_cbioportal_export_spark.functions.text import STOPWORDS
from iatlas_cbioportal_export_spark.operators.text import (
    fingerprints,
    language_id,
    quality_score,
    token_stats,
)


def test_token_stats(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, ""), (3, "  a b  ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in token_stats(df).collect()}
    assert out[1]["n_tokens"] == 2 and out[1]["mean_token_len"] == 5.0
    assert out[2]["n_tokens"] == 0 and out[2]["mean_token_len"] == 0.0
    assert out[3]["n_tokens"] == 2


def test_language_id_votes(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog for it is that"),
            (2, "der hund und die katze ist nicht ein"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in language_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(1, "the " * 30), (2, "!!!")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in quality_score(df).collect()}
    assert 0.0 <= out[2]["quality_score"] < out[1]["quality_score"] <= 1.0


def test_fingerprint_matches_python_reference(spark):
    text = "spark engine"
    expected = 0
    for ch in text:
        expected = (expected * 31 + ord(ch)) % 1_000_000_007
    df = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
    out = {r["doc_id"]: r["fingerprint"] for r in fingerprints(df).collect()}
    assert out[1] == expected
    assert out[2] == 0


def test_stopword_sets_disjoint_enough():
    # language-ID votes rely on the seed sets not being identical
    assert STOPWORDS["en"] != STOPWORDS["de"]


def test_top_ngrams_counts_and_tiebreak(spark):
    from iatlas_cbioportal_export_spark.operators.text import top_ngrams

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "a b x y"),
        ],
        "doc_id long, text string",
    )
    out = [(r["ngram"], r["n_occurrences"]) for r in top_ngrams(docs, n=2, k=3).collect()]
    # bigrams doc1: "a b","b a","a b","b c"; doc2: "a b","b x","x y"
    assert out[0] == ("a b", 3)
    # ties at count 1 break on ngram string ascending
    assert out[1] == ("b a", 1)
    assert out[2] == ("b c", 1)


@pytest.mark.slow
def test_tf_idf_scores_and_topk(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.text import tf_idf

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["term"]): (r["tf"], r["tf_idf"])
           for r in tf_idf(docs).collect()}
    # apple: tf=2/3 in doc1, df=1, N=2 -> (2/3)*(ln(3/2)+1)
    expected = round((2 / 3) * (math.log(3 / 2) + 1), 6)
    assert out[(1, "apple")] == (2, expected)
    # banana appears in both docs -> idf = ln(3/3)+1 = 1
    assert out[(2, "banana")] == (1, round((1 / 2) * 1.0, 6))
    top1 = tf_idf(docs, top_k=1).collect()
    best = {r["doc_id"]: r["term"] for r in top1}
    assert best[1] == "apple" and best[2] == "cherry"


def test_bm25_ranks_matching_docs(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.text import bm25

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine"),
            (3, "pandas only here"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(7, "spark")], "query_id int, term string")
    out = bm25(docs, q, top_k=10).collect()
    got = {r["doc_id"]: r["bm25"] for r in out}
    # doc 3 has no query term -> absent
    assert set(got) == {1, 2}
    # doc 1 (tf=3) must outrank doc 2 (tf=1)
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert ranks[1] == 1 and ranks[2] == 2
    # exact value for doc 2: N=3, df=2, tf=1, dl=2, avgdl=3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    expect = round(idf * 1 * (1.2 + 1.0) / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / 3)), 6)
    assert got[2] == expect


def test_chunk_documents_windows_and_overlap(spark):
    import pytest

    from iatlas_cbioportal_export_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(7))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
           for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect()}
    # doc 1: 7 tokens, w=4, s=3 -> chunks [0:4), [3:7) -> 2 chunks
    assert out[(1, 0)] == (4, "t0 t1 t2 t3")
    assert out[(1, 1)] == (4, "t3 t4 t5 t6")
    # doc 2 fits in one window; doc 3 empty -> no chunks
    assert out[(2, 0)] == (2, "a b")
    assert {k[0] for k in out} == {1, 2}
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_pack_sequences_offsets_and_bins(spark):
    from iatlas_cbioportal_export_spark.operators.text import pack_token_budget_bins as pack_sequences

    df = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),        # 4 tokens, offset 0, bin 0
            (2, "e f g h i j", "s1"),    # 6 tokens, offset 4, bin 0
            (3, "k l m", "s1"),          # offset 10, bin 1 (budget 8)
            (10, "x y", "s2"),           # offset 0 in its own stratum
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, budget_tokens=8).collect()}
    assert (out[1]["start_offset"], out[1]["bin_id"]) == (0, 0)
    assert (out[2]["start_offset"], out[2]["bin_id"]) == (4, 0)
    assert (out[3]["start_offset"], out[3]["bin_id"]) == (10, 1)
    assert (out[10]["start_offset"], out[10]["bin_id"]) == (0, 0)
    assert out[10]["stratum"] == "s2"


def test_pack_sequences_deterministic_under_partitioning(spark):
    from iatlas_cbioportal_export_spark.operators.text import pack_token_budget_bins as pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 5 + 1)), f"s{i % 3}") for i in range(60)],
        "doc_id long, text string, source string",
    )
    a = sorted(map(tuple, pack_sequences(df, budget_tokens=7).collect()))
    b = sorted(
        map(tuple, pack_sequences(df.repartition(13), budget_tokens=7).collect())
    )
    assert a == b


def test_hashed_embedding_counts_and_norm(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.text import hashed_embedding
    from iatlas_cbioportal_export_spark.functions.text import _FP_BASE, _FP_MOD

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in hashed_embedding(df, dim=8).collect()}

    def bucket(tok):
        acc = 0
        for ch in tok:
            acc = (acc * _FP_BASE + ord(ch)) % _FP_MOD
        return acc % 8

    assert bucket("a") != bucket("b")  # fixture sanity: no collision
    vec = out[1]["embedding"]
    assert vec[bucket("a")] == 2.0 / math.sqrt(5) and vec[bucket("b")] == 1.0 / math.sqrt(5)
    assert sum(v > 0 for v in vec) == 2 and out[1]["n_tokens"] == 3
    assert out[2]["embedding"] == [0.0] * 8 and out[2]["n_tokens"] == 0


def test_hashed_embedding_normalized_unit_length(spark):
    import math
    from iatlas_cbioportal_export_spark.operators.text import hashed_embedding

    df = spark.createDataFrame([(1, "x y z x")], "doc_id long, text string")
    vec = hashed_embedding(df, dim=16).collect()[0]["embedding"]
    assert math.isclose(sum(v * v for v in vec), 1.0, rel_tol=1e-9)


@pytest.mark.slow
def test_hashed_embedding_feeds_similarity_ops(spark):
    # the text→embed→near-dup bridge: identical docs get identical vectors
    import pyspark.sql.functions as F
    from iatlas_cbioportal_export_spark.operators.similarity import (
        embedding_near_duplicates,
    )
    from iatlas_cbioportal_export_spark.operators.text import hashed_embedding

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    emb = hashed_embedding(docs, dim=16).withColumnRenamed("doc_id", "vec_id")
    pairs = embedding_near_duplicates(emb, dim=16, threshold=0.999, num_planes=8)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


def test_unigram_logprob_ranks_rare_below_common(spark):
    import math
    from iatlas_cbioportal_export_spark.operators.text import unigram_logprob_score

    df = spark.createDataFrame(
        [
            (1, "the the the the"),        # all mode tokens
            (2, "the the rareword"),       # mixes in a singleton
            (3, ""),                        # empty: OOV floor
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob_score(df).collect()}
    assert out[1]["mean_logprob"] > out[2]["mean_logprob"]
    assert out[3]["n_tokens"] == 0
    assert math.isclose(out[3]["mean_logprob"], math.log10(1e-9), rel_tol=1e-6)
    # hand-check doc 1: p(the) = 6/7
    assert math.isclose(
        out[1]["mean_logprob"], math.log10(6 / 7), abs_tol=1e-6
    )


@pytest.mark.slow
def test_unigram_logprob_partitioning_invariant(spark):
    from iatlas_cbioportal_export_spark.operators.text import unigram_logprob_score

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j % 11}" for j in range(i % 17 + 3))) for i in range(80)],
        "doc_id long, text string",
    )
    a = sorted(
        (r["doc_id"], r["n_tokens"], r["sum_logprob"])
        for r in unigram_logprob_score(df).collect()
    )
    b = sorted(
        (r["doc_id"], r["n_tokens"], r["sum_logprob"])
        for r in unigram_logprob_score(df.repartition(13)).collect()
    )
    assert a == b


def test_length_histogram_bins(spark):
    from iatlas_cbioportal_export_spark.operators.text import length_histogram

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, " ".join(["w"] * 250)), (4, "")],
        "doc_id long, text string",
    )
    out = {r["bin"]: r for r in length_histogram(df, max_tokens=100, num_bins=10).collect()}
    # 3 tokens -> bin 1 ([0,10)); 250 tokens -> overflow bin 11; 0 -> bin 1
    assert out[1]["n_docs"] == 3
    assert out[11]["n_docs"] == 1
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-6


def test_bigram_logprob_interpolated_model(spark):
    import math
    from iatlas_cbioportal_export_spark.operators.text import bigram_logprob_score

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_logprob_score(df, lambda_interp=0.7).collect()}
    # corpus: unigrams a:3 b:3 x:1 (T=7); bigrams (a,b):3 (b,a):1
    lam, one_m = 0.7, 1.0 - 0.7
    p_ab = lam * 3 / 3 + one_m * 3 / 7
    p_ba = lam * 1 / 3 + one_m * 3 / 7
    exp1 = round((2 * math.log10(p_ab) + math.log10(p_ba)) / 3, 6)
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["mean_logprob"] - exp1) < 2e-6
    assert out[2]["n_bigrams"] == 1
    # single-token doc: zero bigrams, floor score
    assert out[3]["n_bigrams"] == 0 and out[3]["mean_logprob"] == -9.0


def _ref_bpe(texts, k):
    # pure-Python reference: word-type BPE with greedy left-to-right merge
    from collections import Counter, defaultdict

    wf = Counter(w for t in texts for w in t.split())
    state = {w: list(w) for w in wf}
    merges = []
    for _ in range(k):
        pc = Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        (a, b), cnt = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((a, b, cnt))
        for w, syms in state.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            state[w] = out
    sym = defaultdict(int)
    for w, syms in state.items():
        for s in syms:
            sym[s] += wf[w]
    return merges, dict(sym)


def test_bpe_train_matches_python_reference(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        bpe_symbol_table,
        bpe_train_merges,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "widow window low",
    ]
    ref_merges, ref_syms = _ref_bpe(texts, 5)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, state = bpe_train_merges(df, n_merges=5)
    assert merges == ref_merges
    got = {
        r["symbol"]: r["freq"] for r in bpe_symbol_table(state).collect()
    }
    assert got == ref_syms


def test_bpe_overlapping_pair_merges_at_even_offsets(spark):
    from iatlas_cbioportal_export_spark.operators.text import bpe_train_merges

    # "aaaa" with best pair (a,a): greedy left-to-right gives [aa, aa]
    df = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    merges, state = bpe_train_merges(df, n_merges=1)
    assert merges[0][:2] == ("a", "a")
    syms = {r["word"]: r["syms"] for r in state.collect()}
    assert syms["aaaa"] == ["aa", "aa"]
    assert syms["aaa"] == ["aa", "a"]


def test_bpe_segment_stats_narrow_apply(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        bpe_segment_stats,
    )

    df = spark.createDataFrame(
        [(1, "lower low"), (2, ""), (3, "xyz")], "doc_id long, text string"
    )
    merges = [("o", "w"), ("l", "ow")]
    out = {r["id"]: r for r in bpe_segment_stats(df, merges).collect()}
    # "lower" -> l ow e r -> low e r (3 subwords); "low" -> low (1)
    assert (out[1]["n_tokens"], out[1]["n_subwords"]) == (2, 4)
    assert (out[2]["n_tokens"], out[2]["n_subwords"]) == (0, 0)
    assert out[2]["seg_fingerprint"] == 0
    # no merges applicable: subwords == chars
    assert (out[3]["n_tokens"], out[3]["n_subwords"]) == (1, 3)
    # fingerprint is order-sensitive: reversed token order differs
    df2 = spark.createDataFrame([(9, "low lower")], "doc_id long, text string")
    fp2 = bpe_segment_stats(df2, merges).collect()[0]["seg_fingerprint"]
    assert fp2 != out[1]["seg_fingerprint"]


@pytest.mark.slow
def test_cooccurrence_pmi_counts_and_window(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.text import (
        cooccurrence_pmi,
    )

    # "a b c a" window 2: pairs (a,b),(a,c),(b,c),(b,a),(c,a)
    df = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    out = {
        (r["a"], r["b"]): (r["pair_count"], r["pmi"])
        for r in cooccurrence_pmi(df, window=2, top_n=100).collect()
    }
    assert {k: v[0] for k, v in out.items()} == {
        ("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1,
        ("b", "a"): 1, ("c", "a"): 1,
    }
    # pmi(a,b) = ln((1/5) / ((2/4)*(1/4)))
    assert out[("a", "b")][1] == round(
        math.log((1 / 5) / ((2 / 4) * (1 / 4))), 6
    )
    # window=1: only adjacent pairs
    adj = cooccurrence_pmi(df, window=1, top_n=100).count()
    assert adj == 3


def test_vocabulary_growth_nested_and_monotone(spark):
    from iatlas_cbioportal_export_spark.operators.text import vocabulary_growth

    rows = [(i, f"tok{i} shared common") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["fraction_bp"]: r
        for r in vocabulary_growth(df, fractions=(0.25, 0.5, 1.0)).collect()
    }
    assert set(out) == {2500, 5000, 10000}
    # full corpus: every doc sampled, vocab = 200 unique + 2 shared
    assert out[10000]["n_docs"] == 200
    assert out[10000]["vocab_size"] == 202
    # nested prefixes: both counts monotone non-decreasing in the fraction
    assert out[2500]["n_docs"] <= out[5000]["n_docs"] <= 200
    assert out[2500]["vocab_size"] <= out[5000]["vocab_size"] <= 202
    # each sampled doc contributes its unique token; shared tokens appear
    # as soon as the sample is non-empty
    assert out[2500]["vocab_size"] == out[2500]["n_docs"] + 2


def test_vocabulary_growth_matches_manual_membership(spark):
    from iatlas_cbioportal_export_spark.operators.sampling import (
        _BUCKETS,
        _KNUTH,
        _MOD,
    )
    from iatlas_cbioportal_export_spark.operators.text import vocabulary_growth

    rows = [(i, f"w{i % 7}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["fraction_bp"]: r
        for r in vocabulary_growth(df, fractions=(0.5,)).collect()
    }
    ids = [i for i in range(50) if ((i * _KNUTH) % _MOD) % _BUCKETS < 5000]
    assert out[5000]["n_docs"] == len(ids)
    assert out[5000]["vocab_size"] == len({i % 7 for i in ids})


def test_inverted_index_gates_and_postings(spark):
    from iatlas_cbioportal_export_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "banana cherry date"),
            (4, "unique1 unique2"),
        ],
        "doc_id long, text string",
    )
    # min_df=2 drops hapax (apple appears in 1 doc; date/uniques too);
    # max_df_ratio=0.6 drops banana (df 3 > 2.4 -> max_df=2 ... int(4*0.6)=2)
    out = {
        r["term"]: (r["df"], r["postings"])
        for r in inverted_index(docs, min_df=2, max_df_ratio=0.6).collect()
    }
    assert out == {"cherry": (2, [2, 3])}


def test_inverted_index_bigrams(spark):
    from iatlas_cbioportal_export_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    out = {
        r["term"]: r["postings"]
        for r in inverted_index(
            docs, min_df=1, max_df_ratio=1.0, ngram=2
        ).collect()
    }
    # doc 3 has a single token -> no bigrams (guard, not a crash)
    assert out == {"a b": [1, 2], "b c": [1]}


def test_quality_classifier_features_and_gate(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.text import (
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat in a hat for fun and profit " * 6),
            (2, "@@@@ #### $$$$ %%%%"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    # doc 1: english-looking, long -> keep; doc 2: no alpha, no stopwords.
    assert rows[1]["keep"] and rows[1]["quality_prob"] > rows[2]["quality_prob"]
    assert rows[2]["alpha_ratio"] == 0.0 and rows[2]["stopword_ratio"] == 0.0
    # doc 3 (empty): all features 0, prob = sigmoid(-1)
    assert rows[3]["mean_word_len"] == 0.0
    assert abs(rows[3]["quality_prob"] - round(1 / (1 + math.exp(1)), 6)) < 1e-9
    assert not rows[3]["keep"]


@pytest.mark.slow
def test_cosine_pairs_exact_duplicates_and_threshold(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        cosine_similarity_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "alpha beta gamma alpha"),      # exact dup of 1 → cos 1.0
            (3, "alpha alpha beta beta gamma"), # high overlap with 1/2
            (4, "delta epsilon zeta"),          # disjoint vocabulary
            (5, "unique_token_only"),           # df=1 terms only → no pairs
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in cosine_similarity_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)]["cosine"] == 1.0
    # tf1=(2,1,1), tf3=(2,2,1): dot=2*2+1*2+1*1=7, na=6, nb=9 → 7/sqrt(54)=.952579
    assert rows[(1, 3)]["dot"] == 7 and rows[(1, 3)]["cosine"] == 0.952579
    assert all(a != 4 and b != 4 for a, b in rows)
    assert all(a != 5 and b != 5 for a, b in rows)


@pytest.mark.slow
def test_cosine_pairs_integer_gate_boundary(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        cosine_similarity_pairs,
    )

    # cos(1,2) is exactly 7/sqrt(54) ≈ 0.9525793...; a threshold a hair
    # above/below must flip membership via the INTEGER gate, not a float
    # compare: t=0.9526 → 49·t_den < t_num·54 drops it, t=0.9525 keeps it.
    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "alpha alpha beta beta gamma")],
        "doc_id long, text string",
    )
    keep = cosine_similarity_pairs(df, threshold=0.9525).collect()
    drop = cosine_similarity_pairs(df, threshold=0.9526).collect()
    assert len(keep) == 1 and len(drop) == 0


@pytest.mark.slow
def test_cosine_pairs_max_df_cap_drops_hot_terms(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        cosine_similarity_pairs,
    )

    # "common" appears in all 4 docs. Norms stay full-vector: the (1,2)
    # cosine still counts "common" in the lengths.
    df = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common rare"),
            (3, "common other"),
            (4, "common more"),
        ],
        "doc_id long, text string",
    )
    uncapped = cosine_similarity_pairs(df, threshold=0.5, exact=True).collect()
    assert len(uncapped) == 6  # all pairs share "common" at cos ≥ 0.5
    # the DEFAULT path applies the fractional cap: "common" has df=4 over a
    # 4-doc corpus > ceil(0.5*4)=2, so it can no longer link pairs — the
    # dense-vocabulary quadratic blowup is fenced off unless exact=True.
    default = cosine_similarity_pairs(df, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in default} == {(1, 2)}


@pytest.mark.slow
def test_cosine_pairs_default_cap_fences_dense_vocabulary(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        cosine_similarity_pairs,
    )

    # Planted dense vocabulary: 200 docs all sharing the same 5 hot terms
    # (df=200 each) would form 200*199/2 = 19900 candidate pairs under the
    # exact path. The default df-cap (ceil(0.5*200)=100) drops all five hot
    # terms, so only the two docs sharing a rare term pair up — candidate
    # volume collapses from ~20k to 1 without any explicit parameter.
    rows = [(i, "hot1 hot2 hot3 hot4 hot5") for i in range(200)]
    rows[7] = (7, "hot1 hot2 hot3 hot4 hot5 rareterm")
    rows[13] = (13, "hot1 hot2 hot3 hot4 hot5 rareterm")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = cosine_similarity_pairs(df, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {(7, 13)}
    # full-vector norms: cosine of the surviving pair is exact —
    # identical 6-term docs → 1.0.
    assert got[0]["cosine"] == 1.0
    # exact path still finds everything (spot-check the count only).
    n_exact = cosine_similarity_pairs(
        df.filter("doc_id < 30"), threshold=0.5, exact=True
    ).count()
    assert n_exact == 30 * 29 / 2


@pytest.mark.slow
def test_naive_bayes_separable_classes(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        naive_bayes_train_apply,
    )

    # Train docs (id%5!=0) carry disjoint vocabularies per class; test docs
    # (id%5==0) reuse them, so a correct NB must classify all perfectly.
    rows = []
    for i in (1, 2, 3, 4):
        rows.append((i, "aaa bbb aaa ccc", "en"))
    for i in (6, 7, 8, 9):
        rows.append((i, "xxx yyy xxx zzz", "de"))
    rows.append((5, "aaa ccc bbb", "en"))
    rows.append((10, "yyy zzz xxx", "de"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in naive_bayes_train_apply(df).collect()}
    assert set(out) == {5, 10}
    assert out[5]["pred_label"] == "en" and out[5]["correct"]
    assert out[10]["pred_label"] == "de" and out[10]["correct"]


@pytest.mark.slow
def test_naive_bayes_oov_and_empty_fall_back_to_prior(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        naive_bayes_train_apply,
    )

    # 3 "en" train docs vs 1 "de": an all-OOV test doc and an EMPTY test
    # doc must both argmax the prior-dominant class. The OOV doc's tokens
    # hit the per-class default likelihood; with equal totals the prior
    # decides. The empty doc scores prior-only.
    rows = [
        (1, "aaa bbb", "en"),
        (2, "aaa bbb", "en"),
        (3, "aaa bbb", "en"),
        (4, "xxx yyy", "de"),
        (5, "qqq rrr", "en"),   # all-OOV
        (10, "", "en"),         # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in naive_bayes_train_apply(df).collect()}
    assert set(out) == {5, 10}
    assert out[5]["pred_label"] == "en"
    assert out[10]["pred_label"] == "en"
    import math

    assert abs(out[10]["score_pred"] - math.log10(3 / 4)) < 1e-6


def test_repetition_metrics_gopher_readout(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        repetition_metrics,
    )

    df = spark.createDataFrame(
        [
            # "ab cd" appears 3x as a 2-gram; "ab cd ab" 3-gram twice
            (1, "ab cd ab cd ab cd"),
            (2, "x y z w"),          # no repeated grams
            (3, "solo"),             # single word: whole-seq shingles
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    r1 = out[1]
    assert r1["n_words"] == 6 and r1["word_chars"] == 12
    assert r1["top_2gram"] == "ab cd" and r1["top_2gram_count"] == 3
    # top-2gram chars = 3 occurrences * 4 word chars = 12 of 12 → 1e6 ppm
    assert r1["top_2gram_char_ppm"] == 1_000_000
    # 3-grams: "ab cd ab" x2, "cd ab cd" x2, total occurrence chars 4*6=24,
    # dup chars 24 → 1e6 ppm
    assert r1["dup_3gram_char_ppm"] == 1_000_000
    r2 = out[2]
    assert r2["top_2gram_count"] == 1 and r2["dup_3gram_char_ppm"] == 0
    # tie on count=1 → lexicographically smallest 2-gram
    assert r2["top_2gram"] == "x y"
    r3 = out[3]
    assert r3["n_words"] == 1 and r3["top_2gram"] == "solo"


@pytest.mark.slow
def test_cosine_exact_dense_kernel_matches_postings_join(spark, monkeypatch):
    from iatlas_cbioportal_export_spark.operators.text import (
        cosine_similarity_pairs,
    )

    rows = [
        (1, "apple banana apple cherry"),
        (2, "apple banana apple cherry"),      # exact dup of 1
        (3, "apple banana cherry cherry"),     # near 1/2
        (4, "banana banana uniqword apple"),   # df=1 term in the norm
        (5, "zzz yyy xxx"),                    # all df=1 -> no pairs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kern = sorted(
        map(tuple, cosine_similarity_pairs(df, 0.8, exact=True).collect())
    )
    # an oversized slice: the kernel declines and the postings join runs
    from iatlas_cbioportal_export_spark.operators import text as text_mod

    monkeypatch.setattr(text_mod, "_dense_exact_cosine_pairs", lambda *a, **k: None)
    join = sorted(
        map(tuple, cosine_similarity_pairs(df, 0.8, exact=True).collect())
    )
    assert kern == join
    assert any(a == 1 and b == 2 for a, b, *_ in kern)


def test_cosine_exact_dense_kernel_falls_back_when_oversized(spark):
    from iatlas_cbioportal_export_spark.operators import text as text_mod

    df = spark.createDataFrame(
        [(i, "shared words here plus w%d" % i) for i in range(20)],
        "doc_id long, text string",
    )
    # force the guard: a tf-row budget smaller than the corpus
    out = text_mod._dense_exact_cosine_pairs(
        df.selectExpr("doc_id", "'t' as term", "1 as tf"), "doc_id",
        max_entries=5,
    )
    assert out is None
    out2 = text_mod._dense_exact_cosine_pairs(
        df.selectExpr("doc_id", "concat('t', doc_id) as term", "1 as tf"),
        "doc_id",
        max_vocab=1,
    )
    # 20 distinct terms but all df=1 -> kept vocab 0 <= 1: kernel engages
    assert out2 is not None and out2.count() == 0


# ---------------------------------------------------------------------------
# trigram stupid backoff (round 7)
# ---------------------------------------------------------------------------


def test_trigram_backoff_exercises_every_tier(spark):
    import math

    from iatlas_cbioportal_export_spark.operators.text import (
        trigram_backoff_score,
    )

    docs = spark.createDataFrame(
        [(0, "a b c e b c d"), (1, "a b c d")], "doc_id long, text string"
    )
    model = docs.filter("doc_id = 1")
    rows = {
        r.doc_id: r for r in trigram_backoff_score(docs, model=model).collect()
    }
    # doc 1 = the training text: both trigrams seen, ratio 1 -> log 0
    assert rows[1].n_trigrams == 2 and rows[1].mean_logprob == 0.0
    # doc 0 walks every tier: seen trigram (x2), floor, unigram backoff,
    # bigram backoff
    expected = (
        0.0                                 # (a,b,c): 1/1
        + math.log10(1e-9)                  # (b,c,e): e unseen anywhere
        + math.log10(0.4 * 0.4 * 1 / 4)    # (c,e,b): unigram tier, c(b)=1 T=4
        + math.log10(0.4 * 1 / 1)          # (e,b,c): bigram tier, c(bc)/c(b)
        + 0.0                               # (b,c,d): 1/1
    ) / 5
    assert rows[0].n_trigrams == 5
    assert rows[0].mean_logprob == round(expected, 6)


def test_trigram_backoff_short_docs_floor(spark):
    from iatlas_cbioportal_export_spark.operators.text import (
        trigram_backoff_score,
    )

    docs = spark.createDataFrame(
        [(0, "only two"), (1, "a b c")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in trigram_backoff_score(docs).collect()}
    assert rows[0].n_trigrams == 0 and rows[0].mean_logprob == -9.0
    assert rows[1].n_trigrams == 1
