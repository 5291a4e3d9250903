"""LLM-pipeline operator tests on synthetic in-memory documents."""

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s0", 43),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s0", 43),  # exact dup
        (2, "the quick brown fox jumps over a lazy dog", "en", "s1", 41),  # near dup
        (3, "der hund und die katze sind nicht da", "de", "s1", 36),
        (4, "completely different text about spark engines", "en", "s2", 45),
    ]
    return spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def test_exact_dedup(docs):
    from icebug_spark.llm.dedup import exact_duplicates

    groups = {r["keep_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert groups[0] == 2  # docs 0,1 identical
    assert groups[2] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    from icebug_spark.llm.dedup import ngram_jaccard_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 4) not in pairs


def test_minhash_lsh_recovers_exact_dup(docs):
    from icebug_spark.llm.dedup import minhash_lsh_duplicates

    pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_duplicates(docs, threshold=0.9).collect()
    }
    assert (0, 1) in pairs


def _near_dup_corpus(spark, n_docs=40, seed=7):
    """Seeded documents over a 60-word vocabulary: every 5th doc is an
    exact copy of its predecessor, every 3rd an earlier doc with 1-3
    tokens replaced, so exact, near and unrelated pairs all occur; every
    7th doc's words are double-spaced. → (documents, token lists)."""
    import random

    rnd = random.Random(seed)
    words = [f"w{i}" for i in range(60)]
    texts = []
    for i in range(n_docs):
        if i and i % 5 == 0:
            t = list(texts[-1])
        elif i and i % 3 == 0:
            t = list(texts[rnd.randrange(i)])
            for p in rnd.sample(range(len(t)), rnd.randint(1, 3)):
                t[p] = rnd.choice(words)
        else:
            t = [rnd.choice(words) for _ in range(rnd.randint(8, 20))]
        texts.append(t)
    rows = [(i, "  ".join(t) if i % 7 == 0 else " ".join(t)) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING"), texts


def test_minhash_signatures_in_row_equals_shingle_path(docs):
    """The documents path and the precomputed-shingle path build the same
    signature for every doc."""
    from icebug_spark.llm.dedup import minhash_signatures, shingles

    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(docs).collect()}
    via = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(docs, shingle_df=shingles(docs)).collect()
    }
    assert got == via and len(got) == 5 and all(len(s) == 16 for s in got.values())


def test_minhash_lsh_jaccard_equals_python_sets(spark):
    """Every verified pair carries the exact Jaccard of the two docs'
    distinct trigram sets, rounded half-up at 6 dp as Spark's round is;
    every identical pair is found and no pair is below the threshold."""
    from decimal import ROUND_HALF_UP, Decimal

    from icebug_spark.llm.dedup import minhash_lsh_duplicates

    df, toks = _near_dup_corpus(spark)
    sets = [{" ".join(t[j : j + 3]) for j in range(len(t) - 2)} for t in toks]

    def jac(a, b):
        x = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_duplicates(df, threshold=0.3).collect()
    }
    assert got and all(v == jac(a, b) and v >= 0.3 for (a, b), v in got.items())
    ident = {
        (a, b) for a in range(len(sets)) for b in range(a + 1, len(sets)) if sets[a] == sets[b]
    }
    assert ident and ident <= set(got)
    assert any(v < 1.0 for v in got.values())


def test_simhash_identical_for_dups(docs):
    from icebug_spark.llm.dedup import simhash

    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert h[0] == h[1]
    assert h[0] != h[4]


def test_language_id(docs):
    from icebug_spark.llm.textstats import language_id

    pred = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert pred[0] == "en"
    assert pred[3] == "de"


def test_text_stats(docs):
    from icebug_spark.llm.textstats import text_stats

    st = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert st[0]["n_tokens"] == 9
    assert st[0]["n_chars_measured"] == 43


def test_cosine_topk_self_similarity(spark):
    from icebug_spark.llm.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0]),    # orthogonal to 0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = cosine_topk(emb, query_filter=lambda c: c == 0, k=2).collect()
    assert [r["vec_id"] for r in sorted(top, key=lambda r: r["rnk"])] == [1, 2]


def test_cosine_topk_bit_identical_to_per_pair_norms(spark):
    """Per-vector norms give every cosine bit-for-bit the value of the
    per-pair formula round(dot / (sqrt(|q|^2) * sqrt(|v|^2)), 6), and
    equal cosines rank by vec_id."""
    import random

    from pyspark.sql import functions as F

    from icebug_spark.llm.similarity import _dot, _norm2, cosine_topk

    rnd = random.Random(11)
    vecs = [[rnd.gauss(0.0, 1.0) for _ in range(64)] for _ in range(200)]
    for i in (50, 51, 120):  # exact copies of a probe's neighbour: tied cosines
        vecs[i] = list(vecs[7])
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    probes = [3, 7, 150]
    got = cosine_topk(emb, lambda c: c.isin(probes), k=200).collect()
    q = emb.where(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    old = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in q.crossJoin(emb)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("qemb"), F.col("embedding"))
                / (F.sqrt(_norm2(F.col("qemb"))) * F.sqrt(_norm2(F.col("embedding")))),
                6,
            ).alias("cosine"),
        )
        .collect()
    }
    assert len(got) == len(old) == 3 * 199
    assert all(r["cosine"] == old[(r["query_id"], r["vec_id"])] for r in got)
    for p in probes:
        ranked = sorted((r for r in got if r["query_id"] == p), key=lambda r: r["rnk"])
        assert [r["rnk"] for r in ranked] == list(range(1, 200))
        assert [r["vec_id"] for r in ranked] == [
            v for _, v in sorted((-r["cosine"], r["vec_id"]) for r in ranked)
        ]
    ties = [r for r in got if r["query_id"] == 3 and r["vec_id"] in (7, 50, 51, 120)]
    assert len({r["cosine"] for r in ties}) == 1
    assert [r["vec_id"] for r in sorted(ties, key=lambda r: r["rnk"])] == [7, 50, 51, 120]


def test_repetition_filter_flags_repeats(spark):
    from icebug_spark.llm.textstats import repetition_filter

    docs = spark.createDataFrame(
        [
            (0, "clean text with varied words here", "s"),
            (1, "dup line\ndup line\ndup line\nunique", "s"),
            (2, "spam spam spam spam spam spam", "s"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    out = {r["doc_id"]: r for r in repetition_filter(docs).collect()}
    assert out[0]["keep"] is True
    assert out[1]["dup_line_frac"] == 0.5 and out[1]["keep"] is False
    assert out[2]["top_ngram_frac"] == 1.0 and out[2]["keep"] is False


def test_benchmark_contamination(spark):
    from icebug_spark.llm.textstats import benchmark_contamination

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog", "s"),
            (1, "completely different words in this one entirely", "s"),
            (2, "quick brown fox jumps over something else now", "s"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "bench_id LONG, text STRING",
    )
    hits = {(r["doc_id"], r["bench_id"]): r["n_shared"]
            for r in benchmark_contamination(docs, bench, n=3, min_overlap=2).collect()}
    assert (0, 100) in hits          # exact copy flagged
    assert (2, 100) in hits          # partial overlap flagged
    assert (1, 100) not in hits      # clean doc passes


def test_dedup_clusters_transitive(spark):
    """A~B and B~C must land in ONE cluster with one survivor, even
    though pair (A, C) was never scored; untouched docs are singleton
    keepers."""
    from icebug_spark.llm.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id BIGINT")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a BIGINT, b BIGINT"
    )
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in dedup_clusters(docs, pairs).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[7] == (7, True) and out[8] == (7, False)
    for single in (4, 5, 6):
        assert out[single] == (single, True)


def test_exact_duplicate_pairs_star(spark):
    from icebug_spark.llm.dedup import dedup_clusters, exact_duplicate_pairs

    docs = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world "), (3, "unique"), (4, "HELLO WORLD")],
        "doc_id BIGINT, text STRING",
    )
    pairs = sorted((r["a"], r["b"]) for r in exact_duplicate_pairs(docs).collect())
    assert pairs == [(1, 2), (1, 4)]
    m = {r["doc_id"]: r["keep"] for r in dedup_clusters(docs, exact_duplicate_pairs(docs)).collect()}
    assert m == {1: True, 2: False, 3: True, 4: False}


def test_dedup_clusters_survivor_is_present_doc(spark):
    """If the cluster's min id was filtered out of `documents` upstream,
    the min PRESENT doc must become the survivor — not zero survivors."""
    from icebug_spark.llm.dedup import dedup_clusters

    docs = spark.createDataFrame([(9,), (12,)], "doc_id BIGINT")
    pairs = spark.createDataFrame([(5, 9), (9, 12)], "a BIGINT, b BIGINT")
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in dedup_clusters(docs, pairs).collect()}
    assert out == {9: (9, True), 12: (9, False)}


def test_scrub_pii_masks_and_counts(spark):
    from icebug_spark.llm.scrub import scrub_pii, scrub_summary

    docs = spark.createDataFrame(
        [
            (0, "mail a.b+c@corp.example.org now"),
            (1, "card 4111-1111-1111-1111 and ssn 123-45-6789"),
            (2, "call +1-555-123-4567 from 10.0.0.1 or 192.168.1.200"),
            (3, "clean text, nothing to see"),
            (4, "two mails x@y.io z@w.ai one ip 8.8.8.8"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[0]["text_scrubbed"] == "mail <EMAIL> now"
    # CC masked BEFORE the SSN pattern can eat its tail
    assert out[1]["text_scrubbed"] == "card <CC> and ssn <SSN>"
    assert out[1]["n_cc"] == 1 and out[1]["n_ssn"] == 1
    assert out[2]["text_scrubbed"] == "call <PHONE> from <IP> or <IP>"
    assert out[2]["n_phone"] == 1 and out[2]["n_ipv4"] == 2
    assert out[3]["text_scrubbed"] == "clean text, nothing to see"
    assert all(out[3][f"n_{c}"] == 0 for c in ("email", "cc", "ssn", "phone", "ipv4"))
    assert out[4]["n_email"] == 2 and out[4]["n_ipv4"] == 1

    s = scrub_summary(docs).collect()[0]
    assert s["total_email"] == 3 and s["total_ipv4"] == 3
    assert s["n_docs_with_pii"] == 4 and s["n_docs"] == 5


def test_duplicated_span_stats_exactsubstr(spark):
    from icebug_spark.llm.dedup import duplicated_span_stats

    rows = [
        # docs 10/11 share the 8-token prefix "a b c d e f g h";
        # doc 10's tail "x1 x2" and doc 11's tail "y1 y2" are unique
        (10, "a b c d e f g h x1 x2", "en", "s0", 21),
        (11, "a b c d e f g h y1 y2", "en", "s0", 21),
        # within-doc repetition: the 8-gram "r r r r r r r r" occurs
        # 3 times inside one 10-token run of r's -> all 10 covered
        (12, "r r r r r r r r r r", "en", "s1", 19),
        (13, "totally unique short doc", "en", "s1", 24),
        (14, "   ", "en", "s2", 3),  # blank
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r["doc_id"]: r for r in duplicated_span_stats(docs, k=8).collect()}
    assert out[10]["n_tokens"] == 10 and out[10]["dup_tokens"] == 8
    assert abs(out[10]["dup_frac"] - 0.8) < 1e-9
    assert out[11]["dup_tokens"] == 8
    assert out[12]["dup_tokens"] == 10  # run repetition covers everything
    assert out[13]["dup_tokens"] == 0
    assert out[14]["n_tokens"] == 0 and out[14]["dup_frac"] == 0.0


def test_remove_duplicated_spans(spark):
    from icebug_spark.llm.dedup import remove_duplicated_spans

    rows = [
        (10, "a b c d e f g h x1 x2", "en", "s0", 21),
        (11, "a b c d e f g h y1 y2", "en", "s0", 21),
        (12, "r r r r r r r r r r", "en", "s1", 19),
        (13, "totally unique short doc", "en", "s1", 24),
        (14, "   ", "en", "s2", 3),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, k=8).collect()}
    # survivors keep original order
    assert out[10]["clean_text"] == "x1 x2"
    assert out[11]["clean_text"] == "y1 y2"
    assert out[12]["clean_text"] == "" and out[12]["n_removed"] == 10
    assert out[13]["clean_text"] == "totally unique short doc"
    assert out[14]["clean_text"] == "" and out[14]["n_removed"] == 0


def test_lm_perplexity_bigram_math(spark):
    from math import log

    from icebug_spark.llm.textstats import lm_perplexity

    rows = [
        (0, "a b a b", "en", "s0", 7),
        (1, "a b", "en", "s0", 3),
        (2, "z", "en", "s0", 1),   # 1 token -> no bigrams
        (3, "  ", "en", "s0", 2),  # blank
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r["doc_id"]: r for r in lm_perplexity(docs, k=0.5).collect()}
    # corpus bigrams: (a,b)x3, (b,a)x1; contexts: a->3, b->1; V=3 (a,b,z)
    p_ab = (3 + 0.5) / (3 + 0.5 * 3)
    p_ba = (1 + 0.5) / (1 + 0.5 * 3)
    exp0 = -(2 * log(p_ab) + log(p_ba)) / 3
    assert out[0]["n_bigrams"] == 3
    assert abs(out[0]["avg_nll"] - exp0) < 1e-5
    assert abs(out[1]["avg_nll"] + log(p_ab)) < 1e-5
    assert out[2]["n_bigrams"] == 0 and out[2]["avg_nll"] == 0.0
    assert out[3]["n_bigrams"] == 0


def test_duplicated_span_guards(spark):
    from icebug_spark.llm.dedup import duplicated_span_stats

    docs = spark.createDataFrame(
        [(0, "a b", "en", "s", 3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    with pytest.raises(ValueError):
        duplicated_span_stats(docs, k=0)
    with pytest.raises(ValueError):
        duplicated_span_stats(docs, k=8, min_count=0)
    # k=1 degenerates to single-token duplication and still works
    one = {
        r["doc_id"]: r["dup_tokens"]
        for r in duplicated_span_stats(docs, k=1, min_count=2).collect()
    }
    assert one[0] == 0


def test_dsir_log_weights_direction(spark):
    from icebug_spark.llm.textstats import dsir_log_weights, quality_score

    # long clean docs (keep=True) share vocabulary; a short doc (filtered
    # from the target LM) built from OTHER words gets a negative weight
    good = "clean prose with many ordinary readable words " * 4
    rows = [
        (0, good.strip(), "en", "s", 10),
        (1, (good + "extra tokens here").strip(), "en", "s", 10),
        (2, "12 34 56 78 99 00 11 22", "en", "s", 10),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    keep = {r["doc_id"]: r["keep"] for r in quality_score(docs).collect()}
    assert keep[0] and keep[1] and not keep[2]
    out = {r["doc_id"]: r for r in dsir_log_weights(docs).collect()}
    # target-like docs score higher than the excluded digit doc
    assert out[0]["log_weight"] > out[2]["log_weight"]
    assert out[1]["log_weight"] > out[2]["log_weight"]
    assert out[0]["n_bigrams"] > 0 and out[2]["n_bigrams"] > 0
