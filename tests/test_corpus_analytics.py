"""Corpus analytics: PMI/LLR collocations, phrase search, co-occurrence
edges, readability. The entry-module oracles gate the fixture corpus;
these pin hand cases and independent python replays."""

import math

import pytest
from pyspark.sql import functions as F

from bloomine_spark.operators.collocations import (
    collocation_scores,
    cooccurrence_edges,
)
from bloomine_spark.operators.retrieval import phrase_search
from bloomine_spark.operators.textops import readability_per_source


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


# --------------------------------------------------------------------------
# collocations
# --------------------------------------------------------------------------


def _llr_py(c12, c1, c2, n):
    def term(k, row, col):
        return k * math.log(k * n / (row * col)) if k > 0 else 0.0

    return 2.0 * (
        term(c12, c1, c2)
        + term(c1 - c12, c1, n - c2)
        + term(c2 - c12, n - c1, c2)
        + term(n - c1 - c2 + c12, n - c1, n - c2)
    )


def test_collocation_scores_match_python_replay(spark):
    texts = ["a b a b c d", "b c b c a d", "a b c d a b"]
    out = {
        (r["w1"], r["w2"]): r
        for r in collocation_scores(
            _docs(spark, texts), min_count=1, top_k=100
        ).collect()
    }
    # independent replay: adjacent pairs per doc
    from collections import Counter

    big = Counter()
    for t in texts:
        ws = t.split()
        for i in range(len(ws) - 1):
            big[(ws[i], ws[i + 1])] += 1
    n = sum(big.values())
    c1 = Counter()
    c2 = Counter()
    for (a, b), c in big.items():
        c1[a] += c
        c2[b] += c
    assert set(out) == set(big)
    for (a, b), c in big.items():
        r = out[(a, b)]
        assert r["c12"] == c and r["c1"] == c1[a] and r["c2"] == c2[b]
        assert r["pmi"] == pytest.approx(
            math.log(c * n / (c1[a] * c2[b])), rel=1e-12
        )
        assert r["llr"] == pytest.approx(
            _llr_py(c, c1[a], c2[b], n), rel=1e-10, abs=1e-12
        )


def test_collocation_min_count_and_topk(spark):
    texts = ["x y x y x y", "p q"]
    rows = collocation_scores(_docs(spark, texts), min_count=2, top_k=1).collect()
    assert len(rows) == 1
    assert (rows[0]["w1"], rows[0]["w2"]) in {("x", "y"), ("y", "x")}
    assert rows[0]["rank"] == 1


# --------------------------------------------------------------------------
# phrase search
# --------------------------------------------------------------------------


def _search(spark, texts, phrases):
    return {
        (r["phrase"], r["doc_id"]): (r["n_occurrences"], r["first_pos"])
        for r in phrase_search(_docs(spark, texts), phrases).collect()
    }


def test_phrase_search_basic_and_positions(spark):
    got = _search(
        spark,
        ["the quick fox jumps", "quick fox quick fox", "no match here"],
        ["quick fox"],
    )
    assert got == {("quick fox", 0): (1, 1), ("quick fox", 1): (2, 0)}


def test_phrase_search_repeated_word_phrase(spark):
    # 'a b a' in 'a b a b a': occurrences at 0 and 2 (overlapping)
    got = _search(spark, ["a b a b a"], ["a b a"])
    assert got == {("a b a", 0): (2, 0)}


def test_phrase_search_overlapping_unigram_run(spark):
    got = _search(spark, ["a a a a"], ["a a"])
    assert got == {("a a", 0): (3, 0)}


def test_phrase_search_boundaries(spark):
    # phrase at exact doc start and exact doc end; never wraps documents
    got = _search(spark, ["x y z", "z x y"], ["x y"])
    assert got == {("x y", 0): (1, 0), ("x y", 1): (1, 1)}
    # partial suffix at doc end is not a match
    assert _search(spark, ["p q"], ["q r"]) == {}


def test_phrase_search_validation(spark):
    d = _docs(spark, ["a b"])
    with pytest.raises(ValueError):
        phrase_search(d, [])
    with pytest.raises(ValueError):
        phrase_search(d, ["a  b"])  # empty word from double space


# --------------------------------------------------------------------------
# co-occurrence edges
# --------------------------------------------------------------------------


def test_cooccurrence_edges_window(spark):
    edges = {
        (r["src"], r["dst"])
        for r in cooccurrence_edges(_docs(spark, ["a b c d"]), window=2).collect()
    }
    want_undirected = {("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("b", "d")}
    want = want_undirected | {(b, a) for a, b in want_undirected}
    assert edges == want


def test_cooccurrence_no_self_loops_or_cross_doc(spark):
    edges = {
        (r["src"], r["dst"])
        for r in cooccurrence_edges(
            _docs(spark, ["a a b", "c d"]), window=1
        ).collect()
    }
    assert ("a", "a") not in edges
    assert ("b", "c") not in edges and ("c", "b") not in edges
    assert ("c", "d") in edges and ("a", "b") in edges


# --------------------------------------------------------------------------
# readability
# --------------------------------------------------------------------------


def _read_one(spark, text):
    df = spark.createDataFrame([("s", text)], ["source", "text"])
    [r] = readability_per_source(df).collect()
    return r


def test_readability_hand_counts(spark):
    # "see the cat. it sat!" -> 5 words, 2 sentences,
    # syllables: see(1) the(1) cat.(1) it(1) sat!(1) = 5
    r = _read_one(spark, "see the cat. it sat!")
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (5, 2, 5)
    wps, spw = 5 / 2, 5 / 5
    assert r["flesch_reading_ease"] == pytest.approx(
        206.835 - 1.015 * wps - 84.6 * spw, rel=1e-12
    )
    assert r["fk_grade"] == pytest.approx(
        0.39 * wps + 11.8 * spw - 15.59, rel=1e-12
    )


def test_readability_zero_vowel_word_and_no_terminator(spark):
    # 'xyz' has no vowel -> counts 1 syllable; no terminators -> 1 sentence
    r = _read_one(spark, "xyz qrst banana")
    assert r["n_sentences"] == 1
    # banana = 3 vowel groups, xyz/qrst = 1 each (zero-vowel correction)
    assert r["n_syllables"] == 5


def test_readability_vowel_groups_not_letters(spark):
    # 'queue' -> groups 'ueue'? u-e-u-e contiguous: 'ueue' is ONE group
    r = _read_one(spark, "queue")
    assert r["n_syllables"] == 1
    # 'aeiou' one group; 'oasis' -> oa, i -> wait: o-a contiguous, s, i, s
    r2 = _read_one(spark, "oasis")
    assert r2["n_syllables"] == 2


# --------------------------------------------------------------------------
# containment pairs
# --------------------------------------------------------------------------


def test_containment_catches_what_jaccard_dilutes(spark):
    from bloomine_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    big = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = _docs(spark, [quote, big])
    # Jaccard at 0.8 misses the embedding; containment at 0.8 finds it
    assert ngram_jaccard_pairs(docs, n=3, min_jaccard=0.8).count() == 0
    rows = ngram_containment_pairs(docs, n=3, min_containment=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (0, 1)
    assert r["inter"] == r["sz_a"] == 4  # all 4 shingles of the quote
    assert r["c_a_in_b"] == pytest.approx(1.0)
    assert r["c_b_in_a"] < 0.1


def test_containment_both_directions_and_threshold(spark):
    from bloomine_spark.operators.dedup import ngram_containment_pairs

    a = "p q r s t"
    b = "p q r s t u"  # contains all of a's shingles plus one
    docs = _docs(spark, [a, b])
    r = ngram_containment_pairs(docs, n=3, min_containment=0.7).collect()[0]
    assert r["sz_a"] == 3 and r["sz_b"] == 4 and r["inter"] == 3
    assert r["c_a_in_b"] == pytest.approx(1.0)
    assert r["c_b_in_a"] == pytest.approx(0.75)
    # raising the threshold above max(c_ab, c_ba) drops the pair only
    # when BOTH directions fail
    from bloomine_spark.operators.dedup import ngram_containment_pairs as ncp

    assert ncp(docs, n=3, min_containment=0.9).count() == 1   # 1.0 >= 0.9
    docs2 = _docs(spark, ["p q r s", "p q r x s q r"])
    out = ncp(docs2, n=3, min_containment=0.99).count()
    assert out == 0


def test_containment_doc_freq_cap_universe(spark):
    from bloomine_spark.operators.dedup import ngram_containment_pairs

    # a shingle present in ALL docs is dropped by the cap on BOTH sides
    texts = ["z z z a b c", "z z z d e f", "z z z a b c x"]
    uncapped = ngram_containment_pairs(
        _docs(spark, texts), n=3, min_containment=0.5
    ).count()
    capped = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_containment_pairs(
            _docs(spark, texts), n=3, min_containment=0.5, max_doc_freq=2
        ).collect()
    }
    assert uncapped >= len(capped)
    # with 'z z z' ('z z z'-anchored shingles shared by all 3 capped out),
    # docs 0 and 2 still pair on their distinctive 'a b c' content
    assert (0, 2) in capped


# --------------------------------------------------------------------------
# distinctive terms (Monroe log-odds keyness)
# --------------------------------------------------------------------------


def test_distinctive_terms_python_replay(spark):
    import math as _m

    from bloomine_spark.operators.collocations import (
        distinctive_terms_per_source,
    )

    data = [
        ("s1", "cat cat cat dog shared shared"),
        ("s1", "cat shared"),
        ("s2", "dog dog dog bird shared shared"),
        ("s2", "bird shared cat"),
    ]
    docs = spark.createDataFrame(data, ["source", "text"])
    out = {
        (r["source"], r["word"]): r
        for r in distinctive_terms_per_source(
            docs, prior_mass=10.0, top_k=100
        ).collect()
    }
    from collections import Counter

    swc = Counter()
    for s, t in data:
        for w in t.split():
            swc[(s, w)] += 1
    wc = Counter()
    ns = Counter()
    for (s, w), c in swc.items():
        wc[w] += c
        ns[s] += c
    N = sum(wc.values())
    a0 = 10.0
    for (s, w), y1 in swc.items():
        aw = a0 * wc[w] / N
        y2 = wc[w] - y1
        n1, n2 = ns[s], N - ns[s]
        delta = _m.log((y1 + aw) / (n1 + a0 - y1 - aw)) - _m.log(
            (y2 + aw) / (n2 + a0 - y2 - aw)
        )
        z = delta / _m.sqrt(1.0 / (y1 + aw) + 1.0 / (y2 + aw))
        r = out[(s, w)]
        assert r["c_in"] == y1 and r["c_out"] == y2
        assert r["z"] == pytest.approx(z, rel=1e-12)
    # over-represented words rank first in their own source: 'cat' tops
    # s1; in s2 exclusive 'bird' (y2=0) outranks frequent-but-shared
    # 'dog' — exclusivity beats raw frequency under log-odds
    def rank1(src):
        return [k for k, v in out.items() if k[0] == src and v["rank"] == 1][0][1]

    assert rank1("s1") == "cat"
    assert rank1("s2") == "bird"
    s2 = {k[1]: v["rank"] for k, v in out.items() if k[0] == "s2"}
    assert s2["dog"] == 2


def test_distinctive_terms_prior_shrinks_hapax(spark):
    from bloomine_spark.operators.collocations import (
        distinctive_terms_per_source,
    )

    # 'rare' appears once in s1; 'often' appears 12 times in s1 and also
    # exists in s2 — with the Dirichlet prior the repeated word must
    # outrank the hapax
    docs = spark.createDataFrame(
        [
            ("s1", " ".join(["often"] * 12) + " rare filler filler"),
            ("s2", "often filler filler filler filler filler"),
        ],
        ["source", "text"],
    )
    ranks = {
        r["word"]: r["rank"]
        for r in distinctive_terms_per_source(docs, top_k=50)
        .filter(F.col("source") == "s1")
        .collect()
    }
    assert ranks["often"] < ranks["rare"]
