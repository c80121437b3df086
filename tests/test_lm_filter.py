"""Contracts of ``operators/lm_filter.py``: the add-alpha n-gram LM,
the order-n interpolated Kneser-Ney LM (order 3 and order 5), its
frozen serving twin, ``perplexity_filter`` and ``rho_select``. Plan
shape tests live in ``test_plan_quality.py``."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from skrub_spark.operators.lm_filter import (
    perplexity_filter,
    score_ngram_perplexity,
    train_ngram_lm,
)


# ---------------------------------------------------------------------------
# Add-alpha n-gram LM
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_lm_counts_and_vocab(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    lm = train_ngram_lm(df, n=2)
    assert lm.vocab_size == 3
    counts = {r["gram"]: r["c"] for r in lm.ngram_counts.collect()}
    # doc1: "a b","b a","a b"; doc2: "a b","b c"
    assert counts == {"a b": 3, "b a": 1, "b c": 1}
    ctx = {r["ctx"]: r["ctx_c"] for r in lm.ctx_counts.collect()}
    assert ctx == {"a": 3, "b": 2}


def test_perplexity_matches_hand_computation(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    lm = train_ngram_lm(df, n=2)
    out = {
        r["doc_id"]: r
        for r in score_ngram_perplexity(df, lm, alpha=1.0).collect()
    }
    # V=3, alpha=1. p(b|a) = (3+1)/(3+3), p(a|b) = (1+1)/(2+3),
    # p(c|b) = (1+1)/(2+3).
    def q(p):
        return round(-math.log(p), 6)

    exp1 = (q(4 / 6) + q(2 / 5) + q(4 / 6)) / 3
    exp2 = (q(4 / 6) + q(2 / 5)) / 2
    assert abs(out[1]["avg_nll"] - exp1) < 1e-9
    assert abs(out[2]["avg_nll"] - exp2) < 1e-9
    assert out[1]["n_ngrams"] == 3 and out[2]["n_ngrams"] == 2


def test_perplexity_unseen_and_short_docs(spark):
    train = _docs(spark, [(1, "a b a b")])
    lm = train_ngram_lm(train, n=2)
    score = _docs(spark, [(10, "z z"), (11, "a"), (12, "")])
    out = {
        r["doc_id"]: r for r in score_ngram_perplexity(score, lm).collect()
    }
    # unseen gram AND unseen context: p = 1/(0 + V) = 1/2 (V=2)
    assert abs(out[10]["avg_nll"] - round(-math.log(1 / 2), 6)) < 1e-9
    # fewer than n words: NULL score, zero ngrams — never dropped rows
    assert out[11]["avg_nll"] is None and out[11]["n_ngrams"] == 0
    assert out[12]["avg_nll"] is None


def test_perplexity_filter_separates_in_domain(spark):
    # train on in-domain text; an out-of-domain doc must score higher
    train = _docs(spark, [(i, "the cat sat on the mat") for i in range(5)])
    lm = train_ngram_lm(train, n=2)
    mixed = _docs(
        spark,
        [(1, "the cat sat on the mat"), (2, "zq xw vv kk pp zz qq ww")],
    )
    out = {r["doc_id"]: r["avg_nll"] for r in
           score_ngram_perplexity(mixed, lm).collect()}
    assert out[1] < out[2]
    kept = perplexity_filter(mixed, lm, max_avg_nll=(out[1] + out[2]) / 2)
    flags = {r["doc_id"]: r["keep"] for r in kept.collect()}
    assert flags == {1: True, 2: False}


def test_trigram_lm(spark):
    df = _docs(spark, [(1, "a b c d")])
    lm = train_ngram_lm(df, n=3)
    assert lm.vocab_size == 4
    assert {r["gram"]: r["c"] for r in lm.ngram_counts.collect()} == {
        "a b c": 1, "b c d": 1
    }
    assert {r["ctx"]: r["ctx_c"] for r in lm.ctx_counts.collect()} == {
        "a b": 1, "b c": 1
    }
    out = score_ngram_perplexity(df, lm).collect()[0]
    # both trigrams: p = (1+1)/(1+4) = 0.4
    assert out["n_ngrams"] == 2
    assert abs(out["avg_nll"] - round(-math.log(0.4), 6)) < 1e-9


def test_unigram_lm(spark):
    df = _docs(spark, [(1, "a a b")])
    lm = train_ngram_lm(df, n=1)
    assert lm.vocab_size == 2
    counts = {r["gram"]: r["c"] for r in lm.ngram_counts.collect()}
    assert counts == {"a": 2, "b": 1}
    out = score_ngram_perplexity(df, lm).collect()[0]
    # ctx = '' with ctx_c = 3: p(a) = 3/5, p(b) = 2/5
    exp = (2 * round(-math.log(3 / 5), 6) + round(-math.log(2 / 5), 6)) / 3
    assert abs(out["avg_nll"] - exp) < 1e-9


# ---------------------------------------------------------------------------
# Kneser-Ney, order 3
# ---------------------------------------------------------------------------


def _kn_corpus(spark):
    rows = [
        ("the quick brown fox jumps over the lazy dog",),
        ("the quick brown fox likes the lazy dog",),
        ("a quick brown cat jumps over a lazy dog",),
        ("the lazy dog sleeps while the quick fox runs",),
    ] * 10
    return spark.createDataFrame(rows, "text string").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )


def test_kn_trigram_probabilities_valid(spark):
    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity, train_kn_ngram,
    )

    docs = _kn_corpus(spark)
    lm = train_kn_ngram(docs, "text", n=3, prune=0)
    assert 0.0 < lm.discounts[1] <= 0.95 and 0.0 < lm.discounts[2] <= 0.95
    assert 0.0 < lm.discounts[3] <= 0.95
    out = score_kn_ngram_perplexity(docs, lm).collect()
    # every >=3-word doc scores a finite positive avg_nll
    for r in out:
        assert r["n_ngrams"] > 0
        assert r["avg_nll"] is not None and 0.0 < r["avg_nll"] < 50.0


def test_kn_in_domain_beats_gibberish(spark):
    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity, train_kn_ngram,
    )

    docs = _kn_corpus(spark)
    lm = train_kn_ngram(docs, "text", n=3, prune=0)
    probe = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "zork blap frum glorp xyzzy wibble snarf quux"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["avg_nll"] for r in
           score_kn_ngram_perplexity(probe, lm).collect()}
    assert out[1] < out[2]


def test_kn_beats_addalpha_bigram_in_domain(spark):
    """The r9-verdict monotone contract: on in-domain text the KN
    trigram must fit at least as well as the add-one bigram."""
    from pyspark.sql import functions as F2
    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity, score_ngram_perplexity,
        train_kn_ngram, train_ngram_lm,
    )

    docs = _kn_corpus(spark)
    kn = train_kn_ngram(docs, "text", n=3, prune=0)
    bi = train_ngram_lm(docs, "text", n=2)
    kn_nll = (
        score_kn_ngram_perplexity(docs, kn)
        .agg(F2.avg("avg_nll"))
        .first()[0]
    )
    bi_nll = (
        score_ngram_perplexity(docs, bi, alpha=1.0)
        .agg(F2.avg("avg_nll"))
        .first()[0]
    )
    assert kn_nll <= bi_nll


def test_kn_unseen_words_never_zero_prob(spark):
    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity, train_kn_ngram,
    )

    docs = _kn_corpus(spark)
    lm = train_kn_ngram(docs, "text", n=3, prune=0)
    probe = spark.createDataFrame(
        [(1, "qqq www eee rrr ttt yyy")], "doc_id long, text string"
    )
    r = score_kn_ngram_perplexity(probe, lm).first()
    assert r["avg_nll"] is not None  # would be NULL if -ln(0) hit
    assert r["n_ngrams"] == 4


def test_kn_perplexity_filter_dispatch(spark):
    from skrub_spark.operators.lm_filter import (
        perplexity_filter, train_kn_ngram,
    )

    docs = _kn_corpus(spark)
    lm = train_kn_ngram(docs, "text", n=3, prune=0)
    out = perplexity_filter(docs, lm, max_avg_nll=10.0)
    assert "keep" in out.columns and out.count() == docs.count()


def test_kn_partitioning_invariant(spark):
    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity, train_kn_ngram,
    )

    docs = _kn_corpus(spark)
    lm = train_kn_ngram(docs, "text", n=3, prune=0)
    a = sorted(map(tuple, score_kn_ngram_perplexity(docs, lm).collect()))
    b = sorted(
        map(
            tuple,
            score_kn_ngram_perplexity(docs.repartition(13), lm).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------------------------------
# Kneser-Ney, order n
# ---------------------------------------------------------------------------


def _kn_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_kn5_beats_kn3_in_domain(spark):
    """On a corpus with long repeated phrases, the 5-gram memorizes
    more context than the trigram: mean in-domain avg_nll(kn5) <
    avg_nll(kn3) — the reason CCNet ships a 5-gram KenLM."""
    from pyspark.sql import functions as F

    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity,
        train_kn_ngram,
    )

    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet tone",
    ]
    texts = [t for t in base for _ in range(4)] + [
        "alpha beta gamma delta nine eight seven violet",
        "one two red orange epsilon zeta blue indigo",
    ]
    docs = _kn_docs(spark, texts)
    lm5 = train_kn_ngram(docs, "text", n=5, prune=0)
    lm3 = train_kn_ngram(docs, "text", n=3, prune=0)
    m5 = (
        score_kn_ngram_perplexity(docs, lm5)
        .agg(F.avg("avg_nll"))
        .first()[0]
    )
    m3 = (
        score_kn_ngram_perplexity(docs, lm3)
        .agg(F.avg("avg_nll"))
        .first()[0]
    )
    assert m5 < m3


def test_kn5_pruning_falls_through_finite(spark):
    """Top-order pruning must only remove 5-gram mass (scores fall
    through to continuation orders, never NULL/inf), and a prune
    above every count empties the top order entirely."""
    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity,
        train_kn_ngram,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog again",
        "a different sentence with mostly unique words here now",
    ]
    docs = _kn_docs(spark, texts)
    lm0 = train_kn_ngram(docs, "text", n=5, prune=0)
    lmX = train_kn_ngram(docs, "text", n=5, prune=10**6)
    assert lmX.top_counts.count() == 0
    assert lm0.top_counts.count() > 0
    s0 = {
        r["doc_id"]: r["avg_nll"]
        for r in score_kn_ngram_perplexity(docs, lm0).collect()
    }
    sX = {
        r["doc_id"]: r["avg_nll"]
        for r in score_kn_ngram_perplexity(docs, lmX).collect()
    }
    assert all(v is not None for v in sX.values())
    # memorized 5-grams gone -> in-domain docs score worse
    assert sX[0] > s0[0]


def test_kn5_oov_floor_finite(spark):
    """A fully out-of-vocabulary probe document must still score a
    finite avg_nll through the unseen-word floor."""
    from skrub_spark.operators.lm_filter import (
        score_kn_ngram_perplexity,
        train_kn_ngram,
    )

    train = _kn_docs(
        spark,
        ["the quick brown fox jumps over the lazy dog every day"] * 3,
    )
    lm = train_kn_ngram(train, "text", n=5, prune=0)
    probe = _kn_docs(spark, ["zz yy xx ww vv uu tt ss"])
    r = score_kn_ngram_perplexity(probe, lm).collect()[0]
    assert r["avg_nll"] is not None
    import math

    assert math.isfinite(r["avg_nll"]) and r["avg_nll"] > 0


def test_kn_order_validation(spark):
    from skrub_spark.operators.lm_filter import train_kn_ngram

    with pytest.raises(ValueError, match="n must be"):
        train_kn_ngram(_kn_docs(spark, ["a b c"]), "text", n=2)


# ---------------------------------------------------------------------------
# Frozen KN serving twin
# ---------------------------------------------------------------------------


def test_kn_freeze_roundtrip_scoring_identical(spark):
    """kn_from_frozen(kn_to_frozen(lm)) must score BIT-IDENTICALLY
    to the live-trained model — the freeze is a serialization, not
    an approximation."""
    from skrub_spark.operators.lm_filter import (
        kn_from_frozen,
        kn_to_frozen,
        score_kn_ngram_perplexity,
        train_kn_ngram,
    )

    corpus = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog "
                "the quick brown cat sleeps")
            for i in range(4)
        ]
        + [(9, "a very different sentence with other words entirely")],
        "doc_id long, text string",
    )
    lm = train_kn_ngram(corpus, "text", n=3, prune=0)
    frozen = kn_to_frozen(lm)
    lm2 = kn_from_frozen(spark, frozen)
    probe = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "unseen zz words qq here pp"),
            (3, "the quick brown unseen tail"),
            (4, "xy"),  # too short -> NULL
        ],
        "doc_id long, text string",
    )
    a = sorted(
        map(tuple, score_kn_ngram_perplexity(probe, lm).collect())
    )
    b = sorted(
        map(tuple, score_kn_ngram_perplexity(probe, lm2).collect())
    )
    assert a == b
    # the frozen dict survives a repr round-trip (the _frozen.py
    # commit format)
    import ast as _ast

    assert _ast.literal_eval(repr(frozen)) == frozen


def test_kn_frozen_model_committed_shape():
    from skrub_spark._frozen import KN_MODEL as m

    assert m["n"] == 3
    assert set(m["discounts"]) == {1, 2, 3}
    assert all(0.05 <= d <= 0.95 for d in m["discounts"].values())
    assert len(m["top_counts"]) > 50
    assert all(c > m["prune"] for _, _, c in m["top_counts"])
    # self-consistency: top_ctx sums the pruned top_counts
    import collections

    by_ctx = collections.Counter()
    tot = collections.Counter()
    for ctx, w, c in m["top_counts"]:
        by_ctx[ctx] += 1
        tot[ctx] += c
    for ctx, c_ctx, n1p in m["top_ctx"]:
        assert tot[ctx] == c_ctx and by_ctx[ctx] == n1p


# ---------------------------------------------------------------------------
# RHO-loss selection
# ---------------------------------------------------------------------------


def test_rho_select_hand(spark):
    from skrub_spark.operators.lm_filter import rho_select

    cur = spark.createDataFrame(
        [(1, 5.0), (2, 3.0), (3, 4.0), (4, None), (6, 9.0)],
        "doc_id long, avg_nll double",
    )
    ref = spark.createDataFrame(
        [(1, 2.0), (2, 3.5), (3, 1.0), (4, 1.0), (5, 1.0)],
        "doc_id long, avg_nll double",
    )
    out = rho_select(cur, ref, 2).collect()
    # excesses: d1=3.0, d2=-0.5, d3=3.0; d4 null cur, d5/d6 missing
    # one side -> excluded. tie 3.0 broken by doc_id asc.
    assert [(r["doc_id"], r["rho"]) for r in out] == [
        (1, 3.0),
        (3, 3.0),
    ]
    assert out[0]["nll_model"] == 5.0 and out[0]["nll_ref"] == 2.0
    # k larger than survivors -> all three
    assert rho_select(cur, ref, 10).count() == 3
    import pytest as _pt

    with _pt.raises(ValueError):
        rho_select(cur, ref, 0)
