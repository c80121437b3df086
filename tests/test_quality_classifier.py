"""Contracts for the learned quality classifier (r7, VERDICT r6 #1).

The battery query ``quality_classifier_scores`` exact-oracles the
FROZEN-weight scoring pass; these tests pin the parts an SQL oracle
cannot: the FIT itself (distributed MLlib LR must actually learn the
teacher — held-out accuracy, not "it runs"), the feature hashing
contract, and the frozen artifact's continued separability.
"""

import pytest
from pyspark.sql import functions as F

from skrub_spark.sources import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def _teacher(df):
    from skrub_spark.functions.text import quality_columns

    sw = quality_columns(F.col("text"))["stopword_ratio"]
    lab = df.withColumn("sw", sw)
    med = lab.approxQuantile("sw", [0.5], 0.0)[0]
    return lab.withColumn("label", (F.col("sw") >= F.lit(med)).cast("int"))


def test_fit_learns_teacher_held_out(spark, docs):
    """Distillation contract: trained on 70% of the corpus, the
    classifier must reproduce the stopword-ratio teacher on the
    UNSEEN 30% with >= 0.9 accuracy (measured 0.994) — the teacher
    is a linear threshold on unigram tf, so a linear model over
    hashed unigrams that fails this has a broken feature or fit
    path, not a hard problem."""
    from skrub_spark.operators.quality_classifier import (
        fit_quality_classifier, score_quality,
    )
    from skrub_spark.operators.sampling import hash_split

    lab = _teacher(docs)
    split = hash_split(lab, "doc_id", 0.3, salt="qc")
    train = split.filter(F.col("split") == "train")
    test = split.filter(F.col("split") == "test")
    model = fit_quality_classifier(
        train, "label", bigrams=False, reg_param=1e-4, max_iter=200
    )
    scored = score_quality(test, model)
    acc = scored.agg(
        F.avg(
            (
                (F.col("quality_score") >= 0.5).cast("int")
                == F.col("label")
            ).cast("double")
        )
    ).first()[0]
    assert acc >= 0.9, f"held-out accuracy {acc:.3f} < 0.9"


def test_frozen_model_separates(spark, docs):
    """The committed frozen artifact still separates the teacher at
    >= 0.9 (guards against regenerating _frozen.py with a broken
    training run)."""
    from skrub_spark._frozen import QUALITY_MODEL
    from skrub_spark.operators.quality_classifier import score_quality

    lab = _teacher(docs)
    scored = score_quality(lab, QUALITY_MODEL)
    acc = scored.agg(
        F.avg(
            (
                (F.col("quality_score") >= 0.5).cast("int")
                == F.col("label")
            ).cast("double")
        )
    ).first()[0]
    assert acc >= 0.9


def test_hashed_features_contract(spark):
    """Bucket range, count correctness, bigram units, and the
    portable-hash value (the md5 rule shared with the samplers)."""
    from skrub_spark.operators.quality_classifier import (
        hashed_text_features,
    )

    df = spark.createDataFrame(
        [(1, "The the THE quick"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    uni = hashed_text_features(df, n_features=64, bigrams=False)
    rows = uni.collect()
    # doc 1: 'the' x3 + 'quick' -> two buckets, counts 3 and 1
    by_doc = {}
    for r in rows:
        assert 0 <= r["bucket"] < 64
        by_doc.setdefault(r["id"], []).append(r["cnt"])
    assert sorted(by_doc[1]) == [1, 3]
    assert 2 not in by_doc and 3 not in by_doc  # no units -> no rows
    bi = hashed_text_features(df, n_features=64, bigrams=True)
    n_units = bi.agg(F.sum("cnt")).first()[0]
    # 4 unigrams + 3 bigrams
    assert n_units == 7


def test_score_quality_empty_doc_gets_bias_score(spark):
    """Zero-unit docs must survive with sigmoid(bias), not vanish
    (a filter stage dropping rows it never scored is the classic
    silent-attrition bug the funnel exists to catch)."""
    import math

    from skrub_spark.operators.quality_classifier import score_quality

    model = {
        "n_features": 8, "bigrams": False, "salt": "t|",
        "weights": [1.0] * 8, "bias": -0.4,
    }
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["quality_score"] for r in
           score_quality(df, model).collect()}
    assert len(out) == 3
    expected_empty = 1.0 / (1.0 + math.exp(0.4))
    assert abs(out[2] - expected_empty) < 1e-12
    assert abs(out[3] - expected_empty) < 1e-12
    # every weight is 1.0 and tf sums to 1 -> margin = bias + 1
    expected_full = 1.0 / (1.0 + math.exp(-0.6))
    assert abs(out[1] - expected_full) < 1e-12


def _units_ref(text, bigrams):
    """Python replay of quality_classifier.units: whitespace (Java
    ``\\s``) tokens lowercased, then lowercased word bigrams."""
    import re

    toks = [t.lower() for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]
    if not bigrams:
        return toks
    return toks + [f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)]


@pytest.mark.parametrize(
    "bigrams, salt", [(False, None), (True, None), (True, "q'c\\1|")]
)
def test_score_quality_matches_md5_replay(spark, bigrams, salt):
    """score_quality on the frozen weights against a pure-Python
    replay: hashlib.md5 buckets, a sequential sum over the units, the
    mean, the sigmoid. The third case puts a quote and a backslash in
    the salt, which the scoring SQL must escape."""
    import hashlib
    import math

    from skrub_spark._frozen import QUALITY_MODEL
    from skrub_spark.operators.quality_classifier import score_quality

    model = dict(QUALITY_MODEL, bigrams=bigrams)
    if salt is not None:
        model["salt"] = salt
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "",
        None,
        "   \t  ",
        "Ünïcödé CAFÉ  naïve Жук 日本語 café",
        "to be or not to be to be or not to be",
        "alpha\tbeta\ngamma  alpha beta",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = dict(
        score_quality(df, model).select("doc_id", "quality_score").collect()
    )
    w, n_feat = model["weights"], model["n_features"]
    for i, text in enumerate(texts):
        s, n = 0.0, 0
        for u in _units_ref(text or "", bigrams):
            h = hashlib.md5((model["salt"] + u).encode()).hexdigest()
            s += w[int(h[:15], 16) % n_feat]
            n += 1
        margin = model["bias"] + (s / n if n else 0.0)
        want = 1.0 / (1.0 + math.exp(-margin))
        # the JVM and libm exp may differ in the last bit
        assert math.isclose(got[i], want, rel_tol=1e-14), (i, got[i], want)
    assert len(got) == len(texts)
