"""Regenerate ``skrub_spark/_frozen.py`` — the committed frozen-model
artifacts used by battery queries whose ORACLE must be a static SQL
string (oracle_sql() strings are fixed per round, so any learned
state they replay has to be a committed literal, trained once here
and rounded to 6 decimals so Spark and DuckDB consume identical
values).

Sections:
- QUALITY_MODEL: hashed-unigram logistic-regression quality scorer
  distilled from the stopword-ratio teacher at sf0.01 (the
  FineWeb-Edu distillation shape; unigrams only — the teacher is a
  linear threshold on unigram tf, and bigram units dilute the tf
  denominator: 0.99 vs 0.72 held-out accuracy).
- PQ_CODEBOOKS: per-subspace k-means codebooks for product
  quantization (fit once on the sf0.01 embeddings, applied at every
  scale — exactly how production PQ trains on a sample).
- SEMANTIC_CENTROIDS: k-means centroids for the exact-oracle
  semantic-dedup twin (frozen => cell assignment is pure argmin
  arithmetic, SQL-replayable).
- STREAM_PLANES: random hyperplanes for the streaming embedding
  near-dedup sketch (rounded so both engines compute identical sign
  bits).

Usage: python tools/train_frozen.py [sf_dir]   (default sf0.01)
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402


def train_quality(spark, sf_dir):
    from pyspark.sql import functions as F

    from skrub_spark.functions.text import quality_columns
    from skrub_spark.operators.quality_classifier import (
        fit_quality_classifier,
    )
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sw = quality_columns(F.col("text"))["stopword_ratio"]
    lab = docs.withColumn("sw", sw)
    med = lab.approxQuantile("sw", [0.5], 0.0)[0]
    lab = lab.withColumn("label", (F.col("sw") >= F.lit(med)).cast("int"))
    model = fit_quality_classifier(
        lab, "label", bigrams=False, reg_param=1e-4, max_iter=200
    )
    model["weights"] = [round(w, 6) for w in model["weights"]]
    model["bias"] = round(model["bias"], 6)
    return model, round(med, 6)


def train_pq(spark, sf_dir, n_subspaces=8, n_codes=32, lloyd_iters=4):
    from skrub_spark.similarity.quantize import fit_product_quantizer
    from skrub_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pq = fit_product_quantizer(
        emb, "embedding",
        n_subspaces=n_subspaces, n_codes=n_codes,
        lloyd_iters=lloyd_iters, seed=42,
    )
    pq["codebooks"] = [
        [[round(float(x), 6) for x in code] for code in book]
        for book in pq["codebooks"]
    ]
    return pq


def train_opq(spark, sf_dir):
    from skrub_spark.similarity.quantize import fit_opq
    from skrub_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return fit_opq(
        emb, "embedding",
        n_subspaces=8, n_codes=32,
        opq_iters=6, lloyd_iters=6, sample_size=4096, seed=42,
    )


def train_semantic_centroids(spark, sf_dir, n_clusters=8, lloyd_iters=2):
    from pyspark.sql import functions as F

    from skrub_spark.similarity.index import lloyd_refine
    from skrub_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sample = [
        list(r["embedding"])
        for r in emb.select("embedding")
        .orderBy(F.xxhash64(F.col("embedding").cast("string"), F.lit(42)))
        .limit(n_clusters)
        .collect()
    ]
    cents = lloyd_refine(
        emb.select("embedding"), "embedding",
        np.asarray(sample, "float64"), lloyd_iters,
    )
    return [[round(float(x), 6) for x in c] for c in cents]


def train_string_encoder(spark, sf_dir, hash_dim=64, n_components=4):
    from skrub_spark.encoders.string_encoder import StringEncoder
    from skrub_spark.sources import load_table

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    enc = StringEncoder(
        "p_name", n_components=n_components, hash_dim=hash_dim, hash="md5"
    )
    enc.fit(part)
    return {
        "idf": [round(float(v), 6) for v in enc._idf],
        "components": [
            [round(float(x), 6) for x in row] for row in enc._components
        ],
    }


def train_bpe_merges(spark, sf_dir, n_merges=200):
    from skrub_spark.operators.bpe import train_bpe
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    model = train_bpe(docs, "text", n_merges=n_merges)
    return [list(m) for m in model.merges]


def train_dsir(spark, sf_dir):
    """DSIR importance model: target = the English slice of the
    corpus, raw = the whole corpus (the paper's 'target domain vs
    raw pool' split realized on the fixture's lang column)."""
    from skrub_spark.operators.dsir import fit_dsir
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("text", "lang")
    model = fit_dsir(
        docs.filter("lang = 'en'"), docs,
        n_features=256, bigrams=True, alpha=1.0,
    )
    model["log_ratios"] = [round(x, 6) for x in model["log_ratios"]]
    return model


def train_gbt(spark, sf_dir):
    """GBT interpolation models (the InterpolationJoiner learned
    path, frozen): regression s_nationkey -> s_acctbal and binary
    classification s_nationkey -> sign(s_acctbal), both exported to
    nested-list tree literals by tree_compile.export_gbt."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import StringIndexer, VectorAssembler
    from pyspark.ml.regression import GBTRegressor
    from pyspark.sql import functions as F

    from skrub_spark.functions.tree_compile import export_gbt
    from skrub_spark.sources import load_table

    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("double").alias("__f0"),
        F.col("s_acctbal").cast("double").alias("y"),
        F.when(F.col("s_acctbal") > 0, "pos").otherwise("nonpos").alias("cls"),
    )
    vec = VectorAssembler(inputCols=["__f0"], outputCol="__features")
    tr = vec.transform(supp)
    reg = GBTRegressor(
        featuresCol="__features", labelCol="y",
        maxIter=20, maxDepth=4, seed=42,
    ).fit(tr)
    idx = StringIndexer(inputCol="cls", outputCol="yi").fit(tr)
    clf = GBTClassifier(
        featuresCol="__features", labelCol="yi",
        maxIter=20, maxDepth=4, seed=42,
    ).fit(idx.transform(tr))
    clf_frozen = export_gbt(clf)
    clf_frozen["labels"] = list(idx.labels)
    return export_gbt(reg), clf_frozen


def train_linkage(spark, sf_dir):
    """EM-fit the Fellegi-Sunter m/u/lambda weights over the
    perturbed-customer linkage demo pairs (deterministic: pattern
    counts + fixed-init fixed-iteration driver EM)."""
    from skrub_spark.operators.linkage import (
        candidate_pairs,
        comparison_columns,
        em_fit,
    )
    from skrub_spark.queries import (
        _linkage_comparisons,
        _linkage_rules,
        _linkage_sides,
    )

    left, right = _linkage_sides(spark, sf_dir)
    pairs = candidate_pairs(left, right, _linkage_rules())
    g = comparison_columns(pairs, _linkage_comparisons())
    return em_fit(g, _linkage_comparisons())


def train_gap(spark, sf_dir):
    """Fit the frozen-twin GapEncoder topics on part.p_name (the
    same column/width the rows-only gap_encoder_topics query uses)
    over md5-bucketed char trigrams — deterministic: sorted distinct
    values, seeded gamma init, fixed-iteration full-batch updates."""
    from skrub_spark.encoders.gap_encoder import fit_gap_frozen

    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_name"
    )
    return fit_gap_frozen(part, "p_name")


_GAP_MARKER = "\n# frozen GapEncoder twin:"


def _gap_section(model):
    return (
        f"{_GAP_MARKER} gamma-Poisson topics over md5-bucketed\n"
        "# char trigrams of part.p_name (tools/train_frozen.py::\n"
        "# train_gap); consumed by encoders.gap_encoder.\n"
        "# gap_topics_frozen and the generated gap_encoder_frozen\n"
        "# oracle — fixed-iteration 6dp-requantized activation\n"
        "# updates, exact in both engines\n"
        f"GAP_MODEL = {model!r}\n"
    )


def train_lid(spark, sf_dir):
    """Fit the multinomial char-trigram language-ID on the planted
    corpus (documents.text + per-lang function-word phrase), 80% md5
    train split — deterministic: sorted label indexing + LBFGS over
    a fixed frame. Prints the held-out accuracy for the contract in
    tests/test_r9_ops.py."""
    from pyspark.sql import functions as F

    from skrub_spark.operators.language_id import (
        fit_language_id,
        plant_lang_phrase,
        score_language,
    )
    from skrub_spark.functions.hashing import hash_bucket
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    planted = plant_lang_phrase(docs)
    split = hash_bucket(F.col("doc_id"), "lidsplit", 10_000)
    model = fit_language_id(planted.filter(split < 8000), "lang")
    model["weights"] = [
        [round(w, 6) for w in row] for row in model["weights"]
    ]
    model["biases"] = [round(b, 6) for b in model["biases"]]
    held = planted.filter(split >= 8000)
    acc = (
        score_language(held, model)
        .select(
            F.avg(
                (F.col("lang_pred") == F.col("lang")).cast("double")
            ).alias("acc")
        )
        .first()["acc"]
    )
    print(f"LID held-out accuracy: {acc:.4f}")
    return model


_LID_MARKER = "\n# learned language-id:"


def _lid_section(model):
    return (
        f"{_LID_MARKER} multinomial char-trigram logistic\n"
        "# regression distilled from the planted per-lang phrases\n"
        "# (tools/train_frozen.py::train_lid; 80% md5 'lidsplit'\n"
        "# train split); held-out-accuracy >= heuristic contract in\n"
        "# tests/test_r9_ops.py\n"
        f"LID_MODEL = {model!r}\n"
    )


_LINKAGE_MARKER = "\n# Fellegi-Sunter record linkage:"


def _linkage_section(model):
    return (
        f"{_LINKAGE_MARKER} m/u/lambda EM-fit over the perturbed-\n"
        "# customer demo pairs (tools/train_frozen.py::train_linkage);\n"
        "# ratio/log2_ratio/prior_factor are the 6dp scoring literals\n"
        "# both engines replay\n"
        f"LINKAGE_MODEL = {model!r}\n"
    )



_UNIGRAM_MARKER = "\n# unigram-LM tokenizer:"


def train_unigram_model(spark, sf_dir):
    from skrub_spark.operators.unigram_lm import train_unigram
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    m = train_unigram(
        docs, "text", vocab_size=400, seed_size=2000, n_em=3,
        max_words=20000,
    )
    return {
        "max_piece_len": m.max_piece_len,
        "max_word_len": m.max_word_len,
        "pieces": dict(sorted(m.pieces.items())),
    }


def _unigram_section(model):
    return (
        f"{_UNIGRAM_MARKER} SentencePiece-shape unigram LM\n"
        "# (tools/train_frozen.py::train_unigram_model; EM over the\n"
        "# sf0.01 word dict, pruned to 400 pieces + full single-char\n"
        "# coverage). pieces map piece -> lp6 = HALF_UP(ln p * 1e6),\n"
        "# so Viterbi is exact integer DP in both engines\n"
        f"UNIGRAM_MODEL = {model!r}\n"
    )


_ALS_MARKER = "\n# ALS serving twin:"


def train_als(spark, sf_dir):
    """Fit the pilot-cohort ALS whose SERVING path the battery
    replays exactly: interactions are the same customer x part
    quantities as q_als_recommendations, restricted to a
    deterministic pilot cohort (custkey % 25 == 0) and item slice
    (partkey % 10 == 0) so the frozen factor tables stay
    codebook-sized; rank 4, implicit feedback, seed 42."""
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import functions as F

    from skrub_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    inter = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .where(
            (F.col("o_custkey") % 25 == 0) & (F.col("l_partkey") % 10 == 0)
        )
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("qty"))
        .select(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
            F.col("qty").cast("float").alias("rating"),
        )
    )
    als = ALS(
        rank=4,
        maxIter=8,
        regParam=0.1,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
        seed=42,
    )
    model = als.fit(inter)

    def _factors(fdf):
        return sorted(
            [int(r["id"])] + [round(float(x), 6) for x in r["features"]]
            for r in fdf.collect()
        )

    return {
        "rank": 4,
        "users": _factors(model.userFactors),
        "items": _factors(model.itemFactors),
    }


def _als_section(model):
    return (
        f"{_ALS_MARKER} pilot-cohort factor tables\n"
        "# (tools/train_frozen.py::train_als; MLlib implicit ALS rank\n"
        "# 4 at sf0.01 over custkey%25==0 x partkey%10==0\n"
        "# interactions). Rows are [id, f1..f4] at 6dp; scoring is\n"
        "# exact integer-micro dot products in both engines\n"
        f"ALS_MODEL = {model!r}\n"
    )


_KN_MARKER = "\n# Frozen Kneser-Ney serving twin:"


def train_kn(spark, sf_dir):
    """Train the order-3 interpolated-KN model whose SERVING path
    the battery replays exactly: same trusted slice (lang='en') and
    tokenization as lm_perplexity_kn5, order 3 with top-order prune
    c > 2 so every table is codebook-sized (the cont tables of an
    order-5 model are corpus-sized distinct-type frames — they
    belong in parquet, not a committed literal; order 3 at this
    corpus's 31-word vocab keeps the whole model ~1.3k rows)."""
    from pyspark.sql import functions as F

    from skrub_spark.operators.lm_filter import kn_to_frozen, train_kn_ngram
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    lm = train_kn_ngram(
        docs.where(F.col("lang") == "en"), "text", n=3, prune=2
    )
    return kn_to_frozen(lm)


def _kn_section(model):
    return (
        f"{_KN_MARKER} order-3 interpolated KN count tables\n"
        "# (tools/train_frozen.py::train_kn; trained on the sf0.01\n"
        "# lang='en' slice, top-order prune c > 2). Tables are exact\n"
        "# integer counts, discounts 6dp; scoring replays the fixed\n"
        "# parenthesization chain in both engines\n"
        f"KN_MODEL = {model!r}\n"
    )


def make_stream_planes(dim=64, n_planes=8, n_tables=4, seed=42):
    rng = np.random.default_rng(seed)
    return [
        [[round(float(x), 6) for x in p] for p in rng.standard_normal((n_planes, dim))]
        for _ in range(n_tables)
    ]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    from skrub_spark.session import get_session

    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")

    path = os.path.join(ROOT, "skrub_spark", "_frozen.py")

    _ALL_MARKERS = (_LINKAGE_MARKER, _LID_MARKER, _GAP_MARKER,
                    _UNIGRAM_MARKER, _ALS_MARKER, _KN_MARKER)

    def _replace_section(marker: str, section: str) -> None:
        """Replace ONE appended section in place, preserving every
        other section: the section runs from its marker to the next
        known marker (or EOF). The old prefix-truncation rule
        silently deleted every section appended AFTER the target
        (re-running --append-linkage would have dropped LID_MODEL
        and GAP_MODEL)."""
        src = open(path).read()
        if marker in src:
            start = src.index(marker)
            end = len(src)
            for m in _ALL_MARKERS:
                i = src.find(m, start + 1)
                if i >= 0 and i < end and m != marker:
                    end = i
            src = src[:start] + src[end:]
        with open(path, "w") as f:
            f.write(src + section)

    if "--append-linkage" in sys.argv:
        # train ONLY the linkage weights and replace their section,
        # leaving every other committed artifact untouched (a full
        # retrain would regenerate identical values — the trainers
        # are deterministic — but would force re-verifying every
        # frozen battery row for no change)
        model = train_linkage(spark, sf_dir)
        _replace_section(_LINKAGE_MARKER, _linkage_section(model))
        print(f"appended LINKAGE_MODEL to {path}")
        return

    if "--append-gap" in sys.argv:
        # same replace discipline for the GapEncoder topics
        model = train_gap(spark, sf_dir)
        _replace_section(_GAP_MARKER, _gap_section(model))
        print(f"appended GAP_MODEL to {path}")
        return

    if "--append-unigram" in sys.argv:
        # same replace discipline for the unigram-LM pieces
        model = train_unigram_model(spark, sf_dir)
        _replace_section(_UNIGRAM_MARKER, _unigram_section(model))
        print(f"appended UNIGRAM_MODEL to {path}")
        return

    if "--append-als" in sys.argv:
        # same replace discipline for the ALS factor tables
        model = train_als(spark, sf_dir)
        _replace_section(_ALS_MARKER, _als_section(model))
        print(f"appended ALS_MODEL to {path}")
        return

    if "--append-kn" in sys.argv:
        # same replace discipline for the frozen KN count tables
        model = train_kn(spark, sf_dir)
        _replace_section(_KN_MARKER, _kn_section(model))
        print(f"appended KN_MODEL to {path}")
        return

    if "--append-lid" in sys.argv:
        # same replace discipline for the language-ID weights
        model = train_lid(spark, sf_dir)
        _replace_section(_LID_MARKER, _lid_section(model))
        print(f"appended LID_MODEL to {path}")
        return

    quality, teacher_med = train_quality(spark, sf_dir)
    pq = train_pq(spark, sf_dir)
    cents = train_semantic_centroids(spark, sf_dir)
    planes = make_stream_planes()
    # finer cells for batch-incremental near-dedup: with bucket
    # collision as the dup criterion, 8-bit cells saturate once the
    # history holds a few hundred vectors (every new vector collides
    # somewhere); 16 planes = 65536 cells/table keeps the
    # false-collision rate ~n_seen/65536 per table while exact
    # copies still collide with certainty
    inc_planes = make_stream_planes(n_planes=16, seed=43)
    merges = train_bpe_merges(spark, sf_dir)
    strenc = train_string_encoder(spark, sf_dir)
    dsir = train_dsir(spark, sf_dir)
    gbt_reg, gbt_clf = train_gbt(spark, sf_dir)
    opq = train_opq(spark, sf_dir)
    linkage = train_linkage(spark, sf_dir)
    lid = train_lid(spark, sf_dir)
    gap = train_gap(spark, sf_dir)

    out = f'''"""FROZEN model artifacts — generated by tools/train_frozen.py, do
not edit by hand. Battery queries replay these literals on BOTH
sides (Spark and the DuckDB oracle), which is what makes learned
operators exact-oracle-able: the LEARNING is rows-only by nature,
but scoring/encoding with frozen parameters is pure arithmetic.
All values rounded to 6 decimals so the two engines parse identical
doubles. Trained at {sf_dir!r}."""

# hashed-unigram logistic regression distilled from the
# stopword-ratio >= {teacher_med} teacher (see tools/train_frozen.py)
QUALITY_MODEL = {quality!r}

QUALITY_TEACHER_THRESHOLD = {teacher_med!r}

# product-quantization codebooks: [n_subspaces][n_codes][subdim]
PQ_CODEBOOKS = {pq["codebooks"]!r}

PQ_DIM = {pq["dim"]!r}

# k-means centroids for the exact-oracle semantic-dedup twin
SEMANTIC_CENTROIDS = {cents!r}

# hyperplanes for the streaming embedding near-dedup sketch:
# [n_tables][n_planes][dim]
STREAM_PLANES = {planes!r}

# finer 16-plane sketch for batch-incremental embedding near-dedup
# (65536 cells/table — see tools/train_frozen.py for the sizing)
INC_PLANES = {inc_planes!r}

# rank-ordered BPE merge list trained at sf0.01 (frozen => the
# greedy encode is deterministic string rewriting, SQL-replayable)
BPE_MERGES = {merges!r}

# StringEncoder (tfidf + SVD over md5-hashed char 3+4-grams of
# part.p_name) — frozen idf[hash_dim] + components[hash_dim][k]
STRING_ENCODER = {strenc!r}

# DSIR hashed-n-gram importance model (target = lang='en' slice,
# raw = whole corpus): log p_b - log q_b per md5 bucket
DSIR_MODEL = {dsir!r}

# frozen GBT interpolation models (tree_compile nested-list form):
# regression s_nationkey -> s_acctbal ...
GBT_REGRESSION = {gbt_reg!r}

# ... and binary classification s_nationkey -> sign(s_acctbal);
# labels[] is the StringIndexer order (margin > 0 => labels[1])
GBT_CLASSIFIER = {gbt_clf!r}

# OPQ: learned rotation + per-subspace codebooks (Ge et al. 2013)
OPQ_MODEL = {opq!r}
'''
    out += _linkage_section(linkage) + _lid_section(lid) + _gap_section(gap)
    path = os.path.join(ROOT, "skrub_spark", "_frozen.py")
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
