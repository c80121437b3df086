"""Learned language identification (beyond-reference LLM-pipeline
operator, SURVEY.md §2 — the fastText-lid shape).

FineWeb-class pipelines identify language with a LEARNED linear
classifier over character n-gram features (fastText lid.176), not
stopword counting: learned models pick up script and orthography
signals (CJK trigrams, diacritics, function-word shapes) that a
fixed marker list misses. This module provides that loop with the
same Spark-first recipe as
:mod:`~skrub_spark.operators.quality_classifier`:

- :func:`hashed_char_features` — hashed char n-gram counts (default
  trigrams). The bucket is the ENGINE-PORTABLE 60-bit md5 hash of
  ``salt||gram`` (``functions.hashing.h60``) mod n_features, so a
  SQL oracle replays every bucket exactly.
- :func:`fit_language_id` — distributed MLlib MULTINOMIAL logistic
  regression over per-doc tf vectors (features assembled JVM-side).
  Fit runs on a labeled sample — bounded, never the full corpus.
- :func:`score_language` — corpus-scale scoring with FROZEN
  weights: one gram explode + one (id, bucket) map-side-combined
  aggregation + one broadcast join against the n_features-row
  weight table + a per-doc k-way margin argmax. Per-class dots are
  accumulated in DECIMAL(38,6) (counts × 6dp weights are exact
  decimals), so the margins are BIT-IDENTICAL under any
  partitioning and across engines — the argmax can never flip on
  summation order (battery query ``language_id_learned``).

The committed frozen model (``_frozen.LID_MODEL``, trained by
``tools/train_frozen.py --append-lid``) distills planted per-lang
function-word phrases at sf0.01; tests/test_r9_ops.py pins its
held-out accuracy at >= the marker heuristic's
(:func:`~skrub_spark.functions.text.language_id`) on the same
corpus.

Reference parity: skrub has no language identifier; this is a
beyond-reference operator from the brief's text-analysis list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_ngrams
from .quality_classifier import bucket_sql

_LID_SALT = "lid1|"

# Function-word phrases planted into the synthetic corpus to give it
# real per-language signal (the testdata documents share one English
# vocabulary across lang labels, so language identity must be
# planted to be learnable — the boilerplate/pii planting precedent).
# Shared by the trainer, the battery query, its oracle, and the
# held-out contract so they can never drift.
LANG_PHRASES = {
    "en": "the and of is with",
    "de": "der die und nicht ist",
    "fr": "le la et les est",
    "es": "el la que los una",
    "zh": "的 是 不 了 在",
}


def plant_lang_phrase(
    df: DataFrame,
    lang_col: str = "lang",
    content_col: str = "text",
    out_col: str = "text",
) -> DataFrame:
    """Append each row's language phrase to its text (rows with an
    unknown lang pass through unchanged) — pure Column CASE chain,
    replayed by the oracle as the same SQL CASE."""
    phrase = F.lit("")
    for lang, p in LANG_PHRASES.items():
        phrase = F.when(
            F.col(lang_col) == lang, F.lit(" " + p)
        ).otherwise(phrase)
    return df.withColumn(
        out_col, F.concat(F.coalesce(F.col(content_col), F.lit("")), phrase)
    )


def hashed_char_features(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    n_features: int = 512,
    salt: str = _LID_SALT,
) -> DataFrame:
    """Hashed char n-gram counts: one row per (doc, bucket) with the
    count of lowercased char n-grams hashing into that bucket. The
    explode + groupBy is map-side combined; nothing leaves the JVM.
    The per-gram md5 stage is the CPU hot spot, so the input fans
    out to full parallelism when the scan under-partitions (r10 —
    a single-row-group parquet scan otherwise serializes the whole
    gram stage onto one core; see session.fan_out)."""
    from ..session import fan_out

    grams = char_ngrams(F.col(content_col), n)
    return (
        fan_out(df.select(F.col(id_col).alias("id"), F.col(content_col)))
        .select(F.col("id"), F.explode(grams).alias("g"))
        .select("id", F.expr(bucket_sql("g", n_features, salt)).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def fit_language_id(
    df: DataFrame,
    label_col: str = "lang",
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    n_features: int = 512,
    salt: str = _LID_SALT,
    reg_param: float = 1e-4,
    max_iter: int = 200,
) -> dict:
    """Train the multinomial language classifier; returns a
    frozen-model dict ``{"langs": [k sorted labels], "n",
    "n_features", "salt", "weights": [k][n_features], "biases":
    [k]}`` ready for :func:`score_language`.

    Labels are indexed by SORTED distinct value (deterministic — no
    StringIndexer frequency ordering). Feature vectors are per-doc
    term frequencies (bucket count / total grams), assembled
    JVM-side and handed to MLlib's distributed multinomial
    LogisticRegression (L2, LBFGS). Driver state = the k×n_features
    coefficient matrix — corpus-independent."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    langs = [
        r[0]
        for r in df.select(label_col)
        .filter(F.col(label_col).isNotNull())
        .distinct()
        .orderBy(label_col)
        .collect()
    ]
    idx = {v: i for i, v in enumerate(langs)}
    lab_expr = F.lit(None).cast("double")
    for v, i in idx.items():
        lab_expr = F.when(
            F.col(label_col) == v, F.lit(float(i))
        ).otherwise(lab_expr)

    feats = hashed_char_features(
        df, content_col, id_col, n=n, n_features=n_features, salt=salt
    )
    dense = (
        feats.groupBy("id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(F.col("bucket").cast("int"), F.col("cnt"))
                )
            ).alias("m"),
            F.sum("cnt").cast("double").alias("tot"),
        )
        .select(
            "id",
            array_to_vector(
                F.transform(
                    F.sequence(F.lit(0), F.lit(int(n_features) - 1)),
                    lambda i: F.coalesce(
                        F.element_at("m", i).cast("double"), F.lit(0.0)
                    )
                    / F.col("tot"),
                )
            ).alias("features"),
        )
    )
    labeled = dense.join(
        df.select(F.col(id_col).alias("id"), lab_expr.alias("label")),
        "id",
    ).filter(F.col("label").isNotNull())
    lr = LogisticRegression(
        maxIter=int(max_iter),
        regParam=float(reg_param),
        elasticNetParam=0.0,
        family="multinomial",
    )
    model = lr.fit(labeled)
    cm = model.coefficientMatrix.toArray()
    iv = model.interceptVector.toArray()
    return {
        "langs": langs,
        "n": int(n),
        "n_features": int(n_features),
        "salt": salt,
        "weights": [[float(w) for w in row] for row in cm],
        "biases": [float(b) for b in iv],
    }


def score_language(
    df: DataFrame,
    model: dict,
    content_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
) -> DataFrame:
    """Predict every document's language with a frozen model: adds
    ``out_col`` (argmax class) and ``lang_margin`` (the winning
    margin, rounded to 6dp).

    The 100 TB path: one char-gram explode, one map-side-combined
    (id, bucket) aggregation, one BROADCAST join against the
    n_features-row weight table, one per-doc aggregation — no
    Python, no driver data. Per-class dots are
    ``SUM(cnt × weight)`` in DECIMAL(38,6) (exact — weights are 6dp
    literals) divided by the gram total as ONE IEEE division, plus
    the bias as ONE IEEE addition: margins are bit-identical under
    any partitioning and in the DuckDB replay, so the argmax is
    summation-order-proof. Ties break by class order (sorted langs).
    Zero-gram docs score on biases alone."""
    langs = model["langs"]
    k = len(langs)
    spark = df.sparkSession
    wt = spark.createDataFrame(
        [
            tuple([b] + [float(model["weights"][c][b]) for c in range(k)])
            for b in range(model["n_features"])
        ],
        "bucket long, " + ", ".join(f"w{c} double" for c in range(k)),
    )
    feats = hashed_char_features(
        df,
        content_col,
        id_col,
        n=model["n"],
        n_features=model["n_features"],
        salt=model.get("salt", _LID_SALT),
    )
    dots = (
        feats.join(F.broadcast(wt), "bucket")
        .groupBy("id")
        .agg(
            *[
                (
                    F.sum(
                        F.col("cnt").cast("decimal(12,0)")
                        * F.col(f"w{c}").cast("decimal(18,6)")
                    ).cast("double")
                    / F.sum("cnt").cast("double")
                ).alias(f"dot{c}")
                for c in range(k)
            ]
        )
    )
    joined = df.join(
        dots.withColumnRenamed("id", id_col), id_col, "left"
    )
    margins = [
        F.lit(float(model["biases"][c]))
        + F.coalesce(F.col(f"dot{c}"), F.lit(0.0))
        for c in range(k)
    ]
    best_lang, best_m = F.lit(langs[0]), margins[0]
    for c in range(1, k):
        cond = margins[c] > best_m
        best_lang = F.when(cond, F.lit(langs[c])).otherwise(best_lang)
        best_m = F.when(cond, margins[c]).otherwise(best_m)
    return (
        joined.withColumn(out_col, best_lang)
        .withColumn("lang_margin", F.round(best_m, 6))
        .drop(*[f"dot{c}" for c in range(k)])
    )
