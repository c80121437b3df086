"""Test-set contamination detection (SURVEY.md §2 — LLM-pipeline):
flag eval documents whose long n-grams also appear in the training
corpus. The standard decontamination check (k-gram overlap, k≈13
words) before reporting eval numbers: an eval doc sharing even a
few 13-gram shingles with training text has likely leaked.

Physical plan — inverted-index join on the shingle-overlap kernel
(``dedup/overlap.py``), the same no-all-pairs discipline as the
jaccard dedup:

1. shingle both corpora, keep DISTINCT grams per doc, hash to
   8-byte ``xxhash64`` keys;
2. the index is the train side's distinct keys, minus keys
   appearing in more than ``max_train_doc_freq`` train docs
   (boilerplate carries no contamination signal and would create
   df² join rows — the skew guard);
3. one left join of the eval keys against that index and one
   per-doc reduce count each eval doc's shingles and matched ones.

Output: one row per eval doc with its total shingle count, how many
shingles also occur in train, and the contaminated fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import MAX_GRAMS_PER_DOC
from ..session import fan_out
from .overlap import count_hits, doc_gram_keys, key_index


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    ngram: int = 13,
    max_train_doc_freq: int | None = None,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Per-eval-doc contamination stats against the train corpus.

    Returns (id, n_shingles, n_contaminated, contamination) — docs
    shorter than ``ngram`` words have zero shingles and report
    contamination 0.0."""
    # 13-gram shingling is the heavy per-row stage: spread an
    # under-partitioned scan before it (a no-op at scale)
    def keys(df):
        return doc_gram_keys(
            fan_out(df.select(id_col, content_col)),
            content_col, id_col, ngram, max_grams_per_doc,
        )

    index = key_index(keys(train), max_docs=max_train_doc_freq)
    return count_hits(keys(eval_df), index).select(
        F.col("id").alias(id_col),
        "n_shingles",
        F.col("n_hit").alias("n_contaminated"),
        (
            F.col("n_hit") / F.greatest(F.col("n_shingles"), F.lit(1))
        ).alias("contamination"),
    )


def decontaminate_train(
    train: DataFrame,
    eval_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    ngram: int = 13,
    max_contamination: float = 0.0,
    max_eval_doc_freq: int | None = None,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Remove TRAIN documents that overlap the eval set — the
    GPT-3/CCNet-style decontamination applied at corpus-build time
    (detection flags eval docs; this removes the train side so eval
    numbers stay honest without touching the benchmark itself).

    A train doc survives when its contaminated-shingle fraction
    against the eval corpus is <= ``max_contamination`` (default:
    any shared ``ngram``-gram removes it; docs too short to shingle
    always survive). Same inverted-index plan as
    :func:`ngram_contamination` with the roles swapped, followed by
    one semi-join back to the train payloads."""
    stats = ngram_contamination(
        eval_df,
        train,
        content_col,
        id_col,
        ngram=ngram,
        max_train_doc_freq=max_eval_doc_freq,
        max_grams_per_doc=max_grams_per_doc,
    )
    keep = stats.filter(
        F.col("contamination") <= F.lit(float(max_contamination))
    ).select(id_col)
    return train.join(keep, id_col, "left_semi")
