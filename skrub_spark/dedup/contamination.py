"""Test-set contamination detection (SURVEY.md §2 — LLM-pipeline):
flag eval documents whose long n-grams also appear in the training
corpus. The standard decontamination check (k-gram overlap, k≈13
words) before reporting eval numbers: an eval doc sharing even a
few 13-gram shingles with training text has likely leaked.

Physical plan — inverted-index join, the same O(n²) discipline as
the jaccard dedup:

1. shingle both corpora, keep DISTINCT grams per doc, hash to
   8-byte keys;
2. drop grams appearing in more than ``max_train_doc_freq`` train
   docs (boilerplate carries no contamination signal and would
   create df² join rows — the skew guard);
3. equi-join eval grams against the distinct train gram set (a
   semi-join: which train doc had the gram doesn't matter) and
   count matched grams per eval doc.

Output: one row per eval doc with its total shingle count, how many
shingles also occur in train, and the contaminated fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import MAX_GRAMS_PER_DOC, distinct_shingles, word_shingles
from ..session import fan_out


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    ngram: int = 13,
    max_train_doc_freq: int | None = None,
    bloom: bool = False,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Per-eval-doc contamination stats against the train corpus.

    Returns (id, n_shingles, n_contaminated, contamination) — docs
    shorter than ``ngram`` words have zero shingles and report
    contamination 0.0.

    ``bloom=True`` (r7, VERDICT r6 #9): a Bloom filter built
    DISTRIBUTED over the index side's distinct gram hashes (a
    bounded ``m_bits/64``-long collect, never the keys) pre-filters
    the scored side's grams MAP-SIDE before the equi-join — in the
    common no-hit case the join shuffle carries only the ~fp% of
    grams the Bloom passes instead of the whole corpus's. Exactness
    is preserved by construction: per-doc shingle TOTALS are
    aggregated before the filter (map-side-combined, one tiny row
    per doc), Bloom false positives are removed by the exact
    semi-join that follows, and false negatives are impossible — so
    the output is bit-identical to ``bloom=False`` (asserted in
    tests/test_plan_quality.py) and the ``decontaminate`` battery
    oracle is unchanged."""
    def grams(df):
        return (
            fan_out(df.select(
                F.col(id_col).alias("id"),
                F.col(content_col).alias("__t"),
            ))
            .select(
                "id",
                F.explode_outer(distinct_shingles(
                    word_shingles(F.col("__t"), ngram), max_grams_per_doc
                )).alias("g"),
            )
            # xxhash64(NULL) is NOT null (it hashes to the seed), so
            # gate on the gram: zero-shingle docs keep h = null, which
            # never equi-joins but survives the left join + groupBy.
            .withColumn(
                "h", F.when(F.col("g").isNotNull(), F.xxhash64("g"))
            )
            .drop("g")
        )

    tg = grams(train).filter(F.col("h").isNotNull())
    if max_train_doc_freq is not None:
        freq = tg.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
        tg = tg.join(
            freq.filter(F.col("__df") <= max_train_doc_freq).select("h"),
            on="h",
            how="left_semi",
        )
    train_grams = tg.select("h").distinct()

    eg = grams(eval_df)  # explode_outer keeps zero-shingle docs
    if bloom:
        from ..functions.bloom import (
            bloom_attach, bloom_maybe_contains, bloom_size_bits,
            build_bloom_bits,
        )

        # the index side is the SMALL corpus by the operator's
        # contract (an eval benchmark, or the eval set in
        # decontaminate_train's role swap); persist it across the
        # count + bitset build + exact confirm joins
        train_grams = train_grams.persist()
        m_bits = bloom_size_bits(train_grams.count())
        bits = build_bloom_bits(train_grams, "h", m_bits)
        totals = eg.groupBy("id").agg(
            F.sum(F.when(F.col("h").isNotNull(), 1).otherwise(0)).alias(
                "n_shingles"
            )
        )
        # the bitset rides as broadcast DATA (one-row cross join),
        # not an expression literal — a 16k-word literal referenced
        # by the k probes costs seconds of plan analysis per query
        cand = bloom_attach(eg, bits).filter(
            F.col("h").isNotNull()
            & bloom_maybe_contains(F.col("h"), F.col("__bloom_bits"), m_bits)
        ).drop("__bloom_bits")
        hits = (
            cand.join(train_grams, on="h", how="left_semi")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__n_hit"))
        )
        scored = totals.join(hits, on="id", how="left").select(
            "id",
            "n_shingles",
            F.coalesce("__n_hit", F.lit(0)).alias("n_contaminated"),
        )
    else:
        hit = F.when(
            F.col("__hit").isNotNull() & F.col("h").isNotNull(), 1
        ).otherwise(0)
        scored = (
            eg.join(
                train_grams.withColumn("__hit", F.lit(1)),
                on="h",
                how="left",
            )
            .groupBy("id")
            .agg(
                F.sum(F.when(F.col("h").isNotNull(), 1).otherwise(0)).alias(
                    "n_shingles"
                ),
                F.sum(hit).alias("n_contaminated"),
            )
        )
    return scored.select(
        F.col("id").alias(id_col),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        (
            F.col("n_contaminated")
            / F.greatest(F.col("n_shingles"), F.lit(1))
        ).cast("double").alias("contamination"),
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
    bloom: bool = False,
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
        # the Bloom bitset builds over the EVAL side's grams (the
        # small corpus in this role swap) and pre-filters the TRAIN
        # side's — the 100 TB asymmetry the r6 verdict asked for
        bloom=bloom,
        max_grams_per_doc=max_grams_per_doc,
    )
    keep = stats.filter(
        F.col("contamination") <= F.lit(float(max_contamination))
    ).select(id_col)
    return train.join(keep, id_col, "left_semi")
