"""PMI collocation mining (r9c) — the corpus-linguistics staple
(Church & Hanks 1990 association ratio): which adjacent word pairs
occur together far more often than chance? Feeds phrase detection
(word2vec-style phrase joining), keyword refinement next to
TF-IDF (operators/keywords.py), and tokenizer-vocabulary audits.

Exactness: PMI = log[N·c(xy) / (c(x)·c(y))] is monotone in the
integer ratio inside the log, so the score ships as the INTEGER
``score_scaled = (N · c(xy) · 10⁶) div (c(x) · c(y))`` — all
arithmetic in DECIMAL(38,0) (a 100 TB corpus has N ~ 10¹⁴ tokens;
N·c·10⁶ overflows BIGINT long before that), bit-identical in any
engine, no IEEE log anywhere. Callers wanting nats apply
``log(score_scaled / 1e6)`` themselves.

Scale shape: bigrams come from a pure-JVM array transform over each
document's token array (no per-token window, no Python); unigram
and bigram counts are two map-side-combined groupBys; the top-k is
a bounded ordered limit. One corpus scan total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.text import words_az09
from ..session import checkpoint

def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by integer-scaled PMI.

    Returns ``(w1, w2, pair_count, score_scaled)`` ordered by
    (score_scaled desc, w1, w2) — a total order, so the top-k cut
    is deterministic. ``min_count`` filters rare bigrams (PMI's
    classic low-frequency pathology: a hapax pair maxes the score).
    """
    toks = df.select(words_az09(text_col).alias("ts")).where(
        F.size("ts") > 0
    )
    toks = toks.persist()
    try:
        uni = toks.select(F.explode("ts").alias("w")).groupBy("w").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        n_tok = toks.select(
            F.sum(F.size("ts")).cast("long").alias("n")
        )
        bi = (
            toks.where(F.size("ts") > 1)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ts) - 1), "
                        "i -> struct(ts[i-1] AS w1, ts[i] AS w2))"
                    )
                ).alias("p")
            )
            .select("p.w1", "p.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
            .where(F.col("pair_count") >= min_count)
        )
        scored = (
            bi.join(
                uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
                "w1",
            )
            .join(
                uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
                "w2",
            )
            .crossJoin(F.broadcast(n_tok))
            .select(
                "w1",
                "w2",
                "pair_count",
                (
                    F.col("n").cast("decimal(38,0)")
                    * F.col("pair_count").cast("decimal(38,0)")
                    * F.lit(1000000).cast("decimal(38,0)")
                )
                .cast("decimal(38,0)"),
                (
                    F.col("c1").cast("decimal(38,0)")
                    * F.col("c2").cast("decimal(38,0)")
                ).cast("decimal(38,0)"),
            )
            .toDF("w1", "w2", "pair_count", "num", "den")
            .select(
                "w1",
                "w2",
                "pair_count",
                F.expr("CAST(num div den AS BIGINT)").alias(
                    "score_scaled"
                ),
            )
        )
        return checkpoint(
            scored.orderBy(
                F.col("score_scaled").desc(), "w1", "w2"
            ).limit(top_k)
        )
    finally:
        toks.unpersist()


def skipgram_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    window: int = 2,
    subsample_t: float = 1e-3,
    min_count: int = 1,
    seed: str = "",
) -> DataFrame:
    """Skip-gram (center, context) training-pair extraction with
    frequent-word subsampling (r12b — the word2vec data-prep stage,
    Mikolov et al. 2013: every embedding trainer consumes exactly
    this pair-count frame; the aggregated counts also feed PPMI /
    SGNS-factorization pipelines directly). Returns ``(center,
    context, cnt)`` with ``cnt >= min_count``.

    Faithful to the reference implementation: an occurrence of word
    w survives with probability p_keep = min(1, (sqrt(f/t)+1)·t/f)
    (f its corpus relative frequency, t = ``subsample_t``), and the
    ±``window`` context applies to the COMPRESSED sequence (dropped
    tokens close the gap). The survival draw is DETERMINISTIC:
    u = first 60 md5 bits of (seed ‖ doc ‖ pos ‖ word) / 2^60 —
    the engine-portable hash_split discipline — so the extraction
    replays bit-identically and is shard-order-independent.

    Plan shape (100 TB): tokenize + posexplode (map-only), one
    map-side-combined frequency groupBy joined back on the word
    key, per-doc rank + self-join BOTH partitioned on the doc key
    (bounded by document length — Catalyst reuses the shuffle), and
    one final pair-count reduce. The corpus total rides a one-row
    broadcast cross join. No Python, no corpus-wide window.
    """
    from pyspark.sql import Window

    if int(window) < 1:
        raise ValueError("skipgram_pairs: window must be >= 1")
    if not float(subsample_t) > 0:
        raise ValueError("skipgram_pairs: subsample_t must be > 0")
    if int(min_count) < 1:
        raise ValueError("skipgram_pairs: min_count must be >= 1")
    w_sz = int(window)
    toks = df.select(
        F.col(id_col).alias("__d"),
        F.posexplode(words_az09(text_col)).alias(
            "__pos", "__w"
        ),
    )
    freq = toks.groupBy("__w").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__c")
    )
    tot = freq.agg(F.sum("__c").alias("__tc"))
    t = float(subsample_t)
    f = F.col("__c").cast("double") / F.col("__tc").cast("double")
    p_keep = F.least(
        F.lit(1.0),
        (F.sqrt(f / F.lit(t)) + F.lit(1.0)) * (F.lit(t) / f),
    )
    u = (
        h60(
            F.concat_ws(
                ":",
                F.lit(seed),
                F.col("__d").cast("string"),
                F.col("__pos").cast("string"),
                F.col("__w"),
            )
        ).cast("double")
        / F.lit(1152921504606846976.0)
    )
    kept = (
        toks.join(freq, "__w")
        .crossJoin(F.broadcast(tot))
        .where(u < p_keep)
        .select("__d", "__pos", "__w")
    )
    wd = Window.partitionBy("__d").orderBy("__pos")
    seq = kept.withColumn("__r", F.row_number().over(wd))
    a = seq.select(
        F.col("__d"),
        F.col("__r").alias("__ra"),
        F.col("__w").alias("__wa"),
    )
    b = seq.select(
        F.col("__d").alias("__d2"),
        F.col("__r").alias("__rb"),
        F.col("__w").alias("__wb"),
    )
    pairs = a.join(
        b,
        (F.col("__d") == F.col("__d2"))
        & (F.col("__rb") > F.col("__ra"))
        & (F.col("__rb") <= F.col("__ra") + w_sz),
    )
    both = pairs.select(
        F.col("__wa").alias("center"), F.col("__wb").alias("context")
    ).unionAll(
        pairs.select(
            F.col("__wb").alias("center"),
            F.col("__wa").alias("context"),
        )
    )
    out = both.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return out.where(F.col("cnt") >= int(min_count))
