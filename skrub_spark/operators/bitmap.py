"""Bitmap-index audience overlap — beyond-reference set-analytics
operator (SURVEY.md §2).

"How many users are in BOTH segments?" over S segments is S²/2
distinct-count intersections; at 100 TB the naive plan is S²/2
self-joins of user-id sets. The warehouse-standard answer is
BITMAP INDEXES (roaring-bitmap lineage): pack each segment's
members into per-word machine integers once, then every pairwise
intersection is word-aligned ``popcount(a AND b)`` — the member
ids are shuffled ONCE ever, and the pairwise stage touches only
|words| rows per segment pair.

Exactness: ``user → (word = id div 32, bit = id mod 32)`` is a
bijection into 32-bit lanes of a long (bit 31 is the highest used
— the sign bit stays clear, keeping every engine's BIGINT
semantics identical); ``bit_or`` packs, ``bit_count(a & b)``
counts — all exact integer ops, replayed verbatim by the DuckDB
oracle (battery query ``audience_overlap``). Jaccard is one IEEE
division of exact counts, 6dp.

Scale shape: ONE (segment, word) map-side-combined groupBy packs
the corpus (each user contributes one row); the pairwise stage is
a self-equi-join ON WORD of |segments|·|words/32-ish| bitmap rows
— for segment counts in the thousands, broadcast the bitmap frame
and the join never shuffles the corpus again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup.pairs import bucket_pairs


def segment_bitmaps(
    df: DataFrame, segment_col: str, member_col: str
) -> DataFrame:
    """Pack distinct members per segment into 32-bit-lane words:
    ``(segment, word, bits)``. ``member_col`` must be a
    non-negative integer id."""
    m = F.col(member_col).cast("long")
    return (
        df.select(
            F.col(segment_col).alias("segment"),
            F.call_function("div", m, F.lit(32)).alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (m % 32).cast("int")
            ).alias("mask"),
        )
        .groupBy("segment", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def audience_overlap(
    df: DataFrame, segment_col: str, member_col: str
) -> DataFrame:
    """Pairwise segment overlap from packed bitmaps: one row per
    unordered segment pair (a < b) — ``(segment_a, segment_b, n_a,
    n_b, n_overlap, jaccard)``. Distinct-member counts throughout
    (the bitmap dedups repeated (segment, member) rows for free).
    """
    bm = segment_bitmaps(df, segment_col, member_col).persist()
    sizes = bm.groupBy("segment").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n")
    )
    inter = (
        bucket_pairs(bm, "word", id="segment", carry=["bits"])
        .groupBy(
            F.col("id_a").alias("segment_a"), F.col("id_b").alias("segment_b")
        )
        .agg(
            F.sum(
                F.bit_count(F.expr("bits_a & bits_b"))
            )
            .cast("long")
            .alias("n_overlap")
        )
    )
    sa = sizes.select(
        F.col("segment").alias("segment_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("segment").alias("segment_b"), F.col("n").alias("n_b")
    )
    pairs = (
        sa.crossJoin(sb)
        .filter(F.col("segment_a") < F.col("segment_b"))
        .join(inter, ["segment_a", "segment_b"], "left")
    )
    ov = F.coalesce("n_overlap", F.lit(0)).cast("long")
    union = F.col("n_a") + F.col("n_b") - ov
    return pairs.select(
        "segment_a",
        "segment_b",
        "n_a",
        "n_b",
        ov.alias("n_overlap"),
        F.when(
            union > 0,
            F.round(ov.cast("double") / union.cast("double"), 6),
        ).alias("jaccard"),
    )
