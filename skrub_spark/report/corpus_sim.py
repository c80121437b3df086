"""Cross-slice corpus similarity matrix via KMV (k-minimum-values)
sketches — "how much do these sources/crawls/domains overlap?"

The dedup family answers document-level questions; this is the
CORPUS-level observability twin: a pairwise Jaccard estimate
between the token sets of every pair of groups (sources, crawl
snapshots, languages). The standard KMV estimator (Beyer et al.,
SIGMOD'07): keep each group's k smallest hashed tokens; for a pair,
J ≈ |MinK(A∪B) ∩ A ∩ B| / |MinK(A∪B)|.

Scale shape: the ONLY corpus-sized work is the distinct
``(group, token)`` reduce; everything after runs on sketches
(groups × k rows). Per-group and per-pair k-smallest are top-k
windows partitioned by group/pair (parallel across partitions,
never a global sort), and the pair expansion is a broadcast
self-join of the group list — O(G²) pairs, so G is meant to be
sources/snapshots (tens), not documents.

Hashing uses the engine-portable 60-bit md5 rule
(``functions.hashing.h60``), the same "content-addressed
randomness" contract as the samplers — so the sketch, the estimate
and the tie-breaks replay bit-identically in DuckDB (battery
oracle ``source_similarity``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.text import tokens


def kmv_similarity_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 64,
    salt: str = "sim8",
) -> DataFrame:
    """Pairwise token-set Jaccard estimates between groups:
    ``(src_a, src_b, union_k, n_common, jaccard_est)`` for every
    unordered pair (``src_a < src_b``). ``union_k`` is the realized
    sketch size ``|MinK(A∪B)| ≤ k`` (the estimator's denominator),
    ``n_common`` the members of it present in both groups."""
    g = F.col(group_col)
    toks = (
        df.select(g.alias("g"), F.explode(tokens(F.col(text_col))).alias("t"))
        .distinct()
        .select("g", h60(F.col("t"), salt).alias("h"))
        .distinct()
    )
    wg = Window.partitionBy("g").orderBy(F.col("h").asc())
    sk = (
        toks.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= F.lit(int(k)))
        .select("g", "h")
    )
    groups = sk.select("g").distinct()
    pairs = (
        groups.alias("ga")
        .crossJoin(F.broadcast(groups.alias("gb")))
        .select(
            F.col("ga.g").alias("src_a"), F.col("gb.g").alias("src_b")
        )
        .filter(F.col("src_a") < F.col("src_b"))
    )
    side_a = pairs.join(
        F.broadcast(sk).withColumnRenamed("g", "src_a"), "src_a"
    ).select("src_a", "src_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = pairs.join(
        F.broadcast(sk).withColumnRenamed("g", "src_b"), "src_b"
    ).select("src_a", "src_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("src_a", "src_b", "h")
        .agg(
            F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
        )
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy(F.col("h").asc())
    union_k = (
        merged.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= F.lit(int(k)))
    )
    return union_k.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("union_k"),
        F.sum(
            (F.col("in_a") + F.col("in_b") == F.lit(2)).cast("long")
        )
        .cast("long")
        .alias("n_common"),
    ).select(
        "src_a",
        "src_b",
        "union_k",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / F.col("union_k").cast("double"),
            6,
        ).alias("jaccard_est"),
    )
