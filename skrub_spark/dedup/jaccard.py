"""Exact n-gram Jaccard duplicate pairs (SURVEY.md §2).

Two exact candidate-generation strategies:

- default: explode each document's distinct n-grams, join on shared
  grams to build candidate pairs with co-occurrence counts; Jaccard
  = |∩| / (|A|+|B|-|∩|) computed from counts — the gram arrays never
  travel through the pair join. A document-frequency cap drops
  ubiquitous grams (skew guard: a gram in every doc would create n²
  candidate rows).
- ``prefix_filter=True`` (PPJoin-style): tokens get a global total
  order (ascending document frequency, then hash value); a pair
  with Jaccard ≥ t MUST share a token among each side's first
  ``|s| − ⌈t·|s|⌉ + 1`` tokens in that order, so only prefix tokens
  are indexed/joined. A size-ratio filter (min ≥ t·max) prunes
  further. Both filters are lossless for the threshold, so results
  are identical to the default path — only the candidate volume
  shrinks (dramatically for high thresholds).

``prefix_filter=None`` (default) auto-enables the filter when
``threshold >= 0.5``: the prefix length is ``(1-t)·|s| + 1``, so at
t=0.5 half the tokens are pruned from the index and the win grows
with t, while at low thresholds (t≈0.2, prefix ≈ 80% of tokens) the
extra ranking pass costs more than it saves.

Both paths join on ``xxhash64(gram)`` (a long), not the shingle
string — the inverted-index shuffle carries 8-byte keys instead of
~30-byte strings (measured 2x cold-runtime win at sf0.1). A hash
collision could overcount one intersection; over d distinct grams
the probability any collision exists is ~d²/2⁶⁴ (≈4e-9 at 260k
grams) — negligible even at 100 TB gram counts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import (
    MAX_GRAMS_PER_DOC,
    char_ngrams,
    distinct_shingles,
    word_shingles,
)
from ..session import fan_out
from .pairs import bucket_pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    unit: str = "word",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    prefix_filter: bool | None = None,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard >= threshold) by exact n-gram
    Jaccard. Columns: id_a, id_b, jaccard."""
    if prefix_filter is None:
        prefix_filter = threshold >= 0.5
    def grams_expr_of(c):
        return word_shingles(c, n) if unit == "word" else char_ngrams(c, n)
    docs = (
        fan_out(
            df.select(F.col(id_col).alias("id"), F.col(content_col).alias("__t"))
        )
        .select("id", distinct_shingles(
            grams_expr_of(F.col("__t")), max_grams_per_doc
        ).alias("grams"))
        .withColumn("n_grams", F.size("grams"))
    )
    exploded = docs.select(
        "id", "n_grams", F.explode("grams").alias("__g")
    ).select("id", "n_grams", F.xxhash64("__g").alias("gram"))
    if max_doc_freq is not None:
        rare = (
            exploded.groupBy("gram")
            .count()
            .filter(F.col("count") <= max_doc_freq)
            .drop("count")
        )
        exploded = exploded.join(rare, on="gram", how="left_semi")
    # The (post-cap) token frame feeds the doc-freq ranking, the
    # prefix index AND the verify stage — persist so the shingle
    # explode + hash runs once per action, not three times.
    exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)

    if not prefix_filter:
        inter = (
            bucket_pairs(exploded, "gram", carry=["n_grams"])
            .groupBy("id_a", "id_b", "n_grams_a", "n_grams_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        cand = _prefix_candidates(exploded, threshold)
        # verify candidates only: co-occurrence counts restricted to
        # the candidate pairs
        ga = exploded.select(F.col("id").alias("id_a"), "gram")
        gb = exploded.select(F.col("id").alias("id_b"), "gram")
        sizes = docs.select("id", "n_grams")
        inter = (
            cand.join(ga, on="id_a")
            .join(gb, on=["id_b", "gram"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "n_grams_a"), on="id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "n_grams_b"), on="id_b")
        )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_candidates(exploded: DataFrame, t: float) -> DataFrame:
    """Candidate (id_a < id_b) pairs via prefix filtering over the
    (post-cap) token sets. Lossless for Jaccard >= t.

    NOTE: sizes here are the post-cap set sizes; a pair passing the
    hybrid threshold (full-set denominators) necessarily has capped-
    set Jaccard >= t as well, so filtering on capped sizes is safe.
    """
    sized = exploded.withColumn(
        "n_capped", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    dfreq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("gdf"))
    w = Window.partitionBy("id").orderBy(F.col("gdf").asc(), F.col("gram").asc())
    ranked = (
        sized.join(dfreq, on="gram")
        .withColumn("pos", F.row_number().over(w))
    )
    # prefix length p = n - ceil(t*n) + 1
    prefix_len = F.col("n_capped") - F.ceil(F.lit(t) * F.col("n_capped")) + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        "id", "gram", "n_capped"
    )
    return (
        bucket_pairs(prefix, "gram", carry=["n_capped"])
        # size-ratio filter: J >= t implies min >= t * max
        .filter(
            F.least("n_capped_a", "n_capped_b").cast("double")
            >= F.lit(t) * F.greatest("n_capped_a", "n_capped_b").cast("double")
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
