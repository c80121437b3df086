"""SimHash near-duplicate detection (SURVEY.md §2).

64-bit simhash per document, then candidate generation by banding
the fingerprint into b chunks — two documents within hamming
distance (b-1) share at least one identical chunk (pigeonhole), so
:func:`~.pairs.bucket_pairs` on (chunk_idx, chunk_value) finds all
such pairs without an O(n²) comparison.

Physical plan for the fingerprint: explode shingles → one groupBy
with 64 plain ``sum(case getbit)`` aggregates → pack the sign bits.
Flat expressions keep whole-stage codegen happy; the nested
higher-order-function formulation (functions.hashing.simhash64)
exists for single-expression use on short strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60, hamming64
from ..functions.text import word_shingles
from .pairs import bucket_pairs


def simhash_table(
    df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_k: int = 2,
) -> DataFrame:
    """(id, simhash) via the flat explode/aggregate plan.

    Each gram hashes to its 60-bit md5 hash (``functions.hashing.h60``)
    — bit-identical across engines, so the DuckDB oracle replays the
    exact fingerprints (bits 60-63 are then always 0, a negligible
    loss of discrimination)."""
    gram_hash = h60("gram")
    par = df.sparkSession.sparkContext.defaultParallelism
    grams = (
        df.select(F.col(id_col).alias("id"), F.col(content_col).alias("__t"))
        .repartition(par)
        .select("id", F.explode(word_shingles(F.col("__t"), shingle_k)).alias("gram"))
        .withColumn("h", gram_hash)
    )
    # the 64 per-bit aggregates and the 64-term packing are parsed
    # from TWO expr strings: the python-composed loops cost ~2-4 s
    # of py4j driver chatter per query build (measured r12-opt);
    # the parsed trees are the identical CASE/sum expressions
    sums_sql = ", ".join(
        f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" AS b{i}"
        for i in range(64)
    )
    bit_sums = grams.groupBy("id").agg(
        F.expr(f"struct({sums_sql})").alias("__bs")
    )
    packed_sql = " + ".join(
        f"(CASE WHEN __bs.b{i} > 0 THEN "
        + (
            f"CAST({1 << i} AS BIGINT)"
            if i < 63
            else "CAST('-9223372036854775808' AS BIGINT)"
        )
        + " ELSE CAST(0 AS BIGINT) END)"
        for i in range(64)
    )
    return bit_sums.select(
        "id", F.expr(f"CAST(0 AS BIGINT) + {packed_sql}").alias("simhash")
    )


def dedup_simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    n_chunks: int = 4,
    shingle_k: int = 2,
) -> DataFrame:
    """Pairs (id_a < id_b) with simhash hamming distance <= max_hamming.
    Exact for max_hamming <= n_chunks - 1."""
    bits_per_chunk = 64 // n_chunks
    base = simhash_table(df, content_col, id_col, shingle_k)
    chunks = base.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.shiftleft("simhash", 64 - (i + 1) * bits_per_chunk),
                        64 - bits_per_chunk,
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    return (
        bucket_pairs(chunks, ["chunk_idx", "chunk_val"], carry=["simhash"])
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", hamming64(F.col("simhash_a"), F.col("simhash_b"))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
