"""Per-document duplication density — the "how much of this
document exists elsewhere in the corpus" signal (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better"):
documents dominated by corpus-frequent shingles are boilerplate /
template / mirror content even when no single near-dup pair
crosses a similarity threshold, and the fraction feeds
`sample_weighted` exactly like the quality scores.

Shape at 100 TB: distinct word-shingles per doc (map-only), hashed
to 8-byte keys via the engine-portable md5 rule (the shuffle
carries hashes, never shingle strings), ONE map-side-combined
document-frequency reduce, one join back, one per-doc count — the
same inverted-index discipline as the contamination operators
(``dedup/contamination.py``), pointed inward at the corpus itself.
Every count is exact, so the DuckDB oracle replays each fraction
bit-identically (battery query ``duplication_density``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.text import MAX_GRAMS_PER_DOC, distinct_shingles, word_shingles


def duplication_density(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_docs: int = 2,
    salt: str = "dd8",
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """One row per document: ``(id_col, n_shingles, n_dup,
    dup_fraction)`` where ``n_dup`` counts the document's DISTINCT
    ``k``-word shingles that appear in at least ``min_docs``
    documents corpus-wide and ``dup_fraction = n_dup /
    n_shingles`` (NULL for shingle-less documents, which still
    appear with zeros)."""
    sh = docs.select(
        F.col(id_col),
        distinct_shingles(
            word_shingles(F.col(text_col), k), max_grams_per_doc
        ).alias("grams"),
    )
    e = sh.select(
        id_col,
        F.size("grams").alias("ng"),
        F.explode("grams").alias("g"),
    ).select(id_col, "ng", h60(F.col("g"), salt).alias("h"))
    dfh = e.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    per = (
        e.join(dfh, "h")
        .groupBy(id_col)
        .agg(
            F.max("ng").cast("long").alias("n_shingles"),
            F.sum(
                (F.col("nd") >= F.lit(int(min_docs))).cast("long")
            )
            .cast("long")
            .alias("n_dup"),
        )
    )
    out = docs.select(id_col).join(per, id_col, "left")
    n = F.coalesce("n_shingles", F.lit(0)).cast("long")
    nd = F.coalesce("n_dup", F.lit(0)).cast("long")
    return out.select(
        id_col,
        n.alias("n_shingles"),
        nd.alias("n_dup"),
        F.when(
            n > 0,
            F.round(nd.cast("double") / n.cast("double"), 6),
        ).alias("dup_fraction"),
    )


def ngram_novelty(
    target: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    salt: str = "nv8",
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Per-target-document novelty vs a reference corpus: ``(id,
    n_shingles, n_novel, novelty)`` where ``n_novel`` counts the
    document's DISTINCT ``k``-word shingles that appear NOWHERE in
    ``reference`` and ``novelty = n_novel / n_shingles`` (NULL for
    shingle-less documents, which still appear with zeros).

    ``duplication_density`` looks inward (how much of this doc
    repeats within the corpus); novelty looks across corpora — the
    memorization/contribution proxy that decides whether a new
    crawl snapshot adds anything beyond the last one, and the
    per-document form of the contamination check
    (``dedup/contamination.py`` flags ANY overlap; this measures
    HOW MUCH is new).

    Shape at 100 TB: both sides reduce to DISTINCT 8-byte md5
    shingle keys (the shuffle never carries shingle strings);
    novelty is ONE left anti-style membership join (left join +
    null test) against the reference's distinct-key set plus one
    per-doc counting reduce. Exact counts — the DuckDB oracle
    (battery query ``ngram_novelty``) replays every fraction.
    """
    sh = target.select(
        F.col(id_col),
        distinct_shingles(
            word_shingles(F.col(text_col), k), max_grams_per_doc
        ).alias("grams"),
    )
    e = sh.select(
        id_col,
        F.size("grams").alias("ng"),
        F.explode("grams").alias("g"),
    ).select(id_col, "ng", h60(F.col("g"), salt).alias("h"))
    ref = (
        reference.select(
            F.explode(distinct_shingles(
                word_shingles(F.col(text_col), k), max_grams_per_doc
            )).alias("g")
        )
        .select(h60(F.col("g"), salt).alias("h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per = (
        e.join(ref, "h", "left")
        .groupBy(id_col)
        .agg(
            F.max("ng").cast("long").alias("n_shingles"),
            F.sum(F.col("__hit").isNull().cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    out = target.select(id_col).join(per, id_col, "left")
    n = F.coalesce("n_shingles", F.lit(0)).cast("long")
    nv = F.coalesce("n_novel", F.lit(0)).cast("long")
    return out.select(
        id_col,
        n.alias("n_shingles"),
        nv.alias("n_novel"),
        F.when(
            n > 0,
            F.round(nv.cast("double") / n.cast("double"), 6),
        ).alias("novelty"),
    )
