"""Per-document duplication density — the "how much of this
document exists elsewhere in the corpus" signal (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better"):
documents dominated by corpus-frequent shingles are boilerplate /
template / mirror content even when no single near-dup pair
crosses a similarity threshold, and the fraction feeds
`sample_weighted` exactly like the quality scores.

Shape at 100 TB: both operators run the shingle-overlap kernel
(``dedup/overlap.py``, shared with the contamination operators and
the streaming gate): distinct word-shingles per doc (map-only),
hashed to 8-byte ``xxhash64`` keys (the shuffle carries hashes, never
shingle strings), one membership left join against a key index and
one per-doc count. Density's index is the corpus's own keys with
document frequency >= ``min_docs`` (ONE map-side-combined reduce —
the contamination skew guard pointed the other way); novelty's is
the reference corpus's distinct keys. Every count is exact, so the
DuckDB oracles replay each fraction bit-identically (battery queries
``duplication_density`` and ``ngram_novelty``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import MAX_GRAMS_PER_DOC
from .overlap import count_hits, doc_gram_keys, key_index


def _per_doc(
    scored: DataFrame, id_col: str, count_col: str, frac_col: str,
    count: Column,
) -> DataFrame:
    """``(id_col, n_shingles, count_col, frac_col)`` with ``frac_col =
    count / n_shingles`` at 6dp, NULL for a shingle-less doc."""
    n = F.col("n_shingles")
    return scored.select(
        F.col("id").alias(id_col),
        n,
        count.alias(count_col),
        F.when(
            n > 0, F.round(count.cast("double") / n.cast("double"), 6)
        ).alias(frac_col),
    )


def duplication_density(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_docs: int = 2,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """One row per document: ``(id_col, n_shingles, n_dup,
    dup_fraction)`` where ``n_dup`` counts the document's DISTINCT
    ``k``-word shingles that appear in at least ``min_docs``
    documents corpus-wide and ``dup_fraction = n_dup /
    n_shingles`` (NULL for shingle-less documents, which still
    appear with zeros)."""
    keys = doc_gram_keys(docs, text_col, id_col, k, max_grams_per_doc)
    scored = count_hits(keys, key_index(keys, min_docs=min_docs))
    return _per_doc(scored, id_col, "n_dup", "dup_fraction", F.col("n_hit"))


def ngram_novelty(
    target: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
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
    HOW MUCH is new): ``n_novel = n_shingles - n_hit`` against the
    reference's distinct keys.
    """
    # the index needs no ids: ``reference`` may have no ``id_col``
    ref = doc_gram_keys(
        reference.select(F.lit(None).alias(id_col), text_col),
        text_col, id_col, k, max_grams_per_doc,
    )
    scored = count_hits(
        doc_gram_keys(target, text_col, id_col, k, max_grams_per_doc),
        key_index(ref),
    )
    novel = F.col("n_shingles") - F.col("n_hit")
    return _per_doc(scored, id_col, "n_novel", "novelty", novel)
