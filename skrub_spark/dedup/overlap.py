"""The shingle-overlap kernel behind every corpus-overlap operator:
``ngram_contamination`` / ``decontaminate_train``
(``dedup/contamination.py``), ``ngram_novelty`` and
``duplication_density`` (``dedup/density.py``) and the streaming gate
``streaming_decontaminate`` (``streaming/ops.py``). Each asks how many
of a document's distinct word shingles fall in some set of keys; they
differ only in which set.

1. :func:`doc_gram_keys` — one ``(id, h)`` row per DISTINCT ``k``-word
   shingle of each document (map-only), ``h = xxhash64(shingle)``: the
   shuffle carries 8-byte keys, never shingle strings, and the keys
   never reach an output. ``explode_outer`` keeps a document with no
   shingles (null or empty text, fewer than ``k`` words) as ONE row
   with ``h = NULL``, which never equi-joins but still counts the
   document. The kernel adds no exchange of its own: a caller whose
   shingling is heavy enough to need an under-partitioned scan spread
   first wraps its input in ``session.fan_out`` (contamination's
   13-grams do; the 3-gram density and novelty passes and the
   micro-batch pass paid two jobs for the extra shuffle and ran no
   faster for it at sf0.01-sf0.1).
2. :func:`key_index` — the distinct keys of a corpus, optionally only
   those whose document frequency lies in ``[min_docs, max_docs]``
   (one map-side-combined reduce): the contamination skew guard drops
   boilerplate keys above ``max_docs``, duplication density keeps the
   keys at or above ``min_docs``.
3. :func:`count_hits` — one left join of the document keys against the
   index and one per-document reduce: ``(id, n_shingles, n_hit)``.

Every count is exact, so the battery's DuckDB oracles replay the
operators bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import distinct_shingles, word_shingles


def doc_gram_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_grams_per_doc: int | None,
) -> DataFrame:
    """``(id, h)``: the hashed distinct ``k``-word shingles of each
    row of ``df`` (capped at ``max_grams_per_doc``), ``h = NULL`` for
    a row with none."""
    grams = distinct_shingles(
        word_shingles(F.col("__t"), int(k)), max_grams_per_doc
    )
    # xxhash64(NULL) is not NULL (it hashes to the seed): gate on the
    # gram so a shingle-less row keeps h = NULL
    h = F.when(F.col("g").isNotNull(), F.xxhash64("g"))
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .select("id", F.explode_outer(grams).alias("g"))
        .select("id", h.alias("h"))
    )


def key_index(
    doc_keys: DataFrame,
    min_docs: int | None = None,
    max_docs: int | None = None,
) -> DataFrame:
    """``(h)``: the distinct keys of ``doc_keys``; with a bound, only
    those appearing in at least ``min_docs`` / at most ``max_docs``
    of its rows."""
    keys = doc_keys.filter(F.col("h").isNotNull())
    if min_docs is None and max_docs is None:
        return keys.select("h").distinct()
    freq = keys.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    if min_docs is not None:
        freq = freq.filter(F.col("__df") >= F.lit(int(min_docs)))
    if max_docs is not None:
        freq = freq.filter(F.col("__df") <= F.lit(int(max_docs)))
    return freq.select("h")


def count_hits(doc_keys: DataFrame, index_keys: DataFrame) -> DataFrame:
    """``(id, n_shingles, n_hit)`` (both BIGINT): per document, its
    key count and how many of those keys ``index_keys`` holds. A
    broadcast hint on ``index_keys`` carries through to the join."""
    hit = index_keys.select("h", F.lit(1).alias("__hit"))
    return (
        doc_keys.join(hit, on="h", how="left")
        .groupBy("id")
        .agg(
            F.count("h").alias("n_shingles"),
            F.count("__hit").alias("n_hit"),
        )
    )
