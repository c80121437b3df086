"""Gazetteer / dictionary tagging over a document corpus.

The entity-extraction stage every curation and knowledge pipeline
runs before anything learned: match a DICTIONARY of (possibly
multi-word) surface forms against tokenized documents — product
catalogs, place names, ticker symbols, blocklists. At 100 TB the
naive per-pattern regex scan is |dict| passes over the corpus; the
scalable construction is ONE tokenization pass + set-membership
joins, which is what this module does:

1. Tokenize documents once (the BM25 tokenizer — one JVM regexp,
   map-only) into positional postings, and immediately SEMI-JOIN
   them to the dictionary's distinct token set — only tokens that
   appear in some entity survive to any shuffle (a 1M-entity
   gazetteer still prunes the corpus stream to its vocabulary).
2. Entities tokenize into (entity, i, tok) rows. Candidate starts =
   postings ⋈ first tokens. Continuation check is ONE join of
   candidates × remaining entity tokens against postings on
   (doc, pos = start + i, term = tok), then a counting HAVING —
   two joins total regardless of phrase length or dictionary size
   (the set-at-a-time generalization of ``bm25.phrase_search``,
   which chains per-term joins for a single phrase).

Overlapping entities ("new york" and "new york city") each match
independently — emit both; resolution policy (longest-match etc.)
is a downstream window, not baked in here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.text import words_az09, words_az09_py


def gazetteer_match(
    docs: DataFrame,
    entities: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Match each dictionary surface form against the tokenized
    corpus. Returns ``(id_col, entity, n_matches, first_pos)`` —
    one row per (document, entity) with ≥1 occurrence; positions
    are 0-based token offsets.

    ``entities`` are matched on the token sequence (case-insensitive,
    punctuation-insensitive — exactly the BM25 tokenizer's view), so
    "Sort-Key" matches "sort key". Entities that tokenize to nothing
    are rejected. The dictionary frame here is a python list
    (broadcast); the same two-join plan works verbatim with a
    DataFrame dictionary of millions of rows — swap the broadcast
    for a shuffle join on term."""
    ent_rows = []
    for e in entities:
        toks = words_az09_py(e)
        if not toks:
            raise ValueError(f"gazetteer_match: entity {e!r} has no tokens")
        ent_rows.extend((e, i, t, len(toks)) for i, t in enumerate(toks))
    spark = docs.sparkSession
    ent = spark.createDataFrame(
        ent_rows, "entity string, i int, tok string, n_toks int"
    )
    vocab = ent.select(F.col("tok").alias("term")).distinct()
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(words_az09(text_col)).alias("pos", "term"),
    ).join(broadcast(vocab), "term")
    starts = toks.join(
        broadcast(ent.filter(F.col("i") == 0).select("entity", "n_toks", "tok")),
        toks["term"] == F.col("tok"),
    ).select("__id", "entity", "n_toks", F.col("pos").alias("start"))
    singles = starts.filter(F.col("n_toks") == 1)
    multi = starts.filter(F.col("n_toks") > 1)
    rest = ent.filter(F.col("i") > 0).select("entity", "i", "tok")
    need = multi.join(broadcast(rest), "entity").select(
        "__id",
        "entity",
        "n_toks",
        "start",
        (F.col("start") + F.col("i")).alias("pos"),
        F.col("tok").alias("term"),
    )
    hit = need.join(toks, ["__id", "pos", "term"]).groupBy(
        "__id", "entity", "n_toks", "start"
    ).agg(F.count(F.lit(1)).alias("__got"))
    full = hit.filter(F.col("__got") == F.col("n_toks") - 1).select(
        "__id", "entity", "start"
    )
    matches = singles.select("__id", "entity", "start").unionByName(full)
    return (
        matches.groupBy("__id", "entity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("start").cast("long").alias("first_pos"),
        )
        .withColumnRenamed("__id", id_col)
    )
