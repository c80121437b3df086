"""BM25 lexical ranked retrieval over a document table.

The similarity stack (``skrub_spark/similarity/``) covers the DENSE
half of retrieval; this is the SPARSE half — Robertson/Spärck-Jones
BM25 with the Lucene idf, the scoring function every
hybrid-retrieval training-data pipeline runs next to its embedding
index (and the standard way to mine hard negatives at corpus scale).
Complements the reference's string-similarity encoders
(reference: ``skrub/_string_distances.py`` stops at n-gram
similarity; it has no corpus-level ranking function).

Scale design:
- Tokenization is one JVM regexp split (map-only). Postings are
  FILTERED TO THE QUERY TERMS *before* the (doc, term) groupBy, so
  the shuffle carries only matching postings — at 100 TB a 5-term
  query shuffles ~5 terms' postings, not the corpus vocabulary.
- Corpus stats (N, avgdl) are one scalar aggregate broadcast back;
  per-term df is a groupBy over the already-filtered postings
  (≤ |query| rows) joined broadcast.
- Per-(doc, term) contributions are rounded to 6dp and summed as
  DECIMAL(28,6) — exact integer arithmetic underneath, so the score
  (and therefore the top-k ORDER) is partitioning-invariant and
  replays bit-identically in any engine. Every other operation is a
  single IEEE op on identical inputs; `ln` at 6dp is the same
  cross-engine contract the LM-perplexity oracle already pins.
- ``bm25_topk``'s ordering key is (exact decimal score DESC, doc_id)
  → deterministic top-k via TakeOrdered, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import words_az09, words_az09_py


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document containing ≥1 query term.

    Returns (id_col, n_hit, score) where score =
    Σ_t ln(1 + (N − df + 0.5)/(df + 0.5)) · tf(k1+1) /
    (tf + k1(1 − b + b·dl/avgdl)), each term contribution rounded
    to 6dp and summed exactly."""
    terms = sorted(set(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("empty query")

    toks = docs.select(
        F.col(id_col), words_az09(text_col).alias("__toks")
    )
    lens = toks.select(id_col, F.size("__toks").alias("dl"))
    # scalar corpus stats: one aggregate pass, broadcast back
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    # postings restricted to the query terms BEFORE the shuffle
    post = (
        toks.select(id_col, F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _score_postings(post, lens, stats, id_col, k1=k1, b=b)


def _score_postings(
    post: DataFrame,
    lens: DataFrame,
    stats: DataFrame,
    id_col: str,
    *,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared BM25 core over (id, term, tf) postings already
    restricted to the query terms. df per term is recomputed from
    the filtered postings (pruning keeps whole terms, so it is the
    corpus df); the exact-decimal contribution sum makes the
    ranking partition-invariant."""
    df_t = post.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    j = (
        post.join(F.broadcast(df_t), "term")
        .join(lens, id_col)
        .join(F.broadcast(stats))
    )
    n = F.col("n_docs").cast("double")
    dfc = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0) + (n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
    )
    avgdl = F.col("total_dl").cast("double") / n
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("dl").cast("double") / avgdl
    )
    contrib = idf * tf * F.lit(float(k1) + 1.0) / denom
    per_term = j.select(
        id_col,
        F.round(contrib, 6).cast("decimal(28,6)").alias("c_q"),
    )
    return per_term.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.sum("c_q").cast("double").alias("score"),
    )


def build_bm25_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, lens, stats) for persisting: postings =
    (bucket, term, id, tf) with bucket = xxhash64(term) mod
    n_buckets — internal plumbing only, so the fast JVM hash is fine
    (scores never depend on it). Build cost is ONE (id, term)
    groupBy over the corpus; done once, searched many."""
    toks = docs.select(
        F.col(id_col), words_az09(text_col).alias("__toks")
    )
    lens = toks.select(id_col, F.size("__toks").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    post = (
        toks.select(id_col, F.explode("__toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(
            F.pmod(F.xxhash64("term"), F.lit(int(n_buckets))).alias(
                "bucket"
            ),
            "term",
            id_col,
            "tf",
        )
    )
    return post, lens, stats


def write_bm25_index(
    index: tuple[DataFrame, DataFrame, DataFrame], path: str
) -> None:
    """Persist postings partitioned BY BUCKET — a probe reads only
    its query terms' buckets (partition pruning at the parquet
    layer), so search cost at 100 TB is |query| buckets ≈ 1/64 of
    the postings, not the corpus."""
    post, lens, stats = index
    post.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    lens.write.mode("overwrite").parquet(f"{path}/lens")
    stats.write.mode("overwrite").parquet(f"{path}/stats")


def bm25_search_indexed(
    spark,
    path: str,
    query: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k from the persisted index: the bucket equality filter on
    the partition column prunes the postings read to the query
    terms' buckets (assert `PartitionFilters` in the scan), then the
    term filter + shared scoring core run over that slice. Results
    are identical to the direct `bm25_topk` (same exact-decimal
    arithmetic)."""
    terms = sorted(set(words_az09_py(query)))
    if not terms:
        raise ValueError("empty query")
    post = spark.read.parquet(f"{path}/postings")
    lens = spark.read.parquet(f"{path}/lens")
    stats = spark.read.parquet(f"{path}/stats")
    buckets = post.sparkSession.createDataFrame(
        [(t,) for t in terms], "term string"
    ).select(
        F.pmod(F.xxhash64("term"), F.lit(int(n_buckets))).alias("b")
    )
    bvals = sorted({r["b"] for r in buckets.collect()})
    pruned = post.filter(F.col("bucket").isin(bvals)).filter(
        F.col("term").isin(terms)
    )
    scored = _score_postings(
        pruned.select(id_col, "term", "tf"), lens, stats, id_col,
        k1=k1, b=b,
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(int(k))


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k by (score DESC, id ASC) — planned as TakeOrdered."""
    terms = words_az09_py(query)
    scored = bm25_scores(
        docs, terms, text_col=text_col, id_col=id_col, k1=k1, b=b
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(int(k))


def phrase_search(
    docs: DataFrame,
    phrase: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search (positional postings — the quoted-query
    half of lexical retrieval that bag-of-words BM25 can't express):
    documents whose token stream contains the phrase's tokens
    CONSECUTIVELY, with occurrence counts and the first match
    position. Returns ``(id_col, n_matches, first_pos)`` (positions
    0-based over the tokenized stream).

    Scale design: positions come from ONE posexplode of the same
    tokenizer BM25 uses, immediately FILTERED to the phrase's terms —
    the shuffle carries only those terms' postings, never the corpus
    stream (the positional-index analogue of bm25_scores' pushdown).
    An n-token phrase then chains n−1 (doc, pos)-equi-joins, each
    right side pre-filtered to one term: occurrence k survives iff
    term_i sits at pos+i for all i. Repeated words in the phrase work
    naturally (each join matches positions independently). One final
    map-side-combined groupBy yields counts. Battery oracle
    ``phrase_hits`` replays it with a window-lead construction —
    two independent formulations agreeing is the point."""
    terms = words_az09_py(phrase)
    if not terms:
        raise ValueError("phrase_search: phrase has no tokens")
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(words_az09(text_col)).alias("pos", "term"),
    ).filter(F.col("term").isin(terms))
    starts = toks.filter(F.col("term") == terms[0]).select("__id", "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = toks.filter(F.col("term") == t).select(
            "__id", (F.col("pos") - i).alias("pos")
        )
        starts = starts.join(nxt, ["__id", "pos"])
    return starts.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("pos").cast("long").alias("first_pos"),
    ).withColumnRenamed("__id", id_col)
