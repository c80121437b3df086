"""TF-IDF keyword extraction — the per-document salient-terms
operator (search indexing, topic labeling, near-dup triage).

Builds on the same whitespace tokenizer the dedup/BM25 family uses
(``functions/text.py::tokens``; reference n-gram machinery parity:
``skrub/_string_distances.py:1``). Shape at 100 TB:

- term frequencies: ONE map-side-combined groupBy on
  ``(doc_id, term)`` — the only corpus-sized shuffle;
- document frequencies reduce the tf frame by term (vocab-sized);
- the vocab-sized idf frame BROADCASTS back onto tf (no second
  corpus shuffle);
- top-k per doc is a window partitioned BY DOCUMENT (bounded
  frame, never a global sort).

``idf = round(ln(n_docs/df), 6)`` and ``score = round(tf·idf, 6)``
follow the proven cross-engine float bridge (ln at 6dp, fixed
operand order), so ranking and scores replay bit-identically in SQL
(battery oracle ``keywords_tfidf``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, words_az09
from ..session import checkpoint


def tfidf_keywords(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """Top-``top_k`` terms per document by TF-IDF:
    ``(id_col, term, tf, df, score, kw_rank)``. Ties break by term
    (ascending), so the ranking is deterministic; documents with no
    tokens yield no rows."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # tf is a branch point (both the scores and the df/idf reduce
    # consume it) — persist, or the corpus explode + groupBy runs
    # twice (the q_pretraining_pipeline lesson)
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).persist()
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("__nd"))
    idf = df_.join(F.broadcast(n)).select(
        "term",
        "df",
        F.round(
            F.log(F.col("__nd").cast("double") / F.col("df").cast("double")),
            6,
        ).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        id_col,
        "term",
        "tf",
        "df",
        F.round(F.col("tf").cast("double") * F.col("idf"), 6).alias(
            "score"
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn(
            "kw_rank", F.row_number().over(w).cast("int")
        )
        .filter(F.col("kw_rank") <= F.lit(int(top_k)))
    )


def more_like_this(
    docs: DataFrame,
    probe_ids: list | DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Item-item lexical retrieval (r9): for each probe document,
    the ``top_k`` most TF-IDF-cosine-similar other documents —
    "more like this" over an inverted index, the sparse-lexical
    sibling of ``similarity/knn_join`` (dense) and ``bm25_search``
    (query-string). Columns: ``(probe_id, cand_id, cosine, rank)``.

    Scale shape (the bm25 postings discipline): the corpus pays ONE
    (doc, term) tf shuffle + a vocab-sized idf reduce; the
    candidate join ships ONLY the probes' postings against the
    term-keyed corpus postings, so a handful of probes touch a
    handful of terms' rows, never the corpus pairwise. ``max_df``
    optionally drops ubiquitous terms from the candidate join (the
    stopword guard against hot term keys at crawl scale; changes
    semantics, default off).

    Exactness: weights are 6dp-rounded ``tf·idf`` lifted to
    DECIMAL(18,6); dots and squared norms are exact DECIMAL sums,
    combined into the cosine by fixed-order IEEE ops and rounded to
    6dp — rankings replay bit-identically in the DuckDB oracle
    (``more_like_this``), ties broken by candidate id.

    The persisted tf, weight and norm frames back the returned frame;
    see :func:`skrub_spark.release` for the cache contract."""
    spark = docs.sparkSession
    if isinstance(probe_ids, DataFrame):
        probes = probe_ids.select(F.col(probe_ids.columns[0]).alias("__pid"))
    else:
        probes = spark.createDataFrame(
            [(p,) for p in probe_ids], f"__pid {docs.schema[id_col].dataType.simpleString()}"
        )
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist()
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("__nd"))
    idf = df_.join(F.broadcast(n)).select(
        "term",
        "df",
        F.round(
            F.log(F.col("__nd").cast("double") / F.col("df").cast("double")),
            6,
        ).alias("idf"),
    )
    # persisted: consumed by norms, the probe postings and the dots
    # join — left lazy each branch would rebuild the idf broadcast,
    # including its full corpus count scan, once per consumer
    w = tf.join(F.broadcast(idf), "term").select(
        id_col,
        "term",
        "df",
        F.round(F.col("tf").cast("double") * F.col("idf"), 6)
        .cast("decimal(18,6)")
        .alias("w"),
    ).persist()
    # norms use ALL terms (max_df prunes only the candidate join);
    # persisted: read twice (probe norms + candidate norms)
    norms = w.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    ).filter(F.col("n2") > 0).persist()
    postings = w if max_df is None else w.filter(F.col("df") <= int(max_df))
    pw = postings.join(
        F.broadcast(probes),
        F.col(id_col) == F.col("__pid"),
    ).select(F.col("__pid"), F.col("term"), F.col("w").alias("wp"))
    dots = (
        pw.join(postings, "term")
        .filter(F.col(id_col) != F.col("__pid"))
        .groupBy("__pid", id_col)
        .agg(F.sum(F.col("wp") * F.col("w")).alias("dot"))
    )
    pn = norms.select(
        F.col(id_col).alias("__pid"), F.col("n2").alias("n2p")
    )
    cos = (
        dots.join(F.broadcast(pn), "__pid")
        .join(norms, id_col)
        .select(
            F.col("__pid").alias("probe_id"),
            F.col(id_col).alias("cand_id"),
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("n2p").cast("double"))
                / F.sqrt(F.col("n2").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    rk = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        cos.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= F.lit(int(top_k)))
    )


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_df: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Term burstiness (r9c) — Church & Gale's observation that
    content words are BURSTY (clumped into few documents) while
    function words are Poisson-spread. The statistic is the
    variance-to-mean ratio (index of dispersion) of a term's
    per-document count across ALL documents: ~1 for Poisson
    function words, ≫1 for topical terms. Complements TF-IDF
    (``keywords_tfidf`` above) with a corpus-level vocabulary
    audit: burstiness-ranked terms are topic markers; a corpus
    whose high-DF terms are all bursty is topically skewed.

    Zeros never materialize: with N docs, T = Σc total occurrences
    and S = Σc² over docs CONTAINING the term,
    VMR = (N·S − T²) / ((N−1)·T) — three exact DECIMAL(38,0)
    integers (T² overflows BIGINT at web-corpus counts), ONE IEEE
    division, 6dp round. One tokenization pass, one
    map-side-combined groupBy; the top-k is a bounded ordered
    limit by (vmr desc, term).

    Returns ``(term, doc_freq, total_count, vmr)``.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        words_az09(text_col).alias("ts"),
    ).where(F.size("ts") > 0)
    toks = toks.persist()
    n_docs = toks.select(F.count(F.lit(1)).cast("long").alias("nd"))
    per_doc = (
        toks.select("id", F.explode("ts").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    d38 = "decimal(38,0)"
    stats = (
        per_doc.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.sum("c").cast("long").alias("total_count"),
            F.sum((F.col("c").cast(d38) * F.col("c").cast(d38))).alias("s2"),
        )
        .where(F.col("doc_freq") >= min_df)
        .crossJoin(F.broadcast(n_docs))
    )
    t38 = F.col("total_count").cast(d38)
    vmr = F.round(
        (F.col("nd").cast(d38) * F.col("s2") - t38 * t38).cast("double")
        / ((F.col("nd") - 1).cast(d38) * t38).cast("double"),
        6,
    )
    out = checkpoint(
        stats.select("term", "doc_freq", "total_count", vmr.alias("vmr"))
        .orderBy(F.col("vmr").desc(), "term")
        .limit(top_k)
    )
    toks.unpersist()
    return out


def fightin_words(
    df: DataFrame,
    text_col: str,
    group_col: str,
    group_a,
    *,
    alpha: float = 0.5,
    min_count: int = 5,
    top_k: int = 40,
) -> DataFrame:
    """Fightin' Words corpus comparison (r9c — Monroe, Colaresi &
    Quinn 2008): which terms are over-represented in corpus A vs
    the rest, scored by the Dirichlet-smoothed log-odds-ratio
    z-statistic — THE method for "what changed between these two
    corpora/epochs/sources" next to TF-IDF's "what characterizes
    this doc". δ_w = ln[(y_aw+α)/(n_a+Aα−y_aw−α)] −
    ln[(y_bw+α)/(n_b+Aα−y_bw−α)], σ² ≈ 1/(y_aw+α) + 1/(y_bw+α),
    z = δ/σ.

    Determinism: counts are exact integers; each ln is 6dp-rounded
    (the survival-curve ln bridge, report/survival.py), the
    variance terms are single IEEE reciprocals of exact halves
    (α=0.5), and z rounds to 4dp — replays in SQL (battery oracle
    ``fightin_words``). Output order (z desc, term) is total.

    Returns top-k ``(term, count_a, count_b, delta, z)`` by z
    (terms characteristic of A; negative tail = characteristic of
    the rest).
    """
    toks = df.select(
        (F.col(group_col) == F.lit(group_a)).alias("in_a"),
        F.explode(words_az09(text_col)).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.col("in_a").cast("long")).cast("long").alias("ya"),
        F.sum((~F.col("in_a")).cast("long")).cast("long").alias("yb"),
    )
    counts = counts.where(F.col("ya") + F.col("yb") >= min_count)
    tot = counts.agg(
        F.sum("ya").cast("long").alias("na"),
        F.sum("yb").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    a = F.lit(float(alpha))
    big_a = F.col("v").cast("double") * a
    ya, yb = F.col("ya").cast("double"), F.col("yb").cast("double")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ln1 = F.round(F.log((ya + a) / (na + big_a - ya - a)), 6)
    ln2 = F.round(F.log((yb + a) / (nb + big_a - yb - a)), 6)
    delta = ln1 - ln2
    sigma2 = F.lit(1.0) / (ya + a) + F.lit(1.0) / (yb + a)
    z = F.round(delta / F.sqrt(sigma2), 4)
    return (
        j.select(
            "term",
            F.col("ya").alias("count_a"),
            F.col("yb").alias("count_b"),
            F.round(delta, 6).alias("delta"),
            z.alias("z"),
        )
        .orderBy(F.col("z").desc(), "term")
        .limit(top_k)
    )
