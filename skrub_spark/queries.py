"""Driver-contract query battery: every entry exercises an operator
from SURVEY.md §2 and has a DuckDB oracle in ``oracle_sql()``.

Float-determinism conventions (Spark and DuckDB must produce
hash-identical values):
- All money/value columns in the test data are exact 2-decimal
  values, so every float agg goes through DECIMAL(12,2) casts →
  decimal arithmetic is exact and associative in both engines →
  cast the final result to double. NO rounding of intermediate
  values anywhere (round() differs between engines exactly at the
  .5 boundaries that products of 2-decimal values often hit).
- Averages → exact decimal sum cast to double, divided by count
  (identical numerator/denominator → identical IEEE result).
- Durations → integer microseconds (unix_micros / epoch_us).
- timestamps → µs precision in both engines (Spark native; DuckDB
  truncates the parquet ns timestamps to µs on read).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup.embedding import embedding_near_duplicates
from .dedup.exact import dedup_exact
from .dedup.jaccard import ngram_jaccard_pairs
from .dedup.minhash import dedup_minhash_pairs
from .dedup.simhash import dedup_simhash_pairs
from .functions.datetime import datetime_feature_columns
from .functions.text import language_id, quality_columns, tokens
from .operators.agg_joiner import AggJoiner, MultiAggJoiner, aggregate_table
from .operators.joiner import fuzzy_join
from .operators.session_encoder import session_features
from .session import checkpoint
from .similarity.topk import topk_cosine
from .sources import load_table
from .encoders.squashing_scaler import SquashingScaler
from .operators.session_encoder import SessionEncoder
from .table_vectorizer import TableVectorizer
from .operators.interpolation_joiner import interpolation_join
from .streaming.ops import session_window_features, windowed_event_counts


def _prep(spark: SparkSession) -> SparkSession:
    # Driver may hand us a vanilla session; pin the confs correctness
    # depends on (tz for datetime parts, ns-parquet reads). The codegen
    # cache size (session._DEFAULTS) cannot be pinned here: it is a
    # static conf, fixed when the session was created.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def _fresh_tmp(prefix: str, max_age_s: int = 7200) -> str:
    """A new uuid-suffixed temp path, sweeping STALE siblings first.

    Battery queries that round-trip through disk need unique paths
    (concurrent runs must not clobber each other mid-read), which
    previously accumulated one directory per run forever (ADVICE
    r5). The returned path stays on disk for the session — the
    query's DataFrame is lazy, so deleting after return would break
    the driver's collect — and the next run older than ``max_age_s``
    sweeps it; recent siblings are left alone so a concurrent
    battery/bench run is never pulled out from under."""
    import shutil
    import tempfile
    import time
    import uuid

    base = tempfile.gettempdir()
    cutoff = time.time() - max_age_s
    try:
        for name in os.listdir(base):
            p = os.path.join(base, name)
            if name.startswith(prefix) and os.path.isdir(p):
                try:
                    if os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
    except OSError:
        pass
    return os.path.join(base, prefix + uuid.uuid4().hex[:8])


def _await_stream(q, min_batches: int) -> None:
    """Wait for a started streaming query to finish: stop it and raise
    ``TimeoutError`` after 300 s, and raise ``AssertionError`` when
    fewer than ``min_batches`` micro-batches read data (queries that
    exercise cross-batch state pass 2)."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming query did not finish in 300s")
    n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    if n_batches < min_batches:
        raise AssertionError(
            f"expected >={min_batches} data micro-batches, got {n_batches}"
        )


def _dec(col):
    """Exact decimal view of a 2-decimal-valued double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def _dsum(col, alias):
    """Order-independent double sum: exact decimal addition, cast to
    double at the end. ``col`` must already be decimal-typed."""
    return F.sum(col).cast("double").alias(alias)


# --------------------------------------------------------------- queries

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (groupBy/agg core engine)."""
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    charge = disc_price * (1 + _dec("l_tax"))
    cnt = F.count(F.lit(1))
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-31").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_dec("l_quantity"), "sum_qty"),
            _dsum(_dec("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(_dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )
    return out


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + top-k (broadcast dim join)."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_agg_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggJoiner: aggregate orders per customer, broadcast-join onto
    customer (skrub AggJoiner parity)."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice_dec", _dec("o_totalprice")
    )
    joiner = AggJoiner(
        orders,
        operations=["count", "sum", "max"],
        main_key="c_custkey",
        aux_key="o_custkey",
        cols=["o_totalprice", "o_totalprice_dec"],
    )
    out = joiner.fit(cust).transform(cust)
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.col("o_totalprice_count").alias("n_orders"),
        (
            F.col("o_totalprice_dec_sum").cast("double")
            / F.col("o_totalprice_count")
        ).alias("avg_order_price"),
        F.col("o_totalprice_max").alias("max_order_price"),
    )


def q_multi_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiAggJoiner: two aux tables on different keys."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    supp = supp.withColumn("s_acctbal_dec", _dec("s_acctbal"))
    mj = MultiAggJoiner(
        [orders, supp],
        operations=[["count"], ["count", "sum"]],
        main_keys=["c_custkey", "c_nationkey"],
        aux_keys=["o_custkey", "s_nationkey"],
        cols=[["o_orderkey"], ["s_acctbal_dec"]],
        suffixes=["_ord", "_sup"],
    )
    out = mj.fit(cust).transform(cust)
    return out.select(
        "c_custkey",
        F.col("o_orderkey_count_ord").alias("n_orders"),
        F.col("s_acctbal_dec_count_sup").alias("n_suppliers_in_nation"),
        (
            F.col("s_acctbal_dec_sum_sup").cast("double")
            / F.col("s_acctbal_dec_count_sup")
        ).alias("avg_supplier_acctbal"),
    )


def q_agg_target_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggTarget-style per-entity target aggregation over events."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    agg = aggregate_table(ev, ["user_id"], ["value"], ["count", "min", "max"], "")
    extra = ev.groupBy("user_id").agg(
        _dsum(_dec("value"), "value_sum"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchases"),
    )
    return agg.join(extra, on="user_id").select(
        "user_id",
        F.col("value_count").alias("n_events"),
        F.col("value_min").alias("value_min"),
        F.col("value_max").alias("value_max"),
        "value_sum",
        "n_purchases",
    )


def q_datetime_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DatetimeEncoder features on orders.o_orderdate."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    cols = datetime_feature_columns(
        "o_orderdate",
        "o_orderdate",
        resolution="day",
        add_weekday=True,
        add_day_of_year=True,
        add_total_seconds=True,
    )
    return orders.select("o_orderkey", *[v.alias(k) for k, v in cols.items()])


def q_fuzzy_join_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_join (levenshtein argmin, broadcast right side)."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = fuzzy_join(
        cust,
        supp,
        left_on="c_name",
        right_on="s_name",
        strategy="levenshtein",
        add_match_info=True,
        tiebreak_cols=["s_suppkey"],
    )
    return out.select(
        "c_custkey",
        "c_name",
        "s_suppkey",
        "s_name",
        F.col("skrub_Joiner_distance").cast("double").alias("dist"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents (hash groupBy)."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id").select("canonical_id", "n_duplicates")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            .cast("double")
            / F.greatest(n_tokens, F.lit(1)).cast("double")
        ).alias("mean_token_len"),
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (alpha/digit/punct ratios, stopword ratio)."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    q = quality_columns(F.col("text"))
    return docs.select(
        "doc_id",
        q["alpha_ratio"].alias("alpha_ratio"),
        q["digit_ratio"].alias("digit_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID over documents."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding."""
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return topk_cosine(emb, qv, k=10, round_digits=4)


def q_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-ANN-index probe: build the (table, bucket) index,
    WRITE it partitioned by bucket, read it back and probe with
    partition pruning. 4 planes x 24 tables reaches recall 1.0 for
    this query at sf0.01 (verified == brute force), so the exact
    brute-force oracle applies."""
    _prep(spark)
    import tempfile

    from .similarity import (
        build_ann_index, read_ann_index, topk_cosine_indexed, write_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    idx = build_ann_index(emb, "embedding", "vec_id", n_planes=4, n_tables=24)
    path = os.path.join(tempfile.gettempdir(), "skrub_q_ann", "index")
    write_ann_index(idx, path)
    back = read_ann_index(spark, path)
    return topk_cosine_indexed(
        back, qv, k=10, n_planes=4, n_tables=24, round_digits=4
    )


def q_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF persisted-index probe: data-dependent centroids, cells
    written partitionBy(__ivf_cell), probes read only the matching
    partitions. n_probe = n_cells makes the probe exhaustive, so the
    exact brute-force oracle applies while the query still exercises
    the real build→write→read→prune path."""
    _prep(spark)
    import tempfile

    from .similarity.index import (
        build_ivf_index, read_ivf_index, topk_cosine_ivf_indexed,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    idx, cents = build_ivf_index(emb, "embedding", "vec_id", n_cells=8)
    path = os.path.join(tempfile.gettempdir(), "skrub_q_ivf", "index")
    write_ivf_index(idx, cents, path)
    back, cents2 = read_ivf_index(spark, path)
    return topk_cosine_ivf_indexed(
        back, cents2, qv, k=10, n_probe=8, round_digits=4
    )


def q_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized cosine top-10 (r6): per-dim min/max fit
    over the corpus, embeddings mapped to uint8 codes, ranking over
    the DEQUANTIZED codes with the query pushed through the same
    grid — what a 4x-compressed 100 TB vector store actually
    serves. The oracle replays fit -> codes -> dequantize -> cosine
    entirely in SQL (integer codes bit-exact, cosine to 4dp like
    the other top-k oracles)."""
    _prep(spark)
    from .similarity import fit_scalar_quantizer, topk_cosine_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[
        "embedding"
    ]
    quant = fit_scalar_quantizer(emb, "embedding")
    return topk_cosine_quantized(emb, quant, qv, k=10, round_digits=4)


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding k-NN self-join (exact broadcast mode): each vector's
    5 nearest neighbors by cosine. Oracle = DuckDB brute-force with a
    ROW_NUMBER window."""
    _prep(spark)
    from .similarity import cosine_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_knn_join(emb, emb, k=5, method="exact", round_digits=4)


def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding k-NN join, LSH-bucketed scale mode (candidates =
    shared hyperplane buckets; approximate recall: rows-only).
    8 planes = 256 buckets/table keeps candidate volume ~n²/256 per
    table — selectivity that holds as the corpus grows (add planes
    with log₂(n))."""
    _prep(spark)
    from .similarity import cosine_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_knn_join(
        emb, emb, k=5, method="lsh", n_planes=8, n_tables=8, round_digits=4
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over events (window functions)."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    from .operators.session_encoder import sessionize

    s = sessionize(ev, "user_id", "ts", 30.0)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
        F.sum(_dec("value")).cast("double").alias("value_sum"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard near-dup pairs over documents."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    # max_doc_freq=150 is the skew guard: shingles appearing in >150
    # docs generate candidate pairs quadratically and carry no
    # near-dup signal. The oracle applies the identical cap, so the
    # comparison stays exact.
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", unit="word", n=3, threshold=0.2, max_doc_freq=150
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_embedding_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact mode for the oracle;
    LSH mode is exercised in tests/bench)."""
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        emb, "embedding", "vec_id", threshold=0.35, exact=True
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the hyperplane-LSH scale path
    (the default mode). 3 planes x 48 tables reaches recall 1.0 on
    the sf0.01 embeddings (verified: LSH pair set == exact pair set),
    so the exact-cosine DuckDB oracle applies to this path too."""
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        emb, "embedding", "vec_id", threshold=0.35, n_planes=3, n_tables=48
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (r6): k-means-bounded semantic dedup over the
    embeddings table — every vector labeled with its near-dup
    component and a keep flag. Rows-only by nature (the cluster
    assignment is a numpy-k-means argmin, not SQL-expressible);
    contracted in tests/test_operators.py: planted near-identical
    groups are recovered exactly, and every merged pair is verified
    cosine>=threshold against numpy."""
    _prep(spark)
    from .dedup.embedding import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # 8 cells keeps the within-cell pair count ~n²/8 at every SF
    # (the operator's whole point); 1 Lloyd iteration is enough for
    # a stable partition on this table
    return semantic_dedup(
        emb, "embedding", "vec_id", threshold=0.35, n_clusters=8,
        lloyd_iters=1,
    )


def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs, Jaccard-verified. The
    output is exact-Jaccard-filtered, so with full LSH recall it
    EQUALS the exact shingle-Jaccard pair set — verified at sf0.01
    (identical pair set + values), which makes the DuckDB exact-
    Jaccard oracle applicable. LSH only affects recall, never adds
    false pairs."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    return dedup_minhash_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        n_components=64,
        # n_bands auto: at t=0.2 the principled banding is r=1/b=64
        # (OR-only), recall 1-(0.8)^64 ≈ 1-6e-7 per true pair.
        jaccard_threshold=0.2,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming<=3 near-dup pairs. The md5-derived 60-bit gram
    hash is engine-portable, so the DuckDB oracle recomputes the
    exact simhashes and checks the pair set all-pairs (the Spark
    side's chunk-banding is lossless for hamming <= n_chunks-1)."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    return dedup_simhash_pairs(docs, "text", "doc_id", max_hamming=3)


def q_squashing_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SquashingScaler on customer.c_acctbal (robust scale + soft clip)."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    sc = SquashingScaler(cols=["c_acctbal"]).fit(cust)
    return sc.transform(cust).select(
        "c_custkey", F.col("c_acctbal").alias("acctbal_scaled")
    )


def q_one_hot_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableVectorizer low-cardinality one-hot path on customer."""
    _prep(spark)
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    tv = TableVectorizer(cardinality_threshold=10)
    return tv.fit(base).transform(base)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CURATION pipeline in ONE lazy Spark plan, chaining
    the round-5 operator family: Gopher repetition filter (keep) ->
    PII redaction -> exact dedup on the REDACTED text (min doc_id
    canonical) -> per-language summary. The DuckDB oracle replays
    the entire chain as composed CTEs, so every stage is exact and
    the composition itself (filters feeding joins feeding groupBys,
    all fused by Catalyst) is what's verified."""
    _prep(spark)
    from .functions.text import redact_pii
    from .operators.repetition import repetition_filter

    docs = load_table(spark, sf_dir, "documents")
    keep = repetition_filter(docs, "text", "doc_id").select("doc_id", "keep")
    kept = docs.join(keep, on="doc_id").filter(F.col("keep"))
    red = kept.select(
        "doc_id", "lang", redact_pii(F.col("text")).alias("clean")
    )
    # min(lang): deterministic even if exact-duplicate texts ever
    # carried different lang tags
    canon = red.groupBy("clean").agg(
        F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
    )
    return canon.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("clean")).alias("total_chars"),
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation domain analysis with an EXACT oracle: plant
    deterministic URLs per document (SQL concat the oracle replays),
    extract hosts with an RE2-compatible regexp_extract_all, and
    aggregate per-domain distinct-doc and occurrence counts, minus
    blocklisted docs: the final count excludes documents citing the
    blocked domain (broadcast semi-join)."""
    _prep(spark)
    from .operators.domains import domain_stats, drop_blocked_domains

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/page and http://cdn.example.net/x"),
        ).alias("text2"),
    )
    kept = drop_blocked_domains(
        planted, ["site3.example.org"], content_col="text2", id_col="doc_id"
    )
    return domain_stats(kept, content_col="text2", id_col="doc_id").orderBy(
        "domain"
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for URL-level dedup (r6): per-doc planted
    URLs carrying every decoration a crawl frontier produces —
    uppercase scheme/host, default ports, tracking params, unsorted
    query, fragments — collapse to canonical resources; output is
    docs-per-canonical-URL. The oracle replays the planting AND the
    full canonicalization (same RE2 regexes, list sort, tracking
    filter) in SQL."""
    _prep(spark)
    from .operators.domains import canonical_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.lit("Site"), (d % 5).cast("string"), F.lit(".Example.org"),
        F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        F.when(d % 4 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p"), (d % 4).cast("string"))
        ),
        F.lit("?utm_source=feed&b="), (d % 3).cast("string"),
        F.lit("&a=1&fbclid=xyz"),
        F.lit("#sec"), d.cast("string"),
    )
    return (
        docs.select(canonical_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup (Raffel et al. 2019 §2.2): every
    repeated (trimmed, lowercased) line across the whole documents
    corpus survives only at its first (doc, pos) occurrence; docs are
    rebuilt from their surviving lines. Exact oracle: DuckDB replays
    the same first-occurrence window + string_agg rebuild."""
    _prep(spark)
    from .operators.span_dedup import dedup_spans

    docs = load_table(spark, sf_dir, "documents")
    return dedup_spans(docs, "text", "doc_id")


def q_span_dedup_w3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful C4 granularity: 3-consecutive-line spans — every
    non-first occurrence of a repeated span deletes its 3 lines.
    Exact oracle: DuckDB builds the same windows with
    list_slice/range over per-doc ordered line lists and replays the
    first-occurrence rule."""
    _prep(spark)
    from .operators.span_dedup import dedup_spans

    docs = load_table(spark, sf_dir, "documents")
    return dedup_spans(docs, "text", "doc_id", window=3)


def q_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM perplexity scoring (Wenzek et al. 2019,
    beyond-reference LLM-pipeline op): train an add-one-smoothed
    bigram LM over the documents corpus (model = DataFrames of
    gram/context counts, never collected), score every document's
    mean negative log-likelihood via explode + left-join + groupBy,
    flag the low-perplexity head. Exact oracle: DuckDB replays
    tokenization (RE2 words), counts, the smoothed -ln rounded to 6
    decimals, and the exact DECIMAL(28,6) per-doc sum."""
    _prep(spark)
    from .functions.text import words_az09
    from .operators.lm_filter import score_ngram_perplexity, train_ngram_lm

    docs = load_table(spark, sf_dir, "documents")
    # r13 (guide §2.4): train + score formerly ran 4 independent
    # words_az09 regex passes over the corpus (two count frames,
    # vocabulary, scoring occurrences). One tokenization into a
    # persisted narrow frame; identical tokens -> identical grams ->
    # identical scores (oracle-verified). Cache: see skrub_spark.release.
    tok = docs.select(
        "doc_id", words_az09("text").alias("__words")
    ).persist()
    lm = train_ngram_lm(tok, n=2, words_col="__words")
    scored = score_ngram_perplexity(tok, lm, alpha=1.0, words_col="__words")
    return scored.select(
        "doc_id",
        "n_ngrams",
        "avg_nll",
        (F.col("avg_nll").isNotNull() & (F.col("avg_nll") <= 3.5)).alias("keep"),
    )


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-lite boilerplate line removal (beyond-reference
    LLM-pipeline op): plant deterministic nav/copyright lines plus a
    punctuation-terminated sentence around each document (pure SQL
    concat, so the oracle replays the input), then strip lines that
    are short-without-terminal-punctuation or SHOUTING. Pure array
    higher-order functions — no explode, no shuffle. Exact oracle:
    DuckDB list_filter replays the rule byte-exactly."""
    _prep(spark)
    from .operators.boilerplate import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("HOME | ABOUT | CONTACT US\n"),
            F.col("text"),
            F.lit("\nCopyright 2020 site"),
            F.col("doc_id").cast("string"),
            F.lit("\nThis short line is a proper sentence."),
        ).alias("text2"),
    )
    return remove_boilerplate_lines(
        planted, "text2", min_words=20, max_upper_ratio=0.5
    ).select("doc_id", "n_lines_total", "n_lines_kept", "clean_text")


def q_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot ingest (beyond-reference sources op): even
    documents land as snapshot v1; a second batch (odd docs + planted
    copies of v1 content and within-batch dups) ingests against the
    history's content hashes and lands as v2. The returned v2
    survivors must equal the incremental-dedup rule, which the
    oracle replays; the read path is a direct v=2 directory read."""
    import tempfile
    import uuid

    from .sources.snapshots import ingest_snapshot

    _prep(spark)
    root = _fresh_tmp("skrub_q_snap_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ingest_snapshot(docs.filter(F.col("doc_id") % 2 == 0), root)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    batch2 = odd.unionByName(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        odd.filter(F.col("doc_id") < 100).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    _, survivors = ingest_snapshot(batch2, root)
    return survivors.select("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-build-time decontamination (GPT-3/CCNet style): train
    documents sharing ANY 13-gram with the eval sources are removed;
    the planted cross-source near-dups must vanish and everything
    else survive. Exact oracle: DuckDB replays shingling and the
    no-shared-gram survival rule. Spark side: the shingle-overlap
    kernel (dedup/overlap.py — one left join of the train docs'
    gram hashes against the eval side's, one per-doc count) and one
    semi-join back to the train rows."""
    _prep(spark)
    from .dedup.contamination import decontaminate_train

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin("src0", "src1")
    out = decontaminate_train(
        docs.filter(~is_eval), docs.filter(is_eval), "text", "doc_id",
        ngram=13, max_contamination=0.0,
    )
    return out.select("doc_id", "source")


def q_pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining-data path in ONE lazy Spark plan —
    HTML main-content extraction (r9 stage 0) -> boilerplate line
    removal -> Gopher repetition filter -> PII redaction (planted)
    -> exact dedup -> token-window substring dedup -> mixture
    sampling to per-source targets -> deterministic corpus shuffle
    -> sequence packing — nine stages fused by Catalyst, emitting
    each surviving document's final training placement (shard,
    position, chunk span). The DuckDB oracle replays every stage as
    composed CTEs, so the COMPOSITION is verified exactly, not just
    the stages in isolation."""
    _prep(spark)
    from .dedup.exact import drop_exact_duplicates
    from .functions.text import redact_pii
    from .operators.boilerplate import remove_boilerplate_lines
    from .operators.html_extract import html_extract
    from .operators.packing import pack_training_chunks
    from .operators.repetition import repetition_filter
    from .operators.sampling import sample_to_targets
    from .operators.span_dedup import dedup_token_spans
    from .sources.sharding import shuffle_order

    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # 0. HTML main-content extraction (r9): wrap each doc in the
    # same deterministic markup as q_html_extract (nav + noise +
    # h1/p article + link-dense box + footer) and extract — the DOM
    # stage every CC pipeline runs before line heuristics. The
    # extracted main_text is 'Doc <id>\\n' + normalized text (the
    # title line is then dropped by stage 1's 20-word rule), which
    # the oracle replays as a leading CTE.
    did = F.col("doc_id").cast("string")
    planted = raw.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("<html><head><title>Doc "),
            did,
            F.lit(
                '</title><script>var nav = "<p>fake</p>";</script>'
                '<style>.m{color:red}</style></head><body><nav>'
                '<a href="/">Home</a> <a href="/docs">Docs</a></nav>'
                "<!-- build --><h1>Doc "
            ),
            did,
            F.lit("</h1><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                '</p><footer><a href="/c">Contact</a> '
                '<a href="/t">Terms</a></footer></body></html>'
            ),
        ).alias("html"),
    )
    docs = (
        html_extract(planted, "html")
        .filter(F.col("n_kept") >= 1)
        .select("doc_id", "source", F.col("main_text").alias("text"))
    )
    # Each downstream self-join (filter-by-stats, dedup canonical,
    # sampling counts) re-consumes its input; without persists the
    # upstream chain re-executes per branch — 2^branches work.
    # r6 (VERDICT r5 #3): persist NARROW frames wherever the branch
    # only needs ids/counts — full text is materialized exactly
    # twice (post-boilerplate `b`, post-dedup `d`); the redacted
    # frame and the stage-5 rebuild are never cached, and the final
    # output needs no text at all (n_tokens comes from the dedup
    # op's own counters), so Catalyst prunes the per-doc text
    # rebuild entirely. Blocks stay cached for the session and are
    # LRU-evicted under pressure; a consumer that needs them gone
    # immediately calls skrub_spark.release after materializing.
    # 1. boilerplate: drop short/shouting lines, rebuild
    b = remove_boilerplate_lines(docs, "text", min_words=20)
    b = (
        b.filter(F.col("n_lines_kept") >= 1)
        .select("doc_id", "source", F.col("clean_text").alias("text"))
        .persist()
    )
    # 2. Gopher repetition thresholds — keep-ids only (narrow persist:
    # the stats aggregations would otherwise re-run per downstream
    # consumer of the redacted frame)
    rep_ids = (
        repetition_filter(b, "text", "doc_id")
        .filter(F.col("keep"))
        .select("doc_id")
        .persist()
    )
    kept = b.join(rep_ids, "doc_id")
    # 3. PII redaction (planted deterministic email, like
    # pii_redaction) — lazy: consumed twice by the exact dedup below,
    # each pass re-reading cached `b` + re-running the regex chain,
    # cheaper than materializing a third full-text copy
    red = kept.select(
        "doc_id",
        "source",
        redact_pii(
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            )
        ).alias("text"),
    )
    # 4. exact dedup (min-id canonical survives); persisted because
    # the token-window dedup consumes it three times (window keys,
    # token explode, totals)
    d = drop_exact_duplicates(red, "text", "doc_id").persist()
    # 5. substring dedup at 20-token windows, counts_only: the
    # pipeline's output carries no text, so the surviving token
    # count n_tokens - n_removed is all that's needed (tokens are
    # whitespace-free, so the full path's space-joined rebuild would
    # re-split to exactly the survivors) — the operator skips the
    # every-token explode/anti-join/rebuild and aggregates only the
    # deleted-position frame, which holds duplicated windows only
    sd = dedup_token_spans(d, "text", "doc_id", window=20, counts_only=True)
    sdn = (
        sd.filter(F.col("n_tokens") - F.col("n_removed") >= 1)
        .select(
            "doc_id",
            "source",
            (F.col("n_tokens") - F.col("n_removed"))
            .cast("long")
            .alias("n_tokens"),
        )
        .persist()
    )
    # 6. mixture sampling: equal per-source row targets
    targets = {f"src{i}": 15 for i in range(20)}
    m = sample_to_targets(sdn, "source", targets, key="doc_id", salt="pp5")
    # 7. deterministic training order
    o = shuffle_order(m, key="doc_id", n_shards=8, salt="pp5")
    # 8. pack into 1024-token chunks per shard
    packed = pack_training_chunks(
        o, "n_tokens", 1024, order_col="shard_pos", by="shard",
    )
    return packed.select(
        "doc_id", "source", "shard", "shard_pos", "n_tokens",
        "start_chunk", "end_chunk", "chunk_offset",
    )


def q_jsonl_gz_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped-JSONL source/sink round-trip — the standard web-corpus
    interchange format: documents written as .json.gz lines, read
    back with an explicit schema, aggregated per (lang, source) with
    a token sum. The oracle reads the parquet originals, so the
    round-trip (including JSON string escaping) must be lossless for
    the hash to match."""
    _prep(spark)
    import tempfile
    import uuid

    from .sources import read_json

    # unique path: concurrent battery/bench runs must not clobber
    # each other's round-trip data mid-read
    tmp = _fresh_tmp("skrub_q_jsonl_")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").option("compression", "gzip").json(tmp)
    back = read_json(spark, tmp, schema=docs.schema)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level exact substring dedup (Lee et al. 2021
    'ExactSubstr' shape at 20-token windows): repeated 20-token runs
    survive only at their first corpus occurrence, documents rebuilt
    from surviving tokens. Exact oracle: DuckDB builds the same
    window keys with list_slice/range and replays the
    first-occurrence + position-delete rule."""
    _prep(spark)
    from .operators.span_dedup import dedup_token_spans

    docs = load_table(spark, sf_dir, "documents")
    return dedup_token_spans(docs, "text", "doc_id", window=20)


def q_streaming_near_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup flagging with an EXACT SQL
    oracle, across >= 2 REAL micro-batches: documents split at the
    id median into two files, streamed with maxFilesPerTrigger=1;
    band buckets are claimed first-arrival in the state store (ids
    arrive in ascending order here, so arrival order EQUALS the
    batch min-id rule the oracle replays) and every doc sharing a
    band with an earlier one is flagged. The md5 double-hash sketch
    is engine-portable, so DuckDB replays signatures, band keys,
    claims and flags bit-exactly."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming import near_dup_summary, streaming_near_dedup

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)").alias("c")).first()["c"]
    src = _fresh_tmp("skrub_strndd_src_")
    os.makedirs(src)
    halves = [
        docs.filter(F.col("doc_id") <= F.lit(cut)),
        docs.filter(F.col("doc_id") > F.lit(cut)),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strndd_" + uuid.uuid4().hex[:8]
    q = (
        streaming_near_dedup(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    return near_dup_summary(spark.table(name), ids=docs)


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order
    (beyond-reference LLM-pipeline op): every document gets a
    reproducible (shard, shard_pos) from the content-addressed md5
    rule — one hash shuffle + per-shard sort. Exact oracle: DuckDB
    replays the md5 bucketing and the within-shard hex ordering."""
    _prep(spark)
    from .sources.sharding import shuffle_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shuffle_order(docs, key="doc_id", n_shards=16, salt="ord5").select(
        "doc_id", "shard", "shard_pos"
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (beyond-reference LLM-pipeline op):
    a 'new crawl' — the odd documents plus planted copies of seen
    texts (shifted ids) and planted within-batch duplicates — is
    deduplicated against the even documents via the 8-byte-hash
    anti-join. Every planted copy must vanish and every original odd
    row survive. Exact oracle: DuckDB replays the same construction
    with NOT EXISTS + min-id canonicalization on text equality."""
    _prep(spark)
    from .dedup.exact import dedup_incremental

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    new = (
        odd
        .unionByName(
            seen.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        .unionByName(
            odd.filter(F.col("doc_id") < 100).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return dedup_incremental(new, seen).select("doc_id")


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel attrition report (r6): per-stage surviving
    document/token counts through boilerplate -> repetition -> exact
    dedup -> substring dedup. The oracle replays the whole cascade
    (the same CTE building blocks as the pretraining-pipeline
    oracle, minus PII/mixture/shuffle/pack) so every count is exact
    — the observability surface a production pipeline watches for
    silent over-/under-filtering."""
    _prep(spark)
    from .report.funnel import curation_funnel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curation_funnel(docs, "text", "doc_id", min_words=20, window=20)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling (r6): each document
    survives with probability proportional to its length score
    n_tokens/100 (a stand-in for a classifier quality score) — the
    FineWeb-Edu shape, content-addressed so the oracle replays every
    keep decision bit-exactly. scale=1.2 exercises BOTH branches:
    docs over ~83 tokens clamp to certainty, short docs face real
    odds (sf0.01: keeps ~290/500)."""
    _prep(spark)
    from .operators.sampling import sample_weighted

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    score = F.size(tokens("text")).cast("double") / F.lit(100.0)
    weighted = docs.withColumn("score", score)
    return sample_weighted(
        weighted, "score", key="doc_id", salt="wq6", scale=1.2
    ).select("doc_id", "score")


def q_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup (r6): odd-id docs ingest against the
    persisted band buckets of the even-id 'prior snapshot' — the
    MinHash twin of `incremental_dedup`, with the same portable md5
    bucket rule as `streaming_near_dup_flags`, so the oracle replays
    signatures, buckets, history hits and within-batch min-id claims
    bit-exactly."""
    _prep(spark)
    from .dedup.minhash import minhash_buckets, minhash_incremental

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    seen = minhash_buckets(hist).select("band_idx", "band_key").distinct()
    return minhash_incremental(batch, seen).select("doc_id")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling (beyond-reference
    LLM-pipeline op): per-source row targets converted to
    content-addressed md5 keep thresholds from the OBSERVED source
    sizes — pure int64 arithmetic ((10^8 * target) DIV count at
    sampling._FINE_BUCKETS = 10^8 resolution, capped),
    so the oracle replays membership bit-exactly at every SF. Covers
    the cap branch (a target above the stratum size keeps the whole
    stratum) and dropped strata (no target)."""
    _prep(spark)
    from .operators.sampling import sample_to_targets

    docs = load_table(spark, sf_dir, "documents")
    kept = sample_to_targets(
        docs,
        "source",
        {"src0": 10, "src1": 5, "src2": 2000, "src3": 100},
        key="doc_id",
        salt="mix5",
    )
    return kept.select("doc_id", "source")


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BPE tokenizer (Sennrich et al. 2015): learn 200
    merges from the documents corpus (distributed word count → top-k
    collect → driver merge loop), then re-encode every document with
    the Arrow-batched encoder and report per-doc token accounting.
    A merge loop isn't SQL-expressible — rows-only here; the trainer
    and encoder are pinned by tests/test_bpe.py (reference recount
    equality, hand-worked merges, round-trip)."""
    _prep(spark)
    from .operators.bpe import bpe_token_stats, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    model = train_bpe(docs, "text", n_merges=200)
    return bpe_token_stats(docs, model)


def q_selectors_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """selectors DSL resolved against a real table with an EXACT
    oracle: numeric() minus cols() union glob() boolean algebra picks
    exactly (l_orderkey, l_linenumber, l_quantity, l_extendedprice,
    l_discount, l_shipdate-via-glob) — the oracle simply selects
    those columns, so a mis-resolved selector changes the schema and
    fails the compare. Rows restricted by a deterministic key filter
    (LIMIT would pick engine-dependent rows).
    Reference: skrub/selectors/."""
    _prep(spark)
    from . import selectors as s

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 31 == 0
    )
    sel = (s.numeric() & ~s.cols("l_partkey", "l_suppkey", "l_tax")) | s.glob(
        "l_ship*"
    )
    return s.select(li, sel)


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter (Rae et al. 2021,
    Appendix A1) over documents: duplicate-line fraction,
    duplicate-line CHARACTER fraction and top-word share as two
    explode+groupBy pipelines (no UDFs, no per-row O(n^2) HOFs) plus
    the keep flag. Exact oracle: DuckDB replays the same
    unnest/group-by relational algebra; split regexes are
    RE2-compatible by construction."""
    _prep(spark)
    from .operators.repetition import repetition_filter

    docs = load_table(spark, sf_dir, "documents")
    return repetition_filter(docs, "text", "doc_id")


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (beyond-reference LLM-pipeline op): plant a
    deterministic email + phone + IPv4 per document (pure SQL concat,
    so the oracle can replay it), then redact with the Catalyst
    regexp_replace chain. Exact string-level oracle — the patterns
    are deliberately RE2-compatible so DuckDB produces byte-identical
    redactions."""
    _prep(spark)
    from .functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-000"),
            F.col("doc_id").cast("string"),
            F.lit(" ip 10.0.0.1"),
        ).alias("text2"),
    )
    return planted.select(
        "doc_id", redact_pii(F.col("text2")).alias("redacted")
    )


def q_cleaner_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaner end-to-end with an EXACT oracle (VERDICT r4 #9): a
    customer projection with planted junk — a constant column, an
    all-null column, the balance re-encoded as a STRING, the join
    date as a STRING, and 'N/A' null tokens in the segment — must
    come out with null strings cleaned, the numeric and date strings
    parsed to double/timestamp, and the two uninformative columns
    dropped. The DuckDB oracle replays the expected cleaning in SQL;
    detection is sample-robust (the planted columns parse for 100%%
    of rows at every SF), so the same decisions fall out at sf0.01
    and sf0.1. Reference: skrub Cleaner (_table_vectorizer.py),
    _clean_null_strings.py, _drop_uninformative.py."""
    _prep(spark)
    from .operators.cleaner import Cleaner

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("N/A"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.col("c_acctbal").cast("string").alias("balance_str"),
        F.date_add(
            F.lit("2020-01-01").cast("date"),
            (F.col("c_custkey") % 365).cast("int"),
        )
        .cast("string")
        .alias("joined_str"),
        F.lit("x").alias("const_col"),
        F.lit(None).cast("string").alias("all_null_col"),
    )
    return Cleaner().fit(c).transform(c)


def q_drop_similar_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DropSimilar with an EXACT oracle (VERDICT r4 #9): a
    bit-identical duplicate of the balance column and a
    99%%-agreeing near-duplicate are both dropped at threshold=0.95;
    an uncorrelated derived column survives. Agreement rates are
    1.0 / ~0.99 / 0.0, so the drop decisions are sample-robust and
    identical at every SF; the oracle selects the surviving columns.
    Reference: skrub _drop_similar.py."""
    _prep(spark)
    from .operators.cleaner import DropSimilar

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.col("c_acctbal").alias("bal_copy"),
        F.when(F.col("c_custkey") % 100 == 0, F.lit(0.0))
        .otherwise(F.col("c_acctbal"))
        .alias("bal_near"),
        (F.col("c_acctbal") + F.col("c_custkey")).alias("bal_plus"),
    )
    return DropSimilar(threshold=0.95).fit(c).transform(c)


def q_learner_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataOps fit/transform asymmetry (reference: _data_ops eval
    modes): a plan with an applied TableVectorizer is FIT on the
    train slice (c_custkey % 4 != 0) and the FROZEN state transforms
    the held-out test slice. Output = encoded test rows; the one-hot
    columns are the TRAIN vocabulary."""
    _prep(spark)
    from .plans import SkrubLearner, var
    from .table_vectorizer import TableVectorizer

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    train = cust.filter(F.col("c_custkey") % 4 != 0)
    test = cust.filter(F.col("c_custkey") % 4 == 0)
    plan = var("X").skb.apply(TableVectorizer(cardinality_threshold=10))
    learner = SkrubLearner(plan).fit({"X": train})
    return learner.transform({"X": test})


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DropUninformative/TableReport fit statistics: one distributed
    agg pass -> per-column (nulls, exact distinct) for customer."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    aggs = []
    for c in cust.columns:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__dist"))
    row = cust.agg(*aggs).first()
    data = [
        (c, int(row[f"{c}__nulls"]), int(row[f"{c}__dist"])) for c in cust.columns
    ]
    return spark.createDataFrame(
        data, "column_name string, n_nulls bigint, n_distinct bigint"
    )


def q_session_encoder_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SessionEncoder per-user rollup (sessionize -> two-level agg)."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn("value", _dec("value"))
    enc = SessionEncoder(gap_minutes=30.0).fit(ev)
    out = enc.transform(ev)
    return out.select(
        "user_id",
        "n_sessions",
        "n_events",
        F.col("events_per_session").alias("events_per_session"),
        F.col("value_sum").cast("double").alias("value_sum"),
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props -> per-event-type stats."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n"),
        F.sum(k).alias("k_sum"),
        (F.sum(k).cast("double") / F.count(k)).alias("k_mean"),
        F.max(k).alias("k_max"),
    )


def q_interpolation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InterpolationJoiner: predict a supplier-acctbal value at each
    customer's nation key as the mean of the k=3 nearest suppliers."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier")
    out = interpolation_join(
        cust,
        supp,
        main_key="c_nationkey",
        aux_key="s_nationkey",
        targets=["s_acctbal"],
        k=3,
        tiebreak="s_suppkey",
        suffix="_pred",
    )
    return out.select(
        "c_custkey", "c_nationkey", F.round("s_acctbal_pred", 4).alias("acctbal_pred")
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Spark session windows (streaming-capable sessionizer)
    on the events table — same semantics as the lag/cumsum variant."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    return session_window_features(ev, gap="30 minutes").select(
        "user_id", "session_start", "n_events", "duration_us"
    )


def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 5-way star join: broadcast dims, one fact
    shuffle — the core-engine breadth check."""
    _prep(spark)
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dsum(revenue, "revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function top-N per group: rank orders per customer."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


def q_column_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cramér's V over customer columns. Binning is pure
    IEEE double arithmetic (identical in DuckDB) and chi2 has the
    closed form n*sum(obs^2/(ra*cb)) - n over observed cells, so the
    oracle replays it in SQL; rounded to 6 digits because the two
    engines sum the chi2 terms in different orders."""
    _prep(spark)
    from .report.associations import column_associations

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    out = column_associations(cust)
    return out.select(
        "left_column_name",
        "right_column_name",
        F.round(F.col("cramer_v"), 6).alias("cramer_v"),
    )


def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (the batch form of the streaming
    op — same code path minus the watermark)."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn("value", _dec("value"))
    out = windowed_event_counts(ev, window="1 hour")
    return out.select(
        "window_start",
        "event_type",
        "n_events",
        F.col("value_sum").cast("double").alias("value_sum"),
    )


def q_interpolation_join_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InterpolationJoiner learned-model path (reference default is a
    gradient-boosted estimator, _interpolation_joiner.py:19): MLlib
    GBTRegressor fit on supplier (nationkey -> acctbal), scored at
    each customer's nation key. (MLlib predictions are not
    SQL-expressible: rows-only.)"""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier")
    out = interpolation_join(
        cust,
        supp,
        main_key="c_nationkey",
        aux_key="s_nationkey",
        targets=["s_acctbal"],
        model="gbt",
        suffix="_pred",
    )
    return out.select(
        "c_custkey", F.round(F.col("s_acctbal_pred"), 4).alias("acctbal_pred")
    )


def q_interpolation_join_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InterpolationJoiner classification path (the reference's
    default estimator for categorical targets is
    HistGradientBoostingClassifier, _interpolation_joiner.py:19-20):
    a GBTClassifier fit on supplier (s_nationkey -> acctbal sign
    class), scored at each customer's nation key, labels round-
    tripped through StringIndexer/IndexToString. (MLlib predictions
    are not SQL-expressible: rows-only.)"""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").withColumn(
        "bal_class",
        F.when(F.col("s_acctbal") > 0, "pos").otherwise("nonpos"),
    )
    out = interpolation_join(
        cust,
        supp,
        main_key="c_nationkey",
        aux_key="s_nationkey",
        targets=["bal_class"],
        model="gbt",
        suffix="_pred",
    )
    return out.select("c_custkey", "c_nationkey", "bal_class_pred")


def q_fuzzy_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_join scale path: minhash-LSH candidate generation +
    trigram-jaccard scoring. 24 bands x 1 row maximizes recall; at
    sf0.01 the candidate set provably contains every true argmin
    (verified == the exact cross-join trigram argmin), so the exact
    DuckDB trigram-jaccard ROW_NUMBER oracle applies."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = fuzzy_join(
        cust,
        supp,
        left_on="c_name",
        right_on="s_name",
        strategy="ngram_lsh",
        n_bands=24,
        n_components=24,
        tiebreak_cols=["s_suppkey"],
    )
    return out.select("c_custkey", "s_suppkey")


def q_fuzzy_join_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_join on a NUMERIC key (reference Joiner vectorizes
    numeric keys through a StandardScaler fit on the aux table,
    _joiner.py:43-76): each customer matched to the supplier with the
    nearest account balance. Standardization is a positive scalar so
    the argmin — and every tie — is identical to raw |l - r| order,
    which the DuckDB oracle replays with a ROW_NUMBER window."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    out = fuzzy_join(
        cust,
        supp,
        left_on="c_acctbal",
        right_on="s_acctbal",
        strategy="levenshtein",
        tiebreak_cols=["s_suppkey"],
    )
    return out.select("c_custkey", "s_suppkey")


def q_dedup_strings_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skrub.deduplicate parity: canonical spelling per p_brand.
    The pair set is EXACT (shared-gram candidates are lossless for
    jaccard > 0, then exact-thresholded), and connected components =
    reachability, which DuckDB replays with a recursive CTE — so the
    full clustering oracles exactly."""
    _prep(spark)
    from .dedup.strings import deduplicate_strings

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return deduplicate_strings(part, "p_brand", similarity_threshold=0.8)


def q_minhash_encoder_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashEncoder features on part.p_name. Double-hashing
    signature over the two 60-bit halves of one md5 per gram —
    engine-portable, so the DuckDB oracle recomputes the exact
    8-component signatures."""
    _prep(spark)
    from .encoders.minhash_encoder import MinHashEncoder

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    enc = MinHashEncoder("p_name", n_components=8)
    return enc.fit(part).transform(part)


def q_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN top-k via hyperplane LSH (rows-only).
    planes=4/tables=16 is the measured >=0.9-recall setting on this
    isotropic test data (tests/test_recall.py documents the sweep)."""
    _prep(spark)
    from .similarity.topk import topk_cosine_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return topk_cosine_lsh(emb, qv, k=10, n_planes=4, n_tables=16)


def q_similarity_encoder_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimilarityEncoder: trigram-Jaccard similarity of each region
    name to the fitted 5-value vocabulary."""
    _prep(spark)
    from .encoders.similarity_encoder import SimilarityEncoder

    region = load_table(spark, sf_dir, "region")
    enc = SimilarityEncoder("r_name", drop_original=False)
    return enc.fit(region).transform(region).select(
        "r_regionkey",
        "region_AFRICA" if False else F.col("r_name_AFRICA").alias("sim_africa"),
        F.col("r_name_AMERICA").alias("sim_america"),
        F.col("r_name_ASIA").alias("sim_asia"),
        F.col("r_name_EUROPE").alias("sim_europe"),
        F.col("r_name_MIDDLE_EAST").alias("sim_middle_east"),
    )


def q_string_encoder_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringEncoder (hashed tfidf + distributed-XtX SVD) on part
    names. (Driver-side eigendecomposition: rows-only.)"""
    _prep(spark)
    from .encoders.string_encoder import StringEncoder

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    enc = StringEncoder("p_name", n_components=4, hash_dim=256)
    return enc.fit(part).transform(part)


def q_text_encoder_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextEncoder stub: Arrow-batched Pandas-UDF embedding path
    through the driver contract. (Stubbed model: rows-only.)"""
    _prep(spark)
    from .encoders.text_encoder import TextEncoder

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TextEncoder("text", n_components=8).fit(docs).transform(docs)


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (order-sensitive).
    md5-derived shingle hashes are bit-identical across engines, so
    the DuckDB oracle replays the exact fold."""
    _prep(spark)
    from .functions.text import rolling_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text"), 8).alias("fingerprint")
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup: revenue by (region, nation) with subtotal and
    grand-total rows."""
    _prep(spark)
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name", "n_name")
    )
    return (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .rollup("r_name", "n_name")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per segment (the distributed
    percentile machinery SquashingScaler fits with)."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.25)).alias("p25"),
        F.percentile("c_acctbal", F.lit(0.5)).alias("p50"),
        F.percentile("c_acctbal", F.lit(0.75)).alias("p75"),
        F.percentile("c_acctbal", F.lit(0.9)).alias("p90"),
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no orders before 1995-09 (the date
    filter is pushed into the orders scan before the anti join)."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-09-01").cast("timestamp")
    )
    return cust.join(
        orders.select("o_custkey"), cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


def q_orders_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series: daily order counts + 7-day moving average
    (bounded-frame window)."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "n_orders",
        (
            F.sum("n_orders").over(w).cast("double")
            / F.count("n_orders").over(w)
        ).alias("ma7"),
    )


def q_pivot_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: customer counts per nation x market segment."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out = (
        cust.groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=segs)
    )
    return out.select(
        "c_nationkey", *[F.col(s).alias(f"n_{s.lower()}") for s in segs]
    )


def q_minhash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: minhash-LSH pairs -> connected
    components -> canonical id per document. Oracled: the pair set
    equals the exact-Jaccard pairs at sf0.01 (see
    q_minhash_dedup_pairs), and DuckDB computes components with a
    recursive transitive-closure CTE."""
    _prep(spark)
    from .dedup.minhash import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "text", "doc_id", shingle_k=3, n_components=64,
        jaccard_threshold=0.2,
    )


def q_robust_scale_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust scaling (r9,
    operators/winsorize.py::robust_scale_by_group — the
    group-parameterized half of SquashingScaler's robust-scale
    step): order totals scaled by each priority's median/IQR.
    Quartiles are rank-SELECTED input values, so the scaling is
    one subtract + one divide on bit-identical operands."""
    _prep(spark)
    from .operators.winsorize import robust_scale_by_group

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return robust_scale_by_group(
        orders, "o_orderpriority", "o_totalprice"
    )


def q_mwu_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test (r9, report/abtest.py::mann_whitney_u —
    the nonparametric two-sample test next to the proportion
    z-test): purchase vs click value distributions. Distributed
    midranks in 2x integer space (the spearman recipe), exact U,
    tie-corrected z at 6dp."""
    _prep(spark)
    from .report.abtest import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "event_type", "value", "purchase", "click")


def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square categorical drift (r9,
    report/drift.py::chi2_drift — the third drift lens next to PSI
    and KS): event-type mix, first half of the month vs the rest.
    The statistic assembles from integer counts only (exact decimal
    numerators, one 6dp division per cell, DECIMAL sum)."""
    _prep(spark)
    from .report.drift import chi2_drift

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.dayofmonth("ts") <= 15)
    cur = ev.filter(F.dayofmonth("ts") > 15)
    return chi2_drift(base, cur, "event_type")


def q_stl_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition (r9,
    operators/sequence.py::stl_decompose — the STL shape with a
    centered 7-day moving-average trend and day-of-week seasonal
    means): per-event-type daily value series. Exact decimal sums,
    single IEEE divisions, honest NULL trend at the series edges —
    all three components replay bit-identically."""
    _prep(spark)
    from .operators.sequence import stl_decompose

    ev = load_table(spark, sf_dir, "events")
    return stl_decompose(ev, "event_type", "ts", "value")


def q_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-entity counts (r9,
    functions/text.py::entity_counts): plant a deterministic
    entity-rich suffix per doc_id residue (emails/URLs/IPs/dates/
    times/money/hashtags — pure CASE the oracle replays), then one
    regexp_count per entity type, map-only. The oracle is GENERATED
    from the same ENTITY_PATTERNS table (RE2-compatible by
    construction, the redact_pii discipline)."""
    _prep(spark)
    from .functions.text import entity_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = F.lit(_ENTITY_SUFFIXES[-1])
    for i, s in enumerate(_ENTITY_SUFFIXES[:-1]):
        suffix = F.when(
            F.pmod(F.col("doc_id"), F.lit(len(_ENTITY_SUFFIXES))) == i,
            F.lit(s),
        ).otherwise(suffix)
    planted = docs.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), suffix).alias(
            "text"
        ),
    )
    return planted.select("doc_id", *entity_counts("text").values())


_ENTITY_SUFFIXES = [
    " contact admin@example.com or sales@corp.co.uk today",
    " see https://example.com/a?b=1 and http://x.io/page now",
    " server 10.0.0.1 peer 192.168.1.255 up",
    " due 2024-01-02 and 2023-12-31 at 09:15:30",
    " paid $1,200.50 plus €300 fees",
    " trending #ai #ml2024 topics",
    "",
]


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user curve (r9,
    operators/sequence.py::cumulative_distinct): per-day active
    users, first-seen users and the users-ever-seen running total —
    one per-entity min reduce + per-day counts + a cumsum over the
    bounded DAY frame (a naive COUNT(DISTINCT) OVER would shuffle
    every event into one task)."""
    _prep(spark)
    from .operators.sequence import cumulative_distinct

    ev = load_table(spark, sf_dir, "events")
    return cumulative_distinct(ev, "user_id", "ts")


def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (r9,
    report/profiling.py::fk_audit): orders.o_custkey against a
    customer dimension with ~1% of parents PLANTED missing
    (c_custkey % 97 == 0 dropped — the oracle replays the same
    filter), so the orphan arithmetic is genuinely exercised.
    Parent reduces to distinct 8-byte keys before the anti-join."""
    _prep(spark)
    from .report.profiling import fk_audit

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.pmod(F.col("c_custkey"), F.lit(97)) != 0
    )
    return fk_audit(orders, cust, "o_custkey", "c_custkey")


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (r9,
    operators/intervals.py::attribution_linear — the fairness
    upgrade over last-touch): every purchase's credit split equally
    across all qualifying touches in the 7-day lookback; one
    entity-key join bounded per user, no corpus-wide window."""
    _prep(spark)
    from .operators.intervals import attribution_linear

    ev = load_table(spark, sf_dir, "events")
    return attribution_linear(
        ev,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        conversion="purchase",
        lookback_us=7 * 86_400_000_000,
    )


# doc_id % 8 -> the mime the sniffer must recover (shared with the
# oracle; the payloads come from the repo's own encoders)
_MIME_PLAN = [
    "image/png",
    "image/jpeg",
    "image/gif",
    "image/bmp",
    "audio/wav",
    "application/pdf",
    "application/gzip",
    "text/html",
]


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME sniffing (r9, multimodal/mime.py::sniff_mime
    — the routing stage in front of the decoder zoo): synthesize a
    real payload per document with the repo's OWN encoders (PNG/
    JPEG/GIF/BMP/WAV/PDF/gzip/HTML by doc_id % 8), then classify
    with the JVM-side prefix CASE chain. The oracle knows the
    planting rule, so a sniff that misroutes any format
    hash-fails."""
    _prep(spark)
    import gzip as _gzip

    import numpy as np
    import pandas as pd

    from .multimodal import encode_bmp, encode_jpeg, encode_png, encode_wav
    from .multimodal.gif import encode_gif
    from .multimodal.mime import sniff_mime
    from .multimodal.pdf import build_pdf

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def make(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                px = np.full((4, 5, 3), i % 251, dtype=np.uint8)
                m = i % 8
                if m == 0:
                    payloads.append(bytes(encode_png(px)))
                elif m == 1:
                    payloads.append(bytes(encode_jpeg(px)))
                elif m == 2:
                    payloads.append(bytes(encode_gif(px)))
                elif m == 3:
                    payloads.append(bytes(encode_bmp(px)))
                elif m == 4:
                    payloads.append(
                        bytes(
                            encode_wav(
                                np.full(64, i % 1000, dtype=np.int16)
                            )
                        )
                    )
                elif m == 5:
                    payloads.append(build_pdf([f"doc {i}"]))
                elif m == 6:
                    payloads.append(_gzip.compress(f"doc {i}".encode()))
                else:
                    payloads.append(
                        f"<!DOCTYPE html><html><p>doc {i}</p></html>".encode()
                    )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    with_payload = docs.mapInPandas(
        make, "doc_id bigint, payload binary"
    )
    return with_payload.select(
        "doc_id", sniff_mime("payload").alias("mime")
    )


def q_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys (r9, sources/layout.py::
    hilbert_value — the locality upgrade over zorder_keys:
    consecutive cells are always adjacent, so ranged files carry
    tighter per-dimension min/max): the classic xy2d
    rotate-and-reflect walk unrolled into pure integer Columns over
    the same (doc_id, n_chars) ranges the z-order query uses. The
    oracle replays every level as one chained CTE."""
    _prep(spark)
    from .sources.layout import hilbert_key

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    return hilbert_key(
        docs, {"doc_id": (0, 5000), "n_chars": (0, 600)}, bits=8
    ).select("doc_id", "hkey")


# script samples planted by q_script_profile — shared with the
# generated oracle (the LANG_PHRASES pattern)
_SCRIPT_SAMPLES = [
    " привет мир тест",  # cyrillic
    " 你好世界高效引擎",  # han
    " こんにちは世界",  # kana + han
    " 안녕하세요 세계",  # hangul
    " γειά σου κόσμε",  # greek
    "",  # control group: latin-only corpus text
]


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profile (r9,
    functions/text.py::script_profile — the script-level companion
    to the learned language ID): plant one of six script samples
    per doc_id residue (pure CASE the oracle replays), then count
    per-script characters with one length/regexp_replace pair per
    script (map-only, no explode) and derive the dominant script +
    its 6dp share. The oracle is GENERATED from the same
    SCRIPT_RANGES table; every pattern parses identically in Java
    regex and RE2."""
    _prep(spark)
    from .functions.text import script_profile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = F.lit(_SCRIPT_SAMPLES[-1])
    for i, s in enumerate(_SCRIPT_SAMPLES[:-1]):
        suffix = F.when(
            F.pmod(F.col("doc_id"), F.lit(len(_SCRIPT_SAMPLES))) == i,
            F.lit(s),
        ).otherwise(suffix)
    planted = docs.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), suffix).alias(
            "text"
        ),
    )
    return planted.select("doc_id", *script_profile("text"))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (r9,
    dedup/winnowing.py::winnow_fingerprints — MOSS, Schleimer et
    al. 2003): the selected (pos, hash) set for every
    doc_id % 25 == 0 document (subset keeps the oracle's
    quadratic-in-w window replay cheap; the Spark side windows the
    same way at any scale). Rightmost-minimal tie rule via
    min(struct(h, -pos)) over the bounded per-doc frame."""
    _prep(spark)
    from .dedup.winnowing import winnow_fingerprints

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.pmod(F.col("doc_id"), F.lit(25)) == 0)
    )
    return winnow_fingerprints(docs)


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap pairs (r9,
    dedup/winnowing.py::winnowing_pairs): documents sharing >= 3
    selected fingerprints — the position-aware containment check
    next to minhash's bag resemblance. One fingerprint equi-join
    with the max_postings hot-hash guard, never pairwise."""
    _prep(spark)
    from .dedup.winnowing import winnowing_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnowing_pairs(docs)


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item lexical retrieval (r9,
    operators/keywords.py::more_like_this — the sparse-lexical
    sibling of knn_join/bm25): top-5 TF-IDF-cosine neighbors for
    every doc_id % 100 == 0 probe. The candidate join ships only
    the probes' postings against term-keyed corpus postings;
    weights/dots/norms follow the decimal bridge so every cosine
    and rank replays bit-identically."""
    _prep(spark)
    from .operators.keywords import more_like_this

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    probes = docs.filter(F.pmod(F.col("doc_id"), F.lit(100)) == 0).select(
        "doc_id"
    )
    return more_like_this(docs, probes, top_k=5)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization (r9,
    dedup/components.py::keep_best): near-dup clusters from the
    proven minhash pipeline, but the KEPT document per cluster is
    the highest frozen-quality-score one (smaller id on ties), not
    the min id — the policy real corpus builds apply after
    near-dedup. Composes two independently-oracled replays: the
    minhash_canonical recursive-CTE components and the frozen
    quality-score CTE; the winner rule replays as the same
    ROW_NUMBER ordering."""
    _prep(spark)
    from ._frozen import QUALITY_MODEL
    from .dedup.components import keep_best
    from .dedup.minhash import minhash_near_duplicates
    from .operators.quality_classifier import score_quality

    docs = load_table(spark, sf_dir, "documents")
    comps = minhash_near_duplicates(
        docs, "text", "doc_id", shingle_k=3, n_components=64,
        jaccard_threshold=0.2,
    )
    scored = score_quality(docs, QUALITY_MODEL).select(
        "doc_id", F.round("quality_score", 6).alias("score")
    )
    return keep_best(scored, comps, "score").select(
        "doc_id", F.col("cluster").cast("long").alias("cluster"),
        "score", "kept",
    )


def q_gap_encoder_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GapEncoder topic activations on part names (Poisson-NMF fit +
    Pandas-UDF inference; rows-only)."""
    _prep(spark)
    from .encoders.gap_encoder import GapEncoder

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    enc = GapEncoder("p_name", n_components=4, hash_dim=128)
    return enc.fit(part).transform(part)


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    unbounded-history exact dedup, keep-first per (lang, source).
    Runs the REAL streaming pipeline (file source -> state store ->
    memory sink, availableNow). One input file = one micro-batch, so
    the emitted row per key is deterministically the min doc_id —
    exactly the SQL group-min the oracle computes."""
    import uuid

    from .streaming import streaming_dedup

    name = "strdedup_" + uuid.uuid4().hex[:8]
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # the file source wants a directory: point it at sf_dir and glob
    # down to the one table file
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        streaming_dedup(stream, ["lang", "source"], "doc_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 0)
    return spark.table(name).select("doc_id", "lang", "source")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table (file source wants a
    directory: glob down to the one parquet). Normalize ``ts`` to a
    session-tz TIMESTAMP exactly like ``load_table`` does, branching
    on the type the parquet actually carries: raw nanos read as long
    (legacy generations), TIMESTAMP_NTZ (``timestamp[us]`` with no
    tz), or already-TIMESTAMP (passthrough)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = raw_schema["ts"].dataType.typeName()
    if ts_type == "long":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type != "timestamp":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def q_streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator with an EXACT SQL oracle,
    run across >= 2 REAL micro-batches (VERDICT r4 #6): the events
    table is split at its exact median event time into two parquet
    files (a TIME split keeps each user's rows ordered across
    batches), streamed with maxFilesPerTrigger=1 + availableNow so
    streaming_sessionize (applyInPandasWithState) must carry
    (last_ts, session_id) state across batch boundaries — any
    session spanning the median instant only gets one id if the
    state store works. Per-(user, session) aggregates over the sink
    then equal batch lag/cumsum sessionization over the full table,
    which is exactly the DuckDB oracle SQL."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming import streaming_sessionize

    _prep(spark)
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cut = int(
        events.agg(F.expr("percentile(unix_micros(ts), 0.5)").alias("c"))
        .first()["c"]
    )
    src = _fresh_tmp("skrub_strsess_src_")
    os.makedirs(src)
    halves = [
        events.filter(F.unix_micros("ts") <= F.lit(cut)),
        events.filter(F.unix_micros("ts") > F.lit(cut)),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        # distinct mtimes pin the file-source processing order
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strsess_" + uuid.uuid4().hex[:8]
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    return spark.table(name).groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
        F.sum(_dec("value")).cast("double").alias("value_sum"),
    )


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream joins a static
    per-user profile dim (broadcast per micro-batch, no join state,
    no watermark — the scale-correct fact-stream × dim shape).
    Real pipeline: file source -> broadcast join -> memory sink,
    availableNow. The oracle is the equivalent batch join."""
    import uuid

    from .streaming import stream_static_enrich

    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"),
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias(
            "user_avg"
        ),
    )
    stream = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "value")
    name = "strenrich_" + uuid.uuid4().hex[:8]
    q = (
        stream_static_enrich(stream, dim, on="user_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 0)
    return spark.table(name).select(
        "event_id", "user_id", "value", "user_events", "user_avg"
    )


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases × views on user_id
    within ±1 hour of event time, both sides watermarked so join
    state stays bounded. availableNow single-batch makes the emitted
    set exactly the batch range join (the oracle)."""
    import uuid

    from .streaming import stream_stream_interval_join

    _prep(spark)
    purchases = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts")
    views = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select(F.col("event_id").alias("view_id"), "user_id", "ts")
    joined = stream_stream_interval_join(
        purchases, views, key="user_id", interval="1 hour",
        watermark="2 hours",
    )
    name = "strijoin_" + uuid.uuid4().hex[:8]
    q = (
        joined.select("event_id", "user_id", "view_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 0)
    return spark.table(name)


def q_gap_encoder_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GapEncoder fit_strategy='distributed': gamma-Poisson topics
    learned over ALL distinct values with the M-step matrix products
    as Spark aggregations (long-tail-text path; no 5000-value sample
    cap). Rows-only: iterative NMF isn't SQL-expressible."""
    _prep(spark)
    from .encoders.gap_encoder import GapEncoder

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    enc = GapEncoder(
        "p_name", n_components=4, hash_dim=128, fit_strategy="distributed"
    )
    enc._fit_distributed(part, n_iter=3)
    enc._fitted = True
    return enc.transform(part)


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline with the REAL codec path: synthesize a
    24-bit BMP (doc_id%3==0), a sub-filtered PNG (%3==1) or a
    baseline JPEG (%3==2) per document, pixels seeded by doc_id;
    then decode_images actually parses the container
    bytes in the Arrow-batched mapInPandas pass and emits true pixel
    stats. (Payload synthesis isn't SQL-expressible: rows-only.)"""
    _prep(spark)
    import numpy as np
    import pandas as pd

    from .multimodal import decode_images, encode_bmp
    from .multimodal.jpeg import encode_jpeg
    from .multimodal.png import encode_png

    # repartition before the synthesis mapInPandas: the single-file
    # table arrives as one partition and the python-side codec
    # encode would otherwise run on one core
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def make_payloads(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                rng = np.random.default_rng(int(i))
                px = rng.integers(0, 256, size=(8, 9, 3), dtype=np.uint8)
                m = int(i) % 3
                if m == 0:
                    payloads.append(encode_bmp(px))
                elif m == 1:
                    payloads.append(encode_png(px, filter_type=1))
                else:
                    payloads.append(encode_jpeg(px, quality=95))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    with_payload = docs.mapInPandas(
        make_payloads, "doc_id bigint, payload binary"
    )
    out = decode_images(with_payload)
    return out.select(
        "doc_id",
        "decode_ok",
        F.round("px_mean", 4).alias("px_mean"),
        F.round("px_std", 4).alias("px_std"),
    )


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal near-dup pipeline over REAL codecs: each
    document gets a synthesized high-entropy image (a doc_id-seeded
    random 6x6 grid upsampled to 24x24; containers rotate BMP /
    sub-filtered PNG / JPEG q95), and docs with doc_id%10==1 carry a
    +-3-noise near-duplicate of the PREVIOUS doc's image. decode ->
    extract_image_features real path (pooled grayscale grid) ->
    mean-center -> hyperplane-LSH cosine pairs at 0.995 returns
    exactly the planted (d-1, d) pairs (measured at 500 docs:
    planted cosine >= 0.99996, max non-planted 0.68) — the image
    analog of MinHash text dedup, on actually-decoded pixels.
    (Codec synthesis isn't SQL-expressible: rows-only.)"""
    _prep(spark)
    import numpy as np
    import pandas as pd

    from .dedup.embedding import embedding_near_duplicates
    from .multimodal import encode_bmp, extract_image_features
    from .multimodal.jpeg import encode_jpeg
    from .multimodal.png import encode_png

    # repartition before the synthesis mapInPandas: the single-file
    # table arrives as one partition and the python-side codec
    # encode would otherwise run on one core
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def make_px(seed: int) -> np.ndarray:
        rng = np.random.default_rng(seed)
        cells = rng.integers(0, 256, (6, 6), dtype=np.uint8)
        return np.repeat(np.repeat(cells, 4, axis=0), 4, axis=1)

    def make_payloads(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                d = int(i)
                px = make_px(d - 1 if d % 10 == 1 else d)
                if d % 10 == 1:
                    noise = np.random.default_rng(d).integers(-3, 4, px.shape)
                    px = (px.astype(int) + noise).clip(0, 255).astype(np.uint8)
                px3 = np.stack([px] * 3, axis=2)
                m = d % 3
                if m == 0:
                    payloads.append(encode_bmp(px3))
                elif m == 1:
                    payloads.append(encode_png(px3, filter_type=2))
                else:
                    payloads.append(encode_jpeg(px3, quality=95))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    with_payload = docs.mapInPandas(
        make_payloads, "doc_id bigint, payload binary"
    )
    feats = extract_image_features(with_payload, n_features=36)
    mean = F.aggregate("features", F.lit(0.0), lambda a, x: a + x) / F.lit(36.0)
    centered = feats.select(
        "doc_id", F.transform("features", lambda x: x - mean).alias("f")
    )
    pairs = embedding_near_duplicates(
        centered, vec_col="f", id_col="doc_id", threshold=0.995
    )
    return pairs.select("id_a", "id_b").orderBy("id_a")


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end AUDIO near-dup pipeline over the REAL WAV codec:
    each document gets a synthesized noise-shaped PCM-16 clip (a
    doc_id-seeded random 16-band spectral envelope, inverse-FFT'd),
    docs with doc_id%10==1 carry a low-level-noise near-duplicate of
    the PREVIOUS doc's clip. decode_wav -> extract_audio_features
    (Hann-windowed FFT log band energies, pure numpy) ->
    mean-center -> hyperplane-LSH cosine pairs at 0.99 returns
    exactly the planted (d-1, d) pairs (measured at 500 docs:
    planted >= 0.99998, max non-planted 0.89). Mixed-codec corpus:
    every other planted pair is G.711 mu-law on both sides and some
    singles are IMA ADPCM, so PCM-16, mu-law and ADPCM decode paths
    all run end-to-end and near-dups survive the lossy codecs
    (verified exact at sf0.1 / 5000 docs too). (Synthesis/DSP isn't
    SQL-expressible: rows-only.)"""
    _prep(spark)
    import numpy as np
    import pandas as pd

    from .dedup.embedding import embedding_near_duplicates
    from .multimodal import encode_wav, extract_audio_features
    from .multimodal.columns import encode_wav_adpcm, encode_wav_ulaw

    # repartition before the synthesis mapInPandas: the single-file
    # table arrives as one partition and the python-side codec
    # encode would otherwise run on one core
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    n = 4096

    def make_samples(seed: int) -> np.ndarray:
        rng = np.random.default_rng(seed)
        # 32 independent envelope values: at 5000 docs the max
        # non-planted centered cosine is ~0.81 (vs ~0.95 with 16),
        # keeping the 0.99 threshold collision-safe at 10x this SF
        env = rng.uniform(0.05, 1.0, 32)
        bins = np.repeat(env, (n // 2 + 1 + 31) // 32)[: n // 2 + 1]
        phase = rng.uniform(0, 2 * np.pi, n // 2 + 1)
        x = np.fft.irfft(bins * np.exp(1j * phase), n=n)
        return (x / np.abs(x).max() * 20000).astype("<i2")

    def make_payloads(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                d = int(i)
                s = make_samples(d - 1 if d % 10 == 1 else d)
                if d % 10 == 1:
                    noise = (
                        np.random.default_rng(d).standard_normal(len(s)) * 100
                    ).astype(int)
                    s = np.clip(s.astype(int) + noise, -32768, 32767).astype(
                        "<i2"
                    )
                # mixed-codec corpus: every other planted pair is
                # mu-law on BOTH sides (d%20 in 0,1 — the pair docs
                # are = 0,1 mod 10), some singles are IMA ADPCM —
                # so the battery exercises all three decode paths
                # end-to-end, and near-dups must survive the codec
                if d % 20 in (0, 1):
                    payloads.append(encode_wav_ulaw(s))
                elif d % 10 == 5:
                    payloads.append(encode_wav_adpcm(s))
                else:
                    payloads.append(encode_wav(s))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    with_payload = docs.mapInPandas(
        make_payloads, "doc_id bigint, payload binary"
    )
    feats = extract_audio_features(with_payload, n_features=32)
    mean = F.aggregate("features", F.lit(0.0), lambda a, x: a + x) / F.lit(32.0)
    centered = feats.select(
        "doc_id", F.transform("features", lambda x: x - mean).alias("f")
    )
    pairs = embedding_near_duplicates(
        centered, vec_col="f", id_col="doc_id", threshold=0.99
    )
    return pairs.select("id_a", "id_b").orderBy("id_a")


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pipeline over the REAL AVI demuxer (RIFF chunk walk, no
    ffmpeg): synthesize a 6-frame AVI per document (frames seeded by
    doc_id) — uncompressed DIB for most doc_ids, MJPEG (per-frame
    baseline JPEG via the repo's own pure-numpy codec) for every
    fifth — sample 3 evenly-spaced frames in the Arrow-batched pass,
    return per-doc frame count and mean frame brightness. The MJPG
    fraction is 1-in-5 because the python-side JPEG ENCODE of the
    fixture dominates wall time, not the engine. (Container
    synthesis isn't SQL-expressible: rows-only.)"""
    _prep(spark)
    import numpy as np
    import pandas as pd

    from .multimodal import encode_avi, frame_sample_videos

    # repartition before the synthesis mapInPandas: the single-file
    # table arrives as one partition and the python-side codec
    # encode would otherwise run on one core
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def make_payloads(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                rng = np.random.default_rng(int(i))
                frames = [
                    rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
                    for _ in range(6)
                ]
                codec = "mjpg" if int(i) % 5 == 1 else "dib"
                payloads.append(encode_avi(frames, codec=codec, quality=95))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    with_payload = docs.mapInPandas(
        make_payloads, "doc_id bigint, payload binary"
    )
    sampled = frame_sample_videos(with_payload, n_frames=3)
    return (
        sampled.groupBy("doc_id")
        .agg(
            F.count("frame_idx").alias("n_frames"),
            F.round(F.avg("frame_px_mean"), 4).alias("mean_brightness"),
        )
        .orderBy("doc_id")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-tag + last-ignorenulls window — one sort
    shuffle per key, no range-join pair explosion): each purchase
    event enriched with the user's most recent prior-or-equal view
    event. Oracle = DuckDB's native ASOF JOIN."""
    _prep(spark)
    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    # dedupe views per (user, ts): µs-truncated timestamps can
    # collide, and which duplicate an ASOF join picks is engine-
    # unspecified — max(value) makes both sides deterministic.
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(purchases, views, by="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_right").alias("view_ts"),
        "view_value",
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the event stream (view -> click ->
    purchase, each stage strictly after the previous one for that
    user): per-user furthest stage. Three conditional-min aggs — the
    event table shuffles once per stage on user_id, no windows."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    allu = ev.select("user_id").distinct()
    return (
        allu.join(v.select("user_id", F.lit(1).alias("s1")), "user_id", "left")
        .join(c.select("user_id", F.lit(1).alias("s2")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("s3")), "user_id", "left")
        .select(
            "user_id",
            (
                F.coalesce(F.col("s1"), F.lit(0))
                + F.coalesce(F.col("s2"), F.lit(0))
                + F.coalesce(F.col("s3"), F.lit(0))
            ).alias("funnel_stage"),
        )
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in each week they were active (the standard cohort
    triangle). Two aggs + one broadcast join back."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        active.join(F.broadcast(first), on="user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table filtered aggregate — every predicate
    must reach the parquet scan (pushdown/pruning breadth check)."""
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join
    (orders in a quarter having at least one lineitem shipped after
    the order date), counted by priority."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = li.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            late,
            (o.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the SAME dimension in two roles (supplier
    nation vs customer nation) — two broadcast copies of nation,
    revenue by (supp_nation, cust_nation, year)."""
    _prep(spark)
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sd = supp.join(F.broadcast(n1), supp.s_nationkey == n1.sn_key).select(
        "s_suppkey", "supp_nation"
    )
    cd = cust.join(F.broadcast(n2), cust.c_nationkey == n2.cn_key).select(
        "c_custkey", "cust_nation"
    )
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cd), orders.o_custkey == cd.c_custkey)
        .join(F.broadcast(sd), li.l_suppkey == sd.s_suppkey)
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum(revenue, "revenue"))
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's PROMO-part
    revenue per year — conditional aggregate over a 5-way star."""
    _prep(spark)
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    # customers in ASIA (the market)
    asia_cust = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("c_custkey")
    )
    promo = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    sn = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    vol = (
        li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(asia_cust), orders.o_custkey == asia_cust.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            revenue.alias("rev"),
            F.col("supp_nation"),
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("rev")))
            .cast("double")
            .alias("nation_revenue"),
            F.sum("rev").cast("double").alias("total_revenue"),
        )
        .withColumn(
            "mkt_share",
            F.coalesce(F.col("nation_revenue"), F.lit(0.0))
            / F.col("total_revenue"),
        )
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in
    a quarter (fact filter -> broadcast dims -> agg -> TakeOrdered)."""
    _prep(spark)
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cd = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cd), o.o_custkey == cd.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: PROMO revenue share for one month — ratio of two
    conditional exact-decimal sums."""
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).join(
        F.broadcast(part.select("p_partkey", "p_type")),
        li.l_partkey == F.col("p_partkey"),
    )
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", revenue)).cast("double")
            / F.sum(revenue).cast("double")
        ).alias("promo_revenue_pct")
    )


def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates — Catalyst must push the OR-of-ANDs into the join."""
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        li.l_partkey == F.col("p_partkey"),
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 5)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & (F.col("p_size") <= 15)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return j.filter(cond).agg(
        _dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items")
    )


def q_small_quantity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated aggregate: revenue from lineitems
    whose quantity is below 50%% of their part's average quantity
    (decorrelated into a broadcast join against per-part averages)."""
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
            "avg_qty"
        )
    )
    return (
        li.join(F.broadcast(part_avg), li.l_partkey == part_avg.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count.
    Aggregate ORDERS first (one shuffle of the narrow fact on its
    key), then left-join customer onto the counts — not
    join-then-double-groupBy, which would shuffle full customer rows
    twice."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.ck, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly
    revenue. The scalar max is a one-row aggregate broadcast back
    over the per-supplier revenues (decimal-exact sums make the
    equality deterministic) — no window over the whole table."""
    _prep(spark)
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(revenue).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == mx.mx)
        .join(F.broadcast(supp), rev.supplier_no == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed 300
    units — HAVING on a fact aggregate, then semi-enrichment joins.
    The per-order aggregate (map-side partial on l_orderkey) filters
    to a tiny set BEFORE any join touches customer/orders."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty").cast("double").alias("total_qty"),
        )
    )


def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: churn-risk accounts — customers with an
    above-average positive balance and no orders since a cutoff,
    counted per nation. Scalar-subquery average (one-row broadcast) +
    anti-join against the filtered fact."""
    _prep(spark)
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: 13-gram overlap of eval docs
    (sources src0/src1) against the train corpus (all other
    sources) via an inverted-index semi-join — never an all-pairs
    comparison. Oracle replays shingling and the distinct-gram
    intersection in SQL."""
    _prep(spark)
    from .dedup.contamination import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin("src0", "src1")
    return ngram_contamination(
        docs.filter(~is_eval), docs.filter(is_eval), "text", "doc_id",
        ngram=13,
    )


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline, every stage exact: quality
    filter (alpha ratio + token floor) → exact dedup (keep min
    doc_id per distinct text) → deterministic 50% hash sample →
    per-language 512-token sequence packing. One Spark plan, no
    Python, each stage the scale-safe form; the oracle replays the
    whole pipeline in SQL."""
    _prep(spark)
    from .dedup.exact import drop_exact_duplicates
    from .functions.text import quality_columns
    from .operators.packing import pack_training_chunks
    from .operators.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents")
    q = quality_columns("text")
    filtered = docs.select(
        "doc_id", "lang", "text",
        q["alpha_ratio"].alias("__alpha"),
        q["n_tokens"].alias("n_tokens"),
    ).filter((F.col("__alpha") >= 0.6) & (F.col("n_tokens") >= 20))
    unique = drop_exact_duplicates(filtered, "text", "doc_id")
    sampled = deterministic_sample(unique, "doc_id", 0.5, salt="pipe")
    packed = pack_training_chunks(
        sampled.select("doc_id", "lang", "n_tokens"),
        "n_tokens", chunk_tokens=512, order_col="doc_id", by="lang",
    )
    return packed.select(
        "doc_id", "lang", "n_tokens", "start_chunk", "end_chunk"
    )


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: per-language shards, docs ordered
    by doc_id, corpus cut into 512-token chunks with docs straddling
    cut points — chunk spans from ONE running-sum window per shard
    in exact integer arithmetic. Oracle replays the cumsum."""
    _prep(spark)
    from .operators.packing import pack_training_chunks

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_training_chunks(
        docs, "n_tokens", chunk_tokens=512, order_col="doc_id", by="lang"
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split by key hash (content-addressed
    membership — stable across runs, engines and partitionings,
    unlike seeded RNG sampling). Per-split row counts and exact
    acctbal sums; the DuckDB oracle replays the md5 bucketing."""
    _prep(spark)
    from .operators.sampling import hash_split

    cust = load_table(spark, sf_dir, "customer")
    return (
        hash_split(cust, "c_custkey", test_frac=0.2, salt="v1")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("c_acctbal")).cast("double").alias("acctbal_sum"),
        )
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: rebalance the event mix
    (keep 50% of purchases, 10% of views, drop the rest) — the
    corpus-mixing primitive for training-data pipelines. Oracle
    replays membership exactly."""
    _prep(spark)
    from .operators.sampling import stratified_sample

    ev = load_table(spark, sf_dir, "events")
    return (
        stratified_sample(
            ev, "event_type",
            {"purchase": 0.5, "view": 0.1},
            key="event_id", salt="mix",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("value_sum"),
        )
    )


def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket_gapfill: hourly purchase metrics per event_type
    with a DENSE bucket spine — empty hours appear with count
    zero-filled and revenue carried forward (locf). The spine is a
    JVM-side sequence explode per key (two narrow shuffles,
    independent of fact size). Oracle: DuckDB generate_series +
    last_value IGNORE NULLS."""
    _prep(spark)
    from .operators.gapfill import time_bucket_gapfill

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    out = time_bucket_gapfill(
        ev,
        "ts",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum(_dec("value")).cast("double"),
        },
        bucket="1 hour",
        by="event_type",
        fill={"n_events": "zero", "total_value": "locf"},
    )
    return out.select("event_type", "bucket", "n_events", "total_value")


def q_range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via time bucketing (no nested-loop
    join): per-user daily activity windows x the top-24 error-storm
    hours. r6 (VERDICT r5 #2): the old 2x-mean threshold selected 0
    hours at sf0.1 (10x data smooths the hourly distribution), so
    the scale run never exercised the join; a top-N rank is
    non-empty at EVERY scale factor. The rank window runs over the
    hourly-counts frame, whose size is bounded by the time span —
    not the data volume — so the unpartitioned window is safe at
    100 TB. Candidates come from a plain equi-join on the hour
    bucket; a naive range join here would be a broadcast nested
    loop. Oracle = DuckDB inequality join."""
    _prep(spark)
    from pyspark.sql import Window

    from .operators.range_join import range_join

    ev = load_table(spark, sf_dir, "events")
    act = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("__d"))
        .agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
        .drop("__d")
    )
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("inc_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    w = Window.orderBy(F.col("n_errors").desc(), F.col("inc_start"))
    inc = (
        hourly.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 24)
        .drop("__rk")
        .withColumn(
            "inc_end",
            F.col("inc_start")
            + F.expr("INTERVAL 1 HOUR")
            - F.expr("INTERVAL 1 MICROSECOND"),
        )
    )
    out = range_join(
        act, inc,
        left_start="start", left_end="end",
        right_start="inc_start", right_end="inc_end",
        bucket="1 hour",
    )
    return out.select("user_id", "start", "end", "inc_start", "n_errors")


def q_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round-trip: nation+region written as CSV with
    explicit schemas, read back through the CSV reader, broadcast
    join + count per region. Oracle reads the parquet originals —
    the round-trip must be lossless for the result to hash-match."""
    _prep(spark)
    import tempfile

    from .sources import read_csv

    tmp = os.path.join(tempfile.gettempdir(), "skrub_q_csv")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nation.write.mode("overwrite").option("header", "true").csv(f"{tmp}/nation")
    region.write.mode("overwrite").option("header", "true").csv(f"{tmp}/region")
    n = read_csv(spark, f"{tmp}/nation", schema=nation.schema)
    r = read_csv(spark, f"{tmp}/region", schema=region.schema)
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


def q_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: orders written as ORC, read back,
    aggregated by priority with exact decimal sums. Schema (incl.
    timestamps) survives ORC natively, so the parquet-based oracle
    must hash-match."""
    _prep(spark)
    import tempfile

    from .sources import read_orc, write_orc

    tmp = os.path.join(tempfile.gettempdir(), "skrub_q_orc")
    orders = load_table(spark, sf_dir, "orders")
    write_orc(orders, f"{tmp}/orders")
    back = read_orc(spark, f"{tmp}/orders")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via explicit salting: event_type has only
    5 distinct values, so a plain groupBy lands ~20% of a 100 TB
    stream on ONE reducer each. salted_groupby_agg spreads every key
    over 16 salts (stage 1) and merges partials (stage 2) — the
    decimal partial sums are associative, so the result is
    bit-identical to the unsalted aggregation (the oracle)."""
    _prep(spark)
    from .operators.salting import salted_groupby_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_groupby_agg(
        ev,
        ["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_dec": F.sum(_dec("value")),
            "max_value": F.max("value"),
        },
        n_salts=16,
        reaggs={
            "n_events": F.sum("n_events"),
            "total_dec": F.sum("total_dec"),
            "max_value": F.max("max_value"),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
        "max_value",
    )


def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: customer and orders are written
    bucketed by custkey (the write-time shuffle), then joined with
    ZERO exchange on either side — asserted on the executed plan.
    At 100 TB this is the difference between re-shuffling the fact
    table on every join and never shuffling it at all."""
    _prep(spark)
    from .sources.bucketing import (
        bucketed_join,
        join_is_shuffle_free,
        write_bucketed,
    )

    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    tl, tr = f"skb_orders_{tag}", f"skb_cust_{tag}"
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"),
        tl, "custkey", n_buckets=8, sort_cols="custkey",
    )
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "custkey"),
        tr, "custkey", n_buckets=8, sort_cols="custkey",
    )
    joined = bucketed_join(spark, tl, tr, on="custkey", force_sortmerge=True)
    joined.count()  # materialize so the executed plan is final
    assert join_is_shuffle_free(joined), "bucketed join shuffled"
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )


def q_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector analytics: per-label embedding centroid, one row per
    (label, dimension). posexplode + groupBy is the distributed
    element-wise mean (no Python, scales with rows x dims)."""
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"))
    )




# -------------------- round-7: learned curation & vector compression


def q_bpe_stats_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE token accounting under the FROZEN merge list (r7, VERDICT
    r6 #10 — the rows-only tokenizer path promoted to an exact
    oracle): with a committed rank-ordered merge list the greedy
    encode is deterministic string rewriting, and DuckDB replays it
    exactly — each word's symbols are wrapped as ``|sym|`` and one
    ``replace('|a||b|' -> '|ab|')`` per recursive-CTE step applies
    the lowest-ranked present pair to every non-overlapping
    occurrence left-to-right, which is precisely ``_apply_merge``'s
    rule (string replace resumes after each match, so ``aaa`` with
    pair (a,a) merges once — verified both sides). Training itself
    stays rows-only by nature in ``bpe_token_stats``; this query
    pins the ENCODER + accounting end-to-end."""
    _prep(spark)
    from ._frozen import BPE_MERGES
    from .operators.bpe import BPEModel, bpe_token_stats

    docs = load_table(spark, sf_dir, "documents")
    model = BPEModel(merges=[tuple(m) for m in BPE_MERGES])
    return bpe_token_stats(docs, model)


def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality-classifier scoring with FROZEN weights (r7,
    VERDICT r6 #1 — the FineWeb-Edu distillation shape): a hashed-
    unigram logistic regression (trained by tools/train_frozen.py
    against the stopword-ratio teacher, 0.99 held-out accuracy) is
    replayed map-only over the corpus — one in-row fold per document
    looks each unit's weight up in the 256-entry literal table and
    takes the mean, then a sigmoid; no exchange, no join. With
    literal weights the whole pass is
    md5/double arithmetic, so the DuckDB oracle replays every score
    to 6dp; the keep flag thresholds the ROUNDED score on both
    sides. The FIT is rows-only by nature (MLlib LBFGS) and carries
    a separate held-out-accuracy contract in
    tests/test_quality_classifier.py."""
    _prep(spark)
    from ._frozen import QUALITY_MODEL
    from .operators.quality_classifier import score_quality

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = score_quality(docs, QUALITY_MODEL)
    r = F.round("quality_score", 6)
    return s.select(
        "doc_id", r.alias("quality_score"), (r >= 0.5).alias("keep")
    )


def q_quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier -> sampler wiring (r7): keep each document with
    probability proportional to its LEARNED quality score
    (``sample_weighted`` over the frozen-model scores, scale=1.5) —
    the stage-0 a FineWeb-style pretraining pipeline runs before the
    heuristic gauntlet. The oracle composes the scoring CTE with the
    content-addressed keep rule, so every decision is exact."""
    _prep(spark)
    from ._frozen import QUALITY_MODEL
    from .operators.quality_classifier import score_quality
    from .operators.sampling import sample_weighted

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = score_quality(docs, QUALITY_MODEL).withColumn(
        "qs", F.round("quality_score", 6)
    )
    kept = sample_weighted(s, "qs", key="doc_id", salt="qcf", scale=1.5)
    return kept.select("doc_id", F.col("qs").alias("quality_score"))


def q_scored_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining pipeline with a LEARNED stage 0 (r7 — the wiring
    VERDICT r6 #1 asked for): frozen-classifier quality gate
    (rounded score >= 0.5) -> exact dedup -> quality-WEIGHTED
    sampling (keep probability proportional to the learned score,
    the FineWeb-Edu rule) -> per-language 512-token sequence
    packing. One lazy Spark plan; the oracle composes the scoring
    CTE with the dedup/keep/packing replays, so the learned-filter
    COMPOSITION is verified exactly, not just the stages."""
    _prep(spark)
    from ._frozen import QUALITY_MODEL
    from .dedup.exact import drop_exact_duplicates
    from .operators.packing import pack_training_chunks
    from .operators.quality_classifier import score_quality
    from .operators.sampling import sample_weighted

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    scored = score_quality(docs, QUALITY_MODEL).withColumn(
        "qs", F.round("quality_score", 6)
    )
    gate = scored.filter(F.col("qs") >= 0.5)
    unique = drop_exact_duplicates(gate, "text", "doc_id")
    kept = sample_weighted(unique, "qs", key="doc_id", salt="sp7", scale=1.2)
    with_tok = kept.select(
        "doc_id", "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    packed = pack_training_chunks(
        with_tok, "n_tokens", chunk_tokens=512, order_col="doc_id",
        by="lang",
    )
    return packed.select(
        "doc_id", "lang", "n_tokens", "start_chunk", "end_chunk"
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (r8 — Xie et al. 2023, the standard
    'select pretraining data that looks like the target domain'
    stage): every document's log importance weight under the FROZEN
    hashed-n-gram model (target = the English slice, raw = the whole
    corpus, trained by tools/train_frozen.py). Scoring is the same
    map-only fold as the quality classifier — one in-row pass over
    each document's unigram+bigram units sums their entries of the
    256-entry literal log-ratio table; no exchange, no join. With
    literal ratios the whole pass is md5/double arithmetic: the
    DuckDB oracle replays every weight to 6dp. The FIT is a bounded
    two-pass count (rows-only by nature) contracted in
    tests/test_r8_ops.py."""
    _prep(spark)
    from ._frozen import DSIR_MODEL
    from .operators.dsir import dsir_log_weight

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dsir_log_weight(docs, DSIR_MODEL).select("doc_id", "dsir_logw")


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k resampling (r8): select 100 documents
    without replacement ∝ exp(importance weight) — the paper's
    sampling rule made reproducible: the Gumbel draw comes from the
    content-addressed md5 uniform, so the 'random' subset is
    identical on any cluster/partitioning AND the DuckDB oracle
    replays the exact selection (weights, perturbed keys, and the
    top-k cut). Plans as a distributed TakeOrdered, never a full
    sort."""
    _prep(spark)
    from ._frozen import DSIR_MODEL
    from .operators.dsir import dsir_resample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return dsir_resample(docs, DSIR_MODEL, 100).select(
        "doc_id", "lang", "dsir_logw", "dsir_key"
    )


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank as a curation prior (r8 — the Common
    Crawl host-rank shape): a deterministic host graph is planted
    from doc_ids (host = doc_id mod 97 linking to (31·doc_id + 7)
    mod 97, self-loops dropped), then 3 fixed power iterations in
    BIGINT nano-rank fixed point — every operation is integer
    multiply/floor-div/sum, so ranks are bit-identical on any
    engine or partitioning and the oracle replays each iteration as
    a chained CTE. Each iteration is ONE shuffle (ranks ⋈ edges on
    src + a map-side-combined sum per dst); edges persist once."""
    _prep(spark)
    from .operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return pagerank(edges, n_iter=3)


def q_rank_gated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank prior → corpus gate (r8): the Common Crawl wiring —
    rank the host graph, join each document to its host's rank
    (97-row broadcast), keep documents with probability ∝ host rank
    (``sample_weighted``, scale=0.25). The rank is 6dp-rounded
    nano-rank/1e9, so rank·0.25·10^8 is an EXACT integer in double
    on both engines and every keep decision replays bit-exactly in
    the composed oracle (pagerank CTEs + the md5 keep rule)."""
    _prep(spark)
    from .operators.graph import pagerank
    from .operators.sampling import sample_weighted

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    host = F.col("doc_id") % 97
    edges = docs.select(
        host.alias("src"), ((F.col("doc_id") * 31 + 7) % 97).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    ranks = pagerank(edges, n_iter=3).select(
        F.col("node").alias("host"), F.col("rank").alias("host_rank")
    )
    d = (
        docs.withColumn("host", host)
        .join(F.broadcast(ranks), "host", "left")
        .withColumn("host_rank", F.coalesce("host_rank", F.lit(0.0)))
    )
    kept = sample_weighted(d, "host_rank", key="doc_id", salt="rg8", scale=0.25)
    return kept.select("doc_id", "host", "host_rank")


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced data mixture (r8 — the SemDeDup/DoReMi-
    adjacent rebalancing rule: equal training budget per embedding-
    space region): assign every vector to its FROZEN k-means cell
    (one Arrow-batched argmin pass — the semantic_dedup_exact
    assignment), then draw ~25 rows per cell with the deterministic
    mixture sampler. The oracle replays the argmin + the
    content-addressed per-stratum thresholds, so the whole
    cluster→quota composition is exact."""
    _prep(spark)
    import numpy as np

    from ._frozen import SEMANTIC_CENTROIDS
    from .operators.sampling import sample_to_targets
    from .similarity.index import _cell_udf

    emb = load_table(spark, sf_dir, "embeddings")
    cents = np.asarray([list(c) for c in SEMANTIC_CENTROIDS], "float64")
    assigned = emb.select(
        "vec_id",
        _cell_udf(cents)(F.col("embedding")).cast("int").alias("cell"),
    )
    targets = {i: 25 for i in range(len(SEMANTIC_CENTROIDS))}
    kept = sample_to_targets(assigned, "cell", targets, key="vec_id", salt="cbs8")
    return kept.select("vec_id", "cell")


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout keys (r8, sources/layout.py): the interleaved-
    bit space-filling-curve key over (doc_id, n_chars) with FIXED
    ranges — clamp + scale + 16-bit interleave, pure integer
    arithmetic after one double scale, so the oracle replays every
    key exactly. This key is what write_zordered range-partitions
    on; the layout payoff (files skippable on min/max stats in BOTH
    dimensions) is measured in the bench demo + pinned in
    tests/test_r8_ops.py."""
    _prep(spark)
    from .sources.layout import zorder_value

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    z = zorder_value({"doc_id": (0, 5000), "n_chars": (0, 600)}, bits=16)
    return docs.select("doc_id", z.alias("zkey"))


def q_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles via deterministic-sample +
    exact discrete selection (r8, functions/sketches.py): a 25%
    md5-sample of events (map-only at the scan), then the value at
    row ceil(q·n) of each group's sorted survivors — an actual data
    value both engines agree on exactly, unlike interpolating
    percentile estimators whose state is engine-internal. One window
    shuffle over the survivors."""
    _prep(spark)
    from .functions.sketches import quantile_sketch

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return quantile_sketch(
        ev, "value", "event_id", ["event_type"],
        qs=[0.25, 0.5, 0.9], frac=0.25, salt="vq8",
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff report (r8): two planted corpus versions — v2
    drops every 7th doc, revises every 5th surviving doc, and adds
    40 new docs — diffed by (id, content-hash) full-outer join over
    column-pruned direct-path reads (16 bytes/doc move, payloads
    never read). The oracle replays the planting arithmetic and the
    status rules; output is one (doc_id, status) row per doc ever
    seen."""
    _prep(spark)
    from .sources.snapshots import snapshot_diff, write_snapshot

    root = _fresh_tmp("skrub_q_snapdiff_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_snapshot(docs, root, version=1)
    v2 = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" rev2")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 40).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
    )
    write_snapshot(v2, root, version=2)
    return snapshot_diff(spark, root, 1, 2)


def q_token_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality per language via the hash-threshold
    (theta/KMV-family) sketch (r8, functions/sketches.py): a token
    joins the sketch iff its content-addressed md5 lands in the
    1/16 threshold — map-only at the scan, only ~D/16 survivors
    reach the distinct shuffle, estimate = 16 · survivors. The
    'randomness' is the samplers' md5 rule, so the estimate is
    partition-invariant and the oracle replays it EXACTLY (unlike
    HLL approx_count_distinct, whose registers are engine-internal).
    The exact per-lang distinct runs alongside for the report; the
    error contract (unbiased, ~sqrt(rate/D) relative) is pinned in
    tests/test_r8_ops.py."""
    _prep(spark)
    from .functions.sketches import distinct_sketch

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    est = distinct_sketch(toks, "tok", ["lang"], rate=16, salt="kc8")
    exact = toks.groupBy("lang").agg(
        F.count_distinct("tok").alias("distinct_true")
    )
    return exact.join(est, "lang", "left").select(
        "lang",
        "distinct_true",
        F.coalesce("distinct_est", F.lit(0).cast("long")).alias(
            "distinct_est"
        ),
    )


def q_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality gate ON THE STREAM (r8): the frozen-classifier
    score is a pure Column expression, so it runs unchanged inside
    Structured Streaming — documents split into two files stream
    with maxFilesPerTrigger=1 and each micro-batch is scored and
    gated (rounded score >= 0.5) at ingest, the shape a crawl
    pipeline uses to drop junk BEFORE it ever lands. Stateless, so
    the exact oracle is the batch scoring CTE + the same gate over
    the union of batches."""
    import glob
    import os
    import shutil
    import uuid

    _prep(spark)
    from ._frozen import QUALITY_MODEL
    from .operators.quality_classifier import quality_score_column

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)").alias("c")).first()["c"]
    src = _fresh_tmp("skrub_strqg_src_")
    os.makedirs(src)
    halves = [
        docs.filter(F.col("doc_id") <= F.lit(cut)),
        docs.filter(F.col("doc_id") > F.lit(cut)),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    gated = stream.withColumn(
        "qs", F.round(quality_score_column(QUALITY_MODEL), 6)
    ).filter(F.col("qs") >= 0.5)
    name = "strqg_" + uuid.uuid4().hex[:8]
    q = (
        gated.select("doc_id", "qs")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 0)
    return spark.table(name).select(
        "doc_id", F.col("qs").alias("quality_score")
    )


def q_numeric_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's numeric columns
    in ONE map-side-combined aggregation pass (r8 — the numeric
    companion to column_associations' Cramér's V): inputs become
    exact integer cents via decimal casts, all Σx/Σx²/Σxy sums run
    in exact decimal arithmetic (partitioning-invariant, unlike
    corr()'s float moments), and r is computed in double from those
    exact integers, rounded to 6dp — which is exactly what the
    DuckDB oracle replays."""
    _prep(spark)
    from .report.associations import numeric_associations

    li = load_table(spark, sf_dir, "lineitem")
    return numeric_associations(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_topk_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ADC cosine top-10 (r8 — Ge et al. 2013, the rung above
    plain PQ at identical 51x compression): the FROZEN learned
    rotation (fit by alternating PQ ↔ orthogonal-Procrustes on a
    deterministic sample) is applied map-only (Arrow matmul, rounded
    to 6dp so both engines see identical rotated coordinates), then
    the standard PQ argmin-encode + ADC ranking runs in rotated
    space — rotation preserves inner products, so the ADC cosine
    approximates the ORIGINAL cosine with ~10% better recall@10
    than plain PQ on this fixture (pinned in tests/test_r8_ops.py).
    Exact oracle: the rotation matvec, assignment argmin and ADC
    arithmetic all replay from the same literals, to 4dp."""
    _prep(spark)
    from ._frozen import OPQ_MODEL
    from .similarity.quantize import topk_cosine_opq

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[
        "embedding"
    ]
    return topk_cosine_opq(emb, OPQ_MODEL, qv, k=10, round_digits=4)


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-edge PageRank (r8): link MULTIPLICITY as edge weight
    — the planted host graph WITHOUT the distinct, so each (src,
    dst) edge carries the count of documents producing it and passes
    ``weight/out-weight`` of its source's rank, still in exact
    integer arithmetic. The oracle replays the multiplicity groupBy
    and the (rank·w) div W contributions."""
    _prep(spark)
    from .operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
        F.lit(1).cast("long").alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    return pagerank(edges, n_iter=3, weight="w")


def q_spearman_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlations over the same lineitem columns
    (r8): each value becomes its integer DOUBLED average rank
    (2·min_rank + |ties| − 1 — exact arithmetic, no fractional
    tie ranks), then the identical exact-sums Pearson machinery
    runs over the ranks. Rank-based association is what the
    reference's report surfaces for monotone-but-nonlinear pairs.
    Distributed rank shape (r8 late): per-column DISTINCT value
    counts + a cumsum over the ≤D distinct rows + a value→rank
    join-back — the corpus is never globally sorted; the one
    ordered pass is over distinct values only. Exact oracle:
    RANK()/COUNT() windows + the same sum replay (the integers are
    identical by construction)."""
    _prep(spark)
    from .report.associations import numeric_associations

    li = load_table(spark, sf_dir, "lineitem")
    return numeric_associations(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        method="spearman",
    )


def _linkage_comparisons():
    from .operators.linkage import Comparison

    return [
        Comparison("name", "l_name", "r_name", kind="string", fuzzy_max=2),
        Comparison("nation", "l_nation", "r_nation", kind="exact"),
        Comparison("segment", "l_seg", "r_seg", kind="exact"),
        Comparison("acctbal", "l_bal", "r_bal", kind="numeric", tol=1.0),
    ]


def _linkage_rules():
    """Two weak blocking rules with DIFFERENT failure modes (the
    Splink multi-rule pattern): digit-prefix of the name (survives
    tail perturbations, misses head ones) and nation × acctbal-band
    (survives any name noise, misses nation/band perturbations)."""
    return [
        [
            (
                F.expr("substring(l_name, 10, 8)"),
                F.expr("substring(r_name, 10, 8)"),
            )
        ],
        [
            (F.col("l_nation"), F.col("r_nation")),
            (
                F.expr("CAST(FLOOR(l_bal / 100.0) AS BIGINT)"),
                F.expr("CAST(FLOOR(r_bal / 100.0) AS BIGINT)"),
            ),
        ],
    ]


def _linkage_sides(spark: SparkSession, sf_dir: str):
    """The record-linkage demo fixture: left = customer as-is, right
    = customer under DETERMINISTIC md5-rule perturbations (char
    drops/appends in the name, nation bumps, segment wipes, +0.5
    balance shifts) — the 'messy second source' every linkage demo
    needs, built content-addressed so the DuckDB oracle replays the
    identical noisy table and every downstream decision is exact."""
    from .functions.hashing import hash_bucket

    cust = load_table(spark, sf_dir, "customer")
    left = cust.select(
        F.col("c_custkey").alias("l_id"),
        F.col("c_name").alias("l_name"),
        F.col("c_nationkey").cast("int").alias("l_nation"),
        F.col("c_mktsegment").alias("l_seg"),
        F.col("c_acctbal").alias("l_bal"),
    )
    key = F.col("c_custkey")
    h_name = hash_bucket(key, "rl8|", 10)
    h_nat = hash_bucket(key, "rln|", 7)
    h_seg = hash_bucket(key, "rls|", 5)
    h_bal = hash_bucket(key, "rlb|", 3)
    pert_name = (
        F.when(h_name <= 2, F.expr("substring(c_name, 1, length(c_name) - 1)"))
        .when(
            h_name == 3,
            F.concat(
                F.expr("substring(c_name, 1, 5)"), F.expr("substring(c_name, 7)")
            ),
        )
        .when(h_name == 4, F.concat(F.col("c_name"), F.lit("x")))
        .otherwise(F.col("c_name"))
    )
    right = cust.select(
        F.col("c_custkey").alias("r_id"),
        pert_name.alias("r_name"),
        F.when(h_nat == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .cast("int")
        .alias("r_nation"),
        F.when(h_seg == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("r_seg"),
        F.when(h_bal == 0, F.col("c_acctbal") + F.lit(0.5))
        .otherwise(F.col("c_acctbal"))
        .alias("r_bal"),
    )
    return left, right


def q_record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (r8, Splink-shape
    — extends the reference's deterministic fuzzy_join family,
    reference skrub/_joiner.py): customer vs a deterministically
    perturbed copy of itself, blocked by two weak equi-join rules,
    compared on four fields (string/exact/exact/numeric agreement
    ladders), scored with the FROZEN EM-fit m/u weights. Match
    weight = fixed-order sum of log2-ratio literals and posterior =
    K/(1+K) from a fixed-order product of ratio literals — no
    transcendentals at score time, so the oracle replays every
    double bit-exactly. The EM FIT is deterministic but iterative
    (driver loop over ≤36 pattern counts) and carries its own
    pytest contracts in tests/test_linkage.py."""
    _prep(spark)
    from ._frozen import LINKAGE_MODEL
    from .operators.linkage import link_records

    left, right = _linkage_sides(spark, sf_dir)
    return link_records(
        left,
        right,
        _linkage_comparisons(),
        _linkage_rules(),
        LINKAGE_MODEL,
        threshold=0.9,
    )


def q_record_linkage_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-one entity resolution on top of the linkage scores:
    each left record keeps its best-posterior right match (ties to
    the smaller r_id) — ONE row_number window over the thresholded
    pairs. The oracle replays the identical window."""
    _prep(spark)
    from ._frozen import LINKAGE_MODEL
    from .operators.linkage import link_records

    left, right = _linkage_sides(spark, sf_dir)
    return link_records(
        left,
        right,
        _linkage_comparisons(),
        _linkage_rules(),
        LINKAGE_MODEL,
        threshold=0.9,
        one_to_one=True,
    )


def q_trustrank_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / TrustRank (r8 — Gyöngyi et al. 2004,
    the seed-based quality prior): the same planted host graph as
    domain_pagerank, but the (1−d) reset mass lands only on the 10
    trusted seed hosts and the initial rank is SCALE on seeds / 0
    elsewhere, so trust propagates outward along links and hosts
    unreachable from the seed set score exactly 0. Same BIGINT
    fixed-point arithmetic — the oracle replays every iteration with
    seed-conditional base/init terms."""
    _prep(spark)
    from .operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    seeds = spark.range(10).select(F.col("id").alias("node"))
    return pagerank(edges, n_iter=3, seeds=seeds)


def q_interpolation_gbt_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InterpolationJoiner learned-regression path with a FROZEN
    model (r8 — promotes the rows-only interpolation_join_gbt family
    to an exact oracle): the sf0.01-fit GBTRegressor
    (s_nationkey → s_acctbal) is COMPILED to a nested CASE Column by
    functions/tree_compile.py — map-only, whole-stage-codegen'd, no
    MLlib runtime at scoring time — and applied at each customer's
    nation key. The oracle evaluates the identical CASE WHEN tree
    literals, so every prediction matches to 6dp. The FIT stays
    rows-only (interpolation_join_gbt) with its pytest contract."""
    _prep(spark)
    from ._frozen import GBT_REGRESSION
    from .functions.tree_compile import ensemble_margin

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    return cust.select(
        "c_custkey",
        F.round(
            ensemble_margin(GBT_REGRESSION, [F.col("c_nationkey")]), 6
        ).alias("acctbal_pred"),
    )


def q_interpolation_clf_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InterpolationJoiner classification path with a FROZEN model
    (r8): the sf0.01-fit binary GBTClassifier (s_nationkey →
    sign(s_acctbal)) compiled to a CASE-expression margin; predicted
    label = labels[1] iff margin > 0 (MLlib's rawPrediction rule),
    with the StringIndexer label order frozen alongside the trees.
    Exact oracle — the formerly rows-only classification family's
    decision path is now value-checked end to end."""
    _prep(spark)
    from ._frozen import GBT_CLASSIFIER
    from .functions.tree_compile import ensemble_margin

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    labels = GBT_CLASSIFIER["labels"]
    m = ensemble_margin(GBT_CLASSIFIER, [F.col("c_nationkey")])
    return cust.select(
        "c_custkey",
        F.when(m > 0, F.lit(labels[1]))
        .otherwise(F.lit(labels[0]))
        .alias("bal_class_pred"),
    )


def q_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC cosine top-10 (r7 — the compression rung
    after SQ8's 4x): 8 subspaces x 32 codes FROZEN from the sf0.01
    fit (production PQ trains on a sample and applies the codebooks
    corpus-wide), vectors encoded to 8 code indices (5 bytes vs 256
    float32 bytes — 51x), ranking done entirely from per-query
    lookup tables without reading a float vector. Exact oracle:
    DuckDB replays the argmin assignment (identical
    ||c||² - 2·x·c form, first-index ties) and the ADC cosine from
    the same frozen literals, to 4dp."""
    _prep(spark)
    from ._frozen import PQ_CODEBOOKS, PQ_DIM
    from .similarity.quantize import topk_cosine_pq

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[
        "embedding"
    ]
    pq = {
        "dim": PQ_DIM,
        "n_subspaces": len(PQ_CODEBOOKS),
        "n_codes": len(PQ_CODEBOOKS[0]),
        "codebooks": PQ_CODEBOOKS,
    }
    return topk_cosine_pq(emb, pq, qv, k=10, round_digits=4)


def q_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ index probe (r7) — the serving shape a 100 TB
    vector store deploys: coarse cells (the FROZEN semantic
    centroids, doubling as the coarse quantizer) partition the
    written index so a probe is a PARTITION-PRUNED scan of n_probe=4
    of 8 cell directories (plan-audited); within probed cells the
    ranking is ADC over 5-byte PQ codes (parquet column pruning
    skips the float vectors). Exact oracle: probe-cell selection,
    cell assignment, PQ code assignment and the ADC cosine are all
    frozen-literal arithmetic, replayed to 4dp."""
    _prep(spark)
    from ._frozen import PQ_CODEBOOKS, PQ_DIM, SEMANTIC_CENTROIDS
    from .similarity.quantize import (
        build_ivfpq_index, read_ivfpq_index, topk_cosine_ivfpq,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[
        "embedding"
    ]
    pq = {
        "dim": PQ_DIM,
        "n_subspaces": len(PQ_CODEBOOKS),
        "n_codes": len(PQ_CODEBOOKS[0]),
        "codebooks": PQ_CODEBOOKS,
    }
    idx, cents, pq = build_ivfpq_index(
        emb, "embedding", "vec_id", pq=pq, centroids=SEMANTIC_CENTROIDS,
    )
    path = _fresh_tmp("skrub_q_ivfpq_")
    write_ivfpq_index(idx, cents, pq, path)
    back, cents2, pq2 = read_ivfpq_index(spark, path)
    return topk_cosine_ivfpq(
        back, cents2, pq2, qv, k=10, n_probe=4, round_digits=4
    ).withColumnRenamed("id", "vec_id")


def q_knn_join_lsh_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH k-NN self-join with FROZEN planes (r7): candidate pairs
    share any (table, sign-bucket) under the committed planes, exact
    cosine rescore, per-query top-5 — the formerly rows-only
    ``knn_join_lsh`` path's exact twin (the recall-contracted seeded
    variant stays in the battery; this one the DuckDB oracle replays
    candidate-for-candidate)."""
    _prep(spark)
    from ._frozen import STREAM_PLANES
    from .similarity import cosine_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_knn_join(
        emb, emb, k=5, method="lsh", planes=STREAM_PLANES, round_digits=4
    )


def q_string_encoder_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringEncoder transform with FROZEN fit state (r7): committed
    idf + SVD components over md5-hashed char 3+4-grams make the
    transform pure explode/broadcast-join/sum arithmetic — the
    formerly rows-only encoder family gains an exact oracle (the
    FIT's driver-side eigendecomposition stays rows-only by nature
    in `string_encoder_features`). Also the production serve shape:
    fit once on a sample, transform any corpus with stable
    features."""
    _prep(spark)
    from ._frozen import STRING_ENCODER
    from .encoders.string_encoder import StringEncoder

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    enc = StringEncoder.from_frozen(
        "p_name", STRING_ENCODER["idf"], STRING_ENCODER["components"]
    )
    out = enc.transform(part)
    return out.select(
        "p_partkey",
        *[F.round(f"p_name_{i}", 6).alias(f"p_name_{i}") for i in range(4)],
    )


def q_topk_lsh_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN probe with FROZEN planes (r7): candidates
    = rows sharing ANY table's sign-bucket with the query, exact
    cosine rescore of candidates only. The formerly rows-only
    `topk_lsh` path gains an exact oracle — with 6dp-committed
    planes the bucket of every row AND the query's buckets are
    replayable sign-of-dot arithmetic (the same construction the
    streaming embedding dedup oracle proves out)."""
    _prep(spark)
    from ._frozen import STREAM_PLANES
    from .similarity.topk import topk_cosine_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[
        "embedding"
    ]
    return topk_cosine_lsh(
        emb, qv, k=10, planes=STREAM_PLANES, round_digits=4
    )


def q_semantic_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with FROZEN centroids (r7, VERDICT r6 #3): injecting
    literal centroids makes the cell assignment a pure argmin over
    dot products, so the whole pipeline — assignment -> within-cell
    cosine pairs -> connected components -> canonical flags — is
    SQL-replayable and the formerly rows-only semantic dedup gains
    an exact oracle (recursive-CTE components, like
    minhash_canonical). Frozen centroids are also the production
    recrawl pattern: cells stay stable across snapshots."""
    _prep(spark)
    from ._frozen import SEMANTIC_CENTROIDS
    from .dedup.embedding import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "embedding", "vec_id", threshold=0.35,
        centroids=SEMANTIC_CENTROIDS,
    )


def q_incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EMBEDDING near-dedup vs persisted cell buckets
    (r7 — the last cell of the {exact, minhash, embedding} x
    {batch, incremental, streaming} dedup matrix): a 'new crawl' —
    odd vectors plus planted copies of seen vectors (shifted ids)
    and planted within-batch duplicates — dedups against the even
    vectors' persisted DISTINCT (table, cell) hyperplane buckets.
    Every planted copy lands in identical cells (same vector, same
    frozen planes) and must vanish; batch dups resolve min-id.
    Exact oracle: frozen planes make every cell sign-of-dot
    arithmetic, so DuckDB replays both sides' buckets, the history
    semi-join and the min-id claim bit-exactly."""
    _prep(spark)
    from ._frozen import INC_PLANES
    from .dedup.embedding import embedding_buckets, embedding_incremental

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    seen = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    new = (
        odd
        .unionByName(
            seen.filter(F.col("vec_id") < 100).select(
                (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            odd.filter(F.col("vec_id") < 100).select(
                (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
            )
        )
    )
    seen_buckets = embedding_buckets(
        seen, "embedding", "vec_id", planes=INC_PLANES
    ).select("band_idx", "bucket").distinct()
    out = embedding_incremental(
        new, seen_buckets, "embedding", "vec_id", planes=INC_PLANES
    )
    return out.select("vec_id")


def q_streaming_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EMBEDDING near-dedup across >= 2 REAL micro-batches
    (r7, VERDICT r6 #7 — closes the dedup matrix): embeddings split
    at the id median into two files streamed with
    maxFilesPerTrigger=1; hyperplane-LSH cells are claimed
    first-arrival in the state store and every vector is flagged
    against its cells' claimants. FROZEN 6dp-rounded planes make
    every sign bit, cell and claim exact SQL arithmetic
    (ascending-id arrival == the min-id rule the oracle replays)."""
    import glob
    import os
    import shutil
    import uuid

    from ._frozen import STREAM_PLANES
    from .streaming.ops import (
        near_dup_summary, streaming_embedding_near_dedup,
    )

    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cut = emb.agg(F.expr("percentile(vec_id, 0.5)").alias("c")).first()["c"]
    src = _fresh_tmp("skrub_strembd_src_")
    os.makedirs(src)
    halves = [
        emb.filter(F.col("vec_id") <= F.lit(cut)),
        emb.filter(F.col("vec_id") > F.lit(cut)),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strembd_" + uuid.uuid4().hex[:8]
    q = (
        streaming_embedding_near_dedup(
            stream, "embedding", "vec_id", planes=STREAM_PLANES
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    out = near_dup_summary(
        spark.table(name),
        ids=emb.select(F.col("vec_id").alias("doc_id")),
    )
    return out.select(
        F.col("doc_id").alias("vec_id"), "is_dup", "canonical_id"
    )


def q_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality audit (r8,
    operators/expectations.py — the ASSERT side of the reference's
    describe-only TableReport, reference
    skrub/_reporting/_summarize.py): a 9-constraint suite over
    customer evaluated in ONE aggregation pass (plus one
    counters-only groupBy per uniqueness check). Means go through
    exact DECIMAL sums so every metric is a ratio of exact integers
    — the oracle replays each constraint as plain SQL aggregates."""
    _prep(spark)
    from .operators.expectations import Check, audit

    cust = load_table(spark, sf_dir, "customer")
    checks = [
        Check("row_count", min_value=1),
        Check("completeness", "c_name", min_value=1.0),
        Check("completeness", "c_acctbal", min_value=0.99),
        Check("uniqueness", "c_custkey", min_value=1.0),
        Check("distinctness", "c_mktsegment", max_value=0.01),
        Check("min", "c_acctbal", min_value=-1000.0),
        Check("max", "c_acctbal", max_value=10000.0),
        Check("mean", "c_acctbal", min_value=4000.0, max_value=5000.0),
        Check(
            "compliance",
            predicate=(
                "c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE',"
                "'HOUSEHOLD','MACHINERY')"
            ),
            name="compliance(mktsegment_domain)",
            min_value=1.0,
        ),
    ]
    return audit(cust, checks)


def q_expectations_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level validation twin (Great Expectations' "unexpected
    rows"): map-only CASE-WHEN rules over documents; violators carry
    a SORTED reasons array. Rules are tuned so the planted
    short/whitespace-heavy docs actually trip them."""
    _prep(spark)
    from .operators.expectations import RowRule, quarantine

    docs = load_table(spark, sf_dir, "documents")
    rules = [
        RowRule("chars_match", "n_chars = length(text)"),
        RowRule("lang_known", "lang IN ('en','de','fr','es')"),
        RowRule("min_len", "n_chars >= 120"),
        RowRule("text_present", "text IS NOT NULL AND length(text) > 0"),
    ]
    return quarantine(docs, rules, ["doc_id", "lang", "n_chars"])


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-10 (r8, operators/bm25.py — the sparse half
    of the retrieval stack next to similarity/topk): query
    'hash join merge sort' over documents, Lucene idf, k1=1.2
    b=0.75. Postings are filtered to the query terms BEFORE the
    (doc, term) shuffle; per-term contributions round to 6dp and
    sum as exact DECIMAL(28,6), so the ranking order is
    partitioning-invariant and the oracle replays it bit-exactly."""
    _prep(spark)
    from .operators.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "hash join merge sort", k=10)


def _cdc_changes(base):
    """Deterministic Debezium-style changelog derived from the base:
    custkey%10=0 → update (acctbal+100, seq 2), %17=0 → delete
    (seq 3, wins same-key ties), %25=0 → insert under key+1M
    (seq 1)."""
    k = F.col("c_custkey")
    upd = base.filter(k % 10 == 0).select(
        k.alias("c_custkey"),
        F.col("c_name"),
        F.col("c_nationkey"),
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.col("c_mktsegment"),
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    dele = base.filter(k % 17 == 0).select(
        k.alias("c_custkey"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("int").alias("c_nationkey"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit("D").alias("op"),
        F.lit(3).cast("long").alias("seq"),
    )
    ins = base.filter(k % 25 == 0).select(
        (k + F.lit(1000000)).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("_new")).alias("c_name"),
        F.col("c_nationkey"),
        F.col("c_acctbal"),
        F.col("c_mktsegment"),
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    return upd.unionByName(dele).unionByName(ins)


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog MERGE (r8 late, operators/cdc.py — the Delta /
    Iceberg `APPLY CHANGES` shape): a deterministic Debezium-style
    (op, seq) changelog applied onto the customer snapshot.
    Latest-change-wins is ONE row_number window over the CHANGELOG
    only (≪ base at scale) + one co-partitioned full-outer join on
    the key. The oracle states the merge's semantic truth directly
    (delete keys gone, update keys re-priced, insert keys added) —
    an independent derivation, not a replay of the window plan."""
    _prep(spark)
    from .operators.cdc import apply_changes

    base = load_table(spark, sf_dir, "customer")
    return apply_changes(base, _cdc_changes(base), "c_custkey", "seq")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history (operators/cdc.py):
    each customer's order stream becomes validity intervals
    [valid_from, valid_to) via ONE lead() window per key — the
    Kimball dimension-history shape. is_current marks the open
    interval."""
    _prep(spark)
    from .operators.cdc import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    ch = orders.select(
        F.col("o_custkey"),
        F.col("o_orderkey"),
        F.lit("U").alias("op"),
        F.col("o_totalprice"),
    )
    hist = scd2_history(ch, "o_custkey", "o_orderkey")
    return hist.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        "valid_from", "valid_to", "is_current",
    )


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (r8 late,
    operators/fusion.py, Cormack et al. 2009): the dense cosine
    top-20 (embeddings, query vec_id=0) and the sparse BM25 top-20
    (documents, 'hash join merge sort') fuse scorelessly as
    Σ 1/(60+rank) — the two candidate lists share the corpus id
    space (vec_id ≡ doc_id). Each rank is a row_number over a
    deterministic (score, id) order and each contribution is one
    IEEE division summed in fixed list order, so the fused ranking
    replays bit-identically."""
    _prep(spark)
    from .operators.bm25 import bm25_topk
    from .operators.fusion import rrf_fuse, to_ranking
    from .similarity import topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[
        "embedding"
    ]
    dense = topk_cosine(emb, qv, k=20, round_digits=4)
    docs = load_table(spark, sf_dir, "documents")
    sparse = bm25_topk(docs, "hash join merge sort", k=20)
    return rrf_fuse(
        [
            to_ranking(dense, "vec_id", "cosine"),
            to_ranking(sparse, "doc_id", "score"),
        ],
        k=60,
        topn=10,
    )


def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-BM25-index probe (r8 late — the sparse twin of
    topk_indexed): build the (bucket, term, doc, tf) postings index,
    WRITE it partitioned by term-hash bucket, read it back and
    search 'hash join merge sort' with partition pruning — only the
    query terms' buckets are read (plan-audited PartitionFilters in
    tests/test_expectations.py). Scoring is the same exact-decimal
    core as bm25_search, so the direct query's oracle applies
    verbatim."""
    _prep(spark)
    from .operators.bm25 import (
        bm25_search_indexed,
        build_bm25_index,
        write_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = _fresh_tmp("skrub_q_bm25_")
    write_bm25_index(build_bm25_index(docs), path)
    return bm25_search_indexed(spark, path, "hash join merge sort", k=10)


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup (r8 late, operators/cdc.py): every
    order looks up the customer's state JUST BEFORE it (strict
    as-of — the leakage-safe variant: a training feature must not
    see the change the label row caused). History = the same order
    changelog's type-2 intervals; the equi-join on custkey carries
    the shuffle and the interval predicate filters within each
    key's small history. The oracle derives the semantic truth
    independently via LAG — previous order's price per customer —
    not by replaying the join."""
    _prep(spark)
    from .operators.cdc import scd2_history, scd2_lookup

    orders = load_table(spark, sf_dir, "orders")
    ch = orders.select(
        F.col("o_custkey"),
        F.col("o_orderkey"),
        F.lit("U").alias("op"),
        F.col("o_totalprice"),
    )
    hist = scd2_history(ch, "o_custkey", "o_orderkey").select(
        "o_custkey",
        F.col("o_totalprice").alias("prev_totalprice"),
        "valid_from",
        "valid_to",
    )
    facts = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    out = scd2_lookup(
        facts, hist, "o_custkey", "o_orderkey", strict=True
    )
    return out.select(
        "o_orderkey", "o_custkey", "o_totalprice", "prev_totalprice"
    )


def q_streaming_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply across ≥2 REAL micro-batches (r8 late —
    completes CDC × {batch, streaming}): the order changelog splits
    into even/odd-orderkey files streamed with maxFilesPerTrigger=1;
    per key the state store keeps the current winner's (seq, op) and
    every change row is emitted with ``applied`` = within-batch
    winner AND beats earlier batches' state. The oracle replays the
    batch split literally (b = orderkey % 2): applied ⇔ row_number 1
    within (key, b) AND (b = 0 OR seq > the key's batch-0 max)."""
    import glob
    import shutil
    import uuid

    from .streaming.ops import streaming_apply_changes

    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    ch = orders.select(
        "o_custkey", "o_orderkey", F.lit("U").alias("op"), "o_totalprice"
    )
    src = _fresh_tmp("skrub_strcdc_src_")
    os.makedirs(src)
    halves = [
        ch.filter(F.col("o_orderkey") % 2 == 0),
        ch.filter(F.col("o_orderkey") % 2 == 1),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strcdc_" + uuid.uuid4().hex[:8]
    q = (
        streaming_apply_changes(stream, "o_custkey", "o_orderkey")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    return spark.table(name).select(
        "o_custkey", "o_orderkey", "o_totalprice", "applied"
    )


def q_warc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source round-trip (r8 late, sources/warc.py — the
    CommonCrawl ingest format the sources family lacked): documents
    render to spec-conformant WARC/1.0 response records across TWO
    files — one plain, one GZIPPED (the CC member layout) — then the
    distributed binaryFile + Arrow-batched mapInPandas reader parses
    them back. The oracle reads the parquet originals, so record
    framing, HTTP payload split and utf-8 round-trip must all be
    lossless for the hash to match. File-per-task is the honest CC
    distribution shape (gzip members aren't splittable; crawls ship
    64k files ≫ cores)."""
    _prep(spark)
    import gzip as _gzip

    from .sources.warc import read_warc, warc_bytes

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.collect()  # fixture synthesis, like the multimodal queries
    recs = [
        {
            "record_id": f"urn:uuid:{r['doc_id']:032d}",
            "warc_type": "response",
            "target_uri": f"https://example.org/doc/{r['doc_id']}",
            "warc_date": "2024-01-01T00:00:00Z",
            "http_status": 200,
            "content": r["text"],
        }
        for r in sorted(rows, key=lambda r: r["doc_id"])
    ]
    tmp = _fresh_tmp("skrub_q_warc_")
    os.makedirs(tmp)
    half = len(recs) // 2
    with open(os.path.join(tmp, "crawl-0.warc"), "wb") as f:
        f.write(warc_bytes(recs[:half]))
    with open(os.path.join(tmp, "crawl-1.warc.gz"), "wb") as f:
        f.write(_gzip.compress(warc_bytes(recs[half:])))
    back = read_warc(spark, tmp)
    return back.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("warc_type"),
        F.col("http_status").cast("int").alias("http_status"),
        F.col("content"),
    )


def q_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank/percentile normalization (r8 late,
    functions/ranknorm.py — threshold-free score calibration before
    mixing scorers or weighted sampling): each document's n_chars
    becomes its corpus percentile (min-rank, ties share). The rank
    comes from distinct-value counts + a cumsum over distinct rows +
    a join-back (never a per-row global sort); the oracle derives
    the same numbers independently via a RANK() window."""
    _prep(spark)
    from .functions.ranknorm import percentile_normalize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    return percentile_normalize(
        docs, "n_chars", out_col="pct", rank_col="rank"
    ).select("doc_id", "n_chars", "rank", "pct")


def q_hits_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (r8 late, operators/graph.py::hits,
    Kleinberg 1999 — the companion to domain_pagerank on the same
    planted 97-host graph): BIGINT fixed-point with integer
    max-normalization each half-step, so hubs and authorities are
    bit-identical under any partitioning and the chained-CTE oracle
    replays all three iterations exactly."""
    _prep(spark)
    from .operators.graph import hits

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return hits(edges, n_iter=3)


def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (r8 late,
    operators/packing.py::chunk_documents — the RAG / long-document
    splitting primitive): 32-token windows advancing by 24 (8-token
    overlap), last window flush to the end. Map-only integer
    arithmetic + slice/array_join, so every chunk boundary replays
    exactly in SQL."""
    _prep(spark)
    from .operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id", chunk_tokens=32, overlap=8
    )


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (r8 late, report/skew.py — the
    observability side of the salting/AQE remedies): per-key weight
    of the events user_id as a prospective join key, top-20 with
    share and cumulative share. One counting groupBy (8-byte keys,
    not payloads) + TakeOrdered; shares are exact-count divisions."""
    _prep(spark)
    from .report.skew import key_skew_report

    ev = load_table(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id", top_k=20)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (r8 late,
    operators/sampling.py::temperature_mixture — the mT5/XLM-R
    multilingual rebalance): per-lang budgets ∝ share^0.7 computed
    on the |strata|-row count frame (p^α rounded 6dp, DECIMAL-exact
    normalizer, floor to integer targets), then the same
    content-addressed md5 keep rule as every sampler — map-only
    over the corpus. The oracle replays budget derivation and
    membership bit-exactly."""
    _prep(spark)
    from .operators.sampling import temperature_mixture

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture(
        docs, "lang", "doc_id", alpha=0.7, total=300, salt="tm8"
    ).select("doc_id", "lang", "source", "n_chars")


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution-drift report (r8 late, report/drift.py — the
    reference/current scorecard): reference = the English slice,
    current = the whole corpus, monitored on n_chars (literal bin
    edges) and lang (literal categories — the planted drift: en goes
    from 100% to ~44%). One exploded groupBy per side covers all
    monitored columns; fractions are exact-count divisions, per-bin
    terms round to 6dp and the per-column PSI sums over
    DECIMAL(28,6), so every value replays bit-identically."""
    _prep(spark)
    from .report.drift import DriftSpec, psi_report

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    specs = [
        DriftSpec("n_chars", "numeric", edges=(100.0, 200.0, 300.0, 400.0)),
        DriftSpec("lang", "categorical",
                  categories=("en", "de", "fr", "es")),
    ]
    return psi_report(ref, docs, specs)


_CMS_PROBES = [
    "join", "hash", "row", "batch", "scan", "the", "vector", "stream",
    "zzz_absent",
]


def q_token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates (r8 late,
    functions/sketches.py — completes the observability-sketch
    family: cardinality ✓ quantiles ✓ frequencies here): the corpus
    token stream reduces to a 4×4096 counter grid (map-side
    combined, sketches merge by cell-wise sum), probed for a fixed
    term list with est = min over hash rows. md5 hashing makes the
    sketch partition-invariant and EXACTLY SQL-replayable — unlike
    engine-internal frequency sketches. The exact counts run
    alongside for the report; the est ≥ true / εN-bound / merge
    contracts are pinned in tests/test_expectations.py."""
    _prep(spark)
    from .functions.sketches import countmin_estimate, countmin_sketch

    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    sk = countmin_sketch(toks, "tok", width=4096, depth=4, salt="cm8")
    probes = spark.createDataFrame(
        [(t,) for t in _CMS_PROBES], "term string"
    )
    est = countmin_estimate(
        sk, probes, "term", width=4096, depth=4, salt="cm8"
    )
    true = (
        toks.filter(F.col("tok").isin(_CMS_PROBES))
        .groupBy(F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    return est.join(true, "term", "left").select(
        "term",
        F.coalesce("true_cnt", F.lit(0).cast("long")).alias("true_cnt"),
        "est",
    )


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (r8 late,
    report/privacy.py::k_anonymity_report — the pre-release privacy
    gate on quasi-identifier tuples): customer rows keyed by
    (nation, coarse balance band), sensitive column = market
    segment. One map-side-combined groupBy whose shuffle carries
    only the quasi columns; the flags are exact-count compares
    against k=5 / l=3."""
    _prep(spark)
    from .report.privacy import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("acct_kilo"),
    )
    return k_anonymity_report(
        cust,
        ["c_nationkey", "acct_kilo"],
        k=5,
        sensitive_col="c_mktsegment",
        l=3,
    )


def q_k_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-group suppression (r8 late,
    report/privacy.py::suppress_rare — generalization-by-
    suppression to reach k-anonymity): quasi values of equivalence
    classes below k=5 become typed NULLs, payload columns pass
    through. One class-size groupBy + one co-partitioned join back
    on the same quasi key."""
    _prep(spark)
    from .report.privacy import suppress_rare

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("acct_kilo"),
        "c_mktsegment",
        "c_acctbal",
    )
    return suppress_rare(cust, ["c_nationkey", "acct_kilo"], k=5)


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift (r8 late,
    report/drift.py::ks_statistic — the bin-free companion to
    drift_psi): click vs purchase event values. The supremum is
    maximized in integer space (|cum_ref·n_cur − cum_cur·n_ref|)
    over the distinct-value frame, so the argmax value and the
    6dp statistic replay bit-identically in SQL."""
    _prep(spark)
    from .report.drift import ks_statistic

    ev = load_table(spark, sf_dir, "events")
    return ks_statistic(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / FK grade (r8 late,
    functions/text.py::readability_columns): per-doc word /
    sentence / syllable counts (vowel-group proxy, floored at 1
    per word) and the two 6dp scores — pure Column arithmetic
    over exact integer counts with fixed operand order, map-only,
    bit-identical in SQL."""
    _prep(spark)
    from .functions.text import readability_columns

    docs = load_table(spark, sf_dir, "documents")
    cols = readability_columns(F.col("text"))
    return docs.select(
        "doc_id", *[v.alias(k) for k, v in cols.items()]
    )


def q_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (r8 late,
    operators/keywords.py::tfidf_keywords): top-5 salient terms per
    document. One (doc, term) counting shuffle + a vocab-sized idf
    broadcast + a per-document window — idf/scores on the 6dp ln
    bridge, term-asc tie-break, so ranks replay exactly."""
    _prep(spark)
    from .operators.keywords import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(docs, "text", "doc_id", top_k=5)


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cross-source similarity matrix (r8 late,
    report/corpus_sim.py::kmv_similarity_matrix): pairwise token-set
    Jaccard estimates between the 20 sources (190 pairs, k=64).
    The only corpus-scale work is the distinct (source, token)
    reduce; sketches hash via the portable md5 rule, so every
    estimate and tie-break replays exactly in SQL."""
    _prep(spark)
    from .report.corpus_sim import kmv_similarity_matrix

    docs = load_table(spark, sf_dir, "documents")
    return kmv_similarity_matrix(
        docs, "source", "text", k=64, salt="sim8"
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit (r8 late, report/zipf.py::zipf_fit — the
    "does this corpus look like natural language" health check):
    OLS of ln(freq) on ln(rank) over the corpus vocabulary. One
    (term, count) reduce is the corpus-scale work; the fit's five
    moment sums run 6dp-rounded over DECIMAL(28,6), so slope /
    intercept / R² replay bit-identically."""
    _prep(spark)
    from .report.zipf import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, "text")


def q_compact_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (r8 late,
    sources/sharding.py::compact_shards — the lakehouse OPTIMIZE
    maintenance pass): 16 fragment files bin-packed
    (first-fit-decreasing on the Hadoop FS listing, driver-side
    metadata only) and rewritten in ONE distributed job via a
    broadcast filename→group join + one hash repartition. The
    oracle is the ORIGINAL table: compaction must be
    content-invariant."""
    _prep(spark)
    import os

    from .sources.sharding import compact_shards

    base = _fresh_tmp("skrub_q_compact_")
    in_p = os.path.join(base, "in")
    out_p = os.path.join(base, "out")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    docs.repartition(16).write.mode("overwrite").parquet(in_p)
    compact_shards(spark, in_p, out_p, target_bytes=32 << 10)
    return spark.read.parquet(out_p).select(
        "doc_id", "lang", "n_chars"
    )


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (r8 late,
    operators/graph.py::label_propagation — dense-region detection
    inside components, the granularity web curation groups domains
    by): 3 synchronous rounds on the planted 97-host graph,
    most-frequent neighbor label / smallest-label tie-break —
    bit-identical under any partitioning, replayed round-by-round
    by the chained-CTE oracle."""
    _prep(spark)
    from .operators.graph import label_propagation

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    )
    return label_propagation(edges, n_iter=3)


def q_outlink_hostgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webgraph construction from anchor tags (r8 late,
    operators/domains.py::extract_outlinks/host_edges — the missing
    piece between raw crawl HTML and the pagerank/HITS/LPA priors):
    per-doc planted anchors (absolute mixed-case, relative, and a
    conditional CDN link the oracle replays via CASE), extracted
    with RE2-compatible patterns, aggregated to (src_host,
    dst_host, n_links) with self-links dropped."""
    _prep(spark)
    from .operators.domains import host_edges

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    html = F.concat(
        F.lit("<p>"),
        F.col("text"),
        F.lit('</p> <a href="https://Site'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('.example.org/p0">x</a> <a href="/rel/x">r</a>'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit(' <a class="m" href="http://cdn.example.net/lib.js">c</a>'),
        ).otherwise(F.lit("")),
    )
    planted = docs.select(
        "doc_id",
        html.alias("html"),
        F.concat(
            F.lit("host"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org"),
        ).alias("src_host"),
    )
    return host_edges(
        planted, content_col="html", id_col="doc_id",
        src_host_col="src_host",
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap (r8 late,
    operators/sampling.py::cap_per_group — the RefinedWeb/C4 "max
    pages per domain" stage): keep the 15 longest documents per
    source, doc_id tie-break. One window partitioned by group —
    a single group-key shuffle, bounded per-group frames."""
    _prep(spark)
    from .operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return cap_per_group(
        docs,
        "source",
        15,
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information / NMI (r8 late,
    report/associations.py::mutual_information — the
    information-theoretic companion to Cramér's V): lang × source
    on documents. One contingency reduce; every term 6dp-rounded
    over DECIMAL sums, so mi / entropies / nmi replay exactly."""
    _prep(spark)
    from .report.associations import mutual_information

    docs = load_table(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source")


def q_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile winsorization (r8 late,
    operators/winsorize.py::quantile_clip — the hard-clip companion
    to SquashingScaler): customer balances clipped at the [2%, 98%]
    discrete empirical quantiles. Cut points derive in pure integer
    arithmetic (basis points; a float ceil(p·n) is an off-by-one
    trap), then one map-only clip."""
    _prep(spark)
    from .operators.winsorize import quantile_clip

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    return quantile_clip(
        cust, "c_acctbal", 0.02, 0.98, out_col="acctbal_clipped"
    )


def q_group_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n per-group uniform sample (r8 late — cap_per_group
    ordered by the samplers' content-addressed md5: EXACTLY 20 docs
    per language, reproducible on any cluster/partitioning, unlike
    fraction samplers whose per-group counts vary). One group-key
    window; the md5 order replays in SQL."""
    _prep(spark)
    from .operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    h = F.md5(F.concat(F.lit("gs8"), F.col("doc_id").cast("string")))
    return cap_per_group(
        docs.withColumn("__h", h),
        "lang",
        20,
        [F.col("__h").asc(), F.col("doc_id").asc()],
    ).drop("__h")


def q_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy-selecting join (r8 late,
    operators/salting.py::auto_join — probes pick broadcast /
    salted / plain shuffle; the gates key_skew_report documents,
    now closed-loop): orders ⋈ customer revenue per segment. The
    oracle is the PLAIN SQL join — whatever physical strategy the
    probe picks, the result must be the same semantic join."""
    _prep(spark)
    from .operators.salting import auto_join

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = auto_join(orders, cust, on="custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        _dsum(_dec("o_totalprice"), "revenue"),
    )


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (r8 late,
    operators/winsorize.py::quantile_discretize — KBinsDiscretizer
    quantile strategy): order totalprice into 4 bins. Edges derive
    via the integer basis-point rule; binning is map-only."""
    _prep(spark)
    from .operators.winsorize import quantile_discretize

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return quantile_discretize(
        orders, "o_totalprice", n_bins=4, out_col="price_bin"
    )


def q_classification_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 (r8 late,
    report/evaluation.py::classification_report): the LEARNED
    language-ID (r9 re-point from the marker heuristic, per the r8
    verdict) evaluated against the planted lang labels — the
    measurement half of the learned-curation loop. One contingency
    reduce; the oracle recomputes predictions from the frozen-model
    SQL replay and derives the metrics independently."""
    _prep(spark)
    from ._frozen import LID_MODEL
    from .operators.language_id import plant_lang_phrase, score_language
    from .report.evaluation import classification_report

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    preds = score_language(plant_lang_phrase(docs), LID_MODEL).select(
        "doc_id", "lang", "lang_pred"
    )
    return classification_report(preds, "lang", "lang_pred")


def q_calibration_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE (r8 late,
    report/evaluation.py::calibration_report): the frozen quality
    classifier's scores against its stopword-ratio teacher label —
    "is the keep-probability the samplers consume honest?". 10
    bins; conf is a 6dp decimal mean, ece an n-weighted decimal
    sum, so every row replays exactly."""
    _prep(spark)
    from ._frozen import QUALITY_MODEL, QUALITY_TEACHER_THRESHOLD
    from .functions.text import quality_columns
    from .operators.quality_classifier import score_quality
    from .report.evaluation import calibration_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = score_quality(docs, QUALITY_MODEL).select(
        "doc_id",
        F.round("quality_score", 6).alias("score"),
        (
            quality_columns(F.col("text"))["stopword_ratio"]
            >= F.lit(float(QUALITY_TEACHER_THRESHOLD))
        )
        .cast("int")
        .alias("label"),
    )
    return calibration_report(scored, "score", "label", n_bins=10)


def q_regression_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression metrics (r8 late,
    report/evaluation.py::regression_report): the classic
    group-mean baseline — predict each order's totalprice by its
    customer segment's mean — scored with MAE/RMSE/R². Residual
    terms 6dp over DECIMAL sums; the segment means themselves are
    6dp decimal means, so the whole chain replays."""
    _prep(spark)
    from .report.evaluation import regression_report

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = orders.join(F.broadcast(cust), "custkey")
    seg = j.groupBy("c_mktsegment").agg(
        F.round(
            F.sum(_dec("o_totalprice")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("yhat")
    )
    pred = j.join(F.broadcast(seg), "c_mktsegment")
    return regression_report(pred, "o_totalprice", "yhat")


def q_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization Hamming top-10 (r8 late,
    similarity/quantize.py::topk_hamming — the 32× compression rung
    past PQ; sign-random-projection LSH bound): sign-bit packed
    words, per-word bit_count(xor), one TakeOrdered — the float
    vectors never shuffle. Query = vec_id 0."""
    _prep(spark)
    from .similarity.quantize import topk_hamming

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return topk_hamming(emb, qv, k=10)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix (r8 late,
    operators/sequence.py::event_transitions — the behavioral
    fingerprint session analytics scores against): per-user
    event_type transitions ordered by (ts, event_id), row-
    normalized probabilities from exact counts."""
    _prep(spark)
    from .operators.sequence import event_transitions

    ev = load_table(spark, sf_dir, "events")
    return event_transitions(
        ev, "user_id", [F.col("ts"), F.col("event_id")], "event_type"
    )


def q_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift changepoint (r8 late,
    operators/sequence.py::changepoint_mean_shift — binary
    segmentation over the daily event-volume series): the corpus-
    scale work is ONE per-day counting groupBy; the split scan
    runs on the bounded period frame via cumulative windows."""
    _prep(spark)
    from .operators.sequence import changepoint_mean_shift

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return changepoint_mean_shift(daily, "day", "cnt")


def q_streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov transitions across ≥2 REAL micro-batches
    (r8 late, streaming/ops.py::streaming_transitions): events
    split into two TIME-ordered files (literal midpoint of the
    exact [min, max] micro-epoch range); per-user state carries the
    last event across the boundary, so the aggregated matrix equals
    the batch SQL oracle bit-exactly — a stateless per-batch lag
    would lose every boundary transition."""
    import glob
    import shutil
    import uuid

    from .streaming.ops import streaming_transitions

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    mm = ev.agg(
        F.min(F.expr("unix_micros(ts)")).alias("lo"),
        F.max(F.expr("unix_micros(ts)")).alias("hi"),
    ).first()
    mid = (int(mm["lo"]) + int(mm["hi"])) // 2
    src = _fresh_tmp("skrub_strtrans_src_")
    os.makedirs(src)
    halves = [
        ev.filter(F.expr(f"unix_micros(ts) <= {mid}L")),
        ev.filter(F.expr(f"unix_micros(ts) > {mid}L")),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strtrans_" + uuid.uuid4().hex[:8]
    q = (
        streaming_transitions(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    # checkpoint breaks the memory-sink lineage: joining two
    # frames derived from the same in-memory sink alias trips
    # Spark's conflicting-reference resolution
    pairs = checkpoint(spark.table(name))
    agg = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = pairs.groupBy("from_state").agg(
        F.count(F.lit(1)).alias("__tot")
    )
    return agg.join(F.broadcast(tot), "from_state").select(
        "from_state",
        "to_state",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("__tot").cast("double"), 6
        ).alias("prob"),
    )


def q_duplication_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplication density (r8 late,
    dedup/density.py::duplication_density — Lee et al. 2022: the
    boilerplate/mirror signal when no single pair crosses a
    near-dup threshold): fraction of each doc's distinct 3-word
    shingles appearing in ≥2 documents. Inverted-index shape on
    8-byte xxhash64 keys (the shingle-overlap kernel,
    dedup/overlap.py); exact counts."""
    _prep(spark)
    from .dedup.density import duplication_density

    docs = load_table(spark, sf_dir, "documents")
    return duplication_density(docs, "text", "doc_id", k=3, min_docs=2)


def q_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking metrics (r8 late,
    report/evaluation.py::ranking_report — completes the eval
    family with the retrieval side): exact cosine top-10 for query
    vec 0 (query excluded), relevance = label agreement, ideal DCG
    from the corpus-wide relevant count. Every 1/rank and
    1/log2(rank+1) is a precomputed 6dp literal, so the metrics
    replay with no runtime float log."""
    _prep(spark)
    from pyspark.sql import Window

    from .report.evaluation import ranking_report
    from .similarity.topk import topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).first()
    qv, qlab = q0["embedding"], int(q0["label"])
    cands = emb.filter(F.col("vec_id") != 0)
    top = topk_cosine(cands, qv, k=10, round_digits=4)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    ranked = top.withColumn("rnk", F.row_number().over(w))
    labels = cands.select("vec_id", "label")
    n_rel = cands.filter(F.col("label") == qlab).count()
    run = ranked.join(labels, "vec_id").select(
        F.lit(0).cast("long").alias("qid"),
        "rnk",
        (F.col("label") == F.lit(qlab)).cast("int").alias("rel"),
        F.lit(int(n_rel)).cast("long").alias("nrel"),
    )
    return ranking_report(run, "qid", "rnk", "rel", "nrel", k=10)


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient (r8 late,
    operators/graph.py::triangle_stats — the SHAPE prior that
    separates organically-linked hosts from link farms): planted
    61-node host graph from three affine maps over doc_id
    (degree ≈ 5.7, 34 triangles), degree-ordered node-iterator,
    each triangle found exactly once; the coefficient is one IEEE
    division of exact integers rounded 6dp, replayed join-for-join
    by the DuckDB oracle."""
    _prep(spark)
    from .operators.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = None
    for a, b in ((31, 7), (13, 3), (7, 11)):
        e = docs.select(
            (F.col("doc_id") % 61).alias("src"),
            ((F.col("doc_id") * a + b) % 61).alias("dst"),
        )
        edges = e if edges is None else edges.union(e)
    return triangle_stats(edges)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust Hampel outlier flags (r8 late,
    report/outliers.py::mad_outliers — median/MAD per group, the
    50%-breakdown robust alternative to z-scores): o_totalprice
    within o_orderpriority, k=3. Medians by exact decimal rank
    selection (carried doubled), the flag decided entirely in
    decimal space — replayed verbatim by the DuckDB oracle."""
    _prep(spark)
    from .report.outliers import mad_outliers

    orders = load_table(spark, sf_dir, "orders")
    return mad_outliers(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", k="3.0"
    )


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (r8 late,
    report/benford.py::benford_audit — the fraud/feed-quality gate
    auditors run before a source joins a training mix): first
    significant digit of o_totalprice extracted with exact integer
    arithmetic (CASE-selected power-of-10 + one `div`), observed
    vs log10(1+1/d) 6dp literals, chi-square terms via fixed-order
    IEEE multiply/divide — replayed verbatim by the oracle."""
    _prep(spark)
    from .report.benford import benford_audit

    orders = load_table(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice")


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate target encoding (r8 late,
    encoders/target_encoder.py::target_encode — supervised category
    statistics as native shuffle-on-category aggregation):
    c_nationkey vs (c_acctbal > 0), m=20 virtual rows; the smoothed
    mean is ONE exact-integer IEEE division, replayed verbatim."""
    _prep(spark)
    from .encoders.target_encoder import target_encode

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", (F.col("c_acctbal") > 0).cast("int").alias("y")
    )
    return target_encode(cust, "c_nationkey", "y", m=20)


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (r8 late,
    encoders/target_encoder.py::target_encode_loo — the leakage
    guard when the encoding feeds a learner trained on the same
    rows): o_orderpriority vs (o_orderstatus = 'F') per order;
    (S_c − y_i)/(n_c − 1) exact-integer division, singleton
    fallback to the global mean."""
    _prep(spark)
    from .encoders.target_encoder import target_encode_loo

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    return target_encode_loo(orders, "o_orderpriority", "y", "o_orderkey")


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information value (r8 late,
    encoders/target_encoder.py::woe_iv — the credit-scoring
    standard category scorer): c_mktsegment vs (c_acctbal > 0),
    Laplace ½-smoothing in exact half-units; the single runtime ln
    is 6dp-rounded (the proven cross-engine bridge)."""
    _prep(spark)
    from .encoders.target_encoder import woe_iv

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", (F.col("c_acctbal") > 0).cast("int").alias("y")
    )
    return woe_iv(cust, "c_mktsegment", "y")


def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch heavy-hitter alerts across ≥2 REAL micro-batches
    (r8 late, streaming/ops.py::streaming_heavy_hitters): events
    split into two mtime-ordered files by the LITERAL predicate
    event_id % 2 = 0, per-user running count in the state store,
    each user emitted once with the cumulative count at the batch
    where it first reaches 30 — the SQL oracle replays the split
    predicate (c0 ≥ 30 → batch-1 count, else total)."""
    import glob
    import shutil
    import uuid

    from .streaming.ops import streaming_heavy_hitters

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    src = _fresh_tmp("skrub_strhh_src_")
    os.makedirs(src)
    halves = [
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 != 0),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strhh_" + uuid.uuid4().hex[:8]
    q = (
        streaming_heavy_hitters(stream, "user_id", threshold=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    return checkpoint(spark.table(name)).select(
        F.col("key").alias("user_id"), "count_at_alert"
    )


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (r8 late,
    operators/association.py::association_rules — A-priori level 2
    with frequent-item prefilter): brands co-purchased within an
    order (baskets = orders, items = p_brand via the part dim);
    support/confidence/lift each ONE exact-integer IEEE division,
    6dp — the oracle replays the whole ladder."""
    _prep(spark)
    from .operators.association import association_rules

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    baskets = li.join(
        F.broadcast(part),
        li["l_partkey"] == part["p_partkey"],
    ).select("l_orderkey", "p_brand")
    return association_rules(
        baskets, "l_orderkey", "p_brand", min_support_count=2
    )


def q_sequence_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov sequence-anomaly scores (r8 late,
    operators/sequence.py::sequence_anomaly — the behavioral gate
    over event_transitions): per-user mean −ln(p) surprise under
    the corpus's own transition matrix; 6dp ln bridge +
    DECIMAL(28,6) surprise sums, oracle composes the transition
    replay."""
    _prep(spark)
    from .operators.sequence import sequence_anomaly

    ev = load_table(spark, sf_dir, "events")
    out = sequence_anomaly(
        ev, "user_id", [F.col("ts"), F.col("event_id")], "event_type"
    )
    return out.select(
        F.col("entity").alias("user_id"), "n_transitions", "avg_surprise"
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (r8 late,
    operators/graph.py::k_core — the embeddedness prior: staying
    in a deep core needs k well-connected neighbors who each stay
    too): planted core–periphery graph (dense 20-node core via 5
    affine maps, 77-node sparse periphery, doc_id%13 bridges),
    k=6, 4 synchronous peel rounds (fixpoint by round 2 — later
    rounds are exact no-ops the chained-CTE oracle replays)."""
    _prep(spark)
    from .operators.graph import k_core

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    parts = []
    for a, b in ((7, 3), (3, 1), (9, 7), (11, 5), (13, 9)):
        parts.append(
            docs.select(
                (d % 20).alias("src"), ((d * a + b) % 20).alias("dst")
            )
        )
    parts.append(
        docs.select(
            (d % 77 + 20).alias("src"),
            ((d * 3 + 1) % 77 + 20).alias("dst"),
        )
    )
    parts.append(
        docs.filter(d % 13 == 0).select(
            (d % 20).alias("src"), (d % 77 + 20).alias("dst")
        )
    )
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.union(p)
    return k_core(edges, k=6, n_iter=4)


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel (r8 late,
    operators/sequence.py::window_funnel — ClickHouse windowFunnel
    shape; `funnel_conversion` answers "ever converted", this
    answers "converted as one session"): view → click → purchase
    strictly ordered within 24h of the first view, greedy-first
    matching, integer-microsecond comparisons, one conditional-min
    entity groupBy per step."""
    _prep(spark)
    from .operators.sequence import window_funnel

    ev = load_table(spark, sf_dir, "events")
    out = window_funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        window_us=86_400_000_000,
    )
    return out.select(
        F.col("entity").alias("user_id"), "step_reached", "t_first_us"
    )


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-week seasonality (r8 late,
    operators/sequence.py::seasonal_profile — the weekly
    fingerprint bot detection divides by): dense 7×24 grid of
    event volume with share and uniform-week lift; dow/hour from
    pure integer microsecond arithmetic, single-division 6dp
    ratios."""
    _prep(spark)
    from .operators.sequence import seasonal_profile

    ev = load_table(spark, sf_dir, "events")
    return seasonal_profile(ev, "ts")


def q_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trends (r8 late,
    report/trend.py::grouped_trend — thousands of regressions as
    ONE map-side-combined groupBy over sufficient statistics):
    daily revenue slope/intercept/R² per order priority; daily
    sums via the DECIMAL(12,2) bridge, moments 6dp-rounded into
    DECIMAL(38,6), closed forms in fixed-order IEEE arithmetic."""
    _prep(spark)
    from .report.trend import grouped_trend

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority",
        F.expr("unix_date(cast(o_orderdate as date))").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev")
    )
    return grouped_trend(daily, "o_orderpriority", "day", "rev")


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate refresh (r8 late,
    operators/cdc.py::refresh_aggregate — IVM: fold a delta into a
    materialized agg without touching the base facts): base =
    orders with o_orderkey % 4 != 0 pre-aggregated per priority,
    delta = the rest; exact decimal sums make the refreshed view
    bit-identical to the full recompute the oracle runs."""
    _prep(spark)
    from .operators.cdc import refresh_aggregate

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    base = (
        orders.filter(F.col("o_orderkey") % 4 != 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("price").alias("revenue"),
        )
    )
    delta = orders.filter(F.col("o_orderkey") % 4 == 0)
    return refresh_aggregate(
        base,
        delta,
        ["o_orderpriority"],
        count_col="n",
        sum_cols={"revenue": "price"},
    )


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume ACF at lags 1..7 (r8 late,
    operators/sequence.py::autocorrelation — the seasonality
    detector that decides whether the weekly model applies):
    centered products via the n²-scaled INTEGER identity
    (n·y − S), so numerator and denominator are exact integers and
    acf is one IEEE division, 6dp."""
    _prep(spark)
    from .operators.sequence import autocorrelation

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return autocorrelation(daily, "day", "cnt", max_lag=7)


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-lifetime curves per market segment
    (r8 late, report/survival.py::kaplan_meier): duration = days
    between a customer's first and last order, event = the customer
    ever had a finished ('F') order, else censored. Product-limit
    terms via the ln-6dp/DECIMAL(38,6)/exp bridge over the bounded
    per-group duration frame."""
    _prep(spark)
    from .report.survival import kaplan_meier

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    span = orders.groupBy("o_custkey").agg(
        (
            F.max(F.expr("unix_date(cast(o_orderdate as date))"))
            - F.min(F.expr("unix_date(cast(o_orderdate as date))"))
        ).alias("t"),
        F.max(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("event"),
    )
    g = span.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        span.o_custkey == F.col("c_custkey"),
    )
    return kaplan_meier(g, "c_mktsegment", "t", "event")


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit per nation (r8 late,
    report/concentration.py::gini_concentration): Gini over
    per-customer lifetime revenue (exact DECIMAL cents), ranked
    identity, ONE group-partitioned rank window + ONE agg."""
    _prep(spark)
    from .report.concentration import gini_concentration

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev")
    )
    g = rev.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        rev.o_custkey == F.col("c_custkey"),
    ).select("c_nationkey", "rev", "o_custkey")
    return gini_concentration(g, "c_nationkey", "rev", "o_custkey")


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue trend per order priority (r8 late,
    report/trend.py::theil_sen): median of pairwise slopes over the
    trailing 400 days of the daily series — 6dp slope quantization
    into DECIMAL(28,6), rank-selection median, deterministic pair
    tiebreak."""
    _prep(spark)
    from .report.trend import theil_sen

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority",
        F.expr("unix_date(cast(o_orderdate as date))").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev")
    )
    maxd = daily.agg(F.max("day").alias("maxd"))
    recent = (
        daily.crossJoin(F.broadcast(maxd))
        .filter(F.col("day") > F.col("maxd") - 400)
        .select("o_orderpriority", "day", "rev")
    )
    return theil_sen(recent, "o_orderpriority", "day", "rev")


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier offers per brand (r8 late,
    operators/skyline.py::skyline2d — parts no other same-brand
    part beats on BOTH price and size): 2-D sweep via two
    RANGE-framed window cummaxes over integer cents, zero joins;
    the oracle runs the quadratic NOT-EXISTS dominance definition,
    proving the sweep IS the definition."""
    _prep(spark)
    from .operators.skyline import skyline2d

    part = load_table(spark, sf_dir, "part")
    px = part.select(
        "p_partkey",
        "p_brand",
        "p_size",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_c"),
    )
    return skyline2d(px, "p_brand", "price_c", "p_size").select(
        "p_brand", "p_partkey", "price_c", "p_size"
    )


def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout (r8 late,
    report/abtest.py::ab_proportion_test): variant = user_id
    parity, conversion = ever purchased; two-proportion z + χ²
    from four exact counts, fixed-order IEEE, 6dp."""
    _prep(spark)
    from .report.abtest import ab_proportion_test

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("converted")
        )
        .withColumn(
            "variant",
            F.when(F.col("user_id") % 2 == 0, "control").otherwise(
                "treatment"
            ),
        )
    )
    return ab_proportion_test(per_user, "user_id", "variant", "converted")


def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (r8 late,
    report/profiling.py::fd_profile — Metanome-shape profiling
    that gates joins and CDC merge keys): four curated candidate
    FDs over customer, each ONE two-level counting agg."""
    _prep(spark)
    from .report.profiling import fd_profile

    cust = load_table(spark, sf_dir, "customer")
    return fd_profile(
        cust,
        [
            ("c_custkey", "c_name"),
            ("c_name", "c_custkey"),
            ("c_nationkey", "c_mktsegment"),
            ("c_mktsegment", "c_nationkey"),
        ],
    )


def q_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery (r8 late,
    report/profiling.py::candidate_keys — a 'key' with duplicates
    fans out a 100 TB join; this measures the fanout mass before
    you pay for it): three candidate column sets over orders."""
    _prep(spark)
    from .report.profiling import candidate_keys

    orders = load_table(spark, sf_dir, "orders")
    return candidate_keys(
        orders,
        [["o_orderkey"], ["o_custkey"], ["o_custkey", "o_orderdate"]],
    )


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark BFS distances (r8 late,
    operators/graph.py::bfs_distances — closeness-to-seed-set
    features, the TrustRank geometry made explicit): 4-hop
    multi-source BFS from landmarks {0,1,2} on the planted 97-host
    graph; set-fixpoint rounds are bit-identical under any
    partitioning and the chained-CTE oracle replays each."""
    _prep(spark)
    from .operators.graph import bfs_distances

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    )
    landmarks = spark.range(0, 3).select(F.col("id").alias("node"))
    return bfs_distances(edges, landmarks, max_hops=4)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus novelty scoring (r8 late,
    dedup/density.py::ngram_novelty — does the new snapshot add
    anything? the per-document HOW-MUCH form of the contamination
    check): fraction of each target doc's distinct 3-word shingles
    absent from the src0-src3 reference slice; 8-byte xxhash64
    keys, one membership join (the shingle-overlap kernel,
    dedup/overlap.py), exact counts."""
    _prep(spark)
    from .dedup.density import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    refs = ["src0", "src1", "src2", "src3"]
    target = docs.filter(~F.col("source").isin(refs))
    reference = docs.filter(F.col("source").isin(refs))
    return ngram_novelty(target, reference, "text", "doc_id", k=3)


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (r8 late, Spark native
    ``DataFrame.unpivot`` — the melt half of the pivot pair;
    `pivot_segment_nation` covers long-to-wide): per-priority
    order metrics (count / exact-decimal revenue / max price, all
    cast DOUBLE pre-melt) unpivoted to (priority, metric, value);
    the oracle is the definitional UNION ALL."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_revenue"),
        F.max("o_totalprice").alias("max_price"),
    )
    return agg.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_revenue", "max_price"],
        "metric",
        "value",
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (r8 late, composing
    operators/winsorize.py::quantile_discretize three ways — the
    classic lifecycle segmentation grid): per-customer recency /
    frequency / monetary quintile bins via the integer basis-point
    cut-point rule, aggregated to per-cell counts and exact
    decimal revenue."""
    _prep(spark)
    from .operators.winsorize import quantile_discretize_multi

    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_date(cast(o_orderdate as date))")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias(
            "monetary"
        ),
    )
    maxd = per_cust.agg(F.max("last_day").alias("maxd"))
    rfm = (
        per_cust.crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            (F.col("maxd") - F.col("last_day"))
            .cast("long")
            .alias("recency"),
            "frequency",
            "monetary",
        )
        .persist()  # read twice: the fused edges pass + the binning
    )
    # r12-opt: ONE fused cut-point pass for all three metrics
    # (bin-for-bin identical to the former three chained
    # quantile_discretize passes, which re-aggregated rfm per metric
    # and serialized each pass behind the previous one's broadcast)
    binned = quantile_discretize_multi(
        rfm,
        ["recency", "frequency", "monetary"],
        5,
        ["r_bin", "f_bin", "m_bin"],
    )
    return binned.groupBy("r_bin", "f_bin", "m_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary").cast("double").alias("total_monetary"),
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing of daily order volume (r8 late,
    operators/sequence.py::ewma_smooth — the truncated-EWMA
    de-trender anomaly monitors threshold): 14-term α=0.3 weighted
    sum with 6dp literal weights, exact DECIMAL numerator, one
    IEEE division; NULL until a full window exists."""
    _prep(spark)
    from .operators.sequence import ewma_smooth

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("unix_date(cast(o_orderdate as date))").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return ewma_smooth(daily, "day", "cnt", alpha=0.3, k=14)


def q_spatial_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial distance join (r8 late,
    operators/spatial.py::grid_distance_join — the equi-join
    reduction of ST_DWithin): customers/suppliers at planted
    integer microdegree coords, all pairs within 2e6 (2°); 3×3
    cell-neighborhood candidates, exact integer dx²+dy² filter —
    the oracle runs the quadratic definition."""
    _prep(spark)
    from .operators.spatial import grid_distance_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 2654435761) % 180000000 - 90000000)
        .alias("x"),
        ((F.col("c_custkey") * 40503) % 360000000 - 180000000)
        .alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 97003) % 180000000 - 90000000)
        .alias("x"),
        ((F.col("s_suppkey") * 11027) % 360000000 - 180000000)
        .alias("y"),
    )
    out = grid_distance_join(cust, supp, radius=2_000_000)
    return out.select(
        F.col("c_custkey_l").alias("c_custkey"),
        F.col("s_suppkey_r").alias("s_suppkey"),
        F.col("dist2").cast("long").alias("dist2"),
    )


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index audience intersections (r8 late,
    operators/bitmap.py::audience_overlap — S²/2 distinct-count
    intersections without S²/2 id-set self-joins): users packed
    into 32-bit-lane words per event type, pairwise
    popcount(a AND b), exact counts + 6dp Jaccard."""
    _prep(spark)
    from .operators.bitmap import audience_overlap

    ev = load_table(spark, sf_dir, "events")
    return audience_overlap(ev, "event_type", "user_id")


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets rollup (r8 late — the remaining native
    SQL grouping surface next to `rollup_revenue`): revenue over
    all four (region × segment) grouping sets with an explicit
    grouping_id (MSB = first cube column on both engines)."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    j = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        j.cube("r_name", "c_mktsegment")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence cosine (r8 late,
    operators/association.py::item_cooccurrence — the symmetric
    'customers also bought' matrix next to association_rules'
    directional lift): parts co-ordered within orders, basket-
    keyed self-join of the distinct (order, part) frame."""
    _prep(spark)
    from .operators.association import item_cooccurrence

    li = load_table(spark, sf_dir, "lineitem")
    return item_cooccurrence(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    )


def q_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation (r8 late,
    operators/impute.py::impute_median — the grouped distributed
    SimpleImputer(strategy='median')): account balances masked on
    a planted rule, refilled from the per-nation exact
    rank-selection median."""
    _prep(spark)
    from .operators.impute import impute_median

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.when(
            F.col("c_custkey") % 19 != 0,
            F.col("c_acctbal").cast("decimal(12,2)"),
        ).alias("acctbal"),
    )
    out = impute_median(cust, "c_nationkey", "acctbal", "c_custkey")
    return out.select(
        "c_custkey",
        "c_nationkey",
        F.col("acctbal").cast("double").alias("acctbal"),
        "acctbal_imputed",
        "acctbal_was_imputed",
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (r8 late,
    similarity/mining.py::hard_negatives — the triplet-loss
    negatives dense-retrieval training mines): top-3 highest-cosine
    OTHER-label vectors per anchor (vec_id % 50 == 0 anchors),
    label predicate pushed BEFORE the ranking."""
    _prep(spark)
    from .similarity.mining import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0).select("vec_id")
    return hard_negatives(emb, anchors, k=3)


def q_oversample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalancing (r8 late,
    operators/sampling.py::oversample_balance — oversampling WITH
    replacement up to the majority count): language classes of the
    documents table balanced exactly; md5-order remainder rule."""
    _prep(spark)
    from .operators.sampling import oversample_balance

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    return oversample_balance(docs, "lang", "doc_id")


def q_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group SLA percentiles (r8 late,
    operators/winsorize.py::group_quantiles — the p50/p95/p99
    latency report): discrete rank-selection quantiles of event
    values per event type; cumsum over per-group DISTINCT values,
    emitted values are input values (no interpolation)."""
    _prep(spark)
    from .operators.winsorize import group_quantiles

    ev = load_table(spark, sf_dir, "events")
    return group_quantiles(
        ev, "event_type", "value", [0.5, 0.95, 0.99],
        names=["p50", "p95", "p99"],
    )


def q_join_fanout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join fanout audit (r8 late,
    report/profiling.py::join_fanout_report — the safety check
    before paying for a 100 TB join): exact per-key output
    cardinality of customer⋈orders, top-10 hottest keys + total."""
    _prep(spark)
    from .report.profiling import join_fanout_report

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return join_fanout_report(
        cust, orders, "c_custkey", "o_custkey", top_k=10
    )


def q_histogram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram profiling (r8 late,
    operators/winsorize.py::histogram_report): order totals in
    exact integer cents over 20 dense bins — pure integer edge and
    bin arithmetic."""
    _prep(spark)
    from .operators.winsorize import histogram_report

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    return histogram_report(orders, "cents", n_bins=20)


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval union per user (r8 late,
    operators/intervals.py::interval_coverage — gaps-and-islands
    merge; the concurrent-session billing / utilization rollup):
    planted integer durations, running-max island detection, exact
    covered microseconds."""
    _prep(spark)
    from .operators.intervals import interval_coverage

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("s"),
        (
            F.expr("unix_micros(ts)")
            + ((F.col("event_id") % 900) + 100) * 1_000_000
        ).alias("e"),
    )
    return interval_coverage(iv, "user_id", "s", "e")


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (r8 late,
    operators/intervals.py::attribution_last_touch): every
    purchase credited to the latest preceding non-purchase event
    within a 7-day lookback — ONE bounded per-user window max over
    a total (ts, id) order, no join."""
    _prep(spark)
    from .operators.intervals import attribution_last_touch

    ev = load_table(spark, sf_dir, "events")
    return attribution_last_touch(
        ev,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        conversion="purchase",
        lookback_us=7 * 86_400_000_000,
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (r8 late — the sources-family drift
    case `snapshot_diff` doesn't cover: COLUMNS change across
    snapshot generations): v1 shards lack o_orderpriority, v2
    shards carry it; `mergeSchema` read unifies with NULL fill,
    exactly what the oracle's CASE replay computes."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    tmp = _fresh_tmp("skrub_spark_schevo_")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(tmp + "/v1")
    v2.write.mode("overwrite").parquet(tmp + "/v2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(tmp + "/v1", tmp + "/v2")
    )
    return merged.select("o_orderkey", "o_totalprice", "o_orderpriority")


def q_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation-recall curve (r8 late,
    similarity/mining.py::truncation_recall): recall@10 of
    prefix-dim cosine top-k (d = 4/8/16) vs the full-width ranking
    for the vec_id=0 query — the serve-narrower measurement next
    to the SQ8/PQ quantization rungs."""
    _prep(spark)
    from .similarity.mining import truncation_recall

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return truncation_recall(
        emb, qv, dims=[4, 8, 16], k=10, exclude_id=0
    )


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing (r8 late,
    operators/sampling.py::sample_token_budget): per source, docs
    in md5 order until 2000 chars are admitted — budgets in token
    mass, not doc counts."""
    _prep(spark)
    from .operators.sampling import sample_token_budget

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return sample_token_budget(
        docs, "source", "doc_id", "n_chars", budget=2000
    )


def q_sketch_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-source distinct sketches (r8 late,
    functions/sketches.py::mergeable_distinct_sketches — the
    HLL_EXPORT/HLL_COMBINE persistence pattern with an EXACT merge
    identity): per-source token-cardinality sketches plus their
    union merge; union of survivor sets == survivor set of the
    union."""
    _prep(spark)
    from .functions.sketches import mergeable_distinct_sketches
    from .functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    return mergeable_distinct_sketches(
        toks, "tok", "source", rate=16, salt="su8"
    )


def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (r8 late,
    functions/datetime.py::calendar_dim — the star-schema date
    spine): one row per day spanning the observed order dates,
    integer dow/week + proleptic-Gregorian civil fields, generated
    lazily with no driver collect."""
    _prep(spark)
    from .functions.datetime import calendar_dim

    orders = load_table(spark, sf_dir, "orders")
    return calendar_dim(orders, "o_orderdate")


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join semantics (r8 late — Spark `<=>` ==
    DuckDB IS NOT DISTINCT FROM): customers with a planted NULL
    segment key joined null-safely to the distinct segment dim, so
    the NULL group matches the NULL dim row instead of dropping."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 != 0, F.col("c_mktsegment")
        ).alias("seg"),
    )
    dim = (
        cust.select(F.col("seg").alias("dseg"))
        .distinct()
        .withColumn(
            "seg_id",
            F.conv(
                F.substring(
                    F.md5(F.coalesce(F.col("dseg"), F.lit("<NULL>"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    joined = cust.join(
        F.broadcast(dim), F.col("seg").eqNullSafe(F.col("dseg")), "left"
    )
    return joined.groupBy(
        F.col("dseg").alias("seg"), F.col("seg_id")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_customers"))


def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT relational surface (r8 late): machinery
    buyers with positive balance vs customers who ever ordered —
    both set ops tagged into one frame, distinct semantics on both
    engines."""
    _prep(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(
        (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_acctbal") > 0)
    ).select("c_custkey")
    b = orders.select(F.col("o_custkey").alias("c_custkey"))
    both = a.intersect(b).select(
        F.lit("intersect").alias("op"), "c_custkey"
    )
    only_a = a.subtract(b).select(
        F.lit("except").alias("op"), "c_custkey"
    )
    return both.unionByName(only_a)


def q_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets (r8 late,
    functions/text.py::kwic_snippets — the snippet half of the
    search stack next to BM25 ranking): every occurrence of 'the'
    with ±3 tokens of context, map-only array algebra."""
    _prep(spark)
    from .functions.text import kwic_snippets

    docs = load_table(spark, sf_dir, "documents")
    return kwic_snippets(docs, "the", window=3)


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers (r8 late,
    report/outliers.py::iqr_outliers — boxplot semantics next to
    mad_outliers' Hampel rule): account balances vs per-nation
    quartile fences, decided in ×10 exact decimal space."""
    _prep(spark)
    from .report.outliers import iqr_outliers

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
    )
    return iqr_outliers(cust, "c_nationkey", "bal", "c_custkey")


def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted daily average (r8 late,
    operators/sequence.py::twap_daily — TWAP: each observation
    holds until the next; plain AVG over-weights bursts): event
    values per user-day, integer-microsecond weights, id
    tie-break."""
    _prep(spark)
    from .operators.sequence import twap_daily

    ev = load_table(spark, sf_dir, "events")
    return twap_daily(ev, "user_id", "ts", "value", "event_id")


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step user paths (r8 late — the product-analytics
    'top paths' report; event_transitions is the 1st-order view,
    this surfaces the actual walked trigrams): two lags over the
    per-user (ts, id) order, one counting reduce, deterministic
    top-20."""
    _prep(spark)
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("s3"),
        F.lag("event_type", 1).over(w).alias("s2"),
        F.lag("event_type", 2).over(w).alias("s1"),
    ).filter(F.col("s1").isNotNull())
    return (
        s.groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "s1", "s2", "s3")
        .limit(20)
    )


def q_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve (r8 late — cumulative revenue per
    first-order-week cohort by age; `retention_cohorts` counts
    heads, this follows the money): integer epoch-week cohorts,
    exact DECIMAL revenue, cumsum over the bounded per-cohort age
    frame, per-user LTV one IEEE division 6dp."""
    _prep(spark)
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_date(cast(o_orderdate as date))")
    base = orders.select(
        "o_custkey",
        F.call_function("div", day + 3, F.lit(7)).alias("week"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    first = base.groupBy("o_custkey").agg(
        F.min("week").alias("cohort")
    )
    sized = first.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    j = base.join(first, "o_custkey").select(
        "cohort",
        (F.col("week") - F.col("cohort")).alias("age"),
        "price",
    )
    per = j.groupBy("cohort", "age").agg(
        F.sum("price").alias("rev")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per.withColumn("cum_rev", F.sum("rev").over(w))
        .join(F.broadcast(sized), "cohort")
        .select(
            F.col("cohort").cast("long").alias("cohort"),
            F.col("age").cast("long").alias("age"),
            F.col("rev").cast("double").alias("rev"),
            F.col("cum_rev").cast("double").alias("cum_rev"),
            "cohort_users",
            # exact integer micros then ONE un-rounded IEEE div —
            # round(cents/users, 6) ties at the half-ulp for
            # power-of-two cohort sizes and the engines' round()
            # disagree there; integer div has no tie to lose
            (
                F.call_function(
                    "div",
                    (F.col("cum_rev") * 100).cast("long")
                    * F.lit(10_000),
                    F.col("cohort_users"),
                ).cast("double")
                / F.lit(1_000_000).cast("double")
            ).alias("ltv_per_user"),
        )
    )


def q_dup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (r8 late — dedup
    observability: is the corpus a few mega-mirrors or many small
    twins?): aggregates the `minhash_canonical` pipeline's
    components; the oracle COMPOSES that query's proven SQL replay
    via a subquery splice (the evaluation-metrics precedent)."""
    canon = q_minhash_canonical(spark, sf_dir)
    sizes = canon.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


def q_weighted_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted landmark distances (r8 late,
    operators/graph.py::weighted_distances — bounded Bellman-Ford;
    bfs_distances is the hop-count special case): 4 relaxation
    rounds from node 0 on the planted 97-host graph with integer
    weights (src+dst) % 5 + 1, chained-CTE replayed."""
    _prep(spark)
    from .operators.graph import weighted_distances

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    ).withColumn("w", (F.col("src") + F.col("dst")) % 5 + 1)
    landmarks = spark.range(0, 1).select(F.col("id").alias("node"))
    return weighted_distances(edges, landmarks, n_rounds=4)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction (r9,
    operators/html_extract.py::html_extract — the DOM-level
    trafilatura-shape stage between WARC bodies and line-level
    boilerplate removal): plant deterministic markup around each
    document's text (title + script/style/comment noise + nav +
    article h1/p + link-dense related box + footer, pure SQL concat
    so the oracle replays the input), extract, and return the
    per-doc title/main_text/audit counts. The nav/div/footer must
    drop (boiler containers / link density 1.0) and the h1+p must
    survive — the oracle recomputes all five columns from the raw
    text."""
    _prep(spark)
    from .operators.html_extract import html_extract

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            did,
            F.lit(
                '</title><script type="text/javascript">var nav = '
                '"<p>fake</p>";</script><style>.m{color:red}</style>'
                "</head><body><nav><a href=\"/\">Home</a> "
                '<a href="/docs">Docs</a> <a href="/about">About</a>'
                "</nav><!-- build 42 --><h1>Doc "
            ),
            did,
            F.lit("</h1><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                '</p><div><a href="/m1">more like this</a> '
                '<a href="/m2">and this</a></div><footer>'
                '<a href="/c">Contact</a> <a href="/t">Terms</a>'
                "</footer></body></html>"
            ),
        ).alias("html"),
    )
    return html_extract(planted, "html").select(
        "doc_id",
        "title",
        "main_text",
        "n_blocks",
        "n_kept",
        F.length("main_text").cast("long").alias("main_chars"),
    )


def q_language_id_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned language identification (r9,
    operators/language_id.py::score_language — the fastText-lid
    shape): plant each row's per-language function-word phrase
    (pure Column CASE, SQL-replayable), then score the corpus with
    the FROZEN multinomial char-trigram model from _frozen.LID_MODEL
    — one gram explode + one map-side-combined (doc, bucket)
    aggregation + one broadcast join against the 512-row weight
    table + a per-doc 5-way argmax. Per-class dots accumulate in
    DECIMAL (counts x 6dp weights are exact), so the margins and
    the argmax replay bit-identically in the DuckDB oracle."""
    _prep(spark)
    from ._frozen import LID_MODEL
    from .operators.language_id import plant_lang_phrase, score_language

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return score_language(plant_lang_phrase(docs), LID_MODEL).select(
        "doc_id", "lang", "lang_pred", "lang_margin"
    )


def q_adaptive_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy-selecting aggregation (r9, VERDICT r8 #6,
    operators/salting.py::auto_agg_with_strategy — the groupBy twin
    of adaptive_join): revenue per order status. o_orderstatus is
    genuinely hot (two values own ~98% of rows), so the probe picks
    the salted two-stage spread — with the content-addressed md5
    salt, so the whole plan is replayable — and the oracle is the
    PLAIN SQL GROUP BY: whatever strategy the probe picks, the
    result must be the same semantic aggregate."""
    _prep(spark)
    from .operators.salting import auto_agg

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return auto_agg(
        orders,
        ["o_orderstatus"],
        {
            "n_orders": F.count(F.lit(1)),
            "revenue": F.sum(_dec("o_totalprice")),
        },
        reaggs={
            "n_orders": F.sum("n_orders").cast("long"),
            "revenue": F.sum("revenue").cast("double"),
        },
        salt_from=["o_orderkey"],
    )


# dirty suffixes planted by normalize_text's battery query — module
# level so the Spark query and the generated oracle share one list
_DIRTY_SUFFIXES = [
    " Itâ€™s â€œmojibakeâ€¦ CafÃ©",
    " curly ’quotes‘ “double” — em – en − minus… end",
    " nbsp space zero​width soft­hyphen",
    " tabs\t\tCRLF\r\nCR\r and\n\n\n\nblanks  double  spaces ",
    "",
]


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (r9, operators/normalize.py — the
    ftfy/NFKC-lite stage between html_extract and the quality
    filters): plant one of five dirty suffixes per document
    (mojibake, curly punctuation, invisible characters, whitespace
    chaos, clean control group — a pure CASE on doc_id the oracle
    replays), run the full replace/regexp chain, and return the
    normalized text + chars_removed. The oracle is GENERATED from
    the same mapping tables (normalize_sql), so the two chains can
    never drift."""
    _prep(spark)
    from .operators.normalize import normalize_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = F.lit(_DIRTY_SUFFIXES[-1])
    for i, s in enumerate(_DIRTY_SUFFIXES[:-1]):
        suffix = F.when(
            F.pmod(F.col("doc_id"), F.lit(len(_DIRTY_SUFFIXES))) == i,
            F.lit(s),
        ).otherwise(suffix)
    planted = docs.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), suffix).alias(
            "text"
        ),
    )
    return normalize_text(planted).select(
        "doc_id", "text", "chars_removed"
    )


def q_pdf_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (r9, VERDICT r8 #7,
    multimodal/pdf.py::extract_pdf_text — the largest untouched LLM
    data source the multimodal family could reach with stdlib
    zlib): plant a deterministic two-page PDF per document (page 1
    = the document text, page 2 = a per-doc appendix line; even
    doc_ids FlateDecode-compressed, odd uncompressed, exercising
    both stream paths), then run the REAL parser — object split,
    inflate, /Kids page order, literal unescaping — in one
    Arrow-batched mapInPandas pass. The oracle is EXACT: the
    extracted text must equal the planting rule byte-for-byte, so
    the whole build→parse→inflate→unescape loop is value-checked,
    not just row-counted."""
    _prep(spark)
    import pandas as pd

    from .multimodal.pdf import build_pdf, pdf_text_stats

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def make_payloads(batches):
        for pdf in batches:
            payloads = [
                build_pdf(
                    [
                        t if t is not None else "",
                        f"Doc {int(i)} appendix",
                    ],
                    compress=(int(i) % 2 == 0),
                )
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    with_payload = docs.mapInPandas(
        make_payloads, "doc_id bigint, payload binary"
    )
    return pdf_text_stats(with_payload).select(
        "doc_id", "decode_ok", "n_pages", "n_streams", "n_chars", "text"
    )


def q_gap_encoder_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen GapEncoder transform twin (r9, VERDICT r8 #5,
    encoders/gap_encoder.py::gap_topics_frozen): topic activations
    for every part name under the committed _frozen.GAP_MODEL —
    fixed-iteration 6dp-requantized multiplicative updates over
    md5-bucketed char trigrams, pure Columns (constant-folded topic
    arrays + element_at; the only shuffle builds the per-row sparse
    counts). The generated oracle replays every step bit-exactly;
    the gamma-Poisson FIT stays rows-only by nature
    (gap_encoder_topics / gap_encoder_distributed + the GKL
    pytest contract)."""
    _prep(spark)
    from ._frozen import GAP_MODEL
    from .encoders.gap_encoder import gap_topics_frozen

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return gap_topics_frozen(part, GAP_MODEL, "p_name", "p_partkey")


# --------------------------------------------------------------- oracles

ORACLES: dict[str, str] = {
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "top_orders": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'MACHINERY'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "agg_join_customer_orders": """
        SELECT c_custkey, c_mktsegment,
          agg.n_orders,
          agg.sum_dec / agg.n_orders AS avg_order_price,
          agg.max_order_price
        FROM customer
        LEFT JOIN (
          SELECT o_custkey, COUNT(o_totalprice) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_dec,
                 MAX(o_totalprice) AS max_order_price
          FROM orders GROUP BY o_custkey
        ) agg ON c_custkey = agg.o_custkey
    """,
    "multi_agg_join": """
        SELECT c_custkey, o.n_orders, s.n_suppliers_in_nation, s.avg_supplier_acctbal
        FROM customer
        LEFT JOIN (
          SELECT o_custkey, COUNT(o_orderkey) AS n_orders FROM orders GROUP BY o_custkey
        ) o ON c_custkey = o.o_custkey
        LEFT JOIN (
          SELECT s_nationkey, COUNT(s_acctbal) AS n_suppliers_in_nation,
                 CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(s_acctbal) AS avg_supplier_acctbal
          FROM supplier GROUP BY s_nationkey
        ) s ON c_nationkey = s.s_nationkey
    """,
    "agg_target_events": """
        SELECT user_id, COUNT(value) AS n_events,
          MIN(value) AS value_min, MAX(value) AS value_max,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        FROM events GROUP BY user_id
    """,
    "datetime_features": """
        SELECT o_orderkey,
          CAST(date_part('year', o_orderdate) AS INT) AS o_orderdate_year,
          CAST(date_part('month', o_orderdate) AS INT) AS o_orderdate_month,
          CAST(date_part('day', o_orderdate) AS INT) AS o_orderdate_day,
          CAST(date_part('isodow', o_orderdate) AS INT) AS o_orderdate_weekday,
          CAST(date_part('doy', o_orderdate) AS INT) AS o_orderdate_day_of_year,
          CAST(epoch(o_orderdate) AS DOUBLE) AS o_orderdate_total_seconds
        FROM orders
    """,
    "fuzzy_join_customer_supplier": """
        SELECT c_custkey, c_name, s_suppkey, s_name, CAST(dist AS DOUBLE) AS dist
        FROM (
          SELECT c.c_custkey, c.c_name, s.s_suppkey, s.s_name,
                 levenshtein(c.c_name, s.s_name) AS dist,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.c_custkey
                   ORDER BY levenshtein(c.c_name, s.s_name) ASC, s.s_suppkey ASC
                 ) AS rn
          FROM customer c CROSS JOIN supplier s
        ) WHERE rn = 1
    """,
    "streaming_dedup": """
        SELECT min(doc_id) AS doc_id, lang, source
        FROM documents GROUP BY lang, source
    """,
    "fuzzy_join_lsh": """
        WITH cg AS (
          SELECT c_custkey,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(lower(c_name)) - 2, 0)),
                   i -> substr(lower(c_name), i, 3))) AS g
          FROM customer
        ), sg AS (
          SELECT s_suppkey,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(lower(s_name)) - 2, 0)),
                   i -> substr(lower(s_name), i, 3))) AS g
          FROM supplier
        )
        SELECT c_custkey, s_suppkey
        FROM (
          SELECT cg.c_custkey, sg.s_suppkey,
                 ROW_NUMBER() OVER (
                   PARTITION BY cg.c_custkey
                   ORDER BY 1.0 - CAST(len(list_intersect(cg.g, sg.g)) AS DOUBLE)
                            / greatest(len(list_distinct(list_concat(cg.g, sg.g))), 1),
                            sg.s_suppkey ASC
                 ) AS rn
          FROM cg CROSS JOIN sg
        ) WHERE rn = 1
    """,
    "fuzzy_join_numeric": """
        SELECT c_custkey, s_suppkey
        FROM (
          SELECT c.c_custkey, s.s_suppkey,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.c_custkey
                   ORDER BY abs(CAST(c.c_acctbal AS DOUBLE)
                              - CAST(s.s_acctbal AS DOUBLE)) ASC,
                            s.s_suppkey ASC
                 ) AS rn
          FROM customer c CROSS JOIN supplier s
        ) WHERE rn = 1
    """,
    "dedup_exact": """
        SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_duplicates
        FROM documents GROUP BY text
    """,
    "token_stats": """
        WITH t AS (
          SELECT doc_id, length(text) AS n_chars,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS toks
          FROM documents
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / GREATEST(len(toks), 1) AS mean_token_len
        FROM t
    """,
    "quality_scores": """
        WITH t AS (
          SELECT doc_id, text, length(text) AS n,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS toks
          FROM documents
        )
        SELECT doc_id,
          CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / GREATEST(n, 1) AS alpha_ratio,
          CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / GREATEST(n, 1) AS digit_ratio,
          CAST(len(list_filter(toks, t -> lower(t) IN
               ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
            / GREATEST(len(toks), 1) AS stopword_ratio
        FROM t
    """,
    "language_id": """
        WITH t AS (
          SELECT doc_id, text,
                 list_transform(
                   list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != ''),
                   x -> lower(x)) AS toks
          FROM documents
        ), s AS (
          SELECT doc_id, text,
            len(list_filter(toks, t -> t IN ('the','and','of','is','with'))) AS s_en,
            len(list_filter(toks, t -> t IN ('der','die','und','nicht','ist'))) AS s_de,
            len(list_filter(toks, t -> t IN ('le','la','et','les','est'))) AS s_fr,
            len(list_filter(toks, t -> t IN ('el','la','que','los','una'))) AS s_es
          FROM t
        )
        SELECT doc_id,
          CASE
            WHEN length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g')) * 4 > length(text) THEN 'zh'
            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es'
          END AS lang_pred
        FROM s
    """,
    "similarity_topk": """
        SELECT vec_id,
          ROUND(list_cosine_similarity(
            CAST(embedding AS DOUBLE[]),
            (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
          ), 4) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """,
    "topk_indexed": """
        SELECT vec_id,
          ROUND(list_cosine_similarity(
            CAST(embedding AS DOUBLE[]),
            (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
          ), 4) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """,
    "topk_ivf": """
        SELECT vec_id,
          ROUND(list_cosine_similarity(
            CAST(embedding AS DOUBLE[]),
            (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
          ), 4) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """,
    "topk_quantized": """
        WITH e AS (
          SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings
        ), mm AS (
          SELECT dim, CAST(MIN(x) AS DOUBLE) AS lo,
                 CAST(MAX(x) AS DOUBLE) - CAST(MIN(x) AS DOUBLE) AS span
          FROM e GROUP BY dim
        ), c AS (
          SELECT e.vec_id, e.dim, mm.lo, mm.span,
            CASE WHEN mm.span = 0 THEN 0
                 ELSE least(255, greatest(0, CAST(round(
                   (CAST(e.x AS DOUBLE) - mm.lo) * 255.0 / mm.span
                 ) AS INT)))
            END AS code
          FROM e JOIN mm USING (dim)
        ), xh AS (
          SELECT vec_id, dim,
                 lo + CAST(code AS DOUBLE) * span / 255.0 AS xh
          FROM c
        ), xarr AS (
          SELECT vec_id, list(xh ORDER BY dim) AS v FROM xh GROUP BY vec_id
        )
        SELECT x.vec_id,
          ROUND(list_cosine_similarity(
            x.v, (SELECT v FROM xarr WHERE vec_id = 0)), 4) AS cosine
        FROM xarr x
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """,
    "knn_join": """
        SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cosine
        FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) AS cos,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])) DESC,
                   b.vec_id ASC
                 ) AS rank
          FROM embeddings a CROSS JOIN embeddings b
          WHERE a.vec_id != b.vec_id
        ) WHERE rank <= 5
    """,
    "session_stats": """
        WITH o AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT user_id, ts, value,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
          FROM o
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          COUNT(*) AS n_events,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM s GROUP BY user_id, session_id
    """,
    "streaming_session_stats": """
        WITH o AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT user_id, ts, value,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
          FROM o
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          COUNT(*) AS n_events,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM s GROUP BY user_id, session_id
    """,

    "ngram_jaccard_pairs": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) >= 3
                   THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         FOR i IN generate_series(1, len(toks) - 2)]
                   ELSE [] END) AS grams
          FROM t
        ), e0 AS (
          SELECT doc_id, len(grams) AS ng, unnest(grams) AS g FROM sh
        ), rare AS (
          SELECT g FROM e0 GROUP BY g HAVING COUNT(*) <= 150
        ), e AS (
          SELECT e0.doc_id, e0.ng, e0.g FROM e0 JOIN rare USING (g)
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                 COUNT(*) AS n_inter
          FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
        )
        SELECT id_a, id_b,
          ROUND(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 6) AS jaccard
        FROM inter
        WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.2
    """,
    "dedup_strings_brand": """
        WITH RECURSIVE counts AS (
          SELECT p_brand AS s, count(*) AS freq FROM part GROUP BY 1
        ), g AS (
          SELECT s, freq,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(lower(s)) - 2, 0)),
                   i -> substr(lower(s), i, 3))) AS grams
          FROM counts
        ), pairs AS (
          SELECT a.s AS s_a, b.s AS s_b FROM g a JOIN g b ON a.s < b.s
          WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1)
                >= 0.8
        ), edges AS (
          SELECT s_a AS x, s_b AS y FROM pairs
          UNION ALL SELECT s_b, s_a FROM pairs
          UNION ALL SELECT s, s FROM counts
        ), reach(x, y) AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        ), labels AS (
          SELECT x AS s, min(y) AS component FROM reach GROUP BY x
        ), canon AS (
          SELECT c.s,
                 first_value(c.s) OVER (
                   PARTITION BY l.component ORDER BY c.freq DESC, c.s ASC
                 ) AS p_brand_dedup
          FROM counts c JOIN labels l ON c.s = l.s
        )
        SELECT p.p_brand, p.p_partkey, canon.p_brand_dedup
        FROM part p JOIN canon ON p.p_brand = canon.s
    """,
    "minhash_dedup_pairs": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) >= 3
                   THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         FOR i IN generate_series(1, len(toks) - 2)]
                   ELSE [] END) AS grams
          FROM t
        ), e AS (
          SELECT doc_id, len(grams) AS ng, unnest(grams) AS g FROM sh
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                 COUNT(*) AS n_inter
          FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
        )
        SELECT id_a, id_b,
          ROUND(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 6) AS jaccard
        FROM inter
        WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.2
    """,
    "minhash_canonical": """
        WITH RECURSIVE t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) >= 3
                   THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         FOR i IN generate_series(1, len(toks) - 2)]
                   ELSE [] END) AS grams
          FROM t
        ), e AS (
          SELECT doc_id, len(grams) AS ng, unnest(grams) AS g FROM sh
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                 COUNT(*) AS n_inter
          FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
        ), pairs AS (
          SELECT id_a, id_b FROM inter
          WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.2
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), walk(id, reach) AS (
          SELECT src, src FROM edges
          UNION
          SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
        )
        SELECT id, CAST(MIN(reach) AS BIGINT) AS component
        FROM walk GROUP BY id
    """,
    "embedding_dedup_pairs": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.35
    """,
    "embedding_dedup_lsh": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.35
    """,
    "squashing_scaler": """
        WITH q AS (
          SELECT quantile_cont(c_acctbal, 0.25) AS lo,
                 quantile_cont(c_acctbal, 0.5) AS med,
                 quantile_cont(c_acctbal, 0.75) AS hi
          FROM customer
        ), z AS (
          SELECT c_custkey,
                 (1.0 / (q.hi - q.lo)) * (c_acctbal - q.med) AS z
          FROM customer, q
        )
        SELECT c_custkey, z / sqrt(1.0 + (z / 3.0) * (z / 3.0)) AS acctbal_scaled
        FROM z
    """,
    "one_hot_mktsegment": """
        SELECT c_custkey,
          CAST(c_mktsegment = 'AUTOMOBILE' AS DOUBLE) AS c_mktsegment_AUTOMOBILE,
          CAST(c_mktsegment = 'BUILDING' AS DOUBLE) AS c_mktsegment_BUILDING,
          CAST(c_mktsegment = 'FURNITURE' AS DOUBLE) AS c_mktsegment_FURNITURE,
          CAST(c_mktsegment = 'HOUSEHOLD' AS DOUBLE) AS c_mktsegment_HOUSEHOLD,
          CAST(c_mktsegment = 'MACHINERY' AS DOUBLE) AS c_mktsegment_MACHINERY
        FROM customer
    """,
    "curation_pipeline": """
        WITH l AS (
          SELECT doc_id, trim(line) AS line
          FROM documents, UNNEST(string_split(text, chr(10))) AS t(line)
          WHERE trim(line) <> ''
        ),
        lc AS (SELECT doc_id, line, COUNT(*) c FROM l GROUP BY 1, 2),
        la AS (
          SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
            SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars,
            SUM(c * length(line)) AS tot_chars
          FROM lc GROUP BY 1
        ),
        w AS (
          SELECT doc_id, w FROM documents,
            UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(w)
          WHERE w <> ''
        ),
        wc AS (SELECT doc_id, w, COUNT(*) c FROM w GROUP BY 1, 2),
        wa AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_c
               FROM wc GROUP BY 1),
        kept AS (
          SELECT d.doc_id, d.lang, d.text
          FROM documents d
          LEFT JOIN la USING (doc_id)
          LEFT JOIN wa USING (doc_id)
          WHERE
            COALESCE(1.0 - CAST(la.n_distinct AS DOUBLE) / la.n_lines, 0.0)
              <= 0.30
            AND COALESCE(CAST(la.dup_chars AS DOUBLE) / la.tot_chars, 0.0)
              <= 0.20
            AND COALESCE(CAST(wa.top_c AS DOUBLE) / wa.n_words, 0.0)
              <= 0.20
        ),
        red AS (
          SELECT doc_id, lang,
            regexp_replace(regexp_replace(regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
              '<EMAIL>', 'g'),
              '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
              '\\+?\\d[\\d \\-]{6,}\\d', '<PHONE>', 'g') AS clean
          FROM kept
        ),
        canon AS (
          SELECT clean, MIN(doc_id) AS doc_id, MIN(lang) AS lang
          FROM red GROUP BY 1
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(length(clean)) AS BIGINT) AS total_chars
        FROM canon GROUP BY 1
    """,
    "domain_stats": """
        WITH t2 AS (
          SELECT doc_id,
                 text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.example.org/page and http://cdn.example.net/x'
                   AS text2
          FROM documents
        ),
        hits AS (
          SELECT doc_id, lower(u.h) AS domain
          FROM t2, UNNEST(
            regexp_extract_all(text2, 'https?://([A-Za-z0-9.-]+)', 1)
          ) AS u(h)
        ),
        blocked AS (
          SELECT DISTINCT doc_id FROM hits WHERE domain = 'site3.example.org'
        ),
        kept AS (
          SELECT * FROM hits
          WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
        ),
        occ AS (
          SELECT domain, COUNT(*) AS n_occurrences FROM kept GROUP BY 1
        ),
        dd AS (
          SELECT domain, COUNT(*) AS n_docs
          FROM (SELECT DISTINCT doc_id, domain FROM kept) GROUP BY 1
        )
        SELECT dd.domain, dd.n_docs, occ.n_occurrences
        FROM dd JOIN occ USING (domain)
        ORDER BY domain
    """,
    "span_dedup": """
        WITH raw AS (
          SELECT doc_id,
                 unnest(string_split(text, chr(10))) AS rawline,
                 generate_subscripts(string_split(text, chr(10)), 1) AS ord
          FROM documents
        ),
        l AS (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
                   AS pos,
                 trim(rawline) AS line
          FROM raw WHERE trim(rawline) <> ''
        ),
        ranked AS (
          SELECT doc_id, pos, line,
                 row_number() OVER (PARTITION BY lower(line)
                                    ORDER BY doc_id, pos) AS rn
          FROM l
        ),
        surv AS (SELECT doc_id, pos, line FROM ranked WHERE rn = 1),
        agg AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                 COUNT(*) AS n_kept
          FROM surv GROUP BY 1
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               COALESCE(t.n_lines, 0) AS n_lines,
               COALESCE(t.n_lines, 0) - COALESCE(a.n_kept, 0) AS n_removed
        FROM documents d
        LEFT JOIN agg a USING (doc_id)
        LEFT JOIN tot t USING (doc_id)
    """,
    "span_dedup_w3": """
        WITH raw AS (
          SELECT doc_id,
                 unnest(string_split(text, chr(10))) AS rawline,
                 generate_subscripts(string_split(text, chr(10)), 1) AS ord
          FROM documents
        ),
        l AS (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
                   AS pos,
                 trim(rawline) AS line
          FROM raw WHERE trim(rawline) <> ''
        ),
        arr AS (
          SELECT doc_id, list(lower(line) ORDER BY pos) AS ks
          FROM l GROUP BY 1
        ),
        wk AS (
          SELECT doc_id, t.i AS wpos,
                 array_to_string(list_slice(ks, t.i + 1, t.i + 3), chr(1))
                   AS wkey
          FROM arr, UNNEST(range(0, len(ks) - 2)) AS t(i)
          WHERE len(ks) >= 3
        ),
        ranked AS (
          SELECT doc_id, wpos,
                 row_number() OVER (PARTITION BY wkey
                                    ORDER BY doc_id, wpos) AS rn
          FROM wk
        ),
        del AS (
          SELECT DISTINCT doc_id, wpos + t.j AS pos
          FROM ranked, UNNEST(range(0, 3)) AS t(j)
          WHERE rn > 1
        ),
        surv AS (
          SELECT l.doc_id, l.pos, l.line FROM l
          LEFT JOIN del ON l.doc_id = del.doc_id AND l.pos = del.pos
          WHERE del.doc_id IS NULL
        ),
        agg AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                 COUNT(*) AS n_kept
          FROM surv GROUP BY 1
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               COALESCE(t.n_lines, 0) AS n_lines,
               COALESCE(t.n_lines, 0) - COALESCE(a.n_kept, 0) AS n_removed
        FROM documents d
        LEFT JOIN agg a USING (doc_id)
        LEFT JOIN tot t USING (doc_id)
    """,
    "pretraining_pipeline": """
        WITH s0 AS (
          -- stage 0 (r9): html_extract over the planted markup
          -- yields title-line + normalized text (empty text keeps
          -- only the h1 line)
          SELECT doc_id, source,
            CASE WHEN trim(regexp_replace(coalesce(text, ''),
                                          '\\s+', ' ', 'g')) = ''
                 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                 ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
                      trim(regexp_replace(coalesce(text, ''),
                                          '\\s+', ' ', 'g'))
            END AS text
          FROM documents
        ), b0 AS (
          SELECT doc_id, source,
            list_filter(list_transform(string_split(text, chr(10)),
                                       x -> trim(x)),
                        x -> x != '') AS ls
          FROM s0
        ), b1 AS (
          SELECT doc_id, source,
            list_filter(ls, ln ->
              right(ln, 1) IN ('.', '!', '?', '"', '''')
              OR (
                len(list_filter(regexp_split_to_array(ln, '\\s+'),
                                t -> t != '')) >= 20
                AND CAST(len(regexp_replace(ln, '[^A-Z]', '', 'g')) AS DOUBLE)
                    / greatest(len(regexp_replace(ln, '[^A-Za-z]', '', 'g')),
                               1) <= 0.5
              )) AS kept
          FROM b0
        ), b AS (
          SELECT doc_id, source, array_to_string(kept, chr(10)) AS text
          FROM b1 WHERE len(kept) >= 1
        ),
        l AS (
          SELECT doc_id, trim(line) AS line
          FROM b, UNNEST(string_split(text, chr(10))) AS t(line)
          WHERE trim(line) <> ''
        ),
        lc AS (SELECT doc_id, line, COUNT(*) c FROM l GROUP BY 1, 2),
        la AS (
          SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
            SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars,
            SUM(c * length(line)) AS tot_chars
          FROM lc GROUP BY 1
        ),
        w AS (
          SELECT doc_id, w FROM b,
            UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(w)
          WHERE w <> ''
        ),
        wc AS (SELECT doc_id, w, COUNT(*) c FROM w GROUP BY 1, 2),
        wa AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_c
               FROM wc GROUP BY 1),
        kept AS (
          SELECT b.doc_id, b.source, b.text FROM b
          LEFT JOIN la USING (doc_id)
          LEFT JOIN wa USING (doc_id)
          WHERE
            COALESCE(1.0 - CAST(la.n_distinct AS DOUBLE) / la.n_lines, 0.0)
              <= 0.30
            AND COALESCE(CAST(la.dup_chars AS DOUBLE) / la.tot_chars, 0.0)
              <= 0.20
            AND COALESCE(CAST(wa.top_c AS DOUBLE) / wa.n_words, 0.0)
              <= 0.20
        ),
        red AS (
          SELECT doc_id, source,
            regexp_replace(regexp_replace(regexp_replace(
              text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com',
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
              '<EMAIL>', 'g'),
              '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
              '\\+?\\d[\\d \\-]{6,}\\d', '<PHONE>', 'g') AS text
          FROM kept
        ),
        canon AS (
          SELECT * FROM red r
          WHERE doc_id = (SELECT MIN(doc_id) FROM red r2
                          WHERE r2.text = r.text)
        ),
        st AS (
          SELECT doc_id, source,
            list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> x != '') AS toks
          FROM canon
        ), sk AS (
          SELECT doc_id, source, toks,
                 list_transform(toks, x -> lower(x)) AS ks
          FROM st
        ), swk AS (
          SELECT doc_id, w.i AS wpos,
                 array_to_string(list_slice(ks, w.i + 1, w.i + 20), chr(1))
                   AS wkey
          FROM sk, UNNEST(range(0, len(ks) - 19)) AS w(i)
          WHERE len(ks) >= 20
        ), sr AS (
          SELECT doc_id, wpos,
                 row_number() OVER (PARTITION BY wkey
                                    ORDER BY doc_id, wpos) AS rn
          FROM swk
        ), sdel AS (
          SELECT DISTINCT doc_id, wpos + d.j AS pos
          FROM sr, UNNEST(range(0, 20)) AS d(j)
          WHERE rn > 1
        ), spos AS (
          SELECT doc_id, t.i AS pos, toks[t.i + 1] AS tok
          FROM sk, UNNEST(range(0, len(toks))) AS t(i)
        ), ssurv AS (
          SELECT p.doc_id, p.pos, p.tok FROM spos p
          LEFT JOIN sdel ON p.doc_id = sdel.doc_id AND p.pos = sdel.pos
          WHERE sdel.doc_id IS NULL
        ), sagg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
          FROM ssurv GROUP BY 1
        ), sfinal AS (
          SELECT s.doc_id, k.source, s.text
          FROM sagg s JOIN sk k USING (doc_id)
        ),
        cnt AS (SELECT source, COUNT(*) AS n FROM sfinal GROUP BY source),
        mx AS (
          SELECT f.doc_id, f.source, f.text
          FROM sfinal f JOIN cnt USING (source)
          WHERE ('0x' || substr(md5('pp5' || CAST(f.doc_id AS VARCHAR)),
                                1, 15))::BIGINT % 100000000
                < least(100000000,
                        greatest(1, (100000000 * least(15, cnt.n)) // cnt.n))
        ),
        sh AS (
          SELECT doc_id, source, text,
                 md5('pp5' || CAST(doc_id AS VARCHAR)) AS h
          FROM mx
        ), sh2 AS (
          SELECT doc_id, source, text,
                 ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard,
                 row_number() OVER (
                   PARTITION BY ('0x' || substr(h, 1, 15))::BIGINT % 8
                   ORDER BY h, doc_id) AS shard_pos
          FROM sh
        ), tk AS (
          SELECT doc_id, source, shard, shard_pos,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x != '')) AS BIGINT) AS n_tokens
          FROM sh2
        ), pk AS (
          SELECT *, SUM(n_tokens) OVER (
            PARTITION BY shard ORDER BY shard_pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM tk
        )
        SELECT doc_id, source,
               CAST(shard AS BIGINT) AS shard,
               CAST(shard_pos AS BIGINT) AS shard_pos,
               n_tokens,
               CAST((cum - n_tokens) // 1024 AS BIGINT) AS start_chunk,
               CAST(greatest(cum - 1, cum - n_tokens) // 1024 AS BIGINT)
                 AS end_chunk,
               CAST((cum - n_tokens) % 1024 AS BIGINT) AS chunk_offset
        FROM pk
    """,
    "jsonl_gz_source": """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(len(list_filter(
                   regexp_split_to_array(trim(text), '\\s+'),
                   x -> x != ''))) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY lang, source
    """,
    "substring_dedup": """
        WITH t AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> x != '') AS toks
          FROM documents
        ), k AS (
          SELECT doc_id, toks,
                 list_transform(toks, x -> lower(x)) AS ks
          FROM t
        ), wk AS (
          SELECT doc_id, w.i AS wpos,
                 array_to_string(list_slice(ks, w.i + 1, w.i + 20), chr(1))
                   AS wkey
          FROM k, UNNEST(range(0, len(ks) - 19)) AS w(i)
          WHERE len(ks) >= 20
        ), ranked AS (
          SELECT doc_id, wpos,
                 row_number() OVER (PARTITION BY wkey
                                    ORDER BY doc_id, wpos) AS rn
          FROM wk
        ), del AS (
          SELECT DISTINCT doc_id, wpos + d.j AS pos
          FROM ranked, UNNEST(range(0, 20)) AS d(j)
          WHERE rn > 1
        ), pos AS (
          SELECT doc_id, t.i AS pos, toks[t.i + 1] AS tok
          FROM k, UNNEST(range(0, len(toks))) AS t(i)
        ), surv AS (
          SELECT p.doc_id, p.pos, p.tok FROM pos p
          LEFT JOIN del ON p.doc_id = del.doc_id AND p.pos = del.pos
          WHERE del.doc_id IS NULL
        ), agg AS (
          SELECT doc_id,
                 string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 COUNT(*) AS n_kept
          FROM surv GROUP BY 1
        ), tot AS (
          SELECT doc_id, len(toks) AS n_tokens FROM t
        )
        SELECT d.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               tot.n_tokens,
               tot.n_tokens - COALESCE(a.n_kept, 0) AS n_removed
        FROM documents d
        LEFT JOIN agg a USING (doc_id)
        LEFT JOIN tot USING (doc_id)
    """,
    "streaming_near_dup_flags": """
        WITH t AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 3 THEN
              [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               FOR i IN generate_series(1, len(toks) - 2)]
            ELSE [] END AS grams
          FROM t
        ), e AS (
          SELECT doc_id, unnest(grams) AS g FROM sh WHERE len(grams) >= 1
        ), h AS (
          SELECT doc_id,
            ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647 AS h1,
            ('0x' || substr(md5(g), 16, 15))::BIGINT % 2147483647 AS h2
          FROM e
        ), sig AS (
          SELECT doc_id,
                 MIN((h1 + 0*h2) % 2147483647) AS c0,
                 MIN((h1 + 1*h2) % 2147483647) AS c1,
                 MIN((h1 + 2*h2) % 2147483647) AS c2,
                 MIN((h1 + 3*h2) % 2147483647) AS c3,
                 MIN((h1 + 4*h2) % 2147483647) AS c4,
                 MIN((h1 + 5*h2) % 2147483647) AS c5,
                 MIN((h1 + 6*h2) % 2147483647) AS c6,
                 MIN((h1 + 7*h2) % 2147483647) AS c7,
                 MIN((h1 + 8*h2) % 2147483647) AS c8,
                 MIN((h1 + 9*h2) % 2147483647) AS c9,
                 MIN((h1 + 10*h2) % 2147483647) AS c10,
                 MIN((h1 + 11*h2) % 2147483647) AS c11,
                 MIN((h1 + 12*h2) % 2147483647) AS c12,
                 MIN((h1 + 13*h2) % 2147483647) AS c13,
                 MIN((h1 + 14*h2) % 2147483647) AS c14,
                 MIN((h1 + 15*h2) % 2147483647) AS c15
          FROM h GROUP BY doc_id
        ), s2 AS (
          SELECT doc_id, [c0,c1,c2,c3,c4,c5,c6,c7,c8,c9,c10,c11,c12,c13,c14,c15] AS s FROM sig
        ), bk AS (
          SELECT doc_id, t.i AS band_idx,
            md5(CAST(s[2*t.i + 1] AS VARCHAR) || '-' ||
                CAST(s[2*t.i + 2] AS VARCHAR) || '-' ||
                CAST(t.i AS VARCHAR)) AS band_key
          FROM s2, generate_series(0, 7) AS t(i)
        ), fb AS (
          SELECT band_key, MIN(doc_id) AS first_id FROM bk GROUP BY band_key
        ), per AS (
          SELECT bk.doc_id,
            MAX(CASE WHEN fb.first_id < bk.doc_id THEN 1 ELSE 0 END) = 1
              AS is_dup,
            MIN(fb.first_id) AS canonical_id
          FROM bk JOIN fb USING (band_key) GROUP BY bk.doc_id
        )
        SELECT d.doc_id,
          COALESCE(per.is_dup, FALSE) AS is_dup,
          COALESCE(per.canonical_id, d.doc_id) AS canonical_id
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN per USING (doc_id)
    """,
    "curation_funnel": """
        WITH b0 AS (
          SELECT doc_id,
            list_filter(list_transform(string_split(text, chr(10)),
                                       x -> trim(x)),
                        x -> x != '') AS ls
          FROM documents
        ), b1 AS (
          SELECT doc_id,
            list_filter(ls, ln ->
              right(ln, 1) IN ('.', '!', '?', '"', '''')
              OR (
                len(list_filter(regexp_split_to_array(ln, '\\s+'),
                                t -> t != '')) >= 20
                AND CAST(len(regexp_replace(ln, '[^A-Z]', '', 'g')) AS DOUBLE)
                    / greatest(len(regexp_replace(ln, '[^A-Za-z]', '', 'g')),
                               1) <= 0.5
              )) AS kept
          FROM b0
        ), b AS (
          SELECT doc_id, array_to_string(kept, chr(10)) AS text
          FROM b1 WHERE len(kept) >= 1
        ),
        l AS (
          SELECT doc_id, trim(line) AS line
          FROM b, UNNEST(string_split(text, chr(10))) AS t(line)
          WHERE trim(line) <> ''
        ),
        lc AS (SELECT doc_id, line, COUNT(*) c FROM l GROUP BY 1, 2),
        la AS (
          SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
            SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars,
            SUM(c * length(line)) AS tot_chars
          FROM lc GROUP BY 1
        ),
        w AS (
          SELECT doc_id, w FROM b,
            UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(w)
          WHERE w <> ''
        ),
        wc AS (SELECT doc_id, w, COUNT(*) c FROM w GROUP BY 1, 2),
        wa AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_c
               FROM wc GROUP BY 1),
        kept AS (
          SELECT b.doc_id, b.text FROM b
          LEFT JOIN la USING (doc_id)
          LEFT JOIN wa USING (doc_id)
          WHERE
            COALESCE(1.0 - CAST(la.n_distinct AS DOUBLE) / la.n_lines, 0.0)
              <= 0.30
            AND COALESCE(CAST(la.dup_chars AS DOUBLE) / la.tot_chars, 0.0)
              <= 0.20
            AND COALESCE(CAST(wa.top_c AS DOUBLE) / wa.n_words, 0.0)
              <= 0.20
        ),
        canon AS (
          SELECT * FROM kept k
          WHERE doc_id = (SELECT MIN(doc_id) FROM kept k2
                          WHERE k2.text = k.text)
        ),
        st AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> x != '') AS toks
          FROM canon
        ), sk AS (
          SELECT doc_id, toks,
                 list_transform(toks, x -> lower(x)) AS ks
          FROM st
        ), swk AS (
          SELECT doc_id, w.i AS wpos,
                 array_to_string(list_slice(ks, w.i + 1, w.i + 20), chr(1))
                   AS wkey
          FROM sk, UNNEST(range(0, len(ks) - 19)) AS w(i)
          WHERE len(ks) >= 20
        ), sr AS (
          SELECT doc_id, wpos,
                 row_number() OVER (PARTITION BY wkey
                                    ORDER BY doc_id, wpos) AS rn
          FROM swk
        ), sdel AS (
          SELECT DISTINCT doc_id, wpos + d.j AS pos
          FROM sr, UNNEST(range(0, 20)) AS d(j)
          WHERE rn > 1
        ), delcnt AS (
          SELECT doc_id, COUNT(*) AS n_removed FROM sdel GROUP BY 1
        ), sc AS (
          SELECT s.doc_id, len(s.toks) AS n_tokens,
                 COALESCE(d.n_removed, 0) AS n_removed
          FROM st s LEFT JOIN delcnt d USING (doc_id)
        ),
        ntok AS (
          SELECT doc_id,
            len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x != '')) AS n
          FROM documents
        ), btok AS (
          SELECT doc_id,
            len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x != '')) AS n
          FROM b
        )
        SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
               COUNT(*) AS n_docs,
               CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_tokens
        FROM ntok
        UNION ALL
        SELECT 1, 'boilerplate', COUNT(*),
               CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM btok
        UNION ALL
        SELECT 2, 'repetition', COUNT(*),
               CAST(COALESCE(SUM(b2.n), 0) AS BIGINT)
        FROM kept k JOIN btok b2 USING (doc_id)
        UNION ALL
        SELECT 3, 'exact_dedup', COUNT(*),
               CAST(COALESCE(SUM(b2.n), 0) AS BIGINT)
        FROM canon c JOIN btok b2 USING (doc_id)
        UNION ALL
        SELECT 4, 'substring_dedup', COUNT(*),
               CAST(COALESCE(SUM(n_tokens - n_removed), 0) AS BIGINT)
        FROM sc WHERE n_tokens - n_removed >= 1
    """,
    "weighted_sample": """
        WITH w AS (
          SELECT doc_id,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x != '')) AS DOUBLE) / 100.0 AS score
          FROM documents
        )
        SELECT doc_id, score FROM w
        WHERE ('0x' || substr(md5('wq6' || CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT % 100000000
              < CAST(least(100000000.0,
                           greatest(0.0, score * 1.2 * 100000000))
                     AS BIGINT)
    """,
    "url_canonical": """
        WITH u0 AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
            || 'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.org'
            || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
            || (CASE WHEN doc_id % 4 = 0 THEN ''
                     ELSE '/p' || CAST(doc_id % 4 AS VARCHAR) END)
            || '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR)
            || '&a=1&fbclid=xyz'
            || '#sec' || CAST(doc_id AS VARCHAR) AS u
          FROM documents
        ), nf AS (
          SELECT doc_id, regexp_replace(u, '#.*$', '') AS nofrag FROM u0
        ), parts AS (
          SELECT doc_id,
            lower(regexp_extract(nofrag,
              '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            lower(regexp_extract(nofrag,
              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)) AS hostport,
            regexp_extract(nofrag,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1) AS path0,
            regexp_extract(nofrag, '\\?(.*)$', 1) AS q
          FROM nf
        ), ps AS (
          SELECT *, list_sort(list_filter(string_split(q, '&'),
            p -> p != '' AND NOT regexp_matches(p,
              '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid|ref_src|ref)=')))
            AS qs
          FROM parts
        ), canon AS (
          SELECT doc_id,
            scheme || '://'
            || (CASE WHEN scheme = 'http'
                     THEN regexp_replace(hostport, ':80$', '')
                     WHEN scheme = 'https'
                     THEN regexp_replace(hostport, ':443$', '')
                     ELSE hostport END)
            || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
            || (CASE WHEN len(qs) > 0
                     THEN '?' || array_to_string(qs, '&') ELSE '' END)
              AS canonical_url
          FROM ps
        )
        SELECT canonical_url, COUNT(*) AS n_docs
        FROM canon GROUP BY canonical_url
    """,
    "incremental_near_dedup": """
        WITH t AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 3 THEN
              [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               FOR i IN generate_series(1, len(toks) - 2)]
            ELSE [] END AS grams
          FROM t
        ), e AS (
          SELECT doc_id, unnest(grams) AS g FROM sh WHERE len(grams) >= 1
        ), h AS (
          SELECT doc_id,
            ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647 AS h1,
            ('0x' || substr(md5(g), 16, 15))::BIGINT % 2147483647 AS h2
          FROM e
        ), sig AS (
          SELECT doc_id,
                 MIN((h1 + 0*h2) % 2147483647) AS c0,
                 MIN((h1 + 1*h2) % 2147483647) AS c1,
                 MIN((h1 + 2*h2) % 2147483647) AS c2,
                 MIN((h1 + 3*h2) % 2147483647) AS c3,
                 MIN((h1 + 4*h2) % 2147483647) AS c4,
                 MIN((h1 + 5*h2) % 2147483647) AS c5,
                 MIN((h1 + 6*h2) % 2147483647) AS c6,
                 MIN((h1 + 7*h2) % 2147483647) AS c7,
                 MIN((h1 + 8*h2) % 2147483647) AS c8,
                 MIN((h1 + 9*h2) % 2147483647) AS c9,
                 MIN((h1 + 10*h2) % 2147483647) AS c10,
                 MIN((h1 + 11*h2) % 2147483647) AS c11,
                 MIN((h1 + 12*h2) % 2147483647) AS c12,
                 MIN((h1 + 13*h2) % 2147483647) AS c13,
                 MIN((h1 + 14*h2) % 2147483647) AS c14,
                 MIN((h1 + 15*h2) % 2147483647) AS c15
          FROM h GROUP BY doc_id
        ), s2 AS (
          SELECT doc_id, [c0,c1,c2,c3,c4,c5,c6,c7,c8,c9,c10,c11,c12,c13,c14,c15] AS s FROM sig
        ), bk AS (
          SELECT doc_id, t.i AS band_idx,
            md5(CAST(s[2*t.i + 1] AS VARCHAR) || '-' ||
                CAST(s[2*t.i + 2] AS VARCHAR) || '-' ||
                CAST(t.i AS VARCHAR)) AS band_key
          FROM s2, generate_series(0, 7) AS t(i)
        ), hist AS (
          SELECT DISTINCT band_key FROM bk WHERE doc_id % 2 = 0
        ), batch AS (
          SELECT doc_id, band_key FROM bk WHERE doc_id % 2 = 1
        ), claims AS (
          SELECT band_key, MIN(doc_id) AS first_id
          FROM batch GROUP BY band_key
        ), flagged AS (
          SELECT DISTINCT b.doc_id FROM batch b
          JOIN claims c USING (band_key)
          WHERE c.first_id < b.doc_id
             OR EXISTS (SELECT 1 FROM hist h2
                        WHERE h2.band_key = b.band_key)
        )
        SELECT doc_id
        FROM documents
        WHERE doc_id % 2 = 1
          AND doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
    "corpus_shuffle": """
        WITH h AS (
          SELECT doc_id,
                 md5('ord5' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents
        ), b AS (
          SELECT doc_id, h,
                 ('0x' || substr(h, 1, 15))::BIGINT % 16 AS shard
          FROM h
        )
        SELECT doc_id, CAST(shard AS BIGINT) AS shard,
               CAST(row_number() OVER (PARTITION BY shard
                                       ORDER BY h, doc_id) AS BIGINT)
                 AS shard_pos
        FROM b
    """,
    "incremental_dedup": """
        WITH seen AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        ), odd AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        ), new_batch AS (
          SELECT doc_id, text FROM odd
          UNION ALL
          SELECT doc_id + 1000000, text FROM seen
          UNION ALL
          SELECT doc_id + 2000000, text FROM odd WHERE doc_id < 100
        ), fresh AS (
          SELECT * FROM new_batch n
          WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text = n.text)
        )
        SELECT doc_id FROM fresh f
        WHERE doc_id = (SELECT min(doc_id) FROM fresh g WHERE g.text = f.text)
    """,
    "mixture_sample": """
        WITH n AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        t AS (
          SELECT d.doc_id, d.source, n.cnt,
            CASE d.source WHEN 'src0' THEN 10 WHEN 'src1' THEN 5
                          WHEN 'src2' THEN 2000 WHEN 'src3' THEN 100
                          ELSE NULL END AS tgt
          FROM documents d JOIN n USING (source)
        )
        SELECT doc_id, source FROM t
        WHERE tgt IS NOT NULL
          AND ('0x' || substr(md5('mix5' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 100000000
              < CASE WHEN tgt <= 0 THEN 0 ELSE
                  least(100000000,
                        greatest(1, (100000000 * least(tgt, cnt)) // cnt))
                END
    """,
    "lm_perplexity_filter": """
        WITH w AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                        x -> x != '') AS words
          FROM documents
        ), occ AS (
          SELECT doc_id, unnest(
            CASE WHEN len(words) >= 2 THEN
              list_transform(range(1, len(words)),
                i -> struct_pack(gram := words[i] || ' ' || words[i+1],
                                 ctx := words[i]))
            ELSE [] END) AS p
          FROM w
        ), pairs AS (
          SELECT doc_id, p.gram AS gram, p.ctx AS ctx FROM occ
        ), cnt AS (
          SELECT gram, count(*) AS c FROM pairs GROUP BY gram
        ), ctxc AS (
          SELECT ctx, count(*) AS ctx_c FROM pairs GROUP BY ctx
        ), v AS (
          SELECT count(DISTINCT x) AS vs
          FROM (SELECT unnest(words) AS x FROM w)
        ), sc AS (
          SELECT p.doc_id,
            CAST(round(-ln((cnt.c + 1.0) / (ctxc.ctx_c + 1.0 * v.vs)), 6)
                 AS DECIMAL(28,6)) AS nll_q
          FROM pairs p JOIN cnt USING (gram) JOIN ctxc USING (ctx)
          CROSS JOIN v
        ), per AS (
          SELECT doc_id, count(*) AS n_ngrams,
                 CAST(sum(nll_q) AS DOUBLE) / count(*) AS avg_nll
          FROM sc GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(per.n_ngrams, 0) AS n_ngrams,
               per.avg_nll,
               (per.avg_nll IS NOT NULL AND per.avg_nll <= 3.5) AS keep
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN per USING (doc_id)
    """,
    "boilerplate_removal": """
        WITH planted AS (
          SELECT doc_id,
            'HOME | ABOUT | CONTACT US' || chr(10) || text || chr(10) ||
            'Copyright 2020 site' || CAST(doc_id AS VARCHAR) || chr(10) ||
            'This short line is a proper sentence.' AS text2
          FROM documents
        ), l AS (
          SELECT doc_id,
            list_filter(list_transform(string_split(text2, chr(10)),
                                       x -> trim(x)),
                        x -> x != '') AS ls
          FROM planted
        ), k AS (
          SELECT doc_id, ls,
            list_filter(ls, ln ->
              right(ln, 1) IN ('.', '!', '?', '"', '''')
              OR (
                len(list_filter(regexp_split_to_array(ln, '\\s+'),
                                t -> t != '')) >= 20
                AND CAST(len(regexp_replace(ln, '[^A-Z]', '', 'g')) AS DOUBLE)
                    / greatest(len(regexp_replace(ln, '[^A-Za-z]', '', 'g')),
                               1) <= 0.5
              )) AS kept
          FROM l
        )
        SELECT doc_id,
               CAST(len(ls) AS BIGINT) AS n_lines_total,
               CAST(len(kept) AS BIGINT) AS n_lines_kept,
               array_to_string(kept, chr(10)) AS clean_text
        FROM k
    """,
    "selectors_projection": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount, l_shipdate
        FROM lineitem WHERE l_orderkey % 31 = 0
    """,
    "repetition_filter": """
        WITH l AS (
          SELECT doc_id, trim(line) AS line
          FROM documents, UNNEST(string_split(text, chr(10))) AS t(line)
          WHERE trim(line) <> ''
        ),
        lc AS (SELECT doc_id, line, COUNT(*) c FROM l GROUP BY 1, 2),
        la AS (
          SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
            SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars,
            SUM(c * length(line)) AS tot_chars
          FROM lc GROUP BY 1
        ),
        w AS (
          SELECT doc_id, w FROM documents,
            UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(w)
          WHERE w <> ''
        ),
        wc AS (SELECT doc_id, w, COUNT(*) c FROM w GROUP BY 1, 2),
        wa AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_c
               FROM wc GROUP BY 1)
        SELECT d.doc_id,
          CAST(COALESCE(la.n_lines, 0) AS BIGINT) AS n_lines,
          COALESCE(1.0 - CAST(la.n_distinct AS DOUBLE) / la.n_lines, 0.0)
            AS dup_line_frac,
          COALESCE(CAST(la.dup_chars AS DOUBLE) / la.tot_chars, 0.0)
            AS dup_line_char_frac,
          CAST(COALESCE(wa.n_words, 0) AS BIGINT) AS n_words,
          COALESCE(CAST(wa.top_c AS DOUBLE) / wa.n_words, 0.0)
            AS top_word_frac,
          (COALESCE(1.0 - CAST(la.n_distinct AS DOUBLE) / la.n_lines, 0.0)
             <= 0.30
           AND COALESCE(CAST(la.dup_chars AS DOUBLE) / la.tot_chars, 0.0)
             <= 0.20
           AND COALESCE(CAST(wa.top_c AS DOUBLE) / wa.n_words, 0.0)
             <= 0.20) AS keep
        FROM documents d
        LEFT JOIN la USING (doc_id)
        LEFT JOIN wa USING (doc_id)
    """,
    "pii_redaction": """
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(
            text || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com or +1 555-000'
                 || CAST(doc_id AS VARCHAR) || ' ip 10.0.0.1',
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
            '<EMAIL>', 'g'),
            '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
            '\\+?\\d[\\d \\-]{6,}\\d', '<PHONE>', 'g') AS redacted
        FROM documents
    """,
    "cleaner_customer": """
        SELECT c_custkey, c_name, c_acctbal,
          CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_mktsegment END
            AS segment,
          CAST(CAST(c_acctbal AS VARCHAR) AS DOUBLE) AS balance_str,
          CAST(DATE '2020-01-01' + (c_custkey % 365) * INTERVAL 1 DAY
               AS TIMESTAMP) AS joined_str
        FROM customer
    """,
    "drop_similar_columns": """
        SELECT c_custkey, c_acctbal AS bal,
               c_acctbal + c_custkey AS bal_plus
        FROM customer
    """,
    "learner_train_test": """
        SELECT c_custkey,
          CAST(c_mktsegment = 'AUTOMOBILE' AS DOUBLE) AS c_mktsegment_AUTOMOBILE,
          CAST(c_mktsegment = 'BUILDING' AS DOUBLE) AS c_mktsegment_BUILDING,
          CAST(c_mktsegment = 'FURNITURE' AS DOUBLE) AS c_mktsegment_FURNITURE,
          CAST(c_mktsegment = 'HOUSEHOLD' AS DOUBLE) AS c_mktsegment_HOUSEHOLD,
          CAST(c_mktsegment = 'MACHINERY' AS DOUBLE) AS c_mktsegment_MACHINERY
        FROM customer WHERE c_custkey % 4 = 0
    """,
    "table_stats": """
        SELECT 'c_custkey' AS column_name,
               COUNT(*) - COUNT(c_custkey) AS n_nulls,
               COUNT(DISTINCT c_custkey) AS n_distinct FROM customer
        UNION ALL
        SELECT 'c_name', COUNT(*) - COUNT(c_name), COUNT(DISTINCT c_name) FROM customer
        UNION ALL
        SELECT 'c_nationkey', COUNT(*) - COUNT(c_nationkey), COUNT(DISTINCT c_nationkey) FROM customer
        UNION ALL
        SELECT 'c_acctbal', COUNT(*) - COUNT(c_acctbal), COUNT(DISTINCT c_acctbal) FROM customer
        UNION ALL
        SELECT 'c_mktsegment', COUNT(*) - COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment) FROM customer
    """,
    "session_encoder_features": """
        WITH o AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT user_id, ts, value,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
          FROM o
        ), per_session AS (
          SELECT user_id, session_id, COUNT(*) AS n_events,
                 SUM(CAST(value AS DECIMAL(12,2))) AS value_sum
          FROM s GROUP BY user_id, session_id
        )
        SELECT user_id,
          COUNT(*) AS n_sessions,
          CAST(SUM(n_events) AS BIGINT) AS n_events,
          CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS events_per_session,
          CAST(SUM(value_sum) AS DOUBLE) AS value_sum
        FROM per_session GROUP BY user_id
    """,
    "json_props": """
        SELECT event_type,
          COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n,
          CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
          CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
            / COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS k_mean,
          MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
        FROM events GROUP BY event_type
    """,
    "interpolation_join": """
        WITH ranked AS (
          SELECT c.c_custkey, c.c_nationkey, s.s_acctbal,
            ROW_NUMBER() OVER (
              PARTITION BY c.c_custkey
              ORDER BY (CAST(c.c_nationkey AS DOUBLE) - CAST(s.s_nationkey AS DOUBLE))
                     * (CAST(c.c_nationkey AS DOUBLE) - CAST(s.s_nationkey AS DOUBLE)) ASC,
                     s.s_suppkey ASC
            ) AS rnk
          FROM customer c CROSS JOIN supplier s
        )
        SELECT c_custkey, c_nationkey,
               ROUND(AVG(s_acctbal), 4) AS acctbal_pred
        FROM ranked WHERE rnk <= 3
        GROUP BY c_custkey, c_nationkey
    """,
    "session_windows": """
        WITH o AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT user_id, ts,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
          FROM o
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
        FROM s GROUP BY user_id, session_id
    """,
    "revenue_by_region": """
        SELECT r_name, n_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "asof_join": """
        WITH purchases AS (
          SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'
        ), views AS (
          SELECT user_id, ts, MAX(value) AS view_value FROM events
          WHERE event_type = 'view' GROUP BY user_id, ts
        )
        SELECT p.event_id, p.user_id, v.ts AS view_ts, v.view_value
        FROM purchases p
        ASOF LEFT JOIN views v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    "funnel_conversion": """
        WITH v AS (
          SELECT user_id, min(ts) AS t_view FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id
        ), p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id
        )
        SELECT u.user_id,
          (CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END
           + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
           + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS funnel_stage
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN v ON u.user_id = v.user_id
        LEFT JOIN c ON u.user_id = c.user_id
        LEFT JOIN p ON u.user_id = p.user_id
    """,
    "retention_cohorts": """
        WITH first AS (
          SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
          FROM events GROUP BY user_id
        ), active AS (
          SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
          FROM events
        )
        SELECT cohort_week, active_week, COUNT(DISTINCT a.user_id) AS n_users
        FROM active a JOIN first f ON a.user_id = f.user_id
        GROUP BY cohort_week, active_week
    """,
    "forecast_revenue": """
        SELECT
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    "volume_shipping": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(year FROM l_shipdate) AS l_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND n1.n_name < n2.n_name
        GROUP BY 1, 2, 3
    """,
    "market_share": """
        WITH vol AS (
          SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                 CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2))) AS rev,
                 n1.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
        )
        SELECT o_year,
          CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev END) AS DOUBLE)
            AS nation_revenue,
          CAST(SUM(rev) AS DOUBLE) AS total_revenue,
          COALESCE(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev END)
                        AS DOUBLE), 0.0)
            / CAST(SUM(rev) AS DOUBLE) AS mkt_share
        FROM vol GROUP BY o_year
    """,
    "returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
            AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "promo_revenue": """
        SELECT 100.0
          * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2))) END) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
          AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    "discounted_revenue": """
        SELECT
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
            AS revenue,
          COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 5
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#13' AND p_size <= 10
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#20' AND p_size <= 15
               AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    "top_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
          FROM orders
        ) WHERE rnk <= 3
    """,
    "column_associations": """
        WITH stats AS (
          SELECT min(c_nationkey) AS n_mn, max(c_nationkey) AS n_mx,
                 min(c_acctbal) AS a_mn, max(c_acctbal) AS a_mx
          FROM customer
        ), binned AS (
          SELECT
            CAST(CAST(least(floor((c_nationkey - n_mn)
                 / ((n_mx - n_mn) / 10.0)), 9) AS BIGINT) AS VARCHAR) AS nat,
            c_mktsegment AS seg,
            CAST(CAST(least(floor((c_acctbal - a_mn)
                 / ((a_mx - a_mn) / 10.0)), 9) AS BIGINT) AS VARCHAR) AS bal
          FROM customer, stats
        ),
        c1 AS (SELECT nat AS a, seg AS b, CAST(count(*) AS DOUBLE) AS c
               FROM binned GROUP BY 1, 2),
        c2 AS (SELECT nat AS a, bal AS b, CAST(count(*) AS DOUBLE) AS c
               FROM binned GROUP BY 1, 2),
        c3 AS (SELECT seg AS a, bal AS b, CAST(count(*) AS DOUBLE) AS c
               FROM binned GROUP BY 1, 2),
        v1 AS (
          SELECT sqrt(((SELECT sum(c) FROM c1)
                       * (SELECT sum(x.c * x.c / (r.na * s.nb))
                          FROM c1 x
                          JOIN (SELECT a, sum(c) AS na FROM c1 GROUP BY a) r USING (a)
                          JOIN (SELECT b, sum(c) AS nb FROM c1 GROUP BY b) s USING (b))
                       - (SELECT sum(c) FROM c1))
                      / ((SELECT sum(c) FROM c1)
                         * (least((SELECT count(DISTINCT a) FROM c1),
                                  (SELECT count(DISTINCT b) FROM c1)) - 1))) AS v
        ),
        v2 AS (
          SELECT sqrt(((SELECT sum(c) FROM c2)
                       * (SELECT sum(x.c * x.c / (r.na * s.nb))
                          FROM c2 x
                          JOIN (SELECT a, sum(c) AS na FROM c2 GROUP BY a) r USING (a)
                          JOIN (SELECT b, sum(c) AS nb FROM c2 GROUP BY b) s USING (b))
                       - (SELECT sum(c) FROM c2))
                      / ((SELECT sum(c) FROM c2)
                         * (least((SELECT count(DISTINCT a) FROM c2),
                                  (SELECT count(DISTINCT b) FROM c2)) - 1))) AS v
        ),
        v3 AS (
          SELECT sqrt(((SELECT sum(c) FROM c3)
                       * (SELECT sum(x.c * x.c / (r.na * s.nb))
                          FROM c3 x
                          JOIN (SELECT a, sum(c) AS na FROM c3 GROUP BY a) r USING (a)
                          JOIN (SELECT b, sum(c) AS nb FROM c3 GROUP BY b) s USING (b))
                       - (SELECT sum(c) FROM c3))
                      / ((SELECT sum(c) FROM c3)
                         * (least((SELECT count(DISTINCT a) FROM c3),
                                  (SELECT count(DISTINCT b) FROM c3)) - 1))) AS v
        )
        SELECT 'c_nationkey' AS left_column_name,
               'c_mktsegment' AS right_column_name,
               round((SELECT v FROM v1), 6) AS cramer_v
        UNION ALL
        SELECT 'c_nationkey', 'c_acctbal', round((SELECT v FROM v2), 6)
        UNION ALL
        SELECT 'c_mktsegment', 'c_acctbal', round((SELECT v FROM v3), 6)
    """,
    "windowed_counts": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1, 2
    """,
    "similarity_encoder_region": """
        WITH grams AS (
          SELECT r_name,
            list_distinct([substr(lower(r_name), i, 3)
                           FOR i IN generate_series(1, length(r_name) - 2)]) AS g
          FROM region
        ), v AS (
          SELECT
            (SELECT g FROM grams WHERE r_name = 'AFRICA') AS ga,
            (SELECT g FROM grams WHERE r_name = 'AMERICA') AS gm,
            (SELECT g FROM grams WHERE r_name = 'ASIA') AS gs,
            (SELECT g FROM grams WHERE r_name = 'EUROPE') AS ge,
            (SELECT g FROM grams WHERE r_name = 'MIDDLE EAST') AS gme
        )
        SELECT r.r_regionkey,
          CAST(len(list_intersect(grams.g, v.ga)) AS DOUBLE)
            / len(list_distinct(grams.g || v.ga)) AS sim_africa,
          CAST(len(list_intersect(grams.g, v.gm)) AS DOUBLE)
            / len(list_distinct(grams.g || v.gm)) AS sim_america,
          CAST(len(list_intersect(grams.g, v.gs)) AS DOUBLE)
            / len(list_distinct(grams.g || v.gs)) AS sim_asia,
          CAST(len(list_intersect(grams.g, v.ge)) AS DOUBLE)
            / len(list_distinct(grams.g || v.ge)) AS sim_europe,
          CAST(len(list_intersect(grams.g, v.gme)) AS DOUBLE)
            / len(list_distinct(grams.g || v.gme)) AS sim_middle_east
        FROM region r JOIN grams USING (r_name) CROSS JOIN v
    """,
    "rollup_revenue": """
        SELECT r_name, n_name,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "acctbal_percentiles": """
        SELECT c_mktsegment,
          quantile_cont(c_acctbal, 0.25) AS p25,
          quantile_cont(c_acctbal, 0.5) AS p50,
          quantile_cont(c_acctbal, 0.75) AS p75,
          quantile_cont(c_acctbal, 0.9) AS p90
        FROM customer GROUP BY c_mktsegment
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00'
        )
    """,
    "orders_moving_avg": """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
          FROM orders GROUP BY 1
        )
        SELECT day, n_orders,
          CAST(SUM(n_orders) OVER w AS DOUBLE) / COUNT(n_orders) OVER w AS ma7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "pivot_segment_nation": """
        SELECT c_nationkey,
          CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n_automobile,
          CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_building,
          CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS n_furniture,
          CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS n_household,
          CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n_machinery
        FROM customer GROUP BY c_nationkey
    """,
    "small_quantity_parts": """
        WITH part_avg AS (
          SELECT l_partkey AS pk,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) AS avg_qty
          FROM lineitem GROUP BY l_partkey
        )
        SELECT
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
          COUNT(*) AS n_lineitems
        FROM lineitem JOIN part_avg ON l_partkey = pk
        WHERE l_quantity < 0.5 * avg_qty
    """,
    "centroid_per_label": """
        SELECT label, i - 1 AS pos,
               ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY label, i
    """,
    "customer_distribution": """
        WITH per_cust AS (
          SELECT o_custkey AS ck, COUNT(*) AS n FROM orders GROUP BY o_custkey
        )
        SELECT COALESCE(n, 0) AS c_count, COUNT(*) AS custdist
        FROM customer LEFT JOIN per_cust ON c_custkey = ck
        GROUP BY COALESCE(n, 0)
    """,
    "top_supplier": """
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON supplier_no = s_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    "large_volume_customers": """
        WITH big AS (
          SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(qty AS DOUBLE) AS total_qty
        FROM orders
        JOIN big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "sales_opportunity": """
        WITH avg_bal AS (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) AS avg_bal
          FROM customer WHERE c_acctbal > 0
        )
        SELECT n_name, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        FROM customer, avg_bal
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY n_name
    """,
    "streaming_enrich": """
        WITH dim AS (
          SELECT user_id, COUNT(*) AS user_events,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) AS user_avg
          FROM events GROUP BY user_id
        )
        SELECT event_id, e.user_id, value, user_events, user_avg
        FROM events e JOIN dim ON e.user_id = dim.user_id
        WHERE event_type = 'purchase'
    """,
    "streaming_interval_join": """
        SELECT p.event_id, p.user_id, v.event_id AS view_id
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts >= p.ts - INTERVAL 1 HOUR
         AND v.ts <= p.ts + INTERVAL 1 HOUR
    """,
    "snapshot_ingest": """
        WITH seen AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        ), odd AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        ), new_batch AS (
          SELECT doc_id, text FROM odd
          UNION ALL
          SELECT doc_id + 1000000, text FROM seen
          UNION ALL
          SELECT doc_id + 2000000, text FROM odd WHERE doc_id < 100
        ), fresh AS (
          SELECT * FROM new_batch n
          WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text = n.text)
        )
        SELECT doc_id FROM fresh f
        WHERE doc_id = (SELECT min(doc_id) FROM fresh g WHERE g.text = f.text)
    """,
    "decontaminate": """
        WITH w AS (
          SELECT doc_id, source,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS words
          FROM documents
        ), s AS (
          SELECT doc_id, source,
            CASE WHEN len(words) >= 13 THEN
              list_distinct(list_transform(range(1, len(words) - 11),
                i -> array_to_string(list_slice(words, i, i + 12), ' ')))
            ELSE [] END AS sh
          FROM w
        ), eval_grams AS (
          SELECT DISTINCT unnest(sh) AS g FROM s
          WHERE source IN ('src0', 'src1')
        ), t AS (
          SELECT doc_id, unnest(sh) AS g FROM s
          WHERE source NOT IN ('src0', 'src1')
        ), cont AS (
          SELECT DISTINCT t.doc_id
          FROM t JOIN eval_grams eg ON t.g = eg.g
        )
        SELECT s.doc_id, s.source FROM s
        WHERE source NOT IN ('src0', 'src1')
          AND doc_id NOT IN (SELECT doc_id FROM cont)
    """,
    "contamination": """
        WITH w AS (
          SELECT doc_id, source,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS words
          FROM documents
        ), s AS (
          SELECT doc_id, source,
            CASE WHEN len(words) >= 13 THEN
              list_distinct(list_transform(range(1, len(words) - 11),
                i -> array_to_string(list_slice(words, i, i + 12), ' ')))
            ELSE [] END AS sh
          FROM w
        ), train_grams AS (
          SELECT DISTINCT unnest(sh) AS g FROM s
          WHERE source NOT IN ('src0', 'src1')
        ), e AS (
          SELECT doc_id, unnest(sh) AS g FROM s
          WHERE source IN ('src0', 'src1')
        ), counts AS (
          SELECT e.doc_id, COUNT(*) AS n_sh,
            SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS n_cont
          FROM e LEFT JOIN train_grams tg ON e.g = tg.g
          GROUP BY e.doc_id
        )
        SELECT d.doc_id,
          CAST(COALESCE(c.n_sh, 0) AS BIGINT) AS n_shingles,
          CAST(COALESCE(c.n_cont, 0) AS BIGINT) AS n_contaminated,
          CAST(COALESCE(c.n_cont, 0) AS DOUBLE)
            / GREATEST(COALESCE(c.n_sh, 0), 1) AS contamination
        FROM (SELECT doc_id FROM documents WHERE source IN ('src0', 'src1')) d
        LEFT JOIN counts c ON d.doc_id = c.doc_id
    """,
    "training_pipeline": """
        WITH scored AS (
          SELECT doc_id, lang, text,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / GREATEST(length(text), 1) AS alpha,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x != '')) AS BIGINT) AS n_tokens
          FROM documents
        ), filtered AS (
          SELECT * FROM scored WHERE alpha >= 0.6 AND n_tokens >= 20
        ), unique_docs AS (
          SELECT * FROM filtered
          WHERE doc_id IN (
            SELECT MIN(doc_id) FROM filtered GROUP BY text
          )
        ), sampled AS (
          SELECT doc_id, lang, n_tokens FROM unique_docs
          WHERE ('0x' || substr(md5('pipe' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 10000 < 5000
        ), packed AS (
          SELECT doc_id, lang, n_tokens,
            SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM sampled
        )
        SELECT doc_id, lang, n_tokens,
          CAST((cum - n_tokens) // 512 AS BIGINT) AS start_chunk,
          CAST(GREATEST(cum - 1, cum - n_tokens) // 512 AS BIGINT) AS end_chunk
        FROM packed
    """,
    "pack_chunks": """
        WITH t AS (
          SELECT doc_id, lang,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x != '')) AS BIGINT) AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, lang, n_tokens,
            SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t
        )
        SELECT doc_id, lang, n_tokens,
          CAST((cum - n_tokens) // 512 AS BIGINT) AS start_chunk,
          CAST(GREATEST(cum - 1, cum - n_tokens) // 512 AS BIGINT) AS end_chunk,
          CAST((cum - n_tokens) % 512 AS BIGINT) AS chunk_offset
        FROM c
    """,
    "hash_split": """
        WITH tagged AS (
          SELECT c_acctbal,
            CASE WHEN ('0x' || substr(md5('v1' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                      % 10000 < 2000
                 THEN 'test' ELSE 'train' END AS split
          FROM customer
        )
        SELECT split, COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acctbal_sum
        FROM tagged GROUP BY split
    """,
    "stratified_sample": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM events
        WHERE ('0x' || substr(md5('mix' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
              % 10000 <
              CASE event_type WHEN 'purchase' THEN 5000
                              WHEN 'view' THEN 1000 ELSE 0 END
        GROUP BY event_type
    """,
    "gapfill_hourly": """
        WITH agg AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS tot
          FROM events WHERE event_type IN ('purchase', 'error')
          GROUP BY 1, 2
        ), rng AS (
          SELECT event_type, MIN(bucket) AS s, MAX(bucket) AS e
          FROM agg GROUP BY 1
        ), spine AS (
          SELECT event_type,
                 unnest(generate_series(s, e, INTERVAL 1 HOUR)) AS bucket
          FROM rng
        )
        SELECT s.event_type, s.bucket,
               COALESCE(n, 0) AS n_events,
               last_value(tot IGNORE NULLS) OVER (
                 PARTITION BY s.event_type ORDER BY s.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS total_value
        FROM spine s
        LEFT JOIN agg a
          ON s.event_type = a.event_type AND s.bucket = a.bucket
    """,
    "range_join_incidents": """
        WITH act AS (
          SELECT user_id, MIN(ts) AS start, MAX(ts) AS "end"
          FROM events GROUP BY user_id, date_trunc('day', ts)
        ), hourly AS (
          SELECT date_trunc('hour', ts) AS inc_start,
                 COUNT(*) AS n_errors
          FROM events WHERE event_type = 'error'
          GROUP BY 1
        ), ranked AS (
          SELECT *, row_number() OVER (
            ORDER BY n_errors DESC, inc_start) AS rk
          FROM hourly
        ), inc AS (
          SELECT inc_start, n_errors FROM ranked WHERE rk <= 24
        )
        SELECT user_id, start, "end", inc_start, n_errors
        FROM act JOIN inc
          ON start <= inc_start + INTERVAL 1 HOUR - INTERVAL 1 MICROSECOND
         AND inc_start <= "end"
    """,
    "csv_source": """
        SELECT r_name, COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "orc_source": """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderpriority
    """,
    "skew_salted_agg": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
               MAX(value) AS max_value
        FROM events GROUP BY event_type
    """,
    "bucketed_join_revenue": """
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "minhash_encoder_features": """
        WITH base AS (
          SELECT p_partkey, lower(p_name) AS s FROM part
        ), g AS (
          SELECT p_partkey, unnest(list_concat(list_concat(
            list_transform(range(1, len(s)),     i -> substr(s, i, 2)),
            list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))),
            list_transform(range(1, len(s) - 2), i -> substr(s, i, 4))
          )) AS gram
          FROM base
        ), h AS (
          SELECT p_partkey,
            ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS h1,
            ('0x' || substr(md5(gram), 16, 15))::BIGINT % 2147483647 AS h2
          FROM g
        )
        SELECT p_partkey,
          CAST(MIN(h1 % 2147483647) AS DOUBLE) AS p_name_0,
          CAST(MIN((h1 + 1 * h2) % 2147483647) AS DOUBLE) AS p_name_1,
          CAST(MIN((h1 + 2 * h2) % 2147483647) AS DOUBLE) AS p_name_2,
          CAST(MIN((h1 + 3 * h2) % 2147483647) AS DOUBLE) AS p_name_3,
          CAST(MIN((h1 + 4 * h2) % 2147483647) AS DOUBLE) AS p_name_4,
          CAST(MIN((h1 + 5 * h2) % 2147483647) AS DOUBLE) AS p_name_5,
          CAST(MIN((h1 + 6 * h2) % 2147483647) AS DOUBLE) AS p_name_6,
          CAST(MIN((h1 + 7 * h2) % 2147483647) AS DOUBLE) AS p_name_7
        FROM h GROUP BY p_partkey
    """,
    "simhash_dedup_pairs": """
        WITH w AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS words
          FROM documents
        ), g AS (
          SELECT doc_id, unnest(
            CASE WHEN len(words) >= 2 THEN
              list_transform(range(1, len(words)),
                i -> words[i] || ' ' || words[i + 1])
            ELSE [] END) AS gram
          FROM w
        ), h AS (
          SELECT doc_id,
                 ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv
          FROM g
        ), bits AS (
          SELECT doc_id, b.i AS i,
                 SUM(CASE WHEN (hv >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h, generate_series(0, 59) AS b(i)
          GROUP BY doc_id, b.i
        ), sh AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)
                      AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "fingerprints": """
        WITH w AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS words
          FROM documents
        ), s AS (
          SELECT doc_id,
            CASE WHEN len(words) >= 8 THEN
              list_transform(range(1, len(words) - 6),
                i -> array_to_string(list_slice(words, i, i + 7), ' '))
            ELSE [] END AS shingles
          FROM w
        )
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(shingles,
                g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647)),
            (acc, h) -> (acc * 1000003 + h) % 2147483647
          ) AS fingerprint
        FROM s
    """,
}


def _quality_score_cte() -> str:
    """The frozen-classifier scoring CTE (score = sigmoid(bias + mean
    of per-unit bucket weights), portable md5 buckets) — shared by
    the r7 classifier oracles and the r8 streaming-gate oracle, so
    the replay can never drift between them."""
    from . import _frozen as fz

    m = fz.QUALITY_MODEL
    n_feat = m["n_features"]
    bias = repr(m["bias"])
    wvals = ", ".join(
        f"({i}, CAST({w!r} AS DOUBLE))" for i, w in enumerate(m["weights"])
    )
    return f"""
        WITH t AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS toks
          FROM documents
        ), u AS (
          SELECT doc_id, unnest(toks) AS u FROM t
        ), f AS (
          SELECT doc_id,
            (('0x' || substr(md5('{m["salt"]}' || u), 1, 15))::BIGINT
             % {n_feat}) AS bucket
          FROM u
        ), w(bucket, wt) AS (VALUES {wvals}),
        d AS (
          SELECT f.doc_id, SUM(w.wt) / COUNT(*) AS dot
          FROM f JOIN w ON w.bucket = f.bucket
          GROUP BY f.doc_id
        ), s AS (
          SELECT t.doc_id,
            ROUND(1.0 / (1.0 + exp(-({bias} + COALESCE(d.dot, 0.0)))),
                  6) AS qs
          FROM t LEFT JOIN d USING (doc_id)
        )"""


def _r7_frozen_oracles() -> dict[str, str]:
    """Oracles for the round-7 frozen-model queries, GENERATED from
    the committed literals in ``skrub_spark/_frozen.py`` — the SQL
    strings are still static per commit (oracle_sql() output changes
    only when tools/train_frozen.py regenerates the artifacts), but
    building them here keeps the 6dp literals bit-identical on both
    engines without hand-pasting thousands of numbers."""
    from . import _frozen as fz

    # --- learned quality classifier: score = sigmoid(bias + mean of
    # per-unit bucket weights), bucket = portable md5 mod n_features
    score_cte = _quality_score_cte()
    q_scores = score_cte + """
        SELECT doc_id, qs AS quality_score, qs >= 0.5 AS keep FROM s
    """
    q_filter = score_cte + """
        SELECT doc_id, qs AS quality_score FROM s
        WHERE ('0x' || substr(md5('qcf' || CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT % 100000000
              < CAST(least(100000000.0,
                           greatest(0.0, qs * 1.5 * 100000000))
                     AS BIGINT)
    """

    # --- product quantization: argmin assignment + ADC cosine from
    # the frozen codebooks
    books = fz.PQ_CODEBOOKS
    n_sub = len(books)
    subdim = fz.PQ_DIM // n_sub
    cbvals = ", ".join(
        f"({j}, {c}, CAST({books[j][c]!r} AS DOUBLE[]))"
        for j in range(n_sub)
        for c in range(len(books[j]))
    )
    q_pq = f"""
        WITH cb(j, c, w) AS (VALUES {cbvals}),
        q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id = 0
        ),
        sub AS (
          SELECT e.vec_id, js.j,
            list_slice(CAST(e.embedding AS DOUBLE[]),
                       js.j * {subdim} + 1, (js.j + 1) * {subdim}) AS s
          FROM embeddings e
          CROSS JOIN (SELECT unnest(generate_series(0, {n_sub - 1})) AS j) js
        ),
        dist AS (
          SELECT sub.vec_id, sub.j, cb.c,
            list_inner_product(cb.w, cb.w)
              - 2 * list_inner_product(sub.s, cb.w) AS d
          FROM sub JOIN cb ON cb.j = sub.j
        ),
        codes AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
              ROW_NUMBER() OVER (
                PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
            FROM dist) WHERE rn = 1
        ),
        sums AS (
          SELECT codes.vec_id,
            SUM(list_inner_product(cb.w,
                list_slice((SELECT v FROM q),
                           cb.j * {subdim} + 1,
                           (cb.j + 1) * {subdim}))) AS dsum,
            SUM(list_inner_product(cb.w, cb.w)) AS nsum
          FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.c
          GROUP BY codes.vec_id
        )
        SELECT vec_id,
          ROUND(dsum / (sqrt(nsum) *
                (SELECT sqrt(list_inner_product(v, v)) FROM q)),
                4) AS cosine
        FROM sums
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """

    # --- learned-stage-0 composed pipeline: the scoring CTE feeds
    # gate -> min-id dedup -> weighted keep -> per-lang packing
    q_scored_pipe = score_cte + """,
        gate AS (
          SELECT d2.doc_id, d2.lang, d2.text, s.qs
          FROM s JOIN documents d2 USING (doc_id)
          WHERE s.qs >= 0.5
        ),
        uniq AS (
          SELECT * FROM gate
          WHERE doc_id IN (SELECT MIN(doc_id) FROM gate GROUP BY text)
        ),
        kept AS (
          SELECT doc_id, lang,
            CAST(len(list_filter(
              regexp_split_to_array(trim(text), '\\s+'),
              x -> x != '')) AS BIGINT) AS n_tokens
          FROM uniq
          WHERE ('0x' || substr(md5('sp7' || CAST(doc_id AS VARCHAR)),
                                1, 15))::BIGINT % 100000000
                < CAST(least(100000000.0,
                             greatest(0.0, qs * 1.2 * 100000000))
                       AS BIGINT)
        ),
        packed AS (
          SELECT doc_id, lang, n_tokens,
            SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM kept
        )
        SELECT doc_id, lang, n_tokens,
          CAST((cum - n_tokens) // 512 AS BIGINT) AS start_chunk,
          CAST(GREATEST(cum - 1, cum - n_tokens) // 512 AS BIGINT)
            AS end_chunk
        FROM packed
    """

    # --- persisted IVF-PQ probe: frozen coarse cells (the semantic
    # centroids) pick n_probe=4 cells, PQ-ADC ranks within them —
    # every stage frozen-literal arithmetic
    cvals_ivf = ", ".join(
        f"({i}, CAST({c!r} AS DOUBLE[]))"
        for i, c in enumerate(fz.SEMANTIC_CENTROIDS)
    )
    q_ivfpq = f"""
        WITH cb(j, c, w) AS (VALUES {cbvals}),
        cents(cell, cw) AS (VALUES {cvals_ivf}),
        q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id = 0
        ),
        probe AS (
          SELECT cell FROM (
            SELECT cell,
              list_inner_product(cw, cw)
                - 2 * list_inner_product((SELECT v FROM q), cw) AS d
            FROM cents)
          ORDER BY d ASC, cell ASC LIMIT 4
        ),
        cdist AS (
          SELECT e.vec_id, c.cell,
            list_inner_product(c.cw, c.cw)
              - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cw)
              AS d
          FROM embeddings e CROSS JOIN cents c
        ),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
              ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
            FROM cdist) WHERE rn = 1
        ),
        kept AS (
          SELECT vec_id FROM assign
          WHERE cell IN (SELECT cell FROM probe)
        ),
        sub AS (
          SELECT e.vec_id, js.j,
            list_slice(CAST(e.embedding AS DOUBLE[]),
                       js.j * {subdim} + 1, (js.j + 1) * {subdim}) AS s
          FROM embeddings e
          JOIN kept USING (vec_id)
          CROSS JOIN (SELECT unnest(generate_series(0, {n_sub - 1})) AS j) js
        ),
        dist AS (
          SELECT sub.vec_id, sub.j, cb.c,
            list_inner_product(cb.w, cb.w)
              - 2 * list_inner_product(sub.s, cb.w) AS d
          FROM sub JOIN cb ON cb.j = sub.j
        ),
        codes AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
              ROW_NUMBER() OVER (
                PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
            FROM dist) WHERE rn = 1
        ),
        sums AS (
          SELECT codes.vec_id,
            SUM(list_inner_product(cb.w,
                list_slice((SELECT v FROM q),
                           cb.j * {subdim} + 1,
                           (cb.j + 1) * {subdim}))) AS dsum,
            SUM(list_inner_product(cb.w, cb.w)) AS nsum
          FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.c
          GROUP BY codes.vec_id
        )
        SELECT vec_id,
          ROUND(dsum / (sqrt(nsum) *
                (SELECT sqrt(list_inner_product(v, v)) FROM q)),
                4) AS cosine
        FROM sums
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """

    # --- semantic dedup with frozen centroids: argmin cells ->
    # within-cell cosine pairs -> recursive-CTE components
    cents = fz.SEMANTIC_CENTROIDS
    cvals = ", ".join(
        f"({i}, CAST({c!r} AS DOUBLE[]))" for i, c in enumerate(cents)
    )
    q_sem = f"""
        WITH RECURSIVE cents(cell, w) AS (VALUES {cvals}),
        dist AS (
          SELECT e.vec_id, c.cell,
            list_inner_product(c.w, c.w)
              - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.w)
              AS d
          FROM embeddings e CROSS JOIN cents c
        ),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
              ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
            FROM dist) WHERE rn = 1
        ),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM assign a
          JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[]))
                >= 0.35
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        walk(id, reach) AS (
          SELECT src, src FROM edges
          UNION
          SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
        ),
        comp AS (SELECT id, MIN(reach) AS component FROM walk GROUP BY id)
        SELECT e.vec_id,
          CAST(COALESCE(comp.component, e.vec_id) AS BIGINT) AS component,
          COALESCE(comp.component, e.vec_id) = e.vec_id AS keep
        FROM embeddings e LEFT JOIN comp ON comp.id = e.vec_id
    """

    # --- frozen StringEncoder transform: tf over md5-bucketed char
    # 3+4-grams x idf x SVD components, per-row sums to 6dp
    se = fz.STRING_ENCODER
    k_se = len(se["components"][0])
    projvals = ", ".join(
        f"({b}, CAST({se['idf'][b]!r} AS DOUBLE), "
        f"CAST({se['components'][b]!r} AS DOUBLE[]))"
        for b in range(len(se["idf"]))
    )
    comp_sums = ", ".join(
        f"SUM(f.tf * p.idf * p.comp[{i + 1}]) AS c{i}" for i in range(k_se)
    )
    out_cols = ", ".join(
        f"ROUND(COALESCE(o.c{i}, 0.0), 6) AS p_name_{i}"
        for i in range(k_se)
    )
    q_strenc = f"""
        WITH base AS (
          SELECT p_partkey, lower(p_name) AS s FROM part
        ),
        g AS (
          SELECT p_partkey, unnest(list_concat(
            CASE WHEN len(s) >= 3
              THEN [substr(s, i, 3) FOR i IN generate_series(1, len(s) - 2)]
              ELSE [] END,
            CASE WHEN len(s) >= 4
              THEN [substr(s, i, 4) FOR i IN generate_series(1, len(s) - 3)]
              ELSE [] END)) AS gr
          FROM base
        ),
        f AS (
          SELECT p_partkey,
            (('0x' || substr(md5(gr), 1, 15))::BIGINT
             % {len(se["idf"])}) AS b,
            CAST(COUNT(*) AS DOUBLE) AS tf
          FROM g GROUP BY 1, 2
        ),
        proj(b, idf, comp) AS (VALUES {projvals}),
        o AS (
          SELECT f.p_partkey, {comp_sums}
          FROM f JOIN proj p ON p.b = f.b
          GROUP BY f.p_partkey
        )
        SELECT base.p_partkey, {out_cols}
        FROM base LEFT JOIN o USING (p_partkey)
    """

    # --- frozen-plane LSH ANN probe: query + row buckets replayed
    # as sign-of-dot sums, exact cosine rescore of shared-bucket
    # candidates (pvals defined with the streaming oracle below,
    # same frozen planes)
    q_lsh = """
        WITH planes(t, i, w) AS (VALUES {pvals}),
        q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id = 0
        ),
        qb AS (
          SELECT p.t,
            SUM(CASE WHEN list_inner_product((SELECT v FROM q), p.w) > 0
                     THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
          FROM planes p GROUP BY p.t
        ),
        b AS (
          SELECT e.vec_id, p.t,
            SUM(CASE WHEN list_inner_product(
                       CAST(e.embedding AS DOUBLE[]), p.w) > 0
                     THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
          FROM embeddings e CROSS JOIN planes p
          GROUP BY e.vec_id, p.t
        ),
        cand AS (
          SELECT DISTINCT b.vec_id
          FROM b JOIN qb ON qb.t = b.t AND qb.bucket = b.bucket
        )
        SELECT e.vec_id,
          ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                       (SELECT v FROM q)), 4) AS cosine
        FROM embeddings e JOIN cand ON cand.vec_id = e.vec_id
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT 10
    """

    # --- frozen-plane LSH knn join: shared-bucket candidates, exact
    # rescore, per-query top-5 (the knn_join oracle restricted to
    # shared-bucket pairs)
    q_knn_lsh = """
        WITH planes(t, i, w) AS (VALUES {pvals}),
        b AS (
          SELECT e.vec_id, p.t,
            SUM(CASE WHEN list_inner_product(
                       CAST(e.embedding AS DOUBLE[]), p.w) > 0
                     THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
          FROM embeddings e CROSS JOIN planes p
          GROUP BY e.vec_id, p.t
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM b a JOIN b c ON a.t = c.t AND a.bucket = c.bucket
          WHERE a.vec_id != c.vec_id
        )
        SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cosine
        FROM (
          SELECT cand.query_id, cand.neighbor_id,
            list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                   CAST(eb.embedding AS DOUBLE[])) AS cos,
            ROW_NUMBER() OVER (
              PARTITION BY cand.query_id
              ORDER BY list_cosine_similarity(
                CAST(ea.embedding AS DOUBLE[]),
                CAST(eb.embedding AS DOUBLE[])) DESC,
              cand.neighbor_id ASC
            ) AS rank
          FROM cand
          JOIN embeddings ea ON ea.vec_id = cand.query_id
          JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
        ) WHERE rank <= 5
    """

    # --- frozen-merge BPE: greedy encode as recursive string
    # rewriting (wrap symbols as |sym|; one replace() per step
    # applies the best-ranked pair at every non-overlapping
    # occurrence, matching _apply_merge exactly)
    mvals = ", ".join(
        f"({r}, '|{a}||{b}|', '|{a}{b}|')"
        for r, (a, b) in enumerate(fz.BPE_MERGES)
    )
    q_bpe = f"""
        WITH RECURSIVE m(r, pat, rep) AS (VALUES {mvals}),
        dw AS (
          SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
          FROM documents
        ),
        words AS (SELECT DISTINCT w FROM dw),
        enc(w, s) AS (
          SELECT w, array_to_string(list_transform(
                   list_append(string_split(w, ''), '</w>'),
                   c -> '|' || c || '|'), '')
          FROM words
          UNION ALL
          SELECT e.w, replace(e.s, mm.pat, mm.rep)
          FROM enc e
          JOIN m mm ON mm.r = (SELECT MIN(m2.r) FROM m m2
                               WHERE contains(e.s, m2.pat))
        ),
        final AS (
          SELECT w, s FROM enc e
          WHERE NOT EXISTS (SELECT 1 FROM m m2 WHERE contains(e.s, m2.pat))
        ),
        wstats AS (
          SELECT w,
            len(list_filter(string_split(s, '|'), x -> x != '')) AS nt,
            list_sum(list_transform(
              list_filter(string_split(s, '|'), x -> x != ''),
              t -> len(replace(t, '</w>', '')))) AS nc
          FROM final
        ),
        agg AS (
          SELECT dw.doc_id, COUNT(*) AS n_words,
                 SUM(ws.nt) AS n_bpe, SUM(ws.nc) AS n_chars
          FROM dw JOIN wstats ws ON ws.w = dw.w
          GROUP BY dw.doc_id
        )
        SELECT d.doc_id,
          CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
          CAST(COALESCE(a.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
          ROUND(CAST(COALESCE(a.n_chars, 0) AS DOUBLE)
                / greatest(CAST(COALESCE(a.n_bpe, 0) AS BIGINT), 1), 6)
            AS chars_per_token
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """

    # --- streaming embedding near-dedup: sign-bit cells from the
    # frozen planes, min-id claims (== ascending arrival order)
    pvals = ", ".join(
        f"({t}, {i}, CAST({fz.STREAM_PLANES[t][i]!r} AS DOUBLE[]))"
        for t in range(len(fz.STREAM_PLANES))
        for i in range(len(fz.STREAM_PLANES[t]))
    )
    inc_pvals = ", ".join(
        f"({t}, {i}, CAST({fz.INC_PLANES[t][i]!r} AS DOUBLE[]))"
        for t in range(len(fz.INC_PLANES))
        for i in range(len(fz.INC_PLANES[t]))
    )
    q_stream = f"""
        WITH planes(t, i, w) AS (VALUES {pvals}),
        b AS (
          SELECT e.vec_id, p.t,
            SUM(CASE WHEN list_inner_product(
                       CAST(e.embedding AS DOUBLE[]), p.w) > 0
                     THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
          FROM embeddings e CROSS JOIN planes p
          GROUP BY e.vec_id, p.t
        ),
        claims AS (
          SELECT t, bucket, MIN(vec_id) AS first_id
          FROM b GROUP BY t, bucket
        )
        SELECT b.vec_id,
          MAX(CASE WHEN c.first_id != b.vec_id THEN 1 ELSE 0 END) = 1
            AS is_dup,
          CAST(MIN(c.first_id) AS BIGINT) AS canonical_id
        FROM b JOIN claims c ON c.t = b.t AND c.bucket = b.bucket
        GROUP BY b.vec_id
    """

    # --- incremental embedding near-dedup: both sides' cells
    # replayed as sign-of-dot sums over the frozen planes; history
    # semi-join + min-id batch claim
    q_inc_emb = """
        WITH planes(t, i, w) AS (VALUES {pvals}),
        seen AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 2 = 0
        ),
        odd AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 2 = 1
        ),
        nw AS (
          SELECT vec_id, v FROM odd
          UNION ALL
          SELECT vec_id + 1000000, v FROM seen WHERE vec_id < 100
          UNION ALL
          SELECT vec_id + 2000000, v FROM odd WHERE vec_id < 100
        ),
        b_new AS (
          SELECT n.vec_id, p.t,
            SUM(CASE WHEN list_inner_product(n.v, p.w) > 0
                     THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
          FROM nw n CROSS JOIN planes p
          GROUP BY n.vec_id, p.t
        ),
        b_seen AS (
          SELECT DISTINCT t, bucket FROM (
            SELECT s.vec_id, p.t,
              SUM(CASE WHEN list_inner_product(s.v, p.w) > 0
                       THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
            FROM seen s CROSS JOIN planes p
            GROUP BY s.vec_id, p.t)
        ),
        hist_hit AS (
          SELECT DISTINCT b.vec_id
          FROM b_new b JOIN b_seen s ON s.t = b.t AND s.bucket = b.bucket
        ),
        claims AS (
          SELECT t, bucket, MIN(vec_id) AS f FROM b_new GROUP BY t, bucket
        ),
        batch_hit AS (
          SELECT DISTINCT b.vec_id
          FROM b_new b
          JOIN claims c ON c.t = b.t AND c.bucket = b.bucket
            AND c.f < b.vec_id
        )
        SELECT n.vec_id FROM nw n
        WHERE NOT EXISTS (
            SELECT 1 FROM hist_hit h WHERE h.vec_id = n.vec_id)
          AND NOT EXISTS (
            SELECT 1 FROM batch_hit h WHERE h.vec_id = n.vec_id)
    """

    return {
        "quality_classifier_scores": q_scores,
        "quality_classifier_filter": q_filter,
        "incremental_embedding_dedup": q_inc_emb.format(pvals=inc_pvals),
        "scored_pipeline": q_scored_pipe,
        "topk_pq": q_pq,
        "topk_ivfpq": q_ivfpq,
        "topk_lsh_frozen": q_lsh.format(pvals=pvals),
        "knn_join_lsh_frozen": q_knn_lsh.format(pvals=pvals),
        "string_encoder_frozen": q_strenc,
        "semantic_dedup_exact": q_sem,
        "streaming_embedding_dedup": q_stream,
        "bpe_stats_frozen": q_bpe,
    }


ORACLES.update(_r7_frozen_oracles())


def _r8_frozen_oracles() -> dict[str, str]:
    """Oracles for the round-8 frozen-model queries, generated from
    the committed literals in ``skrub_spark/_frozen.py`` (same
    static-per-commit rule as ``_r7_frozen_oracles``)."""
    from . import _frozen as fz
    from .functions.tree_compile import trees_to_sql

    # --- DSIR: per-doc log importance weight = Σ over unigram+bigram
    # units of log_ratios[md5 bucket(unit)], exactly the
    # hashed_text_features unit rule (lowercased whitespace unigrams
    # plus space-joined word bigrams)
    m = fz.DSIR_MODEL
    n_feat = m["n_features"]
    rvals = ", ".join(
        f"({i}, CAST({x!r} AS DOUBLE))"
        for i, x in enumerate(m["log_ratios"])
    )
    dsir_cte = f"""
        WITH t AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x != '') AS toks
          FROM documents
        ), u AS (
          SELECT doc_id, unnest(toks) AS u FROM t
          UNION ALL
          SELECT doc_id,
            unnest(list_transform(
              generate_series(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS u
          FROM t
        ), f AS (
          SELECT doc_id,
            (('0x' || substr(md5('{m["salt"]}' || u), 1, 15))::BIGINT
             % {n_feat}) AS bucket
          FROM u
        ), r(bucket, lr) AS (VALUES {rvals}),
        d AS (
          SELECT f.doc_id, ROUND(SUM(r.lr), 6) AS logw
          FROM f JOIN r ON r.bucket = f.bucket
          GROUP BY f.doc_id
        ), s AS (
          SELECT t.doc_id,
            COALESCE(d.logw, CAST(0.0 AS DOUBLE)) AS dsir_logw
          FROM t LEFT JOIN d USING (doc_id)
        )"""
    q_weights = dsir_cte + """
        SELECT doc_id, dsir_logw FROM s
    """
    # Gumbel-top-k: the content-addressed Gumbel(0,1) draw, rounded
    # to 6dp on both engines before the perturbed-key sum
    q_resample = dsir_cte + """
        , k AS (
          SELECT s.doc_id, s.dsir_logw,
            ROUND(s.dsir_logw + ROUND(-ln(-ln(
              (CAST(('0x' || substr(md5('dsirg|' ||
                        CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 100000000 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) / CAST(100000000.0 AS DOUBLE)
            )), 6), 6) AS dsir_key
          FROM s
        )
        SELECT k.doc_id, d2.lang, k.dsir_logw, k.dsir_key
        FROM k JOIN documents d2 ON d2.doc_id = k.doc_id
        ORDER BY k.dsir_key DESC, k.doc_id ASC
        LIMIT 100
    """

    # --- frozen GBT ensembles compiled to CASE WHEN (identical
    # literals + identical left-associated sum as the Spark Column)
    reg_expr = trees_to_sql(
        fz.GBT_REGRESSION, ["CAST(c_nationkey AS DOUBLE)"]
    )
    q_gbt = f"""
        SELECT c_custkey, ROUND({reg_expr}, 6) AS acctbal_pred
        FROM customer
    """
    labels = fz.GBT_CLASSIFIER["labels"]
    clf_expr = trees_to_sql(
        fz.GBT_CLASSIFIER, ["CAST(c_nationkey AS DOUBLE)"]
    )
    q_clf = f"""
        SELECT c_custkey,
          CASE WHEN {clf_expr} > 0
               THEN '{labels[1]}' ELSE '{labels[0]}' END AS bal_class_pred
        FROM customer
    """
    # --- cluster-balanced mixture: frozen-centroid argmin cells (the
    # semantic_dedup_exact assignment) -> per-cell mixture thresholds
    cents = fz.SEMANTIC_CENTROIDS
    cvals = ", ".join(
        f"({i}, CAST({c!r} AS DOUBLE[]))" for i, c in enumerate(cents)
    )
    q_cbs = f"""
        WITH cents(cell, w) AS (VALUES {cvals}),
        dist AS (
          SELECT e.vec_id, c.cell,
            list_inner_product(c.w, c.w)
              - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.w)
              AS d
          FROM embeddings e CROSS JOIN cents c
        ),
        assign AS (
          SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM (
            SELECT vec_id, cell,
              ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
            FROM dist) WHERE rn = 1
        ),
        n AS (SELECT cell, COUNT(*) AS cnt FROM assign GROUP BY cell)
        SELECT a.vec_id, a.cell
        FROM assign a JOIN n USING (cell)
        WHERE ('0x' || substr(md5('cbs8' || CAST(a.vec_id AS VARCHAR)),
                              1, 15))::BIGINT % 100000000
          < least(100000000,
                  greatest(1, (100000000 * least(25, n.cnt)) // n.cnt))
    """
    # --- streaming learned gate: stateless scoring, so the oracle is
    # the batch CTE + the same >= 0.5 gate over all micro-batches
    q_stream_gate = _quality_score_cte() + """
        SELECT doc_id, qs AS quality_score FROM s WHERE qs >= 0.5
    """

    # --- OPQ: rotate (literal matvec, 6dp) -> PQ argmin -> ADC, all
    # from the frozen OPQ_MODEL literals
    opq = fz.OPQ_MODEL
    o_sub = opq["dim"] // opq["n_subspaces"]
    # columns of R as arrays: rotated[j] = <v, R[:,j]>
    rcols = ", ".join(
        f"({j}, CAST({[opq['rotation'][i][j] for i in range(opq['dim'])]!r}"
        " AS DOUBLE[]))"
        for j in range(opq["dim"])
    )
    ocbvals = ", ".join(
        f"({j}, {c}, CAST({opq['codebooks'][j][c]!r} AS DOUBLE[]))"
        for j in range(opq["n_subspaces"])
        for c in range(len(opq["codebooks"][j]))
    )
    q_opq = f"""
        WITH rcols(j, w) AS (VALUES {rcols}),
        cb(j, c, w) AS (VALUES {ocbvals}),
        rot AS (
          SELECT e.vec_id,
            list(ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                          rc.w), 6) ORDER BY rc.j) AS rv
          FROM embeddings e CROSS JOIN rcols rc
          GROUP BY e.vec_id
        ),
        q AS (SELECT rv AS v FROM rot WHERE vec_id = 0),
        sub AS (
          SELECT r.vec_id, js.j,
            list_slice(r.rv, js.j * {o_sub} + 1, (js.j + 1) * {o_sub}) AS s
          FROM rot r
          CROSS JOIN (SELECT unnest(generate_series(0,
                        {opq["n_subspaces"] - 1})) AS j) js
        ),
        dist AS (
          SELECT sub.vec_id, sub.j, cb.c,
            list_inner_product(cb.w, cb.w)
              - 2 * list_inner_product(sub.s, cb.w) AS d
          FROM sub JOIN cb ON cb.j = sub.j
        ),
        codes AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
              ROW_NUMBER() OVER (
                PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
            FROM dist) WHERE rn = 1
        ),
        sums AS (
          SELECT codes.vec_id,
            SUM(list_inner_product(cb.w,
                list_slice((SELECT v FROM q),
                           cb.j * {o_sub} + 1,
                           (cb.j + 1) * {o_sub}))) AS dsum,
            SUM(list_inner_product(cb.w, cb.w)) AS nsum
          FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.c
          GROUP BY codes.vec_id
        )
        SELECT vec_id,
          ROUND(dsum / (sqrt(nsum) *
                (SELECT sqrt(list_inner_product(v, v)) FROM q)),
                4) AS cosine
        FROM sums
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """
    return {
        "dsir_weights": q_weights,
        "dsir_resample": q_resample,
        "interpolation_gbt_frozen": q_gbt,
        "interpolation_clf_frozen": q_clf,
        "cluster_balanced_sample": q_cbs,
        "streaming_quality_gate": q_stream_gate,
        "topk_opq": q_opq,
    }


ORACLES.update(_r8_frozen_oracles())


def _linkage_oracles() -> dict[str, str]:
    """Oracles for the Fellegi–Sunter linkage queries, generated
    from the frozen EM weights (same static-per-commit rule as
    ``_r7_frozen_oracles``). The scoring SQL mirrors
    ``operators/linkage.py::match_columns`` operation-for-operation:
    left-assoc sum of log2-ratio CASE literals, left-assoc product
    of ratio CASE literals seeded with the prior factor — IEEE
    +,·,/ over identical 6dp literals is bit-identical on both
    engines, so no rounding of outputs is needed."""
    from . import _frozen as fz

    m = getattr(fz, "LINKAGE_MODEL", None)
    if m is None:
        return {}

    def pick(gcol: str, vals: list[float]) -> str:
        cases = " ".join(
            f"WHEN {lvl} THEN CAST({v!r} AS DOUBLE)"
            for lvl, v in enumerate(vals)
        )
        return f"(CASE {gcol} {cases} ELSE CAST({vals[0]!r} AS DOUBLE) END)"

    gname = {"name": "g_name", "nation": "g_nation",
             "segment": "g_segment", "acctbal": "g_acctbal"}
    weight = " + ".join(
        pick(gname[nm], m["log2_ratio"][nm]) for nm in m["cols"]
    )
    kexpr = " * ".join(
        [f"CAST({m['prior_factor']!r} AS DOUBLE)"]
        + [pick(gname[nm], m["ratio"][nm]) for nm in m["cols"]]
    )
    base = f"""
        WITH l AS (
          SELECT c_custkey AS l_id, c_name AS l_name,
                 c_nationkey AS l_nation, c_mktsegment AS l_seg,
                 c_acctbal AS l_bal
          FROM customer
        ), rb AS (
          SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
            ('0x' || substr(md5('rl8|' || CAST(c_custkey AS VARCHAR)),
                            1, 15))::BIGINT % 10 AS h_name,
            ('0x' || substr(md5('rln|' || CAST(c_custkey AS VARCHAR)),
                            1, 15))::BIGINT % 7 AS h_nat,
            ('0x' || substr(md5('rls|' || CAST(c_custkey AS VARCHAR)),
                            1, 15))::BIGINT % 5 AS h_seg,
            ('0x' || substr(md5('rlb|' || CAST(c_custkey AS VARCHAR)),
                            1, 15))::BIGINT % 3 AS h_bal
          FROM customer
        ), r AS (
          SELECT c_custkey AS r_id,
            CASE WHEN h_name <= 2
                   THEN substr(c_name, 1, length(c_name) - 1)
                 WHEN h_name = 3
                   THEN substr(c_name, 1, 5) || substr(c_name, 7)
                 WHEN h_name = 4 THEN c_name || 'x'
                 ELSE c_name END AS r_name,
            CASE WHEN h_nat = 0 THEN (c_nationkey + 1) % 25
                 ELSE c_nationkey END AS r_nation,
            CASE WHEN h_seg = 0 THEN 'UNKNOWN'
                 ELSE c_mktsegment END AS r_seg,
            CASE WHEN h_bal = 0 THEN c_acctbal + CAST(0.5 AS DOUBLE)
                 ELSE c_acctbal END AS r_bal
          FROM rb
        ), p AS (
          SELECT l_id, r_id FROM l JOIN r
            ON substr(l_name, 10, 8) = substr(r_name, 10, 8)
          UNION
          SELECT l_id, r_id FROM l JOIN r
            ON l_nation = r_nation
           AND CAST(FLOOR(l_bal / 100.0) AS BIGINT)
               = CAST(FLOOR(r_bal / 100.0) AS BIGINT)
        ), g AS (
          SELECT p.l_id, p.r_id,
            CASE WHEN lower(l_name) = lower(r_name) THEN 2
                 WHEN levenshtein(l_name, r_name) <= 2 THEN 1
                 ELSE 0 END AS g_name,
            CASE WHEN l_nation = r_nation THEN 1 ELSE 0 END AS g_nation,
            CASE WHEN l_seg = r_seg THEN 1 ELSE 0 END AS g_segment,
            CASE WHEN l_bal = r_bal THEN 2
                 WHEN abs(l_bal - r_bal) <= CAST(1.0 AS DOUBLE) THEN 1
                 ELSE 0 END AS g_acctbal
          FROM p JOIN l USING (l_id) JOIN r USING (r_id)
        ), s AS (
          SELECT l_id, r_id, g_name, g_nation, g_segment, g_acctbal,
                 ({weight}) AS match_weight, ({kexpr}) AS k
          FROM g
        ), sel AS (
          SELECT l_id, r_id, g_name, g_nation, g_segment, g_acctbal,
                 match_weight, k / (CAST(1.0 AS DOUBLE) + k) AS posterior
          FROM s
          WHERE k / (CAST(1.0 AS DOUBLE) + k) >= CAST(0.9 AS DOUBLE)
        )"""
    scores = base + """
        SELECT * FROM sel
    """
    resolved = base + """, rk AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY l_id ORDER BY posterior DESC, r_id ASC) AS rn
          FROM sel
        )
        SELECT l_id, r_id, g_name, g_nation, g_segment, g_acctbal,
               match_weight, posterior
        FROM rk WHERE rn = 1
    """
    return {
        "record_linkage_scores": scores,
        "record_linkage_resolved": resolved,
    }


ORACLES.update(_linkage_oracles())

# r8 late: Deequ-style audit — each constraint is plain SQL
# aggregates; metrics are ratios of exact integers (means via exact
# DECIMAL sums), rounded 6dp on both sides.
ORACLES["expectations_audit"] = """
    WITH rl AS (
      SELECT
        round(CAST(count(*) AS DOUBLE), 6) AS m_rows,
        round(CAST(count(c_name) AS DOUBLE)
              / CAST(GREATEST(count(*), 1) AS DOUBLE), 6) AS m_comp_name,
        round(CAST(count(c_acctbal) AS DOUBLE)
              / CAST(GREATEST(count(*), 1) AS DOUBLE), 6) AS m_comp_bal,
        round(CAST(min(c_acctbal) AS DOUBLE), 6) AS m_min_bal,
        round(CAST(max(c_acctbal) AS DOUBLE), 6) AS m_max_bal,
        round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE)
              / CAST(GREATEST(count(c_acctbal), 1) AS DOUBLE), 6)
          AS m_mean_bal,
        round(CAST(sum(CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING',
                'FURNITURE','HOUSEHOLD','MACHINERY') THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(GREATEST(count(*), 1) AS DOUBLE), 6)
          AS m_compliance
      FROM customer
    ), uq AS (
      SELECT round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(GREATEST(sum(n), 1) AS DOUBLE), 6) AS m
      FROM (SELECT c_custkey, count(*) AS n FROM customer
            GROUP BY c_custkey)
    ), dq AS (
      SELECT round(CAST(count(*) AS DOUBLE)
                   / CAST(GREATEST(sum(n), 1) AS DOUBLE), 6) AS m
      FROM (SELECT c_mktsegment, count(*) AS n FROM customer
            GROUP BY c_mktsegment)
    )
    SELECT 'row_count(*)' AS "constraint", '' AS "column",
           m_rows AS metric, m_rows >= 1.0 AS passed FROM rl
    UNION ALL SELECT 'completeness(c_name)', 'c_name',
           m_comp_name, m_comp_name >= 1.0 FROM rl
    UNION ALL SELECT 'completeness(c_acctbal)', 'c_acctbal',
           m_comp_bal, m_comp_bal >= 0.99 FROM rl
    UNION ALL SELECT 'uniqueness(c_custkey)', 'c_custkey',
           m, m >= 1.0 FROM uq
    UNION ALL SELECT 'distinctness(c_mktsegment)', 'c_mktsegment',
           m, m <= 0.01 FROM dq
    UNION ALL SELECT 'min(c_acctbal)', 'c_acctbal',
           m_min_bal, m_min_bal >= -1000.0 FROM rl
    UNION ALL SELECT 'max(c_acctbal)', 'c_acctbal',
           m_max_bal, m_max_bal <= 10000.0 FROM rl
    UNION ALL SELECT 'mean(c_acctbal)', 'c_acctbal', m_mean_bal,
           m_mean_bal >= 4000.0 AND m_mean_bal <= 5000.0 FROM rl
    UNION ALL SELECT 'compliance(mktsegment_domain)', '',
           m_compliance, m_compliance >= 1.0 FROM rl
"""

# r8 late: row-level quarantine — map-only CASE rules, sorted
# reasons array (NULL predicate results count as violations).
ORACLES["expectations_quarantine"] = """
    WITH v AS (
      SELECT doc_id, lang, n_chars,
        list_sort(list_filter([
          CASE WHEN NOT COALESCE(n_chars = length(text), FALSE)
               THEN 'chars_match' END,
          CASE WHEN NOT COALESCE(lang IN ('en','de','fr','es'), FALSE)
               THEN 'lang_known' END,
          CASE WHEN NOT COALESCE(n_chars >= 120, FALSE)
               THEN 'min_len' END,
          CASE WHEN NOT COALESCE(text IS NOT NULL AND length(text) > 0,
                                 FALSE)
               THEN 'text_present' END
        ], x -> x IS NOT NULL)) AS violations
      FROM documents
    )
    SELECT * FROM v WHERE len(violations) > 0
"""

# r8 late: percentile normalization — independent RANK()-window
# derivation of the same (rank-1)/(n-1) integers-and-one-division.
ORACLES["quality_percentiles"] = """
    SELECT doc_id, n_chars,
      CAST(rank() OVER (ORDER BY n_chars ASC) AS BIGINT) AS rank,
      CAST(rank() OVER (ORDER BY n_chars ASC) - 1 AS DOUBLE)
        / CAST(GREATEST(count(*) OVER () - 1, 1) AS DOUBLE) AS pct
    FROM documents
    WHERE n_chars IS NOT NULL
"""


def _hits_oracle(n_iter: int = 3) -> str:
    """Chained-CTE replay of the fixed-point HITS iterations (same
    technique as _pagerank_oracle): integer max-normalized
    half-steps, `//` == Spark `div`."""
    S = 1_000_000
    ctes = [
        """e AS (
      SELECT DISTINCT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst
      FROM documents
      WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97
    )""",
        """n AS (
      SELECT src AS node FROM e UNION SELECT dst AS node FROM e
    )""",
        f"""h0 AS (SELECT node, CAST({S} AS BIGINT) AS h FROM n)""",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""a{i}r AS (
      SELECT e.dst AS node, SUM(h) AS ar
      FROM e JOIN h{i - 1} ON h{i - 1}.node = e.src GROUP BY e.dst
    )"""
        )
        ctes.append(f"a{i}m AS (SELECT MAX(ar) AS m FROM a{i}r)")
        ctes.append(
            f"""a{i} AS (
      SELECT n.node,
        CAST(COALESCE((ar * {S}) // m, 0) AS BIGINT) AS a
      FROM n LEFT JOIN a{i}r USING (node) CROSS JOIN a{i}m
    )"""
        )
        ctes.append(
            f"""h{i}r AS (
      SELECT e.src AS node, SUM(a) AS hr
      FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY e.src
    )"""
        )
        ctes.append(f"h{i}m AS (SELECT MAX(hr) AS m FROM h{i}r)")
        ctes.append(
            f"""h{i} AS (
      SELECT n.node,
        CAST(COALESCE((hr * {S}) // m, 0) AS BIGINT) AS h
      FROM n LEFT JOIN h{i}r USING (node) CROSS JOIN h{i}m
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT h{n_iter}.node, h AS hub_fp, a AS auth_fp,
      round(CAST(h AS DOUBLE) / CAST({S} AS DOUBLE), 6) AS hub,
      round(CAST(a AS DOUBLE) / CAST({S} AS DOUBLE), 6) AS authority
    FROM h{n_iter} JOIN a{n_iter} USING (node)
    """
    )


ORACLES["hits_domains"] = _hits_oracle(3)


def _lpa_oracle(n_iter: int = 3) -> str:
    """Chained-CTE replay of synchronous label propagation on the
    planted 97-host graph — one (count → top-1 window → relabel)
    block per round, most-frequent neighbor label with
    smallest-label tie-break, exactly operators/graph.py::
    label_propagation."""
    parts = [
        """
    WITH e0 AS (
      SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst
      FROM documents
    ), e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e0 WHERE src != dst
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0 WHERE src != dst
      )
    ), n AS (
      SELECT DISTINCT src AS node FROM e
    ), l0 AS (
      SELECT node, node AS label FROM n
    )"""
    ]
    for i in range(1, n_iter + 1):
        p, c = f"l{i - 1}", f"l{i}"
        parts.append(
            f""", c{i} AS (
      SELECT e.src AS node, {p}.label, count(*) AS cnt
      FROM e JOIN {p} ON {p}.node = e.dst GROUP BY 1, 2
    ), w{i} AS (
      SELECT node, label FROM (
        SELECT node, label, row_number() OVER (
          PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
        FROM c{i}
      ) WHERE rn = 1
    ), {c} AS (
      SELECT n.node, COALESCE(w{i}.label, {p}.label) AS label
      FROM n LEFT JOIN w{i} USING (node) JOIN {p} USING (node)
    )"""
        )
    parts.append(f"\n    SELECT node, label FROM l{n_iter}")
    return "".join(parts)


ORACLES["lpa_communities"] = _lpa_oracle(3)

# r8 late: sliding-window chunking — integer boundary arithmetic
# (ceil-div chunk count, 1-based slice) replays exactly.
ORACLES["document_chunks"] = """
    WITH t AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    x -> x != '') AS tk
      FROM documents
    ), k AS (
      SELECT doc_id, tk, len(tk) AS n,
        CASE WHEN len(tk) <= 32 THEN 1
             ELSE (len(tk) - 32 + 23) // 24 + 1 END AS nchunks
      FROM t
    ), e AS (
      SELECT doc_id, tk, n,
        unnest(range(0, nchunks)) AS chunk_id
      FROM k
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      CAST(len(list_slice(tk, chunk_id * 24 + 1,
                          LEAST(chunk_id * 24 + 32, n))) AS BIGINT)
        AS n_chunk_tokens,
      array_to_string(list_slice(tk, chunk_id * 24 + 1,
                                 LEAST(chunk_id * 24 + 32, n)), ' ')
        AS chunk_text
    FROM e
"""

# r8 late: key-skew report — counts, ranks and exact-count shares.
ORACLES["key_skew_report"] = """
    WITH c AS (
      SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1
    ), t AS (
      SELECT count(*) AS total FROM events
    ), top AS (
      SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 20
    )
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
      CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS INTEGER)
        AS rank,
      CAST(cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
      CAST(sum(cnt) OVER (ORDER BY cnt DESC, key ASC
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        / CAST(t.total AS DOUBLE) AS cum_share
    FROM top CROSS JOIN t
"""

# r8 late: temperature mixture — budget derivation (pow rounded 6dp,
# decimal normalizer, floor) and md5 membership replay exactly.
ORACLES["temperature_mixture"] = """
    WITH c AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), t AS (
      SELECT sum(n) AS nt FROM c
    ), w AS (
      SELECT lang, n,
        CAST(round(pow(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE),
                       CAST(0.7 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wv
      FROM c CROSS JOIN t
    ), ws AS (
      SELECT sum(wv) AS wsum FROM w
    ), tg AS (
      SELECT lang, n,
        CAST(FLOOR(CAST(300 AS DOUBLE) * CAST(wv AS DOUBLE)
                   / CAST(wsum AS DOUBLE)) AS BIGINT) AS tgt
      FROM w CROSS JOIN ws
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN tg USING (lang)
    WHERE ('0x' || substr(md5('tm8' || CAST(d.doc_id AS VARCHAR)), 1, 15))
            ::BIGINT % 100000000
      < CASE WHEN tgt <= 0 THEN 0 ELSE
          LEAST(CAST(100000000 AS BIGINT),
                GREATEST(CAST(1 AS BIGINT),
                         CAST(100000000 AS BIGINT) * LEAST(tgt, n) // n))
        END
"""

# r8 late: WARC round-trip — the oracle is the parquet original, so
# the writer/reader pair must be lossless.
ORACLES["warc_source"] = """
    SELECT doc_id, 'response' AS warc_type,
           CAST(200 AS INTEGER) AS http_status, text AS content
    FROM documents
"""

# r8 late: streaming CDC apply — the oracle replays the literal
# batch split (b = orderkey % 2, batch 0 first): applied ⇔
# within-(key, b) winner AND (b = 0 OR beats the key's batch-0 max).
ORACLES["streaming_cdc"] = """
    WITH ch AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             o_orderkey % 2 AS b
      FROM orders
    ), m0 AS (
      SELECT o_custkey, max(o_orderkey) AS mx0
      FROM ch WHERE b = 0 GROUP BY o_custkey
    ), w AS (
      SELECT ch.*, row_number() OVER (
        PARTITION BY o_custkey, b ORDER BY o_orderkey DESC) AS rn
      FROM ch
    )
    SELECT w.o_custkey, w.o_orderkey, w.o_totalprice,
      (rn = 1 AND (b = 0 OR w.o_orderkey > COALESCE(m0.mx0, -1)))
        AS applied
    FROM w LEFT JOIN m0 USING (o_custkey)
"""

# r8 late: strict point-in-time SCD2 lookup — the oracle states the
# semantics directly (previous order's price via LAG), independent
# of the interval-join plan.
ORACLES["scd2_lookup"] = """
    SELECT o_orderkey, o_custkey, o_totalprice,
      lag(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey ASC)
        AS prev_totalprice
    FROM orders
"""

# r8 late: PSI drift — literal bin universe, exact-count fractions,
# 6dp terms summed as decimal per column.
ORACLES["drift_psi"] = """
    WITH universe(col_name, bin) AS (
      VALUES
        ('n_chars','(-inf,100)'), ('n_chars','[100,200)'),
        ('n_chars','[200,300)'), ('n_chars','[300,400)'),
        ('n_chars','[400,inf)'), ('n_chars','<null>'),
        ('lang','en'), ('lang','de'), ('lang','fr'), ('lang','es'),
        ('lang','<other>'), ('lang','<null>')
    ), binned AS (
      SELECT doc_id, lang,
        CASE WHEN n_chars IS NULL THEN '<null>'
             WHEN n_chars < 100 THEN '(-inf,100)'
             WHEN n_chars < 200 THEN '[100,200)'
             WHEN n_chars < 300 THEN '[200,300)'
             WHEN n_chars < 400 THEN '[300,400)'
             ELSE '[400,inf)' END AS nb,
        CASE WHEN lang IS NULL THEN '<null>'
             WHEN lang = 'en' THEN 'en' WHEN lang = 'de' THEN 'de'
             WHEN lang = 'fr' THEN 'fr' WHEN lang = 'es' THEN 'es'
             ELSE '<other>' END AS lb
      FROM documents
    ), long AS (
      SELECT 'n_chars' AS col_name, nb AS bin, lang FROM binned
      UNION ALL
      SELECT 'lang', lb, lang FROM binned
    ), rc AS (
      SELECT col_name, bin, count(*) AS rc FROM long
      WHERE lang = 'en' GROUP BY 1, 2
    ), cc AS (
      SELECT col_name, bin, count(*) AS cc FROM long GROUP BY 1, 2
    ), rt AS (
      SELECT count(*) AS rt2 FROM documents WHERE lang = 'en'
    ), ct AS (
      SELECT count(*) AS ct2 FROM documents
    ), f AS (
      SELECT u.col_name, u.bin,
        CAST(COALESCE(rc.rc, 0) AS DOUBLE) / CAST(rt.rt2 AS DOUBLE) AS p,
        CAST(COALESCE(cc.cc, 0) AS DOUBLE) / CAST(ct.ct2 AS DOUBLE) AS q
      FROM universe u
      LEFT JOIN rc ON rc.col_name = u.col_name AND rc.bin = u.bin
      LEFT JOIN cc ON cc.col_name = u.col_name AND cc.bin = u.bin
      CROSS JOIN rt CROSS JOIN ct
    ), t AS (
      SELECT col_name, bin, p, q,
        CAST(round(
          (GREATEST(p, CAST(0.0001 AS DOUBLE))
           - GREATEST(q, CAST(0.0001 AS DOUBLE)))
          * ln(GREATEST(p, CAST(0.0001 AS DOUBLE))
               / GREATEST(q, CAST(0.0001 AS DOUBLE))), 6)
          AS DECIMAL(28,6)) AS term
      FROM f
    )
    SELECT col_name AS "column", bin, p AS ref_frac, q AS cur_frac,
      CAST(term AS DOUBLE) AS psi_term,
      CAST(sum(term) OVER (PARTITION BY col_name) AS DOUBLE) AS psi
    FROM t
"""

# r8 late: count-min sketch — md5 cells replay exactly; the probe
# list and the CROSS JOIN over hash rows mirror the Spark plan.
ORACLES["token_freq_cms"] = """
    WITH t AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x != '')) AS tok
      FROM documents
    ), dd AS (
      SELECT unnest([0, 1, 2, 3]) AS d
    ), cells AS (
      SELECT d,
        ('0x' || substr(md5('cm8' || CAST(d AS VARCHAR) || chr(31) || tok),
                        1, 15))::BIGINT % 4096 AS bucket,
        count(*) AS cnt
      FROM t CROSS JOIN dd GROUP BY 1, 2
    ), probes AS (
      SELECT unnest(['join','hash','row','batch','scan','the','vector',
                     'stream','zzz_absent']) AS term
    ), keys AS (
      SELECT term, d,
        ('0x' || substr(md5('cm8' || CAST(d AS VARCHAR) || chr(31) || term),
                        1, 15))::BIGINT % 4096 AS bucket
      FROM probes CROSS JOIN dd
    ), est AS (
      SELECT term, CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
      FROM keys k LEFT JOIN cells c USING (d, bucket) GROUP BY term
    ), tr AS (
      SELECT tok AS term, CAST(count(*) AS BIGINT) AS true_cnt
      FROM t
      WHERE tok IN ('join','hash','row','batch','scan','the','vector',
                    'stream','zzz_absent')
      GROUP BY tok
    )
    SELECT e.term, COALESCE(tr.true_cnt, CAST(0 AS BIGINT)) AS true_cnt,
           e.est
    FROM est e LEFT JOIN tr USING (term)
"""

# r8 late: CDC merge — the oracle derives the merged snapshot from
# the changelog's SEMANTICS (deletes gone, updates re-priced,
# inserts added), independent of the window/join plan.
ORACLES["cdc_merge"] = """
    SELECT c_custkey, c_name, c_nationkey,
      CASE WHEN c_custkey % 10 = 0
           THEN c_acctbal + CAST(100.0 AS DOUBLE)
           ELSE c_acctbal END AS c_acctbal,
      c_mktsegment
    FROM customer WHERE c_custkey % 17 <> 0
    UNION ALL
    SELECT c_custkey + 1000000, c_name || '_new', c_nationkey,
           c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 25 = 0
"""

# r8 late: SCD2 validity intervals — one lead() window per key.
ORACLES["scd2_history"] = """
    SELECT o_custkey, o_orderkey, o_totalprice,
      o_orderkey AS valid_from,
      lead(o_orderkey) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey ASC) AS valid_to,
      (lead(o_orderkey) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey ASC) IS NULL)
        AS is_current
    FROM orders
"""

# r8 late: hybrid dense+sparse RRF — both candidate lists replay
# deterministically (rounded cosine / exact-decimal BM25), the
# fused score is a fixed-order sum of two IEEE divisions.
ORACLES["hybrid_search_rrf"] = """
    WITH dense AS (
      SELECT vec_id AS id,
        ROUND(list_cosine_similarity(
          CAST(embedding AS DOUBLE[]),
          (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
           WHERE vec_id = 0)), 4) AS s
      FROM embeddings
      ORDER BY s DESC, id ASC LIMIT 20
    ), dr AS (
      SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS rank
      FROM dense
    ), toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    t -> t <> '') AS tk
      FROM documents
    ), lens AS (
      SELECT doc_id, len(tk) AS dl FROM toks
    ), stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens
    ), post AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
      WHERE term IN ('hash','join','merge','sort')
      GROUP BY doc_id, term
    ), dft AS (
      SELECT term, count(*) AS df FROM post GROUP BY term
    ), per AS (
      SELECT p.doc_id,
        CAST(round(
          ln(CAST(1.0 AS DOUBLE)
             + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
                + CAST(0.5 AS DOUBLE))
               / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
          * CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
          / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
             * (CAST(0.25 AS DOUBLE)
                + CAST(0.75 AS DOUBLE) * CAST(l.dl AS DOUBLE)
                  / (CAST(s.total_dl AS DOUBLE)
                     / CAST(s.n_docs AS DOUBLE)))),
          6) AS DECIMAL(28,6)) AS c_q
      FROM post p JOIN dft d USING (term) JOIN lens l USING (doc_id)
      CROSS JOIN stats s
    ), sparse AS (
      SELECT doc_id AS id, CAST(sum(c_q) AS DOUBLE) AS score
      FROM per GROUP BY doc_id
      ORDER BY score DESC, id ASC LIMIT 20
    ), sr AS (
      SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank
      FROM sparse
    ), f AS (
      SELECT COALESCE(dr.id, sr.id) AS id, dr.rank AS r0, sr.rank AS r1
      FROM dr FULL OUTER JOIN sr ON dr.id = sr.id
    )
    SELECT id,
      CAST((CASE WHEN r0 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN r1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_lists,
      (CASE WHEN r0 IS NOT NULL
            THEN CAST(1.0 AS DOUBLE)
                 / (CAST(60.0 AS DOUBLE) + CAST(r0 AS DOUBLE))
            ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN r1 IS NOT NULL
            THEN CAST(1.0 AS DOUBLE)
                 / (CAST(60.0 AS DOUBLE) + CAST(r1 AS DOUBLE))
            ELSE CAST(0.0 AS DOUBLE) END) AS rrf_score
    FROM f ORDER BY rrf_score DESC, id ASC LIMIT 10
"""

# r8 late: BM25 lexical top-10. Every numeric literal is CAST to
# DOUBLE (bare literals parse as DECIMAL in DuckDB and poison the
# arithmetic); per-term contributions round to 6dp and sum as exact
# DECIMAL(28,6), so the ranking replays bit-identically.
ORACLES["bm25_search"] = """
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    t -> t <> '') AS tk
      FROM documents
    ), lens AS (
      SELECT doc_id, len(tk) AS dl FROM toks
    ), stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens
    ), post AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
      WHERE term IN ('hash','join','merge','sort')
      GROUP BY doc_id, term
    ), dft AS (
      SELECT term, count(*) AS df FROM post GROUP BY term
    ), per AS (
      SELECT p.doc_id,
        CAST(round(
          ln(CAST(1.0 AS DOUBLE)
             + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
                + CAST(0.5 AS DOUBLE))
               / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
          * CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
          / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
             * (CAST(0.25 AS DOUBLE)
                + CAST(0.75 AS DOUBLE) * CAST(l.dl AS DOUBLE)
                  / (CAST(s.total_dl AS DOUBLE)
                     / CAST(s.n_docs AS DOUBLE)))),
          6) AS DECIMAL(28,6)) AS c_q
      FROM post p JOIN dft d USING (term) JOIN lens l USING (doc_id)
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
           CAST(sum(c_q) AS DOUBLE) AS score
    FROM per GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC LIMIT 10
"""

# the indexed probe scores identically to the direct query
ORACLES["bm25_indexed"] = ORACLES["bm25_search"]


def _pagerank_oracle(
    n_iter: int = 3,
    tail: str | None = None,
    seed_pred: str | None = None,
    weighted: bool = False,
) -> str:
    """Chained-CTE replay of q_domain_pagerank's fixed-point power
    iterations: every Spark op (integer div, damped sum, base rank)
    maps 1:1 to BIGINT arithmetic — DuckDB's `//` is Spark's `div`,
    and HUGEINT SUM outputs are cast back to BIGINT per iteration.
    ``seed_pred`` (a SQL predicate over ``node``) switches to the
    TrustRank variant: base/init mass on seed nodes only."""
    if seed_pred is None:
        base_sql, init_sql = "150000000", "1000000000"
    else:
        base_sql = f"(CASE WHEN {seed_pred.replace('node', 'n.node')} THEN 150000000 ELSE 0 END)"
        init_sql = f"(CASE WHEN {seed_pred} THEN 1000000000 ELSE 0 END)"
    contrib = (
        "(r.rank_fp * e.w) // o.outdeg" if weighted
        else "r.rank_fp // o.outdeg"
    )
    prev = "r0"
    iters = ""
    for it in range(1, n_iter + 1):
        iters += f""",
        i{it} AS (
          SELECT n.node,
            CAST({base_sql} + ((85 * COALESCE(s.in_sum, 0)) // 100)
                 AS BIGINT) AS rank_fp
          FROM n LEFT JOIN (
            SELECT e.dst AS node,
              CAST(SUM({contrib}) AS BIGINT) AS in_sum
            FROM e
            JOIN {prev} r ON r.node = e.src
            JOIN o ON o.src = e.src
            GROUP BY e.dst) s USING (node)
        )"""
        prev = f"i{it}"
    if tail is None:
        tail = """
        SELECT node, rank_fp,
          ROUND(rank_fp / CAST(1000000000.0 AS DOUBLE), 6) AS rank
        FROM {prev}
        """
    if weighted:
        e_cte = """
          SELECT (doc_id % 97) AS src, ((doc_id * 31 + 7) % 97) AS dst,
                 CAST(COUNT(*) AS BIGINT) AS w
          FROM documents
          WHERE (doc_id % 97) != ((doc_id * 31 + 7) % 97)
          GROUP BY 1, 2"""
        o_cte = "SELECT src, CAST(SUM(w) AS BIGINT) AS outdeg FROM e GROUP BY src"
    else:
        e_cte = """
          SELECT DISTINCT (doc_id % 97) AS src,
                          ((doc_id * 31 + 7) % 97) AS dst
          FROM documents
          WHERE (doc_id % 97) != ((doc_id * 31 + 7) % 97)"""
        o_cte = "SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src"
    return f"""
        WITH e AS ({e_cte}
        ), o AS (
          {o_cte}
        ), n AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        ), r0 AS (
          SELECT node, CAST({init_sql} AS BIGINT) AS rank_fp FROM n
        ){iters}
        {tail.format(prev=prev)}
    """


ORACLES["domain_pagerank"] = _pagerank_oracle(3)
ORACLES["trustrank_domains"] = _pagerank_oracle(3, seed_pred="node < 10")
ORACLES["pagerank_weighted"] = _pagerank_oracle(3, weighted=True)


def _numeric_assoc_oracle(method: str = "pearson") -> str:
    """One-pass Pearson/Spearman replay: integer cents (or integer
    doubled average ranks), exact HUGEINT sums, double formula from
    the exact integers, 6dp round — mirrors
    report/associations.py::numeric_associations term for term."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    short = {c: c.replace("l_", "") for c in cols}
    if method == "spearman":
        ints = ", ".join(
            f"CAST(2 * RANK() OVER (ORDER BY {c})"
            f" + COUNT(*) OVER (PARTITION BY {c}) - 1 AS BIGINT)"
            f" AS {short[c]}"
            for c in cols
        )
    else:
        ints = ", ".join(
            f"CAST(CAST({c} AS DECIMAL(12,2)) * 100 AS BIGINT) AS {short[c]}"
            for c in cols
        )
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    sums = ["COUNT(*) AS n"]
    for c in cols:
        sums.append(f"SUM({short[c]}) AS s_{short[c]}")
    for i, a in enumerate(cols):
        for b in cols[i:]:
            sums.append(
                f"SUM({short[a]} * {short[b]}) AS p_{short[a]}_{short[b]}"
            )
    branches = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            sa, sb = short[a], short[b]
            rname = "spearman_r" if method == "spearman" else "pearson_r"
            branches.append(f"""
      SELECT '{a}' AS left_column_name, '{b}' AS right_column_name,
        ROUND(CAST(n * p_{sa}_{sb} - s_{sa} * s_{sb} AS DOUBLE)
              / sqrt(CAST(n * p_{sa}_{sa} - s_{sa} * s_{sa} AS DOUBLE)
                     * CAST(n * p_{sb}_{sb} - s_{sb} * s_{sb} AS DOUBLE)),
              6) AS {rname}
      FROM s""")
    return f"""
        WITH ints AS (
          SELECT {ints} FROM lineitem WHERE {notnull}
        ), s AS (
          SELECT {", ".join(sums)} FROM ints
        )
        {" UNION ALL ".join(branches)}
    """


ORACLES["numeric_associations"] = _numeric_assoc_oracle()
ORACLES["spearman_associations"] = _numeric_assoc_oracle("spearman")

def _zorder_oracle(bits: int = 16) -> str:
    """Bit-for-bit replay of q_zorder_keys: the same clamp/scale
    (identical double ops) then the interleave as a sum of shifted
    bit extracts."""
    cells = [
        ("c0", "doc_id", 0.0, 5000.0),
        ("c1", "n_chars", 0.0, 600.0),
    ]
    n = len(cells)
    cell_sql = ", ".join(
        f"least(CAST({2 ** bits - 1} AS BIGINT), greatest(CAST(0 AS BIGINT),"
        f" CAST(floor((CAST({col} AS DOUBLE) - CAST({lo!r} AS DOUBLE))"
        f" / CAST({hi - lo!r} AS DOUBLE)"
        f" * CAST({float(2 ** bits)!r} AS DOUBLE)) AS BIGINT))) AS {name}"
        for name, col, lo, hi in cells
    )
    terms = " + ".join(
        f"CAST({2 ** (i * n + ci)} AS BIGINT) * (({name} >> {i}) & 1)"
        for i in range(bits)
        for ci, (name, _, _, _) in enumerate(cells)
    )
    return f"""
        WITH cells AS (SELECT doc_id, {cell_sql} FROM documents)
        SELECT doc_id, CAST({terms} AS BIGINT) AS zkey FROM cells
    """


ORACLES["zorder_keys"] = _zorder_oracle(16)


def _hilbert_oracle(bits: int = 8) -> str:
    """Level-by-level replay of q_hilbert_keys: the same clamp/scale
    cells, then one chained CTE per bit level carrying (d, x, y)
    through the rotate-and-reflect walk — integer ops only."""
    cells = [
        ("x", "doc_id", 0.0, 5000.0),
        ("y", "n_chars", 0.0, 600.0),
    ]
    cell_sql = ", ".join(
        f"least(CAST({2 ** bits - 1} AS BIGINT), greatest(CAST(0 AS BIGINT),"
        f" CAST(floor((CAST({col} AS DOUBLE) - CAST({lo!r} AS DOUBLE))"
        f" / CAST({hi - lo!r} AS DOUBLE)"
        f" * CAST({float(2 ** bits)!r} AS DOUBLE)) AS BIGINT))) AS {name}"
        for name, col, lo, hi in cells
    )
    n1 = (1 << bits) - 1
    steps = []
    prev = "l0"
    for i, level in enumerate(range(bits - 1, -1, -1), start=1):
        s = 1 << level
        rx = f"((x >> {level}) & 1)"
        ry = f"((y >> {level}) & 1)"
        steps.append(
            f"l{i} AS (SELECT doc_id,"
            f" d + CAST({s * s} AS BIGINT) * xor({rx} * 3, {ry}) AS d,"
            f" CASE WHEN {ry} = 0 THEN"
            f"   (CASE WHEN {rx} = 1 THEN {n1} - y ELSE y END)"
            f" ELSE x END AS x,"
            f" CASE WHEN {ry} = 0 THEN"
            f"   (CASE WHEN {rx} = 1 THEN {n1} - x ELSE x END)"
            f" ELSE y END AS y"
            f" FROM {prev})"
        )
        prev = f"l{i}"
    return f"""
        WITH cells AS (SELECT doc_id, {cell_sql} FROM documents),
        l0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS d, x, y FROM cells),
        {", ".join(steps)}
        SELECT doc_id, d AS hkey FROM {prev}
    """


ORACLES["hilbert_keys"] = _hilbert_oracle(8)

def _entity_oracle() -> str:
    """Oracle for entity_counts, GENERATED from ENTITY_PATTERNS +
    the planted suffix list (quotes SQL-escaped)."""
    from .functions.text import ENTITY_PATTERNS

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    n = len(_ENTITY_SUFFIXES)
    cases = " ".join(
        f"WHEN doc_id % {n} = {i} THEN {q(s)}"
        for i, s in enumerate(_ENTITY_SUFFIXES[:-1])
    )
    planted = (
        f"(COALESCE(text, '') || CASE {cases} "
        f"ELSE {q(_ENTITY_SUFFIXES[-1])} END)"
    )
    counts = ", ".join(
        f"CAST(COALESCE(len(regexp_extract_all(t, {q(p)})), 0)"
        f" AS BIGINT) AS n_{name}"
        for name, p in ENTITY_PATTERNS.items()
    )
    return f"""
      WITH p AS (SELECT doc_id, {planted} AS t FROM documents)
      SELECT doc_id, {counts} FROM p
    """


ORACLES["entity_counts"] = _entity_oracle()

# r9: group robust scaling — the latency_sla rank-selection rule
# for the quartiles, then one subtract/divide per row.
ORACLES["robust_scale_group"] = """
    WITH counts AS (
      SELECT o_orderpriority AS g, o_totalprice AS v, count(*) AS c
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT g, v,
        sum(c) OVER (PARTITION BY g ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS cum,
        sum(c) OVER (PARTITION BY g) AS n
      FROM counts
    ), q AS (
      SELECT g,
        min(CASE WHEN cum >= (2500 * n + 9999) // 10000 THEN v END)
          AS q1,
        min(CASE WHEN cum >= (5000 * n + 9999) // 10000 THEN v END)
          AS med,
        min(CASE WHEN cum >= (7500 * n + 9999) // 10000 THEN v END)
          AS q3
      FROM cum GROUP BY 1
    )
    SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
      CASE WHEN o.o_totalprice IS NOT NULL AND q.q3 - q.q1 > 0 THEN
        round((CAST(o.o_totalprice AS DOUBLE) - CAST(q.med AS DOUBLE))
              / (CAST(q.q3 AS DOUBLE) - CAST(q.q1 AS DOUBLE)), 6)
      END AS scaled
    FROM orders o LEFT JOIN q ON q.g = o.o_orderpriority
"""

# r9: Mann-Whitney U — midranks in 2x integer space over distinct
# values; every float op replays in the same order.
ORACLES["mwu_test"] = """
    WITH two AS (
      SELECT event_type = 'purchase' AS is_a, value AS v FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ), counts AS (
      SELECT v, count(*) AS t,
        SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ta
      FROM two GROUP BY 1
    ), ranked AS (
      SELECT v, t, ta,
        2 * (sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t)
          + t + 1 AS dr
      FROM counts
    ), agg AS (
      SELECT CAST(sum(ta) AS BIGINT) AS n_a,
        CAST(sum(t - ta) AS BIGINT) AS n_b,
        CAST(sum(ta * dr) AS BIGINT) AS r2a,
        CAST(sum(t * t * t - t) AS BIGINT) AS ties
      FROM ranked
    ), u AS (
      SELECT n_a, n_b, ties,
        CAST(r2a AS DOUBLE) / CAST(2 AS DOUBLE)
          - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE)
                                   + CAST(1 AS DOUBLE))
            / CAST(2 AS DOUBLE) AS ua,
        CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n
      FROM agg
    )
    SELECT n_a, n_b, round(ua, 6) AS u_a,
      round(na * nb - ua, 6) AS u_b,
      CASE WHEN na * nb / CAST(12 AS DOUBLE)
                * ((n + CAST(1 AS DOUBLE))
                   - CAST(ties AS DOUBLE)
                     / (n * (n - CAST(1 AS DOUBLE)))) > 0 THEN
        round((ua - na * nb / CAST(2 AS DOUBLE))
              / sqrt(na * nb / CAST(12 AS DOUBLE)
                     * ((n + CAST(1 AS DOUBLE))
                        - CAST(ties AS DOUBLE)
                          / (n * (n - CAST(1 AS DOUBLE))))), 6)
      END AS z
    FROM u
"""

# r9: chi-square drift — HUGEINT exact numerators (the Spark side
# uses DECIMAL(38,0); identical integers either way at any
# realizable count).
ORACLES["drift_chi2"] = """
    WITH b AS (
      SELECT COALESCE(CAST(event_type AS VARCHAR), '<null>') AS cat,
        count(*) AS nb
      FROM events WHERE day(ts) <= 15 GROUP BY 1
    ), c AS (
      SELECT COALESCE(CAST(event_type AS VARCHAR), '<null>') AS cat,
        count(*) AS nc
      FROM events WHERE day(ts) > 15 GROUP BY 1
    ), cells AS (
      SELECT COALESCE(b.cat, c.cat) AS cat,
        COALESCE(nb, 0) AS nb, COALESCE(nc, 0) AS nc,
        COALESCE(nb, 0) + COALESCE(nc, 0) AS rowtot
      FROM b FULL JOIN c ON b.cat = c.cat
    ), tot AS (
      SELECT sum(nb) AS tb, sum(nc) AS tc FROM cells
    ), per AS (
      SELECT cat,
        CAST(round(
          CAST((CAST(nb AS HUGEINT) * (tb + tc)
                - CAST(rowtot AS HUGEINT) * tb)
               * (CAST(nb AS HUGEINT) * (tb + tc)
                  - CAST(rowtot AS HUGEINT) * tb) AS DOUBLE)
          / CAST(CAST(rowtot AS HUGEINT) * tb * (tb + tc) AS DOUBLE),
          6) AS DECIMAL(28,6))
        + CAST(round(
          CAST((CAST(nc AS HUGEINT) * (tb + tc)
                - CAST(rowtot AS HUGEINT) * tc)
               * (CAST(nc AS HUGEINT) * (tb + tc)
                  - CAST(rowtot AS HUGEINT) * tc) AS DOUBLE)
          / CAST(CAST(rowtot AS HUGEINT) * tc * (tb + tc) AS DOUBLE),
          6) AS DECIMAL(28,6)) AS t
      FROM cells CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_categories,
      CAST(count(*) - 1 AS BIGINT) AS dof,
      CAST((SELECT tb FROM tot) AS BIGINT) AS n_baseline,
      CAST((SELECT tc FROM tot) AS BIGINT) AS n_current,
      round(CAST(sum(t) AS DOUBLE), 6) AS chi2
    FROM per
"""


# r9: STL-lite decomposition — the same window/decimal arithmetic;
# dow grouping needs no +1 shift (only partition identity matters).
ORACLES["stl_daily"] = """
    WITH daily AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
        SUM(CAST(value AS DECIMAL(12,2))) AS value
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT series, day, value,
        CASE WHEN count(*) OVER w = 7 THEN
          round(CAST(sum(value) OVER w AS DOUBLE)
                / CAST(7.0 AS DOUBLE), 6) END AS trend
      FROM daily
      WINDOW w AS (PARTITION BY series ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), d AS (
      SELECT series, day, value, trend,
        round(CAST(value AS DOUBLE) - trend, 6) AS detrended
      FROM t
    ), s AS (
      SELECT series, dayofweek(day) AS dow,
        round(CAST(SUM(CAST(detrended AS DECIMAL(28,6))) AS DOUBLE)
              / CAST(count(detrended) AS DOUBLE), 6) AS seasonal
      FROM d GROUP BY 1, 2
    )
    SELECT d.series, d.day, CAST(d.value AS DOUBLE) AS value,
      d.trend, s.seasonal,
      round(d.detrended - s.seasonal, 6) AS residual
    FROM d JOIN s ON s.series = d.series AND s.dow = dayofweek(d.day)
"""

ORACLES["cumulative_users"] = """
    WITH ev AS (
      SELECT user_id AS e, CAST(ts AS DATE) AS day FROM events
    ), active AS (
      SELECT day, CAST(count(DISTINCT e) AS BIGINT) AS n_active
      FROM ev GROUP BY 1
    ), firsts AS (
      SELECT day, CAST(count(*) AS BIGINT) AS new_entities FROM (
        SELECT e, min(day) AS day FROM ev GROUP BY 1
      ) f GROUP BY 1
    )
    SELECT a.day, a.n_active,
      CAST(COALESCE(f.new_entities, 0) AS BIGINT) AS new_entities,
      CAST(sum(COALESCE(f.new_entities, 0)) OVER (
        ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS cum_entities
    FROM active a LEFT JOIN firsts f USING (day)
"""

ORACLES["fk_orphans"] = """
    WITH parent AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_custkey % 97 != 0
    ), counts AS (
      SELECT o_custkey AS k, count(*) AS c FROM orders
      WHERE o_custkey IS NOT NULL GROUP BY 1
    ), orphans AS (
      SELECT counts.k, counts.c FROM counts
      WHERE NOT EXISTS (SELECT 1 FROM parent WHERE parent.k = counts.k)
    )
    SELECT
      CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_child_rows,
      CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
           AS BIGINT) AS n_null_rows,
      CAST((SELECT count(*) FROM counts) AS BIGINT) AS n_child_keys,
      CAST((SELECT count(*) FROM orphans) AS BIGINT) AS n_orphan_keys,
      CAST((SELECT COALESCE(sum(c), 0) FROM orphans) AS BIGINT)
        AS n_orphan_rows,
      round(CAST((SELECT COALESCE(sum(c), 0) FROM orphans) AS DOUBLE)
            / CAST(greatest((SELECT count(*) FROM orders), 1)
                   AS DOUBLE), 6) AS orphan_row_rate
"""


# r9: linear multi-touch attribution — the join replay, with the
# no-qualifying-touch conversions appended via NOT EXISTS.
ORACLES["attribution_linear"] = """
    WITH ev AS (
      SELECT user_id AS entity, epoch_us(ts) AS us,
        CAST(event_id AS BIGINT) AS eid, event_type AS state
      FROM events
    ), conv AS (
      SELECT entity, eid AS conversion_id, us AS conversion_us
      FROM ev WHERE state = 'purchase'
    ), touch AS (
      SELECT entity, eid AS touch_id, us AS touch_us,
        state AS touch_state
      FROM ev WHERE state != 'purchase'
    ), j AS (
      SELECT c.entity, c.conversion_id, c.conversion_us,
        t.touch_id, t.touch_us, t.touch_state
      FROM conv c JOIN touch t ON c.entity = t.entity
        AND (t.touch_us < c.conversion_us
             OR (t.touch_us = c.conversion_us
                 AND t.touch_id < c.conversion_id))
        AND t.touch_us > c.conversion_us - 604800000000
    ), n AS (
      SELECT entity, conversion_id, count(*) AS n_touches
      FROM j GROUP BY 1, 2
    )
    SELECT j.entity, j.conversion_id, j.conversion_us,
      j.touch_id, j.touch_us, j.touch_state,
      CAST(n.n_touches AS BIGINT) AS n_touches,
      round(CAST(1 AS DOUBLE) / CAST(n.n_touches AS DOUBLE), 6)
        AS credit
    FROM j JOIN n USING (entity, conversion_id)
    UNION ALL
    SELECT c.entity, c.conversion_id, c.conversion_us,
      CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      CAST(NULL AS VARCHAR), CAST(0 AS BIGINT),
      CAST(NULL AS DOUBLE)
    FROM conv c
    WHERE NOT EXISTS (
      SELECT 1 FROM j
      WHERE j.entity = c.entity AND j.conversion_id = c.conversion_id
    )
"""


# r9: the sniffer must recover the planting rule exactly
ORACLES["mime_sniff"] = (
    "SELECT doc_id, CASE doc_id % 8 "
    + " ".join(
        f"WHEN {i} THEN '{m}'" for i, m in enumerate(_MIME_PLAN)
    )
    + " END AS mime FROM documents"
)

ORACLES["value_quantile_sketch"] = """
    WITH kept AS (
      SELECT event_type, value, event_id,
        ROW_NUMBER() OVER (
          PARTITION BY event_type
          ORDER BY value ASC NULLS LAST, event_id ASC) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE ('0x' || substr(md5('vq8' || CAST(event_id AS VARCHAR)),
                            1, 15))::BIGINT % 100000000 < 25000000
    )
    SELECT event_type, q, value
    FROM kept
    CROSS JOIN (SELECT unnest([CAST(0.25 AS DOUBLE),
                               CAST(0.5 AS DOUBLE),
                               CAST(0.9 AS DOUBLE)]) AS q) qs
    WHERE rn = greatest(CAST(1 AS BIGINT),
                        CAST(ceiling(q * n) AS BIGINT))
"""

ORACLES["snapshot_diff"] = """
    WITH old AS (SELECT doc_id FROM documents),
    new AS (
      SELECT doc_id, (doc_id % 5 = 0) AS chg
      FROM documents WHERE doc_id % 7 != 0
      UNION ALL
      SELECT doc_id + 3000000, false FROM documents WHERE doc_id < 40
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      CASE WHEN o.doc_id IS NULL THEN 'added'
           WHEN n.doc_id IS NULL THEN 'removed'
           WHEN n.chg THEN 'changed'
           ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
"""

ORACLES["token_cardinality_sketch"] = """
    WITH t AS (
      SELECT lang,
        unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '')) AS tok
      FROM documents
    ), e AS (
      SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_true
      FROM t GROUP BY lang
    ), s AS (
      SELECT lang, CAST(COUNT(DISTINCT tok) * 16 AS BIGINT) AS distinct_est
      FROM t
      WHERE ('0x' || substr(md5('kc8' || tok), 1, 15))::BIGINT % 16 = 0
      GROUP BY lang
    )
    SELECT e.lang, e.distinct_true,
      COALESCE(s.distinct_est, CAST(0 AS BIGINT)) AS distinct_est
    FROM e LEFT JOIN s USING (lang)
"""

# PageRank prior -> sample_weighted gate: rank is 6dp-rounded, so
# rank * 0.25 * 10^8 is integer-exact in double and DuckDB's
# round-on-CAST == Spark's trunc-on-cast
ORACLES["rank_gated_corpus"] = _pagerank_oracle(3, tail="""
        , r AS (
          SELECT node,
            ROUND(rank_fp / CAST(1000000000.0 AS DOUBLE), 6) AS host_rank
          FROM {prev}
        )
        SELECT d.doc_id, (d.doc_id % 97) AS host,
          COALESCE(r.host_rank, CAST(0.0 AS DOUBLE)) AS host_rank
        FROM documents d LEFT JOIN r ON r.node = (d.doc_id % 97)
        WHERE ('0x' || substr(md5('rg8' || CAST(d.doc_id AS VARCHAR)),
                              1, 15))::BIGINT % 100000000
          < CAST(least(100000000.0,
                       greatest(0.0,
                                COALESCE(r.host_rank, CAST(0.0 AS DOUBLE))
                                * CAST(0.25 AS DOUBLE) * 100000000))
                 AS BIGINT)
    """)






# r8 late: k-anonymity / l-diversity audit — exact class sizes and
# distinct-sensitive counts; flags are integer compares.
ORACLES["k_anonymity_audit"] = """
    WITH q AS (
      SELECT c_nationkey,
        CAST(floor(c_acctbal / CAST(1000 AS DOUBLE)) AS BIGINT)
          AS acct_kilo,
        c_mktsegment
      FROM customer
    )
    SELECT c_nationkey, acct_kilo,
      CAST(count(*) AS BIGINT) AS cnt,
      CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
      count(*) < 5 AS risky_k,
      count(DISTINCT c_mktsegment) < 3 AS risky_l
    FROM q GROUP BY 1, 2
"""

# r8 late: rare-group suppression — quasi cells of classes below k
# become NULL, payload unchanged.
ORACLES["k_suppression"] = """
    WITH q AS (
      SELECT c_custkey, c_nationkey,
        CAST(floor(c_acctbal / CAST(1000 AS DOUBLE)) AS BIGINT)
          AS acct_kilo,
        c_mktsegment, c_acctbal
      FROM customer
    ), s AS (
      SELECT c_nationkey AS nk, acct_kilo AS ak, count(*) AS cnt
      FROM q GROUP BY 1, 2
    )
    SELECT c_custkey,
      CASE WHEN cnt >= 5 THEN q.c_nationkey END AS c_nationkey,
      CASE WHEN cnt >= 5 THEN q.acct_kilo END AS acct_kilo,
      c_mktsegment, c_acctbal
    FROM q JOIN s ON q.c_nationkey = s.nk AND q.acct_kilo = s.ak
"""


# r8 late: two-sample KS drift — integer-space supremum over the
# distinct-value merge, so argmax and statistic replay exactly.
ORACLES["drift_ks"] = """
    WITH a AS (
      SELECT value AS v, count(*) AS rc FROM events
      WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1
    ), b AS (
      SELECT value AS v, count(*) AS cc FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1
    ), t AS (
      SELECT (SELECT sum(rc) FROM a) AS rt,
             (SELECT sum(cc) FROM b) AS ct
    ), m AS (
      SELECT COALESCE(a.v, b.v) AS v, COALESCE(rc, 0) AS rc,
             COALESCE(cc, 0) AS cc
      FROM a FULL OUTER JOIN b ON a.v = b.v
    ), c AS (
      SELECT v,
        sum(rc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_r,
        sum(cc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_c
      FROM m
    ), d AS (
      SELECT v, rt, ct, abs(cum_r * ct - cum_c * rt) AS num
      FROM c CROSS JOIN t
      ORDER BY num DESC, v ASC LIMIT 1
    )
    SELECT 'value' AS col_name, CAST(rt AS BIGINT) AS n_ref,
      CAST(ct AS BIGINT) AS n_cur,
      round(CAST(num AS DOUBLE)
            / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)), 6) AS ks,
      v AS at_value
    FROM d
"""


# r8 late: readability — exact integer counts, fixed-operand-order
# IEEE score arithmetic rounded 6dp (every literal CAST to DOUBLE:
# bare literals parse as DECIMAL in DuckDB and poison the chain).
ORACLES["readability"] = """
    WITH t AS (
      SELECT doc_id, text,
        list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    x -> x != '') AS tk
      FROM documents
    ), s AS (
      SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_words,
        CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
             AS BIGINT) AS n_sentences,
        CAST(COALESCE(list_sum(list_transform(tk,
               x -> greatest(1, len(regexp_extract_all(lower(x),
                                                       '[aeiouy]+'))))),
             0) AS BIGINT) AS n_syllables
      FROM t
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
      CASE WHEN n_words > 0 THEN
        round(CAST(206.835 AS DOUBLE)
              - CAST(1.015 AS DOUBLE)
                * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
              - CAST(84.6 AS DOUBLE)
                * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
              6) END AS flesch,
      CASE WHEN n_words > 0 THEN
        round(CAST(0.39 AS DOUBLE)
              * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
              + CAST(11.8 AS DOUBLE)
                * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
              - CAST(15.59 AS DOUBLE),
              6) END AS fk_grade
    FROM s
"""


# r8 late: TF-IDF keywords — 6dp-ln idf, 6dp products, term-asc
# tie-break; the oracle derives ranks via its own window.
ORACLES["keywords_tfidf"] = """
    WITH tok AS (
      SELECT doc_id,
        unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), n AS (
      SELECT count(*) AS nd FROM documents
    ), dfq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), sc AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        round(CAST(tf.tf AS DOUBLE)
              * round(ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6),
              6) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    ), r AS (
      SELECT doc_id, term, tf, df, score,
        row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term ASC) AS kw_rank
      FROM sc
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
      CAST(df AS BIGINT) AS df, score, CAST(kw_rank AS INTEGER) AS kw_rank
    FROM r WHERE kw_rank <= 5
"""


# r8 late: KMV source-similarity matrix — portable md5 sketches;
# union-KMV estimator with realized denominator.
ORACLES["source_similarity"] = """
    WITH tok0 AS (
      SELECT source AS g,
        unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '')) AS t
      FROM documents
    ), tok AS (
      SELECT DISTINCT g,
        ('0x' || substr(md5('sim8' || t), 1, 15))::BIGINT AS h
      FROM tok0
    ), sk AS (
      SELECT g, h FROM (
        SELECT g, h,
          row_number() OVER (PARTITION BY g ORDER BY h ASC) AS rn
        FROM tok
      ) WHERE rn <= 64
    ), gs AS (
      SELECT DISTINCT g FROM sk
    ), pairs AS (
      SELECT a.g AS src_a, b.g AS src_b
      FROM gs a CROSS JOIN gs b WHERE a.g < b.g
    ), m AS (
      SELECT p.src_a, p.src_b, s.h,
        max(CASE WHEN s.g = p.src_a THEN 1 ELSE 0 END) AS in_a,
        max(CASE WHEN s.g = p.src_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.g = p.src_a OR s.g = p.src_b
      GROUP BY 1, 2, 3
    ), u AS (
      SELECT src_a, src_b, in_a, in_b,
        row_number() OVER (
          PARTITION BY src_a, src_b ORDER BY h ASC) AS rn
      FROM m
    )
    SELECT src_a, src_b,
      CAST(count(*) AS BIGINT) AS union_k,
      CAST(sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_common,
      round(CAST(sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS jaccard_est
    FROM u WHERE rn <= 64 GROUP BY 1, 2
"""


# r8 late: Zipf fit — 6dp ln/products, DECIMAL moment sums, then
# fixed-order IEEE slope/intercept/R² on doubles; intercept uses
# the ROUNDED slope on both sides.
ORACLES["zipf_fit"] = """
    WITH tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x != '')) AS t
      FROM documents
    ), c AS (
      SELECT t, count(*) AS cnt FROM tok GROUP BY 1
    ), xy AS (
      SELECT cnt,
        round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, t ASC)
                      AS DOUBLE)), 6) AS x,
        round(ln(CAST(cnt AS DOUBLE)), 6) AS y
      FROM c
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types,
        CAST(sum(cnt) AS BIGINT) AS n_tokens,
        CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        CAST(sum(CAST(round(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        CAST(sum(CAST(round(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        CAST(sum(CAST(round(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
      FROM xy
    ), f AS (
      SELECT n_types, n_tokens, sx, sy,
        CAST(n_types AS DOUBLE) * sxy - sx * sy AS cov,
        CAST(n_types AS DOUBLE) * sxx - sx * sx AS varx,
        CAST(n_types AS DOUBLE) * syy - sy * sy AS vary
      FROM s
    ), g AS (
      SELECT n_types, n_tokens, sx, sy, cov, varx, vary,
        CASE WHEN varx != CAST(0 AS DOUBLE)
             THEN round(cov / varx, 6) END AS slope
      FROM f
    )
    SELECT n_types, n_tokens, slope,
      CASE WHEN varx != CAST(0 AS DOUBLE)
           THEN round((sy - slope * sx) / CAST(n_types AS DOUBLE), 6)
      END AS intercept,
      CASE WHEN varx != CAST(0 AS DOUBLE) AND vary != CAST(0 AS DOUBLE)
           THEN round((cov * cov) / (varx * vary), 6) END AS r2
    FROM g
"""


# r8 late: compaction is layout-only — the oracle is the original
# table (content invariance).
ORACLES["compact_shards"] = """
    SELECT doc_id, lang, n_chars FROM documents
"""


# r8 late: outlink host graph — planted anchors replayed via
# concat/CASE; RE2 patterns identical on both engines; relative
# links have no host and self-links drop.
ORACLES["outlink_hostgraph"] = """
    WITH d AS (
      SELECT doc_id,
        'host' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
          AS src_host,
        '<p>' || text || '</p> <a href="https://Site'
          || CAST(doc_id % 7 AS VARCHAR)
          || '.example.org/p0">x</a> <a href="/rel/x">r</a>'
          || CASE WHEN doc_id % 2 = 0 THEN
               ' <a class="m" href="http://cdn.example.net/lib.js">c</a>'
             ELSE '' END AS html
      FROM documents
    ), l AS (
      SELECT doc_id, src_host,
        unnest(regexp_extract_all(html, '<a\\s[^>]*href="([^"]*)"', 1))
          AS href
      FROM d
    ), h AS (
      SELECT doc_id, src_host,
        lower(regexp_extract(href, 'https?://([A-Za-z0-9.-]+)', 1))
          AS host
      FROM l
    )
    SELECT src_host, host AS dst_host,
      CAST(count(*) AS BIGINT) AS n_links
    FROM h WHERE host != '' AND host != src_host
    GROUP BY 1, 2
"""


# r8 late: per-domain quota cap — deterministic best-first keep.
ORACLES["domain_cap"] = """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
        row_number() OVER (
          PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 15
"""


# r8 late: mutual information — 6dp terms over DECIMAL sums, NULL
# folds to '<null>' (no-op on this data but part of the contract).
ORACLES["mutual_information"] = """
    WITH j AS (
      SELECT COALESCE(lang, '<null>') AS a,
             COALESCE(source, '<null>') AS b, count(*) AS nij
      FROM documents GROUP BY 1, 2
    ), ma AS (
      SELECT a, sum(nij) AS ni FROM j GROUP BY 1
    ), mb AS (
      SELECT b, sum(nij) AS nj FROM j GROUP BY 1
    ), t AS (
      SELECT sum(nij) AS n FROM j
    ), mi AS (
      SELECT CAST(sum(CAST(round(
          (CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
          * ln((CAST(nij AS DOUBLE) * CAST(n AS DOUBLE))
               / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))), 6)
        AS DECIMAL(28,6))) AS DOUBLE) AS mi
      FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t
    ), ha AS (
      SELECT CAST(sum(CAST(round(
          -(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE))
          * ln(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(28,6))) AS DOUBLE) AS h_a
      FROM ma CROSS JOIN t
    ), hb AS (
      SELECT CAST(sum(CAST(round(
          -(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
          * ln(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(28,6))) AS DOUBLE) AS h_b
      FROM mb CROSS JOIN t
    )
    SELECT 'lang' AS col_a, 'source' AS col_b, mi, h_a, h_b,
      CASE WHEN h_a > CAST(0 AS DOUBLE) AND h_b > CAST(0 AS DOUBLE)
           THEN round(mi / sqrt(h_a * h_b), 6) END AS nmi
    FROM mi CROSS JOIN ha CROSS JOIN hb
"""


# r8 late: quantile winsorization — integer basis-point cut points
# over the distinct-value cumsum, then a map-only clip.
ORACLES["quantile_clip"] = """
    WITH c AS (
      SELECT c_acctbal AS v, count(*) AS c FROM customer
      WHERE c_acctbal IS NOT NULL GROUP BY 1
    ), cum AS (
      SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    ), t AS (
      SELECT count(*) AS n FROM customer WHERE c_acctbal IS NOT NULL
    ), cuts AS (
      SELECT
        min(CASE WHEN cum >= (200 * n + 9999) // 10000 THEN v END)
          AS qlo,
        min(CASE WHEN cum >= (9800 * n + 9999) // 10000 THEN v END)
          AS qhi
      FROM cum CROSS JOIN t
    )
    SELECT c_custkey, c_acctbal,
      CASE WHEN c_acctbal IS NOT NULL
           THEN least(greatest(c_acctbal, qlo), qhi) END
        AS acctbal_clipped
    FROM customer CROSS JOIN cuts
"""


# r8 late: exact-n per-group sample — md5 hex ordering is plain
# string comparison on both engines.
ORACLES["group_sample_fixed_n"] = """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
        row_number() OVER (
          PARTITION BY lang
          ORDER BY md5('gs8' || CAST(doc_id AS VARCHAR)) ASC,
                   doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 20
"""


# r8 late: adaptive join — strategy-invariant semantics; DECIMAL
# revenue sums like every money aggregate.
ORACLES["adaptive_join"] = """
    SELECT c_mktsegment,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
"""


# r8 late: quantile binning — same integer edge rule as
# quantile_clip; bin = count of edges <= value.
ORACLES["quantile_bins"] = """
    WITH c AS (
      SELECT o_totalprice AS v, count(*) AS c FROM orders
      WHERE o_totalprice IS NOT NULL GROUP BY 1
    ), cum AS (
      SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    ), t AS (
      SELECT count(*) AS n FROM orders WHERE o_totalprice IS NOT NULL
    ), e AS (
      SELECT
        min(CASE WHEN cum >= (2500 * n + 9999) // 10000 THEN v END) AS e1,
        min(CASE WHEN cum >= (5000 * n + 9999) // 10000 THEN v END) AS e2,
        min(CASE WHEN cum >= (7500 * n + 9999) // 10000 THEN v END) AS e3
      FROM cum CROSS JOIN t
    )
    SELECT o_orderkey, o_totalprice,
      CASE WHEN o_totalprice IS NOT NULL THEN
        CAST((CASE WHEN o_totalprice >= e1 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice >= e2 THEN 1 ELSE 0 END)
           + (CASE WHEN o_totalprice >= e3 THEN 1 ELSE 0 END)
           AS INTEGER) END AS price_bin
    FROM orders CROSS JOIN e
"""


def _lid_pred_sql() -> str:
    """Learned language-ID prediction subquery
    ``(doc_id, lang, lang_pred, lang_margin)`` GENERATED from the
    committed literals in ``_frozen.LID_MODEL`` +
    ``operators.language_id.LANG_PHRASES`` (the
    ``_r7_frozen_oracles`` static-per-commit rule). It replays the
    whole scoring path: phrase planting (CASE), lowercased char
    trigrams (substr windows == the Spark shingle shift), portable
    md5 buckets, per-class DECIMAL(18,6) weight sums / gram total,
    bias add, and the first-class-wins argmax (Spark's iterative
    strictly-greater update == min-index of the greatest margin)."""
    from . import _frozen as fz
    from .operators.language_id import LANG_PHRASES

    m = fz.LID_MODEL
    langs = m["langs"]
    k = len(langs)
    nf = m["n_features"]
    phrase = (
        "CASE lang "
        + " ".join(f"WHEN '{l}' THEN ' {p}'" for l, p in LANG_PHRASES.items())
        + " ELSE '' END"
    )
    cols = ", ".join(f"w{c}" for c in range(k))
    vals = ", ".join(
        "("
        + ", ".join(
            [str(b)]
            + [
                f"CAST({m['weights'][c][b]:.6f} AS DECIMAL(18,6))"
                for c in range(k)
            ]
        )
        + ")"
        for b in range(nf)
    )
    dots = ", ".join(
        f"CAST(SUM(w.w{c}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dot{c}"
        for c in range(k)
    )
    margins = [
        f"(CAST({m['biases'][c]:.6f} AS DOUBLE)"
        f" + COALESCE(dot{c}, CAST(0 AS DOUBLE)))"
        for c in range(k)
    ]
    g = "greatest(" + ", ".join(margins) + ")"
    pred = (
        "CASE "
        + " ".join(
            f"WHEN {margins[c]} = __gm THEN '{langs[c]}'" for c in range(k)
        )
        + " END"
    )
    return f"""
      WITH __pl AS (
        SELECT doc_id, lang,
          lower(COALESCE(text, '') || {phrase}) AS t
        FROM documents
      ), __ls AS (
        SELECT doc_id,
          list_transform(
            generate_series(1, greatest(length(t) - 2, 0)),
            i -> substr(t, i, 3)) AS grams
        FROM __pl
      ), __gr AS (
        SELECT doc_id, unnest(grams) AS u FROM __ls
      ), __f AS (
        SELECT doc_id,
          (('0x' || substr(md5('{m["salt"]}' || u), 1, 15))::BIGINT
           % {nf}) AS bucket
        FROM __gr
      ), __w(bucket, {cols}) AS (VALUES {vals}),
      __d AS (
        SELECT __f.doc_id, {dots}
        FROM __f JOIN __w w USING (bucket)
        GROUP BY __f.doc_id
      ), __m AS (
        SELECT __pl.doc_id, __pl.lang, {g} AS __gm
        FROM __pl LEFT JOIN __d USING (doc_id)
      )
      SELECT __m.doc_id, __m.lang,
        {pred} AS lang_pred,
        round(__gm, 6) AS lang_margin
      FROM __m LEFT JOIN __d ON __m.doc_id = __d.doc_id
    """


ORACLES["language_id_learned"] = f"SELECT * FROM ( {_lid_pred_sql()} )"


def _gap_frozen_oracle() -> str:
    """DuckDB replay of the frozen GapEncoder twin, GENERATED from
    ``_frozen.GAP_MODEL`` (static per commit): chained per-step CTEs
    — each step joins the gram/bucket counts against the topic
    VALUES table and the previous step's activations, sums the
    6dp-rounded terms as exact DECIMAL(28,6), and requantizes the
    updated activations to 6dp, mirroring
    ``gap_topics_frozen``'s arithmetic op for op."""
    from . import _frozen as fz

    m = fz.GAP_MODEL
    k, d, n, n_iter = m["k"], m["hash_dim"], m["n"], m["n_iter"]
    hcols = ", ".join(f"h{j}" for j in range(k))
    hvals = ", ".join(
        "("
        + ", ".join(
            [str(b)]
            + [f"CAST({m['topics'][j][b]:.6f} AS DOUBLE)" for j in range(k)]
        )
        + ")"
        for b in range(d)
    )
    steps = []
    prev = "st0"
    for s in range(1, n_iter + 1):
        wh = " + ".join(f"p.w{j} * h.h{j}" for j in range(k))
        sums = ", ".join(
            f"SUM(CAST(round(e.tf / ({wh} + 1e-6) * h.h{j}, 6)"
            f" AS DECIMAL(28,6))) AS s{j}"
            for j in range(k)
        )
        news = ", ".join(
            f"round(p.w{j} * CAST(COALESCE(s.s{j}, 0) AS DOUBLE)"
            f" / {m['wt1']!r} + {m['const']!r}, 6) AS w{j}"
            for j in range(k)
        )
        steps.append(
            f"ag{s} AS (SELECT e.key, {sums} FROM e JOIN h USING (bucket) "
            f"JOIN {prev} p USING (key) GROUP BY e.key), "
            f"st{s} AS (SELECT p.key, {news} "
            f"FROM {prev} p LEFT JOIN ag{s} s USING (key))"
        )
        prev = f"st{s}"
    w0 = f"{1.0 / k:.6f}"
    wsel = ", ".join(f"CAST({w0} AS DOUBLE) AS w{j}" for j in range(k))
    outsel = ", ".join(f"p.w{j} AS p_name_topic_{j}" for j in range(k))
    return f"""
      WITH pl AS (
        SELECT p_partkey AS key, p_name, lower(p_name) AS t FROM part
      ), ls AS (
        SELECT key, list_transform(
          generate_series(1, greatest(length(t) - {n - 1}, 0)),
          i -> substr(t, i, {n})) AS grams
        FROM pl
      ), gr AS (
        SELECT key, unnest(grams) AS u FROM ls
      ), e AS (
        SELECT key,
          (('0x' || substr(md5('{m["salt"]}' || u), 1, 15))::BIGINT
           % {d}) AS bucket,
          CAST(COUNT(*) AS DOUBLE) AS tf
        FROM gr GROUP BY 1, 2
      ), h(bucket, {hcols}) AS (VALUES {hvals}),
      st0 AS (SELECT key, {wsel} FROM pl),
      {", ".join(steps)}
      SELECT pl.key AS p_partkey, pl.p_name, {outsel}
      FROM {prev} p JOIN pl ON pl.key = p.key
    """


ORACLES["gap_encoder_frozen"] = _gap_frozen_oracle()

def _normalize_oracle() -> str:
    """Oracle for normalize_text, GENERATED from the same planting
    list and mapping tables the Spark query uses."""
    from .operators.normalize import normalize_sql

    def q(s: str) -> str:
        return "'" + s.replace("'", "''").replace("\r", "' || chr(13) || '").replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '") + "'"

    n = len(_DIRTY_SUFFIXES)
    cases = " ".join(
        f"WHEN doc_id % {n} = {i} THEN {q(s)}"
        for i, s in enumerate(_DIRTY_SUFFIXES[:-1])
    )
    planted = (
        f"(COALESCE(text, '') || CASE {cases} "
        f"ELSE {q(_DIRTY_SUFFIXES[-1])} END)"
    )
    norm = normalize_sql("t")
    return f"""
      WITH p AS (SELECT doc_id, {planted} AS t FROM documents),
      nn AS (SELECT doc_id, t, {norm} AS n FROM p)
      SELECT doc_id, n AS text,
        CAST(COALESCE(length(t), 0) - COALESCE(length(n), 0) AS BIGINT)
          AS chars_removed
      FROM nn
    """


ORACLES["normalize_text"] = _normalize_oracle()


# r9: the PDF extraction loop is value-checked end to end — the
# oracle recomputes the planted two-page text directly from the
# documents table; any byte the build→inflate→unescape round trip
# loses or invents hash-fails.
ORACLES["pdf_text_stats"] = """
    SELECT doc_id,
      TRUE AS decode_ok,
      CAST(2 AS INTEGER) AS n_pages,
      CAST(2 AS INTEGER) AS n_streams,
      CAST(length(COALESCE(text, '') || chr(10) || 'Doc '
                  || CAST(doc_id AS VARCHAR) || ' appendix')
           AS BIGINT) AS n_chars,
      COALESCE(text, '') || chr(10) || 'Doc '
        || CAST(doc_id AS VARCHAR) || ' appendix' AS text
    FROM documents
"""

# r9: strategy-invariant aggregate — the plain GROUP BY replay of
# whatever physical strategy auto_agg's probe picked.
ORACLES["adaptive_agg"] = """
    SELECT o_orderstatus,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        AS revenue
    FROM orders
    GROUP BY 1
"""


# r8 late: evaluation metrics — each oracle recomputes predictions
# from the already-proven SQL replays (learned language-ID / frozen
# quality scores) and derives the metrics independently. (r9: the
# prediction subquery re-pointed from the marker heuristic to the
# learned classifier, mirroring the Spark side.)
ORACLES["classification_eval"] = f"""
    WITH j AS (
      SELECT COALESCE(d.lang, '<null>') AS lab,
             COALESCE(p.lang_pred, '<null>') AS prd
      FROM ( {_lid_pred_sql()} ) p
      JOIN documents d USING (doc_id)
    ), cells AS (
      SELECT lab, prd, count(*) AS c FROM j GROUP BY 1, 2
    ), nt AS (
      SELECT lab AS clazz, sum(c) AS n_true FROM cells GROUP BY 1
    ), np AS (
      SELECT prd AS clazz, sum(c) AS n_pred FROM cells GROUP BY 1
    ), tp AS (
      SELECT lab AS clazz, c AS tp FROM cells WHERE lab = prd
    ), tot AS (
      SELECT sum(c) AS n, sum(CASE WHEN lab = prd THEN c END) AS tp_all
      FROM cells
    ), cl AS (
      SELECT clazz FROM nt UNION SELECT clazz FROM np
    ), m AS (
      SELECT cl.clazz,
        CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
        CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
        CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
        tot.n AS nn, tot.tp_all AS tp_all
      FROM cl LEFT JOIN nt USING (clazz) LEFT JOIN np USING (clazz)
      LEFT JOIN tp USING (clazz) CROSS JOIN tot
    ), pr AS (
      SELECT clazz, n_true, n_pred, tp,
        CASE WHEN n_pred > 0
             THEN round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
        END AS precision,
        CASE WHEN n_true > 0
             THEN round(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
        END AS recall,
        round(CAST(COALESCE(tp_all, 0) AS DOUBLE)
              / CAST(nn AS DOUBLE), 6) AS accuracy
      FROM m
    )
    SELECT clazz, n_true, n_pred, tp, precision, recall,
      CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
                AND precision + recall > CAST(0 AS DOUBLE)
           THEN round(CAST(2 AS DOUBLE) * precision * recall
                      / (precision + recall), 6)
      END AS f1,
      accuracy
    FROM pr
"""

ORACLES["calibration_eval"] = f"""
    WITH p AS ( {{scores}} ),
    l AS (
      SELECT doc_id,
        CASE WHEN
          CAST(len(list_filter(
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x != ''),
                 t -> lower(t) IN
                   ('the','a','an','and','or','of','to','in','is','it')))
               AS DOUBLE)
          / GREATEST(len(list_filter(
                 regexp_split_to_array(trim(text), '\\s+'),
                 x -> x != '')), 1)
          >= CAST(0.060976 AS DOUBLE)
        THEN 1 ELSE 0 END AS y
      FROM documents
    ), b AS (
      SELECT least(9, CAST(floor(p.quality_score * CAST(10 AS DOUBLE))
                           AS INTEGER)) AS bin,
        CAST(round(p.quality_score, 6) AS DECIMAL(28,6)) AS s6, l.y
      FROM p JOIN l USING (doc_id)
      WHERE p.quality_score IS NOT NULL
    ), per AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
        round(CAST(sum(s6) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS conf,
        round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS acc
      FROM b GROUP BY 1
    ), g AS (
      SELECT bin, n, conf, acc, round(abs(acc - conf), 6) AS gap
      FROM per
    ), t AS (
      SELECT sum(n) AS nt FROM g
    ), e AS (
      SELECT CAST(sum(CAST(round(
          CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) * gap, 6)
        AS DECIMAL(28,6))) AS DOUBLE) AS ece
      FROM g CROSS JOIN t
    )
    SELECT bin, n, conf, acc, gap, ece FROM g CROSS JOIN e
"""
# splice the proven frozen-score replay in as the predictions CTE
ORACLES["calibration_eval"] = ORACLES["calibration_eval"].format(
    scores=ORACLES["quality_classifier_scores"]
)

ORACLES["regression_eval"] = """
    WITH j AS (
      SELECT o.o_totalprice AS y, c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), seg AS (
      SELECT seg,
        round(CAST(sum(CAST(y AS DECIMAL(12,2))) AS DOUBLE)
              / CAST(count(*) AS DOUBLE), 6) AS yhat
      FROM j GROUP BY 1
    ), p AS (
      SELECT j.y, seg.yhat FROM j JOIN seg USING (seg)
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS ysum
      FROM p
    ), pb AS (
      SELECT p.y, p.yhat,
        round(m.ysum / CAST(m.n AS DOUBLE), 6) AS ybar, m.n
      FROM p CROSS JOIN m
    ), a AS (
      SELECT max(n) AS n,
        CAST(sum(CAST(round(abs(y - yhat), 6) AS DECIMAL(28,6)))
             AS DOUBLE) AS sae,
        CAST(sum(CAST(round((y - yhat) * (y - yhat), 6)
                      AS DECIMAL(28,6))) AS DOUBLE) AS sse,
        CAST(sum(CAST(round((y - ybar) * (y - ybar), 6)
                      AS DECIMAL(28,6))) AS DOUBLE) AS sst
      FROM pb
    )
    SELECT n,
      round(sae / CAST(n AS DOUBLE), 6) AS mae,
      round(sqrt(sse / CAST(n AS DOUBLE)), 6) AS rmse,
      CASE WHEN sst > CAST(0 AS DOUBLE)
           THEN round(CAST(1 AS DOUBLE) - sse / sst, 6) END AS r2
    FROM a
"""


# r8 late: binary-quantized Hamming top-k — the oracle packs sign
# bits with the same unrolled CASE sums (32 bits per word, no
# sign-bit games) and ranks by bit_count(xor).
def _binword_sql(w: int, bpw: int = 32, dim: int = 64) -> str:
    terms = []
    for j in range(bpw):
        i = w * bpw + j
        if i >= dim:
            break
        terms.append(
            f"(CASE WHEN embedding[{i + 1}] > CAST(0 AS DOUBLE) "
            f"THEN CAST({1 << j} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


ORACLES["topk_binary"] = f"""
    WITH p AS (
      SELECT vec_id, {_binword_sql(0)} AS w0, {_binword_sql(1)} AS w1
      FROM embeddings
    ), q AS (
      SELECT w0 AS q0, w1 AS q1 FROM p WHERE vec_id = 0
    )
    SELECT vec_id,
      CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS BIGINT)
        AS hamming
    FROM p CROSS JOIN q
    ORDER BY hamming ASC, vec_id ASC LIMIT 10
"""


# r8 late: Markov transitions — lag over (ts, event_id) total
# order; probabilities are exact-count divisions.
ORACLES["event_transitions"] = """
    WITH s AS (
      SELECT event_type AS to_state,
        lag(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS from_state
      FROM events
    ), p AS (
      SELECT from_state, to_state, count(*) AS n
      FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2
    ), t AS (
      SELECT from_state, sum(n) AS tot FROM p GROUP BY 1
    )
    SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
      round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob
    FROM p JOIN t USING (from_state)
"""

# r8 late: mean-shift changepoint — cumulative split scan over the
# bounded period frame; earliest split wins ties.
ORACLES["changepoint_daily"] = """
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS cnt
      FROM events GROUP BY 1
    ), c AS (
      SELECT day AS p,
        sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
        row_number() OVER (ORDER BY day) AS k
      FROM d
    ), t AS (
      SELECT count(*) AS n, sum(cnt) AS s FROM d
    ), j AS (
      SELECT p, cum, k, n, s,
        CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS ml,
        CAST(s - cum AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
          AS mr
      FROM c CROSS JOIN t WHERE k < n
    )
    SELECT p AS split_after,
      round(abs(ml - mr)
            * sqrt(CAST(k AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                   / CAST(n AS DOUBLE)), 6) AS stat,
      round(ml, 6) AS mean_left, round(mr, 6) AS mean_right
    FROM j
    ORDER BY stat DESC, split_after ASC LIMIT 1
"""


# r8 late: streaming transitions aggregate to the SAME matrix as
# the batch operator — reuse its oracle verbatim.
ORACLES["streaming_transitions"] = ORACLES["event_transitions"]


# r8 late: duplication density — distinct 3-shingles, portable md5
# hashing, exact document-frequency counts.
ORACLES["duplication_density"] = """
    WITH t AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x != '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(toks) >= 3
          THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                FOR i IN generate_series(1, len(toks) - 2)]
          ELSE [] END) AS grams
      FROM t
    ), e AS (
      SELECT doc_id, len(grams) AS ng,
        ('0x' || substr(md5('dd8' || unnest(grams)), 1, 15))::BIGINT AS h
      FROM sh
    ), dfh AS (
      SELECT h, count(*) AS nd FROM e GROUP BY 1
    ), per AS (
      SELECT doc_id,
        CAST(max(ng) AS BIGINT) AS n_shingles,
        CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup
      FROM e JOIN dfh USING (h) GROUP BY 1
    )
    SELECT d.doc_id,
      COALESCE(per.n_shingles, CAST(0 AS BIGINT)) AS n_shingles,
      COALESCE(per.n_dup, CAST(0 AS BIGINT)) AS n_dup,
      CASE WHEN per.n_shingles > 0 THEN
        round(CAST(per.n_dup AS DOUBLE)
              / CAST(per.n_shingles AS DOUBLE), 6) END AS dup_fraction
    FROM documents d LEFT JOIN per USING (doc_id)
"""


# r8 late: ranking eval — every 1/rank and 1/log2(rank+1) is the
# SAME precomputed 6dp literal on both engines.
def _ranking_oracle(k: int = 10) -> str:
    import math

    t = [round(1.0 / math.log2(i + 1), 6) for i in range(1, k + 1)]
    inv = [round(1.0 / i, 6) for i in range(1, k + 1)]
    cum, c = [], 0.0
    for i in range(1, k + 1):
        c = round(c + t[i - 1], 6)
        cum.append(c)
    dcg_case = "CASE rnk " + " ".join(
        f"WHEN {i} THEN CAST({t[i - 1]!r} AS DOUBLE)"
        for i in range(1, k + 1)
    ) + " END"
    inv_case = "CASE rnk " + " ".join(
        f"WHEN {i} THEN CAST({inv[i - 1]!r} AS DOUBLE)"
        for i in range(1, k + 1)
    ) + " END"
    idcg_case = "CASE m " + " ".join(
        f"WHEN {i} THEN CAST({cum[i - 1]!r} AS DOUBLE)"
        for i in range(1, k + 1)
    ) + " ELSE CAST(0 AS DOUBLE) END"
    return f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS ql
      FROM embeddings WHERE vec_id = 0
    ), top AS (
      SELECT e.vec_id, e.label, q.ql,
        row_number() OVER (
          ORDER BY ROUND(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC,
                   e.vec_id ASC) AS rnk
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
      QUALIFY rnk <= {k}
    ), nr AS (
      SELECT count(*) AS nrel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0 AND e.label = q.ql
    ), rows_ AS (
      SELECT rnk, CASE WHEN label = ql THEN 1 ELSE 0 END AS rel
      FROM top
    ), agg AS (
      SELECT CAST(sum(rel) AS BIGINT) AS hits,
        CAST(sum(CAST(CAST(rel AS DOUBLE) * {dcg_case}
                      AS DECIMAL(28,6))) AS DOUBLE) AS dcg,
        COALESCE(max(CASE WHEN rel = 1 THEN {inv_case} END),
                 CAST(0 AS DOUBLE)) AS mrr
      FROM rows_
    ), mm AS (
      SELECT least(nrel, {k}) AS m FROM nr
    )
    SELECT CAST(0 AS BIGINT) AS query, CAST({k} AS INTEGER) AS k,
      hits,
      round(CAST(hits AS DOUBLE) / CAST({k} AS DOUBLE), 6)
        AS precision_at_k,
      mrr, dcg,
      CASE WHEN {idcg_case} > CAST(0 AS DOUBLE)
           THEN round(dcg / {idcg_case}, 6) END AS ndcg
    FROM agg CROSS JOIN mm
    """


ORACLES["ranking_eval"] = _ranking_oracle(10)


# r8 late: triangle counting — the oracle replays the SAME
# degree-ordered orientation and closing join (each triangle found
# exactly once), so counts are exact integers; the coefficient is
# one IEEE division of exact integers rounded 6dp on both engines.
ORACLES["triangle_stats"] = """
    WITH raw AS (
      SELECT doc_id % 61 AS src, (doc_id * 31 + 7) % 61 AS dst
      FROM documents
      UNION ALL
      SELECT doc_id % 61, (doc_id * 13 + 3) % 61 FROM documents
      UNION ALL
      SELECT doc_id % 61, (doc_id * 7 + 11) % 61 FROM documents
    ), und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src != dst
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ), oriented AS (
      SELECT
        CASE WHEN da.degree < db.degree
               OR (da.degree = db.degree AND u.a < u.b)
             THEN u.a ELSE u.b END AS u,
        CASE WHEN da.degree < db.degree
               OR (da.degree = db.degree AND u.a < u.b)
             THEN u.b ELSE u.a END AS v,
        CASE WHEN da.degree < db.degree
               OR (da.degree = db.degree AND u.a < u.b)
             THEN db.degree ELSE da.degree END AS degv
      FROM und u
      JOIN deg da ON u.a = da.node
      JOIN deg db ON u.b = db.node
    ), tris AS (
      SELECT e1.u AS u, e1.v AS v, e2.v AS w
      FROM oriented e1
      JOIN oriented e2 ON e1.u = e2.u
       AND (e1.degv < e2.degv
            OR (e1.degv = e2.degv AND e1.v < e2.v))
      JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
    ), per AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        SELECT u AS node FROM tris
        UNION ALL SELECT v FROM tris
        UNION ALL SELECT w FROM tris
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
      CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
      CASE WHEN d.degree >= 2 THEN
        round(CAST(2 AS DOUBLE)
              * CAST(COALESCE(p.triangles, 0) AS DOUBLE)
              / (CAST(d.degree AS DOUBLE)
                 * CAST(d.degree - 1 AS DOUBLE)), 6)
      END AS clustering_coeff
    FROM deg d LEFT JOIN per p ON d.node = p.node
"""


# r8 late: Hampel outliers — the oracle replays the doubled-median
# rank selection and the all-decimal flag comparison; med/mad
# convenience columns are exact power-of-two halvings of the same
# decimals (bit-identical doubles on both engines).
ORACLES["mad_outliers"] = """
    WITH ranked AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v,
        o_orderkey AS id,
        row_number() OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
        count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ), med AS (
      SELECT grp, CAST(sum(v * w) AS DECIMAL(18,2)) AS med2 FROM (
        SELECT grp, v,
          (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
           + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END) AS w
        FROM ranked) WHERE w > 0 GROUP BY grp
    ), dev AS (
      SELECT o.o_orderkey AS id, o.o_orderpriority AS grp,
        o.o_totalprice AS value, m.med2,
        abs(2 * o.o_totalprice - m.med2) AS dev2
      FROM orders o JOIN med m ON o.o_orderpriority = m.grp
    ), rdev AS (
      SELECT grp, dev2, id,
        row_number() OVER (PARTITION BY grp
          ORDER BY dev2 ASC, id ASC) AS rn,
        count(*) OVER (PARTITION BY grp) AS n
      FROM dev
    ), mad AS (
      SELECT grp, CAST(sum(dev2 * w) AS DECIMAL(18,2)) AS mad4 FROM (
        SELECT grp, dev2,
          (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
           + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END) AS w
        FROM rdev) WHERE w > 0 GROUP BY grp
    )
    SELECT d.id AS o_orderkey, d.grp AS o_orderpriority, d.value,
      round(CAST(d.med2 AS DOUBLE) / 2, 6) AS med,
      round(CAST(m.mad4 AS DOUBLE) / 4, 6) AS mad,
      (2 * d.dev2 > CAST('3.0' AS DECIMAL(3,1)) * m.mad4)
        AS is_outlier
    FROM dev d JOIN mad m ON d.grp = m.grp
"""


# r8 late: Benford audit — the oracle replays the same
# CASE-selected power-of-10 digit extraction (exact integers), the
# same 6dp log10(1+1/d) literals, and the same fixed-order IEEE
# multiply/divide for the chi-square terms.
def _benford_oracle() -> str:
    import math

    ps = {d: round(math.log10(1.0 + 1.0 / d), 6) for d in range(1, 10)}
    p_case = (
        "CASE g.digit "
        + " ".join(
            f"WHEN {d} THEN CAST('{ps[d]}' AS DECIMAL(8,6))"
            for d in range(1, 10)
        )
        + " END"
    )
    pow_case = (
        "CASE "
        + " ".join(
            f"WHEN s >= {10**e} THEN CAST({10**e} AS BIGINT)"
            for e in range(18, 0, -1)
        )
        + " ELSE CAST(1 AS BIGINT) END"
    )
    return f"""
    WITH scaled AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                  AS BIGINT) AS s
      FROM orders WHERE o_totalprice > 0
    ), dig AS (
      SELECT s // ({pow_case}) AS digit FROM scaled
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS observed
      FROM dig GROUP BY digit
    ), tot AS (
      SELECT CAST(sum(observed) AS BIGINT) AS n_values FROM obs
    ), grid AS (
      SELECT CAST(digit AS BIGINT) AS digit
      FROM range(1, 10) t(digit)
    ), full_ AS (
      SELECT g.digit, t.n_values,
        CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed,
        {p_case} AS expected_p
      FROM grid g
      LEFT JOIN obs o ON g.digit = o.digit
      CROSS JOIN tot t
    )
    SELECT digit, n_values, observed,
      round(CAST(observed AS DOUBLE) / CAST(n_values AS DOUBLE), 6)
        AS observed_p,
      CAST(expected_p AS DOUBLE) AS expected_p,
      round(
        CAST(CAST(observed AS DECIMAL(20,6))
             - n_values * expected_p AS DOUBLE)
        * CAST(CAST(observed AS DECIMAL(20,6))
               - n_values * expected_p AS DOUBLE)
        / CAST(n_values * expected_p AS DOUBLE), 6) AS chi2_term
    FROM full_
"""


ORACLES["benford_audit"] = _benford_oracle()


# r8 late: target-statistics encoders — every encoding is ONE IEEE
# division of exact integers (6dp-rounded); woe's single runtime ln
# is 6dp-rounded on both engines (the proven bridge).
ORACLES["target_encode"] = """
    WITH per AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_c,
        CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS s_c
      FROM customer GROUP BY c_nationkey
    ), tot AS (
      SELECT CAST(sum(n_c) AS BIGINT) AS n,
        CAST(sum(s_c) AS BIGINT) AS s
      FROM per
    )
    SELECT c_nationkey, n_c,
      round(CAST(n * s_c + 20 * s AS DOUBLE)
            / CAST(n * (n_c + 20) AS DOUBLE), 6) AS encoding
    FROM per CROSS JOIN tot
"""


ORACLES["target_encode_loo"] = """
    WITH per AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_c,
        CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS s_c
      FROM orders GROUP BY o_orderpriority
    ), tot AS (
      SELECT CAST(sum(n_c) AS BIGINT) AS n,
        CAST(sum(s_c) AS BIGINT) AS s
      FROM per
    )
    SELECT o.o_orderkey, o.o_orderpriority,
      CAST(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END
           AS BIGINT) AS y,
      CASE WHEN p.n_c > 1 THEN
        round(CAST(p.s_c - (CASE WHEN o.o_orderstatus = 'F'
                            THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(p.n_c - 1 AS DOUBLE), 6)
      ELSE round(CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
      END AS encoding
    FROM orders o
    JOIN per p ON o.o_orderpriority = p.o_orderpriority
    CROSS JOIN tot t
"""


ORACLES["woe_iv"] = """
    WITH per AS (
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_c,
        CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS s_c
      FROM customer GROUP BY c_mktsegment
    ), per2 AS (
      SELECT c_mktsegment, n_c, s_c, n_c - s_c AS b_c FROM per
    ), sm AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cats,
        CAST(sum(s_c) AS BIGINT) AS g,
        CAST(sum(b_c) AS BIGINT) AS b
      FROM per2
    ), base AS (
      SELECT c_mktsegment, n_c, s_c AS n_pos, b_c AS n_neg,
        2 * s_c + 1 AS g2, 2 * b_c + 1 AS b2,
        2 * g + n_cats AS gt2, 2 * b + n_cats AS bt2
      FROM per2 CROSS JOIN sm
    )
    SELECT c_mktsegment, n_c, n_pos, n_neg,
      round(ln(CAST(g2 * bt2 AS DOUBLE)
               / CAST(b2 * gt2 AS DOUBLE)), 6) AS woe,
      round((round(CAST(g2 AS DOUBLE) / CAST(gt2 AS DOUBLE), 6)
             - round(CAST(b2 AS DOUBLE) / CAST(bt2 AS DOUBLE), 6))
            * round(ln(CAST(g2 * bt2 AS DOUBLE)
                       / CAST(b2 * gt2 AS DOUBLE)), 6), 6)
        AS iv_term
    FROM base
"""


# r8 late: streaming heavy hitters — the oracle replays the literal
# batch-split predicate: a user whose even-event_id count reaches
# the threshold alerts at the end of batch 1 with that count, else
# (if the total reaches it) at the end of batch 2 with the total.
ORACLES["streaming_heavy_hitters"] = """
    WITH c AS (
      SELECT user_id,
        CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS c0,
        CAST(count(*) AS BIGINT) AS ct
      FROM events GROUP BY user_id
    )
    SELECT user_id,
      CASE WHEN c0 >= 30 THEN c0 ELSE ct END AS count_at_alert
    FROM c WHERE ct >= 30
"""


# r8 late: association rules — exact-integer counting ladder with
# A-priori prefilter; support/confidence/lift are single IEEE
# divisions of exact integers, 6dp-rounded on both engines.
ORACLES["association_rules"] = """
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), nb AS (
      SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM b
    ), supp AS (
      SELECT item, CAST(count(*) AS BIGINT) AS item_count
      FROM b GROUP BY item
    ), freq AS (
      SELECT * FROM supp WHERE item_count >= 2
    ), kept AS (
      SELECT b.basket, b.item FROM b JOIN freq f ON b.item = f.item
    ), pairs AS (
      SELECT a.item AS item_a, c.item AS item_b,
        CAST(count(*) AS BIGINT) AS pair_count
      FROM kept a
      JOIN kept c ON a.basket = c.basket AND a.item < c.item
      GROUP BY a.item, c.item HAVING count(*) >= 2
    ), enr AS (
      SELECT p.item_a, p.item_b, p.pair_count,
        fa.item_count AS xa, fb.item_count AS xb, t.n
      FROM pairs p
      JOIN freq fa ON p.item_a = fa.item
      JOIN freq fb ON p.item_b = fb.item
      CROSS JOIN nb t
    ), both_ AS (
      SELECT item_a AS antecedent, item_b AS consequent,
        pair_count, xa, xb, n FROM enr
      UNION ALL
      SELECT item_b, item_a, pair_count, xb, xa, n FROM enr
    )
    SELECT antecedent, consequent, pair_count,
      round(CAST(pair_count AS DOUBLE) / CAST(n AS DOUBLE), 6)
        AS support,
      round(CAST(pair_count AS DOUBLE) / CAST(xa AS DOUBLE), 6)
        AS confidence,
      round(CAST(n * pair_count AS DOUBLE)
            / CAST(xa * xb AS DOUBLE), 6) AS lift
    FROM both_
"""


# r8 late: sequence anomaly — composes the event_transitions
# replay: 6dp-rounded −ln of the 6dp probability, DECIMAL(28,6)
# per-user surprise sums, one IEEE mean division.
ORACLES["sequence_anomaly"] = """
    WITH s AS (
      SELECT user_id, event_type AS to_state,
        lag(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS from_state
      FROM events
    ), p AS (
      SELECT from_state, to_state, count(*) AS n
      FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2
    ), t AS (
      SELECT from_state, sum(n) AS tot FROM p GROUP BY 1
    ), m AS (
      SELECT from_state, to_state,
        round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob
      FROM p JOIN t USING (from_state)
    ), u AS (
      SELECT s.user_id, round(-ln(m.prob), 6) AS surp
      FROM s
      JOIN m ON s.from_state = m.from_state
            AND s.to_state = m.to_state
      WHERE s.from_state IS NOT NULL
    )
    SELECT user_id,
      CAST(count(*) AS BIGINT) AS n_transitions,
      round(CAST(sum(CAST(surp AS DECIMAL(28,6))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS avg_surprise
    FROM u GROUP BY user_id
"""


# r8 late: k-core — one CTE pair per synchronous peel round
# (degree agg + anti-filter); rounds past the fixpoint are exact
# no-ops, so the fixed-round chain is a complete spec.
def _k_core_oracle(k: int, n_iter: int) -> str:
    raw = """
      SELECT doc_id % 20 AS src, (doc_id * 7 + 3) % 20 AS dst
      FROM documents
      UNION ALL
      SELECT doc_id % 20, (doc_id * 3 + 1) % 20 FROM documents
      UNION ALL
      SELECT doc_id % 20, (doc_id * 9 + 7) % 20 FROM documents
      UNION ALL
      SELECT doc_id % 20, (doc_id * 11 + 5) % 20 FROM documents
      UNION ALL
      SELECT doc_id % 20, (doc_id * 13 + 9) % 20 FROM documents
      UNION ALL
      SELECT doc_id % 77 + 20, (doc_id * 3 + 1) % 77 + 20
      FROM documents
      UNION ALL
      SELECT doc_id % 20, doc_id % 77 + 20
      FROM documents WHERE doc_id % 13 = 0
    """
    ctes = [
        f"""raw AS ({raw}), e0 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM raw
        UNION ALL SELECT dst, src FROM raw
      ) WHERE src != dst
    )"""
    ]
    for r in range(1, n_iter + 1):
        p = r - 1
        ctes.append(
            f"""b{r} AS (
      SELECT src FROM e{p} GROUP BY src HAVING count(*) < {k}
    ), e{r} AS (
      SELECT e.src, e.dst FROM e{p} e
      WHERE e.src NOT IN (SELECT src FROM b{r})
        AND e.dst NOT IN (SELECT src FROM b{r})
    )"""
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e{n_iter} GROUP BY src
    """
    )


ORACLES["k_core"] = _k_core_oracle(6, 4)


# r8 late: windowed funnel — chained conditional mins in integer
# microseconds; greedy-first anchoring on the first step-1 event.
ORACLES["window_funnel"] = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), s1 AS (
      SELECT user_id, min(us) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.us) AS t2, min(s.t1) AS t1
      FROM ev e JOIN s1 s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.us > s.t1
        AND e.us <= s.t1 + 86400000000
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.us) AS t3
      FROM ev e JOIN s2 s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.us > s.t2
        AND e.us <= s.t1 + 86400000000
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
      CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                WHEN s2.user_id IS NOT NULL THEN 2
                ELSE 1 END AS INTEGER) AS step_reached,
      CAST(s1.t1 AS BIGINT) AS t_first_us
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


# r8 late: seasonal profile — integer dow/hour arithmetic (no
# engine date/timezone functions), dense 7x24 grid, single-division
# 6dp ratios.
ORACLES["seasonal_profile"] = """
    WITH cells AS (
      SELECT
        CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS INTEGER)
          AS dow,
        CAST((epoch_us(ts) // 3600000000) % 24 AS INTEGER) AS hour
      FROM events
    ), obs AS (
      SELECT dow, hour, CAST(count(*) AS BIGINT) AS n
      FROM cells GROUP BY dow, hour
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total FROM obs
    ), grid AS (
      SELECT CAST(d.d AS INTEGER) AS dow, CAST(h.h AS INTEGER) AS hour
      FROM range(0, 7) d(d) CROSS JOIN range(0, 24) h(h)
    )
    SELECT g.dow, g.hour,
      CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
      round(CAST(COALESCE(o.n, 0) AS DOUBLE)
            / CAST(t.total AS DOUBLE), 6) AS share,
      round(CAST(168 * COALESCE(o.n, 0) AS DOUBLE)
            / CAST(t.total AS DOUBLE), 6) AS lift
    FROM grid g
    LEFT JOIN obs o ON g.dow = o.dow AND g.hour = o.hour
    CROSS JOIN tot t
"""


# r8 late: grouped OLS — zipf_fit's recipe per group: exact daily
# DECIMAL sums -> double, 6dp product terms into DECIMAL(38,6)
# moment sums, fixed-order IEEE closed forms.
ORACLES["grouped_trend"] = """
    WITH daily AS (
      SELECT o_orderpriority,
        CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
             AS BIGINT) AS day,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             AS DECIMAL(22,2)) AS rev
      FROM orders GROUP BY 1, 2
    ), xy AS (
      SELECT o_orderpriority,
        CAST(day AS DOUBLE) AS x, CAST(rev AS DOUBLE) AS y
      FROM daily
    ), sums AS (
      SELECT o_orderpriority,
        CAST(count(*) AS BIGINT) AS n_points,
        sum(CAST(x AS DECIMAL(38,6))) AS sx,
        sum(CAST(y AS DECIMAL(38,6))) AS sy,
        sum(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS sxy,
        sum(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS sxx,
        sum(CAST(round(y * y, 6) AS DECIMAL(38,6))) AS syy
      FROM xy GROUP BY o_orderpriority
    ), d AS (
      SELECT o_orderpriority, n_points,
        CAST(n_points AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sxd,
        CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      FROM sums
    ), c AS (
      SELECT o_orderpriority, n_points, n, sxd, syd,
        n * sxyd - sxd * syd AS cov,
        n * sxxd - sxd * sxd AS varx,
        n * syyd - syd * syd AS vary
      FROM d
    )
    SELECT o_orderpriority, n_points,
      CASE WHEN varx != 0 THEN round(cov / varx, 6) END AS slope,
      CASE WHEN varx != 0 THEN
        round((syd - round(cov / varx, 6) * sxd) / n, 6)
      END AS intercept,
      CASE WHEN varx != 0 AND vary != 0 THEN
        round((cov * cov) / (varx * vary), 6)
      END AS r2
    FROM c
"""


# r8 late: incremental agg refresh — the oracle IS the full
# recompute: counts/decimal sums are associative, so base+delta
# must be bit-identical to aggregating everything at once.
ORACLES["incremental_agg"] = """
    SELECT o_orderpriority,
      CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
           AS DECIMAL(23,2)) AS revenue
    FROM orders GROUP BY o_orderpriority
"""


# r8 late: ACF — centered products through the n²-scaled integer
# identity (n·y − S); both sides exact integers, one division.
ORACLES["autocorrelation"] = """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS x,
        CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(y) AS BIGINT) AS s
      FROM daily
    ), c AS (
      SELECT x, n * y - s AS c FROM daily CROSS JOIN tot
    ), lags AS (
      SELECT CAST(l AS BIGINT) AS lag FROM range(1, 8) t(l)
    ), pairs AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(a.c * b.c) AS BIGINT) AS num
      FROM c a CROSS JOIN lags
      JOIN c b ON b.x = a.x + lag
      GROUP BY lag
    ), den AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS den FROM c
    )
    SELECT CAST(l.lag AS INTEGER) AS lag,
      CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
      CASE WHEN d.den > 0 AND p.num IS NOT NULL THEN
        round(CAST(p.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6)
      END AS acf
    FROM lags l
    LEFT JOIN pairs p ON l.lag = p.lag
    CROSS JOIN den d
"""

ORACLES["survival_km"] = """
    WITH span AS (
      SELECT o_custkey,
        CAST(max(epoch_us(o_orderdate) // 86400000000)
           - min(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS t,
        CAST(max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS e
      FROM orders GROUP BY o_custkey
    ), g AS (
      SELECT c_mktsegment, t, e
      FROM span JOIN customer ON o_custkey = c_custkey
    ), per_t AS (
      SELECT c_mktsegment AS grp, t,
        CAST(sum(e) AS BIGINT) AS n_events,
        CAST(sum(1 - e) AS BIGINT) AS n_censored
      FROM g GROUP BY 1, 2
    ), tot AS (
      SELECT grp, CAST(sum(n_events + n_censored) AS BIGINT) AS tt
      FROM per_t GROUP BY 1
    ), risk AS (
      SELECT p.grp, p.t, p.n_events, p.n_censored,
        tt - COALESCE(SUM(n_events + n_censored) OVER (
          PARTITION BY p.grp ORDER BY p.t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS n_risk
      FROM per_t p JOIN tot USING (grp)
    ), terms AS (
      SELECT grp, t, n_events, n_censored, n_risk,
        CASE WHEN n_events > 0 AND n_events < n_risk
          THEN round(ln(CAST(n_risk - n_events AS DOUBLE)
                        / CAST(n_risk AS DOUBLE)), 6)
          ELSE CAST(0.0 AS DOUBLE) END AS term,
        CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS wipe
      FROM risk
    )
    SELECT grp AS c_mktsegment, t,
      CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
      CASE WHEN max(wipe) OVER w = 1 THEN CAST(0.0 AS DOUBLE)
        ELSE round(exp(CAST(sum(CAST(term AS DECIMAL(38,6))) OVER w
                            AS DOUBLE)), 6) END AS survival
    FROM terms
    WINDOW w AS (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

ORACLES["gini_concentration"] = """
    WITH rev AS (
      SELECT o_custkey,
        SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders GROUP BY 1
    ), g AS (
      SELECT c_nationkey, rev, o_custkey,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY c_nationkey ORDER BY rev ASC, o_custkey ASC
        ) AS BIGINT) AS i
      FROM rev JOIN customer ON o_custkey = c_custkey
    ), a AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        SUM(rev) AS s, SUM(i * rev) AS isum
      FROM g GROUP BY 1
    )
    SELECT c_nationkey, n, CAST(s AS DOUBLE) AS total,
      CASE WHEN s > 0 THEN
        round(CAST(2 * isum - (n + 1) * s AS DOUBLE)
              / CAST(n * s AS DOUBLE), 6)
      END AS gini
    FROM a
"""

ORACLES["theil_sen_trend"] = """
    WITH daily AS (
      SELECT o_orderpriority,
        CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
        SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders GROUP BY 1, 2
    ), mx AS (SELECT max(day) AS maxd FROM daily),
    recent AS (
      SELECT o_orderpriority AS grp, day AS x, rev AS y
      FROM daily CROSS JOIN mx WHERE day > maxd - 400
    ), slopes AS (
      SELECT a.grp,
        CAST(round(CAST(b.y - a.y AS DOUBLE)
                   / CAST(b.x - a.x AS DOUBLE), 6)
             AS DECIMAL(28,6)) AS slope,
        a.x * 1000000 + b.x AS pair_id
      FROM recent a JOIN recent b ON a.grp = b.grp AND b.x > a.x
    ), ranked AS (
      SELECT grp, slope,
        ROW_NUMBER() OVER (
          PARTITION BY grp ORDER BY slope ASC, pair_id ASC) AS rn,
        COUNT(*) OVER (PARTITION BY grp) AS n
      FROM slopes
    ), med AS (
      SELECT grp, SUM(slope * (
          CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
        + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END)) AS slope2
      FROM ranked
      WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      GROUP BY grp
    ), counts AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_points
      FROM recent GROUP BY grp
    ), np AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_pairs
      FROM slopes GROUP BY grp
    )
    SELECT c.grp AS o_orderpriority, c.n_points,
      CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
      round(CAST(med.slope2 AS DOUBLE) / 2.0, 6) AS slope
    FROM counts c
    LEFT JOIN np USING (grp)
    LEFT JOIN med USING (grp)
"""

def _bfs_oracle(max_hops: int = 4) -> str:
    """Chained-CTE replay of multi-source BFS on the planted
    97-host graph — one (frontier = neighbors minus settled;
    settled += frontier at dist h) block per hop, exactly
    operators/graph.py::bfs_distances."""
    parts = [
        """
    WITH e0 AS (
      SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst
      FROM documents
    ), e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e0 WHERE src != dst
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0 WHERE src != dst
      )
    ), d0 AS (
      SELECT CAST(l AS BIGINT) AS node, 0 AS dist FROM range(0, 3) t(l)
    )"""
    ]
    for h in range(1, max_hops + 1):
        p, c = f"d{h - 1}", f"d{h}"
        parts.append(
            f""", f{h} AS (
      SELECT DISTINCT e.dst AS node
      FROM e JOIN {p} ON e.src = {p}.node
      WHERE e.dst NOT IN (SELECT node FROM {p})
    ), {c} AS (
      SELECT node, dist FROM {p}
      UNION ALL SELECT node, {h} AS dist FROM f{h}
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INTEGER) AS dist
    FROM d{max_hops}"""
    )
    return "".join(parts)


ORACLES["bfs_distances"] = _bfs_oracle(4)

ORACLES["ngram_novelty"] = """
    WITH tgt AS (
      SELECT doc_id, text FROM documents
      WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')
    ), ref AS (
      SELECT text FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ), tt AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x != '') AS toks
      FROM tgt
    ), tsh AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(toks) >= 3
          THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                FOR i IN generate_series(1, len(toks) - 2)]
          ELSE [] END) AS grams
      FROM tt
    ), e AS (
      SELECT doc_id, len(grams) AS ng,
        ('0x' || substr(md5('nv8' || unnest(grams)), 1, 15))::BIGINT AS h
      FROM tsh
    ), rt AS (
      SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x != '') AS toks
      FROM ref
    ), rsh AS (
      SELECT list_distinct(CASE WHEN len(toks) >= 3
          THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                FOR i IN generate_series(1, len(toks) - 2)]
          ELSE [] END) AS grams
      FROM rt
    ), rh AS (
      SELECT DISTINCT
        ('0x' || substr(md5('nv8' || unnest(grams)), 1, 15))::BIGINT AS h,
        1 AS hit
      FROM rsh
    ), per AS (
      SELECT doc_id,
        CAST(max(ng) AS BIGINT) AS n_shingles,
        CAST(sum(CASE WHEN rh.hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_novel
      FROM e LEFT JOIN rh USING (h) GROUP BY 1
    )
    SELECT t.doc_id,
      COALESCE(per.n_shingles, CAST(0 AS BIGINT)) AS n_shingles,
      COALESCE(per.n_novel, CAST(0 AS BIGINT)) AS n_novel,
      CASE WHEN per.n_shingles > 0 THEN
        round(CAST(per.n_novel AS DOUBLE)
              / CAST(per.n_shingles AS DOUBLE), 6) END AS novelty
    FROM tgt t LEFT JOIN per USING (doc_id)
"""

ORACLES["unpivot_metrics"] = """
    WITH a AS (
      SELECT o_orderpriority,
        CAST(count(*) AS DOUBLE) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
          AS total_revenue,
        CAST(max(o_totalprice) AS DOUBLE) AS max_price
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value
    FROM a
    UNION ALL
    SELECT o_orderpriority, 'total_revenue', total_revenue FROM a
    UNION ALL
    SELECT o_orderpriority, 'max_price', max_price FROM a
"""


def _rfm_oracle() -> str:
    """Three quantile_discretize replays (integer basis-point cut
    rule over distinct-value cumsums) + the segment-grid rollup."""

    def edges(metric: str) -> str:
        cases = ",\n        ".join(
            f"min(CASE WHEN cum >= ({bp} * n + 9999) // 10000 "
            f"THEN v END) AS e{i}"
            for i, bp in enumerate((2000, 4000, 6000, 8000), start=1)
        )
        return f"""{metric}_cum AS (
      SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        AS cum
      FROM (SELECT {metric} AS v, count(*) AS c FROM rfm GROUP BY 1)
    ), {metric}_e AS (
      SELECT {cases}
      FROM {metric}_cum CROSS JOIN (SELECT count(*) AS n FROM rfm)
    )"""

    def bin_expr(metric: str, out: str) -> str:
        s = " + ".join(
            f"(CASE WHEN {metric} >= {metric}_e.e{i} THEN 1 ELSE 0 END)"
            for i in range(1, 5)
        )
        return f"CAST({s} AS INTEGER) AS {out}"

    return f"""
    WITH per_cust AS (
      SELECT o_custkey,
        max(epoch_us(o_orderdate) // 86400000000) AS last_day,
        CAST(count(*) AS BIGINT) AS frequency,
        SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
      FROM orders GROUP BY 1
    ), rfm AS (
      SELECT o_custkey,
        CAST((SELECT max(last_day) FROM per_cust) - last_day
             AS BIGINT) AS recency,
        frequency, monetary
      FROM per_cust
    ), {edges("recency")}, {edges("frequency")}, {edges("monetary")},
    binned AS (
      SELECT {bin_expr("recency", "r_bin")},
        {bin_expr("frequency", "f_bin")},
        {bin_expr("monetary", "m_bin")},
        monetary
      FROM rfm
      CROSS JOIN recency_e CROSS JOIN frequency_e CROSS JOIN monetary_e
    )
    SELECT r_bin, f_bin, m_bin,
      CAST(count(*) AS BIGINT) AS n_customers,
      CAST(SUM(monetary) AS DOUBLE) AS total_monetary
    FROM binned GROUP BY 1, 2, 3
"""


ORACLES["rfm_segments"] = _rfm_oracle()

def _ewma_oracle(alpha: float = 0.3, k: int = 14) -> str:
    """Replay of ewma_smooth's truncated weighted sum with the
    SAME 6dp literal weights the operator precomputes."""
    a = float(alpha)
    ws = [round(a * (1 - a) ** i, 6) for i in range(int(k))]
    wsum = round(sum(ws), 6)
    terms = " + ".join(
        f"CAST('{ws[i]:.6f}' AS DECIMAL(8,6)) * "
        + ("y" if i == 0 else f"lag(y, {i}) OVER w")
        for i in range(int(k))
    )
    wd = f"CAST(CAST('{wsum:.6f}' AS DECIMAL(8,6)) AS DOUBLE)"
    return f"""
    WITH daily AS (
      SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
        AS x,
        CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), t AS (
      SELECT x, y, ({terms}) AS num
      FROM daily WINDOW w AS (ORDER BY x)
    )
    SELECT x, y,
      round(CAST(num AS DOUBLE) / {wd}, 6) AS ewma,
      round(CAST(y AS DOUBLE) - CAST(num AS DOUBLE) / {wd}, 6)
        AS resid
    FROM t
"""


ORACLES["ewma_smooth"] = _ewma_oracle(0.3, 14)

ORACLES["spatial_join_grid"] = """
    WITH c AS (
      SELECT c_custkey,
        (c_custkey * 2654435761) % 180000000 - 90000000 AS x,
        (c_custkey * 40503) % 360000000 - 180000000 AS y
      FROM customer
    ), s AS (
      SELECT s_suppkey,
        (s_suppkey * 97003) % 180000000 - 90000000 AS x,
        (s_suppkey * 11027) % 360000000 - 180000000 AS y
      FROM supplier
    )
    SELECT c_custkey, s_suppkey,
      CAST((c.x - s.x) * (c.x - s.x)
         + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2
    FROM c CROSS JOIN s
    WHERE (c.x - s.x) * (c.x - s.x)
        + (c.y - s.y) * (c.y - s.y) <= 4000000000000
"""

ORACLES["audience_overlap"] = """
    WITH bm AS (
      SELECT event_type AS segment, user_id // 32 AS word,
        bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
      FROM events GROUP BY 1, 2
    ), sizes AS (
      SELECT segment, CAST(sum(bit_count(bits)) AS BIGINT) AS n
      FROM bm GROUP BY 1
    ), inter AS (
      SELECT a.segment AS segment_a, b.segment AS segment_b,
        CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_overlap
      FROM bm a JOIN bm b
        ON a.word = b.word AND a.segment < b.segment
      GROUP BY 1, 2
    )
    SELECT sa.segment AS segment_a, sb.segment AS segment_b,
      sa.n AS n_a, sb.n AS n_b,
      CAST(COALESCE(i.n_overlap, 0) AS BIGINT) AS n_overlap,
      CASE WHEN sa.n + sb.n - COALESCE(i.n_overlap, 0) > 0 THEN
        round(CAST(COALESCE(i.n_overlap, 0) AS DOUBLE)
              / CAST(sa.n + sb.n - COALESCE(i.n_overlap, 0)
                     AS DOUBLE), 6) END AS jaccard
    FROM sizes sa
    JOIN sizes sb ON sa.segment < sb.segment
    LEFT JOIN inter i
      ON i.segment_a = sa.segment AND i.segment_b = sb.segment
"""

def _script_oracle() -> str:
    """Oracle for script_profile, GENERATED from SCRIPT_RANGES and
    the planted sample list."""
    from .functions.text import SCRIPT_RANGES

    n = len(_SCRIPT_SAMPLES)
    cases = " ".join(
        f"WHEN doc_id % {n} = {i} THEN '{s}'"
        for i, s in enumerate(_SCRIPT_SAMPLES[:-1])
    )
    planted = (
        f"(COALESCE(text, '') || CASE {cases} "
        f"ELSE '{_SCRIPT_SAMPLES[-1]}' END)"
    )
    counts = ", ".join(
        f"CAST(COALESCE(length(t), 0) - COALESCE(length("
        f"regexp_replace(t, '[{r}]', '', 'g')), 0) AS BIGINT)"
        f" AS n_{name}"
        for name, r in SCRIPT_RANGES.items()
    )
    names = list(SCRIPT_RANGES)
    total = " + ".join(f"n_{x}" for x in names)
    best_name, best_n = f"'{names[0]}'", f"n_{names[0]}"
    for name in names[1:]:
        best_name = (
            f"CASE WHEN n_{name} > {best_n} THEN '{name}' "
            f"ELSE {best_name} END"
        )
        best_n = (
            f"CASE WHEN n_{name} > {best_n} THEN n_{name} "
            f"ELSE {best_n} END"
        )
    return f"""
      WITH p AS (SELECT doc_id, {planted} AS t FROM documents),
      c AS (SELECT doc_id, {counts} FROM p)
      SELECT doc_id, {", ".join("n_" + x for x in names)},
        CAST({total} AS BIGINT) AS n_script,
        CASE WHEN {total} > 0 THEN {best_name}
             ELSE 'none' END AS main_script,
        CASE WHEN {total} > 0 THEN
          round(CAST({best_n} AS DOUBLE) / CAST({total} AS DOUBLE), 6)
        END AS main_ratio
      FROM c
    """


ORACLES["script_profile"] = _script_oracle()


# r9: winnowing — shared CTE prefix replaying grams-with-positions,
# per-window minima (rightmost on ties) and the selected set.
_WINNOW_CTE = """
    WITH t AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x != '') AS toks
      FROM documents{subset}
    ), ls AS (
      SELECT doc_id, len(toks) - 2 AS n,
        list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                       i -> i) AS poss,
        list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
      FROM t
    ), g AS (
      SELECT doc_id, n, unnest(poss) AS pos,
        ('0x' || substr(md5('wn9|' || unnest(grams)), 1, 15))::BIGINT
          AS h
      FROM ls
    ), win AS (
      SELECT a.doc_id, a.pos AS ws, b.pos, b.h
      FROM g a JOIN g b
        ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos AND a.pos + 7
      WHERE a.pos + 7 <= a.n
    ), mins AS (
      SELECT doc_id, ws, MIN(h) AS mh FROM win GROUP BY 1, 2
    ), sel AS (
      SELECT w.doc_id, MAX(w.pos) AS pos, w.h AS fp
      FROM win w JOIN mins m
        ON m.doc_id = w.doc_id AND m.ws = w.ws AND w.h = m.mh
      GROUP BY w.doc_id, w.ws, w.h
    ), fps AS (
      SELECT DISTINCT doc_id, pos, fp FROM sel
    )
"""

ORACLES["winnow_fingerprints"] = (
    _WINNOW_CTE.format(subset=" WHERE doc_id % 25 = 0")
    + """
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, fp FROM fps
"""
)

ORACLES["winnowing_pairs"] = (
    _WINNOW_CTE.format(subset="")
    + """
    , u AS (SELECT DISTINCT doc_id, fp FROM fps),
    rare AS (
      SELECT fp FROM u GROUP BY fp HAVING count(*) <= 1000
    ), e AS (
      SELECT u.doc_id, u.fp FROM u JOIN rare USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(count(*) AS BIGINT) AS n_shared
    FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
"""
)


# r9: item-item lexical retrieval — same tf/idf replay as
# keywords_tfidf, weights lifted to DECIMAL(18,6), dots and squared
# norms exact decimal sums, cosine by fixed-order IEEE ops.
ORACLES["more_like_this"] = """
    WITH tok AS (
      SELECT doc_id,
        unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), n AS (
      SELECT count(*) AS nd FROM documents
    ), dfq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), w AS (
      SELECT tf.doc_id, tf.term,
        CAST(round(CAST(tf.tf AS DOUBLE)
                   * round(ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)),
                           6),
                   6) AS DECIMAL(18,6)) AS w
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    ), norms AS (
      SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY 1
      HAVING SUM(w * w) > 0
    ), pw AS (
      SELECT doc_id AS pid, term, w AS wp FROM w
      WHERE doc_id % 100 = 0
    ), dots AS (
      SELECT pw.pid, w.doc_id AS cid, SUM(pw.wp * w.w) AS dot
      FROM pw JOIN w USING (term)
      WHERE w.doc_id != pw.pid
      GROUP BY 1, 2
    ), cos AS (
      SELECT d.pid AS probe_id, d.cid AS cand_id,
        round(CAST(d.dot AS DOUBLE)
              / sqrt(CAST(np.n2 AS DOUBLE))
              / sqrt(CAST(nc.n2 AS DOUBLE)), 6) AS cosine
      FROM dots d
      JOIN norms np ON np.doc_id = d.pid
      JOIN norms nc ON nc.doc_id = d.cid
    ), r AS (
      SELECT probe_id, cand_id, cosine,
        row_number() OVER (
          PARTITION BY probe_id
          ORDER BY cosine DESC, cand_id ASC) AS rank
      FROM cos
    )
    SELECT probe_id, cand_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 5
"""


# r9: quality-aware canonicalization — composes the TWO proven
# replays (frozen quality scores + minhash components); the winner
# rule is the same deterministic ROW_NUMBER ordering as Spark's.
ORACLES["dedup_keep_best"] = _quality_score_cte() + """
    , canon AS ( {canon} ),
    j AS (
      SELECT s.doc_id,
        COALESCE(c.component, s.doc_id) AS cluster, s.qs AS score
      FROM s LEFT JOIN canon c ON c.id = s.doc_id
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY cluster ORDER BY score DESC, doc_id ASC) AS rn
      FROM j
    )
    SELECT doc_id, CAST(cluster AS BIGINT) AS cluster, score,
      rn = 1 AS kept
    FROM r
""".format(canon=ORACLES["minhash_canonical"])


# dedup observability: COMPOSE the proven minhash_canonical replay
# (the evaluation-metrics subquery-splice precedent)
ORACLES["dup_cluster_report"] = """
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM ( {canon} ) canon GROUP BY 1
    ) sizes GROUP BY 1
""".format(canon=ORACLES["minhash_canonical"])

ORACLES["top_paths"] = """
    WITH s AS (
      SELECT event_type AS s3,
        lag(event_type, 1) OVER w AS s2,
        lag(event_type, 2) OVER w AS s1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
    FROM s WHERE s1 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, s1, s2, s3
    LIMIT 20
"""

ORACLES["ltv_curve"] = """
    WITH base AS (
      SELECT o_custkey,
        (epoch_us(o_orderdate) // 86400000000 + 3) // 7 AS week,
        CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders
    ), first AS (
      SELECT o_custkey, min(week) AS cohort FROM base GROUP BY 1
    ), sized AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
      FROM first GROUP BY 1
    ), per AS (
      SELECT cohort, week - cohort AS age, SUM(price) AS rev
      FROM base JOIN first USING (o_custkey)
      GROUP BY 1, 2
    ), cum AS (
      SELECT cohort, age, rev,
        sum(rev) OVER (PARTITION BY cohort ORDER BY age
                       ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM per
    )
    SELECT CAST(c.cohort AS BIGINT) AS cohort,
      CAST(c.age AS BIGINT) AS age,
      CAST(c.rev AS DOUBLE) AS rev,
      CAST(c.cum_rev AS DOUBLE) AS cum_rev,
      s.cohort_users,
      CAST((CAST(c.cum_rev * 100 AS BIGINT) * 10000)
           // s.cohort_users AS DOUBLE)
        / CAST(1000000 AS DOUBLE) AS ltv_per_user
    FROM cum c JOIN sized s USING (cohort)
"""

def _bellman_oracle(n_rounds: int = 4) -> str:
    """Chained-CTE replay of bounded Bellman-Ford on the planted
    weighted 97-host graph (weighted_distances)."""
    parts = [
        """
    WITH e0 AS (
      SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst
      FROM documents
    ), ew AS (
      SELECT src, dst, (src + dst) % 5 + 1 AS w FROM e0
    ), e AS (
      SELECT DISTINCT src, dst, w FROM (
        SELECT src, dst, w FROM ew WHERE src != dst
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM ew WHERE src != dst
      )
    ), d0 AS (
      SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
    )"""
    ]
    for i in range(1, n_rounds + 1):
        p, c = f"d{i - 1}", f"d{i}"
        parts.append(
            f""", r{i} AS (
      SELECT e.dst AS node, min({p}.dist + e.w) AS dist
      FROM e JOIN {p} ON e.src = {p}.node GROUP BY 1
    ), {c} AS (
      SELECT COALESCE(a.node, b.node) AS node,
        least(COALESCE(a.dist, b.dist), COALESCE(b.dist, a.dist))
          AS dist
      FROM {p} a FULL JOIN r{i} b ON a.node = b.node
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
    FROM d{n_rounds}"""
    )
    return "".join(parts)


ORACLES["weighted_distances"] = _bellman_oracle(4)

ORACLES["kwic_snippets"] = """
    WITH t AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x != '') AS toks
      FROM documents
    ), hits AS (
      SELECT doc_id, toks,
        unnest([i FOR i IN generate_series(1, len(toks))
                IF toks[i] = 'the']) AS pos
      FROM t
    )
    SELECT doc_id, CAST(pos AS INTEGER) AS pos,
      array_to_string(
        toks[greatest(pos - 3, 1):least(pos + 3, len(toks))], ' ')
        AS snippet
    FROM hits
"""

ORACLES["iqr_outliers"] = """
    WITH base AS (
      SELECT c_custkey, c_nationkey,
        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      FROM customer
    ), counts AS (
      SELECT c_nationkey AS g, bal AS v, count(*) AS c
      FROM base WHERE bal IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT g, v,
        sum(c) OVER (PARTITION BY g ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS cum,
        sum(c) OVER (PARTITION BY g) AS n
      FROM counts
    ), q AS (
      SELECT g AS c_nationkey,
        min(CASE WHEN cum >= (2500 * n + 9999) // 10000 THEN v END)
          AS p25,
        min(CASE WHEN cum >= (7500 * n + 9999) // 10000 THEN v END)
          AS p75
      FROM cum GROUP BY 1
    )
    SELECT b.c_custkey, b.c_nationkey, b.bal AS value, q.p25, q.p75,
      (10 * b.bal < 10 * q.p25 - 15 * (q.p75 - q.p25)
       OR 10 * b.bal > 10 * q.p75 + 15 * (q.p75 - q.p25))
        AS is_outlier
    FROM base b JOIN q USING (c_nationkey)
"""

ORACLES["twap_daily"] = """
    WITH base AS (
      SELECT user_id AS entity,
        epoch_us(ts) // 86400000000 AS day,
        epoch_us(ts) AS us, event_id AS oid, value AS v
      FROM events
    ), t AS (
      SELECT entity, day, v,
        COALESCE(
          lead(us) OVER (PARTITION BY entity, day
                         ORDER BY us, oid),
          (day + 1) * 86400000000) - us AS w
      FROM base
    ), terms AS (
      SELECT entity, day,
        CAST(round(v * CAST(w AS DOUBLE), 6) AS DECIMAL(38,6)) AS vw,
        w
      FROM t
    )
    SELECT entity, CAST(day AS BIGINT) AS day,
      CAST(count(*) AS BIGINT) AS n_obs,
      round(CAST(sum(vw) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
        AS twap
    FROM terms GROUP BY 1, 2
"""

ORACLES["sketch_union_merge"] = """
    WITH t AS (
      SELECT source,
        unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                                                 '\\s+'),
                           x -> x != '')) AS tok
      FROM documents
    ), kept AS (
      SELECT source AS part, tok FROM t
      WHERE ('0x' || substr(md5('su8' || tok), 1, 15))::BIGINT
            % 16 = 0
    ), per AS (
      SELECT part,
        CAST(COUNT(DISTINCT tok) * 16 AS BIGINT) AS distinct_est
      FROM kept GROUP BY 1
    ), m AS (
      SELECT '__ALL__' AS part,
        CAST(COUNT(DISTINCT tok) * 16 AS BIGINT) AS distinct_est
      FROM kept
    )
    SELECT * FROM per UNION ALL SELECT * FROM m
"""

ORACLES["calendar_dim"] = """
    WITH mm AS (
      SELECT
        CAST(min(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
          AS lo,
        CAST(max(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
          AS hi
      FROM orders
    ), days AS (
      SELECT CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS day
      FROM mm
    )
    SELECT day,
      CAST((day + 3) % 7 AS INTEGER) AS dow,
      CAST(year(DATE '1970-01-01' + CAST(day AS INTEGER))
           AS INTEGER) AS year,
      CAST(month(DATE '1970-01-01' + CAST(day AS INTEGER))
           AS INTEGER) AS month,
      CAST(day(DATE '1970-01-01' + CAST(day AS INTEGER))
           AS INTEGER) AS dom,
      CAST(quarter(DATE '1970-01-01' + CAST(day AS INTEGER))
           AS INTEGER) AS quarter,
      CAST((day + 3) // 7 AS BIGINT) AS week,
      (day(DATE '1970-01-01' + CAST(day AS INTEGER)) = 1)
        AS is_month_start,
      (month(DATE '1970-01-01' + CAST(day + 1 AS INTEGER))
       != month(DATE '1970-01-01' + CAST(day AS INTEGER)))
        AS is_month_end
    FROM days
"""

ORACLES["null_safe_join"] = """
    WITH cust AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 7 != 0 THEN c_mktsegment END AS seg
      FROM customer
    ), dim AS (
      SELECT seg,
        ('0x' || substr(md5(COALESCE(seg, '<NULL>')), 1, 8))::BIGINT
          AS seg_id
      FROM (SELECT DISTINCT seg FROM cust)
    )
    SELECT d.seg, d.seg_id, CAST(count(*) AS BIGINT) AS n_customers
    FROM cust c
    LEFT JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY 1, 2
"""

ORACLES["customer_set_ops"] = """
    SELECT 'intersect' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 0
      INTERSECT
      SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 0
      EXCEPT
      SELECT o_custkey FROM orders
    )
"""


def _mrl_oracle(dims=(4, 8, 16), k: int = 10) -> str:
    """Per-dim sliced-ranking replay of truncation_recall."""
    ctes = [
        """q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id = 0
    ), full_k AS (
      SELECT vec_id AS vid FROM embeddings, q WHERE vec_id != 0
      ORDER BY list_cosine_similarity(
        CAST(embedding AS DOUBLE[]), qv) DESC, vec_id ASC
      LIMIT %d
    )"""
        % k
    ]
    sels = []
    for d in dims:
        ctes.append(
            f"""d{d} AS (
      SELECT vec_id AS vid FROM embeddings, q WHERE vec_id != 0
      ORDER BY list_cosine_similarity(
        CAST(embedding AS DOUBLE[])[1:{d}], qv[1:{d}]) DESC,
        vec_id ASC
      LIMIT {k}
    )"""
        )
        sels.append(
            f"""SELECT CAST({d} AS INTEGER) AS dim,
      round(CAST((SELECT count(*) FROM d{d} JOIN full_k USING (vid))
                 AS DOUBLE) / CAST({k} AS DOUBLE), 6) AS recall"""
        )
    return (
        "\n    WITH "
        + ", ".join(ctes)
        + "\n    "
        + "\n    UNION ALL\n    ".join(sels)
    )


ORACLES["mrl_recall"] = _mrl_oracle((4, 8, 16), 10)

ORACLES["token_budget_sample"] = """
    SELECT doc_id, source, n_chars, cum_before FROM (
      SELECT doc_id, source, n_chars,
        CAST(COALESCE(SUM(n_chars) OVER (
          PARTITION BY source
          ORDER BY md5('tb8' || CAST(doc_id AS VARCHAR)) ASC,
                   doc_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS cum_before
      FROM documents
    ) WHERE cum_before < 2000
"""

ORACLES["interval_coverage"] = """
    WITH base AS (
      SELECT user_id AS entity, epoch_us(ts) AS s,
        epoch_us(ts) + ((event_id % 900) + 100) * 1000000 AS e
      FROM events
    ), flagged AS (
      SELECT entity, s, e,
        CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp
          THEN 1 ELSE 0 END AS new_island
      FROM base WHERE e > s
      WINDOW wp AS (PARTITION BY entity ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl AS (
      SELECT entity, s, e,
        sum(new_island) OVER (
          PARTITION BY entity ORDER BY s, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ), g AS (
      SELECT entity, island, count(*) AS n_iv, max(e) - min(s) AS len
      FROM isl GROUP BY 1, 2
    )
    SELECT entity, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
      CAST(count(*) AS BIGINT) AS n_islands,
      CAST(sum(len) AS BIGINT) AS covered
    FROM g GROUP BY 1
"""

ORACLES["attribution_last_touch"] = """
    WITH ev AS (
      SELECT user_id AS entity, epoch_us(ts) AS us,
        event_id AS eid, event_type AS state
      FROM events
    ), t AS (
      SELECT entity, us, eid, state,
        max(CASE WHEN state != 'purchase' THEN
          lpad(CAST(us AS VARCHAR), 20, '0')
          || lpad(CAST(eid AS VARCHAR), 12, '0') || state END)
          OVER (PARTITION BY entity ORDER BY us, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS mx
      FROM ev
    ), c AS (
      SELECT entity, us, eid,
        CAST(substr(mx, 1, 20) AS BIGINT) AS tus,
        CAST(substr(mx, 21, 12) AS BIGINT) AS tid,
        substr(mx, 33) AS tstate
      FROM t WHERE state = 'purchase'
    )
    SELECT entity, eid AS conversion_id, us AS conversion_us,
      CASE WHEN tus > us - 604800000000 THEN tid END AS touch_id,
      CASE WHEN tus > us - 604800000000 THEN tstate END
        AS touch_state,
      CASE WHEN tus > us - 604800000000 THEN tus END AS touch_us
    FROM c
"""

ORACLES["schema_evolution"] = """
    SELECT o_orderkey, o_totalprice,
      CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
        AS o_orderpriority
    FROM orders
"""

ORACLES["latency_sla"] = """
    WITH counts AS (
      SELECT event_type AS g, value AS v, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT g, v,
        sum(c) OVER (PARTITION BY g ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS cum,
        sum(c) OVER (PARTITION BY g) AS n
      FROM counts
    )
    SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
      min(CASE WHEN cum >= (5000 * n + 9999) // 10000 THEN v END)
        AS p50,
      min(CASE WHEN cum >= (9500 * n + 9999) // 10000 THEN v END)
        AS p95,
      min(CASE WHEN cum >= (9900 * n + 9999) // 10000 THEN v END)
        AS p99
    FROM cum GROUP BY 1
"""

ORACLES["join_fanout_report"] = """
    WITH lc AS (
      SELECT c_custkey AS key, CAST(count(*) AS BIGINT) AS n_left
      FROM customer GROUP BY 1
    ), rc AS (
      SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n_right
      FROM orders GROUP BY 1
    ), per_key AS (
      SELECT key, n_left, n_right, n_left * n_right AS fanout
      FROM lc JOIN rc USING (key)
    ), tot AS (
      SELECT CAST(sum(fanout) AS BIGINT) AS total_fanout
      FROM per_key
    )
    SELECT key, n_left, n_right, CAST(fanout AS BIGINT) AS fanout,
      total_fanout,
      round(CAST(fanout AS DOUBLE) / CAST(total_fanout AS DOUBLE), 6)
        AS share
    FROM per_key CROSS JOIN tot
    ORDER BY fanout DESC, key ASC
    LIMIT 10
"""

ORACLES["histogram_report"] = """
    WITH src AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                  AS BIGINT) AS cents
      FROM orders
    ), mm AS (
      SELECT CAST(min(cents) AS BIGINT) AS lo,
        CAST(max(cents) AS BIGINT) AS hi
      FROM src WHERE cents IS NOT NULL
    ), binned AS (
      SELECT (cents - lo) * 20 // (hi - lo + 1) AS bin,
        count(*) AS cnt
      FROM src CROSS JOIN mm WHERE cents IS NOT NULL
      GROUP BY 1
    ), grid AS (
      SELECT CAST(b AS BIGINT) AS bin,
        lo + (CAST(b AS BIGINT) * (hi - lo + 1)) // 20 AS lo_edge,
        lo + ((CAST(b AS BIGINT) + 1) * (hi - lo + 1)) // 20 - 1
          AS hi_edge
      FROM range(0, 20) t(b) CROSS JOIN mm
    )
    SELECT CAST(g.bin AS INTEGER) AS bin,
      CAST(g.lo_edge AS BIGINT) AS lo_edge,
      CAST(g.hi_edge AS BIGINT) AS hi_edge,
      CAST(COALESCE(b.cnt, 0) AS BIGINT) AS cnt
    FROM grid g LEFT JOIN binned b ON g.bin = b.bin
"""

ORACLES["hard_negatives"] = """
    WITH a AS (
      SELECT vec_id AS query_id,
        CAST(embedding AS DOUBLE[]) AS qv, label AS ql
      FROM embeddings WHERE vec_id % 50 = 0
    )
    SELECT query_id, neighbor_id, neighbor_label, rank,
      ROUND(cos, 4) AS cosine
    FROM (
      SELECT a.query_id, b.vec_id AS neighbor_id,
        b.label AS neighbor_label,
        list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), a.qv)
          AS cos,
        ROW_NUMBER() OVER (
          PARTITION BY a.query_id
          ORDER BY list_cosine_similarity(
            CAST(b.embedding AS DOUBLE[]), a.qv) DESC,
          b.vec_id ASC
        ) AS rank
      FROM a JOIN embeddings b ON b.label != a.ql
    ) WHERE rank <= 3
"""

ORACLES["oversample_balance"] = """
    WITH d AS (
      SELECT doc_id, lang FROM documents
    ), counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ), t AS (
      SELECT max(n) AS target FROM counts
    ), ranked AS (
      SELECT doc_id, lang,
        ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY md5('ob8' || CAST(doc_id AS VARCHAR)) ASC,
                   doc_id ASC) AS rk
      FROM d
    ), c AS (
      SELECT r.doc_id, r.lang,
        (target // n)
        + (CASE WHEN rk <= target % n THEN 1 ELSE 0 END) AS copies
      FROM ranked r JOIN counts USING (lang) CROSS JOIN t
    )
    SELECT doc_id, lang,
      CAST(unnest(generate_series(1, copies)) AS BIGINT) AS copy_ix
    FROM c
"""

ORACLES["cube_revenue"] = """
    WITH j AS (
      SELECT r_name, c_mktsegment, o_totalprice
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    )
    SELECT r_name, c_mktsegment,
      CAST(GROUPING(r_name) * 2 + GROUPING(c_mktsegment) AS BIGINT)
        AS gid,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        AS revenue
    FROM j
    GROUP BY CUBE (r_name, c_mktsegment)
"""

ORACLES["item_cooccurrence"] = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ), ic AS (
      SELECT i, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY 1
    ), pairs AS (
      SELECT a.i AS i, c.i AS j, CAST(count(*) AS BIGINT) AS n_ab
      FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT p.i AS item_a, p.j AS item_b,
      na.n AS n_a, nb.n AS n_b, p.n_ab,
      round(CAST(p.n_ab AS DOUBLE)
            / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6) AS cosine
    FROM pairs p
    JOIN ic na ON na.i = p.i
    JOIN ic nb ON nb.i = p.j
"""

ORACLES["impute_median"] = """
    WITH base AS (
      SELECT c_custkey, c_nationkey,
        CASE WHEN c_custkey % 19 != 0
          THEN CAST(c_acctbal AS DECIMAL(12,2)) END AS acctbal
      FROM customer
    ), nn AS (
      SELECT c_nationkey, acctbal, c_custkey,
        ROW_NUMBER() OVER (
          PARTITION BY c_nationkey
          ORDER BY acctbal ASC, c_custkey ASC) AS rn,
        COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      FROM base WHERE acctbal IS NOT NULL
    ), med AS (
      SELECT c_nationkey, SUM(acctbal * (
          CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
        + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END)) AS med2
      FROM nn
      WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      GROUP BY 1
    )
    SELECT b.c_custkey, b.c_nationkey,
      CAST(b.acctbal AS DOUBLE) AS acctbal,
      COALESCE(CAST(b.acctbal AS DOUBLE),
               round(CAST(m.med2 AS DOUBLE) / 2.0, 6))
        AS acctbal_imputed,
      (b.acctbal IS NULL AND m.med2 IS NOT NULL)
        AS acctbal_was_imputed
    FROM base b LEFT JOIN med m USING (c_nationkey)
"""

ORACLES["skyline_parts"] = """
    WITH px AS (
      SELECT p_partkey, p_brand, p_size,
        CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          AS price_c
      FROM part
    )
    SELECT p_brand, p_partkey, price_c, p_size
    FROM px p
    WHERE NOT EXISTS (
      SELECT 1 FROM px q
      WHERE q.p_brand = p.p_brand
        AND q.price_c <= p.price_c AND q.p_size >= p.p_size
        AND (q.price_c < p.price_c OR q.p_size > p.p_size)
    )
"""

ORACLES["ab_test_report"] = """
    WITH per_user AS (
      SELECT user_id,
        CASE WHEN user_id % 2 = 0 THEN 'control'
             ELSE 'treatment' END AS v,
        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS converted
      FROM events GROUP BY 1
    ), pv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(converted) AS BIGINT) AS c
      FROM per_user GROUP BY 1
    ), a AS (
      SELECT v AS variant_a, n AS n_a, c AS conv_a
      FROM pv ORDER BY v ASC LIMIT 1
    ), b AS (
      SELECT v AS variant_b, n AS n_b, c AS conv_b
      FROM pv ORDER BY v DESC LIMIT 1
    ), j AS (
      SELECT *,
        CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
        CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
        CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
          AS pp
      FROM a CROSS JOIN b
    ), k AS (
      SELECT *,
        sqrt(pp * (CAST(1 AS DOUBLE) - pp)
             * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS se,
        (n_a > 0 AND n_b > 0 AND pp > CAST(0 AS DOUBLE)
         AND pp < CAST(1 AS DOUBLE)
         AND variant_a <> variant_b) AS valid
      FROM j
    )
    SELECT variant_a, variant_b, n_a, n_b, conv_a, conv_b,
      round(p1, 6) AS rate_a,
      round(p2, 6) AS rate_b,
      CASE WHEN p2 > CAST(0 AS DOUBLE)
        THEN round((p1 - p2) / p2, 6) END AS lift,
      CASE WHEN valid THEN round((p1 - p2) / se, 6) END AS z,
      CASE WHEN valid
        THEN round(((p1 - p2) / se) * ((p1 - p2) / se), 6)
      END AS chi2
    FROM k
"""

ORACLES["fd_profile"] = " UNION ALL ".join(
    f"""
    SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
      CAST(count(*) AS BIGINT) AS n_groups,
      CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_violating,
      CAST(max(nr) AS BIGINT) AS max_rhs_per_group,
      (sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0) AS holds
    FROM (
      SELECT {lhs} AS l,
        COUNT(DISTINCT {rhs})
        + MAX(CASE WHEN {rhs} IS NULL THEN 1 ELSE 0 END) AS nr
      FROM customer GROUP BY 1
    ) g{i}
    """
    for i, (lhs, rhs) in enumerate(
        [
            ("c_custkey", "c_name"),
            ("c_name", "c_custkey"),
            ("c_nationkey", "c_mktsegment"),
            ("c_mktsegment", "c_nationkey"),
        ]
    )
)

ORACLES["candidate_keys"] = " UNION ALL ".join(
    f"""
    SELECT '{",".join(cols)}' AS cols,
      CAST(sum(n) AS BIGINT) AS n_rows,
      CAST(count(*) AS BIGINT) AS n_distinct,
      CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
        AS n_dup_rows,
      (sum(CASE WHEN n > 1 THEN n ELSE 0 END) = 0) AS is_key
    FROM (
      SELECT count(*) AS n FROM orders GROUP BY {", ".join(cols)}
    ) g{i}
    """
    for i, cols in enumerate(
        [["o_orderkey"], ["o_custkey"], ["o_custkey", "o_orderdate"]]
    )
)

# html_extract plants 5 blocks (nav, h1, p, related-div, footer);
# the extractor keeps h1 + p (nav/footer are boiler containers, the
# related box is 100% link chars), titles from the <title> tag, and
# whitespace-normalizes block text — all recomputable from the raw
# text column. An empty/whitespace-only text drops the p block
# (4 planted, 1 kept).
ORACLES["html_extract"] = """
    WITH n AS (
      SELECT doc_id,
        trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS t
      FROM documents
    ), m AS (
      SELECT doc_id, t,
        CASE WHEN t = '' THEN 'Doc ' || CAST(doc_id AS VARCHAR)
             ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || t
        END AS main_text
      FROM n
    )
    SELECT doc_id,
      'Doc ' || CAST(doc_id AS VARCHAR) AS title,
      main_text,
      CAST(CASE WHEN t = '' THEN 4 ELSE 5 END AS BIGINT) AS n_blocks,
      CAST(CASE WHEN t = '' THEN 1 ELSE 2 END AS BIGINT) AS n_kept,
      CAST(length(main_text) AS BIGINT) AS main_chars
    FROM m
"""


# ---------------------------------------------------------------------------
# round 9, second session ("r9b") — new operator families
# ---------------------------------------------------------------------------


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog (r9b,
    functions/sketches.py::hll_registers/hll_estimate — true HLL
    registers next to the KMV family, built from the repo's md5 rule
    instead of engine-internal approx_count_distinct state):
    per-priority distinct-customer estimates over orders at p=7
    (m=128). The register frame, the int64 harmonic denominator and
    the one-division raw estimate all replay bit-identically in SQL;
    exact COUNT(DISTINCT) rides along for self-demonstration. p is
    chosen so every group sits in the raw-estimate regime (distinct
    >> 2.5m) — the libm small-range correction stays NULL and out of
    the compared columns (its accuracy is pinned in pytest)."""
    _prep(spark)
    from .functions.sketches import hll_estimate, hll_registers

    orders = load_table(spark, sf_dir, "orders")
    regs = hll_registers(orders, "o_custkey", ["o_orderpriority"], p=7)
    est = hll_estimate(regs, ["o_orderpriority"], p=7)
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority", "buckets_hit", "denom", "hll_est", "exact_distinct"
    )


def _hll_p7_num() -> float:
    from .functions.sketches import _hll_alpha

    return _hll_alpha(128) * 128 * 128 * float(2**54)


# HLL replay: bucket = top 7 of the 60 md5 bits, rho = 54 -
# bitlength of the low 53 bits (length(bin(w)) is identical in both
# engines), denominator assembled exactly in int64, one IEEE division
# by the SAME python-literal numerator the Spark side uses.
ORACLES["hll_cardinality"] = f"""
    WITH h AS (
      SELECT o_orderpriority,
        ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
          AS h60
      FROM orders
    ), r AS (
      SELECT o_orderpriority, h60 >> 53 AS bucket,
        CASE WHEN (h60 & ((1::BIGINT << 53) - 1)) = 0 THEN 54
             ELSE 54 - length(bin(h60 & ((1::BIGINT << 53) - 1)))
        END AS rho
      FROM h
    ), regs AS (
      SELECT o_orderpriority, bucket, max(rho) AS reg
      FROM r GROUP BY 1, 2
    ), agg AS (
      SELECT o_orderpriority,
        CAST(count(*) AS BIGINT) AS buckets_hit,
        CAST((128 - count(*)) * (1::BIGINT << 54)
             + sum(1::BIGINT << (54 - reg)) AS BIGINT) AS denom
      FROM regs GROUP BY 1
    ), ex AS (
      SELECT o_orderpriority,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
      FROM orders GROUP BY 1
    )
    SELECT agg.o_orderpriority, buckets_hit, denom,
      round({_hll_p7_num()!r} / CAST(denom AS DOUBLE), 6) AS hll_est,
      exact_distinct
    FROM agg JOIN ex USING (o_orderpriority)
"""


def q_jw_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Jaro-Winkler string-similarity join (r9b,
    dedup/strings.py::jaro_winkler_join +
    functions/text.py::jaro_winkler — the record-linkage metric next
    to fuzzy_join's Levenshtein/ngram modes): near-identical part
    names sharing a first-token block, verified by the Arrow-batched
    UDF (bit-identical to DuckDB's builtin — pinned pairwise in
    tests/test_r9b_ops.py), with per-name occurrence counts joined
    back so the result is scale-sensitive."""
    _prep(spark)
    from .dedup.strings import jaro_winkler_join

    part = load_table(spark, sf_dir, "part")
    pairs = jaro_winkler_join(part, part, "p_name", "p_name", threshold=0.84)
    counts = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n"))
    return (
        pairs.join(
            counts.select(
                F.col("p_name").alias("name_a"), F.col("n").alias("n_a")
            ),
            "name_a",
        )
        .join(
            counts.select(
                F.col("p_name").alias("name_b"), F.col("n").alias("n_b")
            ),
            "name_b",
        )
        .select("name_a", "name_b", "jw", "n_a", "n_b")
    )


ORACLES["jw_name_pairs"] = """
    WITH d AS (SELECT DISTINCT p_name FROM part),
    t AS (
      SELECT p_name,
        regexp_split_to_array(lower(p_name), '\\s+')[1] AS bk
      FROM d
    ), p AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
        jaro_winkler_similarity(a.p_name, b.p_name) AS jw0
      FROM t a JOIN t b ON a.bk = b.bk AND a.p_name < b.p_name
    ), c AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n
      FROM part GROUP BY 1
    )
    SELECT name_a, name_b, round(jw0, 6) AS jw, ca.n AS n_a, cb.n AS n_b
    FROM p
    JOIN c ca ON ca.p_name = name_a
    JOIN c cb ON cb.p_name = name_b
    WHERE jw0 >= 0.84
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group weighted quantiles (r9b,
    operators/winsorize.py::weighted_group_quantiles — the weighted
    median next to the unweighted SLA report): price quartiles + p90
    per return flag weighted by units (l_quantity). Integer
    basis-point cut over cumulative weights; emitted values are
    input values, bit-exact."""
    _prep(spark)
    from .operators.winsorize import weighted_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_group_quantiles(
        li,
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        probs=(0.25, 0.5, 0.75, 0.9),
        names=["q25", "q50", "q75", "q90"],
    )


ORACLES["weighted_median"] = """
    WITH c AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND l_quantity IS NOT NULL AND CAST(l_quantity AS BIGINT) > 0
      GROUP BY 1, 2
    ), cum AS (
      SELECT g, v,
        CAST(sum(w) OVER (
          PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING
        ) AS BIGINT) AS cum,
        CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS wt
      FROM c
    )
    SELECT g AS l_returnflag,
      CAST(max(wt) AS BIGINT) AS w_total,
      min(CASE WHEN cum >= (2500 * wt + 9999) // 10000 THEN v END) AS q25,
      min(CASE WHEN cum >= (5000 * wt + 9999) // 10000 THEN v END) AS q50,
      min(CASE WHEN cum >= (7500 * wt + 9999) // 10000 THEN v END) AS q75,
      min(CASE WHEN cum >= (9000 * wt + 9999) // 10000 THEN v END) AS q90
    FROM cum GROUP BY 1
"""


def q_phrase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search (r9b, operators/bm25.py::phrase_search —
    positional postings, the quoted-query path next to bag-of-words
    BM25): documents containing the consecutive token pair
    "sort key", with occurrence counts and first match position.
    The oracle replays it via a window-lead formulation — two
    independent constructions agreeing."""
    _prep(spark)
    from .operators.bm25 import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "sort key")


# Oracle formulation: full tokenized stream + lead() — independent
# of the Spark side's term-filtered positional join chain.
ORACLES["phrase_hits"] = """
    WITH tok AS (
      SELECT doc_id,
        list_filter(
          regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          t -> t <> ''
        ) AS ts
      FROM documents
    ), pos AS (
      SELECT doc_id,
        unnest(ts) AS term,
        unnest(generate_series(0, len(ts) - 1)) AS p
      FROM tok WHERE len(ts) > 0
    ), led AS (
      SELECT doc_id, term, p,
        lead(term, 1) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
      FROM pos
    )
    SELECT doc_id,
      CAST(count(*) AS BIGINT) AS n_matches,
      CAST(min(p) AS BIGINT) AS first_pos
    FROM led
    WHERE term = 'sort' AND nxt = 'key'
    GROUP BY 1
"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI (r9b,
    report/bootstrap.py::bootstrap_mean_ci — the Chamandy/Google
    massive-stream bootstrap with content-addressed md5 draws):
    95% percentile CI for mean event value per event type, B=40
    replicates. Exact decimal weighted sums, one IEEE division per
    replicate, CI bounds as order statistics — bit-replayable."""
    _prep(spark)
    from .report.bootstrap import bootstrap_mean_ci

    ev = load_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        ev, "value", "event_id", ["event_type"], n_boot=40, alpha=0.05
    )


def _bootstrap_oracle() -> str:
    from .report.bootstrap import POISSON1_THRESHOLDS

    w_expr = " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)"
        for t in POISSON1_THRESHOLDS
    )
    return f"""
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS x,
        event_id AS k
      FROM events WHERE CAST(value AS DECIMAL(18,6)) IS NOT NULL
    ), pt AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
        round(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS point
      FROM base GROUP BY 1
    ), reps AS (
      SELECT g, x, k, unnest(generate_series(1, 40)) AS b FROM base
    ), hashed AS (
      SELECT g, b, x,
        ('0x' || substr(md5('bs' || CAST(b AS VARCHAR) || chr(31)
                             || CAST(k AS VARCHAR)), 1, 15))::BIGINT AS u
      FROM reps
    ), wtd AS (
      SELECT g, b, x, {w_expr} AS w FROM hashed
    ), means AS (
      SELECT g, b,
        round(CAST(sum(x * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
          AS m
      FROM wtd GROUP BY 1, 2 HAVING sum(w) > 0
    ), ranked AS (
      SELECT g, m,
        row_number() OVER (PARTITION BY g ORDER BY m, b) AS rn,
        count(*) OVER (PARTITION BY g) AS nb
      FROM means
    )
    SELECT g AS event_type, n_rows, point,
      min(CASE WHEN rn >= (250 * nb + 9999) // 10000 THEN m END) AS ci_lo,
      min(CASE WHEN rn >= (9750 * nb + 9999) // 10000 THEN m END) AS ci_hi
    FROM ranked JOIN pt USING (g)
    GROUP BY 1, 2, 3
    """


ORACLES["bootstrap_ci"] = _bootstrap_oracle()


_GAZETTEER_ENTITIES = [
    "sort key",
    "table",
    "query value",
    "spark",
    "merge batch",
]


def q_gazetteer_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary tagging (r9b,
    operators/gazetteer.py::gazetteer_match — set-at-a-time
    multi-word surface-form matching, ONE tokenization pass + two
    joins for the whole dictionary): a 5-entity gazetteer of single-
    and two-word forms over the documents corpus."""
    _prep(spark)
    from .operators.gazetteer import gazetteer_match

    docs = load_table(spark, sf_dir, "documents")
    return gazetteer_match(docs, _GAZETTEER_ENTITIES)


def _gazetteer_oracle() -> str:
    import re as _re

    parts = []
    for e in _GAZETTEER_ENTITIES:
        toks = [t for t in _re.split(r"[^a-z0-9]+", e.lower()) if t]
        if len(toks) == 1:
            parts.append(f"""
      SELECT doc_id, '{e}' AS entity,
        CAST(count(*) AS BIGINT) AS n_matches,
        CAST(min(p) AS BIGINT) AS first_pos
      FROM pos WHERE term = '{toks[0]}' GROUP BY 1, 2""")
        elif len(toks) == 2:
            parts.append(f"""
      SELECT doc_id, '{e}' AS entity,
        CAST(count(*) AS BIGINT) AS n_matches,
        CAST(min(p) AS BIGINT) AS first_pos
      FROM led WHERE term = '{toks[0]}' AND nxt = '{toks[1]}'
      GROUP BY 1, 2""")
        else:  # pragma: no cover - battery uses 1/2-token entities
            raise ValueError("oracle generator handles 1-2 token entities")
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH tok AS (
      SELECT doc_id,
        list_filter(
          regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          t -> t <> ''
        ) AS ts
      FROM documents
    ), pos AS (
      SELECT doc_id,
        unnest(ts) AS term,
        unnest(generate_series(0, len(ts) - 1)) AS p
      FROM tok WHERE len(ts) > 0
    ), led AS (
      SELECT doc_id, term, p,
        lead(term, 1) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
      FROM pos
    )
    {union}
    """


ORACLES["gazetteer_hits"] = _gazetteer_oracle()


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join reduction (r9c,
    operators/semi_join.py::bloom_semi_join — the generalized
    runtime filter: the dim side's keys reduce to a broadcast
    bitset and the fact scan drops non-candidates map-side BEFORE
    the join's exchange; exact because Bloom filters have no false
    negatives and the final join removes false positives): lineitem
    semi-joined to the suppliers of one nation (~4% selectivity),
    aggregated by return flag."""
    _prep(spark)
    from .operators.semi_join import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "supplier").where(
        F.col("s_nationkey") == 3
    )
    kept = bloom_semi_join(li, dim, ("l_suppkey", "s_suppkey"), how="semi")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )


ORACLES["bloom_semi_join"] = """
    SELECT l_returnflag,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)
    GROUP BY 1
"""


def q_bloom_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti mode of the runtime filter (r9c, semi_join.py — rows the
    Bloom filter REJECTS are definite non-matches and bypass the
    exact anti-join entirely; only the maybe-sliver pays it):
    orders from customers with no negative-balance record."""
    _prep(spark)
    from .operators.semi_join import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal") < 0
    )
    kept = bloom_semi_join(
        orders, dim, ("o_custkey", "c_custkey"), how="anti"
    )
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_price"),
    )


ORACLES["bloom_anti_join"] = """
    SELECT o_orderpriority,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        AS total_price
    FROM orders
    WHERE o_custkey NOT IN (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    GROUP BY 1
"""


def q_mutual_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match (r9c,
    operators/matching.py::mutual_best_match — the symmetric
    linkage decision rule: keep a pair iff each side is the other's
    best candidate; two window ranks over the blocked candidate
    frame, no global state): customers matched to the same-nation
    supplier with the closest account balance, kept only when the
    choice is mutual."""
    _prep(spark)
    from .operators.matching import mutual_best_match

    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pairs = cust.join(
        supp, cust["c_nationkey"] == supp["s_nationkey"], "inner"
    ).select(
        "c_custkey",
        "s_suppkey",
        # exact integer distance in cents
        F.abs(
            (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
            - (F.col("s_acctbal").cast("decimal(12,2)") * 100).cast("long")
        ).alias("dist_cents"),
    )
    return mutual_best_match(
        pairs, "c_custkey", "s_suppkey", "dist_cents", ascending=True
    )


ORACLES["mutual_best_match"] = """
    WITH pairs AS (
      SELECT c_custkey, s_suppkey,
        abs(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            - CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
          AS dist_cents
      FROM customer JOIN supplier ON c_nationkey = s_nationkey
    ), ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY c_custkey
                           ORDER BY dist_cents, s_suppkey) AS rl,
        row_number() OVER (PARTITION BY s_suppkey
                           ORDER BY dist_cents, c_custkey) AS rr
      FROM pairs
    )
    SELECT c_custkey, s_suppkey, dist_cents
    FROM ranked WHERE rl = 1 AND rr = 1
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (r9c,
    operators/matching.py::sorted_neighborhood_pairs — the
    Hernández–Stolfo merge/purge method: global (key, id) order as
    range buckets + per-bucket windows, boundary pairs stitched
    exactly from w-row head/tail slivers, undersized buckets merged
    driver-side): customer pairs within 3 positions in account-
    balance order, scored by balance gap."""
    _prep(spark)
    from .operators.matching import sorted_neighborhood_pairs

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    pairs = sorted_neighborhood_pairs(
        cust, "c_custkey", "bal_cents", window=3
    )
    bal = cust.select(
        F.col("c_custkey").alias("id"), F.col("bal_cents")
    )
    return (
        pairs.join(bal.withColumnRenamed("id", "id_a2"),
                   F.col("id_a") == F.col("id_a2"))
        .withColumnRenamed("bal_cents", "bal_a")
        .join(
            bal.withColumnRenamed("id", "id_b2").withColumnRenamed(
                "bal_cents", "bal_b"
            ),
            F.col("id_b") == F.col("id_b2"),
        )
        .select(
            "id_a",
            "id_b",
            F.col("pos_dist").cast("int").alias("pos_dist"),
            F.abs(F.col("bal_a") - F.col("bal_b")).alias("gap_cents"),
        )
    )


ORACLES["sorted_neighborhood"] = """
    WITH c AS (
      SELECT c_custkey AS id,
        CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
          AS bal_cents
      FROM customer
    ), pos AS (
      SELECT id, bal_cents,
        row_number() OVER (ORDER BY bal_cents, id) AS rn
      FROM c
    )
    SELECT a.id AS id_a, b.id AS id_b,
      CAST(b.rn - a.rn AS INT) AS pos_dist,
      abs(a.bal_cents - b.bal_cents) AS gap_cents
    FROM pos a JOIN pos b
      ON b.rn > a.rn AND b.rn <= a.rn + 3
"""


def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic permutation test (r9c,
    report/permutation.py::permutation_test_means — the binomial
    random-relabeling variant: the only permutation test that is
    map-only at 100 TB, with content-addressed md5 draws and a
    DECIMAL(38,0) threshold compare that replays in SQL): does mean
    event value differ between clicks and purchases? B=60."""
    _prep(spark)
    from .report.permutation import permutation_test_means

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    return permutation_test_means(
        ev, "value", "event_type", "event_id", n_perm=60
    )


def _permutation_oracle(n_perm: int = 60) -> str:
    return f"""
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS x,
        event_id AS k
      FROM events
      WHERE event_type IN ('click', 'purchase')
        AND CAST(value AS DECIMAL(18,6)) IS NOT NULL
    ), stats AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS s
      FROM base GROUP BY 1
    ), agg AS (
      SELECT min(g) AS group_a, max(g) AS group_b,
        min_by(n, g) AS n_a, max_by(n, g) AS n_b,
        round(CAST(min_by(s, g) AS DOUBLE)
              / CAST(min_by(n, g) AS DOUBLE), 6)
        - round(CAST(max_by(s, g) AS DOUBLE)
                / CAST(max_by(n, g) AS DOUBLE), 6) AS diff_obs
      FROM stats
    ), repl AS (
      SELECT x, k, unnest(generate_series(1, {n_perm})) AS b FROM base
    ), lab AS (
      SELECT x, b,
        (CAST(('0x' || substr(md5('pt' || CAST(b AS VARCHAR) || chr(31)
                                  || CAST(k AS VARCHAR)), 1, 15))::BIGINT
              AS DECIMAL(38,0))
         * CAST((SELECT n_a + n_b FROM agg) AS DECIMAL(38,0)))
        < (CAST(1152921504606846976 AS DECIMAL(38,0))
           * CAST((SELECT n_a FROM agg) AS DECIMAL(38,0))) AS is_a
      FROM repl
    ), diffs AS (
      SELECT b,
        round(CAST(sum(CASE WHEN is_a THEN x END) AS DOUBLE)
              / CAST(count(CASE WHEN is_a THEN 1 END) AS DOUBLE), 6)
        - round(CAST(sum(CASE WHEN NOT is_a THEN x END) AS DOUBLE)
                / CAST(count(CASE WHEN NOT is_a THEN 1 END) AS DOUBLE), 6)
          AS d
      FROM lab GROUP BY 1
      HAVING count(CASE WHEN is_a THEN 1 END) > 0
         AND count(CASE WHEN NOT is_a THEN 1 END) > 0
    ), perm AS (
      SELECT CAST(count(*) AS BIGINT) AS n_perm_valid,
        CAST(sum(CASE WHEN abs(d) >= abs((SELECT diff_obs FROM agg))
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
      FROM diffs
    )
    SELECT group_a, group_b, n_a, n_b, diff_obs, n_perm_valid, n_ge,
      round(CAST(1 + n_ge AS DOUBLE)
            / CAST(1 + n_perm_valid AS DOUBLE), 6) AS p_value
    FROM agg, perm
    """


ORACLES["permutation_test"] = _permutation_oracle()


def q_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal intervals (r9c,
    report/conformal.py::conformal_mean_intervals — distribution-
    free ≥90% marginal coverage around the frozen train-mean
    predictor; content-addressed md5 split, order-statistic q̂, all
    bounded per-group output): per event type over event values."""
    _prep(spark)
    from .report.conformal import conformal_mean_intervals

    ev = load_table(spark, sf_dir, "events")
    return conformal_mean_intervals(
        ev, "value", "event_id", ["event_type"], alpha=0.1
    )


ORACLES["conformal_intervals"] = """
    WITH base AS (
      SELECT event_type, CAST(value AS DECIMAL(18,6)) AS y,
        CAST(event_id AS VARCHAR) AS k
      FROM events WHERE CAST(value AS DECIMAL(18,6)) IS NOT NULL
    ), split AS (
      SELECT *,
        CASE
          WHEN ('0x' || substr(md5('conf' || k), 1, 15))::BIGINT % 100 < 20
            THEN 'test'
          WHEN ('0x' || substr(md5('conf' || k), 1, 15))::BIGINT % 100 < 50
            THEN 'cal'
          ELSE 'train' END AS sp
      FROM base
    ), pred AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
        round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS pred
      FROM split WHERE sp = 'train' GROUP BY 1
    ), resid AS (
      SELECT s.event_type, s.k,
        abs(s.y - CAST(p.pred AS DECIMAL(18,6))) AS r
      FROM split s JOIN pred p USING (event_type)
      WHERE s.sp = 'cal'
    ), ranked AS (
      SELECT event_type, r,
        row_number() OVER (PARTITION BY event_type ORDER BY r, k) AS rn,
        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_cal
      FROM resid
    ), qhat AS (
      SELECT event_type, n_cal, r AS qh
      FROM ranked
      WHERE rn = least((9000 * (n_cal + 1) + 9999) // 10000, n_cal)
    ), test AS (
      SELECT s.event_type, CAST(count(*) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN abs(s.y - CAST(p.pred AS DECIMAL(18,6)))
                           <= q.qh
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM split s
      JOIN pred p USING (event_type)
      LEFT JOIN qhat q USING (event_type)
      WHERE s.sp = 'test'
      GROUP BY 1
    )
    SELECT p.event_type, p.n_train,
      COALESCE(q.n_cal, 0) AS n_cal,
      COALESCE(t.n_test, 0) AS n_test,
      p.pred,
      CAST(q.qh AS DOUBLE) AS qhat,
      p.pred - CAST(q.qh AS DOUBLE) AS lo,
      p.pred + CAST(q.qh AS DOUBLE) AS hi,
      CASE WHEN q.qh IS NOT NULL THEN
        round(CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6)
      END AS coverage
    FROM pred p
    LEFT JOIN qhat q USING (event_type)
    LEFT JOIN test t USING (event_type)
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (r9c,
    operators/collocations.py::pmi_collocations — Church-Hanks
    association ratio with NO IEEE log: the score ships as the
    integer (N·c_xy·10⁶) div (c_x·c_y) in DECIMAL(38,0), monotone
    in PMI and exact at 100 TB token counts): top-25 adjacent
    bigrams over the documents corpus, min_count=5."""
    _prep(spark)
    from .operators.collocations import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", "doc_id", min_count=5, top_k=25)


ORACLES["pmi_collocations"] = """
    WITH tok AS (
      SELECT list_filter(
          regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          t -> t <> ''
        ) AS ts
      FROM documents
    ), toks AS (
      SELECT ts FROM tok WHERE len(ts) > 0
    ), n_tok AS (
      SELECT CAST(sum(len(ts)) AS BIGINT) AS n FROM toks
    ), uni AS (
      SELECT unnest(ts) AS w FROM toks
    ), unic AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1
    ), bi AS (
      SELECT ts[i] AS w1, ts[i+1] AS w2
      FROM toks, unnest(generate_series(1, len(ts) - 1)) AS t(i)
      WHERE len(ts) > 1
    ), bic AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
      FROM bi GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT w1, w2, pair_count,
      CAST((CAST((SELECT n FROM n_tok) AS HUGEINT)
            * CAST(pair_count AS HUGEINT)
            * CAST(1000000 AS HUGEINT))
           // (CAST(u1.c AS HUGEINT) * CAST(u2.c AS HUGEINT))
           AS BIGINT) AS score_scaled
    FROM bic
    JOIN unic u1 ON u1.w = bic.w1
    JOIN unic u2 ON u2.w = bic.w2
    ORDER BY score_scaled DESC, w1, w2
    LIMIT 25
"""


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (r9c, operators/graph.py::link_prediction —
    common-neighbor / Jaccard / integer-scaled resource-allocation
    scores over non-adjacent pairs of the planted 97-host graph;
    the wedge join is the quadratic step, hub-capped in the general
    API): pairs with ≥2 shared neighbors."""
    _prep(spark)
    from .operators.graph import link_prediction

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    )
    e2 = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 17 + 3) % 97).alias("dst"),
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    return link_prediction(edges, min_common=2)


ORACLES["link_prediction"] = """
    WITH e0 AS (
      SELECT doc_id % 97 AS s, (doc_id * 31 + 7) % 97 AS d FROM documents
      UNION ALL
      SELECT doc_id % 97 AS s, (doc_id * 17 + 3) % 97 AS d FROM documents
    ), e AS (
      SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      FROM e0 WHERE s != d
    ), nbrs AS (
      SELECT a AS z, b AS x FROM e
      UNION ALL SELECT b AS z, a AS x FROM e
    ), deg AS (
      SELECT z, CAST(count(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1
    ), mids AS (
      SELECT n.z, n.x, d.deg FROM nbrs n JOIN deg d USING (z)
    ), pairs AS (
      SELECT l.x AS na, r.x AS nb,
        CAST(count(*) AS BIGINT) AS common_neighbors,
        CAST(sum(1000000000000 // l.deg) AS BIGINT) AS ra_scaled
      FROM mids l JOIN mids r ON l.z = r.z AND l.x < r.x
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), cand AS (
      SELECT p.* FROM pairs p
      ANTI JOIN e ON p.na = e.a AND p.nb = e.b
    )
    SELECT na AS node_a, nb AS node_b, common_neighbors, ra_scaled,
      round(CAST(common_neighbors AS DOUBLE)
            / CAST(da.deg + db.deg - common_neighbors AS DOUBLE), 6)
        AS jaccard
    FROM cand
    JOIN deg da ON da.z = cand.na
    JOIN deg db ON db.z = cand.nb
"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (r9c,
    operators/graph.py::degree_assortativity — Newman 2002 shape
    prior: Pearson of endpoint degrees over edge stubs, all moment
    sums exact DECIMAL(38,0), a handful of IEEE ops at the end) of
    the planted host graph."""
    _prep(spark)
    from .operators.graph import degree_assortativity

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return degree_assortativity(edges)


ORACLES["degree_assortativity"] = """
    WITH e AS (
      SELECT DISTINCT least(doc_id % 97, (doc_id * 31 + 7) % 97) AS a,
             greatest(doc_id % 97, (doc_id * 31 + 7) % 97) AS b
      FROM documents
      WHERE (doc_id % 97) != ((doc_id * 31 + 7) % 97)
    ), stubs AS (
      SELECT a, b FROM e UNION ALL SELECT b, a FROM e
    ), deg AS (
      SELECT a AS z, CAST(count(*) AS BIGINT) AS deg
      FROM stubs GROUP BY 1
    ), j AS (
      SELECT du.deg AS du, dv.deg AS dv
      FROM stubs s
      JOIN deg du ON du.z = s.a
      JOIN deg dv ON dv.z = s.b
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_stubs,
        CAST(sum(CAST(du AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        CAST(sum(CAST(du AS DECIMAL(38,0)) * CAST(dv AS DECIMAL(38,0)))
             AS DECIMAL(38,0)) AS sxy,
        CAST(sum(CAST(du AS DECIMAL(38,0)) * CAST(du AS DECIMAL(38,0)))
             AS DECIMAL(38,0)) AS sxx
      FROM j
    )
    SELECT n_stubs,
      CASE WHEN (CAST(n_stubs AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0 THEN
        round((CAST(n_stubs AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(n_stubs AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      END AS assortativity
    FROM sums
"""


def q_rolling_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Hampel filter (r9c,
    operators/sequence.py::rolling_hampel — local robust spike
    detection: centered 7-row frame, median and MAD as explicit
    order statistics over the frame's sorted array, scaled by the
    literal 1.4826): daily error-event counts per event type."""
    _prep(spark)
    from .operators.sequence import rolling_hampel

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return rolling_hampel(
        daily, ["event_type"], "day", "cnt", half_window=3, k=3.0
    )


ORACLES["rolling_hampel"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT event_type, day, CAST(cnt AS DOUBLE) AS value,
        list_sort(list(CAST(cnt AS DOUBLE)) OVER (
          PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS w
      FROM daily
    ), med AS (
      SELECT *, CASE WHEN len(w) % 2 = 1
          THEN w[CAST((len(w) + 1) / 2 AS INT)]
          ELSE (w[CAST(len(w) / 2 AS INT)]
                + w[CAST(len(w) / 2 AS INT) + 1]) / 2.0 END AS med
      FROM win
    ), dev AS (
      SELECT *, list_sort(list_transform(w, x -> abs(x - med))) AS d
      FROM med
    ), mad AS (
      SELECT *, CASE WHEN len(d) % 2 = 1
          THEN d[CAST((len(d) + 1) / 2 AS INT)]
          ELSE (d[CAST(len(d) / 2 AS INT)]
                + d[CAST(len(d) / 2 AS INT) + 1]) / 2.0 END AS mad
      FROM dev
    )
    SELECT event_type, day AS period, value, med, mad,
      CASE WHEN mad = 0.0 THEN abs(value - med) > 0
           ELSE abs(value - med) > 3.0 * 1.4826 * mad END AS is_outlier
    FROM mad
"""


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (r9c,
    operators/keywords.py::term_burstiness — Church-Gale index of
    dispersion of per-doc term counts, zeros never materialized:
    VMR = (N·Σc² − T²)/((N−1)·T) from three exact DECIMAL(38,0)
    sums, one IEEE division): top-30 bursty terms, min_df=5."""
    _prep(spark)
    from .operators.keywords import term_burstiness

    docs = load_table(spark, sf_dir, "documents")
    return term_burstiness(docs, "text", "doc_id", min_df=5, top_k=30)


ORACLES["term_burstiness"] = """
    WITH tok AS (
      SELECT doc_id, list_filter(
          regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          t -> t <> '') AS ts
      FROM documents
    ), toks AS (
      SELECT doc_id, ts FROM tok WHERE len(ts) > 0
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM toks
    ), per_doc AS (
      SELECT doc_id, unnest(ts) AS term FROM toks
    ), cnt AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
      FROM per_doc GROUP BY 1, 2
    ), stats AS (
      SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
        CAST(sum(c) AS BIGINT) AS total_count,
        CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
             AS DECIMAL(38,0)) AS s2
      FROM cnt GROUP BY 1 HAVING count(*) >= 5
    )
    SELECT term, doc_freq, total_count,
      round(CAST(CAST((SELECT n FROM nd) AS DECIMAL(38,0)) * s2
                 - CAST(total_count AS DECIMAL(38,0))
                   * CAST(total_count AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(CAST((SELECT n FROM nd) - 1 AS DECIMAL(38,0))
                   * CAST(total_count AS DECIMAL(38,0)) AS DOUBLE), 6)
        AS vmr
    FROM stats
    ORDER BY vmr DESC, term
    LIMIT 30
"""


def q_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (r9c,
    functions/text.py::compression_ratio — the Gopher/RefinedWeb
    model-free gibberish detector; zlib in an Arrow-batched pandas
    UDF, deterministic per zlib version but with no SQL replay →
    rows-only, value-pinned by pytest): per-language mean ratio and
    extreme-compressibility share over the documents corpus."""
    _prep(spark)
    from .functions.text import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", compression_ratio(F.col("text")).alias("r")
    ).where(F.col("r").isNotNull())
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("r"), 4).alias("mean_ratio"),
        F.sum((F.col("r") < 0.35).cast("int"))
        .cast("long")
        .alias("n_high_compress"),
    )


def q_entity_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention network (r9c — composition query: the
    gazetteer tagger (operators/gazetteer.py) feeds a per-doc
    entity-pair count, the edge list entity-resolution and graph
    stages consume; one tokenization pass, pair join on doc_id)."""
    _prep(spark)
    from .operators.gazetteer import gazetteer_match

    docs = load_table(spark, sf_dir, "documents")
    hits = gazetteer_match(docs, _GAZETTEER_ENTITIES).select(
        "doc_id", "entity"
    )
    a = hits.toDF("doc_id", "entity_a")
    b = hits.toDF("doc_id", "entity_b")
    return (
        a.join(b, "doc_id")
        .where(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


ORACLES["entity_comention"] = f"""
    WITH hits AS ({_gazetteer_oracle()})
    SELECT a.entity AS entity_a, b.entity AS entity_b,
      CAST(count(*) AS BIGINT) AS n_docs
    FROM hits a JOIN hits b
      ON a.doc_id = b.doc_id AND a.entity < b.entity
    GROUP BY 1, 2
"""


def q_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest (r9c,
    operators/sequence.py::seasonal_naive_backtest — naive vs
    seasonal-naive baselines, zero leakage by construction; MAE and
    WAPE as exact-sum ratios, per-row-division MAPE deliberately
    absent): daily counts per event type, weekly season."""
    _prep(spark)
    from .operators.sequence import seasonal_naive_backtest

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return seasonal_naive_backtest(
        daily, ["event_type"], "day", "cnt", season=7
    )


ORACLES["seasonal_backtest"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type,
        CAST(cnt AS DECIMAL(18,6)) AS y,
        lag(CAST(cnt AS DECIMAL(18,6)), 1) OVER w AS f1,
        lag(CAST(cnt AS DECIMAL(18,6)), 7) OVER w AS fs
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), ev AS (
      SELECT * FROM lagged WHERE f1 IS NOT NULL AND fs IS NOT NULL
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_eval,
      round(CAST(sum(abs(y - f1)) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS mae_naive,
      round(CAST(sum(abs(y - fs)) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS mae_seasonal,
      CASE WHEN sum(y) > 0 THEN
        round(CAST(sum(abs(y - fs)) AS DOUBLE)
              / CAST(sum(y) AS DOUBLE), 6) END AS wape_seasonal,
      CASE WHEN sum(abs(y - f1)) > 0 THEN
        round(CAST(sum(abs(y - fs)) AS DOUBLE)
              / CAST(sum(abs(y - f1)) AS DOUBLE), 6) END AS skill
    FROM ev GROUP BY 1
"""


def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation (r9c,
    operators/sequence.py::cross_correlation — the autocorrelation
    n²-scaled integer identity extended to two series: numerator
    and both denominators are exact DECIMAL(38,0), ccf is two
    correctly-rounded sqrts + one divide): do error events lead
    purchase counts across days, lags −5..+5?"""
    _prep(spark)
    from .operators.sequence import cross_correlation

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    a = daily.where(F.col("event_type") == "error").select("d", "cnt")
    b = daily.where(F.col("event_type") == "purchase").select("d", "cnt")
    return cross_correlation(a, b, "d", "cnt", max_lag=5)


ORACLES["cross_correlation"] = """
    WITH daily AS (
      SELECT event_type,
        datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), av AS (SELECT d AS x, cnt AS ya FROM daily WHERE event_type = 'error'),
    bv AS (SELECT d AS x, cnt AS yb FROM daily WHERE event_type = 'purchase'),
    common AS (SELECT av.x, ya, yb FROM av JOIN bv USING (x)),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(ya) AS BIGINT) AS sa, CAST(sum(yb) AS BIGINT) AS sb
      FROM common
    ), cen AS (
      SELECT x,
        CAST(t.n AS DECIMAL(38,0)) * CAST(ya AS DECIMAL(38,0))
          - CAST(t.sa AS DECIMAL(38,0)) AS ca,
        CAST(t.n AS DECIMAL(38,0)) * CAST(yb AS DECIMAL(38,0))
          - CAST(t.sb AS DECIMAL(38,0)) AS cb
      FROM common, tot t
    ), den AS (
      SELECT CAST(sum(ca * ca) AS DECIMAL(38,0)) AS da,
        CAST(sum(cb * cb) AS DECIMAL(38,0)) AS db
      FROM cen
    ), lags AS (
      SELECT CAST(unnest(generate_series(-5, 5)) AS INT) AS lag
    ), pairs AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(l.ca * r.cb) AS DECIMAL(38,0)) AS num
      FROM cen l CROSS JOIN lags
      JOIN cen r ON l.x + lag = r.x
      GROUP BY 1
    )
    SELECT lag, n_pairs,
      CASE WHEN da > 0 AND db > 0 THEN
        round(CAST(num AS DOUBLE)
              / (sqrt(CAST(da AS DOUBLE)) * sqrt(CAST(db AS DOUBLE))), 6)
      END AS ccf
    FROM pairs, den
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group quantile normalization (r9c,
    functions/ranknorm.py::quantile_normalize — per-group window
    rank → pooled order statistic at ⌈r·N/n_g⌉ resolved by a range
    join against the bounded distinct-value cumulative frame; the
    mapped value is an input value verbatim, no arithmetic):
    document lengths normalized across languages."""
    _prep(spark)
    from .functions.ranknorm import quantile_normalize

    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize(docs, "n_chars", "lang", "doc_id")


ORACLES["quantile_normalize"] = """
    WITH base AS (
      SELECT doc_id, lang, n_chars AS v FROM documents
      WHERE n_chars IS NOT NULL
    ), n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    ranked AS (
      SELECT doc_id, lang, v,
        CAST(row_number() OVER (PARTITION BY lang ORDER BY v, doc_id)
             AS BIGINT) AS r,
        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_g
      FROM base
    ), idxd AS (
      SELECT *, CAST((CAST(r AS HUGEINT) * (SELECT n FROM n_tot)
                      + n_g - 1) // n_g AS BIGINT) AS idx
      FROM ranked
    ), dist AS (
      SELECT v AS pv, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1
    ), cum0 AS (
      SELECT pv, CAST(sum(c) OVER (ORDER BY pv) AS BIGINT) AS cum
      FROM dist
    ), cum AS (
      SELECT pv, cum,
        CAST(COALESCE(lag(cum) OVER (ORDER BY pv), 0) AS BIGINT)
          AS cum_prev
      FROM cum0
    )
    SELECT i.doc_id, i.lang, i.v AS n_chars, c.pv AS qnorm
    FROM idxd i JOIN cum c ON i.idx > c.cum_prev AND i.idx <= c.cum
"""


def q_group_mean_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH false-discovery-rate screen (r9c,
    report/multitest.py — per-group EXACT permutation p-values
    (count ratios from md5 relabeling) fed to Benjamini-Hochberg
    step-up on the bounded m-row frame): which event types' mean
    values deviate from the rest, at FDR 0.25?"""
    _prep(spark)
    from .report.multitest import bh_fdr, permutation_group_deviation

    ev = load_table(spark, sf_dir, "events")
    p = permutation_group_deviation(
        ev, "value", "event_type", "event_id", n_perm=40
    )
    return bh_fdr(p, "p_value", alpha=0.25, group_col="group")


def _group_fdr_oracle(n_perm: int = 40, alpha: float = 0.25) -> str:
    return f"""
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS x,
        event_id AS k
      FROM events WHERE CAST(value AS DECIMAL(18,6)) IS NOT NULL
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s FROM base
    ), per_g AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g, sum(x) AS s_g
      FROM base GROUP BY 1
    ), cums AS (
      SELECT *, CAST(COALESCE(sum(n_g) OVER (
          ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
          AND 1 PRECEDING), 0) AS BIGINT) AS cum_g
      FROM per_g
    ), obs AS (
      SELECT g, n_g,
        round(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6)
        - round(CAST((SELECT s FROM tot) - s_g AS DOUBLE)
                / CAST((SELECT n FROM tot) - n_g AS DOUBLE), 6)
          AS diff_obs
      FROM per_g
    ), thr AS (
      SELECT g AS g2,
        CAST(cum_g AS HUGEINT)
          * CAST(1152921504606846976 AS HUGEINT) AS lo,
        CAST(cum_g + n_g AS HUGEINT)
          * CAST(1152921504606846976 AS HUGEINT) AS hi
      FROM cums
    ), repl AS (
      SELECT x, k, unnest(generate_series(1, {n_perm})) AS b FROM base
    ), drawn AS (
      SELECT x, b,
        CAST(('0x' || substr(md5('pg' || CAST(b AS VARCHAR) || chr(31)
              || CAST(k AS VARCHAR)), 1, 15))::BIGINT AS HUGEINT)
          * (SELECT n FROM tot) AS un
      FROM repl
    ), assigned AS (
      SELECT t.g2, d.b, d.x
      FROM drawn d JOIN thr t ON d.un >= t.lo AND d.un < t.hi
    ), sums AS (
      SELECT g2, b, sum(x) AS si, CAST(count(*) AS BIGINT) AS ci
      FROM assigned GROUP BY 1, 2
      HAVING count(*) > 0 AND count(*) < (SELECT n FROM tot)
    ), diffs AS (
      SELECT g2, b,
        round(CAST(si AS DOUBLE) / CAST(ci AS DOUBLE), 6)
        - round(CAST((SELECT s FROM tot) - si AS DOUBLE)
                / CAST((SELECT n FROM tot) - ci AS DOUBLE), 6) AS d
      FROM sums
    ), pv AS (
      SELECT o.g AS grp, o.n_g, o.diff_obs,
        CAST(count(*) AS BIGINT) AS n_perm_valid,
        CAST(sum(CASE WHEN abs(d.d) >= abs(o.diff_obs)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
        round(CAST(1 + sum(CASE WHEN abs(d.d) >= abs(o.diff_obs)
                           THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(1 + count(*) AS DOUBLE), 6) AS p_value
      FROM diffs d JOIN obs o ON d.g2 = o.g
      GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY p_value, grp)
                     AS BIGINT) AS p_rank,
        CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM pv
    ), q AS (
      SELECT *,
        round(least(min(p_value * CAST(m_tests AS DOUBLE)
                        / CAST(p_rank AS DOUBLE))
                    OVER (ORDER BY p_rank DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW), 1.0), 6) AS q_value,
        max(CASE WHEN p_value <= CAST(p_rank AS DOUBLE) * {alpha}
                                 / CAST(m_tests AS DOUBLE)
            THEN p_rank END) OVER () AS k_max
      FROM ranked
    )
    SELECT grp AS "group", n_g, diff_obs, n_perm_valid, n_ge, p_value,
      p_rank, m_tests, q_value,
      (k_max IS NOT NULL AND p_rank <= k_max) AS reject
    FROM q
    """


ORACLES["group_mean_fdr"] = _group_fdr_oracle()


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (r9c,
    operators/intervals.py::attribution_markov — journeys as a
    first-order chain with absorbing CONV/NULL, K=8 integer
    fixed-point absorption iterations per removal scenario, all on
    the bounded channels² frame): event types as channels,
    purchases as conversions."""
    _prep(spark)
    from .operators.intervals import attribution_markov

    ev = load_table(spark, sf_dir, "events")
    return attribution_markov(
        ev,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        conversion="purchase",
        n_iter=8,
    )


def _markov_oracle(n_iter: int = 8, scale: int = 1_000_000_000) -> str:
    prev = "p0"
    iters = ""
    for t in range(1, n_iter + 1):
        iters += f""",
    i{t} AS (
      SELECT s.removed, m.src AS state, m.co,
        CAST(sum(m.c * (CASE WHEN m.dst = '__conv__' THEN {scale}
                        WHEN m.dst = '__null__'
                          OR m.dst = s.removed THEN 0
                        ELSE COALESCE(p.p, 0) END)) // m.co AS BIGINT)
          AS p
      FROM scen s CROSS JOIN mat m
      LEFT JOIN {prev} p ON p.removed = s.removed AND p.state = m.dst
      GROUP BY 1, 2, 3
    )"""
        prev = f"i{t}"
    return f"""
    WITH ev AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_id AS eid,
        event_type AS state
      FROM events
    ), rns AS (
      SELECT *, row_number() OVER (PARTITION BY u ORDER BY us, eid)
        AS rn
      FROM ev
    ), fc AS (
      SELECT u, min(rn) AS conv_rn FROM rns
      WHERE state = 'purchase' GROUP BY 1
    ), kept AS (
      SELECT r.* FROM rns r LEFT JOIN fc USING (u)
      WHERE conv_rn IS NULL OR rn <= conv_rn
    ), steps AS (
      SELECT u, rn, state,
        lead(state) OVER (PARTITION BY u ORDER BY rn) AS nxt
      FROM kept
    ), trans AS (
      SELECT state AS src,
        CASE WHEN nxt IS NULL THEN '__null__'
             WHEN nxt = 'purchase' THEN '__conv__'
             ELSE nxt END AS dst
      FROM steps WHERE state != 'purchase'
      UNION ALL
      SELECT '__start__',
        CASE WHEN state = 'purchase' THEN '__conv__' ELSE state END
      FROM steps WHERE rn = 1
    ), counts AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c
      FROM trans GROUP BY 1, 2
    ), outdeg AS (
      SELECT src, CAST(sum(c) AS BIGINT) AS co FROM counts GROUP BY 1
    ), mat AS (
      SELECT counts.*, outdeg.co FROM counts JOIN outdeg USING (src)
    ), scen AS (
      SELECT DISTINCT src AS removed FROM counts
      WHERE src != '__start__'
      UNION ALL SELECT '__base__'
    ), states AS (
      SELECT DISTINCT src AS state FROM counts
    ), p0 AS (
      SELECT removed, state, CAST(0 AS BIGINT) AS p
      FROM scen CROSS JOIN states
    ){iters},
    startp AS (
      SELECT removed, p FROM {prev} WHERE state = '__start__'
    ), basep AS (
      SELECT p AS pb FROM startp WHERE removed = '__base__'
    ), per_ch AS (
      SELECT removed AS channel,
        round(CAST((SELECT pb FROM basep) AS DOUBLE) / {scale}.0, 6)
          AS base_cvr,
        round(CAST(p AS DOUBLE) / {scale}.0, 6) AS removed_cvr,
        (SELECT pb FROM basep) - p AS re_fp
      FROM startp WHERE removed != '__base__'
    ), tot AS (
      SELECT CAST(sum(re_fp) AS BIGINT) AS te FROM per_ch
    )
    SELECT channel, base_cvr, removed_cvr,
      round(CAST(re_fp AS DOUBLE) / {scale}.0, 6) AS removal_effect,
      CASE WHEN (SELECT te FROM tot) > 0 THEN
        round(CAST(re_fp AS DOUBLE)
              / CAST((SELECT te FROM tot) AS DOUBLE), 6) END
        AS attribution
    FROM per_ch
    """


ORACLES["markov_attribution"] = _markov_oracle()


def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (r9c, functions/text.py::sentences —
    RE2-expressible boundary rule: sentinel after terminal-punct
    runs + whitespace, split, trim; pure-JVM Columns): per-language
    sentence counts and exact mean sentences/doc."""
    _prep(spark)
    from .functions.text import sentences

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang", F.size(sentences(F.col("text"))).alias("ns")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ns").cast("long").alias("n_sentences"),
        F.max("ns").cast("long").alias("max_sentences"),
        F.round(
            F.sum("ns").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_sentences"),
    )


ORACLES["sentence_stats"] = r"""
    WITH seg AS (
      SELECT lang,
        len(list_filter(
          list_transform(
            string_split(
              regexp_replace(text, '([.!?]+)\s+', '\1' || chr(31), 'g'),
              chr(31)),
            s -> trim(s)),
          s -> s <> '')) AS ns
      FROM documents
    )
    SELECT lang,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(ns) AS BIGINT) AS n_sentences,
      CAST(max(ns) AS BIGINT) AS max_sentences,
      round(CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS mean_sentences
    FROM seg GROUP BY 1
"""


def q_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe training-set construction (r9c — the
    feature-store point-in-time pattern: for every purchase event,
    features computed ONLY from the user's strictly-earlier events
    via a rowsBetween(unboundedPreceding, -1) window on the total
    (us, event_id) order; no future row can leak by construction):
    label = purchase value, features = prior event count / value
    sum / error count."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.expr("unix_micros(ts)").alias("us"),
        F.col("event_id").cast("long").alias("eid"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w = (
        Window.partitionBy("u")
        .orderBy("us", "eid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = ev.select(
        "u",
        "eid",
        "event_type",
        "v",
        F.count(F.lit(1)).over(w).cast("long").alias("n_prior"),
        F.coalesce(F.sum("v").over(w), F.lit(0).cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_prior_value"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .over(w)
        .cast("long")
        .alias("n_prior_errors"),
    )
    return (
        feat.where(F.col("event_type") == "purchase")
        .select(
            F.col("eid").alias("event_id"),
            F.col("u").alias("user_id"),
            F.coalesce(F.col("n_prior"), F.lit(0).cast("long")).alias(
                "n_prior"
            ),
            "sum_prior_value",
            F.coalesce(
                F.col("n_prior_errors"), F.lit(0).cast("long")
            ).alias("n_prior_errors"),
            F.col("v").cast("double").alias("label"),
        )
    )


ORACLES["point_in_time_features"] = """
    WITH ev AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_id AS eid,
        event_type, CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ), feat AS (
      SELECT u, eid, event_type, v,
        CAST(count(*) OVER w AS BIGINT) AS n_prior,
        CAST(COALESCE(sum(v) OVER w, 0) AS DOUBLE) AS sum_prior_value,
        CAST(COALESCE(sum(CASE WHEN event_type = 'error' THEN 1
                           ELSE 0 END) OVER w, 0) AS BIGINT)
          AS n_prior_errors
      FROM ev
      WINDOW w AS (PARTITION BY u ORDER BY us, eid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT eid AS event_id, u AS user_id, n_prior, sum_prior_value,
      n_prior_errors, CAST(v AS DOUBLE) AS label
    FROM feat WHERE event_type = 'purchase'
"""


def q_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (r9c,
    report/experiment.py::cuped_adjust — Deng-Xu-Kohavi-Walker
    2013: Y' = Y − θ(X − X̄) with pooled θ from exact decimal
    moments; the industry-standard experiment sensitivity boost):
    per-user second-half value vs first-half covariate, variant =
    user parity."""
    _prep(spark)
    from .report.experiment import cuped_adjust

    ev = load_table(spark, sf_dir, "events")
    half = F.dayofmonth("ts") <= 15
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(~half, F.col("value").cast("decimal(18,6)")))
        .alias("y"),
        F.sum(F.when(half, F.col("value").cast("decimal(18,6)")))
        .alias("x"),
    ).where(F.col("y").isNotNull() & F.col("x").isNotNull())
    pu = per_user.withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, "ctl").otherwise("trt"),
    )
    return cuped_adjust(pu, "y", "x", "variant")


ORACLES["cuped_lift"] = """
    WITH per_user AS (
      SELECT user_id,
        sum(CASE WHEN NOT day(ts) <= 15
            THEN CAST(value AS DECIMAL(18,6)) END) AS y,
        sum(CASE WHEN day(ts) <= 15
            THEN CAST(value AS DECIMAL(18,6)) END) AS x
      FROM events GROUP BY 1
    ), base AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'ctl' ELSE 'trt' END AS g,
        CAST(CAST(y AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y6,
        CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      FROM per_user WHERE y IS NOT NULL AND x IS NOT NULL
    ), pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(y6 AS HUGEINT)) AS HUGEINT) AS sy,
        CAST(sum(CAST(x6 AS HUGEINT)) AS HUGEINT) AS sx,
        CAST(sum(CAST(x6 AS HUGEINT) * CAST(y6 AS HUGEINT)) AS HUGEINT)
          AS sxy,
        CAST(sum(CAST(x6 AS HUGEINT) * CAST(x6 AS HUGEINT)) AS HUGEINT)
          AS sxx,
        CAST(sum(CAST(y6 AS HUGEINT) * CAST(y6 AS HUGEINT)) AS HUGEINT)
          AS syy
      FROM base
    ), per_v AS (
      SELECT g, CAST(count(*) AS BIGINT) AS nv,
        CAST(sum(CAST(y6 AS HUGEINT)) AS HUGEINT) AS syv,
        CAST(sum(CAST(x6 AS HUGEINT)) AS HUGEINT) AS sxv
      FROM base GROUP BY 1
    ), ab AS (
      SELECT min(g) AS variant_a, max(g) AS variant_b,
        min_by(nv, g) AS n_a, max_by(nv, g) AS n_b,
        min_by(syv, g) AS sy_a, max_by(syv, g) AS sy_b,
        min_by(sxv, g) AS sx_a, max_by(sxv, g) AS sx_b
      FROM per_v
    ), j AS (SELECT * FROM ab, pooled),
    calc AS (
      SELECT *,
        round(CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
        round(CAST(sy_a AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * 1000000.0), 6) AS mean_a,
        round(CAST(sy_b AS DOUBLE)
              / (CAST(n_b AS DOUBLE) * 1000000.0), 6) AS mean_b,
        round(CAST(sx AS DOUBLE)
              / (CAST(n AS DOUBLE) * 1000000.0), 6) AS xbar,
        round(CAST(sx_a AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * 1000000.0), 6) AS mx_a,
        round(CAST(sx_b AS DOUBLE)
              / (CAST(n_b AS DOUBLE) * 1000000.0), 6) AS mx_b,
        CAST(n * sxy - sx * sy AS DOUBLE) AS cov_num,
        CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
        CAST(n * syy - sy * sy AS DOUBLE) AS vary
      FROM j
    )
    SELECT variant_a, variant_b, n_a, n_b, theta, mean_a, mean_b,
      round(mean_a - mean_b, 6) AS lift_raw,
      round(mean_a - theta * (mx_a - xbar), 6) AS adj_a,
      round(mean_b - theta * (mx_b - xbar), 6) AS adj_b,
      round(round(mean_a - theta * (mx_a - xbar), 6)
            - round(mean_b - theta * (mx_b - xbar), 6), 6)
        AS lift_cuped,
      CASE WHEN varx > 0 AND vary > 0 THEN
        round(cov_num * cov_num / (varx * vary) * 100, 6) END
        AS var_reduction_pct
    FROM calc
"""


def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance check (r9c,
    report/experiment.py::covariate_balance — per-covariate
    standardized mean difference, |SMD| > 0.1 the conventional
    imbalance flag; ONE unpivot + one map-side-combined groupBy for
    all covariates): pre-period user covariates vs assignment
    parity."""
    _prep(spark)
    from .report.experiment import covariate_balance

    ev = load_table(spark, sf_dir, "events")
    pre = ev.where(F.dayofmonth("ts") <= 15)
    per_user = pre.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("long")
        .alias("n_errors"),
    ).withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, "ctl").otherwise("trt"),
    )
    return covariate_balance(
        per_user, ["n_events", "sum_value", "n_errors"], "variant"
    )


ORACLES["covariate_balance"] = """
    WITH per_user AS (
      SELECT user_id,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_errors,
        CASE WHEN user_id % 2 = 0 THEN 'ctl' ELSE 'trt' END AS g
      FROM events WHERE day(ts) <= 15 GROUP BY 1
    ), unp AS (
      SELECT g, 'n_events' AS cov,
        CAST(n_events AS DECIMAL(18,6)) AS v FROM per_user
      UNION ALL
      SELECT g, 'sum_value', CAST(sum_value AS DECIMAL(18,6))
      FROM per_user
      UNION ALL
      SELECT g, 'n_errors', CAST(n_errors AS DECIMAL(18,6))
      FROM per_user
    ), micro AS (
      SELECT g, cov, CAST(v * 1000000 AS BIGINT) AS v6
      FROM unp WHERE v IS NOT NULL
    ), mom AS (
      SELECT cov, g, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(v6 AS HUGEINT)) AS HUGEINT) AS s,
        CAST(sum(CAST(v6 AS HUGEINT) * CAST(v6 AS HUGEINT)) AS HUGEINT)
          AS s2
      FROM micro GROUP BY 1, 2
    ), pairs AS (
      SELECT a.cov, a.n AS n_a, b.n AS n_b,
        round(CAST(a.s AS DOUBLE)
              / (CAST(a.n AS DOUBLE) * 1000000.0), 6) AS mean_a,
        round(CAST(b.s AS DOUBLE)
              / (CAST(b.n AS DOUBLE) * 1000000.0), 6) AS mean_b,
        CAST(a.n * a.s2 - a.s * a.s AS DOUBLE)
          / (CAST(a.n AS DOUBLE) * CAST(a.n - 1 AS DOUBLE)) / 1e12
          AS v_a,
        CAST(b.n * b.s2 - b.s * b.s AS DOUBLE)
          / (CAST(b.n AS DOUBLE) * CAST(b.n - 1 AS DOUBLE)) / 1e12
          AS v_b
      FROM mom a JOIN mom b ON a.cov = b.cov AND a.g < b.g
    )
    SELECT cov AS covariate, n_a, n_b, mean_a, mean_b,
      CASE WHEN sqrt((v_a + v_b) / 2.0) > 0 THEN
        round((mean_a - mean_b) / sqrt((v_a + v_b) / 2.0), 6) END
        AS smd,
      CASE WHEN sqrt((v_a + v_b) / 2.0) > 0 THEN
        abs(round((mean_a - mean_b) / sqrt((v_a + v_b) / 2.0), 6))
          > 0.1 END AS imbalanced
    FROM pairs
"""


def q_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (r9c,
    report/experiment.py::did_estimate — the 2×2 estimator from
    four exact-sum cell means): event values, treated = user
    parity, post = second half of the month."""
    _prep(spark)
    from .report.experiment import did_estimate

    ev = load_table(spark, sf_dir, "events")
    return did_estimate(
        ev,
        "value",
        treated=(F.col("user_id") % 2 == 1),
        post=(F.dayofmonth("ts") > 15),
    )


ORACLES["did_estimate"] = """
    WITH base AS (
      SELECT CAST(value AS DECIMAL(18,6)) AS y,
        (user_id % 2 = 1) AS t, (day(ts) > 15) AS p
      FROM events WHERE value IS NOT NULL
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        round(CAST(sum(CASE WHEN t AND NOT p THEN y END) AS DOUBLE)
              / CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)
                     AS DOUBLE), 6) AS mean_t_pre,
        round(CAST(sum(CASE WHEN t AND p THEN y END) AS DOUBLE)
              / CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END)
                     AS DOUBLE), 6) AS mean_t_post,
        round(CAST(sum(CASE WHEN NOT t AND NOT p THEN y END) AS DOUBLE)
              / CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
                     AS DOUBLE), 6) AS mean_c_pre,
        round(CAST(sum(CASE WHEN NOT t AND p THEN y END) AS DOUBLE)
              / CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
                     AS DOUBLE), 6) AS mean_c_post
      FROM base
    )
    SELECT n, mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
      round(mean_t_post - mean_t_pre, 6) AS diff_treated,
      round(mean_c_post - mean_c_pre, 6) AS diff_control,
      round((mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre), 6)
        AS did
    FROM agg
"""


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard (r9c,
    report/survival.py::nelson_aalen — KM's dual: H(t) = Σ d/n with
    round(d/n,6) increments summed order-free in DECIMAL(38,6),
    exp(−H) survival through the proven exp bridge): same
    customer-lifetime frame as survival_km."""
    _prep(spark)
    from .report.survival import nelson_aalen

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    span = orders.groupBy("o_custkey").agg(
        (
            F.max(F.expr("unix_date(cast(o_orderdate as date))"))
            - F.min(F.expr("unix_date(cast(o_orderdate as date))"))
        ).alias("t"),
        F.max(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("event"),
    )
    g = span.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        span.o_custkey == F.col("c_custkey"),
    )
    return nelson_aalen(g, "c_mktsegment", "t", "event")


ORACLES["nelson_aalen"] = """
    WITH span AS (
      SELECT o_custkey,
        CAST(max(epoch_us(o_orderdate) // 86400000000)
           - min(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS t,
        CAST(max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS e
      FROM orders GROUP BY o_custkey
    ), g AS (
      SELECT c_mktsegment, t, e
      FROM span JOIN customer ON o_custkey = c_custkey
    ), per_t AS (
      SELECT c_mktsegment AS grp, t,
        CAST(sum(e) AS BIGINT) AS n_events,
        CAST(sum(1 - e) AS BIGINT) AS n_censored
      FROM g GROUP BY 1, 2
    ), tot AS (
      SELECT grp, CAST(sum(n_events + n_censored) AS BIGINT) AS tt
      FROM per_t GROUP BY 1
    ), risk AS (
      SELECT p.grp, p.t, p.n_events,
        tt - COALESCE(SUM(n_events + n_censored) OVER (
          PARTITION BY p.grp ORDER BY p.t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS n_risk
      FROM per_t p JOIN tot USING (grp)
    ), terms AS (
      SELECT grp, t, n_events, n_risk,
        CASE WHEN n_events > 0
          THEN round(CAST(n_events AS DOUBLE)
                     / CAST(n_risk AS DOUBLE), 6)
          ELSE CAST(0.0 AS DOUBLE) END AS inc
      FROM risk
    )
    SELECT grp AS c_mktsegment, t,
      CAST(n_risk AS BIGINT) AS n_risk, n_events,
      inc AS hazard_inc,
      CAST(sum(CAST(inc AS DECIMAL(38,6))) OVER w AS DOUBLE)
        AS cum_hazard,
      round(exp(-CAST(sum(CAST(inc AS DECIMAL(38,6))) OVER w
                      AS DOUBLE)), 6) AS fh_survival
    FROM terms
    WINDOW w AS (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column profiling (r9c,
    report/profiling.py::json_profile — per top-level key:
    presence, null rate, regex-lattice type inference, distinct
    count; one parse + one map-side-combined groupBy): a 4-key JSON
    payload built byte-identically in both engines from event
    columns."""
    _prep(spark)
    from .report.profiling import json_profile

    ev = load_table(spark, sf_dir, "events")
    payload = F.concat(
        F.lit('{"type": "'),
        F.col("event_type"),
        F.lit('", "k": '),
        (F.col("event_id") % 7).cast("string"),
        F.lit(', "amount": '),
        F.col("value").cast("decimal(12,2)").cast("string"),
        F.lit(', "flag": '),
        F.when(F.col("event_id") % 2 == 0, "true").otherwise("false"),
        F.lit(', "note": null}'),
    )
    return json_profile(ev.select(payload.alias("js")), "js")


ORACLES["json_profile"] = """
    WITH payload AS (
      SELECT '{"type": "' || event_type || '", "k": '
        || CAST(event_id % 7 AS VARCHAR) || ', "amount": '
        || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
        || ', "flag": '
        || (CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END)
        || ', "note": null}' AS js
      FROM events
    ), keyed AS (
      SELECT js, unnest(json_keys(js)) AS k FROM payload
    ), pairs AS (
      SELECT k, json_extract_string(js, '$.' || k) AS v FROM keyed
    ), typed AS (
      SELECT k, v,
        v IS NULL AS is_null,
        COALESCE(regexp_full_match(v, '-?[0-9]+'), false) AS is_int,
        COALESCE(NOT regexp_full_match(v, '-?[0-9]+')
          AND regexp_full_match(
                v, '-?[0-9]+\\.[0-9]+([eE][+-]?[0-9]+)?'),
          false) AS is_float,
        COALESCE(v IN ('true', 'false'), false) AS is_bool
      FROM pairs
    )
    SELECT k AS key,
      CAST(count(*) AS BIGINT) AS n_present,
      CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
        AS n_null,
      CAST(sum(CASE WHEN NOT is_null AND is_int THEN 1 ELSE 0 END)
           AS BIGINT) AS n_int,
      CAST(sum(CASE WHEN NOT is_null AND is_float THEN 1 ELSE 0 END)
           AS BIGINT) AS n_float,
      CAST(sum(CASE WHEN NOT is_null AND is_bool THEN 1 ELSE 0 END)
           AS BIGINT) AS n_bool,
      CAST(sum(CASE WHEN NOT is_null AND NOT is_int AND NOT is_float
                    AND NOT is_bool THEN 1 ELSE 0 END) AS BIGINT)
        AS n_str,
      CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
    FROM typed
    GROUP BY 1
    ORDER BY n_present DESC, key
    LIMIT 200
"""


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-correct churn-label construction (r9c — the label
    half of the point_in_time_features pattern: churn(t) = user has
    NO event in (t, t+7d], computed with one lead() over the total
    per-user (us, event_id) order; rows in the final 7 days of the
    observation window are emitted as label_valid = false rather
    than silently mislabeled — right-censoring made explicit):
    per-type churn rates over labelable events."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.expr("unix_micros(ts)").alias("us"),
        F.col("event_id").cast("long").alias("eid"),
        "event_type",
    )
    horizon = 7 * 86400 * 1000000
    w = Window.partitionBy("u").orderBy("us", "eid")
    obs_end = ev.agg(F.max("us").alias("end_us"))
    lab = (
        ev.withColumn("next_us", F.lead("us", 1).over(w))
        .crossJoin(F.broadcast(obs_end))
        .withColumn(
            "label_valid", F.col("us") + F.lit(horizon) <= F.col("end_us")
        )
        .withColumn(
            "churned",
            F.col("next_us").isNull()
            | (F.col("next_us") > F.col("us") + F.lit(horizon)),
        )
    )
    return lab.where(F.col("label_valid")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_labeled"),
        F.sum(F.col("churned").cast("long")).cast("long").alias("n_churned"),
        F.round(
            F.sum(F.col("churned").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("churn_rate"),
    )


ORACLES["churn_labels"] = """
    WITH ev AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_id AS eid,
        event_type
      FROM events
    ), obs AS (SELECT max(us) AS end_us FROM ev),
    lab AS (
      SELECT event_type,
        (us + 604800000000 <= (SELECT end_us FROM obs)) AS label_valid,
        (lead(us) OVER (PARTITION BY u ORDER BY us, eid) IS NULL
         OR lead(us) OVER (PARTITION BY u ORDER BY us, eid)
            > us + 604800000000) AS churned
      FROM ev
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_labeled,
      CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        AS n_churned,
      round(CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS churn_rate
    FROM lab WHERE label_valid GROUP BY 1
"""


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert percentiles (r9c — the latency half
    of window_funnel: per user, first view → first later purchase
    in integer seconds; p50/p90/p99 per user cohort via the exact
    rank-selection rule (operators/winsorize.py::group_quantiles —
    emitted values are input values, no interpolation))."""
    _prep(spark)
    from .operators.winsorize import group_quantiles

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").alias("u"),
        F.expr("unix_micros(ts)").alias("us"),
        "event_type",
    )
    first_view = base.where(F.col("event_type") == "view").groupBy("u").agg(
        F.min("us").alias("v_us")
    )
    conv = (
        base.where(F.col("event_type") == "purchase")
        .join(first_view, "u")
        .where(F.col("us") >= F.col("v_us"))
        .groupBy("u", "v_us")
        .agg(F.min("us").alias("p_us"))
        .select(
            (F.col("u") % 3).alias("cohort"),
            # integer div, NOT double-divide-then-cast: DuckDB's
            # double->BIGINT cast rounds while Spark's truncates
            F.expr("(p_us - v_us) div 1000000").alias("latency_s"),
        )
    )
    return group_quantiles(
        conv, "cohort", "latency_s", probs=[0.5, 0.9, 0.99],
        names=["p50_s", "p90_s", "p99_s"],
    )


ORACLES["funnel_latency"] = """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_type FROM events
    ), fv AS (
      SELECT u, min(us) AS v_us FROM base
      WHERE event_type = 'view' GROUP BY 1
    ), conv AS (
      SELECT b.u % 3 AS cohort,
        CAST((min(b.us) - fv.v_us) // 1000000 AS BIGINT) AS latency_s
      FROM base b JOIN fv ON b.u = fv.u
      WHERE b.event_type = 'purchase' AND b.us >= fv.v_us
      GROUP BY b.u, fv.v_us
    ), counts AS (
      SELECT cohort, latency_s AS v, CAST(count(*) AS BIGINT) AS c
      FROM conv GROUP BY 1, 2
    ), cum AS (
      SELECT cohort, v,
        sum(c) OVER (PARTITION BY cohort ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum,
        sum(c) OVER (PARTITION BY cohort) AS n
      FROM counts
    )
    SELECT cohort, CAST(max(n) AS BIGINT) AS n,
      min(CASE WHEN cum >= (5000 * n + 9999) // 10000 THEN v END)
        AS p50_s,
      min(CASE WHEN cum >= (9000 * n + 9999) // 10000 THEN v END)
        AS p90_s,
      min(CASE WHEN cum >= (9900 * n + 9999) // 10000 THEN v END)
        AS p99_s
    FROM cum GROUP BY 1
"""


def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (r9c,
    operators/raking.py::ipf_rake — Deming-Stephan raking in
    integer fixed point, K=10 alternating margin fits on the
    bounded cross-tab, chained-CTE-replayable): calibrate the
    nation × segment counts of the BIASED customers-with-orders
    subsample back to full-population margins."""
    _prep(spark)
    from .operators.raking import ipf_rake

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    )
    cells = with_orders.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    row_t = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    col_t = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    return ipf_rake(
        cells, "c_nationkey", "c_mktsegment", "w", row_t, col_t,
        n_iter=10,
    )


def _ipf_oracle(n_iter: int = 10, scale: int = 1_000_000) -> str:
    prev = "w0"
    iters = ""
    for t in range(1, n_iter + 1):
        iters += f""",
    r{t} AS (
      SELECT a, b,
        CASE WHEN sum(v) OVER (PARTITION BY a) > 0
          THEN CAST(CAST(v AS HUGEINT)
                    * COALESCE((SELECT t FROM rt WHERE rt.a = {prev}.a), 0)
                    * {scale}
                    // sum(CAST(v AS HUGEINT)) OVER (PARTITION BY a)
                    AS HUGEINT)
          ELSE 0 END AS v
      FROM {prev}
    ),
    c{t} AS (
      SELECT a, b,
        CASE WHEN sum(v) OVER (PARTITION BY b) > 0
          THEN CAST(CAST(v AS HUGEINT)
                    * COALESCE((SELECT t FROM ct WHERE ct.b = r{t}.b), 0)
                    * {scale}
                    // sum(CAST(v AS HUGEINT)) OVER (PARTITION BY b)
                    AS HUGEINT)
          ELSE 0 END AS v
      FROM r{t}
    )"""
        prev = f"c{t}"
    return f"""
    WITH cells AS (
      SELECT c_nationkey AS a, c_mktsegment AS b,
        CAST(count(*) AS BIGINT) AS w
      FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders)
      GROUP BY 1, 2
    ), rt AS (
      SELECT c_nationkey AS a, CAST(count(*) AS BIGINT) AS t
      FROM customer GROUP BY 1
    ), ct AS (
      SELECT c_mktsegment AS b, CAST(count(*) AS BIGINT) AS t
      FROM customer GROUP BY 1
    ), w0 AS (
      SELECT a, b, CAST(w AS HUGEINT) * {scale} AS v FROM cells
    ){iters}
    SELECT cells.a AS c_nationkey, cells.b AS c_mktsegment,
      cells.w AS weight_raw,
      round(CAST({prev}.v AS DOUBLE) / {scale}.0, 6) AS weight_raked
    FROM cells JOIN {prev} ON cells.a = {prev}.a AND cells.b = {prev}.b
    """


ORACLES["ipf_raking"] = _ipf_oracle()


def q_als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative filtering (r9c,
    operators/recommend.py::als_recommend — MLlib distributed ALS,
    implicit Hu-Koren-Volinsky weighting over customer × part
    quantities, seen items anti-joined out). Iterative float fit →
    ROWS-ONLY (the MLlib precedent: interpolation_join_gbt); RMSE-
    beats-baseline and novelty contracts in tests/test_r9c_ops.py."""
    _prep(spark)
    from .operators.recommend import als_recommend

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    inter = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("qty"))
    )
    return als_recommend(
        inter, "o_custkey", "l_partkey", "qty", top_k=5, max_iter=5
    )


def q_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fightin' Words corpus comparison (r9c,
    operators/keywords.py::fightin_words — Monroe-Colaresi-Quinn
    2008 Dirichlet-smoothed log-odds z; 6dp ln bridge + 4dp z):
    terms over-represented in English docs vs the rest."""
    _prep(spark)
    from .operators.keywords import fightin_words

    docs = load_table(spark, sf_dir, "documents")
    return fightin_words(
        docs, "text", "lang", "en", min_count=5, top_k=40
    )


ORACLES["fightin_words"] = """
    WITH toks AS (
      SELECT (lang = 'en') AS in_a, unnest(list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        t -> t <> '')) AS term
      FROM documents
    ), counts AS (
      SELECT term,
        CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
        CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS yb
      FROM toks GROUP BY 1 HAVING count(*) >= 5
    ), tot AS (
      SELECT CAST(sum(ya) AS BIGINT) AS na,
        CAST(sum(yb) AS BIGINT) AS nb,
        CAST(count(*) AS BIGINT) AS v
      FROM counts
    ), j AS (SELECT * FROM counts, tot),
    calc AS (
      SELECT term, ya, yb,
        round(ln((CAST(ya AS DOUBLE) + 0.5)
                 / (CAST(na AS DOUBLE) + CAST(v AS DOUBLE) * 0.5
                    - CAST(ya AS DOUBLE) - 0.5)), 6)
        - round(ln((CAST(yb AS DOUBLE) + 0.5)
                   / (CAST(nb AS DOUBLE) + CAST(v AS DOUBLE) * 0.5
                      - CAST(yb AS DOUBLE) - 0.5)), 6) AS delta,
        1.0 / (CAST(ya AS DOUBLE) + 0.5)
        + 1.0 / (CAST(yb AS DOUBLE) + 0.5) AS sigma2
      FROM j
    )
    SELECT term, ya AS count_a, yb AS count_b,
      round(delta, 6) AS delta,
      round(delta / sqrt(sigma2), 4) AS z
    FROM calc
    ORDER BY z DESC, term
    LIMIT 40
"""


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation (r9c,
    operators/sampling.py::neyman_allocation — n_h ∝ N_h·σ_h from
    exact integer-micro moments; the design step in front of the
    stratified samplers): a 1000-row budget across event types by
    value volatility."""
    _prep(spark)
    from .operators.sampling import neyman_allocation

    ev = load_table(spark, sf_dir, "events")
    return neyman_allocation(ev, "event_type", "value", n_total=1000)


ORACLES["neyman_allocation"] = """
    WITH base AS (
      SELECT event_type AS h,
        CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6
      FROM events WHERE CAST(value AS DECIMAL(18,6)) IS NOT NULL
    ), mom AS (
      SELECT h, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(v6 AS HUGEINT)) AS HUGEINT) AS s,
        CAST(sum(CAST(v6 AS HUGEINT) * CAST(v6 AS HUGEINT)) AS HUGEINT)
          AS s2
      FROM base GROUP BY 1
    ), wts AS (
      SELECT h, n,
        CASE WHEN n > 1 THEN
          sqrt(CAST(n * s2 - s * s AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
          / 1000000.0
        ELSE 0.0 END AS sd
      FROM mom
    ), tot AS (
      SELECT sum(CAST(n AS DOUBLE) * sd) AS wt FROM wts
    )
    SELECT h AS event_type, n AS n_rows,
      round(sd, 6) AS stddev,
      round(CAST(n AS DOUBLE) * sd / (SELECT wt FROM tot), 6)
        AS alloc_weight,
      CAST(floor(1000.0 * CAST(n AS DOUBLE) * sd / (SELECT wt FROM tot))
           AS BIGINT) AS n_alloc
    FROM wts
"""


def q_streaming_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch streaming spike flags across ≥2 REAL
    micro-batches (r9c, streaming/ops.py::streaming_spike_flags —
    per-key exact integer (count, sum) state, rows flagged against
    the PRIOR batches' baseline mean only (batch-boundary
    semantics: intra-batch order cannot matter), first batch emits
    NULL flags): events split by the literal predicate
    event_id % 2 = 0."""
    import glob
    import shutil
    import uuid

    from .streaming.ops import streaming_spike_flags

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    src = _fresh_tmp("skrub_strspike_src_")
    os.makedirs(src)
    halves = [
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 != 0),
    ]
    for i, part in enumerate(halves):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strspike_" + uuid.uuid4().hex[:8]
    q = (
        streaming_spike_flags(
            stream, "event_type", "event_id", "value", factor=3.0
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    return checkpoint(spark.table(name)).select(
        F.col("key").alias("event_type"),
        F.col("id").alias("event_id"),
        "value",
        F.round(
            F.col("baseline_sum6").cast("double")
            / F.col("baseline_cnt").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("baseline_mean"),
        "is_spike",
    )


ORACLES["streaming_spikes"] = """
    WITH ev AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
      FROM events
    ), b0 AS (
      SELECT event_type,
        CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1000000)
                      AS BIGINT)) AS BIGINT) AS s6
      FROM ev WHERE event_id % 2 = 0 GROUP BY 1
    )
    SELECT event_type, event_id, value,
      CAST(NULL AS DOUBLE) AS baseline_mean,
      CAST(NULL AS BOOLEAN) AS is_spike
    FROM ev WHERE event_id % 2 = 0
    UNION ALL
    SELECT e.event_type, e.event_id, e.value,
      round(CAST(b0.s6 AS DOUBLE) / CAST(b0.cnt AS DOUBLE)
            / 1000000.0, 6) AS baseline_mean,
      CASE WHEN b0.cnt IS NOT NULL THEN
        (CAST(CAST(round(e.value * 1000000) AS BIGINT) AS HUGEINT)
           * b0.cnt * 1000000
         >= CAST(3000000 AS HUGEINT) * b0.s6) END AS is_spike
    FROM ev e LEFT JOIN b0 USING (event_type)
    WHERE e.event_id % 2 != 0
"""


def q_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct via mergeable HLL (r9c — THE sketch
    scale pattern: exact 7-day sliding COUNT(DISTINCT) re-scans
    every window at 100 TB, while daily HLL registers merge by
    register-wise max, so each day costs one bounded merge of 7
    register frames (functions/sketches.py::hll_registers/merge/
    estimate). Each daily register row fans out to the ≤7 target
    days it serves — buckets/day × 7 rows, never data-scale).
    Exact sliding distinct rides along for self-demonstration;
    the raw-regime estimate and denominator replay bit-identically
    in SQL."""
    _prep(spark)
    from .functions.sketches import hll_estimate

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.expr("unix_date(to_date(ts))").cast("long").alias("day"),
    )
    from .functions.sketches import hll_registers

    daily = hll_registers(ev, "uid", ["day"], p=7)
    span = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    fanned = (
        daily.withColumn(
            "target_day",
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)),
        )
        .crossJoin(F.broadcast(span))
        .where(F.col("target_day") <= F.col("d1"))
        .groupBy("target_day", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    est = hll_estimate(fanned, ["target_day"], p=7).select(
        "target_day", "buckets_hit", "denom", "hll_est"
    )
    exact = (
        ev.withColumn(
            "target_day",
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)),
        )
        .crossJoin(F.broadcast(span))
        .where(F.col("target_day") <= F.col("d1"))
        .groupBy("target_day")
        .agg(F.count_distinct("uid").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "target_day")


ORACLES["sliding_distinct_hll"] = f"""
    WITH ev AS (
      SELECT DISTINCT user_id AS uid,
        CAST(epoch_us(CAST(ts AS DATE)) // 86400000000 AS BIGINT)
          AS day
      FROM events
    ), span AS (SELECT max(day) AS d1 FROM ev),
    h AS (
      SELECT day,
        ('0x' || substr(md5(CAST(uid AS VARCHAR)), 1, 15))::BIGINT
          AS h60
      FROM ev
    ), r AS (
      SELECT day, h60 >> 53 AS bucket,
        CASE WHEN (h60 & ((1::BIGINT << 53) - 1)) = 0 THEN 54
             ELSE 54 - length(bin(h60 & ((1::BIGINT << 53) - 1)))
        END AS rho
      FROM h
    ), daily AS (
      SELECT day, bucket, max(rho) AS reg FROM r GROUP BY 1, 2
    ), fanned AS (
      SELECT t.target_day, bucket, max(reg) AS reg
      FROM daily, LATERAL (
        SELECT unnest(generate_series(day, day + 6)) AS target_day
      ) t
      WHERE t.target_day <= (SELECT d1 FROM span)
      GROUP BY 1, 2
    ), agg AS (
      SELECT target_day,
        CAST(count(*) AS BIGINT) AS buckets_hit,
        CAST((128 - count(*)) * (1::BIGINT << 54)
             + sum(1::BIGINT << (54 - reg)) AS BIGINT) AS denom
      FROM fanned GROUP BY 1
    ), ex AS (
      SELECT t.target_day,
        CAST(count(DISTINCT uid) AS BIGINT) AS exact_distinct
      FROM ev, LATERAL (
        SELECT unnest(generate_series(day, day + 6)) AS target_day
      ) t
      WHERE t.target_day <= (SELECT d1 FROM span)
      GROUP BY 1
    )
    SELECT agg.target_day, buckets_hit, denom,
      round({_hll_p7_num()!r} / CAST(denom AS DOUBLE), 6) AS hll_est,
      exact_distinct
    FROM agg JOIN ex USING (target_day)
"""


def q_prefix_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-suggest prefix index (r9c — the autocomplete side of
    the retrieval stack next to BM25/phrase search: top-3 term
    completions per 2-char prefix by corpus frequency, ties by
    term; one tokenize pass + one count groupBy + one bounded
    window over per-prefix candidates). At serving scale the output
    IS the index: partition-prune by prefix and a lookup reads one
    partition."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("term")
    ).where(F.length("term") >= 2)
    counts = terms.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    w = Window.partitionBy("prefix").orderBy(
        F.col("freq").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("prefix", F.substring("term", 1, 2))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("prefix", F.col("rank").cast("int").alias("rank"),
                "term", "freq")
    )


ORACLES["prefix_completions"] = """
    WITH terms AS (
      SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        t -> t <> '')) AS term
      FROM documents
    ), counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS freq
      FROM terms WHERE length(term) >= 2 GROUP BY 1
    ), ranked AS (
      SELECT substr(term, 1, 2) AS prefix, term, freq,
        row_number() OVER (PARTITION BY substr(term, 1, 2)
                           ORDER BY freq DESC, term) AS rank
      FROM counts
    )
    SELECT prefix, CAST(rank AS INT) AS rank, term, freq
    FROM ranked WHERE rank <= 3
"""


def _planted_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic role-tagged conversations built byte-identically
    in both engines from the documents table (the json_profile
    recipe): 2 or 4 alternating turns per doc, a shared canned
    assistant reply every 7th doc (cross-conversation duplicates for
    the dedup stage), a TAB-less garbage record every 11th (the
    malformed path)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    convo = F.concat_ws(
        "\x1e",
        F.concat(F.lit("user\t"), F.substring(t, 1, 60)),
        F.concat(
            F.lit("assistant\t"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("I cannot help with that request."),
            ).otherwise(F.substring(t, 61, 80)),
        ),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("user\t"), F.substring(t, 141, 40)),
        ),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("assistant\t"), F.substring(t, 181, 60)),
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit("garbage-no-tab")),
    )
    return docs.select(F.col("doc_id"), convo.alias("convo"))


_CONVO_SQL = """
      SELECT doc_id,
        concat_ws(chr(30),
          'user' || chr(9) || substr(text, 1, 60),
          'assistant' || chr(9) ||
            (CASE WHEN doc_id % 7 = 0
              THEN 'I cannot help with that request.'
              ELSE substr(text, 61, 80) END),
          CASE WHEN doc_id % 3 = 0
            THEN 'user' || chr(9) || substr(text, 141, 40) END,
          CASE WHEN doc_id % 3 = 0
            THEN 'assistant' || chr(9) || substr(text, 181, 60) END,
          CASE WHEN doc_id % 11 = 0 THEN 'garbage-no-tab' END
        ) AS convo
      FROM documents
"""

_TURNS_SQL = f"""
    convos AS ({_CONVO_SQL}),
    recs AS (
      SELECT doc_id AS conv_id, ts.rec,
        CAST(ts.i - 1 AS INT) AS turn_idx
      FROM convos, LATERAL (
        SELECT unnest(string_split(convo, chr(30))) AS rec,
          unnest(generate_series(1, len(string_split(convo, chr(30)))))
            AS i
      ) ts
    ),
    turns AS (
      SELECT conv_id, turn_idx,
        CASE WHEN strpos(rec, chr(9)) > 0
          THEN split_part(rec, chr(9), 1) END AS role,
        CASE WHEN strpos(rec, chr(9)) > 0
          THEN substr(rec, strpos(rec, chr(9)) + 1)
          ELSE rec END AS text
      FROM recs
    )
"""


def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT conversation QA (r9c, operators/sft.py::parse_turns +
    conversation_stats — role-alternation validation, per-role turn
    counts, malformed-record visibility; one split/posexplode pass
    + one lag window): planted conversations over documents."""
    _prep(spark)
    from .operators.sft import conversation_stats, parse_turns

    convos = _planted_conversations(spark, sf_dir)
    return conversation_stats(parse_turns(convos, "convo", "doc_id"))


ORACLES["conversation_stats"] = f"""
    WITH {_TURNS_SQL},
    lagged AS (
      SELECT *, lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
        AS prev_role
      FROM turns
    )
    SELECT conv_id,
      CAST(count(*) AS BIGINT) AS n_turns,
      CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_user,
      CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_assistant,
      CAST(sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_malformed,
      max(CASE WHEN turn_idx = 0 THEN role = 'user' END)
        AS starts_with_user,
      (sum(CASE WHEN prev_role IS NOT NULL
                AND prev_role IS NOT DISTINCT FROM role
           THEN 1 ELSE 0 END) = 0) AS alternates,
      CAST(sum(CASE WHEN role = 'assistant' THEN length(text)
               ELSE 0 END) AS BIGINT) AS assistant_chars
    FROM lagged GROUP BY 1
"""


def q_sft_turn_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant-turn dedup (r9c,
    operators/sft.py::assistant_turn_dedup — the SFT memorization
    vector: identical assistant replies across conversations;
    md5 text hashing, min-length boilerplate floor)."""
    _prep(spark)
    from .operators.sft import assistant_turn_dedup, parse_turns

    convos = _planted_conversations(spark, sf_dir)
    return assistant_turn_dedup(
        parse_turns(convos, "convo", "doc_id"), min_chars=20
    )


ORACLES["sft_turn_dedup"] = f"""
    WITH {_TURNS_SQL}
    SELECT md5(text) AS text_hash,
      CAST(count(*) AS BIGINT) AS n_occurrences,
      CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversations,
      min(conv_id) AS example_conv_id
    FROM turns
    WHERE role = 'assistant' AND length(text) >= 20
    GROUP BY 1
    HAVING count(DISTINCT conv_id) > 1
"""


def q_preference_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair length-bias audit (r9c,
    operators/sft.py::preference_bias_report — the
    reward-model-gaming check: chosen_longer_rate far from 0.5
    means length alone predicts the label): deterministic pairs
    planted from document prefixes."""
    _prep(spark)
    from .operators.sft import preference_bias_report

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.substring(
            F.col("text"), 1, (100 + F.col("doc_id") % 50).cast("int")
        ).alias("chosen"),
        F.substring(
            F.col("text"), 1, (120 - F.col("doc_id") % 40).cast("int")
        ).alias("rejected"),
    )
    return preference_bias_report(pairs, "chosen", "rejected")


ORACLES["preference_bias"] = """
    WITH pairs AS (
      SELECT
        length(substr(text, 1, CAST(100 + doc_id % 50 AS INT)))
          AS lc,
        length(substr(text, 1, CAST(120 - doc_id % 40 AS INT)))
          AS lr
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS BIGINT)
        AS n_chosen_longer,
      CAST(sum(CASE WHEN lc = lr THEN 1 ELSE 0 END) AS BIGINT)
        AS n_equal_len,
      round(CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS chosen_longer_rate,
      round(CAST(sum(lc) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS mean_len_chosen,
      round(CAST(sum(lr) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS mean_len_rejected
    FROM pairs
"""


def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table (r9c — the model-eval artifact every
    targeting model ships with: equal-frequency score deciles
    (quantile_discretize's exact edge rule) of the FROZEN quality
    classifier, cumulative capture of a deterministic positive
    class from the best decile down; every rate an exact-count
    IEEE division). Composes two proven replays: the frozen-score
    CTE + the quantile-edge rule."""
    _prep(spark)
    from ._frozen import QUALITY_MODEL
    from .operators.quality_classifier import score_quality
    from .operators.winsorize import quantile_discretize

    docs = load_table(spark, sf_dir, "documents")
    # 6dp-rounded scores: the replayable grain the scores oracle
    # uses (the raw sigmoid differs past 6dp between engines)
    scored = score_quality(docs, QUALITY_MODEL).select(
        "doc_id",
        F.round("quality_score", 6).alias("quality_score"),
        (F.col("lang") == "en").alias("pos"),
    )
    binned = quantile_discretize(
        scored, "quality_score", 10, "decile"
    )
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("pos").cast("long")).cast("long").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("n_pos").cast("long").alias("tp"),
    )
    w = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("pos_rate"),
            F.sum("n").over(w).cast("long").alias("cum_n"),
            F.sum("n_pos").over(w).cast("long").alias("cum_pos"),
            F.round(
                F.sum("n_pos").over(w).cast("double")
                / F.col("tp").cast("double"),
                6,
            ).alias("cum_gain"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n").cast("double"))
                / (F.col("tp").cast("double") / F.col("tn").cast("double")),
                6,
            ).alias("lift"),
        )
    )


def _gains_oracle() -> str:
    edge_sel = ",\n        ".join(
        f"min(CASE WHEN cum >= ({1000 * i} * n + 9999) // 10000"
        f" THEN v END) AS e{i}"
        for i in range(1, 10)
    )
    bin_expr = "\n           + ".join(
        f"(CASE WHEN qs >= e{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
    )
    return _quality_score_cte() + f"""
    , scored AS (
      SELECT s.doc_id, s.qs, (d.lang = 'en') AS pos
      FROM s JOIN documents d ON s.doc_id = d.doc_id
    ), vc AS (
      SELECT qs AS v, count(*) AS c FROM scored GROUP BY 1
    ), cum AS (
      SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        AS cum
      FROM vc
    ), nt AS (SELECT count(*) AS n FROM scored),
    e AS (
      SELECT
        {edge_sel}
      FROM cum CROSS JOIN nt
    ), binned AS (
      SELECT doc_id, pos,
        CAST({bin_expr} AS INTEGER) AS decile
      FROM scored CROSS JOIN e
    ), per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM binned GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn,
        CAST(sum(n_pos) AS BIGINT) AS tp
      FROM per
    )
    SELECT decile, n, n_pos,
      round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
      CAST(sum(n) OVER wd AS BIGINT) AS cum_n,
      CAST(sum(n_pos) OVER wd AS BIGINT) AS cum_pos,
      round(CAST(sum(n_pos) OVER wd AS DOUBLE)
            / CAST((SELECT tp FROM tot) AS DOUBLE), 6) AS cum_gain,
      round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
            / (CAST((SELECT tp FROM tot) AS DOUBLE)
               / CAST((SELECT tn FROM tot) AS DOUBLE)), 6) AS lift
    FROM per
    WINDOW wd AS (ORDER BY decile DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


ORACLES["gains_table"] = _gains_oracle()


def q_trimmed_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group trimmed means (r9c — the robust location estimate
    between mean and median: drop the lowest/highest 10% by the
    exact integer rank rule (ranks via a per-group window over
    (value, id) — a total order, so the trim set is deterministic),
    then one exact decimal sum + one IEEE division): order totals
    per priority, 10% trim each side."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(12,2)").alias("v"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .cast("long")
        .alias("n"),
    )
    # keep ranks in (floor(n/10), n - floor(n/10)]
    kept = ranked.where(
        (F.col("rn") > F.expr("n div 10"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    return kept.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(
            F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("trimmed_mean"),
    )


ORACLES["trimmed_means"] = """
    WITH ranked AS (
      SELECT o_orderpriority,
        CAST(o_totalprice AS DECIMAL(12,2)) AS v,
        CAST(row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
        CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
          AS n
      FROM orders
    ), kept AS (
      SELECT * FROM ranked
      WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT o_orderpriority,
      CAST(max(n) AS BIGINT) AS n_rows,
      CAST(count(*) AS BIGINT) AS n_kept,
      round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS trimmed_mean
    FROM kept GROUP BY 1
"""


def q_concordance_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation (r9c — agreement between two
    MEASUREMENTS of the same thing, penalizing both scatter AND
    location/scale shift, unlike Pearson): header o_totalprice vs
    the summed lineitem revenue of the same order. All five moment
    sums exact integer-cents DECIMAL(38,0); CCC = 2·cov /
    (varx + vary + n·(mx−my)²) assembled from the exact moments in
    a fixed handful of IEEE ops."""
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (
                    F.lit(1).cast("decimal(12,2)")
                    - F.col("l_discount").cast("decimal(12,2)")
                )
            ).cast("decimal(18,4)")
        ).alias("rev")
    )
    # integer 1e4-units (revenue has 4 decimals after the product)
    j = orders.join(
        rev, orders["o_orderkey"] == rev["l_orderkey"], "inner"
    ).select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 10000)
        .cast("long")
        .alias("x"),
        (F.col("rev") * 10000).cast("long").alias("y"),
    )
    d0 = "decimal(38,0)"
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d0)).alias("sx"),
        F.sum(F.col("y").cast(d0)).alias("sy"),
        F.sum(F.col("x").cast(d0) * F.col("y").cast(d0)).alias("sxy"),
        F.sum(F.col("x").cast(d0) * F.col("x").cast(d0)).alias("sxx"),
        F.sum(F.col("y").cast(d0) * F.col("y").cast(d0)).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = (F.col("n").cast(d0) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n").cast(d0) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n").cast(d0) * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    dm = (F.col("sx") - F.col("sy")).cast("double")
    return m.select(
        "n",
        F.round(
            (F.lit(2.0) * cov) / (vx + vy + dm * dm),
            6,
        ).alias("ccc"),
        F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("pearson"),
    )


ORACLES["concordance_ccc"] = """
    WITH rev AS (
      SELECT l_orderkey,
        sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2))
                    - CAST(l_discount AS DECIMAL(12,2)))
                 AS DECIMAL(18,4))) AS rev
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 10000 AS BIGINT)
          AS x,
        CAST(rev * 10000 AS BIGINT) AS y
      FROM orders JOIN rev ON o_orderkey = l_orderkey
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
          AS sxy,
        CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
          AS sxx,
        CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
          AS syy
      FROM j
    )
    SELECT n,
      round((2.0 * CAST(n * sxy - sx * sy AS DOUBLE))
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               + CAST(n * syy - sy * sy AS DOUBLE)
               + CAST(sx - sy AS DOUBLE) * CAST(sx - sy AS DOUBLE)),
            6) AS ccc,
      round(CAST(n * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        AS pearson
    FROM m
"""


def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife ratio-metric SE (r9c,
    report/experiment.py::jackknife_ratio_se — delete-one-bucket
    over md5 entity buckets, the standard SE for metrics whose
    denominator is random; the G-row loo frame sums in PINNED
    bucket order so even the float Σ replays): total event value
    per purchase, users in 20 buckets."""
    _prep(spark)
    from .report.experiment import jackknife_ratio_se

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("num"),
        (F.col("event_type") == "purchase")
        .cast("int")
        .cast("decimal(18,6)")
        .alias("den"),
    )
    return jackknife_ratio_se(
        base, "num", "den", "user_id", n_buckets=20
    )


ORACLES["jackknife_ratio"] = """
    WITH base AS (
      SELECT ('0x' || substr(md5('jk' || CAST(user_id AS VARCHAR)),
                             1, 15))::BIGINT % 20 AS g,
        CAST(value AS DECIMAL(18,6)) AS x,
        CAST(CAST(event_type = 'purchase' AS INT) AS DECIMAL(18,6))
          AS y
      FROM events
      WHERE value IS NOT NULL
    ), per_g AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        sum(y) AS sy
      FROM base GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, sum(sx) AS tx,
        sum(sy) AS ty, CAST(count(*) AS BIGINT) AS gn
      FROM per_g
    ), loo AS (
      SELECT g, nt, gn,
        round(CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE), 6) AS ratio,
        round(CAST(tx - sx AS DOUBLE) / CAST(ty - sy AS DOUBLE), 6)
          AS r_loo
      FROM per_g, tot
    ), stats AS (
      SELECT *, sum(r_loo) OVER wall / CAST(gn AS DOUBLE) AS rbar
      FROM loo
      WINDOW wall AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
    ), dev AS (
      SELECT nt, gn, ratio, g,
        (r_loo - rbar) * (r_loo - rbar) AS d2
      FROM stats
    ), agg AS (
      SELECT nt, gn, ratio,
        sum(d2) OVER wall AS ssd,
        row_number() OVER (ORDER BY g) AS rn
      FROM dev
      WINDOW wall AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
    )
    SELECT nt AS n_rows, gn AS n_buckets, ratio,
      round(sqrt(CAST(gn - 1 AS DOUBLE) / CAST(gn AS DOUBLE) * ssd),
            6) AS jk_se
    FROM agg WHERE rn = 1
"""


def q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment latency percentiles (r9c — the operations
    dashboard next to funnel_latency: days from order date to the
    order's FIRST line shipment, p50/p90/p99 per priority via the
    exact rank-selection rule of group_quantiles; one join + one
    min-agg + the bounded quantile machinery)."""
    _prep(spark)
    from .operators.winsorize import group_quantiles

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.expr("unix_date(cast(l_shipdate as date))")).alias(
            "ship_day"
        )
    )
    lat = orders.join(
        first_ship, orders["o_orderkey"] == F.col("l_orderkey"), "inner"
    ).select(
        "o_orderpriority",
        (
            F.col("ship_day")
            - F.expr("unix_date(cast(o_orderdate as date))")
        )
        .cast("long")
        .alias("latency_days"),
    )
    return group_quantiles(
        lat,
        "o_orderpriority",
        "latency_days",
        probs=[0.5, 0.9, 0.99],
        names=["p50_days", "p90_days", "p99_days"],
    )


ORACLES["fulfillment_latency"] = """
    WITH first_ship AS (
      SELECT l_orderkey,
        CAST(min(epoch_us(l_shipdate) // 86400000000) AS BIGINT)
          AS ship_day
      FROM lineitem GROUP BY 1
    ), lat AS (
      SELECT o_orderpriority,
        ship_day - CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
          AS latency_days
      FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    ), counts AS (
      SELECT o_orderpriority, latency_days AS v,
        CAST(count(*) AS BIGINT) AS c
      FROM lat WHERE latency_days IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT o_orderpriority, v,
        sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum,
        sum(c) OVER (PARTITION BY o_orderpriority) AS n
      FROM counts
    )
    SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
      min(CASE WHEN cum >= (5000 * n + 9999) // 10000 THEN v END)
        AS p50_days,
      min(CASE WHEN cum >= (9000 * n + 9999) // 10000 THEN v END)
        AS p90_days,
      min(CASE WHEN cum >= (9900 * n + 9999) // 10000 THEN v END)
        AS p99_days
    FROM cum GROUP BY 1
"""



def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive forecast (r10,
    operators/forecast.py::holt_winters_forecast): daily revenue
    per order priority over the last 112 days, weekly seasonality,
    14-day horizon. The recurrence is EXACT integer-micro DP (6dp
    requantize after every update — the gap_encoder discipline), so
    the DuckDB oracle replays it with a recursive CTE carrying the
    (l, b, s1..s7) state columns; outputs are plain micro/1e6
    divisions, identical IEEE in both engines."""
    _prep(spark)
    from .operators.forecast import holt_winters_forecast

    orders = load_table(spark, sf_dir, "orders")
    return holt_winters_forecast(
        orders, "o_orderpriority", "o_orderdate", "o_totalprice"
    )



def q_quantile_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free median CI per market segment (r10,
    operators/winsorize.py::quantile_ci): order-statistic bracket
    with exact integer point rank and IEEE-deterministic normal-
    approximation bracket ranks (sqrt is correctly rounded, so the
    rank expressions agree bit-for-bit across engines)."""
    _prep(spark)
    from .operators.winsorize import quantile_ci

    cust = load_table(spark, sf_dir, "customer")
    return quantile_ci(
        cust, ["c_mktsegment"], "c_acctbal", q_num=1, q_den=2
    )



def q_isotonic_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the frozen quality
    classifier against its stopword teacher (r10,
    report/evaluation.py::isotonic_calibration): the monotone
    score->rate map a sampler would consume instead of the raw
    sigmoid when calibration_eval shows drift. The PAV fit uses the
    closed-form minimax identity over the bounded 50-bin frame, so
    the oracle replays it with plain joins over exact prefix
    sums."""
    _prep(spark)
    from ._frozen import QUALITY_MODEL, QUALITY_TEACHER_THRESHOLD
    from .functions.text import quality_columns
    from .operators.quality_classifier import score_quality
    from .report.evaluation import isotonic_calibration

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = score_quality(docs, QUALITY_MODEL).select(
        "doc_id",
        F.round("quality_score", 6).alias("score"),
        (
            quality_columns(F.col("text"))["stopword_ratio"]
            >= F.lit(float(QUALITY_TEACHER_THRESHOLD))
        )
        .cast("int")
        .alias("label"),
    )
    return isotonic_calibration(scored, "score", "label", n_bins=50)



def q_unigram_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware sequence packing (r10): pack_training_chunks
    driven by the FROZEN unigram-LM piece counts instead of the
    whitespace proxy — the budget a real training run packs
    against. Composes two exact pieces (unigram_stats_frozen +
    the running-sum packing arithmetic), so the oracle is the
    unigram CTE feeding the same integer cumsum."""
    _prep(spark)
    from .operators.packing import pack_training_chunks

    stats = q_unigram_stats_frozen(spark, sf_dir).select(
        "doc_id", "n_pieces"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return pack_training_chunks(
        docs.join(stats, "doc_id"),
        "n_pieces",
        chunk_tokens=2048,
        order_col="doc_id",
        by="lang",
    )



def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility comparison (r10): per language, mean
    chars-per-token under the FROZEN BPE merges vs the FROZEN
    unigram-LM pieces — the metric that picks a tokenizer for a
    corpus (fertility differences across languages are the classic
    SentencePiece-vs-BPE argument). Composes the two frozen
    encoders per doc, joins the corpus lang, and aggregates the
    6dp per-doc ratios as exact DECIMAL means. Oracle: the two
    committed frozen oracles ride as CTE bodies joined on doc_id."""
    _prep(spark)
    uni = q_unigram_stats_frozen(spark, sf_dir).select(
        "doc_id",
        F.col("n_pieces").alias("u_pieces"),
        F.col("chars_per_piece").alias("u_cpp"),
    )
    bpe = q_bpe_stats_frozen(spark, sf_dir).select(
        "doc_id",
        F.col("n_bpe_tokens").alias("b_tokens"),
        F.col("chars_per_token").alias("b_cpt"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = docs.join(uni, "doc_id").join(bpe, "doc_id")
    d = "decimal(18,6)"
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("u_pieces").cast("long").alias("unigram_pieces"),
        F.sum("b_tokens").cast("long").alias("bpe_tokens"),
        F.round(
            F.sum(F.col("u_cpp").cast(d)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("unigram_chars_per_piece"),
        F.round(
            F.sum(F.col("b_cpt").cast(d)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("bpe_chars_per_token"),
    )



def q_yuen_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen 20%-trimmed two-sample test (r10,
    report/abtest.py::yuen_trimmed_test): order totals by customer
    parity — the robust companion to the mean tests, immune to the
    heavy right tail of revenue. Exact oracle: rank-exact trimming
    and winsorized DECIMAL moments, one fixed-order IEEE tail."""
    _prep(spark)
    from .report.abtest import yuen_trimmed_test

    orders = load_table(spark, sf_dir, "orders")
    return yuen_trimmed_test(
        orders.select(
            "o_totalprice",
            (F.col("o_custkey") % 2).cast("string").alias("arm"),
        ),
        "o_totalprice",
        "arm",
    )



def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM drift flags across ≥2 REAL micro-batches
    (r10, streaming/ops.py::streaming_cusum): events split into
    even/odd-event_id files; per event type the state store carries
    the two (cum, min-cum) integer pairs of the reflected-random-
    walk identity, so the no-reset CUSUM trajectory is exact and
    the oracle replays it with plain running-sum/min WINDOW
    functions over the literal batch order (event_id % 2,
    event_id)."""
    import glob
    import shutil
    import uuid

    from .streaming.ops import streaming_cusum

    _prep(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src = _fresh_tmp("skrub_strcusum_src_")
    os.makedirs(src)
    for i, part in enumerate(
        (
            events.filter(F.col("event_id") % 2 == 0),
            events.filter(F.col("event_id") % 2 == 1),
        )
    ):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strcusum_" + uuid.uuid4().hex[:8]
    q = (
        streaming_cusum(
            stream,
            "event_type",
            "event_id",
            "value",
            mu6=50_000_000,
            k6=5_000_000,
            h6=500_000_000,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    return spark.table(name).select(
        "key", "id", "value", "s_pos6", "s_neg6", "alarm"
    )



def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test (r10,
    report/survival.py::log_rank_test): do urgent/high-priority
    orders fulfill faster than the rest? Duration = days to first
    lineitem ship, censored at 60 days (the fulfillment_latency
    construction) — the hypothesis test the KM/Nelson-Aalen curves
    feed. Exact oracle: integer risk sets via the
    strictly-before window, per-time O−E and variance terms
    6dp-rounded and DECIMAL-summed."""
    _prep(spark)
    from .report.survival import log_rank_test

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min(
            F.expr("unix_date(cast(l_shipdate as date))")
        ).cast("long").alias("ship_day")
    )
    lat = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            F.lit("high"),
        )
        .otherwise(F.lit("low"))
        .alias("grp"),
        (
            F.col("ship_day")
            - F.expr("unix_date(cast(o_orderdate as date))").cast("long")
        ).alias("latency"),
    )
    surv = lat.select(
        "grp",
        F.least(F.col("latency"), F.lit(60)).alias("t"),
        (F.col("latency") <= 60).cast("long").alias("e"),
    )
    return log_rank_test(surv, "grp", "t", "e")


def q_cmh_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified odds ratio (r10,
    report/experiment.py::cmh_stratified): the msprt arms/planted
    lift, stratified by order month — the Simpson's-paradox-proof
    pooled readout. Exact oracle: per-stratum MH numerators /
    denominators / O−E / variance terms 6dp-rounded and
    DECIMAL-summed."""
    _prep(spark)
    from .report.experiment import cmh_stratified

    orders = load_table(spark, sf_dir, "orders")
    e = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("s"),
        (F.col("o_custkey") % 2).cast("string").alias("v"),
        (
            (F.col("o_orderkey") % 3 == 0)
            | (
                (F.col("o_custkey") % 2 == 1)
                & (F.col("o_orderkey") % 7 == 0)
            )
        ).alias("c"),
    )
    return cmh_stratified(e, "s", "v", "c")



def q_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change monitor (r10,
    operators/forecast.py::cusum_monitor): daily revenue per order
    priority on the Holt-Winters grid, baseline mean from the first
    28 days, slack mu/20, threshold mu/2, reset-on-alarm. The whole
    trajectory is exact integer-micro arithmetic, replayed by the
    oracle's recursive CTE carrying (sp, sn) state."""
    _prep(spark)
    from .operators.forecast import cusum_monitor

    orders = load_table(spark, sf_dir, "orders")
    return cusum_monitor(
        orders, "o_orderpriority", "o_orderdate", "o_totalprice"
    )



def q_msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential test trajectory (r10,
    report/abtest.py::msprt_two_proportion — the mixture-SPRT
    "peeking" construction): orders split into two deterministic
    arms (o_custkey parity) with a planted lift in arm 1
    (o_orderkey % 7 conversions added), monitored cumulatively per
    order month. The p_always_valid column is the running-min
    mixture bound a dashboard may read at every checkpoint. Exact
    oracle: cumulative integer counts -> the same
    fixed-parenthesization lnLambda expression -> 6dp."""
    _prep(spark)
    from .report.abtest import msprt_two_proportion

    orders = load_table(spark, sf_dir, "orders")
    e = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("cp"),
        (F.col("o_custkey") % 2).cast("string").alias("v"),
        (
            (F.col("o_orderkey") % 3 == 0)
            | (
                (F.col("o_custkey") % 2 == 1)
                & (F.col("o_orderkey") % 7 == 0)
            )
        ).alias("c"),
    )
    return msprt_two_proportion(e, "v", "c", "cp", tau2=0.01, alpha=0.05)


def q_eb_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial rate shrinkage (r10,
    report/abtest.py::eb_shrunk_rates): per-customer urgent-order
    rates (roughly ten orders per customer — genuinely small n)
    pulled toward the method-of-moments beta prior — the
    small-n leaderboard fix. Exact oracle: rates 6dp-quantized into
    integer micro space so the moment sums are exact, prior and
    posterior replayed with the identical parenthesization."""
    _prep(spark)
    from .report.abtest import eb_shrunk_rates

    orders = load_table(spark, sf_dir, "orders")
    return eb_shrunk_rates(
        orders.select(
            "o_custkey",
            (F.col("o_orderpriority") == "1-URGENT").alias("urgent"),
        ),
        "o_custkey",
        "urgent",
    )



def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once upsert sink (r10, VERDICT r9 #5,
    streaming/ops.py::streaming_upsert_sink): the order changelog
    (op = 'D' for orderkey % 13 == 0 else 'U') splits into
    even/odd-orderkey files streamed with maxFilesPerTrigger=1;
    each micro-batch foreachBatch-MERGEs into a VERSIONED snapshot
    table keyed by the replay-stable batch id (version =
    batch_id + 1), so a duplicate delivery is skipped — which this
    query PROVES by replaying batch 1 against the finished table
    and asserting the skip before returning the final snapshot.
    Oracle: the last-batch-wins changelog winner per custkey
    (ORDER BY batch DESC, seq DESC), dropped when it is a
    tombstone."""
    import glob
    import shutil
    import uuid

    from .sources.snapshots import read_snapshot, snapshot_versions
    from .streaming.ops import streaming_upsert_sink, upsert_batch

    _prep(spark)
    orders = load_table(spark, sf_dir, "orders")
    ch = orders.select(
        "o_custkey",
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "o_totalprice",
    )
    src = _fresh_tmp("skrub_strups_src_")
    os.makedirs(src)
    files = []
    for i, part in enumerate(
        (
            ch.filter(F.col("o_orderkey") % 2 == 0),
            ch.filter(F.col("o_orderkey") % 2 == 1),
        )
    ):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
        files.append(dst)
    root = _fresh_tmp("skrub_strups_tbl_")
    ckpt = _fresh_tmp("skrub_strups_ckpt_")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_upsert_sink(
        stream, root, "o_custkey", "o_orderkey", "op", checkpoint=ckpt
    )
    _await_stream(q, 2)
    # duplicate delivery: replaying batch 1 must be a no-op
    before = snapshot_versions(root, spark)
    applied = upsert_batch(
        spark.read.parquet(files[1]),
        root,
        "o_custkey",
        "o_orderkey",
        "op",
        batch_id=1,
    )
    after = snapshot_versions(root, spark)
    if applied or after != before:
        raise AssertionError(
            "duplicate batch delivery was not idempotent: "
            f"applied={applied}, versions {before} -> {after}"
        )
    return read_snapshot(spark, root).select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )



def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet / data card (r10, VERDICT r9 #4,
    report/datasheet.py): size+token totals, language/source mix,
    length histogram, exact-dup rate, eval-split contamination rate
    and half-vs-half drift (length-PSI, lang-chi2) composed into one
    long-format numeric frame — the artifact a corpus release ships.
    Exact oracle: DuckDB recomputes every section; ratios are exact
    counts through one IEEE division rounded 6dp, PSI/chi2 terms are
    individually 6dp-rounded and DECIMAL-summed (order-independent).
    The HTML rendering is pinned by a smoke pytest only."""
    _prep(spark)
    from .report.datasheet import corpus_datasheet

    docs = load_table(spark, sf_dir, "documents")
    return corpus_datasheet(docs)



def q_lm_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney interpolated trigram perplexity (r10, VERDICT r9
    #2, operators/lm_filter.py::train_kn_ngram at n=3, no prune) —
    the KenLM-shape upgrade of the add-alpha CCNet filter: absolute
    discounting from count-of-counts, continuation-count lower
    orders, all count tables DataFrames. Scoring input is the corpus
    with a planted out-of-vocabulary suffix (pure SQL concat, oracle
    replays it) so every interpolation branch — seen trigram,
    bigram-continuation backoff, unigram continuation, unseen-word
    floor — is exercised and pinned. Exact oracle: DuckDB rebuilds
    the same count frames and replays the fixed-parenthesization
    probability expression, -ln rounded 6dp, DECIMAL(28,6) per-doc
    sums; ``lm_perplexity_kn5`` pins the same trainer at order 5."""
    _prep(spark)
    from .functions.text import words_az09
    from .operators.lm_filter import score_kn_ngram_perplexity, train_kn_ngram

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r13 (guide §2.4): the trigram trainer makes three words_az09
    # regex passes (trigram occ, bigram types, vocabulary) —
    # tokenize once into a persisted words frame (scoring keeps its
    # own pass: the probe text differs). Identical tokens ->
    # identical counts. Cache: see skrub_spark.release.
    tok_train = docs.select(words_az09("text").alias("__words")).persist()
    lm = train_kn_ngram(tok_train, n=3, prune=0, words_col="__words")
    probe = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" kneser ney zzqxj")).alias("text"),
    )
    scored = score_kn_ngram_perplexity(probe, lm)
    return scored.select(
        "doc_id",
        "n_ngrams",
        "avg_nll",
        (F.col("avg_nll").isNotNull() & (F.col("avg_nll") <= 3.5)).alias(
            "keep"
        ),
    )



# ----------------------------- round 10: unigram-LM tokenizer


def q_unigram_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-shape) tokenizer, self-trained
    (r10, VERDICT r9 #1, operators/unigram_lm.py): EM over the
    corpus word dict, then Viterbi token accounting per document.
    ROWS-ONLY by nature — the EM E-step is float forward-backward
    (summation-order-dependent ratios); the encoder itself is pinned
    exactly by the FROZEN twin ``unigram_stats_frozen`` and the
    pytest contracts in tests/test_r10_ops.py (hand-worked Viterbi,
    EM-improves-likelihood, coverage properties)."""
    _prep(spark)
    from .operators.unigram_lm import train_unigram, unigram_token_stats

    docs = load_table(spark, sf_dir, "documents")
    model = train_unigram(
        docs, "text", vocab_size=300, seed_size=1200, n_em=2,
        max_words=10000,
    )
    return unigram_token_stats(docs, model)


def q_unigram_stats_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM token accounting under the FROZEN piece table
    (r10 — the bpe_stats_frozen precedent): with committed integer
    micro-nat log-probs the Viterbi DP is exact BIGINT arithmetic,
    and the DuckDB oracle replays it level-by-level (one chained
    CTE per word position, max-score/min-pieces tie rule — see
    _r10_frozen_oracles). Pins the ENCODER + accounting end-to-end
    at both scales."""
    _prep(spark)
    from ._frozen import UNIGRAM_MODEL
    from .operators.unigram_lm import UnigramModel, unigram_token_stats

    docs = load_table(spark, sf_dir, "documents")
    model = UnigramModel(
        pieces=dict(UNIGRAM_MODEL["pieces"]),
        max_piece_len=int(UNIGRAM_MODEL["max_piece_len"]),
        max_word_len=int(UNIGRAM_MODEL["max_word_len"]),
    )
    return unigram_token_stats(docs, model)


def _r10_frozen_oracles() -> dict[str, str]:
    """Oracles generated from the round-10 committed literals in
    ``skrub_spark/_frozen.py`` (the _r7_frozen_oracles rule).

    unigram_stats_frozen: Viterbi as a bounded DP unrolled over word
    positions — b{i} holds the best (score, n_pieces) for each
    word prefix of length i, built from b{i-k} joined against the
    piece table on substr(w, i-k+1, k); k=1 LEFT-joins so an
    out-of-vocab character costs the fixed UNK penalty (total
    coverage). Tie rule (max score, then fewest pieces) replays the
    engine's viterbi_stats exactly; all arithmetic is BIGINT."""
    from . import _frozen as fz
    from .operators.unigram_lm import UNIGRAM_UNK_LP6

    m = fz.UNIGRAM_MODEL
    K = int(m["max_piece_len"])
    L = int(m["max_word_len"])
    vvals = ", ".join(
        f"('{p}', CAST({lp} AS BIGINT))"
        for p, lp in sorted(m["pieces"].items())
    )
    # every multiply-referenced CTE is MATERIALIZED: DuckDB inlines
    # plain CTEs, which would expand the chained DP exponentially
    # (b{i} feeds up to K cand's plus wstats)
    ctes = [
        f"v(p, lp) AS MATERIALIZED (VALUES {vvals})",
        (
            "dw AS (SELECT doc_id, "
            "unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w0 "
            "FROM documents)"
        ),
        (
            f"dwt AS MATERIALIZED (SELECT doc_id, substr(w0, 1, {L}) "
            "AS w FROM dw)"
        ),
        "words AS (SELECT DISTINCT w FROM dwt)",
        (
            "b0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS s, "
            "CAST(0 AS BIGINT) AS np FROM words)"
        ),
    ]
    for i in range(1, L + 1):
        branches = [
            (
                f"SELECT b.w, b.s + COALESCE(v.lp, "
                f"CAST({UNIGRAM_UNK_LP6} AS BIGINT)) AS s, "
                f"b.np + 1 AS np FROM b{i - 1} b "
                f"LEFT JOIN v ON v.p = substr(b.w, {i}, 1) "
                f"WHERE len(b.w) >= {i}"
            )
        ]
        for k in range(2, min(K, i) + 1):
            branches.append(
                f"SELECT b.w, b.s + v.lp AS s, b.np + 1 AS np "
                f"FROM b{i - k} b "
                f"JOIN v ON v.p = substr(b.w, {i - k + 1}, {k}) "
                f"WHERE len(b.w) >= {i}"
            )
        ctes.append(f"cand{i} AS ({' UNION ALL '.join(branches)})")
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT w, s, np FROM ("
            f"SELECT w, s, np, row_number() OVER "
            f"(PARTITION BY w ORDER BY s DESC, np ASC) AS rn "
            f"FROM cand{i}) WHERE rn = 1)"
        )
    wstats = " UNION ALL ".join(
        f"SELECT w, s, np FROM b{i} WHERE len(w) = {i}"
        for i in range(1, L + 1)
    )
    ctes.append(f"wstats AS ({wstats})")
    ctes.append(
        "agg AS (SELECT d.doc_id, COUNT(*) AS n_words, "
        "SUM(ws.np) AS n_pieces, SUM(len(ws.w)) AS n_chars, "
        "SUM(ws.s) AS ll6 "
        "FROM dwt d JOIN wstats ws ON ws.w = d.w GROUP BY d.doc_id)"
    )
    q_uni = (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT d.doc_id,\n"
        "  CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,\n"
        "  CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces,\n"
        "  CAST(COALESCE(a.ll6, 0) AS BIGINT) AS ll6,\n"
        "  ROUND(CAST(COALESCE(a.n_chars, 0) AS DOUBLE)\n"
        "        / CAST(greatest(COALESCE(a.n_pieces, 0), 1) "
        "AS DOUBLE), 6) AS chars_per_piece\n"
        "FROM documents d LEFT JOIN agg a USING (doc_id)"
    )
    return {"unigram_stats_frozen": q_uni}


ORACLES.update(_r10_frozen_oracles())


ORACLES["lm_perplexity_kn"] = """
    WITH w AS MATERIALIZED (
      SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x != '') AS words
      FROM documents
    ), pw AS MATERIALIZED (
      SELECT doc_id,
        list_filter(regexp_split_to_array(
            lower(text || ' kneser ney zzqxj'), '[^a-z0-9]+'),
                    x -> x != '') AS words
      FROM documents
    ), tocc AS (
      SELECT doc_id, unnest(
        CASE WHEN len(words) >= 3 THEN
          list_transform(range(1, len(words) - 1),
            i -> struct_pack(c := words[i] || ' ' || words[i+1],
                             m := words[i+1], x := words[i+2]))
        ELSE [] END) AS p
      FROM w
    ), t AS MATERIALIZED (
      SELECT p.c AS ctx2, p.m AS w2, p.x AS w3 FROM tocc
    ), tc AS MATERIALIZED (
      SELECT ctx2, w2, w3, count(*) AS c3 FROM t GROUP BY 1, 2, 3
    ), c2s AS MATERIALIZED (
      SELECT ctx2, sum(c3) AS c2ctx, count(*) AS n1p_ctx
      FROM tc GROUP BY 1
    ), bc AS MATERIALIZED (
      SELECT w2, w3, count(*) AS nc FROM tc GROUP BY 1, 2
    ), w2s AS MATERIALIZED (
      SELECT w2, sum(nc) AS ncs, count(*) AS n_after FROM bc GROUP BY 1
    ), bocc AS (
      SELECT unnest(
        CASE WHEN len(words) >= 2 THEN
          list_transform(range(1, len(words)),
            i -> struct_pack(a := words[i], b := words[i+1]))
        ELSE [] END) AS p
      FROM w
    ), bt AS (
      SELECT DISTINCT p.a AS w1, p.b AS wb FROM bocc
    ), uc AS MATERIALIZED (
      SELECT wb AS wu, count(*) AS n1p FROM bt GROUP BY 1
    ), sca AS MATERIALIZED (
      SELECT
        (SELECT CAST(sum(n1p) AS DOUBLE) FROM uc) AS t_types,
        (SELECT CAST(count(*) AS DOUBLE) FROM uc) AS u_types,
        (SELECT CAST(count(DISTINCT x) AS DOUBLE) + 1.0
         FROM (SELECT unnest(words) AS x FROM w)) AS v,
        (SELECT round(CASE WHEN
            count(*) FILTER (n1p = 1) + 2 * count(*) FILTER (n1p = 2) > 0
          THEN least(greatest(
              CAST(count(*) FILTER (n1p = 1) AS DOUBLE)
              / (count(*) FILTER (n1p = 1)
                 + 2.0 * count(*) FILTER (n1p = 2)), 0.05), 0.95)
          ELSE 0.5 END, 6) FROM uc) AS d1,
        (SELECT round(CASE WHEN
            count(*) FILTER (nc = 1) + 2 * count(*) FILTER (nc = 2) > 0
          THEN least(greatest(
              CAST(count(*) FILTER (nc = 1) AS DOUBLE)
              / (count(*) FILTER (nc = 1)
                 + 2.0 * count(*) FILTER (nc = 2)), 0.05), 0.95)
          ELSE 0.5 END, 6) FROM bc) AS d2,
        (SELECT round(CASE WHEN
            count(*) FILTER (c3 = 1) + 2 * count(*) FILTER (c3 = 2) > 0
          THEN least(greatest(
              CAST(count(*) FILTER (c3 = 1) AS DOUBLE)
              / (count(*) FILTER (c3 = 1)
                 + 2.0 * count(*) FILTER (c3 = 2)), 0.05), 0.95)
          ELSE 0.5 END, 6) FROM tc) AS d3
    ), socc AS (
      SELECT doc_id, unnest(
        CASE WHEN len(words) >= 3 THEN
          list_transform(range(1, len(words) - 1),
            i -> struct_pack(c := words[i] || ' ' || words[i+1],
                             m := words[i+1], x := words[i+2]))
        ELSE [] END) AS p
      FROM pw
    ), s AS (
      SELECT doc_id, p.c AS ctx2, p.m AS w2, p.x AS w3 FROM socc
    ), j AS (
      SELECT s.doc_id,
        CAST(COALESCE(tc.c3, 0) AS DOUBLE) AS c3,
        CAST(COALESCE(c2s.c2ctx, 0) AS DOUBLE) AS c2ctx,
        CAST(COALESCE(c2s.n1p_ctx, 0) AS DOUBLE) AS n1p_ctx,
        CAST(COALESCE(bc.nc, 0) AS DOUBLE) AS nc,
        CAST(COALESCE(w2s.ncs, 0) AS DOUBLE) AS ncs,
        CAST(COALESCE(w2s.n_after, 0) AS DOUBLE) AS n_after,
        CAST(COALESCE(uc.n1p, 0) AS DOUBLE) AS n1p,
        sca.t_types, sca.u_types, sca.v, sca.d1, sca.d2, sca.d3
      FROM s
      LEFT JOIN tc ON tc.ctx2 = s.ctx2 AND tc.w3 = s.w3
      LEFT JOIN c2s ON c2s.ctx2 = s.ctx2
      LEFT JOIN bc ON bc.w2 = s.w2 AND bc.w3 = s.w3
      LEFT JOIN w2s ON w2s.w2 = s.w2
      LEFT JOIN uc ON uc.wu = s.w3
      CROSS JOIN sca
    ), probs AS (
      SELECT doc_id,
        greatest(n1p - d1, 0.0) / t_types
          + ((d1 * u_types) / t_types) * (1.0 / v) AS p1,
        c3, c2ctx, n1p_ctx, nc, ncs, n_after, d2, d3
      FROM j
    ), probs2 AS (
      SELECT doc_id,
        CASE WHEN ncs > 0 THEN
          greatest(nc - d2, 0.0) / ncs + ((d2 * n_after) / ncs) * p1
        ELSE p1 END AS p2,
        c3, c2ctx, n1p_ctx, d3
      FROM probs
    ), sc AS (
      SELECT doc_id,
        CAST(round(-ln(
          CASE WHEN c2ctx > 0 THEN
            greatest(c3 - d3, 0.0) / c2ctx
              + ((d3 * n1p_ctx) / c2ctx) * p2
          ELSE p2 END), 6) AS DECIMAL(28,6)) AS nll_q
      FROM probs2
    ), per AS (
      SELECT doc_id, count(*) AS n_ngrams,
             CAST(sum(nll_q) AS DOUBLE) / count(*) AS avg_nll
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           per.avg_nll,
           (per.avg_nll IS NOT NULL AND per.avg_nll <= 3.5) AS keep
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per USING (doc_id)
"""


ORACLES["corpus_datasheet"] = """
    WITH base AS MATERIALIZED (
      SELECT doc_id AS id,
             CAST(lang AS VARCHAR) AS lang,
             CAST(source AS VARCHAR) AS source,
             text,
             CAST(length(text) AS BIGINT) AS nch,
             CAST(len(list_filter(
                 regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                 x -> x != '')) AS BIGINT) AS ntok
      FROM documents
    ), tot AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ntok) AS BIGINT) AS toks,
             CAST(sum(nch) AS BIGINT) AS chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS nl,
             CAST(count(DISTINCT source) AS BIGINT) AS ns,
             CAST(count(DISTINCT text) AS BIGINT) AS nd,
             CAST(max(nch) AS BIGINT) AS maxch
      FROM base
    ), corpus_s AS (
      SELECT 'corpus' AS section, 'n_docs' AS metric,
             CAST(n AS DOUBLE) AS value FROM tot
      UNION ALL SELECT 'corpus', 'n_tokens', CAST(toks AS DOUBLE) FROM tot
      UNION ALL SELECT 'corpus', 'total_chars', CAST(chars AS DOUBLE) FROM tot
      UNION ALL SELECT 'corpus', 'avg_chars',
        round(CAST(chars AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM tot
      UNION ALL SELECT 'corpus', 'n_langs', CAST(nl AS DOUBLE) FROM tot
      UNION ALL SELECT 'corpus', 'n_sources', CAST(ns AS DOUBLE) FROM tot
    ), lang_mix AS (
      SELECT 'lang_mix' AS section, COALESCE(lang, '<null>') AS metric,
             round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS value
      FROM (SELECT lang, count(*) AS c FROM base GROUP BY 1)
      CROSS JOIN tot
    ), source_mix AS (
      SELECT 'source_mix' AS section, COALESCE(source, '<null>') AS metric,
             round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS value
      FROM (SELECT source, count(*) AS c FROM base GROUP BY 1)
      CROSS JOIN tot
    ), len_hist AS (
      SELECT 'len_hist' AS section,
             'bin_' || CAST(b AS VARCHAR) AS metric,
             CAST(count(*) AS DOUBLE) AS value
      FROM (SELECT least(CAST(floor(nch * 10 / (maxch + 1)) AS INT), 9)
              AS b FROM base CROSS JOIN tot)
      GROUP BY b
    ), dedup_s AS (
      SELECT 'dedup' AS section, 'exact_dup_rate' AS metric,
             round(CAST(n - nd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS value
      FROM tot
    ), wsh AS (
      SELECT id, (id % 97 = 0) AS ev,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x != '') AS words
      FROM base
    ), grams AS MATERIALIZED (
      SELECT DISTINCT id, ev, g FROM (
        SELECT id, ev, unnest(CASE WHEN len(words) >= 8 THEN
          list_transform(range(1, len(words) - 6),
            i -> array_to_string(list_slice(words, i, i + 7), ' '))
          ELSE [] END) AS g
        FROM wsh)
    ), evg AS (
      SELECT DISTINCT g FROM grams WHERE ev
    ), contn AS (
      SELECT CAST(count(DISTINCT gr.id) AS BIGINT) AS nc
      FROM grams gr JOIN evg ON evg.g = gr.g WHERE NOT gr.ev
    ), splits AS (
      SELECT CAST(sum(CASE WHEN id % 97 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS ne,
             CAST(sum(CASE WHEN id % 97 = 0 THEN 0 ELSE 1 END)
               AS BIGINT) AS nt
      FROM base
    ), cont_s AS (
      SELECT 'contamination' AS section, 'n_eval_docs' AS metric,
             CAST(ne AS DOUBLE) AS value FROM splits
      UNION ALL SELECT 'contamination', 'n_train_docs',
        CAST(nt AS DOUBLE) FROM splits
      UNION ALL SELECT 'contamination', 'contaminated_rate',
        round(CAST(nc AS DOUBLE) / CAST(greatest(nt, 1) AS DOUBLE), 6)
      FROM contn CROSS JOIN splits
    ), hl AS (
      SELECT (id % 2 = 0) AS ha,
             least(CAST(floor(nch * 10 / (maxch + 1)) AS INT), 9) AS b,
             count(*) AS c
      FROM base CROSS JOIN tot GROUP BY 1, 2
    ), hw AS (
      SELECT b,
        CAST(sum(CASE WHEN ha THEN c ELSE 0 END) AS BIGINT) AS ca,
        CAST(sum(CASE WHEN NOT ha THEN c ELSE 0 END) AS BIGINT) AS cb
      FROM hl GROUP BY b
    ), hn AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM hw
    ), psi_terms AS (
      SELECT CAST(round((pa - pb) * ln(pa / pb), 6)
               AS DECIMAL(18,6)) AS t
      FROM (SELECT
              (CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0)
                AS pa,
              (CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0)
                AS pb
            FROM hw CROSS JOIN hn)
    ), psi_s AS (
      SELECT 'drift' AS section, 'psi_length' AS metric,
             round(CAST(sum(t) AS DOUBLE), 6) AS value FROM psi_terms
    ), lcl AS (
      SELECT (id % 2 = 0) AS ha, lang AS lg, count(*) AS c
      FROM base GROUP BY 1, 2
    ), lww AS (
      SELECT lg,
        CAST(sum(CASE WHEN ha THEN c ELSE 0 END) AS BIGINT) AS ca,
        CAST(sum(CASE WHEN NOT ha THEN c ELSE 0 END) AS BIGINT) AS cb
      FROM lcl GROUP BY lg
    ), ltot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM lww
    ), chi_terms AS (
      SELECT CAST(round(
        CASE WHEN ea > 0 AND eb > 0 THEN
          (CAST(ca AS DOUBLE) - ea) * (CAST(ca AS DOUBLE) - ea) / ea
          + (CAST(cb AS DOUBLE) - eb) * (CAST(cb AS DOUBLE) - eb) / eb
        ELSE 0.0 END,
        6) AS DECIMAL(18,6)) AS t
      FROM (SELECT ca, cb,
              CAST(na AS DOUBLE) * (CAST(ca + cb AS DOUBLE)
                / CAST(na + nb AS DOUBLE)) AS ea,
              CAST(nb AS DOUBLE) * (CAST(ca + cb AS DOUBLE)
                / CAST(na + nb AS DOUBLE)) AS eb
            FROM lww CROSS JOIN ltot)
    ), chi_s AS (
      SELECT 'drift' AS section, 'chi2_lang' AS metric,
             round(CAST(sum(t) AS DOUBLE), 6) AS value FROM chi_terms
    )
    SELECT * FROM corpus_s
    UNION ALL SELECT * FROM lang_mix
    UNION ALL SELECT * FROM source_mix
    UNION ALL SELECT * FROM len_hist
    UNION ALL SELECT * FROM dedup_s
    UNION ALL SELECT * FROM cont_s
    UNION ALL SELECT * FROM psi_s
    UNION ALL SELECT * FROM chi_s
"""


ORACLES["streaming_upsert"] = """
    WITH ch AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
             CAST(o_orderkey % 2 AS INT) AS b
      FROM orders
    ), w AS (
      SELECT o_custkey, o_orderkey, o_totalprice, op,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY b DESC, o_orderkey DESC) AS rn
      FROM ch
    )
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM w WHERE rn = 1 AND op != 'D'
"""


ORACLES["msprt_monitor"] = """
    WITH e AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS cp,
             CAST(o_custkey % 2 AS VARCHAR) AS v,
             (o_orderkey % 3 = 0
              OR (o_custkey % 2 = 1 AND o_orderkey % 7 = 0)) AS c
      FROM orders
    ), per AS (
      SELECT cp, v, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM e GROUP BY 1, 2
    ), wide AS (
      SELECT cp,
        CAST(sum(CASE WHEN v = '0' THEN n END) AS BIGINT) AS dna,
        CAST(sum(CASE WHEN v = '0' THEN conv END) AS BIGINT) AS dca,
        CAST(sum(CASE WHEN v = '1' THEN n END) AS BIGINT) AS dnb,
        CAST(sum(CASE WHEN v = '1' THEN conv END) AS BIGINT) AS dcb
      FROM per GROUP BY cp
    ), cum AS (
      SELECT cp,
        CAST(sum(COALESCE(dna, 0)) OVER w AS BIGINT) AS na,
        CAST(sum(COALESCE(dca, 0)) OVER w AS BIGINT) AS ca,
        CAST(sum(COALESCE(dnb, 0)) OVER w AS BIGINT) AS nb,
        CAST(sum(COALESCE(dcb, 0)) OVER w AS BIGINT) AS cb
      FROM wide
      WINDOW w AS (ORDER BY cp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), st AS (
      SELECT cp, na, nb, ca, cb,
        CASE WHEN na > 0 AND nb > 0 THEN
          CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
          - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) END AS delta,
        CASE WHEN na > 0 AND nb > 0 THEN
          ((CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
           / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
          * (1.0 - (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
          * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
        END AS vn
      FROM cum
    ), lam AS (
      SELECT cp, na, nb, ca, cb, delta,
        CASE WHEN vn IS NOT NULL AND vn > 0 THEN
          0.5 * ln(vn / (vn + 0.01))
          + ((delta * delta) * 0.01) / (2.0 * vn * (vn + 0.01))
        END AS loglam
      FROM st
    ), pm AS (
      SELECT cp, na, nb, ca, cb, delta, loglam,
        CASE WHEN loglam IS NOT NULL THEN
          least(1.0, exp(-loglam)) END AS p_m
      FROM lam
    ), run AS (
      SELECT cp, na, nb, ca, cb, delta, loglam,
        min(p_m) OVER (ORDER BY cp
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pav
      FROM pm
    )
    SELECT cp AS checkpoint,
           na AS n_a, nb AS n_b, ca AS conv_a, cb AS conv_b,
           round(delta, 6) AS delta,
           round(loglam, 6) AS log_lambda,
           round(pav, 6) AS p_always_valid,
           CASE WHEN pav IS NOT NULL THEN pav <= 0.05 END AS significant
    FROM run
"""

ORACLES["eb_shrunk_rates"] = """
    WITH per AS (
      SELECT o_custkey AS g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM orders GROUP BY 1
    ), per3 AS (
      SELECT g, n, conv,
             round(CAST(conv AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS raw_rate,
             CAST(round(round(CAST(conv AS DOUBLE) / CAST(n AS DOUBLE), 6)
                        * 1000000, 0) AS BIGINT) AS r6i
      FROM per
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(r6i) AS DOUBLE) AS s1d,
             CAST(sum(r6i * r6i) AS DOUBLE) AS s2d
      FROM per3
    ), pr AS (
      SELECT CASE WHEN ok THEN round(m * ab, 6) END AS alpha,
             CASE WHEN ok THEN round((1.0 - m) * ab, 6) END AS beta
      FROM (
        SELECT k, m, v, m * (1.0 - m) / v - 1.0 AS ab,
               (k >= 2 AND v > 0 AND v < m * (1.0 - m)
                AND (m * (1.0 - m) / v - 1.0) > 0) AS ok
        FROM (
          SELECT k,
                 s1d / (CAST(k AS DOUBLE) * 1000000.0) AS m,
                 s2d / (CAST(k AS DOUBLE) * 1000000.0 * 1000000.0)
                 - (s1d / (CAST(k AS DOUBLE) * 1000000.0))
                   * (s1d / (CAST(k AS DOUBLE) * 1000000.0)) AS v
          FROM mom))
    )
    SELECT per3.g AS o_custkey, n, conv, raw_rate,
      CASE WHEN alpha IS NOT NULL THEN
        round((CAST(conv AS DOUBLE) + alpha)
              / (CAST(n AS DOUBLE) + alpha + beta), 6)
      ELSE raw_rate END AS shrunk_rate,
      alpha, beta
    FROM per3 CROSS JOIN pr
"""


def _r10_hw_oracle() -> str:
    """Recursive-CTE replay of the exact integer-micro Holt-Winters
    recurrence (operators/forecast.py::hw_recurrence): state rides
    as (l, b, s1..s7) HUGEINT columns; each recursive step textually
    expands the HALF_UP /1e6 requantization (integer arithmetic, so
    the duplicated l_new sub-expression is exact)."""

    def d6(x: str) -> str:
        return (
            f"(CASE WHEN ({x}) >= 0 THEN (({x}) + 500000) // 1000000 "
            f"ELSE -((-({x}) + 500000) // 1000000) END)"
        )

    def d7(x: str) -> str:
        return (
            f"(CASE WHEN ({x}) >= 0 THEN (({x}) + 3) // 7 "
            f"ELSE -((-({x}) + 3) // 7) END)"
        )

    a = "CAST(300000 AS HUGEINT)"
    na = "CAST(700000 AS HUGEINT)"
    bb = "CAST(100000 AS HUGEINT)"
    nb = "CAST(900000 AS HUGEINT)"
    gg = "CAST(300000 AS HUGEINT)"
    ng = "CAST(700000 AS HUGEINT)"
    l_new = d6(f"{a} * (gr.y6 - st.s1) + {na} * (st.l + st.b)")
    b_new = d6(f"{bb} * ({l_new} - st.l) + {nb} * st.b")
    s_new = d6(f"{gg} * (gr.y6 - {l_new}) + {ng} * st.s1")
    ycols = ", ".join(
        f"MAX(CASE WHEN t = {i} THEN y6 END) AS y{i}" for i in range(1, 8)
    )
    scols = ", ".join(f"y{i} - mean1 AS s{i}" for i in range(1, 8))
    scase = " ".join(
        f"WHEN {h} THEN s{h + 1}" for h in range(0, 7)
    )
    return f"""
    WITH RECURSIVE maxd AS (
      SELECT max(CAST(o_orderdate AS DATE)) AS d1 FROM orders
    ), daily AS MATERIALIZED (
      SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 1000000
                  AS HUGEINT) AS y6
      FROM orders CROSS JOIN maxd
      WHERE CAST(o_orderdate AS DATE) >= d1 - CAST(111 AS INT)
      GROUP BY 1, 2
    ), grid AS MATERIALIZED (
      SELECT base.g, base.t, base.d,
             COALESCE(v.y6, CAST(0 AS HUGEINT)) AS y6
      FROM (
        SELECT gs.g, ds.t, ds.d
        FROM (SELECT DISTINCT g FROM daily) gs
        CROSS JOIN (SELECT t, (SELECT d1 FROM maxd)
                      - CAST(112 - t AS INT) AS d
                    FROM (SELECT CAST(unnest(range(1, 113)) AS INT) AS t)) ds
      ) base
      LEFT JOIN daily v ON v.g = base.g AND v.d = base.d
    ), init AS MATERIALIZED (
      SELECT g, mean1 AS l0, {d7("mean2 - mean1")} AS b0, {scols}
      FROM (
        SELECT g, {d7("sum1")} AS mean1, {d7("sum2")} AS mean2,
               y1, y2, y3, y4, y5, y6c AS y6, y7
        FROM (
          SELECT g, {ycols.replace("MAX(CASE WHEN t = 6 THEN y6 END) AS y6",
                                   "MAX(CASE WHEN t = 6 THEN y6 END) AS y6c")},
                 SUM(CASE WHEN t BETWEEN 1 AND 7 THEN y6 END) AS sum1,
                 SUM(CASE WHEN t BETWEEN 8 AND 14 THEN y6 END) AS sum2
          FROM grid GROUP BY g))
    ), step AS (
      SELECT g, 7 AS t, l0 AS l, b0 AS b, s1, s2, s3, s4, s5, s6, s7,
             CAST(NULL AS HUGEINT) AS yhat6, CAST(NULL AS HUGEINT) AS yobs6
      FROM init
      UNION ALL
      SELECT st.g, st.t + 1, {l_new}, {b_new},
             st.s2, st.s3, st.s4, st.s5, st.s6, st.s7, {s_new},
             st.l + st.b + st.s1, gr.y6
      FROM step st JOIN grid gr ON gr.g = st.g AND gr.t = st.t + 1
    ), fitted AS (
      SELECT g, t, yobs6, yhat6 FROM step WHERE t >= 8
    ), last AS (
      SELECT * FROM step WHERE t = 112
    ), fc AS (
      SELECT g, 112 + h AS t, CAST(NULL AS HUGEINT) AS yobs6,
             l + CAST(h AS HUGEINT) * b
               + (CASE (h - 1) % 7 {scase} END) AS yhat6
      FROM last CROSS JOIN (SELECT unnest(range(1, 15)) AS h)
    ), allrows AS (
      SELECT * FROM fitted UNION ALL SELECT * FROM fc
    )
    SELECT g AS o_orderpriority,
           (SELECT d1 FROM maxd) - CAST(112 - t AS INT) AS day,
           CAST(yobs6 AS DOUBLE) / 1000000.0 AS y,
           CAST(yhat6 AS DOUBLE) / 1000000.0 AS yhat
    FROM allrows
    """


ORACLES["holt_winters"] = _r10_hw_oracle()


def _r10_cusum_oracle() -> str:
    """Recursive-CTE replay of the exact integer CUSUM recurrence
    (operators/forecast.py::cusum_monitor) — the holt_winters
    oracle discipline with a 2-column state."""

    def dn(x: str, n: int) -> str:
        h = n // 2
        return (
            f"(CASE WHEN ({x}) >= 0 THEN (({x}) + {h}) // {n} "
            f"ELSE -((-({x}) + {h}) // {n}) END)"
        )

    z = "CAST(0 AS HUGEINT)"
    spp = f"greatest({z}, st.sp + (gr.y6 - st.mu - st.k6))"
    snp = f"greatest({z}, st.sn + (st.mu - gr.y6 - st.k6))"
    al = f"({spp} > st.h6 OR {snp} > st.h6)"
    return f"""
    WITH RECURSIVE maxd AS (
      SELECT max(CAST(o_orderdate AS DATE)) AS d1 FROM orders
    ), daily AS MATERIALIZED (
      SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 1000000
                  AS HUGEINT) AS y6
      FROM orders CROSS JOIN maxd
      WHERE CAST(o_orderdate AS DATE) >= d1 - CAST(111 AS INT)
      GROUP BY 1, 2
    ), grid AS MATERIALIZED (
      SELECT base.g, base.t, base.d,
             COALESCE(v.y6, {z}) AS y6
      FROM (
        SELECT gs.g, ds.t, ds.d
        FROM (SELECT DISTINCT g FROM daily) gs
        CROSS JOIN (SELECT t, (SELECT d1 FROM maxd)
                      - CAST(112 - t AS INT) AS d
                    FROM (SELECT CAST(unnest(range(1, 113)) AS INT)
                          AS t)) ds
      ) base
      LEFT JOIN daily v ON v.g = base.g AND v.d = base.d
    ), init AS MATERIALIZED (
      SELECT g, mu, {dn("mu", 20)} AS k6, {dn("mu", 2)} AS h6
      FROM (
        SELECT g, {dn("SUM(CASE WHEN t BETWEEN 1 AND 28 THEN y6 END)", 28)}
          AS mu
        FROM grid GROUP BY g)
    ), step AS (
      SELECT g, 28 AS t, mu, k6, h6, {z} AS sp, {z} AS sn,
             CAST(NULL AS HUGEINT) AS spo, CAST(NULL AS HUGEINT) AS sno,
             CAST(NULL AS HUGEINT) AS yobs6, CAST(NULL AS BOOLEAN) AS alarm
      FROM init
      UNION ALL
      SELECT st.g, st.t + 1, st.mu, st.k6, st.h6,
             CASE WHEN {al} THEN {z} ELSE {spp} END,
             CASE WHEN {al} THEN {z} ELSE {snp} END,
             {spp}, {snp}, gr.y6, {al}
      FROM step st JOIN grid gr ON gr.g = st.g AND gr.t = st.t + 1
    )
    SELECT g AS o_orderpriority,
           (SELECT d1 FROM maxd) - CAST(112 - t AS INT) AS day,
           CAST(yobs6 AS DOUBLE) / 1000000.0 AS y,
           CAST(spo AS DOUBLE) / 1000000.0 AS s_pos,
           CAST(sno AS DOUBLE) / 1000000.0 AS s_neg,
           alarm
    FROM step WHERE t >= 29
    """


ORACLES["cusum_monitor"] = _r10_cusum_oracle()


ORACLES["quantile_ci"] = """
    WITH base AS (
      SELECT c_mktsegment, CAST(c_acctbal AS DOUBLE) AS v
      FROM customer WHERE c_acctbal IS NOT NULL
    ), r AS (
      SELECT c_mktsegment, v,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY v)
               AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM base
    ), m AS (
      SELECT c_mktsegment, rn, n, v,
        (n * 1 + 1) // 2 AS r0,
        greatest(CAST(1 AS BIGINT),
          CAST(floor(CAST(n AS DOUBLE) * (1.0 / 2.0)
            - 1.959964 * sqrt((CAST(n AS DOUBLE) * (1.0 / 2.0))
                              * (1.0 - (1.0 / 2.0)))) AS BIGINT)) AS lo,
        least(CAST(n AS BIGINT),
          CAST(ceil(CAST(n AS DOUBLE) * (1.0 / 2.0)
            + 1.959964 * sqrt((CAST(n AS DOUBLE) * (1.0 / 2.0))
                              * (1.0 - (1.0 / 2.0)))) AS BIGINT) + 1)
          AS hi
      FROM r
    )
    SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN rn = r0 THEN v END) AS q_est,
           min(CASE WHEN rn = lo THEN v END) AS ci_lo,
           min(CASE WHEN rn = hi THEN v END) AS ci_hi
    FROM m GROUP BY c_mktsegment
"""


ORACLES["log_rank"] = """
    WITH first_ship AS (
      SELECT l_orderkey,
        CAST(min(epoch_us(l_shipdate) // 86400000000) AS BIGINT)
          AS ship_day
      FROM lineitem GROUP BY 1
    ), lat AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'high' ELSE 'low' END AS g,
        ship_day - CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
          AS latency
      FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    ), base AS MATERIALIZED (
      SELECT g, least(latency, 60) AS t,
             CASE WHEN latency <= 60 THEN 1 ELSE 0 END AS e
      FROM lat WHERE latency IS NOT NULL
    ), per_t AS (
      SELECT t,
        CAST(sum(CASE WHEN g = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS ra,
        CAST(sum(CASE WHEN g = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS rb,
        CAST(sum(CASE WHEN g = 'high' THEN e ELSE 0 END) AS BIGINT) AS da,
        CAST(sum(CASE WHEN g = 'low' THEN e ELSE 0 END) AS BIGINT) AS db
      FROM base GROUP BY t
    ), tot AS (
      SELECT
        CAST(sum(CASE WHEN g = 'high' THEN 1 ELSE 0 END) AS BIGINT)
          AS na_tot,
        CAST(sum(CASE WHEN g = 'low' THEN 1 ELSE 0 END) AS BIGINT)
          AS nb_tot
      FROM base
    ), risk AS (
      SELECT t, ra, rb, da, db, na_tot, nb_tot,
        na_tot - COALESCE(sum(ra) OVER w, 0) AS n1,
        nb_tot - COALESCE(sum(rb) OVER w, 0) AS n2
      FROM per_t CROSS JOIN tot
      WINDOW w AS (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), terms AS (
      SELECT
        CAST(round(CAST(da AS DOUBLE)
          - (CAST(da AS DOUBLE) + CAST(db AS DOUBLE))
            * (CAST(n1 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 6)
          AS DECIMAL(18,6)) AS oe,
        CAST(round(CASE WHEN
            (CAST(da AS DOUBLE) + CAST(db AS DOUBLE)) > 0
            AND (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) > 1
          THEN (CAST(da AS DOUBLE) + CAST(db AS DOUBLE))
            * (CAST(n1 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
            * (1.0 - CAST(n1 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
            * (((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                - (CAST(da AS DOUBLE) + CAST(db AS DOUBLE)))
               / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0))
          ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS vv,
        da, db
      FROM risk WHERE da + db > 0
    ), agg AS (
      SELECT
        CAST(sum(da) AS BIGINT) AS events_a,
        CAST(sum(db) AS BIGINT) AS events_b,
        CAST(sum(oe) AS DOUBLE) AS oe_sum,
        CAST(sum(vv) AS DOUBLE) AS v_sum
      FROM terms
    )
    SELECT 'high' AS group_a, 'low' AS group_b,
      (SELECT na_tot FROM tot) AS n_a,
      (SELECT nb_tot FROM tot) AS n_b,
      events_a, events_b,
      round(oe_sum, 6) AS o_minus_e,
      round(v_sum, 6) AS variance,
      CASE WHEN v_sum > 0
           THEN round(oe_sum * oe_sum / v_sum, 6) END AS chi2,
      CASE WHEN v_sum > 0
           THEN round(oe_sum / sqrt(v_sum), 6) END AS z
    FROM agg
"""

ORACLES["cmh_stratified"] = """
    WITH e AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS s,
             CAST(o_custkey % 2 AS VARCHAR) AS v,
             (o_orderkey % 3 = 0
              OR (o_custkey % 2 = 1 AND o_orderkey % 7 = 0)) AS c
      FROM orders
    ), cells AS (
      SELECT s,
        CAST(sum(CASE WHEN v = '0' AND c THEN 1 ELSE 0 END) AS BIGINT)
          AS a,
        CAST(sum(CASE WHEN v = '0' AND NOT c THEN 1 ELSE 0 END)
          AS BIGINT) AS b,
        CAST(sum(CASE WHEN v = '1' AND c THEN 1 ELSE 0 END) AS BIGINT)
          AS cc,
        CAST(sum(CASE WHEN v = '1' AND NOT c THEN 1 ELSE 0 END)
          AS BIGINT) AS d
      FROM e GROUP BY s
    ), terms AS (
      SELECT
        CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
          / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
             + CAST(cc AS DOUBLE) + CAST(d AS DOUBLE)), 6)
          AS DECIMAL(18,6)) AS num,
        CAST(round(CAST(b AS DOUBLE) * CAST(cc AS DOUBLE)
          / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
             + CAST(cc AS DOUBLE) + CAST(d AS DOUBLE)), 6)
          AS DECIMAL(18,6)) AS den,
        CAST(round(CAST(a AS DOUBLE)
          - (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
            * (CAST(a AS DOUBLE) + CAST(cc AS DOUBLE))
            / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
               + CAST(cc AS DOUBLE) + CAST(d AS DOUBLE)), 6)
          AS DECIMAL(18,6)) AS oe,
        CAST(round(CASE WHEN
            (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
             + CAST(cc AS DOUBLE) + CAST(d AS DOUBLE)) > 1
          THEN (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
            * (CAST(cc AS DOUBLE) + CAST(d AS DOUBLE))
            * (CAST(a AS DOUBLE) + CAST(cc AS DOUBLE))
            * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))
            / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                + CAST(cc AS DOUBLE) + CAST(d AS DOUBLE))
               * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                  + CAST(cc AS DOUBLE) + CAST(d AS DOUBLE))
               * ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                   + CAST(cc AS DOUBLE) + CAST(d AS DOUBLE)) - 1.0))
          ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS vv,
        a AS ai, cc AS ci, a + b AS nai, cc + d AS nbi
      FROM cells WHERE a + b > 0 AND cc + d > 0
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
        CAST(sum(nai) AS BIGINT) AS n_a,
        CAST(sum(nbi) AS BIGINT) AS n_b,
        CAST(sum(ai) AS BIGINT) AS conv_a,
        CAST(sum(ci) AS BIGINT) AS conv_b,
        CAST(sum(num) AS DOUBLE) AS num_s,
        CAST(sum(den) AS DOUBLE) AS den_s,
        CAST(sum(oe) AS DOUBLE) AS oe_s,
        CAST(sum(vv) AS DOUBLE) AS v_s
      FROM terms
    )
    SELECT '0' AS variant_a, '1' AS variant_b,
      n_strata, n_a, n_b, conv_a, conv_b,
      CASE WHEN den_s > 0 THEN round(num_s / den_s, 6) END AS or_mh,
      CASE WHEN v_s > 0 THEN round(oe_s * oe_s / v_s, 6) END AS chi2
    FROM agg
"""


ORACLES["streaming_cusum"] = """
    WITH v AS (
      SELECT event_type AS key, event_id AS id, value,
        CAST(CASE WHEN value * 1000000 >= 0
             THEN floor(value * 1000000 + 0.5)
             ELSE -floor(-(value * 1000000) + 0.5) END AS BIGINT)
          AS v6,
        CAST(event_id % 2 AS INT) AS b
      FROM events
    ), c AS (
      SELECT key, id, value, b,
        sum(v6 - 50000000 - 5000000) OVER w AS cp,
        sum(50000000 - v6 - 5000000) OVER w AS cn
      FROM v
      WINDOW w AS (PARTITION BY key ORDER BY b, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), m AS (
      SELECT key, id, value, b,
        CAST(cp - least(CAST(0 AS HUGEINT), min(cp) OVER w2)
          AS BIGINT) AS s_pos6,
        CAST(cn - least(CAST(0 AS HUGEINT), min(cn) OVER w2)
          AS BIGINT) AS s_neg6
      FROM c
      WINDOW w2 AS (PARTITION BY key ORDER BY b, id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT key, CAST(id AS BIGINT) AS id, value, s_pos6, s_neg6,
           (s_pos6 > 500000000 OR s_neg6 > 500000000) AS alarm
    FROM m
"""


ORACLES["yuen_test"] = """
    WITH base AS (
      SELECT CAST(o_custkey % 2 AS VARCHAR) AS g,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000
                  AS BIGINT) AS v6
      FROM orders
    ), ranked AS (
      SELECT g, v6,
        row_number() OVER (PARTITION BY g ORDER BY v6) AS rn,
        count(*) OVER (PARTITION BY g) AS n
      FROM base
    ), r2 AS (
      SELECT g, v6, rn, n, (n * 1) // 5 AS gg FROM ranked
    ), per AS (
      SELECT g,
        CAST(max(n) AS BIGINT) AS n,
        CAST(max(gg) AS BIGINT) AS gg,
        CAST(min(CASE WHEN rn = gg + 1 THEN v6 END) AS BIGINT) AS lo6,
        CAST(min(CASE WHEN rn = n - gg THEN v6 END) AS BIGINT) AS hi6,
        sum(CASE WHEN rn > gg AND rn <= n - gg
                 THEN CAST(v6 AS HUGEINT) END) AS sk,
        sum(CASE WHEN rn > gg AND rn <= n - gg
                 THEN CAST(v6 AS HUGEINT) * CAST(v6 AS HUGEINT) END)
          AS skk
      FROM r2 GROUP BY g
    ), stats AS (
      SELECT g, n, n - 2 * gg AS h,
        CAST(sk AS DOUBLE)
          / (CAST(n - 2 * gg AS DOUBLE) * 1000000.0) AS tmean,
        sk + CAST(gg AS HUGEINT) * CAST(lo6 AS HUGEINT)
           + CAST(gg AS HUGEINT) * CAST(hi6 AS HUGEINT) AS sw,
        skk + CAST(gg AS HUGEINT)
                * (CAST(lo6 AS HUGEINT) * CAST(lo6 AS HUGEINT))
            + CAST(gg AS HUGEINT)
                * (CAST(hi6 AS HUGEINT) * CAST(hi6 AS HUGEINT)) AS sww
      FROM per
    ), st2 AS (
      SELECT g, n, h, tmean,
        (CAST(sww AS DOUBLE)
         - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(h AS DOUBLE) * (CAST(h AS DOUBLE) - 1.0))
        / 1000000000000.0 AS d
      FROM stats
    ), agg AS (
      SELECT
        max(CASE WHEN g = '0' THEN n END) AS n_a,
        max(CASE WHEN g = '1' THEN n END) AS n_b,
        max(CASE WHEN g = '0' THEN h END) AS h_a,
        max(CASE WHEN g = '1' THEN h END) AS h_b,
        max(CASE WHEN g = '0' THEN tmean END) AS tma,
        max(CASE WHEN g = '1' THEN tmean END) AS tmb,
        max(CASE WHEN g = '0' THEN d END) AS da,
        max(CASE WHEN g = '1' THEN d END) AS db
      FROM st2
    )
    SELECT '0' AS group_a, '1' AS group_b,
      CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      CAST(h_a AS BIGINT) AS h_a, CAST(h_b AS BIGINT) AS h_b,
      round(tma, 6) AS tmean_a,
      round(tmb, 6) AS tmean_b,
      round(tma - tmb, 6) AS diff,
      CASE WHEN da + db > 0 AND h_a > 1 AND h_b > 1
           THEN round(sqrt(da + db), 6) END AS se,
      CASE WHEN da + db > 0 AND h_a > 1 AND h_b > 1
           THEN round((tma - tmb) / sqrt(da + db), 6) END AS t,
      CASE WHEN da + db > 0 AND h_a > 1 AND h_b > 1
           THEN round((da + db) * (da + db)
             / (da * da / (CAST(h_a AS DOUBLE) - 1.0)
                + db * db / (CAST(h_b AS DOUBLE) - 1.0)), 6) END AS df
    FROM agg
"""


def _r10_fertility_oracle() -> str:
    """Compose the two committed frozen-tokenizer oracles as CTE
    bodies (nested WITH is legal) and aggregate per language."""
    u = ORACLES["unigram_stats_frozen"]
    b = ORACLES["bpe_stats_frozen"]
    return f"""
    WITH u AS MATERIALIZED ({u}),
    bp AS MATERIALIZED ({b}),
    j AS (
      SELECT d.lang, u.n_pieces AS u_pieces,
             u.chars_per_piece AS u_cpp,
             bp.n_bpe_tokens AS b_tokens,
             bp.chars_per_token AS b_cpt
      FROM documents d
      JOIN u ON u.doc_id = d.doc_id
      JOIN bp ON bp.doc_id = d.doc_id
    )
    SELECT lang,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(u_pieces) AS BIGINT) AS unigram_pieces,
      CAST(sum(b_tokens) AS BIGINT) AS bpe_tokens,
      round(CAST(sum(CAST(u_cpp AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS unigram_chars_per_piece,
      round(CAST(sum(CAST(b_cpt AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS bpe_chars_per_token
    FROM j GROUP BY lang
    """


ORACLES["tokenizer_fertility"] = _r10_fertility_oracle()


def _r10_unigram_packing_oracle() -> str:
    u = ORACLES["unigram_stats_frozen"]
    return f"""
    WITH u AS MATERIALIZED ({u}),
    t AS (
      SELECT d.doc_id, d.lang, u.n_pieces
      FROM documents d JOIN u ON u.doc_id = d.doc_id
    ), c AS (
      SELECT doc_id, lang, n_pieces,
        SUM(n_pieces) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_pieces,
      CAST((cum - n_pieces) // 2048 AS BIGINT) AS start_chunk,
      CAST(GREATEST(cum - 1, cum - n_pieces) // 2048 AS BIGINT)
        AS end_chunk,
      CAST((cum - n_pieces) % 2048 AS BIGINT) AS chunk_offset
    FROM c
    """


ORACLES["unigram_packing"] = _r10_unigram_packing_oracle()


def _r10_isotonic_oracle() -> str:
    """PAV via the minimax identity over the bounded bin frame —
    joins over exact integer prefix sums (see
    report/evaluation.py::isotonic_calibration); scores/teacher
    spliced from the proven frozen replays."""
    teacher = """
      SELECT doc_id,
        CASE WHEN
          CAST(len(list_filter(
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x != ''),
                 t -> lower(t) IN
                   ('the','a','an','and','or','of','to','in','is','it')))
               AS DOUBLE)
          / GREATEST(len(list_filter(
                 regexp_split_to_array(trim(text), '\\s+'),
                 x -> x != '')), 1)
          >= CAST(0.060976 AS DOUBLE)
        THEN 1 ELSE 0 END AS y
      FROM documents
    """
    return f"""
    WITH p AS ( {ORACLES["quality_classifier_scores"]} ),
    l AS ( {teacher} ),
    b AS (
      SELECT least(49, CAST(floor(round(p.quality_score, 6)
                                  * CAST(50 AS DOUBLE)) AS INTEGER))
               AS bin,
             l.y
      FROM p JOIN l USING (doc_id)
      WHERE p.quality_score IS NOT NULL
    ), bins AS MATERIALIZED (
      SELECT bin, CAST(count(*) AS BIGINT) AS w,
             CAST(sum(y) AS BIGINT) AS s
      FROM b GROUP BY 1
    ), pre AS MATERIALIZED (
      SELECT bin, w, s,
        sum(w) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cw,
        sum(s) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cs
      FROM bins
    ), ranges AS MATERIALIZED (
      SELECT lo.i, hi.j,
        CAST(hi.cs1 - lo.cs0 AS DOUBLE)
          / CAST(hi.cw1 - lo.cw0 AS DOUBLE) AS a
      FROM (SELECT bin AS i, cw - w AS cw0, cs - s AS cs0 FROM pre) lo
      JOIN (SELECT bin AS j, cw AS cw1, cs AS cs1 FROM pre) hi
        ON lo.i <= hi.j
    ), inner1 AS (
      SELECT k.bin AS k, r.i, min(r.a) AS m
      FROM ranges r
      JOIN (SELECT bin FROM bins) k
        ON r.i <= k.bin AND k.bin <= r.j
      GROUP BY 1, 2
    ), iso AS (
      SELECT k, max(m) AS iso FROM inner1 GROUP BY 1
    )
    SELECT b2.bin, b2.w AS n,
      round(CAST(b2.s AS DOUBLE) / CAST(b2.w AS DOUBLE), 6)
        AS rate_raw,
      round(iso.iso, 6) AS rate_iso
    FROM bins b2 JOIN iso ON iso.k = b2.bin
    """


ORACLES["isotonic_quality"] = _r10_isotonic_oracle()


# ---------------------------------------------------------------------------
# r11: DoReMi-lite domain-mixture reweighting
# ---------------------------------------------------------------------------

_DOREMI_ETA = "2.0"
_DOREMI_SMOOTH = 0.02
_DOREMI_ITER = 8


def _doremi_loss_cols(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc (proxy, reference) loss pair for the
    battery: proxy = ln(n_chars) (a length-compression proxy for
    bits-per-doc), reference = ln(280 + doc_id % 40) (a varied
    baseline so the per-example clipping path is exercised — some
    docs in every domain land below their reference). Any real loss
    pair (e.g. KN-trigram vs add-alpha perplexities from
    operators/lm_filter.py) plugs into the same columns."""
    return docs.select(
        "source",
        F.log(F.col("n_chars").cast("double")).alias("loss"),
        F.log(
            F.lit(280.0) + (F.col("doc_id") % 40).cast("double")
        ).alias("ref_loss"),
    )


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-lite domain reweighting (r11,
    operators/doremi.py::doremi_weights — Xie et al. 2023): K=8
    smoothed Group-DRO multiplicative updates over the per-source
    clipped excess-loss signal, entirely in integer micro space
    after one map-side-combined groupBy, so the whole chain replays
    as textually-expanded SQL CTEs. Domains whose proxy loss is
    furthest above the reference end up with the largest mixture
    weight (learning-headroom-first token budgeting)."""
    _prep(spark)
    from .operators.doremi import doremi_weights

    docs = load_table(spark, sf_dir, "documents")
    return doremi_weights(
        _doremi_loss_cols(docs),
        "source",
        "loss",
        "ref_loss",
        eta=float(_DOREMI_ETA),
        smoothing=_DOREMI_SMOOTH,
        n_iter=_DOREMI_ITER,
    )


def _doremi_oracle(
    n_iter: int = _DOREMI_ITER,
    eta: str = _DOREMI_ETA,
    smoothing: float = _DOREMI_SMOOTH,
    scale: int = 1_000_000,
) -> str:
    c6 = int(round(smoothing * scale))
    prev = "i0"
    iters = ""
    for t in range(1, n_iter + 1):
        iters += f""",
    p{t} AS (
      SELECT domain, n_docs, e6, m6,
        CAST((a6 * m6) // {scale} AS HUGEINT) AS ap
      FROM {prev}
    ),
    i{t} AS (
      SELECT domain, n_docs, e6, m6,
        CAST((({scale} - {c6}) * ((ap * {scale}) // (SUM(ap) OVER ())))
             // {scale} + {c6} // (COUNT(*) OVER ()) AS HUGEINT) AS a6
      FROM p{t}
    )"""
        prev = f"i{t}"
    return f"""
    WITH per AS (
      SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
        CAST((2 * CAST(sum(CAST(
          greatest(
            CAST(round(ln(CAST(n_chars AS DOUBLE)), 6) AS DECIMAL(18,6))
            - CAST(round(ln(280.0 + CAST(doc_id % 40 AS DOUBLE)), 6)
                   AS DECIMAL(18,6)),
            CAST('0' AS DECIMAL(18,6)))
          * {scale} AS BIGINT)) AS HUGEINT)
          + count(*)) // (2 * count(*)) AS BIGINT) AS e6
      FROM documents GROUP BY 1
    ), m AS (
      SELECT domain, n_docs, e6,
        CAST(CAST(round(exp({eta} * CAST(e6 AS DOUBLE) / {scale}.0), 6)
             AS DECIMAL(18,6)) * {scale} AS BIGINT) AS m6
      FROM per
    ), i0 AS (
      SELECT domain, n_docs, e6, m6,
        CAST({scale} // (SELECT count(*) FROM m) AS HUGEINT) AS a6
      FROM m
    ){iters}
    SELECT domain, n_docs,
      round(CAST(e6 AS DOUBLE) / {scale}.0, 6) AS excess_loss,
      round(CAST(m6 AS DOUBLE) / {scale}.0, 6) AS multiplier,
      round(CAST(a6 AS DOUBLE) / {scale}.0, 6) AS weight
    FROM {prev}
    """


ORACLES["doremi_weights"] = _doremi_oracle()

_DOREMI_BUDGET = 200


def q_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi weights FEEDING the deterministic mixture sampler
    (r11 composition, operators/doremi.py::doremi_targets →
    operators/sampling.py::sample_to_targets): the learned
    per-domain weights become integer row targets for a
    200-row budget, and membership is the content-addressed md5
    rule — the full optimizer→sampler chain replays bit-exactly in
    one oracle."""
    _prep(spark)
    from .operators.doremi import doremi_targets, doremi_weights
    from .operators.sampling import sample_to_targets

    docs = load_table(spark, sf_dir, "documents")
    w = doremi_weights(
        _doremi_loss_cols(docs),
        "source",
        "loss",
        "ref_loss",
        eta=float(_DOREMI_ETA),
        smoothing=_DOREMI_SMOOTH,
        n_iter=_DOREMI_ITER,
    )
    targets = doremi_targets(w, _DOREMI_BUDGET)
    kept = sample_to_targets(docs, "source", targets, key="doc_id", salt="doremi11")
    return kept.select("doc_id", "source")


def _doremi_mixture_oracle() -> str:
    chain = _doremi_oracle().strip()
    assert chain.startswith("WITH ") and "SELECT domain, n_docs," in chain
    with_part, _final = chain.rsplit("SELECT domain, n_docs,", 1)
    last = f"i{_DOREMI_ITER}"
    return f"""
    {with_part}
    , tgt AS (
      SELECT domain, n_docs AS cnt,
        CAST(({_DOREMI_BUDGET} * a6) // 1000000 AS BIGINT) AS tgt
      FROM {last}
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN tgt ON tgt.domain = d.source
    WHERE ('0x' || substr(md5('doremi11' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 100000000
          < CASE WHEN tgt.tgt <= 0 THEN 0 ELSE
              least(100000000,
                    greatest(1, (100000000 * least(tgt.tgt, tgt.cnt)) // tgt.cnt))
            END
    """


ORACLES["doremi_mixture"] = _doremi_mixture_oracle()


def q_als_topk_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS frozen serving twin (r11,
    operators/recommend.py::als_topk_frozen — the tree_compile /
    _frozen.py precedent applied to ALS): the MLlib fit stays
    rows-only (`als_recommendations`), but top-k scoring over the
    frozen pilot-cohort factor tables is exact integer-micro dot
    products with the CURRENT-scale seen pairs anti-joined out and
    a deterministic tie-break — the serving path of a recommender,
    exact-oracled at every scale."""
    _prep(spark)
    from .operators.recommend import als_topk_frozen

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    inter = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select("o_custkey", "l_partkey")
    return als_topk_frozen(inter, "o_custkey", "l_partkey", top_k=5)


def _als_frozen_oracle(top_k: int = 5) -> str:
    """GENERATED from ``_frozen.ALS_MODEL`` (static per commit):
    VALUES factor tables in integer micro, exact BIGINT dot
    products, current-scale seen anti-join, rank-capped."""
    from ._frozen import ALS_MODEL as m

    rank = int(m["rank"])
    ucols = ", ".join(f"u{j}" for j in range(1, rank + 1))
    icols = ", ".join(f"i{j}" for j in range(1, rank + 1))
    uvals = ", ".join(
        "(" + ", ".join(
            [str(int(r[0]))] + [str(int(round(float(x) * 1e6))) for x in r[1:]]
        ) + ")"
        for r in m["users"]
    )
    ivals = ", ".join(
        "(" + ", ".join(
            [str(int(r[0]))] + [str(int(round(float(x) * 1e6))) for x in r[1:]]
        ) + ")"
        for r in m["items"]
    )
    dot = " + ".join(
        f"CAST(u{j} AS BIGINT) * i{j}" for j in range(1, rank + 1)
    )
    return f"""
    WITH uf(custkey, {ucols}) AS (VALUES {uvals}),
    itf(partkey, {icols}) AS (VALUES {ivals}),
    seen AS (
      SELECT DISTINCT CAST(o_custkey AS INT) AS custkey,
             CAST(l_partkey AS INT) AS partkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), sc AS (
      SELECT custkey, partkey, CAST({dot} AS BIGINT) AS s12
      FROM uf CROSS JOIN itf
    ), un AS (
      SELECT sc.custkey, sc.partkey, sc.s12
      FROM sc LEFT JOIN seen
        ON sc.custkey = seen.custkey AND sc.partkey = seen.partkey
      WHERE seen.custkey IS NULL
    ), rk AS (
      SELECT custkey, partkey, s12,
        row_number() OVER (
          PARTITION BY custkey ORDER BY s12 DESC, partkey ASC
        ) AS rec_rank
      FROM un
    )
    SELECT custkey, partkey,
      CAST(s12 AS DOUBLE) / 1000000000000.0 AS score,
      CAST(rec_rank AS INT) AS rec_rank
    FROM rk WHERE rec_rank <= {int(top_k)}
    """


ORACLES["als_topk_frozen"] = _als_frozen_oracle()


_KN5_PROBE = " kneser ney five gram zzqxj"


def q_lm_perplexity_kn5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-5 interpolated Kneser-Ney perplexity (r11, VERDICT r10
    #3, operators/lm_filter.py::train_kn_ngram — the real-CCNet
    KenLM order): per-order count-of-counts discounts, continuation
    counts from distinct (k+1)-gram types, and a top-order min-count
    PRUNE (c > 1) so the 5-gram frame stays shuffle-friendly —
    pruned grams fall through the interpolation, and the oracle
    replays the pruning exactly. The CCNet shape proper: the model
    trains on the TRUSTED slice (lang='en' — Wikipedia's role) and
    scores the whole corpus; the scoring input carries a planted OOV
    suffix so every backoff rung (5→4→3→2→1→unseen floor) is
    exercised and pinned."""
    _prep(spark)
    from .functions.text import words_az09
    from .operators.lm_filter import score_kn_ngram_perplexity, train_kn_ngram

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    # r13 (guide §2.4): training makes FIVE words_az09 regex passes
    # over the 'en' slice (top-order occ, two fused mid-type orders,
    # bigram types, vocabulary) — tokenize the slice ONCE into a
    # persisted words frame and point every training pass at the
    # cached arrays (identical tokens -> identical counts; the
    # scoring side keeps its own single pass because the probe text
    # differs). Cache: see skrub_spark.release.
    tok_train = (
        docs.where(F.col("lang") == "en")
        .select(words_az09("text").alias("__words"))
        .persist()
    )
    lm = train_kn_ngram(tok_train, n=5, prune=1, words_col="__words")
    probe = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(_KN5_PROBE)).alias("text")
    )
    scored = score_kn_ngram_perplexity(probe, lm)
    return scored.select(
        "doc_id",
        "n_ngrams",
        "avg_nll",
        (F.col("avg_nll").isNotNull() & (F.col("avg_nll") <= 3.5)).alias(
            "keep"
        ),
    )


def _kn_ngram_oracle(n: int = 5, prune: int = 1, probe: str = _KN5_PROBE) -> str:
    """GENERATED order-n KN oracle: rebuilds every count frame
    (top-order with the same prune, per-order continuation types,
    bigram types), the per-order count-of-counts discounts, and the
    fixed-parenthesization probability chain — mirroring
    score_kn_ngram_perplexity op for op."""

    def _join_words(lo: str, k: int) -> str:
        # words[lo] || ' ' || words[lo+1] ... (k words)
        return " || ' ' || ".join(f"words[{lo}+{j}]" for j in range(k))

    # top-order occurrence struct: c{k} = k-1 trailing ctx words
    packs = []
    for k in range(2, n + 1):
        packs.append(f"c{k} := {_join_words(f'i+{n - k}', k - 1)}")
    packs.append(f"x := words[i+{n - 1}]")
    topp = ", ".join(packs)
    ctx_cols = ", ".join(f"c{k}" for k in range(2, n + 1))
    dsc = (
        "round(CASE WHEN count(*) FILTER ({col} = 1)"
        " + 2 * count(*) FILTER ({col} = 2) > 0 THEN"
        " least(greatest(CAST(count(*) FILTER ({col} = 1) AS DOUBLE)"
        " / (count(*) FILTER ({col} = 1)"
        " + 2.0 * count(*) FILTER ({col} = 2)), 0.05), 0.95)"
        " ELSE 0.5 END, 6)"
    )
    ctes = [
        (
            "w AS MATERIALIZED (SELECT doc_id,"
            " list_filter(regexp_split_to_array(lower(text),"
            " '[^a-z0-9]+'), x -> x != '') AS words FROM documents"
            " WHERE lang = 'en')"
        ),
        (
            "pw AS MATERIALIZED (SELECT doc_id,"
            " list_filter(regexp_split_to_array(lower(text ||"
            f" '{probe}'), '[^a-z0-9]+'), x -> x != '') AS words"
            " FROM documents)"
        ),
        (
            f"tocc AS (SELECT unnest(CASE WHEN len(words) >= {n} THEN"
            f" list_transform(range(1, len(words) - {n - 2}),"
            f" i -> struct_pack({topp})) ELSE [] END) AS p FROM w)"
        ),
        (
            "tcf AS MATERIALIZED (SELECT "
            + ", ".join(f"p.c{k} AS c{k}" for k in range(2, n + 1))
            + ", p.x AS x, count(*) AS c FROM tocc GROUP BY "
            + ", ".join(str(i + 1) for i in range(n))
            + ")"
        ),
        (
            f"tc AS MATERIALIZED (SELECT c{n} AS ctx, x, c FROM tcf"
            f" WHERE c > {prune})"
        ),
        (
            "tctx AS MATERIALIZED (SELECT ctx, sum(c) AS c_ctx,"
            " count(*) AS n1p_ctx FROM tc GROUP BY 1)"
        ),
        (
            f"cont{n - 1} AS MATERIALIZED (SELECT c{n - 1} AS ctx, x,"
            " count(*) AS nc FROM tcf GROUP BY 1, 2)"
        ),
        (
            f"cctx{n - 1} AS MATERIALIZED (SELECT ctx, sum(nc) AS ncs,"
            f" count(*) AS n_after FROM cont{n - 1} GROUP BY 1)"
        ),
    ]
    for k in range(2, n - 1):
        g = k + 1
        ctes.append(
            f"ty{k} AS (SELECT DISTINCT p.a AS a, p.m AS ctx, p.x AS x"
            f" FROM (SELECT unnest(CASE WHEN len(words) >= {g} THEN"
            f" list_transform(range(1, len(words) - {g - 2}),"
            f" i -> struct_pack(a := words[i],"
            f" m := {_join_words('i+1', k - 1)},"
            f" x := words[i+{g - 1}])) ELSE [] END) AS p FROM w) q)"
        )
        ctes.append(
            f"cont{k} AS MATERIALIZED (SELECT ctx, x, count(*) AS nc"
            f" FROM ty{k} GROUP BY 1, 2)"
        )
        ctes.append(
            f"cctx{k} AS MATERIALIZED (SELECT ctx, sum(nc) AS ncs,"
            f" count(*) AS n_after FROM cont{k} GROUP BY 1)"
        )
    ctes += [
        (
            "bocc AS (SELECT unnest(CASE WHEN len(words) >= 2 THEN"
            " list_transform(range(1, len(words)),"
            " i -> struct_pack(a := words[i], b := words[i+1]))"
            " ELSE [] END) AS p FROM w)"
        ),
        "bt AS (SELECT DISTINCT p.a AS w1, p.b AS wb FROM bocc)",
        (
            "uc AS MATERIALIZED (SELECT wb AS wu, count(*) AS n1p"
            " FROM bt GROUP BY 1)"
        ),
    ]
    dlines = [
        "(SELECT CAST(sum(n1p) AS DOUBLE) FROM uc) AS t_types",
        "(SELECT CAST(count(*) AS DOUBLE) FROM uc) AS u_types",
        (
            "(SELECT CAST(count(DISTINCT x) AS DOUBLE) + 1.0"
            " FROM (SELECT unnest(words) AS x FROM w)) AS v"
        ),
        f"(SELECT {dsc.format(col='n1p')} FROM uc) AS d1",
        f"(SELECT {dsc.format(col='c')} FROM tc) AS d{n}",
    ]
    for k in range(2, n):
        dlines.append(f"(SELECT {dsc.format(col='nc')} FROM cont{k}) AS d{k}")
    ctes.append("sca AS MATERIALIZED (SELECT " + ", ".join(dlines) + ")")
    ctes.append(
        f"socc AS (SELECT doc_id, unnest(CASE WHEN len(words) >= {n}"
        f" THEN list_transform(range(1, len(words) - {n - 2}),"
        f" i -> struct_pack({topp})) ELSE [] END) AS p FROM pw)"
    )
    jsel = [
        "s.doc_id",
        "CAST(COALESCE(tc.c, 0) AS DOUBLE) AS c",
        "CAST(COALESCE(tctx.c_ctx, 0) AS DOUBLE) AS c_ctx",
        "CAST(COALESCE(tctx.n1p_ctx, 0) AS DOUBLE) AS n1p_ctx",
        "CAST(COALESCE(uc.n1p, 0) AS DOUBLE) AS n1p",
    ]
    jfrom = [
        (
            "(SELECT doc_id, "
            + ", ".join(f"p.c{k} AS c{k}" for k in range(2, n + 1))
            + ", p.x AS x FROM socc) s"
        ),
        f"LEFT JOIN tc ON tc.ctx = s.c{n} AND tc.x = s.x",
        f"LEFT JOIN tctx ON tctx.ctx = s.c{n}",
        "LEFT JOIN uc ON uc.wu = s.x",
    ]
    for k in range(2, n):
        jsel.append(f"CAST(COALESCE(n{k}.nc, 0) AS DOUBLE) AS nc{k}")
        jsel.append(f"CAST(COALESCE(x{k}.ncs, 0) AS DOUBLE) AS ncs{k}")
        jsel.append(f"CAST(COALESCE(x{k}.n_after, 0) AS DOUBLE) AS na{k}")
        jfrom.append(
            f"LEFT JOIN cont{k} n{k} ON n{k}.ctx = s.c{k} AND n{k}.x = s.x"
        )
        jfrom.append(f"LEFT JOIN cctx{k} x{k} ON x{k}.ctx = s.c{k}")
    jsel.append("sca.*")
    jfrom.append("CROSS JOIN sca")
    ctes.append(
        "j AS (SELECT " + ", ".join(jsel) + " FROM " + " ".join(jfrom) + ")"
    )
    carry = (
        "c, c_ctx, n1p_ctx, "
        + ", ".join(f"nc{k}, ncs{k}, na{k}" for k in range(2, n))
        + ", "
        + ", ".join(f"d{k}" for k in range(2, n + 1))
    )
    ctes.append(
        "pr1 AS (SELECT doc_id, greatest(n1p - d1, 0.0) / t_types"
        " + ((d1 * u_types) / t_types) * (1.0 / v) AS p, "
        + carry
        + " FROM j)"
    )
    prev = "pr1"
    for k in range(2, n):
        ctes.append(
            f"pr{k} AS (SELECT doc_id, CASE WHEN ncs{k} > 0 THEN"
            f" greatest(nc{k} - d{k}, 0.0) / ncs{k}"
            f" + ((d{k} * na{k}) / ncs{k}) * p ELSE p END AS p, "
            + carry
            + f" FROM {prev})"
        )
        prev = f"pr{k}"
    ctes.append(
        "sc AS (SELECT doc_id, CAST(round(-ln(CASE WHEN c_ctx > 0 THEN"
        f" greatest(c - d{n}, 0.0) / c_ctx"
        f" + ((d{n} * n1p_ctx) / c_ctx) * p ELSE p END), 6)"
        f" AS DECIMAL(28,6)) AS nll_q FROM {prev})"
    )
    ctes.append(
        "per AS (SELECT doc_id, count(*) AS n_ngrams,"
        " CAST(sum(nll_q) AS DOUBLE) / count(*) AS avg_nll"
        " FROM sc GROUP BY doc_id)"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n"
        "    SELECT d.doc_id,\n"
        "      CAST(COALESCE(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,\n"
        "      per.avg_nll,\n"
        "      (per.avg_nll IS NOT NULL AND per.avg_nll <= 3.5) AS keep\n"
        "    FROM (SELECT DISTINCT doc_id FROM documents) d\n"
        "    LEFT JOIN per USING (doc_id)"
    )


ORACLES["lm_perplexity_kn5"] = _kn_ngram_oracle()


def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided delta-join incremental view maintenance (r11,
    operators/cdc.py::refresh_join — the materialized-JOIN companion
    to refresh_aggregate's IVM): a materialized orders x customer
    view refreshed under planted deltas on BOTH sides (fact updates
    + deletes + inserts, dimension rewrites + delete tombstones)
    with delta-sized broadcast-only work. The ORACLE is the full
    recompute — apply both changelogs, re-join from scratch — so the
    exact hash match is precisely the IVM correctness theorem
    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB."""
    _prep(spark)
    from .operators.cdc import refresh_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a_old = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("price"),
    )
    b_old = cust.select(
        F.col("c_custkey").alias("custkey"),
        "c_name",
        F.col("c_mktsegment").alias("seg"),
    )
    view = a_old.join(b_old, "custkey").select(
        "okey", "custkey", "price", "c_name", "seg"
    )
    # planted fact deltas: delete %97, else update %100 (+1000.00),
    # plus shifted-key inserts for %89
    base_a = a_old.where(
        (F.col("okey") % 97 == 0) | (F.col("okey") % 100 == 0)
    )
    delta_a = base_a.select(
        F.when(F.col("okey") % 97 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "okey",
        "custkey",
        (F.col("price") + F.lit(1000.00)).cast("decimal(12,2)").alias(
            "price"
        ),
    ).unionByName(
        a_old.where(F.col("okey") % 89 == 0).select(
            F.lit("I").alias("op"),
            (F.col("okey") + F.lit(100000000)).alias("okey"),
            "custkey",
            "price",
        )
    )
    # planted dimension deltas: delete %83, else segment rewrite %50
    delta_b = b_old.where(
        (F.col("custkey") % 83 == 0) | (F.col("custkey") % 50 == 0)
    ).select(
        F.when(F.col("custkey") % 83 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "custkey",
        "c_name",
        F.lit("REWRITTEN").alias("seg"),
    )
    return refresh_join(
        view,
        a_old,
        b_old,
        delta_a,
        delta_b,
        a_key="okey",
        b_key="custkey",
        on="custkey",
    )


ORACLES["incremental_join"] = """
    WITH a_new AS (
      SELECT o_orderkey AS okey, o_custkey AS custkey,
             o_totalprice AS price
      FROM orders
      WHERE o_orderkey % 97 <> 0 AND o_orderkey % 100 <> 0
      UNION ALL
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice + 1000.00 AS DECIMAL(12,2))
      FROM orders
      WHERE o_orderkey % 97 <> 0 AND o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 89 = 0
    ), b_new AS (
      SELECT c_custkey AS custkey, c_name,
        CASE WHEN c_custkey % 50 = 0 THEN 'REWRITTEN'
             ELSE c_mktsegment END AS seg
      FROM customer WHERE c_custkey % 83 <> 0
    )
    SELECT okey, custkey, price, c_name, seg
    FROM a_new JOIN b_new USING (custkey)
"""


_LATE_W_US = 86_400_000_000  # 1-day tumbling windows
_LATE_L_US = 432_000_000_000  # 5-day allowed lateness


def q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windows with explicit allowed lateness + late-data
    QUARANTINE side output across ≥2 REAL micro-batches (r11,
    streaming/ops.py::streaming_late_data): events split into
    even/odd-event_id files; per event type the state carries the
    max PRIOR event time, batch-1 rows older than (max − 5 days) are
    diverted to the quarantine output instead of silently dropped,
    and the on-time rows fold into exact per-day counts. The oracle
    replays the classification over the literal batch order."""
    import glob
    import shutil
    import uuid

    from .streaming.ops import streaming_late_data

    _prep(spark)
    from .functions.timeutils import epoch_us

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", epoch_us("ts").alias("ts_us")
    )
    src = _fresh_tmp("skrub_strlate_src_")
    os.makedirs(src)
    for i, part in enumerate(
        (
            events.filter(F.col("event_id") % 2 == 0),
            events.filter(F.col("event_id") % 2 == 1),
        )
    ):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "strlate_" + uuid.uuid4().hex[:8]
    q = (
        streaming_late_data(
            stream,
            "event_type",
            "ts_us",
            "event_id",
            window_us=_LATE_W_US,
            lateness_us=_LATE_L_US,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 2)
    mem = spark.table(name)
    agg = (
        mem.where(F.col("kind") == "agg")
        .groupBy("key", "window_start_us")
        .agg(F.sum("n_rows").cast("long").alias("n"))
        .select(
            "key",
            F.lit("agg").alias("kind"),
            "window_start_us",
            "n",
            F.lit(None).cast("long").alias("late_id"),
        )
    )
    late = mem.where(F.col("kind") == "late").select(
        "key",
        F.lit("late").alias("kind"),
        F.lit(None).cast("long").alias("window_start_us"),
        F.lit(None).cast("long").alias("n"),
        "late_id",
    )
    return agg.unionByName(late)


ORACLES["streaming_late_data"] = f"""
    WITH e AS (
      SELECT event_type AS key, event_id, epoch_us(ts) AS us
      FROM events
    ), m0 AS (
      SELECT key, max(us) AS mx FROM e WHERE event_id % 2 = 0
      GROUP BY 1
    ), b1 AS (
      SELECT e.key, e.event_id, e.us, m0.mx
      FROM e LEFT JOIN m0 USING (key)
      WHERE event_id % 2 = 1
    ), lat AS (
      SELECT key, event_id, us FROM b1
      WHERE mx IS NOT NULL AND us < mx - {_LATE_L_US}
    ), ont AS (
      SELECT key, us FROM e WHERE event_id % 2 = 0
      UNION ALL
      SELECT key, us FROM b1 WHERE mx IS NULL OR us >= mx - {_LATE_L_US}
    ), agg AS (
      SELECT key, (us // {_LATE_W_US}) * {_LATE_W_US} AS ws,
             CAST(count(*) AS BIGINT) AS n
      FROM ont GROUP BY 1, 2
    )
    SELECT key, 'agg' AS kind, ws AS window_start_us, n,
           CAST(NULL AS BIGINT) AS late_id
    FROM agg
    UNION ALL
    SELECT key, 'late', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           event_id
    FROM lat
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet per-language perplexity bucketing (r11,
    operators/lm_filter.py::ccnet_buckets — Wenzek et al. 2019 §4.3,
    the step AFTER lm_perplexity_filter's scoring): within each
    language, rank documents by add-alpha bigram avg_nll and cut
    into exact-integer head/middle/tail terciles (((rank-1)*3) DIV
    count — no ntile remainder ambiguity); unscoreable docs come
    back 'unscored'. Returns per (lang, bucket) doc counts plus the
    bucket's nll range — the corpus card CCNet publishes."""
    _prep(spark)
    from .functions.text import words_az09
    from .operators.lm_filter import (
        ccnet_buckets,
        score_ngram_perplexity,
        train_ngram_lm,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    # r13 (guide §2.4): same shared-tokenization shape as
    # lm_perplexity_filter — one persisted (doc_id, lang, words)
    # frame feeds the trainer's two count frames, the vocabulary,
    # the scoring occurrences AND the lang join (formerly 5
    # words_az09/parquet passes). Identical tokens -> identical
    # buckets. Cache: see skrub_spark.release.
    tok = docs.select(
        "doc_id", "lang", words_az09("text").alias("__words")
    ).persist()
    lm = train_ngram_lm(tok, n=2, words_col="__words")
    scored = tok.select("doc_id", "lang").join(
        score_ngram_perplexity(tok, lm, alpha=1.0, words_col="__words"),
        "doc_id",
    )
    b = ccnet_buckets(scored, "lang", "avg_nll", "doc_id")
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(F.round("avg_nll", 6)).alias("nll_min"),
        F.max(F.round("avg_nll", 6)).alias("nll_max"),
    )


ORACLES["ccnet_buckets"] = """
    WITH w AS (
      SELECT doc_id, lang,
        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x != '') AS words
      FROM documents
    ), occ AS (
      SELECT doc_id, unnest(
        CASE WHEN len(words) >= 2 THEN
          list_transform(range(1, len(words)),
            i -> struct_pack(gram := words[i] || ' ' || words[i+1],
                             ctx := words[i]))
        ELSE [] END) AS p
      FROM w
    ), pairs AS (
      SELECT doc_id, p.gram AS gram, p.ctx AS ctx FROM occ
    ), cnt AS (
      SELECT gram, count(*) AS c FROM pairs GROUP BY gram
    ), ctxc AS (
      SELECT ctx, count(*) AS ctx_c FROM pairs GROUP BY ctx
    ), v AS (
      SELECT count(DISTINCT x) AS vs
      FROM (SELECT unnest(words) AS x FROM w)
    ), sc AS (
      SELECT p.doc_id,
        CAST(round(-ln((cnt.c + 1.0) / (ctxc.ctx_c + 1.0 * v.vs)), 6)
             AS DECIMAL(28,6)) AS nll_q
      FROM pairs p JOIN cnt USING (gram) JOIN ctxc USING (ctx)
      CROSS JOIN v
    ), per AS (
      SELECT doc_id, CAST(sum(nll_q) AS DOUBLE) / count(*) AS avg_nll
      FROM sc GROUP BY doc_id
    ), scored AS (
      SELECT w.doc_id, w.lang, per.avg_nll
      FROM w LEFT JOIN per USING (doc_id)
    ), ranked AS (
      SELECT doc_id, lang, avg_nll,
        row_number() OVER (
          PARTITION BY lang ORDER BY avg_nll ASC, doc_id ASC
        ) AS rn,
        count(*) OVER (PARTITION BY lang) AS cnt
      FROM scored WHERE avg_nll IS NOT NULL
    ), lab AS (
      SELECT lang,
        ['head', 'middle', 'tail'][
          CAST((CAST(rn - 1 AS BIGINT) * 3) // cnt AS INTEGER) + 1
        ] AS bucket,
        avg_nll
      FROM ranked
      UNION ALL
      SELECT lang, 'unscored', avg_nll
      FROM scored WHERE avg_nll IS NULL
    )
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           min(round(avg_nll, 6)) AS nll_min,
           max(round(avg_nll, 6)) AS nll_max
    FROM lab GROUP BY 1, 2
"""

_UNIMAX_BUDGET = 900
_UNIMAX_EPOCHS = 3


def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (r11,
    operators/sampling.py::unimax_allocation — Chung et al. 2023):
    waterfill a 900-row budget across sources ascending-by-size with
    a 3-epoch cap — the budget-constrained successor to
    temperature_mixture, and the third leg of the mixture family
    next to doremi_weights (loss-driven) and mixture_sample
    (target-driven). Exact integers end to end; the oracle replays
    the scan with a recursive CTE."""
    _prep(spark)
    from .operators.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    # synthetic SKEWED strata (~1/15, 2/15, 4/15, 8/15 of the corpus
    # via an integer CASE on doc_id % 15) so the epoch cap BINDS for
    # the small strata — the raw sources are uniform in the fixture
    m = F.col("doc_id") % 15
    skewed = docs.withColumn(
        "stratum",
        F.when(m == 0, "g0")
        .when(m < 3, "g1")
        .when(m < 7, "g2")
        .otherwise("g3"),
    )
    return unimax_allocation(
        skewed,
        "stratum",
        budget=_UNIMAX_BUDGET,
        max_epochs=_UNIMAX_EPOCHS,
    )


ORACLES["unimax_allocation"] = f"""
    WITH RECURSIVE c AS (
      SELECT CASE WHEN doc_id % 15 = 0 THEN 'g0'
                  WHEN doc_id % 15 < 3 THEN 'g1'
                  WHEN doc_id % 15 < 7 THEN 'g2'
                  ELSE 'g3' END AS stratum,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ), s AS (
      SELECT stratum, n,
        row_number() OVER (ORDER BY n ASC, stratum ASC) AS rn,
        count(*) OVER () AS d
      FROM c
    ), r(rn, remaining, left_n, stratum, n, alloc) AS (
      SELECT 0, CAST({_UNIMAX_BUDGET} AS HUGEINT),
             (SELECT CAST(d AS BIGINT) FROM s LIMIT 1),
             CAST(NULL AS VARCHAR), CAST(0 AS BIGINT),
             CAST(0 AS HUGEINT)
      UNION ALL
      SELECT s.rn,
        r.remaining - least(CAST({_UNIMAX_EPOCHS} AS HUGEINT) * s.n,
                            r.remaining // r.left_n),
        r.left_n - 1, s.stratum, s.n,
        least(CAST({_UNIMAX_EPOCHS} AS HUGEINT) * s.n,
              r.remaining // r.left_n)
      FROM r JOIN s ON s.rn = r.rn + 1
    )
    SELECT stratum, n AS n_rows, CAST(alloc AS BIGINT) AS allocation,
           round(CAST(alloc AS DOUBLE) / n, 6) AS epochs
    FROM r WHERE rn > 0
"""


_KCENTER_K = 8


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (r11,
    similarity/mining.py::kcenter_select — Gonzalez farthest-point,
    the diversity-sampling complement to SemDeDup): pick the 8 most
    mutually-distant embedding exemplars. Coordinates quantize to
    integer micro before any distance, so the squared-L2 argmax
    chain is exact integer arithmetic and the oracle replays all
    eight selections as chained CTEs."""
    _prep(spark)
    from .similarity.mining import kcenter_select

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_select(emb, "vec_id", "embedding", k=_KCENTER_K)


def _kcenter_oracle(k: int = _KCENTER_K) -> str:
    d2 = (
        "CAST(list_sum(list_transform(range(1, len(q.v) + 1),"
        " i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT)"
    )
    ctes = [
        (
            "q AS MATERIALIZED (SELECT vec_id,"
            " list_transform(CAST(embedding AS DOUBLE[]),"
            " x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6)) * 1000000"
            " AS BIGINT)) AS v FROM embeddings)"
        ),
        "s1 AS (SELECT min(vec_id) AS vec_id FROM q)",
        (
            f"m1 AS MATERIALIZED (SELECT q.vec_id, {d2} AS m FROM q"
            " CROSS JOIN (SELECT q.v AS cv FROM q JOIN s1 USING"
            " (vec_id)) c)"
        ),
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT vec_id, m FROM m{t - 1}"
            " ORDER BY m DESC, vec_id ASC LIMIT 1)"
        )
        if t < k:
            ctes.append(
                f"m{t} AS MATERIALIZED (SELECT p.vec_id,"
                f" least(p.m, {d2}) AS m"
                f" FROM m{t - 1} p JOIN q ON q.vec_id = p.vec_id"
                f" CROSS JOIN (SELECT q.v AS cv FROM q JOIN s{t}"
                " USING (vec_id)) c)"
            )
    sel = [
        (
            "SELECT 1 AS rank, vec_id, CAST(NULL AS BIGINT) AS mind2"
            " FROM s1"
        )
    ] + [
        f"SELECT {t} AS rank, vec_id, CAST(m AS BIGINT) AS mind2"
        f" FROM s{t}"
        for t in range(2, k + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(
        sel
    )


ORACLES["kcenter_coreset"] = _kcenter_oracle()


def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (r11,
    operators/intervals.py::attribution_time_decay — the
    recency-aware member between last-touch and linear): per
    purchase, credit ∝ 0.5^(age/halflife) over the 7-day lookback
    with a 1-day half-life; 6dp weights DECIMAL-summed, one IEEE
    division per credit."""
    _prep(spark)
    from .operators.intervals import attribution_time_decay

    ev = load_table(spark, sf_dir, "events")
    return attribution_time_decay(
        ev,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        conversion="purchase",
        lookback_us=7 * 86_400_000_000,
        halflife_us=86_400_000_000,
    )


ORACLES["attribution_time_decay"] = """
    WITH ev AS (
      SELECT user_id AS entity, epoch_us(ts) AS us,
        CAST(event_id AS BIGINT) AS eid, event_type AS state
      FROM events
    ), conv AS (
      SELECT entity, eid AS conversion_id, us AS conversion_us
      FROM ev WHERE state = 'purchase'
    ), touch AS (
      SELECT entity, eid AS touch_id, us AS touch_us,
        state AS touch_state
      FROM ev WHERE state != 'purchase'
    ), j AS (
      SELECT c.entity, c.conversion_id, c.conversion_us,
        t.touch_id, t.touch_us, t.touch_state,
        CAST(round(power(0.5,
          CAST(c.conversion_us - t.touch_us AS DOUBLE)
          / 86400000000.0), 6) AS DECIMAL(18,6)) AS w6
      FROM conv c JOIN touch t ON c.entity = t.entity
        AND (t.touch_us < c.conversion_us
             OR (t.touch_us = c.conversion_us
                 AND t.touch_id < c.conversion_id))
        AND t.touch_us > c.conversion_us - 604800000000
    ), s AS (
      SELECT entity, conversion_id, sum(w6) AS sw
      FROM j GROUP BY 1, 2
    )
    SELECT j.entity, j.conversion_id, j.conversion_us,
      j.touch_id, j.touch_us, j.touch_state,
      CAST(j.w6 AS DOUBLE) AS weight,
      CASE WHEN s.sw > 0 THEN
        round(CAST(j.w6 AS DOUBLE) / CAST(s.sw AS DOUBLE), 6)
      END AS credit
    FROM j JOIN s USING (entity, conversion_id)
    UNION ALL
    SELECT c.entity, c.conversion_id, c.conversion_us,
      CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
      CAST(NULL AS DOUBLE)
    FROM conv c
    WHERE NOT EXISTS (
      SELECT 1 FROM j
      WHERE j.entity = c.entity AND j.conversion_id = c.conversion_id
    )
"""


def q_psm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching (r11,
    report/experiment.py::psm_match — Rosenbaum-Rubin caliper 1-NN
    with replacement, the missing causal-toolkit member next to
    CUPED/DiD/balance): BUILDING-segment customers matched to
    nearest non-BUILDING controls on a FROZEN logistic propensity
    (literal coefficients — the quality-classifier discipline: fits
    are rows-only, scoring+matching exact). Score-bucket blocking
    keeps candidates an equi-join; micro-integer distances make the
    argmin exact."""
    _prep(spark)
    from .report.experiment import psm_match

    cust = load_table(spark, sf_dir, "customer")
    z = (
        F.lit(-0.3)
        + F.col("c_acctbal").cast("double") / F.lit(10000.0)
        + (F.col("c_nationkey") % 5).cast("double") * F.lit(0.17)
    )
    scored = cust.select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("pscore"),
    )
    return psm_match(
        scored, "c_custkey", "treated", "pscore", caliper=0.002
    )


ORACLES["psm_pairs"] = """
    WITH s AS (
      SELECT CAST(c_custkey AS BIGINT) AS uid,
        c_mktsegment = 'BUILDING' AS t,
        CAST(CAST(round(1.0 / (1.0 + exp(-(-0.3
          + CAST(c_acctbal AS DOUBLE) / 10000.0
          + CAST(c_nationkey % 5 AS DOUBLE) * 0.17))), 6)
          AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s6
      FROM customer
    ), tr AS (
      SELECT uid AS treated_id, s6 AS ts6 FROM s WHERE t
    ), ct AS (
      SELECT uid AS control_id, s6 AS cs6, s6 // 2000 AS b
      FROM s WHERE NOT t
    ), cand AS (
      SELECT tr.treated_id, tr.ts6, ct.control_id, ct.cs6,
        abs(tr.ts6 - ct.cs6) AS d
      FROM tr JOIN ct
        ON ct.b IN (tr.ts6 // 2000 - 1, tr.ts6 // 2000,
                    tr.ts6 // 2000 + 1)
      WHERE abs(tr.ts6 - ct.cs6) <= 2000
    ), best AS (
      SELECT treated_id, ts6, control_id, cs6, d,
        row_number() OVER (
          PARTITION BY treated_id ORDER BY d ASC, control_id ASC
        ) AS rn
      FROM cand
    )
    SELECT tr.treated_id,
      best.control_id,
      round(CAST(tr.ts6 AS DOUBLE) / 1000000.0, 6) AS t_score,
      round(CAST(best.cs6 AS DOUBLE) / 1000000.0, 6) AS c_score,
      round(CAST(best.d AS DOUBLE) / 1000000.0, 6) AS dist
    FROM tr LEFT JOIN best
      ON best.treated_id = tr.treated_id AND best.rn = 1
"""


def q_bfd_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing (r12,
    operators/packing.py::bfd_pack — whole-sequence bin packing for
    SFT / inference batching; `pack_training_chunks` cuts across
    docs, this keeps each sequence intact and minimizes pad waste):
    documents bin-packed by whitespace token count into 96-token
    bins within 8 content-addressed shards. Returns per-(shard,
    bin) fill stats; oversize docs (>96 tokens) surface as the
    NULL-bin row per shard. The DuckDB oracle replays the exact BFD
    assignment with ONE recursive CTE that advances every shard one
    ranked item per step, carrying bins as a LIST<STRUCT(rem,id)>
    and picking min-(rem,id) among fitting bins."""
    _prep(spark)
    from .operators.packing import bfd_pack

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    packed = bfd_pack(
        docs, "n_tok", "doc_id", capacity=96, n_shards=8, salt="bfd12"
    )
    return (
        packed.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("n_tok").cast("long").alias("used_tokens"),
        )
        .select(
            "shard",
            "bin_id",
            "n_seqs",
            "used_tokens",
            F.when(
                F.col("bin_id").isNotNull(),
                F.lit(96).cast("long") - F.col("used_tokens"),
            ).alias("waste"),
        )
    )


ORACLES["bfd_packing"] = r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
        CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x != '')) AS BIGINT) AS n_tok
      FROM documents
    ), sharded AS (
      SELECT doc_id, n_tok,
        ('0x' || substr(md5('bfd12' || CAST(doc_id AS VARCHAR)),
                        1, 15))::BIGINT % 8 AS shard
      FROM toks
    ), ranked AS (
      SELECT shard, doc_id, n_tok,
        row_number() OVER (
          PARTITION BY shard ORDER BY n_tok DESC, doc_id ASC
        ) AS rn
      FROM sharded WHERE n_tok <= 96
    ), pack AS (
      SELECT shard, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS bin_id,
        [{'rem': 96 - n_tok, 'id': CAST(0 AS BIGINT)}] AS bins
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT shard, rn, doc_id, n_tok,
        CASE WHEN best.id IS NULL THEN nb ELSE best.id END AS bin_id,
        CASE WHEN best.id IS NULL
             THEN list_append(bins, {'rem': 96 - n_tok, 'id': nb})
             ELSE list_append(list_filter(bins, b -> b.id != best.id),
                              {'rem': best.rem - n_tok, 'id': best.id})
        END AS bins
      FROM (
        SELECT r.shard, r.rn, r.doc_id, r.n_tok, p.bins,
               CAST(len(p.bins) AS BIGINT) AS nb,
               list_sort(list_filter(p.bins, b -> b.rem >= r.n_tok))[1]
                 AS best
        FROM pack p JOIN ranked r
          ON r.shard = p.shard AND r.rn = p.rn + 1
      )
    )
    SELECT shard, bin_id, n_seqs, used_tokens, waste FROM (
      SELECT shard, bin_id, CAST(count(*) AS BIGINT) AS n_seqs,
             CAST(sum(n_tok) AS BIGINT) AS used_tokens,
             CAST(96 - sum(n_tok) AS BIGINT) AS waste
      FROM pack GROUP BY shard, bin_id
      UNION ALL
      SELECT shard, NULL, CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT), NULL
      FROM sharded WHERE n_tok > 96 GROUP BY shard
    )
"""


def q_clustering_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand index (r12,
    report/agreement.py::adjusted_rand_index — judging a dedup /
    clustering assignment against gold): documents' lang partition
    vs a planted corruption of it (every 6th doc relabeled by
    source), landing strictly between independence (~0) and
    identity (1). One IEEE division on exact DECIMAL(38,0)
    integers; the oracle replays them in HUGEINT."""
    _prep(spark)
    from .report.agreement import adjusted_rand_index

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 6 == 0, F.col("source"))
        .otherwise(F.col("lang"))
        .alias("pred"),
    )
    return adjusted_rand_index(docs, "lang", "pred")


ORACLES["clustering_ari"] = """
    WITH lab AS (
      SELECT lang AS a,
        CASE WHEN doc_id % 6 = 0 THEN source ELSE lang END AS b
      FROM documents
      WHERE lang IS NOT NULL
        AND (CASE WHEN doc_id % 6 = 0 THEN source ELSE lang END)
            IS NOT NULL
    ), cells AS (
      SELECT a, b, CAST(count(*) AS HUGEINT) AS c FROM lab GROUP BY 1, 2
    ), sij AS (
      SELECT COALESCE(sum(c * (c - 1)), 0) AS sij2,
             COALESCE(sum(c), 0) AS n
      FROM cells
    ), sa AS (
      SELECT COALESCE(sum(ai * (ai - 1)), 0) AS sa2 FROM (
        SELECT a, sum(c) AS ai FROM cells GROUP BY 1)
    ), sb AS (
      SELECT COALESCE(sum(bj * (bj - 1)), 0) AS sb2 FROM (
        SELECT b, sum(c) AS bj FROM cells GROUP BY 1)
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
      CAST(sij2 / 2 AS BIGINT) AS s_ij,
      CAST(sa2 / 2 AS BIGINT) AS s_a,
      CAST(sb2 / 2 AS BIGINT) AS s_b,
      CASE WHEN n * (n - 1) * (sa2 + sb2) - 2 * sa2 * sb2 != 0 THEN
        round(CAST(2 * (sij2 * n * (n - 1) - sa2 * sb2) AS DOUBLE)
              / CAST(n * (n - 1) * (sa2 + sb2)
                     - 2 * sa2 * sb2 AS DOUBLE), 6)
      END AS ari
    FROM sij CROSS JOIN sa CROSS JOIN sb
"""


def _annotator_cols():
    base = F.col("doc_id") % 4
    lab = lambda e: F.concat(F.lit("c"), e.cast("string"))  # noqa: E731
    r1 = lab(base)
    r2 = F.when(
        F.col("doc_id") % 7 == 0, lab((base + 1) % 4)
    ).otherwise(lab(base))
    r3 = F.when(
        F.col("doc_id") % 5 == 0, lab((base + 2) % 4)
    ).otherwise(lab(base))
    return r1, r2, r3


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (r12, report/agreement.py::cohen_kappa — the
    two-rater labeling-QA statistic upstream of preference_pairs):
    two planted annotators over documents (rater 2 disagrees on
    every 7th item). kappa is ONE IEEE division on the exact
    integer ratio (A·n − S)/(n² − S)."""
    _prep(spark)
    from .report.agreement import cohen_kappa

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    r1, r2, _ = _annotator_cols()
    return cohen_kappa(
        docs.select(r1.alias("a"), r2.alias("b")), "a", "b"
    )


ORACLES["cohen_kappa"] = """
    WITH lab AS (
      SELECT 'c' || CAST(doc_id % 4 AS VARCHAR) AS a,
        CASE WHEN doc_id % 7 = 0
             THEN 'c' || CAST((doc_id % 4 + 1) % 4 AS VARCHAR)
             ELSE 'c' || CAST(doc_id % 4 AS VARCHAR) END AS b
      FROM documents
    ), cells AS (
      SELECT a, b, CAST(count(*) AS HUGEINT) AS c FROM lab GROUP BY 1, 2
    ), na AS (SELECT a, sum(c) AS na FROM cells GROUP BY 1),
    nb AS (SELECT b, sum(c) AS nb FROM cells GROUP BY 1),
    s AS (
      SELECT COALESCE(sum(na * nb), 0) AS s
      FROM na JOIN nb ON na.a = nb.b
    ), t AS (
      SELECT sum(c) AS n,
        COALESCE(sum(CASE WHEN a = b THEN c END), 0) AS ag
      FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n_items, CAST(ag AS BIGINT) AS n_agree,
      round(CAST(ag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
      round(CAST(s AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
      CASE WHEN n * n != s THEN
        round(CAST(ag * n - s AS DOUBLE) / CAST(n * n - s AS DOUBLE), 6)
      END AS kappa
    FROM t CROSS JOIN s
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (r12, report/agreement.py::fleiss_kappa —
    fixed-panel agreement): three planted annotators (disagreement
    planted on every 7th and 5th item), one (item, rating) row per
    vote. kappa is ONE IEEE division on the exact integer ratio
    from the module docstring."""
    _prep(spark)
    from .report.agreement import fleiss_kappa

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    r1, r2, r3 = _annotator_cols()
    votes = (
        docs.select("doc_id", r1.alias("rating"))
        .unionByName(docs.select("doc_id", r2.alias("rating")))
        .unionByName(docs.select("doc_id", r3.alias("rating")))
    )
    return fleiss_kappa(votes, "doc_id", "rating", n_raters=3)


ORACLES["fleiss_kappa"] = """
    WITH votes AS (
      SELECT doc_id, 'c' || CAST(doc_id % 4 AS VARCHAR) AS r
      FROM documents
      UNION ALL
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0
             THEN 'c' || CAST((doc_id % 4 + 1) % 4 AS VARCHAR)
             ELSE 'c' || CAST(doc_id % 4 AS VARCHAR) END
      FROM documents
      UNION ALL
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0
             THEN 'c' || CAST((doc_id % 4 + 2) % 4 AS VARCHAR)
             ELSE 'c' || CAST(doc_id % 4 AS VARCHAR) END
      FROM documents
    ), cells AS (
      SELECT doc_id, r, CAST(count(*) AS HUGEINT) AS c
      FROM votes GROUP BY 1, 2
    ), q AS (
      SELECT COALESCE(sum(c * c), 0) AS q,
        CAST(count(DISTINCT doc_id) AS HUGEINT) AS n_items
      FROM cells
    ), ctot AS (
      SELECT COALESCE(sum(cj * cj), 0) AS csq FROM (
        SELECT r, sum(c) AS cj FROM cells GROUP BY 1)
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
      CAST(3 AS BIGINT) AS n_raters,
      CASE WHEN n_items > 0 THEN
        round(CAST(q - n_items * 3 AS DOUBLE)
              / CAST(n_items * 3 * 2 AS DOUBLE), 6) END AS p_bar,
      CASE WHEN n_items > 0 THEN
        round(CAST(csq AS DOUBLE)
              / CAST(n_items * 3 * n_items * 3 AS DOUBLE), 6)
      END AS p_e,
      CASE WHEN n_items * 3 * 2 * (n_items * 3 * n_items * 3 - csq)
                != 0 THEN
        round(CAST((q - n_items * 3) * n_items * 3 * n_items * 3
                   - csq * n_items * 3 * 2 AS DOUBLE)
              / CAST(n_items * 3 * 2
                     * (n_items * 3 * n_items * 3 - csq) AS DOUBLE), 6)
      END AS kappa
    FROM q CROSS JOIN ctot
"""


_BT_ITER = 6


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry arena ranking (r12,
    operators/arena.py::bradley_terry — the Chatbot-Arena shape:
    pairwise battles → latent strengths via Hunter's MM, run as the
    DoReMi exact-integer driver loop over the bounded
    per-(winner, loser) count frame): battles are line 1 vs line 2
    of each order (items = part brands, winner = higher extended
    price, price ties skipped), 6 MM iterations in integer micro
    units. The oracle replays every iteration as chained HUGEINT
    CTEs."""
    _prep(spark)
    from .operators.arena import bradley_terry

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    tagged = li.join(
        F.broadcast(part), li["l_partkey"] == F.col("p_partkey")
    )
    a = tagged.where(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        F.col("p_brand").alias("b1"),
        F.col("l_extendedprice").alias("pr1"),
    )
    b = tagged.where(F.col("l_linenumber") == 2).select(
        "l_orderkey",
        F.col("p_brand").alias("b2"),
        F.col("l_extendedprice").alias("pr2"),
    )
    battles = (
        a.join(b, "l_orderkey")
        .where(F.col("pr1") != F.col("pr2"))
        .select(
            F.when(F.col("pr1") > F.col("pr2"), F.col("b1"))
            .otherwise(F.col("b2"))
            .alias("winner"),
            F.when(F.col("pr1") > F.col("pr2"), F.col("b2"))
            .otherwise(F.col("b1"))
            .alias("loser"),
        )
    )
    return bradley_terry(battles, "winner", "loser", n_iter=_BT_ITER)


def _bt_oracle(n_iter: int = _BT_ITER) -> str:
    ctes = [
        (
            "a AS (SELECT l_orderkey, p_brand AS b1,"
            " l_extendedprice AS pr1 FROM lineitem"
            " JOIN part ON l_partkey = p_partkey"
            " WHERE l_linenumber = 1)"
        ),
        (
            "b AS (SELECT l_orderkey, p_brand AS b2,"
            " l_extendedprice AS pr2 FROM lineitem"
            " JOIN part ON l_partkey = p_partkey"
            " WHERE l_linenumber = 2)"
        ),
        (
            "bat AS (SELECT CASE WHEN pr1 > pr2 THEN b1 ELSE b2 END AS w,"
            " CASE WHEN pr1 > pr2 THEN b2 ELSE b1 END AS l"
            " FROM a JOIN b USING (l_orderkey) WHERE pr1 != pr2)"
        ),
        (
            "cnt AS MATERIALIZED (SELECT w, l,"
            " CAST(count(*) AS HUGEINT) AS n"
            " FROM bat WHERE w != l GROUP BY 1, 2)"
        ),
        (
            "items AS MATERIALIZED (SELECT DISTINCT item FROM"
            " (SELECT w AS item FROM cnt UNION SELECT l FROM cnt))"
        ),
        (
            "prs AS MATERIALIZED (SELECT"
            " CASE WHEN w < l THEN w ELSE l END AS i,"
            " CASE WHEN w < l THEN l ELSE w END AS j,"
            " CAST(sum(n) AS HUGEINT) AS n FROM cnt GROUP BY 1, 2)"
        ),
        (
            "wins AS MATERIALIZED (SELECT w AS item,"
            " CAST(sum(n) AS HUGEINT) AS wn FROM cnt GROUP BY 1)"
        ),
        (
            "nb AS MATERIALIZED (SELECT item,"
            " CAST(sum(n) AS BIGINT) AS nbat FROM"
            " (SELECT i AS item, n FROM prs"
            " UNION ALL SELECT j, n FROM prs) GROUP BY 1)"
        ),
        (
            "edges AS MATERIALIZED (SELECT i AS item, j AS opp, n"
            " FROM prs UNION ALL SELECT j, i, n FROM prs)"
        ),
        "k AS (SELECT CAST(count(*) AS HUGEINT) AS ni FROM items)",
        (
            "it0 AS MATERIALIZED (SELECT item,"
            " CAST(1000000 AS HUGEINT) AS p6 FROM items)"
        ),
    ]
    for t in range(1, n_iter + 1):
        prev = f"it{t-1}"
        ctes.append(
            f"d{t} AS (SELECT e.item,"
            " sum((e.n * CAST(1000000000000 AS HUGEINT))"
            " // (x.p6 + y.p6)) AS den"
            f" FROM edges e JOIN {prev} x ON x.item = e.item"
            f" JOIN {prev} y ON y.item = e.opp GROUP BY 1)"
        )
        ctes.append(
            f"u{t} AS MATERIALIZED (SELECT i.item,"
            " greatest(CAST(1 AS HUGEINT),"
            " (COALESCE(w.wn, 0) * CAST(1000000000000 AS HUGEINT))"
            " // d.den) AS p6"
            f" FROM items i JOIN d{t} d USING (item)"
            " LEFT JOIN wins w USING (item))"
        )
        ctes.append(
            f"it{t} AS MATERIALIZED (SELECT u.item,"
            " greatest(CAST(1 AS HUGEINT),"
            " (u.p6 * k.ni * 1000000)"
            f" // (SELECT sum(p6) FROM u{t})) AS p6"
            f" FROM u{t} u CROSS JOIN k)"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT i.item,
      CAST(COALESCE(w.wn, 0) AS BIGINT) AS n_wins,
      nb.nbat AS n_battles,
      CAST(p.p6 AS DOUBLE) / 1000000.0 AS score
    FROM items i
    LEFT JOIN wins w USING (item)
    JOIN nb USING (item)
    JOIN it{n_iter} p USING (item)
    """
    )


ORACLES["bradley_terry"] = _bt_oracle()


def q_dl_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked full-Damerau-Levenshtein join (r12,
    dedup/strings.py::damerau_levenshtein_join +
    functions/text.py::damerau_levenshtein — the
    transposition-aware edit distance next to jw_name_pairs'
    Jaro-Winkler; bit-identical to DuckDB's builtin, pinned over a
    12k random sweep in tests/test_r12_ops.py): a part-name subset
    plus planted LAST-TWO-CHAR transposition typos (DL says 1 where
    plain Levenshtein says 2 — the metric's whole point), joined at
    max_dist 1 within first-token blocks."""
    _prep(spark)
    from .dedup.strings import damerau_levenshtein_join

    part = load_table(spark, sf_dir, "part")
    base = (
        part.where(F.col("p_partkey") % 10 == 0)
        .select(F.col("p_name").alias("name"), "p_partkey")
    )
    ln = F.length("name")
    swapped = base.where(F.col("p_partkey") % 30 == 0).select(
        F.concat(
            F.substring(F.col("name"), 1, ln - 2),
            F.substring(F.col("name"), ln, 1),
            F.substring(F.col("name"), ln - 1, 1),
        ).alias("name")
    )
    names = base.select("name").unionByName(swapped)
    return damerau_levenshtein_join(
        names, names, "name", "name", max_dist=1
    )


ORACLES["dl_name_pairs"] = """
    WITH base AS (
      SELECT p_name AS name, p_partkey FROM part WHERE p_partkey % 10 = 0
    ), swapped AS (
      SELECT substr(name, 1, length(name) - 2)
             || substr(name, length(name), 1)
             || substr(name, length(name) - 1, 1) AS name
      FROM base WHERE p_partkey % 30 = 0
    ), names AS (
      SELECT DISTINCT name FROM (
        SELECT name FROM base UNION ALL SELECT name FROM swapped)
    ), t AS (
      SELECT name,
        regexp_split_to_array(lower(name), '\\s+')[1] AS bk
      FROM names
    )
    SELECT a.name AS name_a, b.name AS name_b,
      CAST(damerau_levenshtein(a.name, b.name) AS BIGINT) AS dl
    FROM t a JOIN t b ON a.bk = b.bk AND a.name < b.name
    WHERE abs(length(a.name) - length(b.name)) <= 1
      AND levenshtein(a.name, b.name) <= 2
      AND damerau_levenshtein(a.name, b.name) <= 1
"""


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic uniform sample (r12,
    operators/sampling.py::reservoir_sample — fixed SIZE where
    deterministic_sample fixes the FRACTION): the 100 documents
    with the smallest content-addressed md5. Compiles to
    TakeOrderedAndProject (per-partition top-k heaps, no global
    sort); the oracle replays the hex order."""
    _prep(spark)
    from .operators.sampling import reservoir_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return reservoir_sample(docs, "doc_id", 100, salt="res12")


ORACLES["reservoir_sample"] = """
    SELECT doc_id FROM documents
    ORDER BY md5('res12' || CAST(doc_id AS VARCHAR)) ASC,
             CAST(doc_id AS VARCHAR) ASC
    LIMIT 100
"""


def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weight-proportional sample without replacement
    (r12, operators/sampling.py::weighted_reservoir_sample —
    Efraimidis–Spirakis A-ES made content-addressed): 100 documents
    by the largest ln(u)/n_chars with u drawn from 52 md5 bits.
    u = (h52 + 0.5)/2^52 is exact double arithmetic and ln / the
    divide are single IEEE ops, so the oracle replays the float
    ORDER bit-for-bit."""
    _prep(spark)
    from .operators.sampling import weighted_reservoir_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    return weighted_reservoir_sample(
        docs, "doc_id", "n_chars", 100, salt="wres12"
    )


ORACLES["weighted_reservoir"] = """
    WITH h AS (
      SELECT doc_id, n_chars,
        ('0x' || substr(md5('wres12' || CAST(doc_id AS VARCHAR)),
                        1, 13))::BIGINT % 4503599627370496 AS h52
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, n_chars FROM h
    ORDER BY ln((CAST(h52 AS DOUBLE) + 0.5) / 4503599627370496.0)
             / CAST(n_chars AS DOUBLE) DESC,
             CAST(doc_id AS VARCHAR) ASC
    LIMIT 100
"""


def q_rouge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair ROUGE-2 (r12, report/texteval.py::rouge_n — the
    reference-overlap score of generation eval): candidate =
    chars 1..150 of each document, reference = chars 30..199 —
    overlapping windows, so every pair lands strictly between the
    identical and disjoint extremes. Clipped bigram counts are
    exact integers (explode → groupBy → equi-join → sum of min);
    the three ratios are single IEEE divisions rounded 6dp."""
    _prep(spark)
    from .report.texteval import rouge_n

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = docs.select(
        "doc_id",
        F.substring("text", 1, 150).alias("cand"),
        F.substring("text", 30, 170).alias("ref"),
    )
    return rouge_n(pairs, "cand", "ref", "doc_id", n=2)


ORACLES["rouge_eval"] = """
    WITH p AS (
      SELECT doc_id AS pid, substr(text, 1, 150) AS cand,
             substr(text, 30, 170) AS ref
      FROM documents
    ), wc AS (
      SELECT pid, list_filter(regexp_split_to_array(lower(cand),
               '[^a-z0-9]+'), x -> x != '') AS w FROM p
    ), wr AS (
      SELECT pid, list_filter(regexp_split_to_array(lower(ref),
               '[^a-z0-9]+'), x -> x != '') AS w FROM p
    ), gc AS (
      SELECT pid, g, count(*) AS nc FROM (
        SELECT pid, unnest(CASE WHEN len(w) >= 2 THEN
          list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
          ELSE [] END) AS g FROM wc) GROUP BY 1, 2
    ), gr AS (
      SELECT pid, g, count(*) AS nr FROM (
        SELECT pid, unnest(CASE WHEN len(w) >= 2 THEN
          list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
          ELSE [] END) AS g FROM wr) GROUP BY 1, 2
    ), ov AS (
      SELECT pid, CAST(sum(least(nc, nr)) AS BIGINT) AS overlap
      FROM gc JOIN gr USING (pid, g) GROUP BY 1
    ), tc AS (
      SELECT pid, CAST(sum(nc) AS BIGINT) AS n_cand FROM gc GROUP BY 1
    ), tr AS (
      SELECT pid, CAST(sum(nr) AS BIGINT) AS n_ref FROM gr GROUP BY 1
    )
    SELECT p.pid AS doc_id,
      COALESCE(tc.n_cand, 0) AS n_cand,
      COALESCE(tr.n_ref, 0) AS n_ref,
      COALESCE(ov.overlap, 0) AS overlap,
      CASE WHEN COALESCE(tc.n_cand, 0) > 0 THEN
        round(CAST(COALESCE(ov.overlap, 0) AS DOUBLE)
              / CAST(tc.n_cand AS DOUBLE), 6) END AS precision,
      CASE WHEN COALESCE(tr.n_ref, 0) > 0 THEN
        round(CAST(COALESCE(ov.overlap, 0) AS DOUBLE)
              / CAST(tr.n_ref AS DOUBLE), 6) END AS recall,
      CASE WHEN COALESCE(tc.n_cand, 0) + COALESCE(tr.n_ref, 0) > 0 THEN
        round(2.0 * CAST(COALESCE(ov.overlap, 0) AS DOUBLE)
              / CAST(tc.n_cand + tr.n_ref AS DOUBLE), 6) END AS f1
    FROM p
    LEFT JOIN tc USING (pid) LEFT JOIN tr USING (pid)
    LEFT JOIN ov USING (pid)
"""


def q_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU-4 (r12, report/texteval.py::bleu_corpus):
    same candidate/reference windows as rouge_eval; four clipped
    modified precisions from ONE relational pass per order, the
    brevity penalty, and the geometric mean over the ROUNDED p_k
    (so the oracle replays the final float bit-for-bit)."""
    _prep(spark)
    from .report.texteval import bleu_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = docs.select(
        "doc_id",
        F.substring("text", 1, 150).alias("cand"),
        F.substring("text", 30, 170).alias("ref"),
    )
    return bleu_corpus(pairs, "cand", "ref", "doc_id", max_n=4)


def _bleu_oracle(max_n: int = 4) -> str:
    grams = (
        "SELECT pid, unnest(CASE WHEN len(w) >= {k} THEN"
        " list_transform(range(1, len(w) - {km2}),"
        " i -> {join}) ELSE [] END) AS g FROM {src}"
    )
    ctes = [
        (
            "p AS (SELECT doc_id AS pid, substr(text, 1, 150) AS cand,"
            " substr(text, 30, 170) AS ref FROM documents)"
        ),
        (
            "wc AS (SELECT pid, list_filter(regexp_split_to_array("
            "lower(cand), '[^a-z0-9]+'), x -> x != '') AS w FROM p)"
        ),
        (
            "wr AS (SELECT pid, list_filter(regexp_split_to_array("
            "lower(ref), '[^a-z0-9]+'), x -> x != '') AS w FROM p)"
        ),
    ]
    for k in range(1, max_n + 1):
        join = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
        g = grams.format(k=k, km2=k - 2, join=join, src="wc")
        r = grams.format(k=k, km2=k - 2, join=join, src="wr")
        ctes.append(
            f"gc{k} AS (SELECT pid, g, count(*) AS nc FROM ({g})"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"gr{k} AS (SELECT pid, g, count(*) AS nr FROM ({r})"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"s{k} AS (SELECT round(CAST((SELECT COALESCE("
            f"sum(least(nc, nr)), 0) FROM gc{k} JOIN gr{k}"
            " USING (pid, g)) AS DOUBLE) / CAST(greatest((SELECT"
            f" COALESCE(sum(nc), 0) FROM gc{k}), 1) AS DOUBLE), 6)"
            f" AS p{k})"
        )
    ctes.append(
        "lens AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,"
        " CAST(sum(len(wc.w)) AS BIGINT) AS cand_len,"
        " CAST(sum(len(wr.w)) AS BIGINT) AS ref_len"
        " FROM wc JOIN wr USING (pid))"
    )
    pk = ", ".join(f"p{k}" for k in range(1, max_n + 1))
    crosses = " CROSS JOIN ".join(f"s{k}" for k in range(1, max_n + 1))
    lnsum = " + ".join(f"ln(p{k})" for k in range(1, max_n + 1))
    allpos = " AND ".join(f"p{k} > 0" for k in range(1, max_n + 1))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT n_pairs, cand_len, ref_len, {pk},
      round(least(1.0, exp(1.0 - CAST(ref_len AS DOUBLE)
            / CAST(greatest(cand_len, 1) AS DOUBLE))), 6) AS bp,
      CASE WHEN {allpos} THEN
        round(round(least(1.0, exp(1.0 - CAST(ref_len AS DOUBLE)
              / CAST(greatest(cand_len, 1) AS DOUBLE))), 6)
              * exp(({lnsum}) / {float(max_n)}), 6) END AS bleu
    FROM lens CROSS JOIN {crosses}
    """
    )


ORACLES["bleu_corpus"] = _bleu_oracle()


_KN_FROZEN_KEEP = 4.2


def q_kn_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen Kneser-Ney serving twin (r12 — the unigram/BPE/ALS
    freeze precedent applied to the KN family: `lm_perplexity_kn5`
    trains in-query, the honest end-to-end cost, while THIS entry
    scores with the committed order-3 count tables from
    `_frozen.KN_MODEL` so the corpus-scale work is one map-only
    pass with codebook-sized broadcast joins — the serving path a
    real pipeline runs after amortizing the fit). The scoring input
    carries the planted OOV suffix so every backoff rung
    (3→2→1→unseen floor) is exercised. The oracle replays the
    same fixed-parenthesization chain from VALUES tables."""
    _prep(spark)
    from ._frozen import KN_MODEL
    from .operators.lm_filter import (
        kn_from_frozen,
        score_kn_ngram_perplexity,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    probe = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(_KN5_PROBE)).alias("text")
    )
    lm = kn_from_frozen(spark, KN_MODEL)
    scored = score_kn_ngram_perplexity(probe, lm)
    return scored.select(
        "doc_id",
        "n_ngrams",
        "avg_nll",
        (
            F.col("avg_nll").isNotNull()
            & (F.col("avg_nll") <= _KN_FROZEN_KEEP)
        ).alias("keep"),
    )


def _kn_frozen_oracle(suffix: str | None = None) -> str:
    """GENERATED from ``_frozen.KN_MODEL`` (static per commit):
    VALUES count tables + literal discounts, then the same n=3
    fixed-parenthesization probability chain as the in-query KN
    oracle."""
    from ._frozen import KN_MODEL as m

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    tc = ", ".join(
        f"({q(a)}, {q(b)}, {int(c)})" for a, b, c in m["top_counts"]
    )
    tctx = ", ".join(
        f"({q(a)}, {int(b)}, {int(c)})" for a, b, c in m["top_ctx"]
    )
    cont2 = ", ".join(
        f"({q(a)}, {q(b)}, {int(c)})" for a, b, c in m["cont"][2]
    )
    cctx2 = ", ".join(
        f"({q(a)}, {int(b)}, {int(c)})" for a, b, c in m["cont_ctx"][2]
    )
    uc = ", ".join(f"({q(a)}, {int(b)})" for a, b in m["uni_cont"])
    d1 = repr(float(m["discounts"][1]))
    d2 = repr(float(m["discounts"][2]))
    d3 = repr(float(m["discounts"][3]))
    t = repr(float(m["t_types"]))
    u = repr(float(m["u_types"]))
    v = repr(float(m["vocab_size"]))
    sfx = _KN5_PROBE if suffix is None else suffix
    return f"""
    WITH tc(ctx, x, c) AS (VALUES {tc}),
    tctx(ctx, c_ctx, n1p_ctx) AS (VALUES {tctx}),
    cont2(ctx, x, nc) AS (VALUES {cont2}),
    cctx2(ctx, ncs, n_after) AS (VALUES {cctx2}),
    uc(wu, n1p) AS (VALUES {uc}),
    pw AS (SELECT doc_id,
      list_filter(regexp_split_to_array(lower(text || '{sfx}'),
                  '[^a-z0-9]+'), y -> y != '') AS words
      FROM documents),
    socc AS (SELECT doc_id, unnest(CASE WHEN len(words) >= 3 THEN
      list_transform(range(1, len(words) - 1),
        i -> struct_pack(c2 := words[i+1],
                         c3 := words[i] || ' ' || words[i+1],
                         x := words[i+2])) ELSE [] END) AS p FROM pw),
    s AS (SELECT doc_id, p.c2 AS c2, p.c3 AS c3, p.x AS x FROM socc),
    j AS (SELECT s.doc_id,
      CAST(COALESCE(tc.c, 0) AS DOUBLE) AS c,
      CAST(COALESCE(tctx.c_ctx, 0) AS DOUBLE) AS c_ctx,
      CAST(COALESCE(tctx.n1p_ctx, 0) AS DOUBLE) AS n1p_ctx,
      CAST(COALESCE(uc.n1p, 0) AS DOUBLE) AS n1p,
      CAST(COALESCE(n2.nc, 0) AS DOUBLE) AS nc2,
      CAST(COALESCE(x2.ncs, 0) AS DOUBLE) AS ncs2,
      CAST(COALESCE(x2.n_after, 0) AS DOUBLE) AS na2
     FROM s
     LEFT JOIN tc ON tc.ctx = s.c3 AND tc.x = s.x
     LEFT JOIN tctx ON tctx.ctx = s.c3
     LEFT JOIN uc ON uc.wu = s.x
     LEFT JOIN cont2 n2 ON n2.ctx = s.c2 AND n2.x = s.x
     LEFT JOIN cctx2 x2 ON x2.ctx = s.c2),
    pr1 AS (SELECT doc_id, greatest(n1p - {d1}, 0.0) / {t}
      + (({d1} * {u}) / {t}) * (1.0 / {v}) AS p,
      c, c_ctx, n1p_ctx, nc2, ncs2, na2 FROM j),
    pr2 AS (SELECT doc_id, CASE WHEN ncs2 > 0 THEN
      greatest(nc2 - {d2}, 0.0) / ncs2 + (({d2} * na2) / ncs2) * p
      ELSE p END AS p, c, c_ctx, n1p_ctx FROM pr1),
    sc AS (SELECT doc_id, CAST(round(-ln(CASE WHEN c_ctx > 0 THEN
      greatest(c - {d3}, 0.0) / c_ctx + (({d3} * n1p_ctx) / c_ctx) * p
      ELSE p END), 6) AS DECIMAL(28,6)) AS nll_q FROM pr2),
    per AS (SELECT doc_id, count(*) AS n_ngrams,
      CAST(sum(nll_q) AS DOUBLE) / count(*) AS avg_nll
      FROM sc GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(COALESCE(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,
      per.avg_nll,
      (per.avg_nll IS NOT NULL AND per.avg_nll <= {_KN_FROZEN_KEEP})
        AS keep
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per USING (doc_id)
    """


ORACLES["kn_frozen"] = _kn_frozen_oracle()


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction from ranked responses (r12,
    operators/sft.py::preference_pairs — the DPO data-assembly step
    feeding preference_bias_report): 50 synthetic prompts with ~10
    ranked responses each (document prefixes, ranks cycling 1..6 so
    ties are exercised), every 11th response a planted CANNED reply
    shared across prompts — the cross-prompt dedup must drop all of
    them; within-prompt duplicate texts collapse to their best
    rank; best_vs_rest pairing with a 20-char length-match flag.
    The oracle replays dedup, the (rank, text) total order, and the
    pairing joins exactly."""
    _prep(spark)
    from .operators.sft import preference_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    resp = docs.select(
        F.concat(
            F.lit("p"), (F.col("doc_id") % 50).cast("string")
        ).alias("prompt"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("CANNED thanks for asking have a nice day"),
        )
        .otherwise(
            F.substring(
                "text", 1, (60 + (F.col("doc_id") % 7) * 15).cast("int")
            )
        )
        .alias("response"),
        F.expr("(doc_id div 50) % 6 + 1").cast("long").alias("rnk"),
    )
    return preference_pairs(
        resp,
        "prompt",
        "response",
        "rnk",
        strategy="best_vs_rest",
        length_match_tol=20,
    )


ORACLES["preference_pairs"] = """
    WITH resp AS (
      SELECT 'p' || CAST(doc_id % 50 AS VARCHAR) AS prompt,
        CASE WHEN doc_id % 11 = 0
             THEN 'CANNED thanks for asking have a nice day'
             ELSE substr(text, 1, CAST(60 + (doc_id % 7) * 15 AS INT))
        END AS resp,
        CAST((doc_id // 50) % 6 + 1 AS BIGINT) AS rnk
      FROM documents
    ), r0 AS (
      SELECT prompt, resp, min(rnk) AS rnk
      FROM resp
      WHERE resp IS NOT NULL AND length(resp) >= 1
      GROUP BY 1, 2
    ), multi AS (
      SELECT resp FROM r0 GROUP BY resp
      HAVING count(DISTINCT prompt) > 1
    ), r1 AS (
      SELECT * FROM r0 WHERE resp NOT IN (SELECT resp FROM multi)
    ), rr AS (
      SELECT prompt, resp, rnk,
        row_number() OVER (
          PARTITION BY prompt ORDER BY rnk ASC, resp ASC
        ) AS pos
      FROM r1
    )
    SELECT l.prompt, l.resp AS chosen, r.resp AS rejected,
      CAST(l.rnk AS BIGINT) AS chosen_rank,
      CAST(r.rnk AS BIGINT) AS rejected_rank,
      abs(length(l.resp) - length(r.resp)) <= 20 AS length_matched
    FROM rr l JOIN rr r ON l.prompt = r.prompt AND l.rnk < r.rnk
    WHERE l.pos = 1
"""


def q_streaming_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination gate across ≥2 REAL micro-batches
    (r12, streaming/ops.py::streaming_decontaminate — the streaming
    twin of `decontaminate_train`): documents split into even/odd
    batch files stream through a foreachBatch gate holding the eval
    set (doc_id % 7 == 0) as broadcast state — persisted distinct
    gram hashes built ONCE before the stream starts, probed per
    batch by the batch operator's shingle-overlap kernel
    (dedup/overlap.py). Docs sharing any 8-gram with the eval
    corpus divert to the quarantine side output, the rest pass
    through clean; eval docs
    streaming through quarantine themselves (their grams are the
    state). The oracle replays the gram decision and the literal
    batch split."""
    import glob
    import shutil
    import uuid

    from .streaming.ops import streaming_decontaminate

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = _fresh_tmp("skrub_strdecon_src_")
    os.makedirs(src)
    for i, part in enumerate(
        (
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        )
    ):
        d = f"{src}_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = _fresh_tmp("skrub_strdecon_out_")
    ckpt = _fresh_tmp("skrub_strdecon_ck_")
    q = streaming_decontaminate(
        stream,
        docs.filter(F.col("doc_id") % 7 == 0),
        "text",
        "doc_id",
        ngram=8,
        out_path=out,
        checkpoint_path=ckpt,
    )
    _await_stream(q, 2)
    return spark.read.parquet(out).select(
        "doc_id", "kind", "n_shingles", "n_contaminated", "batch_id"
    )


ORACLES["streaming_decontaminate"] = r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> x != '') AS words
      FROM documents
    ), s AS (
      SELECT doc_id,
        CASE WHEN len(words) >= 8 THEN
          list_distinct(list_transform(range(1, len(words) - 6),
            i -> array_to_string(list_slice(words, i, i + 7), ' ')))
        ELSE [] END AS sh
      FROM w
    ), eg AS (
      SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 7 = 0
    ), t AS (
      SELECT doc_id, unnest(sh) AS g FROM s
    ), hits AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM t JOIN eg USING (g) GROUP BY t.doc_id
    )
    SELECT s.doc_id,
      CASE WHEN COALESCE(h.n_hit, 0) > 0
           THEN 'quarantine' ELSE 'clean' END AS kind,
      CAST(len(sh) AS BIGINT) AS n_shingles,
      CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated,
      CAST(doc_id % 2 AS BIGINT) AS batch_id
    FROM s LEFT JOIN hits h USING (doc_id)
"""


_PII_CARDS = (
    "4111111111111111",  # Luhn-valid (Visa test PAN)
    "5500005555555559",  # Luhn-valid
    "4111 1111 1111 1111",  # Luhn-valid, spaced
    "6011000990139424",  # Luhn-valid
    "4111111111111112",  # INVALID (check digit off by one)
    "1234567890123456",  # INVALID
)
_PII_IBANS = (
    "DE89370400440532013000",  # mod-97 valid
    "GB82WEST12345698765432",  # mod-97 valid
    "FR1420041010050500013M02606",  # mod-97 valid
    "DE89370400440532013001",  # INVALID
    "GB82WEST12345698765431",  # INVALID
)


def _luhn_sql(digits_expr: str) -> str:
    """DuckDB Luhn mod-10 of a digit-string expression (1-based
    list index — DuckDB lambdas index from 1, Spark's from 0, so
    the doubled positions are the EVEN 1-based ones)."""
    ch = f"(ascii(substr(reverse({digits_expr}), i, 1)) - 48)"
    return (
        f"(list_sum(list_transform(range(1, len({digits_expr}) + 1),"
        f" i -> CASE WHEN i % 2 = 0 THEN"
        f" CASE WHEN 2 * {ch} > 9 THEN 2 * {ch} - 9 ELSE 2 * {ch} END"
        f" ELSE {ch} END)) % 10 = 0"
        f" AND regexp_matches({digits_expr}, '^[0-9]+$'))"
    )


def _iban_sql(x: str) -> str:
    """DuckDB IBAN mod-97 validity of expression ``x``: rearrange,
    expand letters to two digits, then fold 9-digit chunks through
    (acc*10^len + chunk) mod 97 — the chunking keeps every
    intermediate in int64 (the expanded string can exceed 38 digits,
    past HUGEINT)."""
    expanded = (
        f"array_to_string(list_transform(list_filter("
        f"regexp_split_to_array(substr({x}, 5, 100) || substr({x}, 1, 4),"
        f" ''), ch -> ch != ''),"
        f" ch -> CASE WHEN ch BETWEEN '0' AND '9' THEN ch"
        f" ELSE CAST(ascii(ch) - 55 AS VARCHAR) END), '')"
    )
    fold = (
        f"list_reduce(list_prepend('0',"
        f" regexp_extract_all({expanded}, '.{{1,9}}')),"
        f" (a, c) -> CAST((CAST(a AS BIGINT)"
        f" * CAST('1' || repeat('0', len(c)) AS BIGINT)"
        f" + CAST(c AS BIGINT)) % 97 AS VARCHAR))"
    )
    return (
        f"(regexp_matches({x}, '^[A-Z]{{2}}[0-9]{{2}}[A-Z0-9]{{11,30}}$')"
        f" AND len({x}) BETWEEN 15 AND 34 AND {fold} = '1')"
    )


def q_pii_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validating PII redaction (r12,
    functions/text.py::redact_pii_checksum — the production upgrade
    of `pii_redaction`'s regex-only pass, which over-fires on any
    card-shaped digit run): plant one card candidate (4 Luhn-valid
    incl. a spaced PAN, 2 invalid), one IBAN candidate (3 mod-97
    valid, 2 invalid) and a doc-derived 15-digit run per document,
    then redact with checksum validation FIRST and the regex
    email/IP/phone chain second — invalid candidates must survive
    the checksum pass (and fall through to <PHONE> when
    digit-run-shaped), valid ones become <CARD>/<IBAN>. Exact
    byte-level oracle: DuckDB replays extraction, Luhn and mod-97
    integer validation, and the literal-replace fold."""
    _prep(spark)
    from .functions.text import redact_pii, redact_pii_checksum

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    card = F.element_at(
        F.array(*[F.lit(x) for x in _PII_CARDS]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    iban = F.element_at(
        F.array(*[F.lit(x) for x in _PII_IBANS]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    run = F.concat(
        F.lit("9"), F.lpad(F.col("doc_id").cast("string"), 14, "0")
    )
    planted = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" pay "),
            card,
            F.lit(" ref "),
            run,
            F.lit(" acct "),
            iban,
            F.lit(" end"),
        ).alias("text2"),
    )
    return planted.select(
        "doc_id",
        redact_pii(redact_pii_checksum(F.col("text2"))).alias("redacted"),
    )


def _pii_checksum_oracle() -> str:
    cards = ", ".join(f"'{c}'" for c in _PII_CARDS)
    ibans = ", ".join(f"'{c}'" for c in _PII_IBANS)
    luhn = _luhn_sql("regexp_replace(x, '[^0-9]', '', 'g')")
    iban_ok = _iban_sql("x")
    spaced = r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{1,7}\b"
    plain = r"\b\d{13,19}\b"
    iban_pat = r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b"
    return f"""
    WITH base AS (
      SELECT doc_id,
        substr(text, 1, 40) || ' pay '
          || [{cards}][CAST(doc_id % 6 + 1 AS INTEGER)]
          || ' ref ' || '9' || lpad(CAST(doc_id AS VARCHAR), 14, '0')
          || ' acct ' || [{ibans}][CAST(doc_id % 5 + 1 AS INTEGER)]
          || ' end' AS t
      FROM documents
    ), p1 AS (
      SELECT doc_id, list_reduce(list_prepend(t,
        list_filter(regexp_extract_all(t, '{spaced}'), x -> {luhn})),
        (acc, x) -> replace(acc, x, '<CARD>')) AS t
      FROM base
    ), p2 AS (
      SELECT doc_id, list_reduce(list_prepend(t,
        list_filter(regexp_extract_all(t, '{plain}'), x -> {luhn})),
        (acc, x) -> replace(acc, x, '<CARD>')) AS t
      FROM p1
    ), p3 AS (
      SELECT doc_id, list_reduce(list_prepend(t,
        list_filter(regexp_extract_all(t, '{iban_pat}'), x -> {iban_ok})),
        (acc, x) -> replace(acc, x, '<IBAN>')) AS t
      FROM p2
    )
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
        '<EMAIL>', 'g'),
        '\\b(\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
        '\\+?\\d[\\d \\-]{{6,}}\\d', '<PHONE>', 'g') AS redacted
    FROM p3
    """


ORACLES["pii_checksum"] = _pii_checksum_oracle()


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (r12b,
    report/agreement.py::krippendorff_alpha — the missing-data
    generalization of the kappa family): three planted annotators
    over documents with planted ABSENCES (annotator 2 skips every
    3rd item, annotator 3 every 11th; disagreements on every 7th
    and 5th), so panel sizes vary 1..3 and the single-vote units
    (doc_id % 33 == 0) exercise the <2-ratings drop. alpha is ONE
    IEEE division on exact lcm-scaled DECIMAL(38,0) integers; the
    oracle replays them in HUGEINT."""
    _prep(spark)
    from .report.agreement import krippendorff_alpha

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    r1, r2, r3 = _annotator_cols()
    votes = (
        docs.select("doc_id", r1.alias("rating"))
        .unionByName(
            docs.where(F.col("doc_id") % 3 != 0).select(
                "doc_id", r2.alias("rating")
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 11 != 0).select(
                "doc_id", r3.alias("rating")
            )
        )
    )
    return krippendorff_alpha(
        votes, "doc_id", "rating", max_raters=8
    )


ORACLES["krippendorff_alpha"] = """
    WITH votes AS (
      SELECT doc_id, 'c' || CAST(doc_id % 4 AS VARCHAR) AS r
      FROM documents
      UNION ALL
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0
             THEN 'c' || CAST((doc_id % 4 + 1) % 4 AS VARCHAR)
             ELSE 'c' || CAST(doc_id % 4 AS VARCHAR) END
      FROM documents WHERE doc_id % 3 != 0
      UNION ALL
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0
             THEN 'c' || CAST((doc_id % 4 + 2) % 4 AS VARCHAR)
             ELSE 'c' || CAST(doc_id % 4 AS VARCHAR) END
      FROM documents WHERE doc_id % 11 != 0
    ), cells AS (
      SELECT doc_id AS u, r, CAST(count(*) AS HUGEINT) AS c
      FROM votes GROUP BY 1, 2
    ), per_unit AS (
      SELECT u, sum(c) AS m FROM cells GROUP BY 1
    ), kept AS (
      SELECT cells.u, cells.r, cells.c, per_unit.m
      FROM cells JOIN per_unit ON cells.u = per_unit.u
      WHERE per_unit.m BETWEEN 2 AND 8
    ), top AS (
      SELECT COALESCE(sum((420 // (m - 1)) * c * (m - c)), 0) AS dol,
        COALESCE(sum(c), 0) AS p,
        CAST(count(DISTINCT u) AS HUGEINT) AS n_units
      FROM kept
    ), marg AS (
      SELECT COALESCE(sum(nc * nc), 0) AS s FROM (
        SELECT r, sum(c) AS nc FROM kept GROUP BY 1)
    )
    SELECT CAST(n_units AS BIGINT) AS n_units,
      CAST(p AS BIGINT) AS n_ratings,
      CASE WHEN p > 0 THEN
        round(CAST(dol AS DOUBLE) / CAST(420 * p AS DOUBLE), 6)
      END AS "do",
      CASE WHEN p * (p - 1) > 0 THEN
        round(CAST(p * p - s AS DOUBLE)
              / CAST(p * (p - 1) AS DOUBLE), 6) END AS de,
      CASE WHEN p * p - s != 0 THEN
        round(1.0 - CAST(dol * (p - 1) AS DOUBLE)
              / CAST(420 * (p * p - s) AS DOUBLE), 6) END AS alpha
    FROM top CROSS JOIN marg
"""


def q_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini / uplift curve (r12b,
    report/experiment.py::uplift_curve — the treatment-effect
    analogue of gains_table): planted integer uplift score
    ((l_partkey·31 + l_suppkey) % 1000), treatment = supplier
    parity, outcome = returned flag, ten exact-edge score deciles.
    Every rate is an IEEE division of exact DECIMAL(38,0) integers;
    the oracle replays the decile edge rule and the Qini algebra in
    HUGEINT."""
    _prep(spark)
    from .report.experiment import uplift_curve

    li = load_table(spark, sf_dir, "lineitem").select(
        ((F.col("l_partkey") * 31 + F.col("l_suppkey")) % 1000)
        .cast("int")
        .alias("score"),
        (F.col("l_suppkey") % 2).cast("int").alias("treated"),
        (F.col("l_returnflag") == "R").cast("int").alias("converted"),
    )
    return uplift_curve(li, "score", "treated", "converted", 10)


def _uplift_oracle() -> str:
    edge_sel = ",\n        ".join(
        f"min(CASE WHEN cum >= ({1000 * i} * n + 9999) // 10000"
        f" THEN v END) AS e{i}"
        for i in range(1, 10)
    )
    bin_expr = "\n           + ".join(
        f"(CASE WHEN s >= e{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
    )
    return f"""
    WITH scored AS (
      SELECT CAST((l_partkey * 31 + l_suppkey) % 1000 AS INTEGER) AS s,
        CAST(l_suppkey % 2 AS INTEGER) AS t,
        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ), vc AS (
      SELECT s AS v, count(*) AS c FROM scored GROUP BY 1
    ), cum AS (
      SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        AS cum
      FROM vc
    ), ntot AS (SELECT count(*) AS n FROM scored),
    e AS (
      SELECT
        {edge_sel}
      FROM cum CROSS JOIN ntot
    ), per AS (
      SELECT CAST({bin_expr} AS INTEGER) AS bucket,
        CAST(sum(t) AS HUGEINT) AS nt,
        CAST(sum(1 - t) AS HUGEINT) AS nc,
        CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS HUGEINT) AS yt,
        CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS HUGEINT) AS yc
      FROM scored CROSS JOIN e GROUP BY 1
    ), tot AS (
      SELECT sum(nt) AS tnt, sum(nc) AS tnc,
        sum(yt) AS tyt, sum(yc) AS tyc
      FROM per
    ), c AS (
      SELECT bucket, nt, nc, yt, yc,
        sum(nt) OVER wd AS cnt, sum(nc) OVER wd AS cnc,
        sum(yt) OVER wd AS cyt, sum(yc) OVER wd AS cyc
      FROM per
      WINDOW wd AS (ORDER BY bucket DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT bucket,
      CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
      CAST(yt AS BIGINT) AS y_t, CAST(yc AS BIGINT) AS y_c,
      CAST(cnt AS BIGINT) AS cum_n_t, CAST(cnc AS BIGINT) AS cum_n_c,
      CAST(cyt AS BIGINT) AS cum_y_t, CAST(cyc AS BIGINT) AS cum_y_c,
      CASE WHEN cnt > 0 AND cnc > 0 THEN
        round(CAST(cyt AS DOUBLE) / CAST(cnt AS DOUBLE)
              - CAST(cyc AS DOUBLE) / CAST(cnc AS DOUBLE), 6)
      END AS uplift_cum,
      CASE WHEN cnc > 0 THEN
        round(CAST(cyt * cnc - cyc * cnt AS DOUBLE)
              / CAST(cnc AS DOUBLE), 6) END AS qini,
      CASE WHEN tnc > 0 AND tnt + tnc > 0 THEN
        round(CAST((tyt * tnc - tyc * tnt) * (cnt + cnc) AS DOUBLE)
              / CAST(tnc * (tnt + tnc) AS DOUBLE), 6)
      END AS qini_random
    FROM c CROSS JOIN tot
    """


ORACLES["uplift_qini"] = _uplift_oracle()


def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hajek IPW average treatment effect (r12b,
    report/experiment.py::ipw_ate): planted 6dp propensity
    ((l_orderkey·7 % 1000)/1000), treatment = supplier parity,
    outcome = returned flag, 5% symmetric trim (the planted
    propensities straddle both trim edges, so n_trimmed is
    exercised). Both Hajek means are single IEEE divisions of
    exact HUGEINT weight sums."""
    _prep(spark)
    from .report.experiment import ipw_ate

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 2).cast("int").alias("treated"),
        (F.col("l_returnflag") == "R").cast("int").alias("converted"),
        (
            ((F.col("l_orderkey") * 7) % 1000).cast("double") / 1000.0
        ).alias("propensity"),
    )
    return ipw_ate(
        li, "treated", "converted", "propensity", trim=0.05
    )


ORACLES["ipw_ate"] = """
    WITH base AS (
      SELECT CAST(l_suppkey % 2 AS INTEGER) AS t,
        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        CAST(round(CAST((l_orderkey * 7) % 1000 AS DOUBLE)
                   / 1000.0 * 1e6, 0) AS BIGINT) AS e6
      FROM lineitem
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN e6 < 50000 OR e6 > 950000
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed,
        CAST(sum(CASE WHEN e6 BETWEEN 50000 AND 950000 AND t = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
        CAST(sum(CASE WHEN e6 BETWEEN 50000 AND 950000 AND t = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
        COALESCE(sum(CASE WHEN e6 BETWEEN 50000 AND 950000 AND t = 1
          THEN CAST(round(1e12 / e6, 0) AS HUGEINT) END), 0) AS swt,
        COALESCE(sum(CASE WHEN e6 BETWEEN 50000 AND 950000 AND t = 1
          THEN CAST(round(1e12 / e6, 0) AS HUGEINT) * y END), 0)
          AS swty,
        COALESCE(sum(CASE WHEN e6 BETWEEN 50000 AND 950000 AND t = 0
          THEN CAST(round(1e12 / (1000000 - e6), 0) AS HUGEINT) END),
          0) AS swc,
        COALESCE(sum(CASE WHEN e6 BETWEEN 50000 AND 950000 AND t = 0
          THEN CAST(round(1e12 / (1000000 - e6), 0) AS HUGEINT) * y
          END), 0) AS swcy
      FROM base
    )
    SELECT n, n_treated, n_control, n_trimmed,
      CASE WHEN swt > 0 THEN
        round(CAST(swty AS DOUBLE) / CAST(swt AS DOUBLE), 6)
      END AS mean_treated,
      CASE WHEN swc > 0 THEN
        round(CAST(swcy AS DOUBLE) / CAST(swc AS DOUBLE), 6)
      END AS mean_control,
      CASE WHEN swt > 0 AND swc > 0 THEN
        round(round(CAST(swty AS DOUBLE) / CAST(swt AS DOUBLE), 6)
              - round(CAST(swcy AS DOUBLE) / CAST(swc AS DOUBLE), 6),
              6)
      END AS ate
    FROM agg
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity + t-closeness audit (r12b,
    report/privacy.py::t_closeness_report — the two release gates
    past plain k-anonymity): quasi = (nation, market segment),
    sensitive = account-balance band (exact integer cents, shifted
    positive so the band DIV floors identically cross-engine).
    Entropy sums 6dp-quantized c·ln(c) micro terms exactly; tvd's
    numerator is exact integer arithmetic — both single IEEE
    divisions."""
    _prep(spark)
    from .report.privacy import t_closeness_report

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "(CAST(c_acctbal * 100 AS BIGINT) + 100000) div 200000"
        ).alias("bal_band"),
    )
    return t_closeness_report(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", l=3, t=0.2
    )


ORACLES["t_closeness"] = """
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
        CAST((CAST(c_acctbal * 100 AS BIGINT) + 100000) // 200000
             AS VARCHAR) AS s
      FROM customer
    ), cells AS (
      SELECT c_nationkey, c_mktsegment, s,
        CAST(count(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2, 3
    ), gtot AS (
      SELECT c_nationkey, c_mktsegment, sum(c) AS n
      FROM cells GROUP BY 1, 2
    ), marg AS (
      SELECT s, sum(c) AS m FROM cells GROUP BY 1
    ), tot AS (SELECT sum(m) AS N FROM marg),
    per AS (
      SELECT cells.c_nationkey, cells.c_mktsegment,
        max(n) AS n,
        CAST(count(*) AS BIGINT) AS l_distinct,
        sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                       * 1e6, 0) AS HUGEINT)) AS t6,
        sum(abs(c * (SELECT N FROM tot) - n * m)) AS num,
        sum(m) AS mp,
        max((SELECT N FROM tot)) AS Nx
      FROM cells
      JOIN gtot ON cells.c_nationkey = gtot.c_nationkey
        AND cells.c_mktsegment = gtot.c_mktsegment
      JOIN marg ON cells.s = marg.s
      GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
      l_distinct,
      round(ln(CAST(n AS DOUBLE))
            - CAST(t6 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
        AS entropy,
      round(CAST(num + n * (Nx - mp) AS DOUBLE)
            / CAST(2 * n * Nx AS DOUBLE), 6) AS tvd,
      (round(ln(CAST(n AS DOUBLE))
             - CAST(t6 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
       < round(ln(3.0), 6)) AS risky_l,
      (round(CAST(num + n * (Nx - mp) AS DOUBLE)
             / CAST(2 * n * Nx AS DOUBLE), 6) > 0.2) AS risky_t
    FROM per
"""


def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded differentially-private histogram (r12b,
    report/privacy.py::dp_histogram — Laplace mechanism with a
    DETERMINISTIC md5-seeded draw, so the release replays
    bit-identically): order counts per priority at epsilon 1.0.
    The oracle re-derives the same 53-bit uniform and inverse-CDF
    noise."""
    _prep(spark)
    from .report.privacy import dp_histogram

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority"
    )
    return dp_histogram(
        orders, ["o_orderpriority"], epsilon=1.0, seed="dp-r12"
    )


ORACLES["dp_histogram"] = """
    WITH counts AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), noised AS (
      SELECT o_orderpriority, n,
        ((CAST(('0x' || substr(md5('dp-r12' || chr(31)
                || o_orderpriority), 1, 15))::BIGINT
           % 9007199254740992 AS DOUBLE) + 0.5)
         / 9007199254740992.0) - 0.5 AS u
      FROM counts
    ), fin AS (
      SELECT o_orderpriority,
        round(CAST(n AS DOUBLE)
              + (-1.0) * sign(u) * ln(1.0 - 2.0 * abs(u)), 6)
          AS noisy_n
      FROM noised
    )
    SELECT o_orderpriority, noisy_n,
      greatest(CAST(0 AS BIGINT),
               CAST(round(noisy_n, 0) AS BIGINT)) AS dp_n,
      CAST(1.0 AS DOUBLE) AS epsilon
    FROM fin
"""


def q_rho_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss learnability selection (r12b,
    operators/lm_filter.py::rho_select — Mindermann 2022 composed
    from two proven scoring replays): current model = add-one
    bigram trained in-query on the corpus (the lm_perplexity_filter
    path), reference = the committed frozen KN trigram scored on
    RAW text (probe suffix empty), rho = excess NLL, top-200 by
    (rho DESC, doc_id). The oracle nests both full scoring queries
    as CTEs and replays the same total order."""
    _prep(spark)
    from ._frozen import KN_MODEL
    from .functions.text import words_az09
    from .operators.lm_filter import (
        kn_from_frozen,
        rho_select,
        score_kn_ngram_perplexity,
        score_ngram_perplexity,
        train_ngram_lm,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r13 (guide §2.4/§1.2, VERDICT r12 #4): the in-query bigram
    # trainer, its scorer AND the frozen-KN scorer all tokenize the
    # same corpus — formerly 5 independent words_az09 regex passes
    # (train pairs x2 count frames, vocab, cur occurrences, ref
    # occurrences), each from its own parquet scan. Tokenize ONCE
    # into a persisted narrow (doc_id, words) frame and point every
    # pass at the cached arrays: identical tokens -> identical grams
    # -> identical scores (oracle-verified). The persist backs the
    # returned lazy frame; see skrub_spark.release for the cache contract.
    tok = docs.select(
        "doc_id", words_az09("text").alias("__words")
    ).persist()
    lm = train_ngram_lm(tok, n=2, words_col="__words")
    cur = score_ngram_perplexity(tok, lm, alpha=1.0, words_col="__words")
    ref = score_kn_ngram_perplexity(
        tok, kn_from_frozen(spark, KN_MODEL), words_col="__words"
    )
    return rho_select(cur, ref, 200)


def _rho_oracle() -> str:
    cur = """
        WITH w AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                        x -> x != '') AS words
          FROM documents
        ), occ AS (
          SELECT doc_id, unnest(
            CASE WHEN len(words) >= 2 THEN
              list_transform(range(1, len(words)),
                i -> struct_pack(gram := words[i] || ' ' || words[i+1],
                                 ctx := words[i]))
            ELSE [] END) AS p
          FROM w
        ), pairs AS (
          SELECT doc_id, p.gram AS gram, p.ctx AS ctx FROM occ
        ), cnt AS (
          SELECT gram, count(*) AS c FROM pairs GROUP BY gram
        ), ctxc AS (
          SELECT ctx, count(*) AS ctx_c FROM pairs GROUP BY ctx
        ), v AS (
          SELECT count(DISTINCT x) AS vs
          FROM (SELECT unnest(words) AS x FROM w)
        ), sc AS (
          SELECT p.doc_id,
            CAST(round(-ln((cnt.c + 1.0) / (ctxc.ctx_c + 1.0 * v.vs)), 6)
                 AS DECIMAL(28,6)) AS nll_q
          FROM pairs p JOIN cnt USING (gram) JOIN ctxc USING (ctx)
          CROSS JOIN v
        )
        SELECT doc_id,
               CAST(sum(nll_q) AS DOUBLE) / count(*) AS avg_nll
        FROM sc GROUP BY doc_id
    """
    return f"""
    WITH cur AS ({cur}),
    ref AS ({_kn_frozen_oracle(suffix="")})
    SELECT cur.doc_id,
      round(cur.avg_nll, 6) AS nll_model,
      round(ref.avg_nll, 6) AS nll_ref,
      round(cur.avg_nll - ref.avg_nll, 6) AS rho
    FROM cur JOIN ref ON cur.doc_id = ref.doc_id
    WHERE cur.avg_nll IS NOT NULL AND ref.avg_nll IS NOT NULL
    ORDER BY round(cur.avg_nll - ref.avg_nll, 6) DESC, cur.doc_id
    LIMIT 200
    """


ORACLES["rho_selection"] = _rho_oracle()


def q_irt_rasch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasch 1PL PROX calibration (r12b,
    report/agreement.py::rasch_prox — annotator ability and item
    difficulty on one logit scale): persons = customer-key cohorts,
    items = order priorities with planted difficulty (threshold =
    the priority's leading digit, so '5-LOW' is all-correct and
    exercises the extreme-item drop). Logits are 6dp micro
    integers, the item mean is the exact HALF_UP integer mean, and
    both PROX variances come from exact HUGEINT sums of squares."""
    _prep(spark)
    from .report.agreement import rasch_prox

    orders = load_table(spark, sf_dir, "orders").select(
        F.concat(
            F.lit("p"), (F.col("o_custkey") % 20).cast("string")
        ).alias("person"),
        F.col("o_orderpriority").alias("item"),
        (
            (F.col("o_custkey") * 7 + F.col("o_orderkey")) % 5
            < F.substring("o_orderpriority", 1, 1).cast("int")
        )
        .cast("int")
        .alias("correct"),
    )
    return rasch_prox(orders, "person", "item", "correct")


ORACLES["irt_rasch"] = """
    WITH base AS (
      SELECT 'p' || CAST(o_custkey % 20 AS VARCHAR) AS p,
        o_orderpriority AS i,
        CASE WHEN (o_custkey * 7 + o_orderkey) % 5 <
          CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
          THEN 1 ELSE 0 END AS c
      FROM orders
    ), items AS (
      SELECT i, CAST(count(*) AS BIGINT) AS ni,
        CAST(sum(c) AS BIGINT) AS si
      FROM base GROUP BY 1
    ), kept_items AS (
      SELECT * FROM items WHERE si > 0 AND si < ni
    ), base2 AS (
      SELECT base.p, base.i, base.c
      FROM base JOIN kept_items ON base.i = kept_items.i
    ), pers AS (
      SELECT p, CAST(count(*) AS BIGINT) AS lp,
        CAST(sum(c) AS BIGINT) AS rp
      FROM base2 GROUP BY 1
    ), kept_pers AS (
      SELECT * FROM pers WHERE rp > 0 AND rp < lp
    ), it AS (
      SELECT i, ni, si,
        CAST(round(ln(CAST(ni - si AS DOUBLE) / CAST(si AS DOUBLE))
                   * 1e6, 0) AS HUGEINT) AS q
      FROM kept_items
    ), isum AS (
      SELECT sum(q) AS qs, CAST(count(*) AS HUGEINT) AS ki FROM it
    ), mu AS (
      SELECT CASE WHEN qs >= 0 THEN (2 * qs + ki) // (2 * ki)
             ELSE -((-2 * qs + ki) // (2 * ki)) END AS mu
      FROM isum
    ), itc AS (
      SELECT i, ni, si, q - (SELECT mu FROM mu) AS d FROM it
    ), ivar AS (
      SELECT sum(d * d) AS sdd, CAST(count(*) AS HUGEINT) AS ki2
      FROM itc
    ), pe AS (
      SELECT p, lp, rp,
        CAST(round(ln(CAST(rp AS DOUBLE) / CAST(lp - rp AS DOUBLE))
                   * 1e6, 0) AS HUGEINT) AS q
      FROM kept_pers
    ), pvar AS (
      SELECT sum(q * q) AS sqq, sum(q) AS sq,
        CAST(count(*) AS HUGEINT) AS kp
      FROM pe
    ), sc AS (
      SELECT
        CASE WHEN ki2 > 1 THEN
          CAST(sdd AS DOUBLE) / 1e12 / CAST(ki2 - 1 AS DOUBLE)
        END AS vd,
        CASE WHEN kp > 1 THEN
          (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)
             * CAST(sq AS DOUBLE) / CAST(kp AS DOUBLE))
          / 1e12 / CAST(kp - 1 AS DOUBLE)
        END AS vb
      FROM ivar CROSS JOIN pvar
    ), ex AS (
      SELECT
        CASE WHEN 1.0 - vb * vd / 8.35 > 0 THEN
          sqrt((1.0 + vb / 2.89) / (1.0 - vb * vd / 8.35))
        END AS exi,
        CASE WHEN 1.0 - vb * vd / 8.35 > 0 THEN
          sqrt((1.0 + vd / 2.89) / (1.0 - vb * vd / 8.35))
        END AS exp_
      FROM sc
    )
    SELECT 'item' AS kind, i AS id, ni AS n_obs, si AS n_correct,
      round(CAST(d AS DOUBLE) / 1e6, 6) AS logit,
      round(CAST(d AS DOUBLE) / 1e6 * (SELECT exi FROM ex), 6)
        AS measure
    FROM itc
    UNION ALL
    SELECT 'person', p, lp, rp,
      round(CAST(q AS DOUBLE) / 1e6, 6),
      round(CAST(q AS DOUBLE) / 1e6 * (SELECT exp_ FROM ex), 6)
    FROM pe
"""


def q_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power / MDE sizing report (r12b,
    report/abtest.py::ab_power_report — the pre-experiment
    calculator: detectable lift at current traffic + required n per
    arm for a 2% target, z constants embedded as exact literals so
    no erf-inverse is needed in either engine): order totalprice by
    priority, alpha 0.05, power 0.8. Variance is the single exact
    integer ratio (nΣx²−(Σx)²)/(n(n−1)) in micro² space."""
    _prep(spark)
    from .report.abtest import ab_power_report

    orders = load_table(spark, sf_dir, "orders")
    return ab_power_report(
        orders,
        "o_totalprice",
        "o_orderpriority",
        alpha=0.05,
        power=0.80,
        mde_rel=0.02,
    )


def _ab_power_oracle() -> str:
    from .report.abtest import _Z_ALPHA, _Z_POWER

    z = repr(_Z_ALPHA[0.05] + _Z_POWER[0.80])
    return f"""
    WITH agg AS (
      SELECT o_orderpriority,
        CAST(count(*) AS HUGEINT) AS n,
        sum(CAST(o_totalprice * 1000000 AS HUGEINT)) AS sx,
        sum(CAST(o_totalprice * 1000000 AS HUGEINT)
            * CAST(o_totalprice * 1000000 AS HUGEINT)) AS sxx
      FROM orders
      WHERE o_totalprice IS NOT NULL
      GROUP BY 1
    ), m AS (
      SELECT o_orderpriority, n,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mean,
        CASE WHEN n > 1 THEN
          CAST(n * sxx - sx * sx AS DOUBLE)
          / CAST(n * (n - 1) AS DOUBLE) / 1e12
        END AS var,
        CASE WHEN n > 1 THEN
          CAST((2 * (n * sxx - sx * sx) + n * (n - 1) * 1000000)
               // (2 * n * (n - 1) * 1000000) AS DOUBLE) / 1e6
        END AS var6,
        CAST(n // 2 AS DOUBLE) AS n_arm
      FROM agg
    ), e AS (
      SELECT o_orderpriority, n, mean, var, var6,
        CASE WHEN n_arm > 0 AND var > 0 THEN
          {z} * sqrt(2.0 * var / n_arm)
        END AS mde_abs,
        mean * CAST(0.02 AS DOUBLE) AS target_abs
      FROM m
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
      round(mean, 6) AS mean,
      var6 AS variance,
      round(mde_abs, 6) AS mde_abs,
      CASE WHEN mean != 0 THEN round(mde_abs / mean, 6)
      END AS mde_rel_achievable,
      CASE WHEN var > 0 AND target_abs != 0 THEN
        CAST(ceil(2.0 * var * {z} * {z}
                  / (target_abs * target_abs)) AS BIGINT)
      END AS n_per_arm_target
    FROM e
    """


ORACLES["ab_power"] = _ab_power_oracle()


def q_aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust AIPW ATE (r12b,
    report/experiment.py::aipw_ate): same planted propensity and
    treatment/outcome as ipw_ate plus two planted 6dp
    outcome-model scores; influence-function SE and 95% CI. The
    per-row pseudo-outcome is a fixed IEEE chain, 6dp-quantized,
    so the corpus sums replay exactly in HUGEINT."""
    _prep(spark)
    from .report.experiment import aipw_ate

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 2).cast("int").alias("treated"),
        (F.col("l_returnflag") == "R")
        .cast("int")
        .cast("double")
        .alias("converted"),
        (
            ((F.col("l_orderkey") * 7) % 1000).cast("double") / 1000.0
        ).alias("propensity"),
        (
            ((F.col("l_partkey") * 13) % 800).cast("double") / 1000.0
            + 0.1
        ).alias("m1"),
        (
            ((F.col("l_partkey") * 17) % 800).cast("double") / 1000.0
            + 0.05
        ).alias("m0"),
    )
    return aipw_ate(
        li,
        "treated",
        "converted",
        "propensity",
        "m1",
        "m0",
        trim=0.05,
    )


ORACLES["aipw_ate"] = """
    WITH base AS (
      SELECT CAST(l_suppkey % 2 AS INTEGER) AS t,
        CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
             AS DOUBLE) AS y,
        round(CAST((l_orderkey * 7) % 1000 AS DOUBLE)
              / 1000.0 * 1e6, 0) AS e6,
        round(CAST((l_partkey * 13) % 800 AS DOUBLE) / 1000.0
              + 0.1, 6) AS m1,
        round(CAST((l_partkey * 17) % 800 AS DOUBLE) / 1000.0
              + 0.05, 6) AS m0
      FROM lineitem
    ), psi AS (
      SELECT t, e6,
        CASE WHEN e6 BETWEEN 50000 AND 950000 THEN
          CAST(round((m1 - m0
            + CAST(t AS DOUBLE) * (y - m1) / (e6 / 1e6)
            - (1.0 - CAST(t AS DOUBLE)) * (y - m0)
              / (1.0 - e6 / 1e6)) * 1e6, 0) AS HUGEINT)
        END AS p6
      FROM base
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN p6 IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_trimmed,
        COALESCE(sum(p6), 0) AS sp,
        COALESCE(sum(p6 * p6), 0) AS spp,
        CAST(count(p6) AS HUGEINT) AS nk
      FROM psi
    ), fin AS (
      SELECT n, n_trimmed, nk,
        CAST(sp AS DOUBLE) / CAST(nk AS DOUBLE) / 1e6 AS ate,
        sqrt((CASE WHEN nk > 1 THEN
          (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)
             * CAST(sp AS DOUBLE) / CAST(nk AS DOUBLE))
          / 1e12 / CAST(nk - 1 AS DOUBLE) END)
          / CAST(nk AS DOUBLE)) AS se
      FROM agg
    )
    SELECT n, n_trimmed,
      CASE WHEN nk > 0 THEN round(ate, 6) END AS ate,
      round(se, 6) AS se,
      round(ate - 1.959963984540054 * se, 6) AS ci_lo,
      round(ate + 1.959963984540054 * se, 6) AS ci_hi
    FROM fin
"""


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram pair extraction with Mikolov subsampling (r12b,
    operators/collocations.py::skipgram_pairs): window ±2 over the
    subsample-compressed sequence, t = 1e-3 (frequent words in the
    documents corpus get probabilistically dropped via the
    deterministic md5 draw), pairs kept at cnt >= 2."""
    _prep(spark)
    from .operators.collocations import skipgram_pairs

    docs = load_table(spark, sf_dir, "documents")
    return skipgram_pairs(
        docs,
        "text",
        "doc_id",
        window=2,
        subsample_t=1e-3,
        min_count=2,
        seed="sg",
    )


ORACLES["skipgram_pairs"] = """
    WITH pw AS (
      SELECT doc_id AS d,
        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x != '') AS words
      FROM documents
    ), tk AS (
      SELECT d, t.pos AS pos, t.w AS w FROM (
        SELECT d, unnest(list_transform(range(1, len(words) + 1),
          i -> struct_pack(pos := i - 1, w := words[i]))) AS t
        FROM pw) s
    ), freq AS (
      SELECT w, CAST(count(*) AS HUGEINT) AS c FROM tk GROUP BY 1
    ), tot AS (SELECT sum(c) AS tc FROM freq),
    kept AS (
      SELECT d, pos, w
      FROM tk JOIN freq USING (w) CROSS JOIN tot
      WHERE CAST(('0x' || substr(md5('sg' || ':'
              || CAST(d AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
              || ':' || w), 1, 15))::BIGINT AS DOUBLE)
            / 1152921504606846976.0
        < least(CAST(1.0 AS DOUBLE),
            (sqrt((CAST(c AS DOUBLE) / CAST(tc AS DOUBLE))
                  / CAST(0.001 AS DOUBLE)) + 1.0)
            * (CAST(0.001 AS DOUBLE)
               / (CAST(c AS DOUBLE) / CAST(tc AS DOUBLE))))
    ), seq AS (
      SELECT d, w,
        row_number() OVER (PARTITION BY d ORDER BY pos) AS r
      FROM kept
    ), pairs AS (
      SELECT a.w AS wa, b.w AS wb
      FROM seq a JOIN seq b
        ON a.d = b.d AND b.r > a.r AND b.r <= a.r + 2
    ), bidir AS (
      SELECT wa AS center, wb AS context FROM pairs
      UNION ALL
      SELECT wb, wa FROM pairs
    )
    SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
    FROM bidir GROUP BY 1, 2
    HAVING count(*) >= 2
"""


def q_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein drift (r12b,
    report/drift.py::wasserstein_1d — the how-far-did-mass-move
    companion to PSI/KS/chi2 in the drift family): extended price
    of returned vs non-returned line items. Exact integer step
    terms |cum_r·n_c − cum_c·n_r|·Δv6 summed in DECIMAL(38,0);
    w1 is one IEEE division."""
    _prep(spark)
    from .report.drift import wasserstein_1d

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return wasserstein_1d(
        li.where(F.col("l_returnflag") == "R"),
        li.where(F.col("l_returnflag") == "N"),
        "l_extendedprice",
    )


ORACLES["drift_wasserstein"] = """
    WITH a AS (
      SELECT CAST(l_extendedprice * 1000000 AS BIGINT) AS v,
        count(*) AS rc
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ), b AS (
      SELECT CAST(l_extendedprice * 1000000 AS BIGINT) AS v,
        count(*) AS cc
      FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1
    ), m AS (
      SELECT COALESCE(a.v, b.v) AS v, COALESCE(rc, 0) AS rc,
        COALESCE(cc, 0) AS cc
      FROM a FULL OUTER JOIN b ON a.v = b.v
    ), c AS (
      SELECT v,
        sum(rc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_r,
        sum(cc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_c,
        lead(v) OVER (ORDER BY v) - v AS dv
      FROM m
    ), t AS (
      SELECT sum(rc) AS n_ref FROM m
    ), u AS (
      SELECT sum(cc) AS n_cur FROM m
    ), agg AS (
      SELECT COALESCE(sum(CASE WHEN dv IS NOT NULL THEN
          CAST(abs(cum_r * (SELECT n_cur FROM u)
                   - cum_c * (SELECT n_ref FROM t)) AS HUGEINT)
          * CAST(dv AS HUGEINT) END), 0) AS s,
        min(v) AS vmin, max(v) AS vmax
      FROM c
    )
    SELECT 'l_extendedprice' AS col_name,
      CAST((SELECT n_ref FROM t) AS BIGINT) AS n_ref,
      CAST((SELECT n_cur FROM u) AS BIGINT) AS n_cur,
      CASE WHEN (SELECT n_ref FROM t) * (SELECT n_cur FROM u) > 0
        THEN round(CAST(s AS DOUBLE)
          / (CAST((SELECT n_ref FROM t) AS DOUBLE)
             * CAST((SELECT n_cur FROM u) AS DOUBLE)) / 1e6, 6)
      END AS w1,
      CASE WHEN (SELECT n_ref FROM t) * (SELECT n_cur FROM u) > 0
          AND vmax > vmin
        THEN round((CAST(s AS DOUBLE)
          / (CAST((SELECT n_ref FROM t) AS DOUBLE)
             * CAST((SELECT n_cur FROM u) AS DOUBLE)) / 1e6)
          / (CAST(vmax - vmin AS DOUBLE) / 1e6), 6)
      END AS w1_norm
    FROM agg
"""


def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n reward curve (r12b,
    operators/sft.py::best_of_n_curve): prompts = doc_id % 100,
    planted 6dp rewards, n = 1..4. The rank powers are exact
    DECIMAL products; each (m, n) mean is one integer ratio."""
    _prep(spark)
    from .operators.sft import best_of_n_curve

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 100).alias("prompt"),
        (
            ((F.col("doc_id") * 37) % 1000).cast("double") / 1000.0
        ).alias("reward"),
        F.col("doc_id"),
    )
    return best_of_n_curve(docs, "prompt", "reward", "doc_id", 4)


def _best_of_n_oracle() -> str:
    selects = []
    for k in range(1, 5):
        ip = " * ".join(["i"] * k)
        im = " * ".join(["(i - 1)"] * k)
        mp = " * ".join(["m"] * k)
        selects.append(
            f"SELECT pr, m, {k} AS n, r6 * ({ip} - {im}) AS term,"
            f" {mp} AS mpow FROM ranked"
        )
    union = "\n      UNION ALL ".join(selects)
    return f"""
    WITH base AS (
      SELECT doc_id % 100 AS pr,
        CAST(round(CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0
                   * 1e6, 0) AS HUGEINT) AS r6,
        doc_id AS rid
      FROM documents
    ), ranked AS (
      SELECT pr, r6,
        CAST(row_number() OVER (PARTITION BY pr
             ORDER BY r6, rid) AS HUGEINT) AS i,
        CAST(count(*) OVER (PARTITION BY pr) AS HUGEINT) AS m
      FROM base
    ), terms AS (
      {union}
    ), per_prompt AS (
      SELECT pr, m, n, sum(term) AS np, max(mpow) AS mp
      FROM terms GROUP BY 1, 2, 3
    )
    SELECT CAST(m AS BIGINT) AS m, CAST(n AS INTEGER) AS n,
      CAST(count(*) AS BIGINT) AS n_prompts,
      round(CAST(sum(np) AS DOUBLE)
            / CAST(count(*) * max(mp) AS DOUBLE) / 1e6, 6)
        AS exp_best
    FROM per_prompt GROUP BY 1, 2
    """


ORACLES["best_of_n"] = _best_of_n_oracle()


def q_fairness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit (r12b,
    report/evaluation.py::fairness_report): groups = market
    segment, label = positive balance, planted classifier pred;
    demographic-parity / equal-opportunity / predictive-parity
    rates as exact-count IEEE divisions, plus the __overall__
    row."""
    _prep(spark)
    from .report.evaluation import fairness_report

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (F.col("c_acctbal") > 0).cast("int").alias("label"),
        ((F.col("c_custkey") % 3) != 0).cast("int").alias("pred"),
    )
    return fairness_report(cust, "c_mktsegment", "label", "pred")


ORACLES["fairness_report"] = """
    WITH base AS (
      SELECT c_mktsegment AS g,
        CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y,
        CASE WHEN c_custkey % 3 != 0 THEN 1 ELSE 0 END AS p
      FROM customer
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(y) AS BIGINT) AS np_l,
        CAST(sum(p) AS BIGINT) AS np_p,
        CAST(sum(y * p) AS BIGINT) AS tp,
        CAST(sum((1 - y) * p) AS BIGINT) AS fp
      FROM base GROUP BY 1
      UNION ALL
      SELECT '__overall__', CAST(count(*) AS BIGINT),
        CAST(sum(y) AS BIGINT), CAST(sum(p) AS BIGINT),
        CAST(sum(y * p) AS BIGINT),
        CAST(sum((1 - y) * p) AS BIGINT)
      FROM base
    )
    SELECT g AS "group", n, np_l AS n_pos_label,
      np_p AS n_pos_pred,
      round(CAST(np_p AS DOUBLE) / CAST(n AS DOUBLE), 6)
        AS pred_rate,
      CASE WHEN np_l > 0 THEN
        round(CAST(tp AS DOUBLE) / CAST(np_l AS DOUBLE), 6)
      END AS tpr,
      CASE WHEN n > np_l THEN
        round(CAST(fp AS DOUBLE) / CAST(n - np_l AS DOUBLE), 6)
      END AS fpr,
      CASE WHEN np_p > 0 THEN
        round(CAST(tp AS DOUBLE) / CAST(np_p AS DOUBLE), 6)
      END AS ppv
    FROM per
"""


def q_label_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-learning label audit (r12b,
    report/evaluation.py::label_issues): planted 3-class labels and
    6dp scores over documents; thresholds as exact integer
    cross-products p6·n ≥ S, suggested = qualifying argmax by
    (p6 DESC, class ASC)."""
    _prep(spark)
    from .report.evaluation import label_issues

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("c"), (F.col("doc_id") % 3).cast("string"))
        .alias("label"),
        (((F.col("doc_id") * 11) % 1000).cast("double") / 1000.0)
        .alias("p0"),
        (((F.col("doc_id") * 23) % 1000).cast("double") / 1000.0)
        .alias("p1"),
        (((F.col("doc_id") * 31) % 1000).cast("double") / 1000.0)
        .alias("p2"),
    )
    return label_issues(
        docs,
        "doc_id",
        "label",
        {"c0": "p0", "c1": "p1", "c2": "p2"},
    )


ORACLES["label_issues"] = """
    WITH base AS (
      SELECT doc_id, 'c' || CAST(doc_id % 3 AS VARCHAR) AS lab,
        CAST(round(CAST((doc_id * 11) % 1000 AS DOUBLE) / 1000.0
                   * 1e6, 0) AS HUGEINT) AS p0,
        CAST(round(CAST((doc_id * 23) % 1000 AS DOUBLE) / 1000.0
                   * 1e6, 0) AS HUGEINT) AS p1,
        CAST(round(CAST((doc_id * 31) % 1000 AS DOUBLE) / 1000.0
                   * 1e6, 0) AS HUGEINT) AS p2
      FROM documents
    ), thr AS (
      SELECT
        COALESCE(sum(CASE WHEN lab = 'c0' THEN p0 END), 0) AS ts0,
        CAST(sum(CASE WHEN lab = 'c0' THEN 1 ELSE 0 END)
             AS HUGEINT) AS tn0,
        COALESCE(sum(CASE WHEN lab = 'c1' THEN p1 END), 0) AS ts1,
        CAST(sum(CASE WHEN lab = 'c1' THEN 1 ELSE 0 END)
             AS HUGEINT) AS tn1,
        COALESCE(sum(CASE WHEN lab = 'c2' THEN p2 END), 0) AS ts2,
        CAST(sum(CASE WHEN lab = 'c2' THEN 1 ELSE 0 END)
             AS HUGEINT) AS tn2
      FROM base
    ), longf AS (
      SELECT doc_id, lab, 'c0' AS cls, p0 AS p6, 0 AS rk FROM base
      UNION ALL
      SELECT doc_id, lab, 'c1', p1, 1 FROM base
      UNION ALL
      SELECT doc_id, lab, 'c2', p2, 2 FROM base
    ), qual AS (
      SELECT l.doc_id, l.lab, l.cls, l.p6,
        row_number() OVER (PARTITION BY l.doc_id
          ORDER BY l.p6 DESC, l.rk ASC) AS rn
      FROM longf l CROSS JOIN thr
      WHERE (l.cls = 'c0' AND tn0 > 0 AND l.p6 * tn0 >= ts0)
         OR (l.cls = 'c1' AND tn1 > 0 AND l.p6 * tn1 >= ts1)
         OR (l.cls = 'c2' AND tn2 > 0 AND l.p6 * tn2 >= ts2)
    ), best AS (
      SELECT doc_id, lab, cls, p6 FROM qual WHERE rn = 1
    )
    SELECT b.doc_id, b.lab AS label, b.cls AS suggested,
      round(CAST(CASE b.lab WHEN 'c0' THEN base.p0
             WHEN 'c1' THEN base.p1 ELSE base.p2 END AS DOUBLE)
            / 1e6, 6) AS p_label,
      round(CAST(b.p6 AS DOUBLE) / 1e6, 6) AS p_suggested
    FROM best b JOIN base ON b.doc_id = base.doc_id
    WHERE b.cls != b.lab
"""


def q_linkage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise clustering P/R/F1 (r12b,
    report/agreement.py::pairwise_cluster_eval — the
    record-linkage/dedup acceptance metric): predicted clusters = a
    planted corruption of the documents lang partition (every 5th
    doc reassigned by source), gold = lang. Doubled pair counts in
    exact DECIMAL(38,0); F1 is one exact ratio 2TP/(P+G)."""
    _prep(spark)
    from .report.agreement import pairwise_cluster_eval

    docs = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 5 == 0, F.col("source"))
        .otherwise(F.col("lang"))
        .alias("pred"),
        F.col("lang").alias("gold"),
    )
    return pairwise_cluster_eval(docs, "pred", "gold")


ORACLES["linkage_eval"] = """
    WITH lab AS (
      SELECT CASE WHEN doc_id % 5 = 0 THEN source ELSE lang END AS a,
        lang AS b
      FROM documents
      WHERE lang IS NOT NULL
        AND (CASE WHEN doc_id % 5 = 0 THEN source ELSE lang END)
            IS NOT NULL
    ), cells AS (
      SELECT a, b, CAST(count(*) AS HUGEINT) AS c FROM lab GROUP BY 1, 2
    ), tp AS (
      SELECT COALESCE(sum(c * (c - 1)), 0) AS tp2,
        COALESCE(sum(c), 0) AS n
      FROM cells
    ), pp AS (
      SELECT COALESCE(sum(ai * (ai - 1)), 0) AS pp2 FROM (
        SELECT a, sum(c) AS ai FROM cells GROUP BY 1)
    ), gp AS (
      SELECT COALESCE(sum(bj * (bj - 1)), 0) AS gp2 FROM (
        SELECT b, sum(c) AS bj FROM cells GROUP BY 1)
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
      CAST(tp2 / 2 AS BIGINT) AS tp_pairs,
      CAST(pp2 / 2 AS BIGINT) AS pred_pairs,
      CAST(gp2 / 2 AS BIGINT) AS gold_pairs,
      CASE WHEN pp2 > 0 THEN
        round(CAST(tp2 AS DOUBLE) / CAST(pp2 AS DOUBLE), 6)
      END AS precision,
      CASE WHEN gp2 > 0 THEN
        round(CAST(tp2 AS DOUBLE) / CAST(gp2 AS DOUBLE), 6)
      END AS recall,
      CASE WHEN pp2 + gp2 > 0 THEN
        round(CAST(2 * tp2 AS DOUBLE) / CAST(pp2 + gp2 AS DOUBLE), 6)
      END AS f1
    FROM tp CROSS JOIN pp CROSS JOIN gp
"""


def q_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence (r12b,
    report/survival.py::aalen_johansen — competing-risks lifetime
    curves, the correct replacement for 1−KM per cause): duration =
    customer first→last order span, cause 0 = never finished
    (censored), else cause 1/2 by customer-key parity; groups =
    market segment. The any-cause KM bridge and the 6dp-quantized
    CIF increments replay exactly."""
    _prep(spark)
    from .report.survival import aalen_johansen

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    span = orders.groupBy("o_custkey").agg(
        (
            F.max(F.expr("unix_date(cast(o_orderdate as date))"))
            - F.min(F.expr("unix_date(cast(o_orderdate as date))"))
        ).alias("t"),
        F.max(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("ev"),
    )
    g = span.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        span["o_custkey"] == F.col("c_custkey"),
    ).select(
        "c_mktsegment",
        "t",
        F.when(F.col("ev") == 0, 0)
        .otherwise(1 + (F.col("o_custkey") % 2))
        .cast("long")
        .alias("cause"),
    )
    return aalen_johansen(g, "c_mktsegment", "t", "cause")


ORACLES["competing_risks"] = """
    WITH span AS (
      SELECT o_custkey,
        CAST(max(CAST(o_orderdate AS DATE)) - DATE '1970-01-01'
             AS BIGINT)
        - CAST(min(CAST(o_orderdate AS DATE)) - DATE '1970-01-01'
               AS BIGINT) AS t,
        max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
      FROM orders GROUP BY 1
    ), g AS (
      SELECT c_mktsegment AS grp, t,
        CASE WHEN ev = 0 THEN 0
             ELSE 1 + o_custkey % 2 END AS cause
      FROM span JOIN customer ON o_custkey = c_custkey
    ), per_t AS (
      SELECT grp, t,
        CAST(sum(CASE WHEN cause > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d,
        CAST(sum(CASE WHEN cause <= 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS cens
      FROM g GROUP BY 1, 2
    ), tot AS (
      SELECT grp, sum(d + cens) AS tt FROM per_t GROUP BY 1
    ), risk AS (
      SELECT per_t.grp, t, d, cens,
        tt - COALESCE(sum(d + cens) OVER (PARTITION BY per_t.grp
          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
          AND 1 PRECEDING), 0) AS n_risk
      FROM per_t JOIN tot ON per_t.grp = tot.grp
    ), km AS (
      SELECT grp, t, n_risk,
        COALESCE(sum(CAST(CASE WHEN d > 0 AND d < n_risk THEN
            round(ln(CAST(n_risk - d AS DOUBLE)
                     / CAST(n_risk AS DOUBLE)), 6)
          ELSE 0.0 END AS DECIMAL(38,6))) OVER (PARTITION BY grp
          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
          AND 1 PRECEDING), CAST(0 AS DECIMAL(38,6))) AS ln_prev,
        COALESCE(max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
          OVER (PARTITION BY grp ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS wiped_prev
      FROM risk
    ), base AS (
      SELECT grp, t, n_risk,
        CASE WHEN wiped_prev = 1 THEN 0.0
             ELSE exp(CAST(ln_prev AS DOUBLE)) END AS sprev
      FROM km
    ), per_tc AS (
      SELECT grp, t, cause, CAST(count(*) AS BIGINT) AS dk
      FROM g WHERE cause > 0 GROUP BY 1, 2, 3
    ), j AS (
      SELECT per_tc.grp, per_tc.t, cause, n_risk, dk,
        CAST(round(sprev * CAST(dk AS DOUBLE)
                   / CAST(n_risk AS DOUBLE), 6)
             AS DECIMAL(38,6)) AS inc
      FROM per_tc JOIN base
        ON per_tc.grp = base.grp AND per_tc.t = base.t
    )
    SELECT grp AS c_mktsegment, t, cause,
      CAST(n_risk AS BIGINT) AS n_risk, dk AS n_events,
      round(CAST(sum(inc) OVER (PARTITION BY grp, cause ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DOUBLE), 6) AS cif
    FROM j
"""


# Registry order is deliberate: the driver's correctness gate checks
# only the first 50 entries, so WINDOW keeps a representative of every
# operator family in SURVEY.md §2 there, exact-oracled where the
# family has one. BATTERY holds the rest. tools/check_correctness.py
# runs all of them in one pass: per query one collect and one oracle
# fetch, checked for column type families and strict values, and
# recorded with a row sha256 and the query's Spark jobs. Rotating a
# query into the window is a move between the two tuples.
WINDOW = (
    "pricing_summary",
    "top_orders",
    "agg_join_customer_orders",
    "agg_target_events",
    "fuzzy_join_customer_supplier",
    "interpolation_join",
    "label_issues",
    "asof_join",
    "preference_pairs",
    "bloom_semi_join",
    "markov_attribution",
    "curation_funnel",
    "pii_checksum",
    "corpus_datasheet",
    "doremi_weights",
    "lm_perplexity_kn5",
    "ccnet_buckets",
    "krippendorff_alpha",
    "uplift_qini",
    "drift_wasserstein",
    "kn_frozen",
    "decontaminate",
    "bfd_packing",
    "incremental_near_dedup",
    "skipgram_pairs",
    "sorted_neighborhood",
    "bradley_terry",
    "semantic_dedup_exact",
    "topk_pq",
    "rho_selection",
    "spatial_join_grid",
    "domain_pagerank",
    "sliding_distinct_hll",
    "msprt_monitor",
    "aipw_ate",
    "competing_risks",
    "pretraining_pipeline",
    "fd_profile",
    "holt_winters",
    "session_encoder_features",
    "learner_train_test",
    "gap_encoder_frozen",
    "language_id_learned",
    "streaming_late_data",
    "html_extract",
    "streaming_decontaminate",
    "als_topk_frozen",
    "bucketed_join_revenue",
    "incremental_join",
    "snapshot_ingest",
)

BATTERY = (
    "language_id",
    "ngram_jaccard_pairs",
    "training_pipeline",
    "skew_salted_agg",
    "column_associations",
    "image_decode_stats",
    "rank_gated_corpus",
    "cluster_balanced_sample",
    "record_linkage_scores",
    "record_linkage_resolved",
    "token_cardinality_sketch",
    "snapshot_diff",
    "value_quantile_sketch",
    "zorder_keys",
    "trustrank_domains",
    "pagerank_weighted",
    "expectations_audit",
    "expectations_quarantine",
    "bm25_search",
    "cdc_merge",
    "scd2_history",
    "hybrid_search_rrf",
    "token_freq_cms",
    "bm25_indexed",
    "drift_psi",
    "scd2_lookup",
    "streaming_cdc",
    "warc_source",
    "temperature_mixture",
    "key_skew_report",
    "k_suppression",
    "interpolation_gbt_frozen",
    "dsir_weights",
    "topk_ivfpq",
    "readability",
    "keywords_tfidf",
    "source_similarity",
    "zipf_fit",
    "compact_shards",
    "outlink_hostgraph",
    "domain_cap",
    "mutual_information",
    "quantile_clip",
    "group_sample_fixed_n",
    "adaptive_join",
    "quantile_bins",
    "topk_binary",
    "event_transitions",
    "changepoint_daily",
    "streaming_transitions",
    "duplication_density",
    "ranking_eval",
    "benford_audit",
    "target_encode",
    "woe_iv",
    "streaming_heavy_hitters",
    "interpolation_clf_frozen",
    "topk_opq",
    "minhash_encoder_features",
    "streaming_embedding_dedup",
    "sequence_anomaly",
    "k_core",
    "window_funnel",
    "seasonal_profile",
    "grouped_trend",
    "incremental_agg",
    "autocorrelation",
    "gini_concentration",
    "theil_sen_trend",
    "ab_test_report",
    "candidate_keys",
    "bfs_distances",
    "ngram_novelty",
    "unpivot_metrics",
    "rfm_segments",
    "ewma_smooth",
    "cube_revenue",
    "item_cooccurrence",
    "hard_negatives",
    "oversample_balance",
    "latency_sla",
    "join_fanout_report",
    "histogram_report",
    "interval_coverage",
    "attribution_last_touch",
    "schema_evolution",
    "mrl_recall",
    "token_budget_sample",
    "sketch_union_merge",
    "calendar_dim",
    "null_safe_join",
    "customer_set_ops",
    "kwic_snippets",
    "iqr_outliers",
    "twap_daily",
    "top_paths",
    "ltv_curve",
    "dup_cluster_report",
    "weighted_distances",
    "triangle_stats",
    "dsir_resample",
    "similarity_encoder_region",
    "boilerplate_removal",
    "squashing_scaler",
    "quality_classifier_filter",
    "classification_eval",
    "calibration_eval",
    "regression_eval",
    "document_chunks",
    "hits_domains",
    "quality_percentiles",
    "numeric_associations",
    "spearman_associations",
    "streaming_quality_gate",
    "topk_lsh_frozen",
    "interpolation_join_clf",
    "knn_join_lsh",
    "substring_dedup",
    "table_stats",
    "streaming_interval_join",
    "csv_source",
    "orc_source",
    "gapfill_hourly",
    "dedup_strings_brand",
    "one_hot_mktsegment",
    "fuzzy_join_numeric",
    "string_encoder_features",
    "gap_encoder_distributed",
    "mixture_sample",
    "corpus_shuffle",
    "multi_agg_join",
    "simhash_dedup_pairs",
    "topk_indexed",
    "streaming_enrich",
    "windowed_counts",
    "embedding_dedup_pairs",
    "knn_join",
    "similarity_topk",
    "string_encoder_frozen",
    "incremental_embedding_dedup",
    "scored_pipeline",
    "knn_join_lsh_frozen",
    "fuzzy_join_lsh",
    "minhash_canonical",
    "topk_ivf",
    "topk_quantized",
    "semantic_dedup",
    "session_stats",
    "session_windows",
    "token_stats",
    "quality_scores",
    "json_props",
    "revenue_by_region",
    "top_orders_per_customer",
    "orders_moving_avg",
    "rollup_revenue",
    "acctbal_percentiles",
    "customers_without_orders",
    "pivot_segment_nation",
    "interpolation_join_gbt",
    "topk_lsh",
    "text_encoder_embeddings",
    "small_quantity_parts",
    "forecast_revenue",
    "funnel_conversion",
    "retention_cohorts",
    "order_priority",
    "volume_shipping",
    "market_share",
    "returned_items",
    "promo_revenue",
    "discounted_revenue",
    "customer_distribution",
    "top_supplier",
    "large_volume_customers",
    "sales_opportunity",
    "centroid_per_label",
    "cleaner_customer",
    "drop_similar_columns",
    "repetition_filter",
    "pii_redaction",
    "span_dedup",
    "domain_stats",
    "curation_pipeline",
    "span_dedup_w3",
    "stratified_sample",
    "contamination",
    "incremental_dedup",
    "jsonl_gz_source",
    "gap_encoder_topics",
    "fingerprints",
    "bpe_token_stats",
    "selectors_projection",
    "image_near_dup",
    "audio_near_dup",
    "video_frame_stats",
    "streaming_session_stats",
    "normalize_text",
    "dedup_keep_best",
    "more_like_this",
    "winnow_fingerprints",
    "script_profile",
    "hilbert_keys",
    "mime_sniff",
    "attribution_linear",
    "cumulative_users",
    "fk_orphans",
    "entity_counts",
    "stl_daily",
    "mwu_test",
    "drift_chi2",
    "robust_scale_group",
    "hll_cardinality",
    "jw_name_pairs",
    "weighted_median",
    "phrase_hits",
    "bootstrap_ci",
    "gazetteer_hits",
    "url_canonical",
    "bloom_anti_join",
    "mutual_best_match",
    "winnowing_pairs",
    "permutation_test",
    "conformal_intervals",
    "pmi_collocations",
    "link_prediction",
    "degree_assortativity",
    "rolling_hampel",
    "term_burstiness",
    "compression_signal",
    "entity_comention",
    "seasonal_backtest",
    "cross_correlation",
    "quantile_normalize",
    "group_mean_fdr",
    "weighted_sample",
    "sentence_stats",
    "point_in_time_features",
    "target_encode_loo",
    "covariate_balance",
    "did_estimate",
    "nelson_aalen",
    "json_profile",
    "churn_labels",
    "funnel_latency",
    "ipf_raking",
    "als_recommendations",
    "fightin_words",
    "neyman_allocation",
    "streaming_spikes",
    "lpa_communities",
    "prefix_completions",
    "range_join_incidents",
    "sft_turn_dedup",
    "preference_bias",
    "gains_table",
    "trimmed_means",
    "concordance_ccc",
    "jackknife_ratio",
    "fulfillment_latency",
    "unigram_token_stats",
    "bpe_stats_frozen",
    "lm_perplexity_filter",
    "drift_ks",
    "streaming_dedup",
    "datetime_features",
    "eb_shrunk_rates",
    "impute_median",
    "audience_overlap",
    "quantile_ci",
    "survival_km",
    "cmh_stratified",
    "streaming_cusum",
    "yuen_test",
    "tokenizer_fertility",
    "unigram_packing",
    "isotonic_quality",
    "hash_split",
    "pack_chunks",
    "association_rules",
    "lm_perplexity_kn",
    "adaptive_agg",
    "streaming_near_dup_flags",
    "quality_classifier_scores",
    "unimax_allocation",
    "kcenter_coreset",
    "attribution_time_decay",
    "psm_pairs",
    "dedup_exact",
    "k_anonymity_audit",
    "streaming_upsert",
    "conversation_stats",
    "unigram_stats_frozen",
    "rouge_eval",
    "bleu_corpus",
    "reservoir_sample",
    "weighted_reservoir",
    "dl_name_pairs",
    "embedding_dedup_lsh",
    "cohen_kappa",
    "cusum_monitor",
    "clustering_ari",
    "fleiss_kappa",
    "doremi_mixture",
    "ipw_ate",
    "t_closeness",
    "dp_histogram",
    "skyline_parts",
    "irt_rasch",
    "ab_power",
    "cuped_lift",
    "minhash_dedup_pairs",
    "pdf_text_stats",
    "best_of_n",
    "fairness_report",
    "mad_outliers",
    "linkage_eval",
    "log_rank",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: globals()[f"q_{n}"] for n in WINDOW + BATTERY}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
