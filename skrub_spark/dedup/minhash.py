"""MinHash + LSH near-duplicate detection (SURVEY.md §2).

Physical plan (flat, scale-first — no giant nested expressions):

1. explode distinct word-shingles → (id, gram) rows
2. one groupBy(id) computes all n_components min-hashes as plain
   ``min(h1 + k * h2)`` aggregates, double-hashed from two 31-bit
   ``xxhash64`` values per gram (map-side partial agg, whole-stage
   codegen keeps the 64 mins in registers)
3. band key b = variadic ``xxhash64(min_{b*r} .. min_{b*r+r-1}, b)``
4. :func:`~.pairs.bucket_pairs` on (band_idx, band_key) → candidate
   pairs; the bucket-size cap guards boilerplate buckets going quadratic
5. exact Jaccard verify via gram co-occurrence counts restricted to
   candidate pairs — |∩| is a count, |∪| = n_a + n_b − |∩|; the
   gram sets themselves never travel through a join.

Reference for semantics (not implementation): skrub's MinHashEncoder
hashes char n-grams per string (skrub/_minhash_encoder.py,
_fast_hash.py); document-level near-dedup with banding is the
standard LSH construction on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import MAX_GRAMS_PER_DOC, distinct_shingles, word_shingles
from ..session import fan_out
from .pairs import bucket_pairs


def _gram_rows(
    df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_k: int,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
):
    # single-file inputs arrive as one partition; spread the (cheap)
    # id+text rows before the expensive shingling projection
    return (
        fan_out(
            df.select(F.col(id_col).alias("id"), F.col(content_col).alias("__t"))
        )
        .select("id", F.explode(distinct_shingles(
            word_shingles(F.col("__t"), shingle_k), max_grams_per_doc
        )).alias("gram"))
    )


def auto_bands(n_components: int, threshold: float, min_recall: float = 0.95) -> int:
    """Principled banding: the largest rows-per-band r (fewest false
    candidates) whose recall 1-(1-t^r)^b at J=t stays >= min_recall,
    with b = n_components // r. Low thresholds genuinely need r=1
    (at t=0.2, r=4/b=16 has ~2.4%% recall — OR-only banding is the
    correct construction, not a fallback)."""
    best = 1
    for r in range(1, 9):
        # only divisors: callers derive rows-per-band as
        # n_components // n_bands, so a non-divisor r would silently
        # round-trip to a LARGER r with lower recall
        if n_components % r != 0:
            continue
        b = n_components // r
        recall = 1.0 - (1.0 - threshold**r) ** b
        if recall >= min_recall:
            best = r
    return n_components // best


def dedup_minhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_k: int = 3,
    n_components: int = 64,
    n_bands: int | None = None,
    jaccard_threshold: float = 0.8,
    max_bucket: int = 1000,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, exact shingle-Jaccard >= threshold).
    Columns: id_a, id_b, jaccard. ``n_bands=None`` picks the banding
    from the threshold via :func:`auto_bands`."""
    if n_bands is None:
        n_bands = auto_bands(n_components, jaccard_threshold)
    rows_per_band = n_components // n_bands
    # The gram frame feeds BOTH the minhash aggregation and the exact
    # verify stage; without a persist the shingling projection runs
    # twice in one action. MEMORY_AND_DISK so a 100 TB gram frame
    # spills instead of OOMing; blocks are LRU-managed by Spark and
    # small relative to the input (distinct shingles only).
    grams = _gram_rows(
        df, content_col, id_col, shingle_k, max_grams_per_doc
    ).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # Double-hashing minhash (Kirsch–Mitzenmacher): the k-th hash is
    # h1 + k*h2 from TWO string hashes instead of k independent
    # xxhash64(gram, k) evaluations — 32x less string hashing per gram
    # and a far smaller whole-stage-codegen unit (the 64-agg plan's
    # JIT dominated cold runtime). pmod to 2^31 keeps k*h2 sums far
    # from long overflow (Spark 4 ANSI raises on overflow); candidate
    # recall is unchanged in practice and every surviving pair is
    # verified with EXACT jaccard below, so the output set is
    # identical.
    _M = 1 << 31
    hashed = grams.select(
        "id",
        F.pmod(F.xxhash64("gram"), F.lit(_M)).alias("__h1"),
        F.pmod(F.xxhash64("gram", F.lit(1)), F.lit(_M)).alias("__h2"),
    )
    # the n_components min-aggregates and the band keys are parsed
    # from expr strings (identical trees): the python-composed
    # per-component loops cost ~1.5-3 s of py4j driver chatter per
    # query build (measured r12-opt)
    mins_sql = ", ".join(
        f"min(__h1 + {k} * __h2) AS h{k}" for k in range(n_components)
    )
    mins = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.expr(f"struct({mins_sql})").alias("__hs"),
    )
    band_sql = ", ".join(
        "xxhash64("
        + ", ".join(
            f"__hs.h{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        + f", {b})"
        for b in range(n_bands)
    )
    banded = mins.select(
        "id",
        "n_grams",
        F.posexplode(F.expr(f"array({band_sql})")).alias(
            "band_idx", "band_key"
        ),
    )
    # within-bucket pairs in ONE shuffle: the capped bucket_pairs form
    # costs three fewer exchanges than a self-join plus a bucket count
    cand = bucket_pairs(
        banded, ["band_idx", "band_key"], carry=["n_grams"],
        max_bucket=max_bucket,
    ).dropDuplicates(["id_a", "id_b"])
    # exact verify: count co-occurring grams per candidate pair
    ga = grams.select(F.col("id").alias("id_a"), "gram")
    gb = grams.select(F.col("id").alias("id_b"), "gram")
    inter = (
        cand.join(ga, on="id_a")
        .join(gb, on=["id_b", "gram"])
        .groupBy("id_a", "id_b", "n_grams_a", "n_grams_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", **kwargs
) -> DataFrame:
    """Cluster near-dup pairs into groups (connected components) and
    return id → canonical (min id in component)."""
    from .components import connected_components

    pairs = dedup_minhash_pairs(df, content_col, id_col, **kwargs)
    return connected_components(pairs, "id_a", "id_b")


def minhash_buckets(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_components: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Per-document LSH band buckets with the ENGINE-PORTABLE md5
    sketch: (id_col, band_idx, band_key) — one row per (doc, band).

    This is the persistable form of a near-dup index: store
    ``.select("band_idx", "band_key").distinct()`` next to each
    corpus snapshot (one 32-hex string + a long per DISTINCT bucket —
    payloads never re-read) and feed it to
    :func:`minhash_incremental` when the next crawl lands. The
    bucket identity is ``functions.hashing.md5_band_keys`` — the
    SAME construction ``streaming_near_dedup`` claims buckets with,
    so batch-incremental and streaming ingest agree on what counts
    as a near-duplicate. Documents with fewer than ``shingle_k``
    words carry no shingles and emit no rows (they can never collide).
    """
    if n_components % n_bands != 0:
        raise ValueError(
            f"n_components ({n_components}) must be divisible by "
            f"n_bands ({n_bands})"
        )
    from ..functions.hashing import _MERSENNE_P, md5_band_keys, md5_half
    from ..functions.text import word_shingles

    rows_per_band = n_components // n_bands
    # Same signature math as minhash_from_grams — double hashing
    # h_k = (h1 + k*h2) mod 2^31-1 over ONE md5 per distinct gram —
    # but computed BATCH-shaped: explode + n_components min()
    # aggregates stay inside whole-stage codegen with map-side
    # partial aggregation (the shuffle carries (id, h1, h2) rows,
    # combined to n_docs x n_components longs before the wire). The
    # per-row fold expression the streaming op uses is an interpreted
    # HOF — right for an unshuffleable micro-batch, ~8x slower here:
    # the 5000 sf0.1 documents on local[4] took 13.7 s to band through
    # the fold against 1.7 s through this form, with identical buckets.
    p = F.lit(_MERSENNE_P).cast("long")
    grams = df.select(
        F.col(id_col),
        F.explode(distinct_shingles(
            word_shingles(F.col(content_col), shingle_k), max_grams_per_doc
        )).alias("__g"),
    ).withColumn("__m", F.md5("__g"))
    h = grams.select(
        id_col,
        F.pmod(md5_half("__m", 0), p).alias("__h1"),
        F.pmod(md5_half("__m", 1), p).alias("__h2"),
    )
    # parsed expr strings for the n_components min-aggregates and
    # the signature array (same py4j-chatter rationale as the
    # xxhash path above; trees identical)
    sig_sql = ", ".join(
        f"min(pmod(__h1 + {k} * __h2, CAST({_MERSENNE_P} AS BIGINT)))"
        f" AS c{k}"
        for k in range(n_components)
    )
    sig = h.groupBy(id_col).agg(F.expr(f"struct({sig_sql})").alias("__cs"))
    sig_arr = F.expr(
        "array(" + ",".join(f"__cs.c{k}" for k in range(n_components)) + ")"
    )
    return sig.select(
        F.col(id_col),
        F.posexplode(
            md5_band_keys(sig_arr, n_bands, rows_per_band)
        ).alias("band_idx", "band_key"),
    )


def minhash_incremental(
    new_df: DataFrame,
    seen_buckets: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_components: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
) -> DataFrame:
    """Incremental ingest NEAR-dedup: rows of ``new_df`` that are not
    near-duplicates of the already-ingested corpus, nor of a
    smaller-id row in the batch — the MinHash twin of
    ``dedup_incremental`` (exact hashes) and the batch twin of
    ``streaming_near_dedup`` (same bucket rule, min-id in place of
    first-arrival).

    ``seen_buckets``: the distinct (band_idx, band_key) buckets of
    all prior snapshots (from :func:`minhash_buckets`). A document
    is dropped when ANY of its band buckets appears in history (LSH
    collision with some prior document) or is claimed by a smaller
    id within the batch. Like the streaming op — and unlike the
    verified pair path — bucket collision IS the dup criterion (no
    Jaccard verification against history: that would need prior
    payloads, defeating the index). Shingle-less documents survive.
    At 100 TB: both sides of each join are narrow (id/band rows),
    history enters as one semi-join against its distinct buckets,
    and the batch claim is a single groupBy(band_key) min.
    """
    bands = minhash_buckets(
        new_df, content_col, id_col,
        n_components=n_components, n_bands=n_bands, shingle_k=shingle_k,
        max_grams_per_doc=max_grams_per_doc,
    )
    hist_hit = (
        bands.join(
            seen_buckets.select("band_key").distinct(),
            on="band_key", how="left_semi",
        )
        .select(id_col)
        .distinct()
    )
    claims = bands.groupBy("band_key").agg(F.min(id_col).alias("__first"))
    batch_hit = (
        bands.join(claims, on="band_key")
        .filter(F.col("__first") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    flagged = hist_hit.union(batch_hit).distinct()
    return new_df.join(flagged, on=id_col, how="left_anti")
