"""Embedding-cosine near-duplicate detection (SURVEY.md §2).

Random-hyperplane LSH buckets candidate pairs (sign-bit sketch of
the embedding — cosine-similar vectors collide with high
probability), exact cosine verifies. Brute-force mode (bucket on a
constant) exists for oracle-checkable exactness on small inputs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dot_product
from .pairs import bucket_pairs


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    exact: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine similarity >= threshold.
    Columns: id_a, id_b, cosine."""
    from ..functions.vector import l2_norm

    # Precompute the norm per row BEFORE the pair join: the cosine of
    # a pair then needs a single fold (the dot product) instead of
    # re-deriving both norms per candidate pair.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    if exact:
        # broadcast nested-loop cross join keeps every partition of the
        # left side busy (a constant-key equi-join would funnel all
        # pairs through a single reducer).
        a = base.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
        )
        b = base.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
        )
        cos = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return (
            a.repartition(max(df.sparkSession.sparkContext.defaultParallelism, 8))
            .crossJoin(F.broadcast(b))
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    rng = np.random.default_rng(seed)
    planes_list = [rng.standard_normal((n_planes, dim)) for _ in range(n_tables)]
    # Arrow-batched all-tables bucketing (one numpy matmul per batch
    # per table) — the former per-table fold expressions carried
    # n_tables x n_planes x dim literals through an interpreted HOF
    # tree (the same expression-blowup trap the ANN index fixed in
    # r4). Repartition first: a single-file corpus arrives as one
    # partition and would bucket on one core.
    from ..similarity.index import _buckets_udf

    par = df.sparkSession.sparkContext.defaultParallelism
    base = base.repartition(par).persist()
    banded = base.select(
        "id",
        F.posexplode(_buckets_udf(planes_list)(F.col("v"))).alias(
            "bucket_idx", "bucket"
        ),
    )
    # Candidates stay NARROW (ids only) through the bucket self-join
    # and the pair dedup; the 2x dim-double vectors join back per
    # SURVIVING pair only, not per banded candidate row.
    cand = bucket_pairs(banded, ["bucket_idx", "bucket"]).dropDuplicates(
        ["id_a", "id_b"]
    )
    return _cosine_verify(cand, base, threshold)


def _cosine_verify(
    cand: DataFrame, base: DataFrame, threshold: float
) -> DataFrame:
    """Join the vectors and norms of ``base`` (id, v, nrm) back onto
    the ``(id_a, id_b)`` candidates and keep pairs with exact cosine
    >= threshold: (id_a, id_b, cosine)."""
    va = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    n_clusters: int = 16,
    lloyd_iters: int = 2,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    k-means-cluster the embedding space, find cosine>=threshold
    pairs ONLY within each cluster, and keep one canonical document
    per duplicate group.

    ``centroids`` (r7, VERDICT r6 #3): inject FROZEN centroids
    ([n_clusters][dim]) instead of sampling + Lloyd. With literal
    centroids the cell assignment is a pure argmin over dim-literal
    dot products — exact arithmetic a SQL oracle replays (battery
    query ``semantic_dedup_exact``), and the production pattern for
    re-running dedup incrementally: centroids fit once on a sample,
    applied unchanged to every new crawl so cell identities stay
    stable across snapshots.

    Returns (id_col, component, keep): component = min id reachable
    through within-cluster near-dup pairs, keep = is-canonical.

    Scale shape: candidate pairs are bounded by sum(cell_i²) instead
    of n² — ``n_clusters`` scales so the largest cell fits an
    executor (the paper used 50k clusters for LAION); centroids come
    from the same deterministic hash-ordered pick + distributed
    Lloyd refinement as the IVF index (per-iteration driver state is
    n_clusters x dim, corpus-independent), assignment is one
    Arrow-batched matmul pass, and the within-cell self-join carries
    ids only — vectors join back per candidate pair, exactly like
    the LSH path above. Like the paper, a near-dup pair SPLIT by the
    clustering is missed — that recall loss is the price of the
    n²->sum(cell²) bound and shrinks as clusters localize.
    """
    from ..functions.vector import l2_norm
    from ..similarity.index import _cell_udf, lloyd_refine
    from .components import connected_components

    if centroids is not None:
        cents = np.asarray([list(c) for c in centroids], "float64")
    else:
        sample = [
            list(r[vec_col])
            for r in df.select(vec_col)
            .orderBy(F.xxhash64(F.col(vec_col).cast("string"), F.lit(seed)))
            .limit(n_clusters)
            .collect()
        ]
        if not sample:
            return df.sparkSession.createDataFrame(
                [], f"{id_col} long, component long, keep boolean"
            )
        cents = lloyd_refine(
            df.select(vec_col), vec_col,
            np.asarray(sample, "float64"), lloyd_iters,
        )
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(par)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("nrm"),
            _cell_udf(cents)(F.col(vec_col)).alias("cell"),
        )
        .persist()
    )
    cand = bucket_pairs(base, "cell")
    pairs = _cosine_verify(cand, base, threshold).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        all_ids.join(comp, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("id")).alias("component"),
            (
                F.coalesce("component", F.col("id")) == F.col("id")
            ).alias("keep"),
        )
    )


def embedding_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    planes,
) -> DataFrame:
    """Per-vector hyperplane LSH cells: (id_col, band_idx, bucket) —
    one row per (vector, table). The persistable form of an
    embedding near-dup index: store
    ``.select("band_idx", "bucket").distinct()`` next to each corpus
    snapshot (a long pair per DISTINCT populated cell — payloads and
    vectors never re-read) and feed it to
    :func:`embedding_incremental` when the next crawl lands. The
    cell identity is the SAME sign-of-dot sketch
    ``streaming_embedding_near_dedup`` claims cells with and
    ``topk_cosine_lsh(planes=)`` probes with, so batch-incremental,
    streaming ingest and ANN probes agree on cell geometry; with
    FROZEN 6dp planes every cell is SQL-replayable."""
    import numpy as np

    from ..similarity.index import _buckets_udf

    planes_list = [np.asarray(p, dtype="float64") for p in planes]
    return df.select(
        F.col(id_col),
        F.posexplode(_buckets_udf(planes_list)(F.col(vec_col))).alias(
            "band_idx", "bucket"
        ),
    )


def embedding_incremental(
    new_df: DataFrame,
    seen_buckets: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    planes,
) -> DataFrame:
    """Incremental ingest near-dedup for EMBEDDINGS — the last cell
    of the {exact, minhash-near, embedding-near} x {batch,
    incremental, streaming} dedup matrix (r7): rows of ``new_df``
    that share no hyperplane cell with the already-ingested corpus
    (``seen_buckets``, from :func:`embedding_buckets`) and whose
    cells are not claimed by a smaller id within the batch — the
    embedding twin of ``minhash_incremental``, with the same
    min-id/first-arrival semantics as the streaming op.

    Like those, cell collision IS the dup criterion (no exact cosine
    verify against history — that would need prior vectors,
    defeating the index). At 100 TB: history enters as one semi-join
    against its DISTINCT (table, cell) pairs, the batch claim is one
    groupBy min, and every joined frame is (id, long, long) narrow."""
    bands = embedding_buckets(new_df, vec_col, id_col, planes=planes)
    hist_hit = (
        bands.join(
            seen_buckets.select("band_idx", "bucket").distinct(),
            on=["band_idx", "bucket"],
            how="left_semi",
        )
        .select(id_col)
        .distinct()
    )
    claims = bands.groupBy("band_idx", "bucket").agg(
        F.min(id_col).alias("__first")
    )
    batch_hit = (
        bands.join(claims, on=["band_idx", "bucket"])
        .filter(F.col("__first") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    flagged = hist_hit.union(batch_hit).distinct()
    return new_df.join(flagged, on=id_col, how="left_anti")
