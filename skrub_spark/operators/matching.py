"""Record-matching primitives (r9c): reciprocal best match and
sorted-neighborhood blocking.

Reference parity: these are the two classic blocking/decision
stages of record linkage that complement the repo's Fellegi–Sunter
model (operators/linkage.py) and one-sided nearest matching
(operators/joiner.py follows skrub/_joiner.py, which only gives
left-to-right nearest matches). Reciprocal best match is the
standard symmetric decision rule (keep a pair iff each side is the
other's best candidate); sorted-neighborhood (the Hernández–Stolfo
merge/purge method) is the standard sort-based blocking
alternative to LSH.

Scale designs
-------------
- ``mutual_best_match``: two window ranks over the candidate-pair
  frame, each partitioned by one side's id — no global sort, no
  driver state; candidate frames are the output of any blocked
  generator (fuzzy_join candidates, LSH buckets, SNM pairs).
- ``sorted_neighborhood_pairs``: the global sort order is realized
  as range buckets (``repartitionByRange`` — Spark's distributed
  sort machinery), row numbers are per-bucket windows (never a
  global unpartitioned window), and pairs crossing a bucket
  boundary are stitched exactly from each bucket's w-row head/tail
  slivers. Buckets smaller than the neighborhood window are merged
  driver-side (bounded: one count row per bucket) so every merged
  bucket except possibly the last holds ≥ w rows — no pair can
  span more than two buckets, and the pair set is bit-identical to
  the single-machine definition for every bucket layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint


def mutual_best_match(
    pairs: DataFrame,
    left_id: str,
    right_id: str,
    score_col: str,
    *,
    ascending: bool = False,
) -> DataFrame:
    """Keep (left, right) pairs where each is the other's best.

    ``ascending=False`` treats ``score_col`` as a similarity (keep
    the max per side); ``ascending=True`` as a distance (keep the
    min). Ties break on the partner id (ascending) so the result is
    deterministic under any partitioning.
    """
    score = F.col(score_col)
    order = score.asc() if ascending else score.desc()
    wl = Window.partitionBy(left_id).orderBy(order, F.col(right_id).asc())
    wr = Window.partitionBy(right_id).orderBy(order, F.col(left_id).asc())
    return (
        pairs.withColumn("__rl", F.row_number().over(wl))
        .withColumn("__rr", F.row_number().over(wr))
        .where((F.col("__rl") == 1) & (F.col("__rr") == 1))
        .drop("__rl", "__rr")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_key: str,
    *,
    window: int = 3,
    num_buckets: int | None = None,
) -> DataFrame:
    """All id pairs within ``window`` positions of each other in the
    global (sort_key, id) order. Columns: id_a, id_b, pos_dist —
    with id_a the earlier row in sort order.

    The order is total (ties broken by id), so the pair set is
    unique and partitioning-invariant. NULL sort keys are excluded
    (they have no place in the order).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    spark = df.sparkSession
    n = num_buckets or spark.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("id"), F.col(sort_key).alias("k")
    ).where(F.col(sort_key).isNotNull())
    # Pin bucket assignment (range sampling re-runs on recompute);
    # one narrow (id, key, bucket) frame, reused by every branch.
    ranged = checkpoint(
        base.repartitionByRange(n, F.col("k"), F.col("id"))
        .withColumn("b", F.spark_partition_id())
    )
    sizes = {
        r["b"]: r["c"]
        for r in ranged.groupBy("b").agg(
            F.count("*").alias("c")
        ).collect()
    }
    if not sizes:
        # Empty fast path must carry the SAME schema as the
        # non-empty path (ADVICE r9): derive the id type from the
        # input instead of hardcoding long.
        from pyspark.sql.types import (
            IntegerType, StructField, StructType,
        )

        id_type = df.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("id_a", id_type),
                    StructField("id_b", id_type),
                    StructField("pos_dist", IntegerType()),
                ]
            ),
        )
    # Merge buckets left-to-right until each merged bucket (except
    # possibly the last) holds >= window rows.
    remap, merged_sizes = {}, []
    for b in sorted(sizes):
        if not merged_sizes or merged_sizes[-1] >= window:
            merged_sizes.append(0)
        remap[b] = len(merged_sizes) - 1
        merged_sizes[-1] += sizes[b]
    mapping = F.create_map(
        *[F.lit(x) for kv in remap.items() for x in kv]
    )
    wfwd = Window.partitionBy("g").orderBy(
        F.col("k").asc(), F.col("id").asc()
    )
    wrev = Window.partitionBy("g").orderBy(
        F.col("k").desc(), F.col("id").desc()
    )
    rn = ranged.withColumn("g", mapping[F.col("b")]).select(
        "id",
        "g",
        F.row_number().over(wfwd).alias("rn"),
        F.row_number().over(wrev).alias("rev"),
    )
    # Within-bucket pairs: explode the offset 1..w and equi-join on
    # (g, rn + j) — a shuffle on small integer keys.
    left = rn.select(
        F.col("g").alias("ga"),
        F.col("id").alias("id_a"),
        F.col("rn").alias("ra"),
    ).withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(window))))
    right = rn.select(
        F.col("g").alias("gb"),
        F.col("id").alias("id_b"),
        F.col("rn").alias("rb"),
    )
    inner = left.join(
        right,
        (F.col("ga") == F.col("gb"))
        & ((F.col("ra") + F.col("j")) == F.col("rb")),
        "inner",
    ).select("id_a", "id_b", F.col("j").alias("pos_dist"))
    # Cross-boundary pairs: tail sliver of bucket g (reverse
    # position je = 1..w) × head sliver of bucket g+1 (position
    # i = 1..w); global distance = (je - 1) + i.
    tails = rn.where(F.col("rev") <= window).select(
        F.col("g").alias("gt"),
        F.col("id").alias("id_a"),
        F.col("rev").alias("je"),
    )
    heads = rn.where(F.col("rn") <= window).select(
        F.col("g").alias("gh"),
        F.col("id").alias("id_b"),
        F.col("rn").alias("i"),
    )
    cross = (
        tails.join(heads, tails["gt"] + 1 == heads["gh"], "inner")
        .where((F.col("je") - 1 + F.col("i")) <= window)
        .select(
            "id_a",
            "id_b",
            (F.col("je") - 1 + F.col("i")).cast("int").alias("pos_dist"),
        )
    )
    return inner.withColumn(
        "pos_dist", F.col("pos_dist").cast("int")
    ).unionByName(cross)
