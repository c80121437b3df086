"""Deterministic two-sample permutation test (r9c).

Completes the repo's resampling family (Poisson bootstrap —
report/bootstrap.py; the same Chamandy-et-al. massive-stream
discipline applies): the classic permutation test shuffles group
labels, which at 100 TB is a full-data shuffle PER REPLICATE. The
scale variant used here relabels each row INDEPENDENTLY with
P(group A) = n_a/n (the binomial/random-relabeling approximation —
group sizes vary binomially per replicate, which is the standard
massive-data form and asymptotically equivalent), so the whole
B-replicate ensemble is ONE map-only pass over rows × B followed by
a bounded aggregation.

Content-addressed draws (the repo's md5 rule): replicate b assigns
row key to pseudo-group A iff u·n < 2⁶⁰·n_a where u is the 60-bit
md5 of (salt, b, 0x1f, key) — the product is computed in
DECIMAL(38,0) so it is exact at any n, and the identical integer
comparison replays in the SQL oracle. Replicate statistics are one
IEEE division of exact decimal sums each; the p-value is the exact
count ratio (1 + #{b : |diff_b| ≥ |diff_obs|}) / (1 + B_valid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60_at


def permutation_test_means(
    df: DataFrame,
    value: Column | str,
    group: Column | str,
    key: Column | str,
    *,
    n_perm: int = 200,
    salt: str = "pt",
) -> DataFrame:
    """Two-sided permutation test for a difference in means between
    the two values of ``group``.

    Returns one row: ``(group_a, group_b, n_a, n_b, diff_obs,
    n_perm_valid, n_ge, p_value)`` with group_a the
    lexicographically smaller label and diff_obs = mean_a − mean_b.
    Replicates where either pseudo-group lands empty (vanishingly
    rare beyond toy inputs) drop out of both counts.

    ``key`` must uniquely identify rows. Everything is
    content-addressed: the same (key, b) always draws the same
    pseudo-label on any cluster, partitioning, or engine.
    """
    v = F.col(value) if isinstance(value, str) else value
    g = F.col(group) if isinstance(group, str) else group
    k = F.col(key) if isinstance(key, str) else key
    base = df.select(
        g.cast("string").alias("__g"),
        v.cast("decimal(18,6)").alias("__x"),
        k.alias("__k"),
    ).filter(F.col("__x").isNotNull() & F.col("__g").isNotNull())
    # Bounded stats frame: one row — labels, sizes, observed diff.
    # ADVICE r9 guard: the two-sample contract demands EXACTLY two
    # labels; silently keeping the lexicographic min/max would give
    # a wrong p-value on >2 groups. assert_true rides inside
    # diff_obs (returns NULL on pass) so Catalyst can't prune it.
    stats = base.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").alias("s"),
    )
    agg = stats.agg(
        F.count(F.lit(1)).cast("long").alias("__ng"),
        F.min("__g").alias("group_a"),
        F.max("__g").alias("group_b"),
        F.min_by("n", "__g").cast("long").alias("n_a"),
        F.max_by("n", "__g").cast("long").alias("n_b"),
        F.min_by("s", "__g").alias("s_a"),
        F.max_by("s", "__g").alias("s_b"),
    ).withColumn(
        "diff_obs",
        F.when(
            F.assert_true(
                F.col("__ng") == 2,
                F.concat(
                    F.lit(
                        "permutation_test_means requires exactly 2 "
                        "group labels, got "
                    ),
                    F.col("__ng").cast("string"),
                ),
            ).isNull(),
            F.round(
                F.col("s_a").cast("double") / F.col("n_a").cast("double"), 6
            )
            - F.round(
                F.col("s_b").cast("double") / F.col("n_b").cast("double"), 6
            ),
        ),
    ).drop("__ng")
    # rows × B map-only relabeling; the DECIMAL(38,0) product keeps
    # u·n exact at any corpus size (ANSI mode would raise on a long
    # overflow; non-ANSI would silently wrap — see ADVICE r8 on
    # target_encoder's headroom).
    par = base.sparkSession.sparkContext.defaultParallelism
    repl = (
        base.repartition(par)
        .crossJoin(
            F.broadcast(agg.select("n_a", (F.col("n_a") + F.col("n_b")).alias("n")))
        )
        .select(
            "__x",
            "__k",
            "n_a",
            "n",
            F.explode(F.expr(f"sequence(1, {int(n_perm)})")).alias("b"),
        )
        .withColumn("u", h60_at(F.col("__k"), F.col("b"), salt))
        .withColumn(
            "is_a",
            (
                F.col("u").cast("decimal(38,0)")
                * F.col("n").cast("decimal(38,0)")
                < F.lit(1 << 60).cast("decimal(38,0)")
                * F.col("n_a").cast("decimal(38,0)")
            ),
        )
    )
    diffs = (
        repl.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_a"), F.col("__x"))).alias("sa"),
            F.count(F.when(F.col("is_a"), F.lit(1))).cast("long").alias("ca"),
            F.sum(F.when(~F.col("is_a"), F.col("__x"))).alias("sb"),
            F.count(F.when(~F.col("is_a"), F.lit(1))).cast("long").alias("cb"),
        )
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .select(
            F.round(F.col("sa").cast("double") / F.col("ca").cast("double"), 6)
            - F.round(F.col("sb").cast("double") / F.col("cb").cast("double"), 6)
        )
        .toDF("d")
    )
    perm = diffs.crossJoin(F.broadcast(agg.select("diff_obs"))).agg(
        F.count(F.lit(1)).cast("long").alias("n_perm_valid"),
        F.sum(
            (F.abs(F.col("d")) >= F.abs(F.col("diff_obs"))).cast("int")
        )
        .cast("long")
        .alias("n_ge"),
    )
    return (
        agg.crossJoin(perm)
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            "diff_obs",
            "n_perm_valid",
            "n_ge",
            F.round(
                (F.lit(1) + F.col("n_ge")).cast("double")
                / (F.lit(1) + F.col("n_perm_valid")).cast("double"),
                6,
            ).alias("p_value"),
        )
    )
