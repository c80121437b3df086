"""Multiple-testing control (r9c): group-wise permutation p-values
and Benjamini–Hochberg step-up FDR.

The missing piece after the repo's two-sample tests (abtest.py,
drift.py, permutation.py): screening MANY groups at once ("which of
these 500 segments moved?") without the guaranteed false positives
of per-test α. BH (Benjamini & Hochberg 1995) controls the false
discovery rate: sort the m p-values, find the largest k with
p_(k) ≤ k·α/m, reject ranks 1..k; q-values are the step-up running
minima of p_(i)·m/i.

Determinism: p-values from ``permutation_group_deviation`` are
EXACT COUNT RATIOS (the md5-relabeling construction of
permutation.py applied per group), so the BH comparisons and
q-values replay bit-identically in SQL. All BH work happens on the
bounded per-group frame (m rows), never row-scale data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60_at


def permutation_group_deviation(
    df: DataFrame,
    value: Column | str,
    group: Column | str,
    key: Column | str,
    *,
    n_perm: int = 40,
    salt: str = "pg",
) -> DataFrame:
    """For every group g: a permutation p-value for "does g's mean
    differ from the rest?" — diff = mean(x | g) − mean(x | not g).

    Replicates draw ONE categorical pseudo-label per (row, b):
    u = md5(salt, b, key) in 60-bit space lands in group g's slice
    [cum_g·2⁶⁰, (cum_g+n_g)·2⁶⁰) of u·n (groups ordered
    lexicographically, cumulative counts exact) — the standard
    multi-group relabeling, ONE rows × B pass for ALL m groups
    (not rows × B × m), with the slice match against the bounded
    broadcast threshold frame. Every compare runs in DECIMAL(38,0)
    so it replays in SQL; p-values are exact count ratios.

    Returns ``(group, n_g, diff_obs, n_perm_valid, n_ge, p_value)``.
    Replicates where a group's pseudo-slice lands empty (or
    swallows everything) drop out of that group's counts.
    """
    v = F.col(value) if isinstance(value, str) else value
    g = F.col(group) if isinstance(group, str) else group
    k = F.col(key) if isinstance(key, str) else key
    base = df.select(
        g.cast("string").alias("__g"),
        v.cast("decimal(18,6)").alias("__x"),
        k.alias("__k"),
    ).filter(F.col("__x").isNotNull() & F.col("__g").isNotNull())
    base = base.persist()
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").alias("s"),
    )
    wg = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, -1
    )
    per_g = (
        base.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("__x").alias("s_g"),
        )
        # bounded m-row frame: the ordered cumulative pass is fine
        .withColumn(
            "cum_g",
            F.coalesce(F.sum("n_g").over(wg), F.lit(0)).cast("long"),
        )
        .crossJoin(F.broadcast(tot))
    )
    obs = per_g.select(
        "__g",
        "n_g",
        (
            F.round(
                F.col("s_g").cast("double") / F.col("n_g").cast("double"), 6
            )
            - F.round(
                (F.col("s") - F.col("s_g")).cast("double")
                / (F.col("n") - F.col("n_g")).cast("double"),
                6,
            )
        ).alias("diff_obs"),
    )
    # ONE draw per (row, b); the m-row threshold table collects to
    # the driver (codebook discipline) and assignment is a literal
    # CASE chain — ONE u·n DECIMAL(38,0) multiply per row plus m
    # ordered compares, all codegen (a broadcast range-join here
    # re-evaluated the decimal product per threshold and cost 4x).
    d0 = "decimal(38,0)"
    cuts = sorted(
        (r["__g"], int(r["cum_g"]) + int(r["n_g"]), int(r["n"]))
        for r in per_g.select("__g", "cum_g", "n_g", "n").collect()
    )
    n_all = cuts[0][2]
    # spread the rows×B explode across the cluster — a small input
    # file otherwise pins all B replicates into its one scan task
    par = base.sparkSession.sparkContext.defaultParallelism
    repl = (
        base.repartition(par)
        .select(
            "__x",
            "__k",
            F.explode(F.expr(f"sequence(1, {int(n_perm)})")).alias("b"),
        )
        .withColumn("u", h60_at(F.col("__k"), F.col("b"), salt))
        .withColumn(
            "un", F.col("u").cast(d0) * F.lit(n_all).cast(d0)
        )
    )
    from decimal import Decimal

    assign = None
    for gname, hi_count, _n in cuts:
        hi = F.lit(Decimal(hi_count * (1 << 60))).cast(d0)
        cond = F.col("un") < hi
        assign = (
            F.when(cond, F.lit(gname))
            if assign is None
            else assign.when(cond, F.lit(gname))
        )
    assigned = repl.withColumn("g2", assign)
    sums = (
        assigned.groupBy("g2", "b")
        .agg(
            F.sum("__x").alias("si"),
            F.count(F.lit(1)).cast("long").alias("ci"),
        )
        .crossJoin(F.broadcast(tot))
        .filter((F.col("ci") > 0) & (F.col("ci") < F.col("n")))
        .select(
            "g2",
            "b",
            (
                F.round(
                    F.col("si").cast("double") / F.col("ci").cast("double"),
                    6,
                )
                - F.round(
                    (F.col("s") - F.col("si")).cast("double")
                    / (F.col("n") - F.col("ci")).cast("double"),
                    6,
                )
            ).alias("d"),
        )
    )
    out = (
        sums.join(obs.select(F.col("__g").alias("g2"), "diff_obs"), "g2")
        .groupBy("g2", "diff_obs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_perm_valid"),
            F.sum((F.abs(F.col("d")) >= F.abs(F.col("diff_obs"))).cast("int"))
            .cast("long")
            .alias("n_ge"),
        )
        .join(obs.select(F.col("__g").alias("g2"), "n_g"), "g2")
        .select(
            F.col("g2").alias("group"),
            "n_g",
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
    return out


def bh_fdr(
    df: DataFrame,
    p_col: str,
    *,
    alpha: float = 0.1,
    group_col: str | None = None,
) -> DataFrame:
    """Benjamini–Hochberg step-up over a bounded p-value frame.

    Adds ``(p_rank, m_tests, q_value, reject)``. q-values are the
    step-up running minima of p·m/rank (capped at 1); ``reject`` is
    the classic step-up rule (all ranks ≤ the largest k with
    p_(k) ≤ k·α/m). Ties order by ``group_col`` (or p alone) so the
    ranking is total. The frame is per-test (m rows), already
    bounded — the windows here never see row-scale data.
    """
    tie = [F.col(group_col).asc()] if group_col else []
    w = Window.orderBy(F.col(p_col).asc(), *tie)
    wall = Window.partitionBy()
    ranked = (
        df.withColumn("p_rank", F.row_number().over(w).cast("long"))
        .withColumn("m_tests", F.count(F.lit(1)).over(wall).cast("long"))
    )
    raw_q = (
        F.col(p_col)
        * F.col("m_tests").cast("double")
        / F.col("p_rank").cast("double")
    )
    w_up = Window.orderBy(F.col("p_rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sat = F.when(
        F.col(p_col)
        <= F.col("p_rank").cast("double")
        * F.lit(float(alpha))
        / F.col("m_tests").cast("double"),
        F.col("p_rank"),
    )
    return (
        ranked.withColumn(
            "q_value", F.round(F.least(F.min(raw_q).over(w_up), F.lit(1.0)), 6)
        )
        .withColumn("__k_max", F.max(sat).over(wall))
        .withColumn(
            "reject",
            F.col("__k_max").isNotNull()
            & (F.col("p_rank") <= F.col("__k_max")),
        )
        .drop("__k_max")
    )
