"""Deterministic Poisson bootstrap confidence intervals.

The classic resample-with-replacement bootstrap is impossible at
100 TB (a resample IS the dataset); the production-scale variant is
the POISSON bootstrap (Chamandy et al., "Estimating Uncertainty for
Massive Data Streams", Google 2012): replicate b gives every row an
independent Poisson(1) weight, so a replicate's statistic is one
weighted aggregation and the whole B-replicate ensemble is map-only
over rows × B — no resampling shuffle, streaming-friendly, and each
row's weights depend only on (row key, b).

This implementation makes the draws CONTENT-ADDRESSED (the repo's
md5 rule): weight(row, b) = #{k : u ≥ T_k} where u is the 60-bit md5
of (salt, b, 0x1f, key) and T_k = floor(P(X≤k)·2^60) are Poisson(1)
CDF thresholds embedded as integer literals — so every replicate is
bit-identical on any cluster/partitioning AND in a SQL oracle
(battery query ``bootstrap_ci``). Weights cap at 8
(P(X>8|λ=1) ≈ 1.1e-6 — a negligible, deterministic truncation).

Exactness discipline: values are summed as DECIMAL(18,6)·w (exact),
each replicate mean is ONE IEEE division of the two exact sums, and
the CI bounds are ORDER STATISTICS of the B replicate means (rank
selection with the integer basis-point cut rule — no interpolation),
so the report replays bit-identically cross-engine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60_at

# Poisson(1) CDF thresholds in the 60-bit md5 space: weight = number
# of thresholds <= u. floor() keeps them integers; the same literals
# feed the SQL oracle.
_POIS1_CDF = []
_acc = 0.0
for _k in range(9):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _POIS1_CDF.append(_acc)
POISSON1_THRESHOLDS = [int(c * (1 << 60)) for c in _POIS1_CDF[:-1]]
# weight k for u in [T_{k-1}, T_k); u >= T_7 -> weight 8 (cap)


def poisson_weight(key: Column, b: Column, salt: str = "") -> Column:
    """Deterministic Poisson(1) draw for (row key, replicate b)."""
    u = h60_at(key, b, salt)
    w = F.lit(0)
    for t in POISSON1_THRESHOLDS:
        w = w + (u >= F.lit(t)).cast("int")
    return w


def bootstrap_mean_ci(
    df: DataFrame,
    value: Column | str,
    key: Column | str,
    by: list[str] | None = None,
    *,
    n_boot: int = 200,
    alpha: float = 0.05,
    salt: str = "bs",
) -> DataFrame:
    """Percentile-bootstrap CI for the mean of ``value`` (optionally
    per ``by`` group): ``(*by, n_rows, point, ci_lo, ci_hi)``.

    ``key`` must uniquely identify rows (duplicated keys draw
    correlated weights, mildly understating variance — use a real
    row id). ``point`` is the full-sample mean; ``ci_lo``/``ci_hi``
    are the ceil(α/2·B)-th / ceil((1−α/2)·B)-th order statistics of
    the B replicate means (ties broken by replicate index — a total
    order both engines share). Replicates whose total weight is 0
    (vanishingly rare beyond toy groups) drop out of the order
    statistics rather than poisoning them with a 0/0.

    Scale shape: rows × B map-only weighted partial aggregation
    (map-side combined groupBy), then windows over the B-row
    per-group means frame — bounded by B·|groups|, never row count.
    """
    v = F.col(value) if isinstance(value, str) else value
    k = F.col(key) if isinstance(key, str) else key
    by = list(by or [])
    lo_bp = int(round(alpha / 2 * 10000))
    hi_bp = int(round((1 - alpha / 2) * 10000))
    base = df.select(
        *by, v.cast("decimal(18,6)").alias("__x"), k.alias("__k")
    ).filter(F.col("__x").isNotNull())
    point = base.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(
            F.sum("__x").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("point"),
    )
    # spread the rows×B explode — a small input file otherwise pins
    # all B replicates into its one scan task (r9c fix)
    par = base.sparkSession.sparkContext.defaultParallelism
    repl = base.repartition(par).select(
        *by,
        "__x",
        "__k",
        F.explode(F.expr(f"sequence(1, {int(n_boot)})")).alias("b"),
    ).withColumn("w", poisson_weight(F.col("__k"), F.col("b"), salt))
    means = (
        repl.groupBy(*by, "b")
        .agg(
            F.sum(F.col("__x") * F.col("w")).alias("__sx"),
            F.sum("w").cast("long").alias("__sw"),
        )
        .filter(F.col("__sw") > 0)
        .select(
            *by,
            "b",
            F.round(
                F.col("__sx").cast("double") / F.col("__sw").cast("double"),
                6,
            ).alias("m"),
        )
    )
    w_rank = Window.partitionBy(*by).orderBy("m", "b")
    ranked = means.select(
        *by,
        "m",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*by)).alias("nb"),
    )
    ci = ranked.groupBy(*by).agg(
        F.min(
            F.when(
                F.col("rn")
                >= F.expr(f"({lo_bp}L * nb + 9999L) div 10000L"),
                F.col("m"),
            )
        ).alias("ci_lo"),
        F.min(
            F.when(
                F.col("rn")
                >= F.expr(f"({hi_bp}L * nb + 9999L) div 10000L"),
                F.col("m"),
            )
        ).alias("ci_hi"),
    )
    if by:
        return point.join(ci, by).select(
            *by, "n_rows", "point", "ci_lo", "ci_hi"
        )
    return point.crossJoin(ci).select("n_rows", "point", "ci_lo", "ci_hi")
