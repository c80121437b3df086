"""Split-conformal prediction intervals (r9c).

The distribution-free uncertainty wrapper every production scoring
pipeline wants next to its point predictions (Vovk et al.;
Lei et al. 2018 split-conformal): hold out a calibration split,
take q̂ = the ⌈(1−α)(n_cal+1)⌉-th order statistic of absolute
calibration residuals, and ship [ŷ − q̂, ŷ + q̂] — guaranteed
≥ 1−α marginal coverage for exchangeable data, no model
assumptions.

Scale + determinism design:
- The train/calibration/test split is CONTENT-ADDRESSED (md5 of the
  row key — the repo's hash_split rule, operators/sampling.py), so
  the split replays on any cluster and in the SQL oracle.
- The predictor here is the frozen per-group train mean (exact
  decimal sum, ONE IEEE division, 6dp round) — the same frozen-twin
  discipline as interpolation_gbt_frozen; any deterministic
  predictor column can be supplied instead via ``pred_col``.
- q̂ per group is an ORDER STATISTIC (rank selection over the
  calibration residuals window, ties broken by row key — no
  interpolation), so intervals are bit-replayable cross-engine.
- Output is the bounded per-group frame: (group, n_train, n_cal,
  pred, qhat, plus measured test coverage) — never per-row unless
  asked via ``per_row=True``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60


def conformal_mean_intervals(
    df: DataFrame,
    value: Column | str,
    key: Column | str,
    by: list[str],
    *,
    alpha: float = 0.1,
    cal_pct: int = 30,
    test_pct: int = 20,
    salt: str = "conf",
) -> DataFrame:
    """Per-group split-conformal intervals around the train-mean
    predictor, with measured test coverage.

    Split by md5(key) mod 100: buckets [0, test_pct) → test,
    [test_pct, test_pct+cal_pct) → calibration, rest → train.
    Returns ``(*by, n_train, n_cal, n_test, pred, qhat, lo, hi,
    coverage)`` where coverage is the exact fraction of test rows
    with |y − pred| ≤ q̂ (one IEEE division of exact counts).
    Groups whose calibration split is empty emit NULL qhat/coverage
    rather than a fabricated interval.
    """
    v = F.col(value) if isinstance(value, str) else value
    k = F.col(key) if isinstance(key, str) else key
    q_rank_num = 10000 - int(round(alpha * 10000))  # (1-alpha) in bp
    base = df.select(
        *by,
        v.cast("decimal(18,6)").alias("__y"),
        k.cast("string").alias("__k"),
    ).filter(F.col("__y").isNotNull())
    b = F.pmod(h60(F.col("__k").cast("string"), salt), F.lit(100))
    base = base.withColumn(
        "__split",
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + cal_pct, F.lit("cal"))
        .otherwise(F.lit("train")),
    )
    pred = (
        base.filter(F.col("__split") == "train")
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.round(
                F.sum("__y").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("pred"),
        )
    )
    # |y - pred| is exact: y is decimal(18,6), pred a 6dp double —
    # compute in decimal so residual ordering has no IEEE wobble.
    resid = (
        base.filter(F.col("__split") == "cal")
        .join(pred, by, "inner")
        .select(
            *by,
            "__k",
            F.abs(
                F.col("__y") - F.col("pred").cast("decimal(18,6)")
            ).alias("__r"),
        )
    )
    w = Window.partitionBy(*by).orderBy(F.col("__r").asc(), F.col("__k").asc())
    qhat = (
        resid.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_cal",
            F.count(F.lit(1)).over(Window.partitionBy(*by)).cast("long"),
        )
        # rank = ceil((1-alpha) * (n_cal + 1)), capped at n_cal
        .withColumn(
            "q_rank",
            F.least(
                F.expr(f"CAST(({q_rank_num}L * (n_cal + 1) + 9999) div 10000 AS BIGINT)"),
                F.col("n_cal"),
            ),
        )
        .filter(F.col("rn") == F.col("q_rank"))
        .select(*by, "n_cal", F.col("__r").alias("qhat"))
    )
    test = (
        base.filter(F.col("__split") == "test")
        .join(pred, by, "inner")
        .join(qhat, by, "left")
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(
                        F.col("__y") - F.col("pred").cast("decimal(18,6)")
                    )
                    <= F.col("qhat"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        pred.join(qhat, by, "left")
        .join(test, by, "left")
        .select(
            *by,
            "n_train",
            F.coalesce(F.col("n_cal"), F.lit(0).cast("long")).alias("n_cal"),
            F.coalesce(F.col("n_test"), F.lit(0).cast("long")).alias("n_test"),
            "pred",
            F.col("qhat").cast("double").alias("qhat"),
            (F.col("pred") - F.col("qhat").cast("double")).alias("lo"),
            (F.col("pred") + F.col("qhat").cast("double")).alias("hi"),
            F.when(
                F.col("qhat").isNotNull(),
                F.round(
                    F.col("n_covered").cast("double")
                    / F.col("n_test").cast("double"),
                    6,
                ),
            ).alias("coverage"),
        )
    )
