"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169; beyond-reference LLM-pipeline operator, SURVEY.md
§2).

The standard way to pick pretraining data that "looks like" a target
domain (Wikipedia+books in the paper; any curated corpus in practice)
without training a classifier per domain: estimate bag-of-hashed-
n-gram unigram distributions ``p`` (target) and ``q`` (raw pool) over
a small bucket space, weight every raw document by its importance
``log w(x) = Σ_b count_b(x) · (log p_b − log q_b)``, then sample the
training subset ∝ w(x) WITHOUT replacement via the Gumbel-top-k
trick. Spark-first realization:

- :func:`fit_dsir` — two explode + map-side-combined bucket counts
  (one tiny shuffle of ≤ n_features rows per side); driver state is
  the n_features log-ratio vector, corpus-independent. Laplace
  smoothing keeps unseen buckets finite.
- :func:`dsir_log_weight` — corpus-scale scoring with a FROZEN
  ratio vector, map-only: one in-row fold over each document's unit
  array sums the ratios looked up in a constant-folded literal
  table (no exchange, no join). Pure md5/double arithmetic → with
  literal ratios the whole pass is exact SQL (battery query
  ``dsir_weights``).
- :func:`dsir_resample` — Gumbel-top-k: key = logw + Gumbel(0,1)
  with the Gumbel drawn from the CONTENT-ADDRESSED md5 uniform
  (same rule as every sampler in this repo), so the "random" draw
  is reproducible on any cluster/partitioning AND SQL-replayable
  (battery query ``dsir_resample``). Top-k runs as a distributed
  TakeOrdered (orderBy + limit) — no global sort, the driver holds
  k rows.

At 100 TB: fit touches the corpus once with an n_features-bounded
shuffle; scoring is the same map-only fold as ``score_quality``
(one helper, one unit rule, one bucket rule); resampling adds one
map-only key column and a top-k. Nothing driver-side scales with
the corpus.

Reference parity: skrub has no data-selection operator; this is a
beyond-reference operator specified by the brief's training-data
pipeline list (the DoReMi/DSIR family FineWeb-class pipelines run
between heuristic filtering and mixture sampling).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket
from .quality_classifier import _unit_fold, bucket_sql, units
from .sampling import _FINE_BUCKETS

_DEFAULT_SALT = "dsir|"


def _bucket_counts(
    df: DataFrame, content_col: str, n_features: int, bigrams: bool, salt: str
) -> dict[int, int]:
    """Total unit count per hashed bucket — ≤ n_features rows ever
    reach the driver."""
    rows = (
        df.select(F.explode(units(F.col(content_col), bigrams)).alias("u"))
        .select(F.expr(bucket_sql("u", n_features, salt)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    return {int(r["bucket"]): int(r["cnt"]) for r in rows}


def fit_dsir(
    target: DataFrame,
    raw: DataFrame,
    content_col: str = "text",
    *,
    n_features: int = 256,
    bigrams: bool = True,
    salt: str = _DEFAULT_SALT,
    alpha: float = 1.0,
) -> dict:
    """Estimate the hashed-n-gram importance model; returns a frozen
    dict ``{"n_features", "bigrams", "salt", "log_ratios":
    [n_features]}`` ready for :func:`dsir_log_weight`.

    ``log_ratios[b] = log((t_b + α)/(T + α·n)) − log((r_b + α)/
    (R + α·n))`` with Laplace smoothing α so buckets unseen on
    either side stay finite. Both passes are distributed; driver
    state is two n_features-sized count maps."""
    t_counts = _bucket_counts(target, content_col, n_features, bigrams, salt)
    r_counts = _bucket_counts(raw, content_col, n_features, bigrams, salt)
    t_tot = sum(t_counts.values()) + alpha * n_features
    r_tot = sum(r_counts.values()) + alpha * n_features
    ratios = [
        math.log((t_counts.get(b, 0) + alpha) / t_tot)
        - math.log((r_counts.get(b, 0) + alpha) / r_tot)
        for b in range(n_features)
    ]
    return {
        "n_features": int(n_features),
        "bigrams": bool(bigrams),
        "salt": salt,
        "log_ratios": ratios,
    }


def dsir_log_weight(
    df: DataFrame,
    model: dict,
    content_col: str = "text",
    weight_col: str = "dsir_logw",
) -> DataFrame:
    """Adds ``weight_col`` = Σ over units of log_ratios[bucket(unit)]
    (the document's log importance weight under the bag-of-hashed-
    n-grams model), ROUNDED to 6dp so the double sum is engine-
    portable. Zero-unit and null documents get 0.0 — every input row
    survives. Map-only: the same in-row fold as
    :func:`~.quality_classifier.score_quality`, with the 256-entry
    ratio vector as the lookup table."""
    logw = _unit_fold(
        F.col(content_col), model, "log_ratios", _DEFAULT_SALT, mean=False
    )
    return df.withColumn(
        weight_col, F.coalesce(F.round(logw, 6), F.lit(0.0))
    )


def gumbel_key(
    key: Column, logw: Column, salt: str = "dsirg|"
) -> Column:
    """Gumbel-top-k perturbed key: ``logw + round(−ln(−ln(u)), 6)``
    with ``u = (md5_bucket(key) + 0.5) / 10^8`` — a content-addressed
    Gumbel(0,1) draw, identical on every engine (the ±1-ulp libm/JVM
    ``ln`` drift dies in the 6dp round). Sampling the top-k of these
    keys IS sampling k docs without replacement ∝ exp(logw)."""
    u = (
        hash_bucket(key, salt, _FINE_BUCKETS).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_FINE_BUCKETS))
    g = F.round(-F.log(-F.log(u)), 6)
    return logw + g


def dsir_resample(
    df: DataFrame,
    model: dict,
    k: int,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    salt: str = "dsirg|",
    key_col: str = "dsir_key",
) -> DataFrame:
    """Select ``k`` documents without replacement with probability
    ∝ exp(log importance weight): score with :func:`dsir_log_weight`,
    perturb with the content-addressed Gumbel, keep the global top-k
    (distributed TakeOrdered — orderBy + limit plans as a per-
    partition top-k merge, never a full sort). Deterministic: ties
    (6dp-rounded keys CAN collide) break on ``id_col``."""
    scored = dsir_log_weight(df, model, content_col)
    keyed = scored.withColumn(
        key_col,
        F.round(gumbel_key(F.col(id_col), F.col("dsir_logw"), salt), 6),
    )
    return keyed.orderBy(
        F.col(key_col).desc(), F.col(id_col).asc()
    ).limit(int(k))
