"""k-anonymity / l-diversity audit and rare-group suppression.

Training corpora and analytics extracts both ship with
quasi-identifier columns (location, segment, coarse balance, ...)
whose rare combinations re-identify individuals. The standard
pre-release gates (Sweeney's k-anonymity; Machanavajjhala's
l-diversity) are pure relational algebra, so they run as exact
Spark aggregations at any scale:

- ``k_anonymity_report``: ONE map-side-combined groupBy on the
  quasi-identifier tuple — the shuffle carries only the quasi
  columns (and optionally one sensitive column for the distinct
  count), never the payload. Output is one row per equivalence
  class with its size, its sensitive-value diversity and the two
  risk flags; at 100 TB this is the same cost as the release
  join itself would be, on a fraction of the bytes.
- ``suppress_rare``: generalization-by-suppression — quasi values
  of classes below ``k`` are nulled. Implemented as the class-size
  groupBy above plus ONE co-partitioned join back on the same
  quasi key (Catalyst reuses the shuffle partitioning), so the
  payload moves through exactly one shuffle.

Both are deterministic Column programs — no sampling, no UDFs —
and replay bit-identically in ANSI SQL (battery oracles
``k_anonymity_audit`` / ``k_suppression``).

Reference parity note: the skrub reference has no privacy surface;
this extends the report family (TableReport, associations, drift,
skew) that maps to ``skrub/_reporting`` (reference
``skrub/_reporting/_summarize.py:1``) with the release-gate audits
a corpus pipeline needs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60, null_safe


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l: int = 2,
) -> DataFrame:
    """One row per quasi-identifier equivalence class:
    ``(*quasi_cols, cnt, risky_k[, n_sensitive, risky_l])``.

    ``risky_k`` marks classes smaller than ``k`` (re-identifiable);
    with ``sensitive_col``, ``n_sensitive`` is the class's distinct
    sensitive-value count and ``risky_l`` marks classes below ``l``
    (attribute-disclosable even when k-anonymous).
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("cnt")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col))
            .cast("long")
            .alias("n_sensitive")
        )
    out = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)
    out = out.withColumn("risky_k", F.col("cnt") < F.lit(int(k)))
    if sensitive_col is not None:
        out = out.withColumn(
            "risky_l", F.col("n_sensitive") < F.lit(int(l))
        )
    return out


def suppress_rare(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Null the quasi-identifier columns of every row whose
    equivalence class has fewer than ``k`` members; all other
    columns pass through unchanged. Column order and types are
    preserved (suppressed cells become typed NULLs).
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    sizes = (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    joined = df.join(sizes, on=list(quasi_cols), how="left")
    keep = F.col("__cnt") >= F.lit(int(k))
    exprs = []
    for c, t in df.dtypes:
        if c in quasi_cols:
            exprs.append(
                F.when(keep, F.col(c))
                .otherwise(F.lit(None).cast(t))
                .alias(c)
            )
        else:
            exprs.append(F.col(c))
    return joined.select(*exprs)


def t_closeness_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    *,
    l: int = 2,
    t: float = 0.2,
) -> DataFrame:
    """Entropy l-diversity + t-closeness audit per quasi-identifier
    equivalence class (r12b — the two gates past plain k-anonymity:
    Machanavajjhala 2007\'s entropy variant catches classes whose
    sensitive values are *skewed* even when distinct, and Li 2007\'s
    t-closeness bounds how far a class\'s sensitive distribution
    drifts from the corpus — here with the equal-distance ground
    metric, under which EMD reduces to total variation distance).

    One row per class: ``(*quasi_cols, n, l_distinct, entropy,
    tvd, risky_l, risky_t)`` where ``entropy`` is the class\'s
    sensitive-value Shannon entropy in nats, ``risky_l`` flags
    entropy < ln(l) (the entropy-l-diversity test), ``tvd`` is
    (1/2)·Σ_c |p_class(c) − p_corpus(c)| and ``risky_t`` flags
    tvd > t. NULL sensitive values count as a category of their
    own (an absent value discloses too).

    Exactness: entropy uses ln(n) − Σ c·ln(c)/n with each c·ln(c)
    term 6dp-quantized to an exact DECIMAL(38,0) micro integer
    before the (order-independent) sum; tvd\'s numerator
    Σ|c·N − n·m_c| is exact integer arithmetic, so both scores are
    single IEEE divisions, 6dp-rounded — bit-replayable in SQL.

    Plan shape (100 TB): one map-side-combined groupBy to the
    (quasi, sensitive) cell frame; per-class totals re-join
    co-partitioned on the quasi key; the corpus margin frame is
    |sensitive categories| rows, broadcast. No window, no driver
    loop.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if int(l) < 1:
        raise ValueError("t_closeness_report: l must be >= 1")
    if not (0 <= float(t) <= 1):
        raise ValueError("t_closeness_report: t must be in [0, 1]")
    import math

    _DI = "decimal(38,0)"
    qn = list(quasi_cols)
    s = null_safe(F.col(sensitive_col))
    from pyspark.sql import Window

    cells0 = df.groupBy(
        *[F.col(c) for c in qn], s.alias("__s")
    ).agg(F.count(F.lit(1)).cast(_DI).alias("__c"))
    marg = cells0.groupBy("__s").agg(F.sum("__c").alias("__m"))
    # NOTE: every derived name here must differ from the others
    # case-INsensitively — spark.sql.caseSensitive is false by
    # default, so "__n" and "__N" are the same column
    tot = marg.agg(F.sum("__m").alias("__tot"))
    # per-class total as a window over the CELL frame: one
    # partition holds one class's <= |categories| cells (bounded),
    # avoiding a cells<->cells self-join
    wq = Window.partitionBy(*[F.col(c) for c in qn])
    cells = cells0.withColumn("__n", F.sum("__c").over(wq))
    joined = cells.join(F.broadcast(marg), "__s").crossJoin(
        F.broadcast(tot)
    )
    c = F.col("__c")
    term6 = F.round(
        c.cast("double") * F.log(c.cast("double")) * 1e6, 0
    ).cast(_DI)
    per = joined.groupBy(*[F.col(c_) for c_ in qn]).agg(
        F.max("__n").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.sum(term6).alias("__t6"),
        F.sum(
            F.abs(c * F.col("__tot") - F.col("__n") * F.col("__m"))
        ).alias("__num"),
        F.sum("__m").alias("__mp"),
        F.max("__tot").alias("__totx"),
    )
    n = F.col("__n")
    entropy = F.round(
        F.log(n.cast("double"))
        - F.col("__t6").cast("double") / 1e6 / n.cast("double"),
        6,
    )
    # categories ABSENT from the class contribute |0 - p(c)| each;
    # their mass is (tot - sum of the present categories' margins)
    tvd = F.round(
        (
            F.col("__num") + n * (F.col("__totx") - F.col("__mp"))
        ).cast("double")
        / (F.lit(2).cast(_DI) * n * F.col("__totx")).cast("double"),
        6,
    )
    return per.select(
        *[F.col(c_) for c_ in qn],
        n.cast("long").alias("n"),
        "l_distinct",
        entropy.alias("entropy"),
        tvd.alias("tvd"),
        # threshold at the same 6dp grain as entropy, so an
        # exactly-l-diverse uniform class is NOT flagged
        (entropy < F.lit(round(math.log(int(l)), 6))).alias(
            "risky_l"
        ),
        (tvd > F.lit(float(t))).alias("risky_t"),
    )


def dp_histogram(
    df: DataFrame,
    group_cols: Sequence[str],
    *,
    epsilon: float,
    seed: str = "",
    sensitivity: float = 1.0,
) -> DataFrame:
    """Differentially-private histogram release (r12b — the Dwork
    2006 Laplace mechanism over a groupBy count, the standard
    release gate for sharing per-group counts from a sensitive
    corpus): one row per group with ``noisy_n`` = count +
    Laplace(sensitivity/epsilon) noise and ``dp_n`` = the
    non-negative rounded count a release would publish. The TRUE
    count is deliberately NOT in the output — emitting it next to
    the noisy one would void the guarantee; join back on the group
    key in trusted space if you need both.

    The noise is DETERMINISTIC given ``seed``: the Laplace draw
    comes from inverting the CDF at a uniform derived from
    md5(seed ‖ group key) — so releases are reproducible,
    shard-order-independent, and bit-replayable in SQL (the same
    engine-portable md5 discipline as ``hash_split``). A
    deterministic per-(seed, group) draw is exactly as private as a
    cached random one under one release per seed; rotate the seed
    only together with the privacy budget.

    Mechanics: u = ((h mod 2^53) + 0.5)/2^53 with h the first 60
    md5 bits — strictly inside (0, 1) and computed entirely in
    exactly-representable doubles — then
    noise = −b·sign(u−½)·ln(1 − 2|u−½|), b = sensitivity/epsilon.
    ``noisy_n`` is 6dp-rounded; ``dp_n`` = max(0, round(noisy_n)).

    Plan shape (100 TB): ONE map-side-combined groupBy; the noise
    is a map-only Column program on the bounded group frame. No
    window, no collect, no Python.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if not float(epsilon) > 0:
        raise ValueError("dp_histogram: epsilon must be > 0")
    if not float(sensitivity) > 0:
        raise ValueError("dp_histogram: sensitivity must be > 0")
    b = float(sensitivity) / float(epsilon)
    _M53 = 9007199254740992  # 2^53
    counts = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    key = F.concat_ws(
        "\x1f",
        F.lit(seed),
        *[null_safe(F.col(c)) for c in group_cols],
    )
    h = h60(key)
    u = (
        (F.pmod(h, F.lit(_M53)).cast("double") + F.lit(0.5))
        / F.lit(float(_M53))
    ) - F.lit(0.5)
    noise = (
        F.lit(-b)
        * F.signum(u)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u))
    )
    noisy = F.round(F.col("__n").cast("double") + noise, 6)
    return counts.select(
        *[F.col(c) for c in group_cols],
        noisy.alias("noisy_n"),
        F.greatest(
            F.lit(0).cast("long"), F.round(noisy, 0).cast("long")
        ).alias("dp_n"),
        F.lit(float(epsilon)).alias("epsilon"),
    )
