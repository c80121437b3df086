"""Skew-mitigation helpers (SURVEY.md §4).

AQE's skew-join splitting handles most cases at runtime; explicit
salting remains necessary when a *groupBy* key is hot (AQE cannot
split a single aggregation key) or when the skew is known up front.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60


def _content_salt(salt_from: list[str], n_salts: int) -> Column:
    """Content-addressed salt in [0, n_salts): the portable 60-bit
    md5 bucket of the named columns' values — a pure function of the
    ROW, so the salted plan is identical under any partitioning,
    retry, or replay (the library's determinism rule)."""
    key = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in salt_from]
    )
    return F.pmod(h60(key), F.lit(int(n_salts))).cast("int")


def salted_groupby_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
    reaggs: dict[str, Column] | None = None,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Two-stage aggregation for hot keys: stage 1 groups by
    (key, salt) — spreading a hot key over ``n_salts`` reducers —
    stage 2 merges the partials per key.

    ``aggs``: output_name -> first-stage aggregate expression.
    ``reaggs``: output_name -> merge expression over the partials
    (default: sum, correct for count/sum-style partials).
    ``salt_from``: columns whose md5 drives the salt
    (:func:`_content_salt`) — deterministic under any partitioning,
    so plans replay bit-identically for debugging. Default is
    ``F.rand(seed=42)``, which is CORRECT for aggregation (the merge
    stage is associative over any salt assignment) but
    partition-layout-dependent — the one nondeterministic source in
    the library; pass ``salt_from`` when replayability matters or
    when the salt should spread a hot key by a high-cardinality
    payload column."""
    if salt_from:
        salt = _content_salt(salt_from, n_salts).alias("__salt")
    else:
        salt = (F.rand(seed=42) * n_salts).cast("int").alias("__salt")
    stage1 = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    merge = reaggs or {name: F.sum(name) for name in aggs}
    return stage1.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in merge.items()]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skewed equi-join: the (large, skewed) left side gets a random
    salt; the (smaller) right side is replicated ``n_salts`` times so
    every salted key still finds its match. Use when AQE's runtime
    skew split is unavailable (e.g. non-shuffle-join constraints)."""
    salted_left = left.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    replicated_right = right.select("*", salts)
    out = salted_left.join(replicated_right, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def auto_join_with_strategy(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    *,
    broadcast_threshold_rows: int = 1_000_000,
    skew_share_threshold: float = 0.2,
    n_salts: int = 16,
) -> tuple[DataFrame, str]:
    """Strategy-selecting equi-join: probes the inputs and picks
    broadcast / salted / plain shuffle, returning ``(result,
    strategy)``. The RESULT is the same semantic join under every
    strategy (the battery oracle ``adaptive_join`` is a plain SQL
    join) — only the physical plan changes.

    Decision rule (the same gates `key_skew_report` documents):
    1. right side ≤ ``broadcast_threshold_rows`` → ``broadcast()``
       (probed with an early-exit ``limit(k+1).count()``, never a
       full count of a 100 TB side);
    2. else if the left side's hottest key owns more than
       ``skew_share_threshold`` of its rows → ``salted_join``
       (probe: ONE counting groupBy on the 8-byte key column —
       the diagnostic half of report/skew.py — plus a count);
    3. else a plain shuffle join, leaving residual moderate skew
       to AQE's runtime split.

    Driver state is three integers; probes are key-column-only.
    """
    probe = right.limit(int(broadcast_threshold_rows) + 1).count()
    if probe <= broadcast_threshold_rows:
        return (
            left.join(F.broadcast(right), on=on, how=how),
            "broadcast",
        )
    top_row = (
        left.groupBy(on)
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc())
        .limit(1)
        .first()
    )
    total = left.count()
    if top_row is not None and total > 0:
        if top_row["__c"] / total > skew_share_threshold:
            return (
                salted_join(left, right, on, n_salts=n_salts, how=how),
                "salted",
            )
    return left.join(right, on=on, how=how), "shuffle"


def auto_join(
    left: DataFrame, right: DataFrame, on: str, how: str = "inner", **kw
) -> DataFrame:
    """``auto_join_with_strategy`` without the strategy tag."""
    return auto_join_with_strategy(left, right, on, how, **kw)[0]


def auto_agg_with_strategy(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    *,
    skew_share_threshold: float = 0.2,
    n_salts: int = 16,
    reaggs: dict[str, Column] | None = None,
    salt_from: list[str] | None = None,
) -> tuple[DataFrame, str]:
    """Strategy-selecting aggregation (r9, VERDICT r8 #6 — the
    groupBy twin of :func:`auto_join_with_strategy`): probes the
    key distribution and picks plain / salted two-stage, returning
    ``(result, strategy)``. The RESULT is the same semantic
    aggregate under both strategies (the battery oracle
    ``adaptive_agg`` is a plain SQL GROUP BY) — only the physical
    plan changes.

    Decision rule: ONE counting groupBy over the key columns (the
    diagnostic half of report/skew.py — the probe shuffles 8-byte
    key rows with map-side combine, never payloads) finds the
    hottest key's share; above ``skew_share_threshold`` the
    aggregation runs as :func:`salted_groupby_agg` — AQE can split
    skewed JOIN partitions at runtime but cannot split a single
    aggregation key, so a hot groupBy key needs the explicit
    two-stage spread — else one plain groupBy (map-side combine
    already bounds moderate skew for associative aggregates).
    Driver state is two integers.

    ``aggs`` must be partial aggregates whose ``reaggs`` merge is
    associative (count/sum family by default) so both strategies
    are exactly equivalent. ``salt_from`` selects the
    content-addressed salt (see :func:`salted_groupby_agg`)."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
    top = counts.agg(
        F.max("__c").alias("__top"), F.sum("__c").alias("__n")
    ).first()
    total = top["__n"] or 0
    if total > 0 and top["__top"] / total > skew_share_threshold:
        out = salted_groupby_agg(
            df, keys, aggs, n_salts=n_salts, reaggs=reaggs,
            salt_from=salt_from,
        )
        return out, "salted"
    merge = reaggs or {name: F.sum(name) for name in aggs}
    # plain path: apply stage-1 + merge in ONE groupBy so the output
    # expressions (and types) match the salted path exactly
    stage1 = df.groupBy(*keys).agg(
        *[expr.alias(f"__p_{name}") for name, expr in aggs.items()]
    )
    renamed = stage1.select(
        *keys, *[F.col(f"__p_{n}").alias(n) for n in aggs]
    )
    out = renamed.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in merge.items()]
    )
    return out, "plain"


def auto_agg(
    df: DataFrame, keys: list[str], aggs: dict[str, Column], **kw
) -> DataFrame:
    """``auto_agg_with_strategy`` without the strategy tag."""
    return auto_agg_with_strategy(df, keys, aggs, **kw)[0]
