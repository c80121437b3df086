"""Dependency profiling: functional dependencies and candidate
keys — beyond-reference data-quality operators (SURVEY.md §2).

Deequ-style expectation suites (``operators/expectations.py``)
check constraints you already know; dependency profiling DISCOVERS
them (Metanome/Papenbrock lineage): does ``zip -> city`` actually
hold, which column (set) is a key, where do violations live. In a
pipeline these gate joins (a "key" with duplicates fans out a 100 TB
join) and CDC assumptions (a merge key must be unique per batch).

Both profiles are exact counting aggregations:

- ``fd_profile``: for each candidate ``lhs -> rhs``, ONE
  (lhs-value)-keyed two-level agg — distinct rhs per lhs group
  (map-side combined), then group counts: how many lhs groups,
  how many violate (>1 distinct rhs), and the worst group's
  distinct-rhs count. An FD holds iff violations == 0.
- ``candidate_keys``: for each candidate column set, total rows vs
  distinct combinations and the count of rows living in duplicated
  keys (the join-fanout mass).

``fd_profile`` runs every candidate as its own column-pruned
scan+agg and unions the per-candidate summaries (one row each):
each candidate counts distinct values of a different rhs column, so
one shared pass would expand every row once per candidate.
``candidate_keys`` counts all candidate sets in ONE GROUPING SETS
pass and summarizes the per-key counts by ``grouping_id()``.
Candidates are schema-bounded (a curated list, never data-sized), so
the summaries are tiny. Battery oracles ``fd_profile`` /
``candidate_keys`` replay the counting verbatim.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fd_profile(
    df: DataFrame, candidates: list[tuple[str, str]]
) -> DataFrame:
    """One row per candidate ``lhs -> rhs``: ``(lhs, rhs,
    n_groups, n_violating, max_rhs_per_group, holds)``. NULLs
    count as values (NULL rhs is a distinct rhs; NULL lhs is a
    group): profiling must see every row."""
    outs = []
    for lhs, rhs in candidates:
        per_group = (
            df.select(
                F.col(lhs).alias("__l"), F.col(rhs).alias("__r")
            )
            .groupBy("__l")
            .agg(
                (
                    F.count_distinct(F.col("__r"))
                    + F.max(F.col("__r").isNull().cast("int"))
                ).alias("__nr")
            )
        )
        outs.append(
            per_group.agg(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum((F.col("__nr") > 1).cast("long"))
                .cast("long")
                .alias("n_violating"),
                F.max("__nr").cast("long").alias("max_rhs_per_group"),
            )
        )
    u = reduce(lambda x, y: x.unionByName(y), outs)
    return u.withColumn("holds", F.col("n_violating") == 0)


def candidate_keys(
    df: DataFrame, candidates: list[list[str]]
) -> DataFrame:
    """One row per candidate column set: ``(cols, n_rows,
    n_distinct, n_dup_rows, is_key)`` — ``cols`` is the
    comma-joined set, ``n_dup_rows`` the rows whose key value
    occurs more than once (the join-fanout mass). NULL-containing
    keys group by their NULL tuple (set semantics)."""
    cols = list(dict.fromkeys(c for cand in candidates for c in cand))
    # grouping_id() sets bit (len - 1 - i) for every column i a set
    # rolls up
    gids = [
        sum(1 << (len(cols) - 1 - i) for i, c in enumerate(cols)
            if c not in cand)
        for cand in candidates
    ]
    # one grouping set per distinct column set: a repeated set would
    # count its rows twice under the same grouping_id()
    sets = list({g: cand for g, cand in zip(gids, candidates)}.values())
    per_key = df.groupingSets(sets, *cols).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    per_set = per_key.groupBy("gid").agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("__n") > 1, F.col("__n")).otherwise(0))
        .cast("long")
        .alias("n_dup_rows"),
    )
    # the listed candidates drive the join, so empty input still gives
    # one row per candidate, with the empty aggregate's values
    listed = df.sparkSession.createDataFrame(
        [(g, ",".join(cand)) for g, cand in zip(gids, candidates)],
        "gid long, cols string",
    )
    return listed.join(per_set, "gid", "left").select(
        "cols",
        "n_rows",
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        "n_dup_rows",
        (F.col("n_dup_rows") == 0).alias("is_key"),
    )


def join_fanout_report(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    *,
    top_k: int = 10,
) -> DataFrame:
    """Pre-join fanout audit: the exact output cardinality a join
    would produce, per hottest key — ``(key, n_left, n_right,
    fanout, total_fanout, share)`` for the ``top_k`` keys by
    ``fanout = n_left · n_right`` (key tie-break). Run this BEFORE
    a 100 TB join: one skewed key with n_left·n_right in the
    billions is the job that never finishes, and this report costs
    two key-count aggs instead of the join.

    Exact counting throughout; ``share`` (this key's fraction of
    the total join output) is one IEEE division, 6dp. Keys missing
    from either side produce no output rows and are excluded —
    they contribute nothing to inner-join fanout. Battery oracle
    ``join_fanout_report`` replays counts, total and top-k.

    Scale shape: ONE map-side-combined key groupBy per side, an
    equi-join of the two |keys|-sized count frames, a single-row
    total, and a bounded top-k (TakeOrdered — no global sort
    materialization).
    """
    lc = left.groupBy(F.col(left_key).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_left")
    )
    rc = right.groupBy(F.col(right_key).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_right")
    )
    per_key = lc.join(rc, "key").withColumn(
        "fanout", F.col("n_left") * F.col("n_right")
    ).persist()
    tot = per_key.agg(
        F.sum("fanout").cast("long").alias("total_fanout")
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .orderBy(F.col("fanout").desc(), F.col("key").asc())
        .limit(int(top_k))
        .select(
            "key",
            "n_left",
            "n_right",
            "fanout",
            "total_fanout",
            F.round(
                F.col("fanout").cast("double")
                / F.col("total_fanout").cast("double"),
                6,
            ).alias("share"),
        )
    )


def fk_audit(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity audit (r9 — the FK half of the
    profiling family next to candidate_keys/join_fanout): ONE row
    ``(n_child_rows, n_null_rows, n_child_keys, n_orphan_keys,
    n_orphan_rows, orphan_row_rate)`` where orphans are non-null
    child keys absent from the parent. The parent side reduces to
    DISTINCT keys before the anti-join (8-byte rows), child keys
    aggregate with map-side combine — nothing wide ever moves."""
    ck = child.select(F.col(child_key).alias("k"))
    counts = (
        ck.filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pk = parent.select(F.col(parent_key).alias("k")).distinct()
    orphans = counts.join(pk, "k", "left_anti")
    tot = ck.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("k").isNull().cast("long")).alias("n_null"),
    )
    o = orphans.agg(
        F.count(F.lit(1)).alias("n_orphan_keys"),
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_orphan_rows"),
    )
    k = counts.agg(F.count(F.lit(1)).alias("n_keys"))
    return (
        tot.join(F.broadcast(o))
        .join(F.broadcast(k))
        .select(
            F.col("n_rows").cast("long").alias("n_child_rows"),
            F.coalesce(F.col("n_null"), F.lit(0))
            .cast("long")
            .alias("n_null_rows"),
            F.col("n_keys").cast("long").alias("n_child_keys"),
            F.col("n_orphan_keys").cast("long").alias("n_orphan_keys"),
            F.col("n_orphan_rows").cast("long").alias("n_orphan_rows"),
            F.round(
                F.col("n_orphan_rows").cast("double")
                / F.greatest(F.col("n_rows"), F.lit(1)).cast("double"),
                6,
            ).alias("orphan_row_rate"),
        )
    )


def json_profile(
    df: DataFrame, json_col: str, *, max_keys: int = 200
) -> DataFrame:
    """Semi-structured column profiler (r9c) — the TableReport
    companion for JSON payload columns (event properties, API
    logs): per top-level key, presence, null rate, inferred value
    types, and distinct-value count.

    Flat-parse via ``from_json(map<string,string>)`` (one JVM parse
    per row, values stringified; nested objects/arrays profile as
    their JSON text — honest for a TOP-LEVEL profile), then one
    explode + one map-side-combined groupBy. Type inference is a
    regex lattice (int ⊂ float; bool; null; else string) identical
    in RE2 and Java. ``max_keys`` bounds the output (ordered by
    n_present desc, key).

    Returns ``(key, n_present, n_null, n_int, n_float, n_bool,
    n_str, n_distinct)``.
    """
    pairs = (
        df.select(
            F.explode(
                F.from_json(F.col(json_col), "map<string,string>")
            ).alias("k", "v")
        )
    )
    is_null = F.col("v").isNull()
    is_int = F.col("v").rlike(r"^-?[0-9]+$")
    is_float = (~is_int) & F.col("v").rlike(
        r"^-?[0-9]+\.[0-9]+([eE][+-]?[0-9]+)?$"
    )
    is_bool = F.col("v").isin("true", "false")
    out = (
        pairs.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_present"),
            F.sum(is_null.cast("long")).cast("long").alias("n_null"),
            F.sum((~is_null & is_int).cast("long"))
            .cast("long")
            .alias("n_int"),
            F.sum((~is_null & is_float).cast("long"))
            .cast("long")
            .alias("n_float"),
            F.sum((~is_null & is_bool).cast("long"))
            .cast("long")
            .alias("n_bool"),
            F.sum(
                (~is_null & ~is_int & ~is_float & ~is_bool).cast("long")
            )
            .cast("long")
            .alias("n_str"),
            F.countDistinct("v").cast("long").alias("n_distinct"),
        )
        .orderBy(F.col("n_present").desc(), "k")
        .limit(max_keys)
        .withColumnRenamed("k", "key")
    )
    return out
