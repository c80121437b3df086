"""Unordered id pairs that share a bucket key: the candidate step of
every near-dup and co-occurrence operator (MinHash/SimHash bands,
winnowing fingerprints, n-gram postings, LSH cells, baskets, bitmap
words). Each caller verifies, dedups or counts the pairs itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_pairs(
    keyed: DataFrame,
    key: str | list[str],
    *,
    id: str = "id",
    carry: tuple[str, ...] | list[str] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """One row per shared key and pair, ``id_a < id_b``: columns
    ``id_a``, ``<c>_a`` for each ``carry`` column, ``id_b``, ``<c>_b``.

    ``keyed`` holds one row per ``(id, key)``; ``key`` is one integral
    column or a list of them. String keys are shuffled as ``xxhash64``:
    a collision (odds ~n²/2⁶⁵ over n distinct keys) merges two
    buckets, so it can only add pairs. Rows with a null key never pair.

    - ``max_bucket=None``: an equi self-join on the key, which
      streams a bucket of any size.
    - ``max_bucket=k``: one shuffle — ``collect_list`` per key, keep
      buckets of 2..k ids, expand the sorted members' pairs with a
      nested ``transform``. A bucket is held in one row, so this form
      is memory-bounded only under the cap; larger buckets
      (boilerplate shingles, hot fingerprints) are dropped whole.
    """
    keys = [key] if isinstance(key, str) else list(key)
    types = dict(keyed.dtypes)
    for k in keys:
        keyed = keyed.filter(F.col(k).isNotNull())
    keyed = keyed.select(
        id,
        *carry,
        *(F.xxhash64(k).alias(k) if types[k] == "string" else k for k in keys),
    )

    def side(s, src=""):
        return [
            F.col(src + id).alias(f"id_{s}"),
            *(F.col(src + c).alias(f"{c}_{s}") for c in carry),
        ]

    if max_bucket is None:
        a, b = (keyed.select(*keys, *side(s)) for s in "ab")
        return a.join(b, keys).filter(F.col("id_a") < F.col("id_b")).drop(*keys)
    members = F.array_sort(F.col("members"))
    pair_structs = F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + F.lit(2), F.size(members)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        keyed.groupBy(*keys)
        .agg(F.collect_list(F.struct(id, *carry)).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket))
        .select(F.explode(pair_structs).alias("p"))
        .select(*side("a", "p.a."), *side("b", "p.b."))
    )
