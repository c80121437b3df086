"""Bloom-filter semi-join reduction (r9c) — the generalized runtime
filter: prefilter the FACT side of a join map-side with a Bloom
filter built from the DIM side's keys, so rows that cannot match
never enter the shuffle (or even the broadcast-hash probe).

Why this matters at 100 TB: Spark's own runtime filters (DPP, AQE's
bloom rewrite) only fire for partition columns / specific shapes.
This operator gives ANY equi-join the same treatment as an explicit
DataFrame op: the dim side's distinct keys reduce to an
``m_bits/64``-long bitset via one map-side-combined ``bit_or``
aggregation (functions/bloom.py — the build never collects keys),
the bitset rides to executors as one broadcast DATA row, and the
fact scan drops non-candidates with a pure-codegen Column test
(k xxhash64 probes + bit math) BEFORE the join's exchange. With a
1%-selective dim, ~99% of fact bytes never shuffle.

Exactness: Bloom filters have no false negatives, and the final
exact join removes false positives — the result is bit-identical to
the unfiltered join for every ``how``. The filter pays only when the
exact join it shrinks is a shuffle of the fact side; in front of a
join that already runs map-side against a broadcast build (the
shingle-overlap kernel, ``dedup/overlap.py``) it only repeats the
probe, so the contamination operators carry none.

Reference parity: skrub has no distributed join reduction (its
joins are in-memory pandas/polars, skrub/_joiner.py); this is a
scale-path operator the 100 TB target requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bloom import (
    bloom_attach,
    bloom_maybe_contains,
    bloom_size_bits,
    build_bloom_bits,
)

_BITS_COL = "__bloom_sj_bits"


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | tuple[str, str],
    *,
    how: str = "semi",
    bits_per_key: int = 16,
    k: int = 3,
    n_keys: int | None = None,
) -> DataFrame:
    """Join ``fact`` to ``dim`` on an equi-key, Bloom-prefiltering
    the fact side first.

    Parameters
    ----------
    on : str | (str, str)
        Key column name shared by both frames, or the
        ``(fact_col, dim_col)`` pair.
    how : "semi" | "anti" | "inner"
        - ``semi``: fact rows with at least one dim match.
        - ``anti``: fact rows with NO dim match. The Bloom test
          flips roles: rows the filter REJECTS are definite
          non-matches and bypass the join entirely; only the
          maybe-rows (a dim-sized sliver of the fact) pay the exact
          anti-join.
        - ``inner``: full inner join, fact side prefiltered.
    n_keys : optional distinct-key-count hint for sizing; when
        omitted one count job runs on the dim side (the dim is the
        SMALL side by contract — if it isn't, swap your inputs).

    Returns the same rows (and, for ``inner``, the same columns) as
    the plain join — the filter is a pure optimization.
    """
    if how not in ("semi", "anti", "inner"):
        raise ValueError(f"how must be semi|anti|inner, got {how!r}")
    fact_key, dim_key = (on, on) if isinstance(on, str) else on
    # Unique build-side name: with fact_key == dim_key a self-named
    # equi-join can resolve both sides to the same attribute (the
    # classic trivially-true join trap).
    kname = "__bloom_sj_key"
    keys = dim.select(F.col(dim_key).alias(kname)).where(
        F.col(kname).isNotNull()
    ).distinct()
    if n_keys is None:
        n_keys = keys.count()
    m_bits = bloom_size_bits(n_keys, bits_per_key=bits_per_key)
    bits = build_bloom_bits(keys, kname, m_bits, k=k)
    cols = fact.columns
    attached = bloom_attach(fact, bits, _BITS_COL)
    maybe = bloom_maybe_contains(
        F.col(fact_key), F.col(_BITS_COL), m_bits, k=k
    )
    if how == "anti":
        # Definite non-matches (filter says no) skip the join; only
        # maybe-rows are checked exactly. NULL fact keys never match
        # anything, so they belong in the anti result unconditionally.
        definite_no = attached.where(
            F.col(fact_key).isNull() | ~maybe
        ).select(*cols)
        candidates = attached.where(
            F.col(fact_key).isNotNull() & maybe
        ).select(*cols)
        survived = candidates.join(
            keys, F.col(fact_key) == F.col(kname), "left_anti"
        )
        return definite_no.unionByName(survived)
    pre = attached.where(
        F.col(fact_key).isNotNull() & maybe
    ).select(*cols)
    if how == "semi":
        return pre.join(keys, F.col(fact_key) == F.col(kname), "left_semi")
    return pre.join(dim, pre[fact_key] == dim[dim_key], "inner")
