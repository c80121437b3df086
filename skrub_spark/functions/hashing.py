"""The library's hash rule, and the hash sketches built on it.

The rule: a value's hash is the first 60 bits (15 hex digits) of its
md5, a non-negative BIGINT,
``CAST(conv(substring(md5(concat(salt, x)), 1, 15), 16, 10) AS BIGINT)``.
md5 is bit-identical in every engine, so the DuckDB oracles replay
every sample, split, shard, sketch and bucket built on it; DuckDB
spells it ``('0x' || substr(md5(salt || x), 1, 15))::BIGINT``.
:func:`h60` is the Column form and :func:`h60_sql` the SQL-text form;
:func:`hash_bucket` maps a key, NULL included, to a stable bucket.

Behavior parity: skrub/_fast_hash.py (ngram_min_hash) and
skrub/_minhash_encoder.py compute per-string min-hashes over char
n-grams with k independent hash functions. Here the k functions are
double-hashed from the two 60-bit halves of one md5 per gram, and the
whole signature is a single JVM expression — zero Python per row.
SimHash is a beyond-reference near-dup sketch (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import char_ngrams, sql_string, word_shingles

# md5 of a NULL is NULL: a NULL key hashes as this string instead, so
# that it samples, splits and shards like any other value.
NULL_KEY = "\x00<null>"


def null_safe(key: Column) -> Column:
    """``key`` as a string, NULL as :data:`NULL_KEY`."""
    return F.coalesce(key.cast("string"), F.lit(NULL_KEY))


def md5_half(hex_md5: Column | str, half: int = 0) -> Column:
    """Hex digits 1-15 (``half=0``) or 16-30 (``half=1``) of a
    32-digit md5 as a non-negative BIGINT."""
    return F.conv(F.substring(hex_md5, 1 + 15 * half, 15), 16, 10).cast("long")


def md5_half_sql(hex_md5: str, half: int = 0) -> str:
    """:func:`md5_half` as SQL text."""
    return (
        f"CAST(conv(substring({hex_md5}, {1 + 15 * half}, 15), 16, 10)"
        " AS BIGINT)"
    )


def h60(col: Column | str, salt: str | None = None) -> Column:
    """The 60-bit hash of ``concat(salt, col)``, or of ``col`` itself
    when ``salt`` is None."""
    x = col if salt is None else F.concat(F.lit(salt), col)
    return md5_half(F.md5(x))


def h60_sql(expr: str, salt: str | None = None) -> str:
    """:func:`h60` as SQL text over the SQL expression ``expr``."""
    x = expr if salt is None else f"concat({sql_string(salt)}, {expr})"
    return md5_half_sql(f"md5({x})")


def h60_at(key: Column, i: Column, salt: str) -> Column:
    """The ``i``-th independent 60-bit hash of ``key``: the hash of
    ``(salt, i, 0x1f, key)``, a NULL key as :data:`NULL_KEY`. One draw
    per bootstrap or permutation replicate, one row of a count-min
    sketch."""
    return h60(
        F.concat(F.lit(salt), i.cast("string"), F.lit("\x1f"), null_safe(key))
    )


def hash_bucket(key: Column, salt: str, n: int) -> Column:
    """Stable bucket of ``key`` in [0, n): its salted 60-bit hash mod
    ``n``. A NULL key buckets as :data:`NULL_KEY`; a NULL bucket would
    silently drop the row from every comparison."""
    return F.pmod(h60(null_safe(key), salt), F.lit(n))


def minhash_signature(
    col: Column | str,
    n_components: int = 32,
    ngram_range: tuple[int, int] = (2, 4),
    unit: str = "char",
    shingle_k: int = 3,
) -> Column:
    """array<bigint> of length ``n_components``; component k is
    min over grams of the k-th double-hashed gram hash (see
    :func:`minhash_from_grams`)."""
    if unit == "char":
        grams_parts = [char_ngrams(col, n) for n in range(ngram_range[0], ngram_range[1] + 1)]
        grams = grams_parts[0]
        for g in grams_parts[1:]:
            grams = F.concat(grams, g)
    elif unit == "word":
        grams = word_shingles(col, shingle_k)
    else:
        raise ValueError("unit must be 'char' or 'word'")
    return minhash_from_grams(grams, n_components)


_MAX_LONG = (1 << 63) - 1


_MERSENNE_P = (1 << 31) - 1


def minhash_from_grams(grams: Column, n_components: int) -> Column:
    """Signature in ONE aggregate pass over the gram array.

    A naive per-component ``array_min(transform(...))`` duplicates the
    (expensive) gram expression n_components times after Catalyst's
    projection collapse — expression-tree blowup that stalls codegen.
    One fold with an n-wide accumulator keeps the tree linear in
    n_components and reads the gram array once.

    Double hashing h_k = (h1 + k·h2) mod 2^31-1, with h1/h2 the two
    60-bit halves of ONE md5 per gram — engine-portable (the DuckDB
    oracle replays signatures exactly) and only one cryptographic
    hash per gram. Each gram is hashed once into
    ``named_struct(a=h1, b=h2)``; the fold's accumulator is an
    n-field struct updated field by field, so a step allocates no
    per-component arrays. Its lambdas are parsed SQL: one expression
    build instead of a py4j call per node. An empty gram array gives
    all 2^31-1, a null array null.
    """
    # h1 + k*h2 < (k + 1) * 2^31: safe under ANSI long math
    p = f"CAST({_MERSENNE_P} AS BIGINT)"
    a, b = (f"pmod({md5_half_sql('m', i)}, {p})" for i in (0, 1))
    hs = F.call_function(
        "transform",
        F.transform(grams, lambda g: F.md5(g)),
        F.expr(f"m -> named_struct('a', {a}, 'b', {b})"),
    )
    ks = range(n_components)
    init = "named_struct(" + ", ".join(f"'c{k}', {p}" for k in ks) + ")"
    step = ", ".join(
        f"'c{k}', least(acc.c{k}, pmod(s.a + {k} * s.b, {p}))" for k in ks
    )
    finish = ", ".join(f"acc.c{k}" for k in ks)
    return F.call_function(
        "aggregate",
        hs,
        F.expr(init),
        F.expr(f"(acc, s) -> named_struct({step})"),
        F.expr(f"acc -> array({finish})"),
    )


def md5_band_keys(
    sig: Column, n_bands: int, rows_per_band: int
) -> Column:
    """array<string> of ENGINE-PORTABLE LSH band keys over an md5
    minhash signature (:func:`minhash_from_grams`):
    band b's key = md5 of its ``rows_per_band`` signature components
    joined with '-' plus the band index. A DuckDB oracle replays
    every key bit-exactly; both ``streaming_near_dedup`` and the
    batch ``minhash_incremental`` derive their bucket identity from
    THIS function, so their dedup semantics are identical."""
    return F.array(*[
        F.md5(
            F.concat_ws(
                "-",
                *[
                    F.element_at(sig, b * rows_per_band + r + 1).cast(
                        "string"
                    )
                    for r in range(rows_per_band)
                ],
                F.lit(str(b)),
            )
        )
        for b in range(n_bands)
    ])


def minhash_band_keys(
    grams: Column, n_bands: int, rows_per_band: int
) -> Column:
    """array<bigint> of LSH band keys, each band computed with an
    independent single-pass aggregate over the gram array (band b
    folds its own ``rows_per_band`` hash seeds, then collapses the
    mins into one key via hash chaining)."""
    def _merge(seeds):
        # factory keeps the lambda arity at exactly 2 (acc, gram) —
        # extra/default params change how F.aggregate binds arguments
        return lambda acc, g: F.zip_with(
            acc,
            F.array(*[F.xxhash64(g, F.lit(s)) for s in seeds]),
            lambda a, b2: F.least(a, b2),
        )

    def _finish(b):
        return lambda acc: F.aggregate(
            acc, F.lit(b).cast("long"), lambda a, h: F.xxhash64(a, h)
        )

    bands = []
    for b in range(n_bands):
        seeds = tuple(range(b * rows_per_band, (b + 1) * rows_per_band))
        init = F.array_repeat(F.lit(_MAX_LONG).cast("long"), rows_per_band)
        bands.append(F.aggregate(grams, init, _merge(seeds), _finish(b)))
    return F.array(*bands)




def simhash64(col: Column | str, unit: str = "word", shingle_k: int = 2) -> Column:
    """64-bit SimHash as bigint, computed entirely JVM-side.

    For each feature hash h, each bit position contributes +1/-1 to a
    64-long counter vector (aggregate with an array accumulator);
    the sign vector is folded back into one 64-bit integer.
    """
    grams = (
        word_shingles(col, shingle_k)
        if unit == "word"
        else char_ngrams(col, shingle_k)
    )
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)

    def bit_contrib(h, i):
        return (
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
        )

    counters = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[bit_contrib(h, i) for i in range(64)]),
            lambda a, d: a + d,
        ),
    )
    # pack sign bits back into one 64-bit long; bit 63 is the sign bit
    # so its literal is the (wrapped) negative value.
    out = F.lit(0).cast("long")
    for i in range(64):
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        out = out + F.when(
            F.element_at(counters, i + 1) > 0, F.lit(bit_val).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes."""
    return F.bit_count(a.bitwiseXOR(b))
