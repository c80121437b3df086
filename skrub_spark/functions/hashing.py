"""Hash-sketch expressions: MinHash signatures and 64-bit SimHash.

Behavior parity: skrub/_fast_hash.py (ngram_min_hash) and
skrub/_minhash_encoder.py compute per-string min-hashes over char
n-grams with k independent hash functions. Here the k functions are
double-hashed from one md5 per gram by default (engine-portable, so
the DuckDB oracle replays signatures exactly; ``hash='xxhash'``
switches to seeded xxhash64s), and the whole signature is a single
JVM expression — zero Python per row. SimHash is a beyond-reference
near-dup sketch (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import char_ngrams, word_shingles


def minhash_signature(
    col: Column | str,
    n_components: int = 32,
    ngram_range: tuple[int, int] = (2, 4),
    unit: str = "char",
    shingle_k: int = 3,
    hash: str = "md5",
) -> Column:
    """array<bigint> of length ``n_components``; component k is
    min over grams of the k-th double-hashed gram hash (see
    minhash_from_grams for the ``hash`` choice)."""
    if unit == "char":
        grams_parts = [char_ngrams(col, n) for n in range(ngram_range[0], ngram_range[1] + 1)]
        grams = grams_parts[0]
        for g in grams_parts[1:]:
            grams = F.concat(grams, g)
    elif unit == "word":
        grams = word_shingles(col, shingle_k)
    else:
        raise ValueError("unit must be 'char' or 'word'")
    return minhash_from_grams(grams, n_components, hash=hash)


_MAX_LONG = (1 << 63) - 1


_MERSENNE_P = (1 << 31) - 1


def minhash_from_grams(
    grams: Column, n_components: int, hash: str = "md5"
) -> Column:
    """Signature in ONE aggregate pass over the gram array.

    A naive per-component ``array_min(transform(...))`` duplicates the
    (expensive) gram expression n_components times after Catalyst's
    projection collapse — expression-tree blowup that stalls codegen.
    One fold with an n-wide accumulator keeps the tree linear in
    n_components and reads the gram array once.

    ``hash='md5'`` (default): double hashing h_k = (h1 + k·h2) mod
    2^31-1, with h1/h2 the two 60-bit halves of ONE md5 per gram —
    engine-portable (the DuckDB oracle replays signatures exactly)
    and only one cryptographic hash per gram. Each gram is hashed
    once into ``named_struct(a=h1, b=h2)``; the fold's accumulator is
    an n-field struct updated field by field, so a step allocates no
    per-component arrays. Its lambdas are parsed SQL: one expression
    build instead of a py4j call per node. An empty gram array gives
    all 2^31-1, a null array null.
    ``hash='xxhash'``: n_components seeded xxhash64s per gram,
    full 64-bit range, Spark-only.
    """
    if hash == "xxhash":
        init = F.array_repeat(F.lit(_MAX_LONG).cast("long"), n_components)
        return F.aggregate(
            grams,
            init,
            lambda acc, g: F.zip_with(
                acc,
                F.array(*[F.xxhash64(g, F.lit(k)) for k in range(n_components)]),
                lambda a, b: F.least(a, b),
            ),
        )
    # h1 + k*h2 < (k + 1) * 2^31: safe under ANSI long math
    p = f"CAST({_MERSENNE_P} AS BIGINT)"
    half = "pmod(CAST(conv(substring(m, {}, 15), 16, 10) AS BIGINT), " + p + ")"
    hs = F.call_function(
        "transform",
        F.transform(grams, lambda g: F.md5(g)),
        F.expr(f"m -> named_struct('a', {half.format(1)}, 'b', {half.format(16)})"),
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
    minhash signature (``minhash_from_grams(..., hash='md5')``):
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
