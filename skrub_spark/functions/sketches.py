"""Cardinality sketches with content-addressed randomness
(beyond-reference corpus-observability operator, SURVEY.md §2).

Counting distinct tokens/n-grams/URLs per slice is a standard corpus
health metric, but an exact COUNT(DISTINCT) at 100 TB shuffles every
distinct value. The theta/KMV sketch family instead keeps only the
values whose hash falls below a threshold — here the FIXED-threshold
variant (a "theta sketch" with θ = 1/rate): a value survives iff
``md5_bucket(value) mod rate == 0``, and ``distinct_estimate =
rate · |distinct survivors|``. Properties that matter:

- **Map-only reduction**: the filter runs at the scan; only ~D/rate
  distinct survivors reach the (now tiny) distinct shuffle. At
  rate=1024 a 10^10-distinct-token corpus shuffles 10^7 hashes.
- **Mergeable by construction**: survivors of a union are the union
  of survivors — shard/snapshot sketches combine with a UNION +
  DISTINCT, never a re-scan (the same reason production systems
  persist theta sketches next to each partition).
- **Deterministic & engine-portable**: the "randomness" is the same
  content-addressed md5 rule as every sampler in this repo, so the
  estimate is IDENTICAL on any cluster/partitioning and a DuckDB
  oracle replays it exactly (battery query
  ``token_cardinality_sketch``) — unlike HLL-based
  ``approx_count_distinct``, whose register layout is
  engine-internal.
- **Unbiased**: E[rate · survivors] = D; relative error ~
  sqrt(rate/D) (binomial), pinned by a pytest contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.sampling import _FINE_BUCKETS
from .hashing import h60, h60_at, hash_bucket, null_safe


def sketch_member(value: Column, rate: int, salt: str = "") -> Column:
    """True iff ``value`` belongs to the 1/rate hash-threshold
    sketch — the map-only survivor predicate."""
    return hash_bucket(value, salt, int(rate)) == 0


def quantile_sketch(
    df: DataFrame,
    value: Column | str,
    key: Column | str,
    by: list[str] | None = None,
    *,
    qs: list[float] = (0.25, 0.5, 0.75),
    frac: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Per-group quantiles by deterministic-sample-then-exact-select:
    keep each row iff its content-addressed ``key`` hash falls under
    ``frac`` (the samplers' md5 rule — same survivors on any
    cluster), then pick the DISCRETE quantile (the value at row
    ``ceil(q·n)`` of the (value, key)-sorted survivors — an actual
    data value, no interpolation, so two engines agree exactly).

    Returns one row per (group, q): ``(*by, q, value)``. The 100 TB
    shape: the sample filter is map-only at the scan; survivors
    (~frac·rows per group) take ONE window shuffle. Interpolating
    estimators (percentile_approx/t-digest) trade that determinism
    for engine-internal state — this one is exact-oracle-able
    (battery query ``value_quantile_sketch``) and its sampling error
    is the classic order-statistic bound, pinned in tests."""
    from pyspark.sql import Window

    v = F.col(value) if isinstance(value, str) else value
    k = F.col(key) if isinstance(key, str) else key
    by = list(by or [])
    kept = df
    if frac < 1.0:
        kept = df.filter(
            hash_bucket(k, salt, _FINE_BUCKETS)
            < int(round(frac * _FINE_BUCKETS))
        )
    kept = kept.select(*by, v.alias("__v"), k.alias("__k"))
    w = Window.partitionBy(*by).orderBy(
        F.col("__v").asc_nulls_last(), F.col("__k").asc()
    )
    ranked = kept.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*by))
    )
    qarr = F.expr(
        "array(" + ",".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs) + ")"
    )
    exploded = ranked.select(
        *by, "__v", "__rn", "__n", F.explode(qarr).alias("q")
    )
    pick = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("q") * F.col("__n")).cast("long"),
    )
    return exploded.filter(F.col("__rn") == pick).select(
        *by, "q", F.col("__v").alias("value")
    )


def _cm_bucket(value: Column, d: Column, width: int, salt: str) -> Column:
    """Row d's bucket for ``value``: 60 md5 bits of
    (salt, d, 0x1f, value) mod width — the same engine-portable md5
    rule as every sampler here, so estimates replay exactly in SQL.
    NULLs hash via the sampler sentinel."""
    return F.pmod(h60_at(value, d, salt), F.lit(int(width)))


def countmin_sketch(
    df: DataFrame,
    value: Column | str,
    *,
    width: int = 4096,
    depth: int = 4,
    salt: str = "",
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a value
    stream: ``depth`` hash rows × ``width`` counters.

    Returns (d, bucket, cnt) — at most depth·width rows regardless
    of stream size. The map side explodes each value into its
    ``depth`` (row, bucket) cells, but the groupBy is map-side
    combined so the shuffle carries ≤ tasks·depth·width partial
    counters, never the stream. Sketches MERGE by summing counters
    cell-wise (one union + groupBy sum) — shard/snapshot sketches
    combine without re-scanning, the property that makes a 100 TB
    corpus's token-frequency observability a few-KB artifact.
    Deterministic md5 hashing ⇒ bit-identical on any partitioning
    and exactly replayable in a SQL oracle (battery query
    ``token_freq_cms``), unlike engine-internal sketch registers."""
    v = F.col(value) if isinstance(value, str) else value
    rows = df.select(
        v.alias("__v"),
        F.explode(
            F.expr(f"sequence(0, {int(depth) - 1})")
        ).alias("d"),
    )
    return (
        rows.select(
            F.col("d").cast("int").alias("d"),
            _cm_bucket(F.col("__v"), F.col("d"), width, salt).alias(
                "bucket"
            ),
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    term_col: str,
    *,
    width: int = 4096,
    depth: int = 4,
    salt: str = "",
) -> DataFrame:
    """Point-frequency estimates: est(t) = min over hash rows of the
    counter at t's bucket (0 when a cell is empty). The classic CMS
    guarantee holds: est ≥ true always; est ≤ true + εN with
    probability 1−δ for ε = e/width, δ = e^−depth. The probe side
    expands to depth rows per term and joins the ≤ depth·width
    sketch broadcast — the corpus is never touched."""
    t = F.col(term_col)
    keys = probes.select(
        t.alias("term"),
        F.explode(F.expr(f"sequence(0, {int(depth) - 1})")).alias("d"),
    ).select(
        "term",
        F.col("d").cast("int").alias("d"),
        _cm_bucket(F.col("term"), F.col("d"), width, salt).alias("bucket"),
    )
    joined = keys.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return joined.groupBy("term").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est")
    )


def distinct_sketch(
    df: DataFrame,
    value: Column | str,
    by: list[str] | None = None,
    *,
    rate: int = 1024,
    salt: str = "",
    est_col: str = "distinct_est",
) -> DataFrame:
    """Estimated distinct count of ``value`` (optionally per ``by``
    group): filter to hash-threshold survivors (map-only), exact
    DISTINCT of the small survivor set, multiply back by ``rate``.

    Returns one row per group with ``est_col`` (BIGINT — exact
    integer arithmetic, so the estimate replays bit-identically in
    SQL). Groups whose survivors are empty simply emit no row — join
    against your group universe and COALESCE to 0 when you need
    zeros. Choose ``rate`` so survivors ≈ thousands: the estimator's
    relative error is ~sqrt(rate/D)."""
    v = F.col(value) if isinstance(value, str) else value
    by = list(by or [])
    kept = df.filter(sketch_member(v, rate, salt)).select(
        *by, v.alias("__v")
    )
    return (
        kept.groupBy(*by)
        .agg(F.count_distinct(F.col("__v")).alias("__k"))
        .select(
            *by,
            (F.col("__k") * F.lit(int(rate))).cast("long").alias(est_col),
        )
    )


_HLL_BITS = 60  # usable md5 bits (15 hex digits), the repo-wide rule


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant for m >= 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    value: Column | str,
    by: list[str] | None = None,
    *,
    p: int = 12,
    salt: str = "",
) -> DataFrame:
    """Sparse HyperLogLog registers (Flajolet/Fusy/Gandouet/Meunier
    2007) of ``value``, optionally per ``by`` group: one
    ``(*by, bucket, reg)`` row per NON-ZERO register, at most
    ``m = 2**p`` rows per group regardless of input size.

    Unlike Spark's ``approx_count_distinct`` (whose HLL++ register
    blob is engine-internal), the registers here are plain rows built
    from the repo's engine-portable md5 rule — bucket = top ``p`` of
    the 60 md5 bits, rho = leading-zero count of the remaining
    ``60-p`` bits + 1 (computed as ``61-p-length(bin(w))``, identical
    in Spark and DuckDB) — so a SQL oracle replays them bit-exactly
    and sketches persisted next to shards on DIFFERENT engines still
    merge. The aggregation is one map-side-combined groupBy MAX; the
    shuffle carries ≤ tasks·m partial registers, never the stream.
    Merge sketches with :func:`hll_merge` (register-wise MAX — the
    sketch of a union IS the max-merge, exactly), estimate with
    :func:`hll_estimate`. Battery query ``hll_cardinality``."""
    if not 4 <= p <= 16:
        raise ValueError("hll_registers: p must be in [4, 16]")
    v = F.col(value) if isinstance(value, str) else value
    by = list(by or [])
    h = h60(null_safe(v), salt)
    w_bits = _HLL_BITS - p
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(w))
    )
    return (
        df.select(
            *by,
            F.shiftright(h, w_bits).alias("bucket"),
            rho.cast("int").alias("__rho"),
        )
        .groupBy(*by, "bucket")
        .agg(F.max("__rho").alias("reg"))
    )


def hll_merge(
    *sketches: DataFrame, by: list[str] | None = None
) -> DataFrame:
    """Union-merge register frames: register-wise MAX. Exact — the
    merged frame is bit-identical to sketching the concatenated
    inputs, because max is associative/commutative over the per-value
    rho contributions (the property that lets 100 TB shard sketches
    combine at query time without a re-scan)."""
    by = list(by or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*by, "bucket").agg(F.max("reg").alias("reg"))


def hll_estimate(
    registers: DataFrame,
    by: list[str] | None = None,
    *,
    p: int = 12,
    est_col: str = "hll_est",
) -> DataFrame:
    """Cardinality estimate from a register frame: one row per group
    with ``(buckets_hit, denom, est_col)``.

    The harmonic-mean denominator is assembled EXACTLY in int64 —
    ``denom = (m - hit)·2^S + Σ 2^(S-reg)`` with ``S = 61-p`` (so the
    m-bucket total caps at 2^61, inside int64 for every p) — and the
    raw estimate ``alpha·m²·2^S / denom`` is ONE IEEE division by a
    Python-literal numerator, so the estimate replays bit-identically
    in a SQL oracle. Small-range correction (linear counting,
    ``m·ln(m/V)`` when the raw estimate ≤ 2.5m and V = m-hit > 0)
    uses libm ln and is therefore reported in its own column
    ``est_small`` (NULL outside the regime) rather than silently
    swapped into ``est_col``: oracle-compared pipelines select the
    raw column; interactive users take
    ``coalesce(est_small, hll_est)``. Relative error of the raw
    estimate is ~1.04/sqrt(m); pinned by pytest contracts."""
    by = list(by or [])
    m = 1 << p
    s_bits = _HLL_BITS - p + 1
    num = _hll_alpha(m) * m * m * float(2**s_bits)
    agg = registers.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("buckets_hit"),
        # shiftleft's python wrapper wants an int literal shift — the
        # per-row (s_bits - reg) shift needs the SQL form
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s_bits} - reg)"))
        .cast("long")
        .alias("__hit_sum"),
    )
    denom = (
        (F.lit(m).cast("long") - F.col("buckets_hit"))
        * F.lit(1 << s_bits).cast("long")
        + F.col("__hit_sum")
    ).cast("long")
    raw = F.round(F.lit(num) / denom.cast("double"), 6)
    zeros = F.lit(m).cast("long") - F.col("buckets_hit")
    small = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")), 6),
    )
    return agg.select(
        *by,
        "buckets_hit",
        denom.alias("denom"),
        raw.alias(est_col),
        small.alias("est_small"),
    )


def mergeable_distinct_sketches(
    df: DataFrame,
    value: Column | str,
    part_col: str,
    *,
    rate: int = 1024,
    salt: str = "",
    all_label: str = "__ALL__",
) -> DataFrame:
    """Per-partition KMV-family distinct sketches PLUS their merge:
    one ``(part, distinct_est)`` row per partition value and one
    ``all_label`` row whose estimate is the union-merge of the
    per-partition survivor sets. Because a value's sketch
    membership depends only on its own md5 (``sketch_member``),
    the union of survivor sets IS the survivor set of the union —
    so the merged estimate is bit-identical to running one sketch
    over the whole corpus. That identity is the warehouse
    sketch-persistence pattern (persist a sketch next to each
    shard, merge at query time — HLL_EXPORT/HLL_COMBINE shape)
    proven exactly, and the battery oracle ``sketch_union_merge``
    replays both sides.

    Scale shape: the corpus is touched ONCE (map-only threshold
    filter); both the per-part and merged estimates aggregate only
    the ~D/rate survivor frame."""
    v = F.col(value) if isinstance(value, str) else value
    kept = (
        df.filter(sketch_member(v, rate, salt))
        .select(
            # part becomes STRING so the all_label merge row unions
            # cleanly whatever the partition key's type
            F.col(part_col).cast("string").alias("part"),
            v.alias("__v"),
        )
        .persist()
    )
    per_part = (
        kept.groupBy("part")
        .agg(F.count_distinct(F.col("__v")).alias("__k"))
        .select(
            "part",
            (F.col("__k") * F.lit(int(rate))).cast("long").alias(
                "distinct_est"
            ),
        )
    )
    merged = (
        kept.select("__v")
        .distinct()
        .agg(F.count(F.lit(1)).alias("__k"))
        .select(
            F.lit(all_label).alias("part"),
            (F.col("__k") * F.lit(int(rate))).cast("long").alias(
                "distinct_est"
            ),
        )
    )
    return per_part.unionByName(merged)
