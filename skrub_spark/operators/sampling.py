"""Deterministic hash-based sampling & splitting.

Large training pipelines need sampling that is REPRODUCIBLE — the
same row lands in the same split on every run, engine, and cluster
size — which rules out RNG-based ``df.sample``/``sampleBy`` (seeded
Spark sampling is partition-layout-dependent). Content-addressed
membership instead: a row is in the sample iff
``md5(key) mod 10000 < frac * 10000``. Pure Catalyst expressions,
trivially parallel, no shuffle, stable under repartitioning — and
bit-identical in any engine that has md5 (the DuckDB oracle replays
membership exactly).

``salt`` decorrelates independent samples over the same keys (e.g.
a 1% audit sample independent of the train/test split).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket, null_safe

_BUCKETS = 10_000
# sample_to_targets needs finer resolution than the 1/10000 the other
# samplers use: with 10^4 buckets, any target below count/10^4 floors
# to a zero threshold and silently empties the stratum
_FINE_BUCKETS = 100_000_000


def deterministic_sample(
    df: DataFrame, key: str | Column, frac: float, salt: str = ""
) -> DataFrame:
    """Rows whose key hashes below ``frac`` — a stable ~frac sample."""
    key = F.col(key) if isinstance(key, str) else key
    return df.filter(hash_bucket(key, salt, _BUCKETS) < int(round(frac * _BUCKETS)))


def hash_split(
    df: DataFrame,
    key: str | Column,
    test_frac: float = 0.2,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Adds ``split_col`` ('train' | 'test') by key hash. Same key →
    same side, always; downstream fit/transform asymmetry (DataOps
    eval_mode) relies on exactly this stability."""
    key = F.col(key) if isinstance(key, str) else key
    is_test = hash_bucket(key, salt, _BUCKETS) < int(round(test_frac * _BUCKETS))
    return df.withColumn(
        split_col, F.when(is_test, F.lit("test")).otherwise(F.lit("train"))
    )


def sample_to_targets(
    df: DataFrame,
    strata_col: str,
    targets: dict[str, int],
    key: str | Column,
    salt: str = "",
) -> DataFrame:
    """Deterministic mixture sampling: stratum ``s`` keeps ~``targets[s]``
    rows (training-mixture rebalancing: "2B tokens of web, 1B of
    books" as per-source row targets).

    Per-stratum keep thresholds are derived from the OBSERVED stratum
    sizes — one small groupBy count broadcast-joined back — entirely
    in int64 arithmetic (``(10^8 * target) DIV count``, capped at
    10^8 and floored at one bucket), so membership is the same
    content-addressed md5 rule as the other samplers and
    bit-replayable by a SQL oracle (battery query
    ``mixture_sample``). Strata without a target are dropped. No
    shuffle of the data itself: the counts side of the join is
    |strata| rows, always broadcast.

    Resolution: 10^8 buckets, so the smallest nonzero keep ratio is
    1e-8 — a stratum keeps at least ~count/10^8 rows rather than
    silently zero when the target is tiny relative to the stratum
    (overshoot bounded by count/10^8). int64 headroom caps stratum
    sizes at ~9.2e10 rows; beyond that, widen to the full 60-bit md5
    space."""
    key = F.col(key) if isinstance(key, str) else key
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    tgt = F.lit(None).cast("long")
    for s, t in targets.items():
        tgt = F.when(F.col(strata_col) == s, F.lit(int(t))).otherwise(tgt)
    fine = _FINE_BUCKETS
    thresh = F.when(F.col("__tgt") <= 0, F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(fine).cast("long"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"CAST({fine} AS BIGINT) * least(__tgt, __n) DIV __n"),
            ),
        )
    )
    return (
        df.join(F.broadcast(counts), strata_col, "inner")
        .withColumn("__tgt", tgt)
        .filter(F.col("__tgt").isNotNull())
        .filter(hash_bucket(key, salt, fine) < thresh)
        .drop("__n", "__tgt")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fracs: dict[str, float],
    key: str | Column,
    salt: str = "",
    default_frac: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: stratum s keeps ~fracs[s]
    of its rows (rebalancing source mixes for training corpora).
    Strata absent from ``fracs`` keep ``default_frac``."""
    key = F.col(key) if isinstance(key, str) else key
    thresh = F.lit(int(round(default_frac * _BUCKETS)))
    for s, f in fracs.items():
        thresh = F.when(
            F.col(strata_col) == s, F.lit(int(round(f * _BUCKETS)))
        ).otherwise(thresh)
    return df.filter(hash_bucket(key, salt, _BUCKETS) < thresh)


def sample_weighted(
    df: DataFrame,
    weight_col: str | Column,
    key: str | Column,
    salt: str = "",
    scale: float = 1.0,
) -> DataFrame:
    """Deterministic QUALITY-WEIGHTED sampling: each row survives
    with probability ``clamp(weight * scale, 0, 1)`` — the
    FineWeb-Edu / classifier-score shape ("keep documents in
    proportion to their quality score") made reproducible: same
    (key, salt, weight) -> same decision on any cluster, any
    partitioning, any run.

    Membership rule: ``md5_bucket(key) < floor(weight * scale *
    10^8)`` over the same content-addressed hash as every other
    sampler, so a SQL oracle replays decisions bit-exactly (battery
    query ``weighted_sample``) and raising ``scale`` strictly grows
    the kept set (monotone: a row kept at scale s is kept at every
    s' >= s). NULL or negative weights drop the row; weights >=
    1/scale always keep it. No shuffle — a map-only filter."""
    key = F.col(key) if isinstance(key, str) else key
    w = weight_col if isinstance(weight_col, Column) else F.col(weight_col)
    fine = _FINE_BUCKETS
    thresh = F.least(
        F.lit(float(fine)),
        F.greatest(
            F.lit(0.0), w.cast("double") * F.lit(float(scale)) * fine
        ),
    ).cast("long")
    return df.filter(hash_bucket(key, salt, fine) < thresh)


def temperature_mixture(
    df: DataFrame,
    strata_col: str,
    key: str | Column,
    *,
    alpha: float = 0.7,
    total: int = 1000,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled mixture sampling (the mT5/XLM-R
    multilingual standard): stratum ``s`` gets a row budget
    ∝ p_s^alpha with p_s its observed share — alpha < 1 upweights
    low-resource strata relative to their natural frequency, alpha=1
    is proportional, alpha=0 uniform.

    Distributed shape: ONE |strata|-row groupBy count; the exponent
    and normalization happen on that tiny frame (p^alpha rounds to
    6dp and the normalizer sums as exact DECIMAL so the derived
    integer targets are partitioning- and engine-invariant); the
    corpus itself is filtered map-only by the samplers'
    content-addressed md5 rule — identical thresholds to
    ``sample_to_targets``, just with LEARNED-from-the-data targets.
    Exact SQL replay in the battery oracle (``temperature_mixture``).
    """
    key = F.col(key) if isinstance(key, str) else key
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(F.sum("__n").alias("__nt"))
    w = counts.join(F.broadcast(tot)).withColumn(
        "__w",
        F.round(
            F.pow(
                F.col("__n").cast("double") / F.col("__nt").cast("double"),
                F.lit(float(alpha)),
            ),
            6,
        ).cast("decimal(18,6)"),
    )
    wsum = w.agg(F.sum("__w").alias("__wsum"))
    tgt = w.join(F.broadcast(wsum)).withColumn(
        "__tgt",
        F.floor(
            F.lit(float(total))
            * F.col("__w").cast("double")
            / F.col("__wsum").cast("double")
        ).cast("long"),
    )
    fine = _FINE_BUCKETS
    thresh = F.when(F.col("__tgt") <= 0, F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(fine).cast("long"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"CAST({fine} AS BIGINT) * least(__tgt, __n) DIV __n"),
            ),
        )
    )
    return (
        df.join(
            F.broadcast(tgt.select(strata_col, "__n", "__tgt")),
            strata_col,
            "inner",
        )
        .filter(hash_bucket(key, salt, fine) < thresh)
        .drop("__n", "__tgt")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_by: list,
) -> DataFrame:
    """Per-group quota cap: keep at most ``n`` rows per group,
    best-first — the RefinedWeb/C4 "max pages per domain" curation
    stage that stops one megasite from dominating a crawl slice.

    ``order_by`` is a list of Columns defining "best" (append a
    unique-id tie-break to make the kept set deterministic — the
    exact-oracle battery query does). ONE window partitioned by
    group (bounded per-group frame, parallel across groups — never
    a global sort); at 100 TB this is a single shuffle on the
    group key, and AQE's skew handling covers the megadomain key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(int(n)))
        .drop("__rn")
    )


def oversample_balance(
    df: DataFrame,
    label_col: str,
    id_col: str,
    *,
    salt: str = "ob8",
) -> DataFrame:
    """Class rebalancing by deterministic oversampling WITH
    replacement: every label class is repeated up to exactly the
    majority-class count — ``(<input columns>, copy_ix)`` with
    ``copy_ix`` in [1, copies]. Minority-heavy training data is
    the standard fix for class imbalance when downsampling the
    majority (``cap_per_group``) would throw away signal.

    Determinism/exactness: each class of size n gets base copies
    ``f = target div n`` for every row plus ONE extra copy for the
    first ``target mod n`` rows in content-addressed md5 order
    (hex-string order, id tie-break — the same portable rule as
    the samplers), so the output is bit-identical under any
    partitioning and the DuckDB oracle replays counts, md5 ranks
    and generate_series expansion (battery query
    ``oversample_balance``).

    Scale shape: class counts are one map-side-combined groupBy
    (|labels|-sized, broadcast back); the base-f copies are a
    MAP-ONLY explode; only the remainder selection ranks — one
    window partitioned by LABEL over md5 keys. For map-only
    operation at extreme scale round the target up to a multiple
    of every class size (f = ceil) and skip the remainder rank —
    classes then land within one copy of balanced.
    """
    counts = df.groupBy(F.col(label_col)).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    target = counts.agg(F.max("__n").alias("__target"))
    key = F.md5(
        F.concat(
            F.lit(salt), F.col(id_col).cast("string")
        )
    )
    w = Window.partitionBy(label_col).orderBy(
        key.asc(), F.col(id_col).asc()
    )
    ranked = (
        df.withColumn("__rk", F.row_number().over(w))
        .join(F.broadcast(counts), label_col)
        .crossJoin(F.broadcast(target))
    )
    f = F.call_function("div", F.col("__target"), F.col("__n"))
    rem = F.col("__target") % F.col("__n")
    copies = f + (F.col("__rk") <= rem).cast("long")
    return (
        ranked.withColumn("__c", copies)
        .select(
            *df.columns,
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("__c"))
            ).alias("copy_ix"),
        )
    )


def sample_token_budget(
    df: DataFrame,
    group_col: str,
    id_col: str,
    size_col: str,
    *,
    budget: int,
    salt: str = "tb8",
) -> DataFrame:
    """Token-budget corpus mixing: per group, keep documents in
    content-addressed md5 order until the group's cumulative
    ``size_col`` REACHES ``budget`` (the crossing document is
    included, so every non-exhausted group meets its budget) —
    the way pretraining mixes are actually specified ("20B tokens
    of code, 5B of forums"), where `temperature_mixture` and
    `sample_to_targets` speak in document counts. Adds
    ``cum_before`` (exact tokens admitted before this doc).

    Deterministic under any partitioning (md5-hex order, id
    tie-break — the samplers' portable rule) and scale-invariant
    in meaning: the same budget selects the same per-group token
    mass at any corpus size. ONE window per group (rank + cumsum
    in a single pass); selection is ``cum_before < budget``.
    Battery oracle ``token_budget_sample`` replays it.
    """
    b = int(budget)
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(group_col)
        .orderBy(key.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.col(size_col).cast("long")).over(w), F.lit(0)
    )
    return (
        df.withColumn("cum_before", cum_before)
        .filter(F.col("cum_before") < b)
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    *,
    n_total: int = 1000,
) -> DataFrame:
    """Neyman optimal stratified-sample allocation (r9c) — the
    design step in front of the repo's stratified/exact-n samplers:
    for a fixed budget, the variance-minimizing allocation samples
    each stratum proportionally to N_h·σ_h (big AND volatile strata
    get more), the textbook improvement over proportional
    allocation when strata variances differ.

    Exactness: σ_h comes from the exact integer-micro moment
    identity (N·Σv² − (Σv)² in DECIMAL(38,0), one IEEE divide +
    sqrt); n_h = floor(n_total·w_h/Σw_h) with the identical IEEE
    ops in the SQL oracle (battery query ``neyman_allocation``).
    Floor leaves up to |strata|−1 units unallocated — reported, not
    silently redistributed. Zero-variance strata get weight 0 (one
    unit of a constant stratum suffices; the caller decides).

    Returns ``(stratum, n_rows, stddev, alloc_weight, n_alloc)``.
    """
    base = df.select(
        F.col(stratum_col).alias("h"),
        (F.col(value_col).cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("v6"),
    ).where(F.col("v6").isNotNull())
    d0 = "decimal(38,0)"
    mom = base.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v6").cast(d0)).alias("s"),
        F.sum(F.col("v6").cast(d0) * F.col("v6").cast(d0)).alias("s2"),
    )
    sd = F.when(
        F.col("n") > 1,
        F.sqrt(
            (F.col("n").cast(d0) * F.col("s2") - F.col("s") * F.col("s"))
            .cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        )
        / F.lit(1000000.0),
    ).otherwise(F.lit(0.0))
    wts = mom.select(
        "h",
        "n",
        F.round(sd, 6).alias("stddev"),
        (F.col("n").cast("double") * sd).alias("w"),
    )
    tot = wts.agg(F.sum("w").alias("wt"))
    return (
        wts.crossJoin(F.broadcast(tot))
        .select(
            F.col("h").alias(stratum_col),
            F.col("n").alias("n_rows"),
            "stddev",
            F.round(F.col("w") / F.col("wt"), 6).alias("alloc_weight"),
            F.floor(
                F.lit(float(n_total)) * F.col("w") / F.col("wt")
            )
            .cast("long")
            .alias("n_alloc"),
        )
    )


def unimax_allocation(
    df: DataFrame,
    strata_col: str,
    *,
    budget: int,
    max_epochs: int = 4,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining" — the budget-constrained successor to
    temperature sampling): distribute a total row ``budget`` across
    strata so every stratum gets an equal share, EXCEPT that no
    stratum repeats more than ``max_epochs`` times — the epoch cap
    is what prevents a low-resource language from being memorized.

    The waterfilling scan: visit strata by ascending size; each gets
    ``min(max_epochs * n_d, remaining DIV strata_left)`` — if the
    cap binds, its leftover share flows to the larger strata. Exact
    integer arithmetic over the |strata|-row frame, driver-side (the
    IPF codebook discipline); a recursive-CTE oracle replays the
    scan (battery ``unimax_allocation``). One groupBy count is the
    corpus-scale work.

    Returns ``(strata, n_rows, allocation, epochs)`` with
    ``epochs = round(allocation / n_rows, 6)`` (<= max_epochs).
    Feed ``allocation`` into :func:`sample_to_targets` (epochs <= 1
    strata) or a repeat-loader (epochs > 1)."""
    if int(budget) < 0 or int(max_epochs) < 1:
        raise ValueError("unimax_allocation: budget >= 0, max_epochs >= 1")
    def _scan_key(kv):
        # ascending size, ties on the NATIVE stratum value (ADVICE
        # r11: str(key) ordered integer strata as '10' < '2'); a
        # NULL stratum sorts after non-NULL ties without comparing
        # across types
        n, s = kv[1], kv[0]
        return (n, 1, "") if s is None else (n, 0, s)

    counts = sorted(
        (
            (r[0], int(r[1]))
            for r in df.groupBy(strata_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ),
        key=_scan_key,
    )
    remaining = int(budget)
    left = len(counts)
    rows = []
    for s, n in counts:
        alloc = min(int(max_epochs) * n, remaining // left) if left else 0
        remaining -= alloc
        left -= 1
        rows.append((s, n, alloc))
    spark = df.sparkSession
    if not rows:
        # createDataFrame([], [names]) cannot infer types (ADVICE
        # r11) — build the empty frame with the input's stratum type
        from pyspark.sql.types import LongType, StructField, StructType

        out = spark.createDataFrame(
            [],
            StructType(
                [
                    df.schema[strata_col],
                    StructField("n_rows", LongType()),
                    StructField("allocation", LongType()),
                ]
            ),
        )
    else:
        out = spark.createDataFrame(
            rows, [strata_col, "n_rows", "allocation"]
        )
    return out.select(
        strata_col,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("allocation").cast("long").alias("allocation"),
        F.round(
            F.col("allocation").cast("double") / F.col("n_rows"), 6
        ).alias("epochs"),
    )


def reservoir_sample(
    df: DataFrame, key: str | Column, k: int, salt: str = ""
) -> DataFrame:
    """EXACT-k deterministic uniform sample (r12 — the fixed-SIZE
    complement to `deterministic_sample`'s fixed-FRACTION rule, and
    the global twin of `cap_per_group`): keep the k rows whose
    content-addressed md5 hex is smallest (ties on the key string,
    so duplicate keys still order totally). Same k rows on every
    run, engine, cluster size, and partitioning — the property a
    seeded reservoir loses the moment partitioning changes.

    100 TB shape: ``ORDER BY hash LIMIT k`` compiles to
    TakeOrderedAndProject — per-partition top-k heaps + one driver
    merge of p·k rows, NO global sort, NO corpus window. The SQL
    oracle replays the order bit-for-bit (battery
    ``reservoir_sample``)."""
    if int(k) < 0:
        raise ValueError("reservoir_sample: k must be >= 0")
    kc = F.col(key) if isinstance(key, str) else key
    s = null_safe(kc)
    h = F.md5(F.concat(F.lit(salt), s))
    return (
        df.withColumn("__h", h)
        .orderBy(F.col("__h").asc(), s.asc())
        .limit(int(k))
        .drop("__h")
    )


def weighted_reservoir_sample(
    df: DataFrame,
    key: str | Column,
    weight_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """EXACT-k weight-proportional sample WITHOUT replacement
    (Efraimidis & Spirakis 2006, r12): each row draws a
    deterministic uniform u from 52 md5 bits and keeps the k
    LARGEST ``ln(u) / w`` — equivalent to ranking by u^(1/w), so a
    row's inclusion probability scales with its weight (the A-ES
    one-pass reservoir, made content-addressed: same k rows on any
    partitioning, and the float scores replay bit-for-bit in SQL —
    u = (h52 + 0.5) / 2^52 is exact double arithmetic, ln and the
    divide are single IEEE ops). Rows with NULL or non-positive
    weight are excluded (E-S is undefined there — a zero weight
    must never be sampled and w < 0 is caller error, documented
    rather than raised to keep the operator map-only).

    Same TakeOrderedAndProject shape as `reservoir_sample` — no
    global sort, no window. Battery oracle:
    ``weighted_reservoir``."""
    if int(k) < 0:
        raise ValueError("weighted_reservoir_sample: k must be >= 0")
    kc = F.col(key) if isinstance(key, str) else key
    s = null_safe(kc)
    h52 = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), s)), 1, 13), 16, 10)
        .cast("long"),
        F.lit(1 << 52),
    )
    u = (h52.cast("double") + F.lit(0.5)) / F.lit(float(1 << 52))
    w = F.col(weight_col).cast("double")
    score = F.log(u) / w
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__s", score)
        .orderBy(F.col("__s").desc(), s.asc())
        .limit(int(k))
        .drop("__s")
    )
