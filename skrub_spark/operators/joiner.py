"""Fuzzy (nearest-match) joins.

Behavior parity: skrub/_fuzzy_join.py + _joiner.py + _matching.py —
every left row joins its single closest right-table match on string
key columns; matches farther than ``max_dist`` (after optional
rescaling by a reference distance) are rejected (null columns or
dropped). The reference vectorizes strings and does an exact
nearest-neighbor search in-memory; at 100 TB that is impossible, so
this engine provides two physical strategies:

- ``strategy="levenshtein"`` — exact argmin edit distance via a
  broadcast cross join. Right side must be broadcastable (dims,
  vocabularies — the common entity-resolution case). All JVM-side.
  The default ``strategy="auto"`` picks this only while the right
  side is provably small (row-limit probe), so the default is
  scale-safe.
- ``strategy="ngram_lsh"`` — MinHash-LSH banding on char n-grams
  generates candidate pairs (band-key equi-join, shuffles only
  candidates, never the full cross product); candidates are scored
  by exact trigram Jaccard distance and the per-left-row argmin
  wins. Scales to arbitrarily large right sides. Candidates stay
  NARROW (ids + carried hashed-gram arrays; payloads join back
  after the argmin). Degenerate-similarity keys (every value
  sharing most grams, e.g. templated ids) still candidate-explode
  at r=1 banding — raise ``n_bands``' divisor (rows_per_band) to
  trade recall for candidate volume there, exactly like the dedup
  family's banding knobs.

Distance rescaling (``ref_dist``): "random_pairs" divides by the
mean distance over a seeded sample of cross pairs (as in the
reference); "no_rescaling" keeps raw units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..base import SparkTransformer
from ..functions.hashing import minhash_band_keys
from ..functions.text import char_ngrams

_LEFT_ID = "__skrub_left_id"
_RIGHT_ID = "__skrub_right_id"
_DIST = "skrub_Joiner_distance"
_RESCALED = "skrub_Joiner_rescaled_distance"
_ACCEPT = "skrub_Joiner_match_accepted"


def _as_list(x):
    return [x] if isinstance(x, str) else list(x)


_NUMERIC_T = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _key_kind(dtype: str) -> str:
    """'string' | 'numeric' | 'datetime' per key column (reference
    Joiner vectorizes mixed-type keys: strings -> ngram vectors,
    datetimes -> total-seconds, numerics -> StandardScaler passthrough;
    skrub/_joiner.py:43-76)."""
    if dtype == "string":
        return "string"
    if dtype.startswith("decimal") or dtype in _NUMERIC_T:
        return "numeric"
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        return "datetime"
    raise ValueError(f"fuzzy_join key has unsupported dtype {dtype!r}")


def _as_seconds(c):
    """Numeric/datetime key -> double (datetimes as epoch seconds,
    mirroring DatetimeEncoder(add_total_seconds=True))."""
    return c.cast("timestamp").cast("double")


def _numeric_scales(right: DataFrame, cols_kinds) -> dict[str, float]:
    """Per-column std of the RIGHT (aux) table — the reference fits
    its StandardScaler on the aux table (_joiner.py:328-333). In a
    distance, the mean cancels: ((l-m)/s - (r-m)/s)^2 == ((l-r)/s)^2,
    so only the scale is needed. One tiny agg job, scalar result."""
    num = [c for c, k in cols_kinds if k in ("numeric", "datetime")]
    if not num:
        return {}
    kinds = dict(cols_kinds)
    row = right.agg(
        *[
            F.stddev(
                _as_seconds(F.col(c)) if kinds[c] == "datetime"
                else F.col(c).cast("double")
            ).alias(c)
            for c in num
        ]
    ).first()
    return {c: (row[c] if row[c] else 1.0) for c in num}


def _pair_distance(left_cols, right_cols, strategy, kinds=None, scales=None):
    """Summed per-column distance. Strings: levenshtein (exact
    strategy) or trigram-jaccard (lsh strategy). Numeric/datetime:
    euclidean over right-std-standardized values, taken jointly
    (sqrt of the summed squares) like the reference's euclidean NN."""
    kinds = kinds or ["string"] * len(left_cols)
    scales = scales or [1.0] * len(left_cols)
    d = None
    num_sq = None
    for lc, rc, kind, scale in zip(left_cols, right_cols, kinds, scales):
        if kind in ("numeric", "datetime"):
            lv = _as_seconds(lc) if kind == "datetime" else lc.cast("double")
            rv = _as_seconds(rc) if kind == "datetime" else rc.cast("double")
            t = ((lv - rv) / F.lit(float(scale))) ** 2
            num_sq = t if num_sq is None else num_sq + t
            continue
        if strategy == "levenshtein":
            t = F.levenshtein(lc, rc).cast("double")
        else:
            lg = F.array_distinct(char_ngrams(lc, 3))
            rg = F.array_distinct(char_ngrams(rc, 3))
            inter = F.size(F.array_intersect(lg, rg)).cast("double")
            union = F.size(F.array_union(lg, rg)).cast("double")
            # a null key has no grams: distance 1, as for disjoint grams
            t = F.coalesce(1.0 - inter / F.greatest(union, F.lit(1.0)), F.lit(1.0))
        d = t if d is None else d + t
    if num_sq is not None:
        n = F.sqrt(num_sq)
        d = n if d is None else d + n
    return d


def _carried_gram_distance(left_on, r_on, kinds, scales):
    """LSH rescoring distance from the carried hashed-gram arrays
    (string keys) + raw values (numeric/datetime keys). Identical to
    _pair_distance up to xxhash64 gram collisions (~|grams|**2/2**64,
    negligible — same argument as dedup/jaccard.py)."""
    d = None
    num_sq = None
    si = 0
    for lc, rc, kind, scale in zip(left_on, r_on, kinds, scales):
        if kind in ("numeric", "datetime"):
            lv = (
                _as_seconds(F.col(lc))
                if kind == "datetime"
                else F.col(lc).cast("double")
            )
            rv = (
                _as_seconds(F.col(rc))
                if kind == "datetime"
                else F.col(rc).cast("double")
            )
            t = ((lv - rv) / F.lit(float(scale))) ** 2
            num_sq = t if num_sq is None else num_sq + t
            continue
        lg, rg = F.col(f"__lg{si}"), F.col(f"__rg{si}")
        si += 1
        inter = F.size(F.array_intersect(lg, rg)).cast("double")
        union = (
            F.size(lg).cast("double") + F.size(rg).cast("double") - inter
        )
        t = 1.0 - inter / F.greatest(union, F.lit(1.0))
        d = t if d is None else d + t
    if num_sq is not None:
        n = F.sqrt(num_sq)
        d = n if d is None else d + n
    return d


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on=None,
    right_on=None,
    on=None,
    suffix: str = "",
    max_dist: float = float("inf"),
    ref_dist: str = "no_rescaling",
    strategy: str = "auto",
    drop_unmatched: bool = False,
    add_match_info: bool = False,
    tiebreak_cols=None,
    n_components: int = 24,
    n_bands: int = 8,
    auto_broadcast_limit: int = 100_000,
    numeric_band_width: float = 1.0,
) -> DataFrame:
    """Join each left row to its closest right match. See module doc.

    ``strategy="auto"`` (default) keeps the exact levenshtein argmin
    when the right side is dim-sized (a broadcast cross join is safe)
    and switches to the LSH candidate path once the right side
    exceeds ``auto_broadcast_limit`` rows — so the DEFAULT cannot
    produce an O(|L|x|R|) cross join against a large table.
    """
    if strategy == "auto":
        # LIMIT-guarded existence probe: scan stops after limit+1 rows
        # instead of counting the full table.
        over = (
            right.select(right.columns[0]).limit(auto_broadcast_limit + 1).count()
            > auto_broadcast_limit
        )
        strategy = "ngram_lsh" if over else "levenshtein"
    if on is not None:
        left_on = right_on = on
    left_on, right_on = _as_list(left_on), _as_list(right_on)
    if len(left_on) != len(right_on) or not left_on:
        raise ValueError("provide `on` or same-length `left_on`/`right_on`")

    right_renamed = right
    for c in right.columns:
        if c in left.columns:
            right_renamed = right_renamed.withColumnRenamed(c, c + (suffix or "_right"))
    r_on = [c + (suffix or "_right") if c in left.columns else c for c in right_on]

    left_t = left.withColumn(_LEFT_ID, F.monotonically_increasing_id())
    # the id-stamped frames fan out into two plan branches (the
    # candidate pairs and the payload/keep-unmatched joins at the
    # bottom); monotonically_increasing_id is nondeterministic, so
    # truncate lineage once so both branches see the SAME ids even
    # under task retries / upstream reordering. Right ids also key the
    # band-candidate dedup on row IDENTITY: keying on the right key
    # VALUES would collapse distinct right rows that share a key into
    # one arbitrary survivor, making the tiebreak (and
    # second_neighbor rescaling) see fewer rows.
    left_t = left_t.localCheckpoint(eager=False)
    right_renamed = right_renamed.withColumn(
        _RIGHT_ID, F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)

    l_cols = [F.col(c) for c in left_on]
    r_cols = [F.col(c) for c in r_on]

    right_types = dict(right_renamed.dtypes)
    kinds = [_key_kind(right_types[c]) for c in r_on]
    scale_map = _numeric_scales(
        right_renamed, [(c, k) for c, k in zip(r_on, kinds)]
    )
    scales = [scale_map.get(c, 1.0) for c in r_on]
    str_left = [c for c, k in zip(left_on, kinds) if k == "string"]
    str_right = [c for c, k in zip(r_on, kinds) if k == "string"]

    # Candidates are kept NARROW on BOTH strategies: ids + key columns
    # + tiebreaks. Payload columns join back AFTER the argmin —
    # carrying full-width rows through millions of candidate pairs
    # (and first(left_col) aggregates) dominated runtime: ~90M banded
    # candidate rows on low-selectivity LSH keys, and a measured
    # 49s -> ~7s on the 15k x 1k broadcast levenshtein argmin at
    # sf0.1, where the old min(struct(dist, payload...)) compared
    # full supplier rows lexicographically 15M times.
    tiebreak = [c for c in (tiebreak_cols or r_on)]
    rb_keep = [_RIGHT_ID] + list(dict.fromkeys(r_on + tiebreak))
    # spread the left side across the cluster BEFORE the expensive
    # per-pair work: a small single-file left arrives as one
    # partition, and both the broadcast cross join and the gram/band
    # projection would otherwise run the entire O(|L| x |R|) distance
    # evaluation on ONE core (measured 40s -> ~4s at sf0.1).
    par = left.sparkSession.sparkContext.defaultParallelism
    lb_base = left_t.select(_LEFT_ID, *left_on).repartition(par)
    rb_base = right_renamed.select(*rb_keep)

    if strategy == "levenshtein":
        pairs = lb_base.crossJoin(broadcast(rb_base))
    elif strategy == "ngram_lsh" and str_left:
        # string keys are the selective ones: candidates come from
        # minhash bands over their grams; numeric/datetime key columns
        # only contribute to the exact rescoring distance below.
        # Each side ALSO carries its hashed gram array (one xxhash64
        # per gram per ROW): the jaccard rescoring then intersects two
        # small long arrays per candidate. Recomputing char_ngrams
        # inside the pair-level distance expression is O(candidates x
        # strlen) in interpreted HOF code — measured 9x slower than
        # this carried-array form on a 90M-candidate join.
        rows_per_band = max(1, n_components // n_bands)

        def with_bands(df, cols, prefix):
            grams = None
            for i, c in enumerate(cols):
                g = F.array_distinct(char_ngrams(F.col(c), 3))
                df = df.withColumn(
                    f"{prefix}{i}",
                    F.transform(g, lambda x: F.xxhash64(x)),
                )
                grams = g if grams is None else F.array_union(grams, g)
            return df.withColumn(
                "__band",
                F.explode(minhash_band_keys(grams, n_bands, rows_per_band)),
            )
        lb = with_bands(lb_base, str_left, "__lg")
        rb = with_bands(rb_base, str_right, "__rg")
        pairs = lb.join(rb, on="__band").drop("__band")
    elif strategy == "ngram_lsh":
        # numeric/datetime-only keys: band on a coarse quantization of
        # the FIRST key's standardized value. The left side probes its
        # own cell plus both neighbors, so any match within one cell
        # width (default 1 right-table std) is guaranteed a candidate —
        # an equi-join range lookup, never a cross join. Matches
        # farther than `numeric_band_width` stds on that key may be
        # missed (same approximate contract as the string LSH).
        k0_l, k0_r, kind0 = left_on[0], r_on[0], kinds[0]
        w = float(scales[0]) * float(numeric_band_width)

        def cell(c, kind):
            v = _as_seconds(c) if kind == "datetime" else c.cast("double")
            return F.floor(v / F.lit(w)).cast("long")

        lb = lb_base.withColumn(
            "__band",
            F.explode(
                F.array(
                    cell(F.col(k0_l), kind0) - 1,
                    cell(F.col(k0_l), kind0),
                    cell(F.col(k0_l), kind0) + 1,
                )
            ),
        )
        rb = rb_base.withColumn("__band", cell(F.col(k0_r), kind0))
        pairs = lb.join(rb, on="__band").drop("__band")
    else:
        raise ValueError("strategy must be 'levenshtein' or 'ngram_lsh'")

    if strategy == "ngram_lsh" and ref_dist == "second_neighbor":
        # candidate pairs repeat once per shared band. The argmin is
        # duplicate-insensitive, so pairs normally flow straight into
        # the aggregate (the dedup shuffle costs more than the extra
        # distance evaluations it saves). second_neighbor is the one
        # consumer that MUST see each right row exactly once
        # (duplicates would corrupt the 2nd-smallest distance), so
        # only that path pays for the pair dedup — keyed on row
        # IDENTITY (_RIGHT_ID), never on key values, which would
        # collapse distinct right rows sharing a key.
        pairs = pairs.dropDuplicates([_LEFT_ID, _RIGHT_ID])

    if strategy == "ngram_lsh" and str_left:
        dist_expr = _carried_gram_distance(left_on, r_on, kinds, scales)
    else:
        dist_expr = _pair_distance(l_cols, r_cols, strategy, kinds, scales)
    pairs = pairs.withColumn(_DIST, dist_expr)

    # Argmin via min(struct(dist, tiebreak…, payload…)) instead of a
    # row_number window: structs compare lexicographically, and a
    # hash aggregate gets map-side partial aggregation — per-partition
    # the candidate set collapses to one row per left row before the
    # shuffle, where a window would sort-shuffle every candidate pair.
    # A null distance (a null key on either side) must lose: min()
    # orders a null first, so one null-key right row would win every
    # left row's argmin and leave it unmatched. The leading is-null
    # flag sorts it last; a filter on the distance would be pushed into
    # the cross join's condition and evaluate every distance twice.
    struct_fields = (
        [F.col(_DIST).isNull().alias("__null"), F.col(_DIST).alias("__d")]
        + [F.col(c).alias(f"__t{i}") for i, c in enumerate(tiebreak)]
        + [F.col(_RIGHT_ID).alias("__rid")]
    )
    agg_cols = [F.min(F.struct(*struct_fields)).alias("__best")]
    if ref_dist == "second_neighbor":
        # per-row reference: distance to the 2nd nearest candidate
        # (ties included). collect_list is bounded by the candidate
        # count per left row (the broadcast right side / LSH bucket).
        # try_element_at: a left row with exactly ONE candidate (1-row
        # right table, singleton LSH bucket) has no 2nd neighbor; under
        # ANSI mode element_at(…, 2) would raise — try_ returns NULL,
        # which the denom fallback below already maps to 1.0.
        agg_cols.append(
            F.try_element_at(F.array_sort(F.collect_list(F.col(_DIST))), F.lit(2)).alias(
                "__second"
            )
        )
    best = pairs.groupBy(_LEFT_ID).agg(*agg_cols)
    second = (
        [F.col("__second")] if ref_dist == "second_neighbor" else []
    )
    best = best.select(
        _LEFT_ID,
        F.col("__best.__rid").alias(_RIGHT_ID),
        F.col("__best.__d").alias(_DIST),
        *second,
    ).join(right_renamed, on=_RIGHT_ID, how="left").drop(_RIGHT_ID)

    if ref_dist == "random_pairs":
        ls = left.select(*left_on).orderBy(*left_on).limit(200)
        rs = right.select(*right_on).orderBy(*right_on).limit(200)
        rs2 = rs
        for c in right_on:
            if c in left.columns:
                rs2 = rs2.withColumnRenamed(c, c + (suffix or "_right"))
        sample_pairs = ls.crossJoin(broadcast(rs2)).limit(4000)
        ref = sample_pairs.select(
            F.avg(_pair_distance(l_cols, r_cols, strategy, kinds, scales)).alias("m")
        ).collect()[0]["m"] or 1.0
    elif ref_dist == "no_rescaling":
        ref = 1.0
    elif ref_dist == "second_neighbor":
        ref = None  # per-row, computed above
    else:
        raise ValueError(
            "ref_dist must be 'random_pairs', 'second_neighbor' or "
            "'no_rescaling'"
        )

    if ref_dist == "second_neighbor":
        denom = F.when(
            F.col("__second").isNotNull() & (F.col("__second") > 0),
            F.col("__second"),
        ).otherwise(F.lit(1.0))
        best = best.withColumn(_RESCALED, F.col(_DIST) / denom).drop("__second")
    else:
        best = best.withColumn(_RESCALED, F.col(_DIST) / F.lit(float(ref)))
    best = best.withColumn(_ACCEPT, F.col(_RESCALED) <= F.lit(float(max_dist)))

    if drop_unmatched:
        best = best.filter(F.col(_ACCEPT))
    else:
        # null out right columns for rejected matches (reference keeps row)
        for c in right_renamed.columns:
            if c == _RIGHT_ID:
                continue
            best = best.withColumn(
                c, F.when(F.col(_ACCEPT), F.col(c)).otherwise(F.lit(None))
            )

    # recover left columns; keep-unmatched uses a left join so left
    # rows with no candidate at all survive with nulls
    how = "inner" if drop_unmatched else "left"
    best = left_t.join(
        best.drop(*[c for c in left.columns]), on=_LEFT_ID, how=how
    )

    out = best.drop(_LEFT_ID)
    if not add_match_info:
        out = out.drop(_DIST, _RESCALED, _ACCEPT)
    return out


class Joiner(SparkTransformer):
    """Transformer wrapper over :func:`fuzzy_join`
    (reference: skrub/_joiner.py:80)."""

    def __init__(self, aux_table: DataFrame, **kwargs):
        self.aux_table = aux_table
        self.kwargs = kwargs

    def _fit(self, df: DataFrame, y=None):
        pass

    def _transform(self, df: DataFrame) -> DataFrame:
        return fuzzy_join(df, self.aux_table, **self.kwargs)
