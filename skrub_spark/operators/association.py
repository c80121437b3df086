"""Association-rule mining (market-basket co-occurrence) —
beyond-reference analytics operator (SURVEY.md §2).

The reference's association tooling (`column_associations`,
reference skrub/_column_associations.py) measures COLUMN-level
dependence (Cramér's V); production curation and recommendation
pipelines also need ROW-SET co-occurrence — which items appear
together in the same basket (order, session, document) more often
than chance: support / confidence / lift, the A-priori vocabulary.

Distributed A-priori, level ≤ 2 (pairs — the level that matters in
practice and the only one whose candidate space survives 100 TB):

1. distinct (basket, item) — dedup multiplicity inside a basket;
2. item supports: ONE map-side-combined groupBy on item;
3. frequent-item PREFILTER: baskets are stripped of items below
   min support BEFORE the pair join (the A-priori downward-closure
   pruning — an infrequent item cannot be in a frequent pair), so
   the quadratic step only sees surviving items;
4. pair candidates: :func:`~skrub_spark.dedup.pairs.bucket_pairs`
   self-joins on the basket key with ``item_a < item_b`` (each
   unordered pair once), counted by a map-side-combined groupBy on
   the pair.

The self-join is per-basket quadratic — bounded by stripping
infrequent items first and, at web scale, by the same per-basket
cap ``cap_per_group`` applies to domains; the shuffles are plain
basket-key / item-key hash joins, AQE-splittable.

Exactness: counts are exact integers; support / confidence / lift
are each ONE IEEE division (lift: one multiply then one divide) of
exact integers, 6dp-rounded — bit-identical on both engines, so the
DuckDB oracle replays the whole ladder (battery query
``association_rules``). Rules are emitted in BOTH directions
(confidence is asymmetric; support and lift repeat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup.pairs import bucket_pairs


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support_count: int = 2,
) -> DataFrame:
    """Pairwise association rules over ``(basket, item)`` rows:
    ``(antecedent, consequent, pair_count, support, confidence,
    lift)`` for every ordered pair whose unordered co-occurrence
    count ≥ ``min_support_count`` (both items individually pass
    the same threshold via downward closure).

    ``support = pair/N``, ``confidence = pair/count(antecedent)``,
    ``lift = N·pair / (count(a)·count(b))`` with N = number of
    distinct baskets — all exact-integer single divisions,
    6dp-rounded.

    The persisted distinct basket frame backs the returned frame; see
    :func:`skrub_spark.release` for the cache contract.
    """
    ms = int(min_support_count)
    # persisted: THREE consumers (the basket count, the item
    # supports, and the pair join's kept frame) each re-executed
    # the distinct shuffle when b was left lazy (r12-opt — the
    # plan embedded the subtree three times)
    b = (
        baskets.select(
            F.col(basket_col).alias("basket"),
            F.col(item_col).alias("item"),
        )
        .distinct()
        .persist()
    )
    n_baskets = b.agg(
        F.countDistinct("basket").cast("long").alias("n")
    )
    supp = b.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("item_count")
    )
    freq = supp.filter(F.col("item_count") >= ms)
    kept = b.join(
        F.broadcast(freq.select("item")), "item"
    ).select("basket", "item")
    pairs = (
        bucket_pairs(kept, "basket", id="item")
        .groupBy(F.col("id_a").alias("item_a"), F.col("id_b").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= ms)
    )
    ca = freq.select(
        F.col("item").alias("item_a"),
        F.col("item_count").alias("count_a"),
    )
    cb = freq.select(
        F.col("item").alias("item_b"),
        F.col("item_count").alias("count_b"),
    )
    enriched = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    # both rule directions from ONE pass over the enriched pairs:
    # the former fwd/rev self-union embedded — and EXECUTED — the
    # whole pair-join pipeline twice (physical union branches share
    # no subtree; r12-opt, guide §2.4). Row set is identical.
    both = enriched.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                    F.col("pair_count").alias("pair_count"),
                    F.col("count_a").alias("__ca"),
                    F.col("count_b").alias("__cb"),
                    F.col("n").alias("n"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                    F.col("pair_count").alias("pair_count"),
                    F.col("count_b").alias("__ca"),
                    F.col("count_a").alias("__cb"),
                    F.col("n").alias("n"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")
    return both.select(
        "antecedent",
        "consequent",
        "pair_count",
        F.round(
            F.col("pair_count").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("support"),
        F.round(
            F.col("pair_count").cast("double")
            / F.col("__ca").cast("double"),
            6,
        ).alias("confidence"),
        F.round(
            (F.col("n") * F.col("pair_count")).cast("double")
            / (F.col("__ca") * F.col("__cb")).cast("double"),
            6,
        ).alias("lift"),
    )


def item_cooccurrence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_pair_count: int = 2,
) -> DataFrame:
    """Item-item co-occurrence similarity — the collaborative-
    filtering complement to ``association_rules``: one row per
    unordered item pair appearing in ≥ ``min_pair_count`` common
    baskets — ``(item_a, item_b, n_a, n_b, n_ab, cosine)`` with
    ``cosine = n_ab / sqrt(n_a · n_b)`` (the Salton/item-CF
    similarity over binary basket vectors). ``association_rules``
    ranks directional rules by lift; the symmetric cosine matrix
    is what "customers also bought" k-NN serving reads.

    Exactness: basket membership is DISTINCT (repeat lines don't
    double-count), all counts exact, sqrt is one correctly-rounded
    IEEE op on an exact integer product, division + 6dp round
    (battery oracle ``item_cooccurrence`` replays verbatim).

    Scale shape: the pair stage is a basket-keyed self-join of the
    DISTINCT (basket, item) frame — cost Σ|basket|², the inverted-
    index bound, never |items|²; real baskets are short (TPC-H
    orders ≤ 7 lines; cap pathological baskets upstream with
    ``cap_per_group`` if a basket is a crawl artifact). Item
    counts join back onto the |pairs|-sized frame (plain equi-join
    — AQE broadcasts it when the catalog is small; forcing a
    broadcast would break at web-scale item counts).
    """
    bi = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct().persist()
    ic = bi.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = (
        bucket_pairs(bi, "b", id="i")
        .groupBy(F.col("id_a").alias("i"), F.col("id_b").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_pair_count))
    )
    na = ic.select(F.col("i"), F.col("n").alias("n_a"))
    nb = ic.select(
        F.col("i").alias("j"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(na, "i")
        .join(nb, "j")
        .select(
            F.col("i").alias("item_a"),
            F.col("j").alias("item_b"),
            "n_a",
            "n_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
