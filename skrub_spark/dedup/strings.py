"""Categorical-string deduplication → canonical spelling.

Behavior parity: skrub/_deduplicate.py (deduplicate) — cluster
near-identical category strings (typos, case variants) and replace
each by its cluster's most frequent member. The reference builds a
dense pairwise ngram-TFIDF distance matrix + hierarchical
clustering, which is O(u²) memory; here clustering is char-ngram
Jaccard pairs within LSH candidate buckets → connected components →
frequency-weighted representative. Works on the distinct-value set
(u « n rows), then maps back with a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.text import char_ngrams
from .components import connected_components
from .pairs import bucket_pairs


def deduplicate_strings(
    df: DataFrame,
    col: str,
    *,
    similarity_threshold: float = 0.6,
    ngram: int = 3,
    out_col: str | None = None,
) -> DataFrame:
    """Return ``df`` with ``out_col`` (default ``{col}_dedup``) holding
    the canonical spelling for each value."""
    out_col = out_col or f"{col}_dedup"
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("__freq"))
    uniq = counts.select(
        F.col(col).alias("s"),
        "__freq",
        F.array_distinct(char_ngrams(F.col(col), ngram)).alias("grams"),
    )
    expl = uniq.select("s", F.explode("grams").alias("gram"))
    cand = bucket_pairs(expl, "gram", id="s").dropDuplicates(["id_a", "id_b"])
    ga = uniq.select(F.col("s").alias("id_a"), F.col("grams").alias("ga"))
    gb = uniq.select(F.col("s").alias("id_b"), F.col("grams").alias("gb"))
    pairs = (
        cand.join(ga, on="id_a")
        .join(gb, on="id_b")
        .withColumn(
            "jac",
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.greatest(F.size(F.array_union("ga", "gb")).cast("double"), F.lit(1.0)),
        )
        .filter(F.col("jac") >= similarity_threshold)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs, "id_a", "id_b")  # (id=string, component)
    labeled = counts.join(
        comp.withColumnRenamed("id", col), on=col, how="left"
    ).withColumn("component", F.coalesce("component", F.col(col)))
    w = Window.partitionBy("component").orderBy(
        F.col("__freq").desc(), F.col(col).asc()
    )
    canon = (
        labeled.withColumn("__rn", F.row_number().over(w))
        .withColumn(out_col, F.first(col).over(w))
        .select(col, out_col)
    )
    return df.join(broadcast(canon), on=col, how="left")


def _blocked_candidates(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str,
    block: str,
    max_block: int,
    op: str,
) -> DataFrame:
    """Distinct ``(name_a, name_b)`` pairs sharing a block key, for the
    blocked string joins below: blocks holding more than ``max_block``
    distinct names (over both sides) are dropped, and a self-join
    (same frame and column twice) keeps ``name_a < name_b``."""
    if block == "first_token":
        bk = lambda c: F.split(F.lower(F.col(c)), r"\s+").getItem(0)  # noqa: E731
    elif block == "prefix2":
        bk = lambda c: F.substring(F.lower(F.col(c)), 1, 2)  # noqa: E731
    else:
        raise ValueError(f"{op}: unknown block {block!r}")
    self_join = df_a is df_b and col_a == col_b
    a = df_a.select(
        F.col(col_a).alias("name_a"), bk(col_a).alias("__bk")
    ).dropDuplicates(["name_a"])
    b = df_b.select(
        F.col(col_b).alias("name_b"), bk(col_b).alias("__bk")
    ).dropDuplicates(["name_b"])
    # Count DISTINCT names per block over the union of both sides —
    # summing per-side rows would double-count shared names (a
    # self-join block would be dropped at max_block/2), diverging
    # from the documented "more than max_block distinct names" cap.
    sizes = (
        a.select("__bk", F.col("name_a").alias("__nm"))
        .unionAll(b.select("__bk", F.col("name_b").alias("__nm")))
        .groupBy("__bk")
        .agg(F.countDistinct("__nm").alias("__bs"))
    )
    ok_blocks = sizes.filter(
        F.col("__bs") <= int(max_block)
    ).select("__bk")
    cand = a.join(ok_blocks, "__bk", "left_semi").join(b, "__bk")
    return cand.filter(
        F.col("name_a") < F.col("name_b")
        if self_join
        else F.col("name_a") != F.col("name_b")
    )


def jaro_winkler_join(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str,
    *,
    threshold: float = 0.84,
    block: str = "first_token",
    max_block: int = 10000,
) -> DataFrame:
    """Blocked string-similarity join on Jaro-Winkler (the
    record-linkage metric next to the Levenshtein/ngram modes of
    ``fuzzy_join``): candidate pairs share a cheap BLOCK key —
    ``first_token`` (lowercased first whitespace token) or
    ``prefix2`` (first two lowercased chars, the classic Winkler
    blocking since the metric front-weights prefixes anyway) — then
    the Arrow-batched :func:`...functions.text.jaro_winkler` verifies
    only candidates. Returns ``(name_a, name_b, jw)`` for pairs with
    ``jw >= threshold``.

    100 TB shape: the quadratic is confined to blocks (an equi-join
    Catalyst shuffles/broadcasts like any other); the verify UDF
    touches candidate pairs only, and blocks holding more than
    ``max_block`` distinct names are DROPPED before the candidate
    join (the ``max_bucket`` cap of :func:`~.pairs.bucket_pairs`:
    one hot block key must not reintroduce the all-pairs quadratic;
    the skipped block is the documented recall trade, same as a
    too-common LSH bucket). Blocking recall is the
    standard trade — a typo inside the block key misses the pair.
    Self-join: pass the same frame twice; the output keeps
    ``name_a < name_b`` then, dropping self/duplicate pairs."""
    from ..functions.text import jaro_winkler

    cand = _blocked_candidates(
        df_a, df_b, col_a, col_b, block, max_block, "jaro_winkler_join"
    )
    return (
        cand.withColumn("jw", jaro_winkler("name_a", "name_b"))
        .filter(F.col("jw") >= F.lit(float(threshold)))
        .select("name_a", "name_b", F.round("jw", 6).alias("jw"))
    )


def damerau_levenshtein_join(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str,
    *,
    max_dist: int = 2,
    block: str = "first_token",
    max_block: int = 10000,
) -> DataFrame:
    """Blocked edit-distance join on FULL Damerau-Levenshtein (r12
    — the transposition-aware metric next to `jaro_winkler_join`
    and fuzzy_join's plain-Levenshtein mode: a swapped character
    pair costs 1, not 2, so 'recieve'≈'receive' at distance 1).
    Same discipline as the JW join: candidates share a cheap block
    key (``first_token`` / ``prefix2``), blocks with more than
    ``max_block`` distinct names are DROPPED (the hot-block cap —
    documented recall trade), the Arrow-batched
    :func:`...functions.text.damerau_levenshtein` verifies
    candidates only, and a self-join keeps ``name_a < name_b``.
    Returns ``(name_a, name_b, dl)`` with ``dl <= max_dist``."""
    from ..functions.text import damerau_levenshtein

    if int(max_dist) < 0:
        raise ValueError("damerau_levenshtein_join: max_dist must be >= 0")
    cand = _blocked_candidates(
        df_a, df_b, col_a, col_b, block, max_block, "damerau_levenshtein_join"
    )
    # two cheap JVM-side prefilters BEFORE the Python verify, both
    # lossless: DL >= length difference, and DL <= k implies plain
    # Levenshtein <= 2k (a transposition costs at most two lev
    # edits) — Spark's builtin threshold levenshtein is codegen and
    # prunes ~all junk pairs, so only near-matches cross the Arrow
    # boundary (measured 10x on the battery shape)
    cand = cand.filter(
        F.abs(F.length("name_a") - F.length("name_b"))
        <= F.lit(int(max_dist))
    ).filter(
        F.levenshtein("name_a", "name_b", 2 * int(max_dist)) >= 0
    )
    return (
        cand.withColumn(
            "dl", damerau_levenshtein("name_a", "name_b")
        )
        .filter(F.col("dl") <= F.lit(int(max_dist)))
        .select("name_a", "name_b", "dl")
    )
