"""Winnowing document fingerprints — the MOSS local fingerprinting
algorithm (Schleimer, Wilkerson & Aiken, SIGMOD 2003), the dedup
family's POSITION-AWARE member (beyond-reference, SURVEY.md §2).

MinHash answers "are these documents similar as BAGS of shingles";
winnowing selects a guaranteed-coverage subset of shingle hashes —
in every window of ``w`` consecutive k-gram hashes, keep the
minimum (rightmost on ties) — so any shared substring of length
``k + w - 1`` is certain to contribute at least one shared
fingerprint. That makes it the right tool for plagiarism-style
containment and partial-overlap detection, where MinHash's global
resemblance washes out local copies.

Shape at 100 TB: per-document position/hash rows (one explode), the
window minimum over a PER-DOCUMENT frame bounded by document length
(never corpus-wide), distinct selected fingerprints, and pair
overlap from :func:`~.pairs.bucket_pairs` on the 8-byte fingerprint
hash, with ``max_postings`` as its hot-bucket cap — the same kernel
as minhash LSH, nothing pairwise.

Hashes are the ENGINE-PORTABLE 60-bit md5 rule, the tie rule is the
paper's (rightmost minimal, realized as ``min(struct(hash, -pos))``
— struct order: smallest hash, then LARGEST position), so the
selected set and every overlap count replay exactly in the DuckDB
oracle (battery queries ``winnow_fingerprints``/``winnowing_pairs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.text import word_shingles
from ..session import fan_out
from .pairs import bucket_pairs

_WINNOW_SALT = "wn9|"


def winnow_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    w: int = 8,
    salt: str = _WINNOW_SALT,
) -> DataFrame:
    """Selected fingerprints per document: ``(id_col, pos, fp)``
    where ``pos`` is the 1-based k-gram position of each selected
    hash. Documents with fewer than ``k + w - 1`` words yield no
    fingerprints (no full window exists — the paper's guarantee
    threshold)."""
    grams = word_shingles(F.col(content_col), k)
    g = (
        fan_out(df.select(F.col(id_col), F.col(content_col)))
        .select(
            F.col(id_col),
            F.posexplode(grams).alias("__p0", "__g"),
        )
        .select(
            id_col,
            (F.col("__p0") + 1).alias("pos"),
            h60(F.col("__g"), salt).alias("h"),
        )
    )
    # per-window (rightmost) minimum over the bounded per-doc frame:
    # min(struct(h, -pos)) = smallest hash, then largest position
    frame = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(0, w - 1)
    )
    sel = g.select(
        id_col,
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(
            frame
        ).alias("__s"),
        F.count(F.lit(1)).over(frame).alias("__n"),
    ).filter(F.col("__n") == w)
    return (
        sel.select(
            id_col,
            (-F.col("__s.np")).cast("long").alias("pos"),
            F.col("__s.h").alias("fp"),
        )
        .distinct()
    )


def winnowing_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    w: int = 8,
    min_shared: int = 3,
    max_postings: int = 1000,
    salt: str = _WINNOW_SALT,
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` selected
    fingerprint HASHES: ``(id_a, id_b, n_shared)`` with
    ``id_a < id_b``. ``max_postings`` drops fingerprints appearing
    in more than that many documents (the ``max_bucket`` cap of
    :func:`~.pairs.bucket_pairs` — a boilerplate hash shared by half
    the corpus must not emit n² pairs)."""
    fps = (
        winnow_fingerprints(
            df, content_col, id_col, k=k, w=w, salt=salt
        )
        .select(id_col, "fp")
        .distinct()
    )
    return (
        bucket_pairs(fps, "fp", id=id_col, max_bucket=int(max_postings))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
