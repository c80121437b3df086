"""Training-chunk packing — GPT-style sequence packing: the corpus
is (logically) concatenated in a deterministic order and cut into
fixed-size token chunks; documents straddle cut points. Each doc's
chunk assignment is pure arithmetic on the running token count:

    start_chunk = floor(cumsum_before / chunk_tokens)
    end_chunk   = floor((cumsum_after - 1) / chunk_tokens)

One running-sum window per shard — no sequential driver loop, no
Python. Sharding (``by``) bounds the window's sort: at 100 TB you
pack per shard (the standard practice — each shard feeds one data-
loader stream) so no global sort ever happens; within a shard the
order column makes the packing bit-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket


def pack_training_chunks(
    df: DataFrame,
    token_col: str,
    chunk_tokens: int,
    order_col: str,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Adds ``start_chunk`` / ``end_chunk`` (0-based, inclusive) and
    ``chunk_offset`` (token offset of the doc inside its first
    chunk). Zero-token docs get start_chunk = end_chunk = the chunk
    they fall at, offset included, spanning no tokens.

    ``order_col`` must be unique within each shard — ties make the
    running sum (and thus the packing) order-ambiguous."""
    by = [by] if isinstance(by, str) else list(by or [])
    w = (
        Window.partitionBy(*by)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ct = int(chunk_tokens)
    # `div` keeps the arithmetic in exact 64-bit integers — float
    # division would silently lose token-offset precision once the
    # per-shard cumulative count passes 2^53.
    tmp = df.select(
        "*", F.sum(F.col(token_col).cast("long")).over(w).alias("__cum")
    )
    before = f"(__cum - CAST({token_col} AS BIGINT))"
    return tmp.select(
        "*",
        F.expr(f"{before} div {ct}").alias("start_chunk"),
        F.expr(f"greatest(__cum - 1, {before}) div {ct}").alias("end_chunk"),
        F.expr(f"pmod({before}, {ct})").alias("chunk_offset"),
    ).drop("__cum")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking (r8 late — the RAG /
    long-document splitting primitive ``pack_training_chunks``'s
    concatenate-and-cut shape doesn't cover): each document splits
    into windows of ``chunk_tokens`` whitespace tokens advancing by
    ``chunk_tokens − overlap``, the last window flush to the end.

    Pure map-only Columns: token array → chunk count by integer
    ceil-div → one explode over ``sequence`` → ``slice`` +
    ``array_join``. No shuffle, no Python, whole-stage codegen —
    and integer arithmetic only, so the SQL oracle replays every
    chunk boundary exactly (battery query ``document_chunks``).
    Returns (id_col, chunk_id, n_chunk_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    from ..functions.text import tokens

    stride = int(chunk_tokens) - int(overlap)
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    k = F.when(n <= int(chunk_tokens), F.lit(1)).otherwise(
        (
            (n - F.lit(int(chunk_tokens)) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("long")
        + F.lit(1)
    ).cast("long")
    rows = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), k - 1)).alias(
            "chunk_id"
        ),
    )
    piece = F.slice(
        F.col("__toks"),
        (F.col("chunk_id") * stride + 1).cast("int"),
        int(chunk_tokens),
    )
    return rows.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def bfd_pack(
    df: DataFrame,
    len_col: str,
    id_col: str = "doc_id",
    *,
    capacity: int,
    n_shards: int = 64,
    salt: str = "",
    shard_col: str = "shard",
    bin_col: str = "bin_id",
) -> DataFrame:
    """Best-fit-decreasing sequence packing (r12 — the third
    packing-family member: `pack_training_chunks` concatenates and
    cuts ACROSS documents, `chunk_documents` splits WITHIN one;
    neither minimizes pad waste when variable-length sequences must
    stay whole, the SFT / inference-batching shape). Each sequence
    is assigned a bin of ``capacity`` tokens: items are taken in
    (length desc, id asc) order and placed into the open bin with
    the LEAST remaining space that still fits (ties → lowest bin
    id), else a new bin opens — the classic BFD 11/9·OPT+6/9
    guarantee (Dósa 2007).

    Distributed + deterministic: BFD is inherently sequential, so
    the corpus is first split into content-addressed shards
    (``md5(salt||id) mod n_shards`` — the samplers' portable rule,
    so shard membership is partition-layout-invariant and
    SQL-replayable) and BFD runs independently per shard via ONE
    Arrow-batched ``applyInPandas``. Hash shards preserve the
    corpus length mix (unlike length-banded shards, which strand
    same-length items together and pack near-worst-case), so
    per-shard BFD tracks global BFD quality while each shard stays
    a bounded single-task unit — size ``n_shards ≈ rows/4096`` at
    scale. The whole assignment replays exactly in SQL (battery
    oracle: one recursive CTE advancing every shard one item per
    step, bins as a sorted LIST<STRUCT(rem,id)>).

    Sequences with NULL length or length > capacity come back with
    a NULL bin id (chunk oversize docs first — `chunk_documents`);
    negative lengths raise. Returns the input columns plus
    ``shard_col`` and ``bin_col`` (0-based per shard).
    """
    import pandas as pd

    if int(capacity) < 1:
        raise ValueError("capacity must be >= 1")
    if int(n_shards) < 1:
        raise ValueError("n_shards must be >= 1")
    cap = int(capacity)
    shard = hash_bucket(F.col(id_col), salt, int(n_shards)).cast("long")
    ln = F.col(len_col).cast("long")
    base = df.withColumn(shard_col, shard).withColumn(
        "__neg", F.when(ln < 0, F.lit(1)).otherwise(F.lit(0))
    )
    packable = base.filter(ln.isNotNull() & (ln >= 0) & (ln <= cap)).drop(
        "__neg"
    )
    rest = base.filter(ln.isNull() | (ln > cap) | (ln < 0))
    from pyspark.sql.types import LongType, StructField, StructType

    # build a fresh StructType — StructType.add mutates in place, and
    # DataFrame.schema is cached, so .schema.add() would corrupt
    # `packable`'s own column list
    out_schema = StructType(
        list(packable.schema.fields) + [StructField(bin_col, LongType())]
    )

    def _bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf[len_col] < 0).any():
            raise ValueError(f"bfd_pack: negative {len_col}")
        pdf = pdf.sort_values(
            [len_col, id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        rem: list[int] = []
        bins = []
        for length in pdf[len_col].astype("int64"):
            best = -1
            best_rem = 0
            for b, r in enumerate(rem):
                if r >= length and (best < 0 or r < best_rem):
                    best, best_rem = b, int(r)
            if best < 0:
                rem.append(cap - int(length))
                bins.append(len(rem) - 1)
            else:
                rem[best] -= int(length)
                bins.append(best)
        pdf[bin_col] = pd.Series(bins, dtype="int64")
        return pdf

    packed = packable.groupBy(shard_col).applyInPandas(_bfd, out_schema)
    # a planted negative length must fail loudly even if it landed in
    # the unpackable branch (len < 0 rows never reach the pandas fn)
    rest = rest.select(
        *[c for c in base.columns if c != "__neg"],
        F.when(
            F.col("__neg") == 1,
            F.raise_error(F.lit(f"bfd_pack: negative {len_col}")),
        )
        .otherwise(F.lit(None))
        .cast("long")
        .alias(bin_col),
    )
    return packed.unionByName(rest)


def packing_report(
    packed: DataFrame,
    len_col: str,
    capacity: int,
    *,
    shard_col: str = "shard",
    bin_col: str = "bin_id",
) -> DataFrame:
    """Padding-efficiency report for a `bfd_pack` result: per shard,
    the bin count, sequence count, used tokens, allocated tokens
    (bins x capacity), unpacked (NULL-bin) count, and the padding
    fraction 1 - used/allocated (ONE IEEE division — everything
    else exact integers). One map-side-combined groupBy."""
    cap = int(capacity)
    ok = F.col(bin_col).isNotNull()
    ln = F.col(len_col).cast("long")
    agg = packed.groupBy(shard_col).agg(
        F.count_distinct(F.when(ok, F.col(bin_col))).alias("n_bins"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_seqs"),
        F.coalesce(F.sum(F.when(ok, ln)), F.lit(0))
        .cast("long")
        .alias("used_tokens"),
        F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias("n_unpacked"),
    )
    alloc = (F.col("n_bins") * cap).cast("long")
    return agg.select(
        shard_col,
        "n_bins",
        "n_seqs",
        "used_tokens",
        alloc.alias("alloc_tokens"),
        "n_unpacked",
        F.when(alloc > 0,
               F.lit(1.0) - F.col("used_tokens").cast("double")
               / alloc.cast("double"))
        .otherwise(F.lit(None))
        .alias("padding_frac"),
    )
