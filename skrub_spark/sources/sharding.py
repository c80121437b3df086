"""Training-shard writer — the sink end of the packing pipeline
(SURVEY.md §2, beyond-reference).

``pack_training_chunks`` assigns every document an exact
(start_chunk, end_chunk, chunk_offset) inside its shard; this module
writes that corpus read-optimized for a sequential training loader:

- ``partitionBy(shard)``: each shard is its own directory, so a
  data-parallel trainer maps shard -> worker with partition pruning
  (no full-corpus listing per worker).
- one ``repartition`` on the shard key co-locates each shard in one
  task; ``sortWithinPartitions(order)`` makes every parquet file
  internally ordered by packing position, so the loader streams
  chunks in order without a sort.
- ``maxRecordsPerFile`` bounds file sizes for object-store-friendly
  reads at 100 TB (many mid-size files beat one giant file per
  shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_half, null_safe


def shuffle_order(
    df: DataFrame,
    key: str = "doc_id",
    n_shards: int = 64,
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle for training order.

    Pre-training wants documents in a reproducible pseudorandom order
    decoupled from ingest order. Content-addressed, like the
    samplers: ``shard = md5_bucket(key) mod n_shards`` and
    ``shard_pos = rank of md5 hex within the shard`` — the same row
    lands at the same (shard, pos) on any cluster size or partition
    layout, and a SQL oracle replays the order bit-exactly (battery
    query ``corpus_shuffle``). Physically this is ONE hash shuffle +
    per-shard sort (the window is partitioned on the shard key), then
    feeds ``write_training_shards`` with ``order_col='shard_pos'``.

    Each shard sorts in a single task — size ``n_shards`` so a shard
    fits one executor's working set (at 100 TB that means tens of
    thousands of shards, which is also what a data-parallel trainer
    wants; 64 is a local-mode default, not a scale recommendation).
    """
    from pyspark.sql import Window

    # NULL keys hash via the sentinel: md5(concat(salt, NULL)) is
    # NULL, which would land the row in a NULL shard with a NULL position
    h = F.md5(F.concat(F.lit(salt), null_safe(F.col(key))))
    bucket = F.pmod(md5_half(h), F.lit(n_shards))
    out = df.withColumn("__h", h).withColumn("shard", bucket.cast("long"))
    win = Window.partitionBy("shard").orderBy("__h", key)
    return out.withColumn(
        "shard_pos", F.row_number().over(win).cast("long")
    ).drop("__h")


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    shard_cols: str | list[str] = "shard",
    order_col: str = "start_chunk",
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a packed corpus as per-shard parquet directories whose
    files are internally sorted by ``order_col``."""
    shard_cols = [shard_cols] if isinstance(shard_cols, str) else list(shard_cols)
    out = df.repartition(*[F.col(c) for c in shard_cols]).sortWithinPartitions(
        *shard_cols, order_col
    )
    writer = out.write.mode(mode).partitionBy(*shard_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(path)


def read_training_shards(
    spark: SparkSession, path: str, shard=None, shard_col: str = "shard"
) -> DataFrame:
    """Read shards back; ``shard=`` prunes to one shard's directory
    (PartitionFilters at the scan, no full-corpus read)."""
    df = spark.read.parquet(path)
    if shard is not None:
        df = df.filter(F.col(shard_col) == shard)
    return df


def plan_compaction(
    files: list[tuple[str, int]], target_bytes: int
) -> dict[str, int]:
    """First-fit-decreasing bin packing of ``(name, size)`` file
    metadata into compaction groups of ≤ ``target_bytes`` (a file
    larger than the target gets its own group). Deterministic:
    files order by (size desc, name asc), so the same listing
    always yields the same plan. Returns name → group id.

    Pure driver-side arithmetic on the LISTING (names + sizes,
    never data) — at 100 TB this is one metadata pass over the
    manifest, the same thing lakehouse OPTIMIZE commands do."""
    order = sorted(files, key=lambda fs: (-fs[1], fs[0]))
    bins: list[int] = []  # remaining capacity per group
    plan: dict[str, int] = {}
    for name, size in order:
        for gid, cap in enumerate(bins):
            if size <= cap:
                bins[gid] = cap - size
                plan[name] = gid
                break
        else:
            plan[name] = len(bins)
            bins.append(max(0, int(target_bytes) - size))
    return plan


def compact_shards(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 << 20,
    shard_col: str = "__shard",
) -> dict:
    """Compact a directory of small parquet files into
    target-size shards — the small-files maintenance pass every
    long-lived 100 TB table needs (streaming sinks and incremental
    ingests fragment; object-store scans want ~100 MB+ files).

    Shape: list the directory through the Hadoop FileSystem API
    (cluster-safe, like ``snapshots.py``), bin-pack the LISTING
    driver-side (``plan_compaction`` — metadata only), then ONE
    distributed job rewrites the data: each row maps to its group
    via a broadcast (filename → group) join on
    ``input_file_name()``, one hash repartition on the group id
    co-locates every group in a single task, and
    ``partitionBy(shard_col)`` writes one directory (one file) per
    group. Content is bit-identical — only the file layout changes
    (battery oracle ``compact_shards`` reads the output back
    against the original table).

    Returns ``{"n_input_files", "n_shards", "total_bytes"}``.
    """
    from .snapshots import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, in_path)
    files = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            files.append((name, int(st.getLen())))
    if not files:
        raise ValueError(f"no parquet files under {in_path}")
    plan = plan_compaction(files, target_bytes)
    mapping = spark.createDataFrame(
        sorted(plan.items()), "__fname string, __gid int"
    )
    df = spark.read.parquet(in_path)
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    out = (
        df.withColumn("__fname", fname)
        .join(F.broadcast(mapping), "__fname")
        .drop("__fname")
        .withColumnRenamed("__gid", shard_col)
    )
    (
        out.repartition(F.col(shard_col))
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .parquet(out_path)
    )
    return {
        "n_input_files": len(files),
        "n_shards": 1 + max(plan.values()),
        "total_bytes": sum(s for _, s in files),
    }
