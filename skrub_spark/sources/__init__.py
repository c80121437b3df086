"""Table sources.

The engine reads columnar formats through Spark's native readers so
Catalyst keeps predicate pushdown / column pruning / partition
pruning. ``load_table`` is the single entry point used by every
query in ``__spark_entry__``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Plain parquet scan — filters/projections
    applied by callers are pushed into this scan by Catalyst.

    ``events.ts`` has drifted across test-data generations:
    TIMESTAMP(NANOS) (which Spark's parquet reader rejects — read
    nanos as long via session conf and truncate to microseconds),
    then plain ``timestamp[us]`` with no timezone (reads as
    TIMESTAMP_NTZ). Normalize every variant to a session-tz
    TIMESTAMP here so downstream epoch arithmetic
    (``functions.timeutils``) sees one type. The cast is metadata-only
    in the scan — it does not block pushdown on other columns.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        dtype = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if dtype == "bigint":  # legacy nanos-as-long read
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in ALL_TABLES}


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    opts = {"header": "true", "inferSchema": schema is None}
    opts.update(options)
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet (ORC
    carries min/max stripe stats Catalyst uses for predicate skip)."""
    return spark.read.options(**options).orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
