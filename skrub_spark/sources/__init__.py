"""Table sources.

The engine reads columnar formats through Spark's native readers so
Catalyst keeps predicate pushdown / column pruning / partition
pruning. ``load_table`` is the single entry point used by every
query in ``__spark_entry__``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# (realpath, st_mtime_ns, st_size, nanosAsLong conf) -> inferred schema
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring each file's schema once.

    Parquet schema inference launches one Spark job per read; a
    regular local file whose identity (real path, mtime, size) and
    the nanos-as-long conf are unchanged is read with the schema
    inferred the first time, which launches none. A rewrite at the
    same path changes mtime or size and re-infers. Directories and
    remote URIs always infer: a directory's mtime misses in-place
    rewrites of its part files.
    """
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.realpath(path),
        st.st_mtime_ns,
        st.st_size,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


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
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        dtype = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if dtype == "bigint":  # legacy nanos-as-long read
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


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
