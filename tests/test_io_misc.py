"""IO helpers, remaining dtype coercions, misc API coverage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import skrub_spark.selectors as s
from skrub_spark import SkrubLearner, ToStr, var
from skrub_spark.encoders.dtypes import DurationToFloat
from skrub_spark.sources import load_table, read_csv, read_json, write_parquet


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)], "id int, k string, v double"
    )
    path = str(tmp_path / "part_out")
    write_parquet(df, path, partition_by=["k"])
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning: filter on the partition column reads one dir
    pruned = back.filter(F.col("k") == "a")
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_load_table_infers_each_file_schema_once(spark, tmp_path, count_jobs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)

    def load(group):
        return count_jobs(group, lambda: load_table(spark, str(tmp_path), "t"))

    first, _ = load("load_first")
    second, jobs = load("load_second")
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "x"), (2, "y")]

    # a rewrite at the same path with another schema is read as written
    pq.write_table(pa.table({"c": [1.5], "d": [True], "e": ["z"]}), path)
    third, _ = load("load_rewritten")
    assert third.dtypes == [("c", "double"), ("d", "boolean"), ("e", "string")]
    assert third.collect()[0]["e"] == "z"


def test_read_csv_json(spark, tmp_path):
    csv_path = tmp_path / "t.csv"
    csv_path.write_text("id,name\n1,x\n2,y\n")
    df = read_csv(spark, str(csv_path))
    assert df.count() == 2 and set(df.columns) == {"id", "name"}

    json_path = tmp_path / "t.jsonl"
    json_path.write_text('{"id": 1, "v": 2.5}\n{"id": 2, "v": 3.5}\n')
    dj = read_json(spark, str(json_path))
    assert dj.count() == 2
    assert dj.filter("id = 2").first()["v"] == 3.5


def test_to_str_and_duration(spark):
    df = spark.createDataFrame([(1, 2.5)], "a int, b double")
    out = ToStr(["a", "b"]).fit_transform(df)
    assert dict(out.dtypes) == {"a": "string", "b": "string"}

    dur = spark.sql(
        "select interval '1 02:00:00' day to second as d"
    )
    r = DurationToFloat("d").fit_transform(dur).first()
    assert r["d"] == pytest.approx(26 * 3600.0)


def test_selectors_data_dependent(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (3, "b", 6.0)], "id int, k string, v double"
    )
    assert s.cardinality_below(3).expand(df) == ["k", "v"]  # 2 distinct each
    assert s.has_nulls().expand(df) == ["v"]
    assert s.categorical(10).expand(df) == ["k"]
    assert s.integer().expand(df) == ["id"]
    assert s.float_().expand(df) == ["v"]


def test_skrub_learner(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id int, v double")
    plan = var("X").filter("v > 10").count()
    learner = SkrubLearner(plan)
    assert learner.fit_transform({"X": df}) == 1


def test_table_report_json(spark):
    import json

    from skrub_spark import TableReport

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    j = json.loads(TableReport(df, title="t").to_json())
    assert j["title"] == "t" and j["n_rows"] == 1


def test_duration_to_float_fractional_seconds(spark):
    """Regression (ADVICE r1): sub-second precision must survive
    (skrub's _duration_to_float returns fractional seconds)."""
    dur = spark.sql(
        "select interval '0 00:00:01.5' day to second as d"
    )
    r = DurationToFloat("d").fit_transform(dur).first()
    assert r["d"] == pytest.approx(1.5)


def test_write_training_shards(spark, tmp_path):
    """Pack -> shard-write -> read-back: per-shard directories exist,
    files are internally ordered by packing position, and a
    single-shard read partition-prunes."""
    import os

    from pyspark.sql import functions as F

    from skrub_spark.operators.packing import pack_training_chunks
    from skrub_spark.sources.sharding import (
        read_training_shards,
        write_training_shards,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id"), F.lit(4))).alias("shard"),
        (F.pmod(F.col("id") * 37, F.lit(90)) + 10).alias("n_tokens"),
    )
    packed = pack_training_chunks(
        df, "n_tokens", chunk_tokens=256, order_col="doc_id", by="shard"
    )
    path = str(tmp_path / "shards")
    write_training_shards(packed, path, shard_cols="shard",
                          order_col="start_chunk")
    # one directory per shard
    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    back = read_training_shards(spark, path)
    assert back.count() == 200
    # single-shard read prunes partitions and preserves file order
    one = read_training_shards(spark, path, shard=2)
    rows = one.collect()  # no explicit sort: file order must hold
    assert [r["doc_id"] for r in rows] == sorted(r["doc_id"] for r in rows)
    assert all(r["shard"] == 2 for r in rows)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan or "shard#" in plan


def test_snapshot_lifecycle(spark, tmp_path):
    """Versioned snapshots: monotone versions, latest/pinned reads,
    all-snapshot union with v, refusal to overwrite."""
    import pytest

    from skrub_spark.sources.snapshots import (
        read_all_snapshots,
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    root = str(tmp_path / "snaps")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    d2 = spark.createDataFrame([(3, "c")], "doc_id long, text string")
    assert write_snapshot(d1, root) == 1
    assert write_snapshot(d2, root) == 2
    assert snapshot_versions(root) == [1, 2]
    assert read_snapshot(spark, root).count() == 1          # latest = v2
    assert read_snapshot(spark, root, 1).count() == 2
    allv = read_all_snapshots(spark, root)
    assert {(r["v"], r["doc_id"]) for r in allv.collect()} == {
        (1, 1), (1, 2), (2, 3)
    }
    with pytest.raises(ValueError, match="already exists"):
        write_snapshot(d1, root, version=2)


def test_ingest_snapshot_dedups_against_history(spark, tmp_path):
    """ingest_snapshot: batch 2's repeats of batch 1 content vanish,
    within-batch dups collapse to the min id, history is append-only."""
    from skrub_spark.sources.snapshots import (
        ingest_snapshot,
        read_all_snapshots,
    )

    root = str(tmp_path / "corpus")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "beta")], "doc_id long, text string"
    )
    v1, s1 = ingest_snapshot(b1, root)
    assert v1 == 1
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]  # 3 is dup of 2
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma")],
        "doc_id long, text string",
    )
    v2, s2 = ingest_snapshot(b2, root)
    assert v2 == 2
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]  # alpha seen, 12 dup
    assert read_all_snapshots(spark, root).count() == 3


def test_ingest_snapshot_near_dedups_against_bucket_index(spark, tmp_path):
    """ingest_snapshot_near: crawl 2's NEAR-copies of crawl 1 content
    are dropped using only the persisted band-bucket index (prior
    payloads never read); distinct content lands; the bucket index
    grows append-only under root/_buckets/v=N."""
    from skrub_spark.sources.snapshots import (
        ingest_snapshot_near,
        read_all_snapshots,
        snapshot_versions,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "today across the wide open field"
    )
    other = (
        "completely different text about spark engines and data "
        "pipelines processing large corpora at scale every day"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    v1, s1 = ingest_snapshot_near(b1, str(tmp_path / "c"))
    assert v1 == 1 and {r["doc_id"] for r in s1.collect()} == {1, 2}
    b2 = spark.createDataFrame(
        [
            (10, base.replace("today", "tonight")),  # near-dup of v1
            (11, "entirely novel words that share no shingles with "
                 "anything ingested before in this corpus at all"),
        ],
        "doc_id long, text string",
    )
    v2, s2 = ingest_snapshot_near(b2, str(tmp_path / "c"))
    assert v2 == 2 and {r["doc_id"] for r in s2.collect()} == {11}
    # bucket index is versioned parquet next to the snapshots
    assert snapshot_versions(str(tmp_path / "c" / "_buckets")) == [1, 2]
    hist = read_all_snapshots(spark, str(tmp_path / "c"))
    assert {r["doc_id"] for r in hist.collect()} == {1, 2, 11}
