"""Tests for the round-5 curation operators: boilerplate line removal,
shuffling and incremental/streaming dedup. The LM perplexity filter's
tests are in ``test_lm_filter.py``, decontamination's in
``test_overlap.py``."""

from __future__ import annotations

from pyspark.sql import functions as F

from skrub_spark.operators.boilerplate import remove_boilerplate_lines


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shuffle_order(spark):
    from skrub_spark.sources.sharding import shuffle_order

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = shuffle_order(df, key="doc_id", n_shards=8, salt="s")
    rows = out.collect()
    # positions are 1..n contiguous within each shard
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # layout-independent: same (shard, pos) after repartitioning
    again = {
        r["doc_id"]: (r["shard"], r["shard_pos"])
        for r in shuffle_order(
            df.repartition(13), key="doc_id", n_shards=8, salt="s"
        ).collect()
    }
    assert {r["doc_id"]: (r["shard"], r["shard_pos"]) for r in rows} == again
    # order is decoupled from key order: doc 0..7 not all at pos 1
    first = [k for k, (s, p) in again.items() if p == 1]
    assert sorted(first) != list(range(8))


def test_dedup_incremental(spark):
    from skrub_spark.dedup.exact import dedup_incremental

    seen = spark.createDataFrame(
        [(1, "old doc"), (2, "other old")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "old doc"),     # dup of seen -> dropped
            (11, "brand new"),   # survives
            (12, "brand new"),   # within-batch dup -> dropped (11 < 12)
            (13, "also new"),    # survives
        ],
        "doc_id long, text string",
    )
    out = sorted(r["doc_id"] for r in dedup_incremental(new, seen).collect())
    assert out == [11, 13]
    # schema passthrough: original columns, no helper hash column
    assert dedup_incremental(new, seen).columns == ["doc_id", "text"]
    # a row repeated VERBATIM (same id, same text) within the batch
    # must survive exactly once
    doubled = new.unionByName(
        spark.createDataFrame([(11, "brand new")], "doc_id long, text string")
    )
    out2 = sorted(r["doc_id"] for r in dedup_incremental(doubled, seen).collect())
    assert out2 == [11, 13]


def test_streaming_near_dedup_cross_batch(spark, tmp_path):
    """A document in a LATER micro-batch sharing bands with one from
    an EARLIER batch is flagged against the earlier claimant — the
    state-store carry a stateless per-batch LSH would fail."""
    import pandas as pd

    from skrub_spark.streaming import near_dup_summary, streaming_near_dedup

    d = tmp_path / "ndd_src"
    d.mkdir()
    text = "the quick brown fox jumps over the lazy dog tonight"
    pd.DataFrame({"doc_id": [1, 2], "text": [text, "completely different words here now"]}).to_parquet(d / "b1.parquet")
    pd.DataFrame({"doc_id": [5], "text": [text]}).to_parquet(d / "b2.parquet")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        streaming_near_dedup(stream)
        .writeStream.format("memory")
        .queryName("ndd_cont_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert sum(1 for p in q.recentProgress if p.numInputRows > 0) >= 2
    ids = spark.createDataFrame([(1,), (2,), (5,)], "doc_id long")
    out = {
        r["doc_id"]: (r["is_dup"], r["canonical_id"])
        for r in near_dup_summary(spark.table("ndd_cont_test"), ids=ids).collect()
    }
    assert out[1] == (False, 1)
    assert out[2] == (False, 2)
    assert out[5] == (True, 1)   # claimed in batch 1, flagged in batch 2


def test_streaming_near_dedup_out_of_order_arrival(spark, tmp_path):
    """Arrival-order semantics, stated in the docstring: a SMALLER id
    arriving after its bucket was claimed is flagged against the
    earlier claimant — emitted rows are never retro-flagged."""
    import pandas as pd

    from skrub_spark.streaming import near_dup_summary, streaming_near_dedup

    d = tmp_path / "ndd_ooo"
    d.mkdir()
    text = "the quick brown fox jumps over the lazy dog tonight"
    pd.DataFrame({"doc_id": [9], "text": [text]}).to_parquet(d / "b1.parquet")
    pd.DataFrame({"doc_id": [3], "text": [text]}).to_parquet(d / "b2.parquet")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        streaming_near_dedup(stream)
        .writeStream.format("memory")
        .queryName("ndd_ooo_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    ids = spark.createDataFrame([(3,), (9,)], "doc_id long")
    out = {
        r["doc_id"]: (r["is_dup"], r["canonical_id"])
        for r in near_dup_summary(spark.table("ndd_ooo_test"), ids=ids).collect()
    }
    assert out[9] == (False, 9)  # claimed first; never retro-flagged
    assert out[3] == (True, 9)   # late smaller id flags against claimant


def test_boilerplate_removal(spark):
    df = _docs(
        spark,
        [
            (
                1,
                "HOME | ABOUT | CONTACT\n"
                "This line is a real sentence with enough words to stay.\n"
                "Short but punctuated.\n"
                "Copyright 2020 example\n"
                "   \n"
                "too few words",
            ),
            (2, "ALL CAPS NAV BAR"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, "text", min_words=5).collect()
    }
    kept = out[1]["clean_text"].split("\n")
    assert kept == [
        "This line is a real sentence with enough words to stay.",
        "Short but punctuated.",
    ]
    assert out[1]["n_lines_total"] == 5  # blank line dropped pre-count
    assert out[1]["n_lines_kept"] == 2
    assert out[2]["clean_text"] == "" and out[2]["n_lines_kept"] == 0


def test_boilerplate_upper_ratio_boundary(spark):
    # exactly 50% uppercase letters passes (<=), above fails
    df = _docs(spark, [(1, "AAAAA aaaaa\nAAAAAA aaaa")])
    out = remove_boilerplate_lines(df, "text", min_words=2).collect()[0]
    assert out["clean_text"] == "AAAAA aaaaa"


def test_curation_funnel_monotone(spark):
    """Funnel invariants: five ordered stages, counts non-increasing
    stage-over-stage (each stage only removes), planted duplicates
    visibly drop at the dedup stages."""
    from skrub_spark.report.funnel import curation_funnel

    good = (
        "This is a perfectly reasonable sentence about data engineering "
        "that ends with punctuation and continues for long enough to "
        "pass every filter in the stack without any trouble at all."
    )
    rows = [
        (1, good),
        (2, good),                     # exact dup of 1
        (3, good + " Extra closing line here."),  # shares a 20-token run
        (4, "SHOUTY NAV LINK\nCOOKIE BANNER"),    # boilerplate-only
        (5, ("spam " * 40).strip()),   # top-word repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["stage"]: (r["stage_idx"], r["n_docs"], r["n_tokens"])
        for r in curation_funnel(df, min_words=10, window=20).collect()
    }
    assert [out[s][0] for s in (
        "raw", "boilerplate", "repetition", "exact_dedup", "substring_dedup"
    )] == [0, 1, 2, 3, 4]
    seq = [out[s][1:] for s in (
        "raw", "boilerplate", "repetition", "exact_dedup", "substring_dedup"
    )]
    for (d1, t1), (d2, t2) in zip(seq, seq[1:]):
        assert d2 <= d1 and t2 <= t1
    assert out["raw"][1] == 5
    assert out["boilerplate"][1] == 4      # doc 4 emptied
    assert out["repetition"][1] == 3       # doc 5 top-word filtered
    assert out["exact_dedup"][1] == 2      # doc 2 collapsed into 1
    # doc 3's shared 20-token run with doc 1 is removed at stage 4
    assert out["substring_dedup"][2] < out["exact_dedup"][2]
