"""`skrub_spark.dedup.pairs.bucket_pairs`: the two forms agree, the
cap boundary, and the output contract; plus the cap seen through
`winnowing_pairs(max_postings=)`."""

from __future__ import annotations

from skrub_spark.dedup.pairs import bucket_pairs

# key -> ids: buckets of 1, 2, 3 and 4 members; id 1 sits in three
_BUCKETS = {10: [1], 20: [1, 2], 30: [3, 1, 4], 40: [2, 5, 6, 7]}


def _keyed(spark):
    rows = [(i, k, i * 100) for k, ids in _BUCKETS.items() for i in ids]
    return spark.createDataFrame(rows, "id long, k long, w long")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_capped_and_uncapped_agree_when_cap_covers_largest_bucket(spark):
    keyed = _keyed(spark)
    free = _rows(bucket_pairs(keyed, "k", carry=["w"]))
    capped = _rows(bucket_pairs(keyed, "k", carry=["w"], max_bucket=4))
    assert free == capped
    # one row per shared key and pair: 1 + 3 + 6
    assert len(free) == 10


def test_bucket_of_max_bucket_ids_kept_one_more_dropped(spark):
    pairs = _rows(bucket_pairs(_keyed(spark), "k", max_bucket=3))
    # the 4-id bucket is dropped whole; the 3- and 2-id buckets stay
    assert pairs == [(1, 2), (1, 3), (1, 4), (3, 4)]


def test_single_id_buckets_emit_nothing(spark):
    keyed = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, k long"
    )
    assert bucket_pairs(keyed, "k").count() == 0
    assert bucket_pairs(keyed, "k", max_bucket=5).count() == 0


def test_ordered_pairs_carried_columns_and_string_ids(spark):
    keyed = spark.createDataFrame(
        [("b", 1, 2.0), ("a", 1, 1.0), ("c", 1, 3.0), ("c", 2, 3.0),
         ("a", 2, 1.0)],
        "name string, k long, w double",
    )
    weight = {"a": 1.0, "b": 2.0, "c": 3.0}
    for cap in (None, 3):
        out = bucket_pairs(keyed, "k", id="name", carry=["w"], max_bucket=cap)
        assert out.columns == ["id_a", "w_a", "id_b", "w_b"]
        rows = out.collect()
        assert sorted((r.id_a, r.id_b) for r in rows) == [
            ("a", "b"), ("a", "c"), ("a", "c"), ("b", "c")
        ]
        for r in rows:
            assert r.id_a < r.id_b
            assert (r.w_a, r.w_b) == (weight[r.id_a], weight[r.id_b])


def test_string_and_multi_column_keys(spark):
    keyed = spark.createDataFrame(
        [(1, "x", 0), (2, "x", 0), (2, "y", 1), (3, "y", 1), (3, "x", 1),
         (4, None, 0), (5, None, 0)],
        "id long, g string, band int",
    )
    for cap in (None, 10):
        # text keys pair by value; a null key never pairs
        assert _rows(bucket_pairs(keyed, "g", max_bucket=cap)) == [
            (1, 2), (1, 3), (2, 3), (2, 3)
        ]
        # a list of key columns buckets on the combination
        assert _rows(bucket_pairs(keyed, ["band", "g"], max_bucket=cap)) == [
            (1, 2), (2, 3)
        ]


def test_winnowing_max_postings_boundary(spark):
    from skrub_spark.dedup.winnowing import winnowing_pairs

    text = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"other{i}" for i in range(40))
    # every fingerprint of `text` is shared by exactly three documents
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, text), (4, other)],
        "doc_id long, text string",
    )
    kept = _rows(winnowing_pairs(df, max_postings=3).select("id_a", "id_b"))
    assert kept == [(1, 2), (1, 3), (2, 3)]
    assert winnowing_pairs(df, max_postings=2).count() == 0
