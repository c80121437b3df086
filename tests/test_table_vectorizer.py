"""Tests for selectors, SelectCols/ApplyToCols, TableVectorizer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import skrub_spark.selectors as s
from skrub_spark import (
    ApplyToCols,
    DropCols,
    SelectCols,
    SquashingScaler,
    TableVectorizer,
    ToFloat,
    tabular_pipeline,
)
from skrub_spark.functions.text import sql_ident
from skrub_spark.table_vectorizer import _one_hot, _safe


def _frame(spark):
    return spark.createDataFrame(
        [
            (1, 2.5, "x", "2024-01-01 00:00:00", "HOUSE"),
            (2, 3.5, "y", "2024-06-01 00:00:00", "AUTO"),
        ],
        "id int, val double, name string, ts string, seg string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_selectors(spark):
    df = _frame(spark)
    assert s.numeric().expand(df) == ["id", "val"]
    assert s.string().expand(df) == ["name", "seg"]
    assert s.any_date().expand(df) == ["ts"]
    assert (s.numeric() & ~s.cols("id")).expand(df) == ["val"]
    assert s.glob("s*").expand(df) == ["seg"]
    assert s.regex("^(id|ts)$").expand(df) == ["id", "ts"]
    assert (s.all() - s.string()).expand(df) == ["id", "val", "ts"]


def test_select_drop_cols(spark):
    df = _frame(spark)
    assert SelectCols(s.numeric()).fit_transform(df).columns == ["id", "val"]
    assert DropCols(["ts"]).fit_transform(df).columns == [
        "id",
        "val",
        "name",
        "seg",
    ]


def test_apply_to_cols(spark):
    df = spark.createDataFrame([("1", "2")], "a string, b string")
    out = ApplyToCols(ToFloat(), s.all()).fit_transform(df)
    assert dict(out.dtypes) == {"a": "double", "b": "double"}


def test_table_vectorizer(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, "AUTO", "a very long unique string one", "2024-01-01"),
            (2, 20.0, "HOUSE", "another long unique string two", "2024-02-01"),
            (3, 30.0, "AUTO", "yet another long unique text three", "2024-03-01"),
        ],
        "id int, amount double, seg string, desc string, day string",
    )
    tv = TableVectorizer(cardinality_threshold=2)
    out = tv.fit(df).transform(df)
    cols = set(out.columns)
    # numeric passthrough
    assert {"id", "amount"} <= cols
    # low-card seg -> one-hot
    assert {"seg_AUTO", "seg_HOUSE"} <= cols
    # day parsed by cleaner -> datetime features
    assert "day_year" in cols
    # high-card desc -> minhash features
    assert "desc_0" in cols
    # all numeric output for feature columns
    row = out.orderBy("id").first()
    assert row["seg_AUTO"] == 1.0 and row["seg_HOUSE"] == 0.0
    names = tv.get_feature_names_out()
    assert set(names) <= cols


def test_tabular_pipeline(spark):
    df = _frame(spark)
    out, names = tabular_pipeline(df, target_col=None, numeric=SquashingScaler())
    assert out.count() == 2
    assert len(names) >= 4


def test_table_vectorizer_specific_transformers(spark):
    from skrub_spark import MinHashEncoder

    df = spark.createDataFrame(
        [(1, "AUTO"), (2, "HOUSE"), (3, "AUTO")], "id int, seg string"
    )
    # override: force minhash on a low-cardinality column
    tv = TableVectorizer(
        cardinality_threshold=10,
        specific_transformers={"seg": MinHashEncoder("seg", n_components=4)},
    )
    out = tv.fit(df).transform(df)
    assert "seg_0" in out.columns and "seg_AUTO" not in out.columns


def test_table_vectorizer_threshold_from_config(spark):
    """Without ``cardinality_threshold`` the routing reads the
    config's; keys the library does not read are rejected."""
    from skrub_spark import config_context, set_config

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "a")], "id int, seg string"
    )
    one_hot = {"seg_a", "seg_b", "seg_c"}
    assert one_hot <= set(TableVectorizer().fit(df).transform(df).columns)
    with config_context(cardinality_threshold=2):
        cols = set(TableVectorizer().fit(df).transform(df).columns)
    assert not one_hot & cols and "seg_0" in cols
    for key in ("broadcast_threshold", "shuffle_partitions"):
        with pytest.raises(ValueError, match="unknown config key"):
            set_config(**{key: 1})


@pytest.mark.parametrize("clean", [True, False])
def test_table_vectorizer_fit_jobs_flat_in_one_hot_columns(spark, clean, count_jobs):
    """Every one-hot vocabulary comes from one agg: the fit's job count
    must not grow with the number of one-hot columns."""
    rows = [(i, *[f"v{(i + k) % 3}" for k in range(6)]) for i in range(30)]
    df = spark.createDataFrame(
        rows, "id int, " + ", ".join(f"s{k} string" for k in range(6))
    )
    _, one = count_jobs(
        f"tv1_{clean}", lambda: TableVectorizer(clean=clean).fit(df.select("id", "s0"))
    )
    _, six = count_jobs(f"tv6_{clean}", lambda: TableVectorizer(clean=clean).fit(df))
    assert six <= one, f"{six} fit jobs for 6 one-hot columns vs {one} for 1"


@pytest.mark.parametrize("clean", [True, False])
def test_table_vectorizer_vocabulary_matches_distinct_order_by(spark, clean):
    """Vocabularies and feature names equal the per-column
    ``distinct().orderBy()`` reference: nulls dropped, binary order over
    mixed case and non-ASCII values."""
    u = ["b", "B", "a", None, "é", "Z", "ä", "a b", "日本", "b", None, "Z"]
    w = ["x", None, "X", "ß", "y", "x", "Ω", "y", "x", None, "ß", "X"]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(zip(u, w))],
        "id int, u string, w string",
    )
    tv = TableVectorizer(clean=clean).fit(df)
    names = tv.get_feature_names_out()
    for c in ("u", "w"):
        ref = [
            r[0]
            for r in df.select(c).distinct().orderBy(c).collect()
            if r[0] is not None
        ]
        assert tv._low_card[c] == ref
        assert [n for n in names if n.startswith(f"{c}_")] == [
            f"{c}_{_safe(v)}" for v in ref
        ]


def _one_hot_columns(c, vals):
    """The Column-built one-hot form the SQL text must reproduce
    (``F.col`` reads its argument as an attribute path, so a name with
    a backtick must be passed quoted)."""
    return [
        (F.col(sql_ident(c)) == F.lit(v)).cast("double").alias(f"{c}_{_safe(v)}")
        for v in vals
    ]


def test_one_hot_sql_matches_column_built(spark):
    """The one-hot columns parsed from SQL text equal the Column-built
    form in names, types and values, for values with a quote, a
    backslash, non-ASCII and the empty string, and for column names
    with a space and a backtick."""
    vals = ["it's", "back\\slash", "naïve ☃", "", "a'\\'b"]
    rows = [(i, v) for i, v in enumerate(vals + [None, "other"])]
    for c in ("a b`c", "seg"):
        df = spark.createDataFrame(rows, f"id int, {sql_ident(c)} string")
        got = df.select("id", *[_one_hot(c, v) for v in vals]).orderBy("id")
        ref = df.select("id", *_one_hot_columns(c, vals)).orderBy("id")
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()
    # through the estimator: the fitted vocabulary keeps every value
    df = spark.createDataFrame(rows, "id int, `a b` string")
    tv = TableVectorizer(clean=False).fit(df)
    assert tv._low_card["a b"] == sorted(vals + ["other"])
    got = tv.transform(df).orderBy("id")
    ref = df.select("id", *_one_hot_columns("a b", tv._low_card["a b"]))
    assert got.schema == ref.schema
    assert got.collect() == ref.orderBy("id").collect()
