"""Tests for DataOps-lite, report, interpolation join, streaming,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skrub_spark import (
    ParamSearch,
    TableReport,
    choose_from,
    column_associations,
    deferred,
    interpolation_join,
    var,
)


def test_dataops_eval(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0), (1, 30.0)], "k int, v double")
    orders = var("orders")
    plan = orders.filter("v > 15").groupBy("k").count()
    out = plan.skb.eval({"orders": df})
    assert {(r["k"], r["count"]) for r in out.collect()} == {(2, 1), (1, 1)}


def test_dataops_deferred_and_choice(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "k int, v double")
    thresh = choose_from([2.0, 5.0], name="thresh")

    @deferred
    def above(d, t):
        return d.filter(F.col("v") >= t)

    plan = above(var("data"), thresh)
    # default = first outcome
    assert plan.skb.eval({"data": df}).count() == 8
    assert plan.skb.eval({"data": df}, {"thresh": 5.0}).count() == 5

    search = ParamSearch(plan.count(), scorer=lambda n: -n).fit({"data": df})
    assert search.best_params_ == {"thresh": 5.0}


def test_dataops_draw_graph_and_full_report(spark):
    """DOT export + structured report of the plan DAG (reference
    skrub/_data_ops/_inspection.py): every node appears once (shared
    subplans are memoized), edges follow data dependencies, vars and
    choices are listed."""
    thresh = choose_from([15.0, 25.0], name="thresh")

    @deferred
    def above(d, t):
        return d.filter(F.col("v") >= t)

    orders = var("orders")
    filtered = above(orders, thresh)
    # orders consumed TWICE (join back) — must appear once in the DAG
    plan = filtered.join(orders.select("k"), "k")

    dot = plan.skb.draw_graph()
    assert dot.startswith("digraph")
    assert dot.count('var(\'orders\')') + dot.count('var("orders")') == 1
    assert "call:above" in dot and "method:join" in dot
    assert "->" in dot

    rep = plan.skb.full_report()
    assert rep["vars"] == ["orders"]
    assert [c["name"] for c in rep["choices"]] == ["thresh"]
    kinds = [n["kind"] for n in rep["nodes"]]
    assert kinds.count("var") == 1
    # dependency-first order: the var precedes its consumers
    labels = [n["label"] for n in rep["nodes"]]
    assert labels.index("var('orders')") < labels.index("method:join")
    join_node = next(n for n in rep["nodes"] if n["label"] == "method:join")
    assert join_node["n_inputs"] == 2
    # the report is JSON-able
    import json

    json.dumps(rep)
    # and the plan still evaluates
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    assert plan.skb.eval({"orders": df}).count() == 2


def test_dataops_missing_var(spark):
    plan = var("nope").count()
    with pytest.raises(KeyError, match="nope"):
        plan.skb.eval({})


def test_table_report(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None)], "id int, s string, v double"
    )
    rep = TableReport(df).summary()
    assert rep["n_rows"] == 2
    assert rep["columns"]["v"]["null_count"] == 1
    assert rep["columns"]["s"]["top_values"][0] == {"value": "a", "count": 2}
    assert rep["columns"]["id"]["min"] == 1


@pytest.mark.parametrize("n_top", [2, 3, 15])
def test_table_report_top_values_and_bins(spark, n_top):
    """Top values rank by count desc, then value with null first (ties
    included); every histogram bin survives an n_top_values below or
    above the bin count."""
    cats = ["b"] * 3 + ["a"] * 3 + [None] * 3 + ["c"] * 2 + ["d"]
    rows = [(c, float(i) if i % 4 else None) for i, c in enumerate(cats * 5)]
    df = spark.createDataFrame(rows, "s string, x double")
    rep = TableReport(df, n_top_values=n_top).summary()
    ref = (
        df.groupBy("s")
        .count()
        .orderBy(F.col("count").desc(), F.col("s").asc())
        .limit(n_top)
        .collect()
    )
    assert rep["columns"]["s"]["top_values"] == [
        {"value": r["s"], "count": r["count"]} for r in ref
    ]
    assert rep["columns"]["s"]["top_values"][:2] == [
        {"value": None, "count": 15},
        {"value": "a", "count": 15},
    ]
    xs = [x for _, x in rows if x is not None]
    lo, w = min(xs), (max(xs) - min(xs)) / 10
    want = [0] * 10
    for x in xs:
        want[min(int((x - lo) // w), 9)] += 1
    hist = rep["columns"]["x"]["histogram"]
    assert [h["count"] for h in hist] == want
    assert all(want)


def test_table_report_cell_pass_plans_group_limit(spark, monkeypatch):
    """The single ``rk <= K`` filter plans a partial top-K
    (WindowGroupLimit) ahead of the exchange."""
    df = spark.createDataFrame(
        [(i, f"v{i % 7}") for i in range(50)], "x int, s string"
    )
    plans = []
    collect = type(df).collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(type(df), "collect", recording_collect)
    TableReport(df).summary()
    assert any("WindowGroupLimit" in p for p in plans), plans


def test_column_associations(spark):
    # y is a deterministic function of x -> V = 1; z independent-ish
    rows = [(i % 3, (i % 3) * 10, i % 2) for i in range(60)]
    df = spark.createDataFrame(rows, "x int, y int, z int")
    out = {
        (r["left_column_name"], r["right_column_name"]): r["cramer_v"]
        for r in column_associations(df).collect()
    }
    assert out[("x", "y")] == pytest.approx(1.0)
    assert out[("x", "z")] < 0.3


def test_interpolation_join(spark):
    main = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id int, key double")
    aux = spark.createDataFrame(
        [(1, 4.0, 100.0), (2, 6.0, 200.0), (3, 49.0, 1000.0), (4, 51.0, 2000.0)],
        "aid int, key2 double, val double",
    )
    out = interpolation_join(
        main, aux, main_key="key", aux_key="key2", targets=["val"], k=2,
        tiebreak="aid",
    )
    rows = {r["id"]: r["val"] for r in out.collect()}
    assert rows[1] == 150.0  # mean of 100, 200
    assert rows[2] == 1500.0


def test_interpolation_join_classification(spark):
    """String targets under model='gbt'/'linear' fit a classifier
    (reference defaults to HistGradientBoostingClassifier for
    categorical targets) and predictions come back as the original
    label strings, matching kNN-mode categorical semantics on a
    cleanly-separable key space."""
    main = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate([1.0, 2.0, 3.0, 41.0, 42.0])],
        "id int, key double",
    )
    aux_rows = [(i, float(i % 5), "low") for i in range(20)] + [
        (i + 20, 40.0 + float(i % 5), "high") for i in range(20)
    ]
    aux = spark.createDataFrame(aux_rows, "aid int, key2 double, label string")
    for model in ("gbt", "linear"):
        out = interpolation_join(
            main, aux, main_key="key", aux_key="key2",
            targets=["label"], model=model, suffix="_pred",
        )
        got = {r["id"]: r["label_pred"] for r in out.collect()}
        assert got == {0: "low", 1: "low", 2: "low", 3: "high", 4: "high"}, model
    # kNN mode agrees on the same data (mode aggregation)
    knn = interpolation_join(
        main, aux, main_key="key", aux_key="key2",
        targets=["label"], model="knn", k=3, tiebreak="aid", suffix="_pred",
    )
    got = {r["id"]: r["label_pred"] for r in knn.collect()}
    assert got == {0: "low", 1: "low", 2: "low", 3: "high", 4: "high"}


def test_interpolation_join_classification_multiclass(spark):
    """3+ classes route gbt to the multiclass tree ensemble (MLlib
    GBTClassifier is binary-only) — still returns label strings."""
    main = spark.createDataFrame(
        [(0, 1.0), (1, 11.0), (2, 21.0)], "id int, key double"
    )
    aux_rows = (
        [(i, float(i % 4), "a") for i in range(12)]
        + [(i + 12, 10.0 + float(i % 4), "b") for i in range(12)]
        + [(i + 24, 20.0 + float(i % 4), "c") for i in range(12)]
    )
    aux = spark.createDataFrame(aux_rows, "aid int, key2 double, label string")
    out = interpolation_join(
        main, aux, main_key="key", aux_key="key2",
        targets=["label"], model="gbt", suffix="_pred",
    )
    got = {r["id"]: r["label_pred"] for r in out.collect()}
    assert got == {0: "a", 1: "b", 2: "c"}


def test_streaming_session_windows(spark, tmp_path):
    from skrub_spark.streaming import streaming_session_counts

    src = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 1.0),
            (1, "2024-01-01 02:00:00", 1.0),
            (2, "2024-01-01 00:00:00", 1.0),
        ],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events_stream")
    src.write.parquet(path)
    q = streaming_session_counts(
        spark, path, src.schema, gap="30 minutes", query_name="test_sessions"
    )
    q.awaitTermination(60)
    out = spark.sql("select * from test_sessions").collect()
    per_user = {}
    for r in out:
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    assert per_user == {1: 2, 2: 1}  # user 1 has two sessions


def test_streaming_windowed_counts(spark, tmp_path):
    from skrub_spark.streaming import stream_from_parquet_dir, windowed_event_counts

    src = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", "click", 1.0),
            (2, "2024-01-01 00:20:00", "click", 2.0),
            (3, "2024-01-01 01:05:00", "view", 3.0),
        ],
        "event_id int, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "wstream")
    src.write.parquet(path)
    stream = stream_from_parquet_dir(spark, path, src.schema)
    assert stream.isStreaming
    counts = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    # complete mode: append would hold rows until the watermark passes
    # each window end, which never happens within one availableNow run
    q = (
        counts.writeStream.format("memory")
        .queryName("test_wcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select * from test_wcounts").collect()
    got = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["value_sum"]) for r in rows}
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 01:00:00", "view")] == (1, 3.0)


def test_interpolation_join_string_key(spark):
    from skrub_spark import interpolation_join

    main = spark.createDataFrame([(1, "red"), (2, "blue")], "id int, color string")
    aux = spark.createDataFrame(
        [(1, "red", 10.0), (2, "red", 20.0), (3, "blue", 100.0), (4, "green", 7.0)],
        "aid int, color2 string, val double",
    )
    out = interpolation_join(
        main, aux, main_key="color", aux_key="color2", targets=["val"], k=2,
        tiebreak="aid",
    )
    rows = {r["id"]: r["val"] for r in out.collect()}
    assert rows[1] == 15.0  # both reds
    # blue: exact match (100, d=0) + tie at d=1 broken by aid=1 (red, 10)
    assert rows[2] == 55.0


def test_cross_validate(spark):
    from skrub_spark import cross_validate

    df = spark.createDataFrame([(i, float(i % 10)) for i in range(200)], "id int, v double")

    def plan(train, test):
        # "model" = train mean; score = negative |error| on test mean
        m = train.agg(F.avg("v")).first()[0]
        t = test.agg(F.avg("v")).first()[0]
        return -abs(m - t)

    scores = cross_validate(plan, df, k=3)
    assert len(scores) == 3
    assert all(s <= 0 for s in scores)
    assert all(s > -2.0 for s in scores)  # folds are similar


def test_interpolation_join_shared_key_name(spark):
    """Regression (ADVICE r1): main_key == aux_key column name used to
    raise AMBIGUOUS_REFERENCE; aux-side columns are now aliased."""
    from skrub_spark import interpolation_join

    main = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id int, lat double")
    aux = spark.createDataFrame(
        [(1, 4.0, 100.0), (2, 6.0, 200.0), (3, 49.0, 1000.0), (4, 51.0, 2000.0)],
        "aid int, lat double, val double",
    )
    out = interpolation_join(
        main, aux, main_key="lat", aux_key="lat", targets=["val"], k=2,
        tiebreak="aid",
    )
    rows = {r["id"]: r["val"] for r in out.collect()}
    assert rows[1] == 150.0 and rows[2] == 1500.0


def test_interpolation_join_null_aux_key(spark):
    """Null-key aux rows must not win (asc_nulls_last ordering)."""
    from skrub_spark import interpolation_join

    main = spark.createDataFrame([(1, 5.0)], "id int, key double")
    aux = spark.createDataFrame(
        [(1, None, 9999.0), (2, 5.0, 10.0)],
        "aid int, key2 double, val double",
    )
    out = interpolation_join(
        main, aux, main_key="key", aux_key="key2", targets=["val"], k=1,
        tiebreak="aid",
    )
    assert out.first()["val"] == 10.0


def test_skrub_learner_fit_transform_split(spark):
    """Reference parity (_data_ops eval modes): a transformer applied
    inside a plan is FIT on the train env and FROZEN on the test env —
    the test frame must come out with the TRAIN vocabulary."""
    from skrub_spark import NotFittedError, SkrubLearner, var
    from skrub_spark.table_vectorizer import TableVectorizer

    train = spark.createDataFrame(
        [(1, "BUILDING"), (2, "AUTOMOBILE"), (3, "BUILDING")], "id int, seg string"
    )
    test = spark.createDataFrame(
        [(4, "MACHINERY"), (5, "BUILDING")], "id int, seg string"
    )
    plan = var("X").skb.apply(TableVectorizer(cardinality_threshold=10))
    learner = SkrubLearner(plan)

    with pytest.raises(NotFittedError):
        learner.transform({"X": test})

    out_train = learner.fit_transform({"X": train})
    out_test = learner.transform({"X": test})
    # same (train-derived) columns on both frames
    assert out_test.columns == out_train.columns
    assert any("BUILDING" in c for c in out_test.columns)
    # MACHINERY was never seen at fit: no column for it, its row is
    # all-zero across the one-hot block
    assert not any("MACHINERY" in c for c in out_test.columns)
    seg_cols = [c for c in out_test.columns if c.startswith("seg_")]
    row4 = out_test.filter("id = 4").first()
    assert all(row4[c] == 0.0 for c in seg_cols)


def test_dataops_subsample_preview_only(spark):
    from skrub_spark import var

    df = spark.createDataFrame([(i,) for i in range(100)], "id int")
    plan = var("X").skb.subsample(n=10)
    assert plan.skb.eval({"X": df}).count() == 100          # identity in fit
    assert plan.skb.preview({"X": df}).count() == 10         # active in preview
    assert plan.skb.eval({"X": df}, keep_subsampling=True).count() == 10
    rnd = var("X").skb.subsample(n=10, how="random")
    assert rnd.skb.preview({"X": df}).count() <= 10


def test_cross_validate_plan_no_test_refit(spark):
    """DataOp-plan cross_validate must fit each fold's transformers on
    the train split only (frozen on test)."""
    from skrub_spark import cross_validate, var
    from skrub_spark.encoders.squashing_scaler import SquashingScaler

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(90)], "id int, v double"
    )
    plan = var("X").skb.apply(SquashingScaler(cols=["v"]))
    outs = cross_validate(plan, df, k=3)
    assert len(outs) == 3
    for o in outs:
        assert "v" in o.columns and o.count() > 0


def test_dataops_shared_node_fits_once(spark):
    """A subplan referenced by two branches evaluates once per eval
    (memoized), so its apply node fits a single transformer."""
    from skrub_spark import SkrubLearner, var
    from skrub_spark.encoders.squashing_scaler import SquashingScaler

    df = spark.createDataFrame([(1, 2.0), (2, 4.0)], "id int, v double")
    scaled = var("X").skb.apply(SquashingScaler(cols=["v"]))
    plan = scaled.join(scaled.select("id"), on="id")
    learner = SkrubLearner(plan).fit({"X": df})
    assert len(learner.state_) == 1
    assert learner.transform({"X": df}).count() == 2


def test_interpolation_join_learned_models(spark):
    """model='linear' recovers an exact linear relation; model='gbt'
    fits a nonlinear one better than the k=1-ish mean on sparse keys."""
    from skrub_spark import interpolation_join

    aux = spark.createDataFrame(
        [(i, float(i), 3.0 * i + 1.0) for i in range(50)],
        "aid int, key2 double, val double",
    )
    main = spark.createDataFrame(
        [(1, 10.5), (2, 20.5)], "id int, key double"
    )
    lin = interpolation_join(
        main, aux, main_key="key", aux_key="key2", targets=["val"],
        model="linear", suffix="_hat",
    )
    rows = {r["id"]: r["val_hat"] for r in lin.collect()}
    assert rows[1] == pytest.approx(3.0 * 10.5 + 1.0, abs=1e-6)
    assert rows[2] == pytest.approx(3.0 * 20.5 + 1.0, abs=1e-6)

    # nonlinear target (parabola): GBT must beat the linear fit
    aux_nl = spark.createDataFrame(
        [(i, float(i), float((i - 50) ** 2)) for i in range(100)],
        "aid int, key2 double, val double",
    )
    probes = spark.createDataFrame(
        [(1, 10.5), (2, 50.5), (3, 90.5)], "id int, key double"
    )
    truth = {1: (10.5 - 50) ** 2, 2: (50.5 - 50) ** 2, 3: (90.5 - 50) ** 2}

    def mae(model):
        out = interpolation_join(
            probes, aux_nl, main_key="key", aux_key="key2", targets=["val"],
            model=model, suffix="_hat",
        )
        vals = {r["id"]: r["val_hat"] for r in out.collect()}
        return sum(abs(vals[i] - truth[i]) for i in truth) / len(truth)

    assert mae("gbt") < mae("linear")

    with pytest.raises(ValueError, match="numeric key"):
        interpolation_join(
            spark.createDataFrame([("a",)], "k string"),
            spark.createDataFrame([("a", 1.0)], "k2 string, val double"),
            main_key="k", aux_key="k2", targets=["val"], model="gbt",
        )


def test_table_report_html_and_histograms(spark, tmp_path):
    """HTML report is self-contained; numeric histograms come from ONE
    exploded pass; string cards carry top values; associations render."""
    rows = [(i, float(i % 20), ["a", "b", "c"][i % 3]) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, x double, cat string")
    rep = TableReport(df, title="t&c")
    s = rep.summary()
    assert "histogram" in s["columns"]["x"]
    assert sum(h["count"] for h in s["columns"]["x"]["histogram"]) == 200
    assert s["columns"]["x"]["quantiles"]["50%"] is not None
    assert s["columns"]["cat"]["top_values"][0]["count"] >= 66

    html = rep.to_html()
    assert html.startswith("<!DOCTYPE html>")
    assert "t&amp;c" in html            # escaping
    assert "Cram" in html               # associations section
    assert html.count("class='card'") == 3
    (tmp_path / "r.html").write_text(html)


def test_streaming_dedup_cross_batch_state(spark, tmp_path):
    """applyInPandasWithState keeps per-key state ACROSS micro-batches:
    with maxFilesPerTrigger=1, a key already emitted in batch 1 must
    not be emitted again from batch 2."""
    from skrub_spark.streaming import streaming_dedup

    d = tmp_path / "in"
    d.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id bigint, k string"
    ).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(
        [(4, "a"), (5, "c")], "id bigint, k string"
    ).coalesce(1).write.parquet(str(d / "f2"))

    stream = (
        spark.readStream.schema("id bigint, k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d / "*"))
    )
    q = (
        streaming_dedup(stream, ["k"], "id")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["id"], r["k"]) for r in spark.table("dedup_test").collect()}
    # 'a' emitted once (min id of its first batch), 'b' once, 'c' once
    assert ("b" in {k for _, k in rows}) and ("c" in {k for _, k in rows})
    a_rows = [i for i, k in rows if k == "a"]
    assert len(a_rows) == 1
    assert len(rows) == 3


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static broadcast join: facts stream in, dim is static."""
    import datetime as dt

    from skrub_spark.streaming import stream_static_enrich

    d = tmp_path / "facts"
    d.mkdir()
    spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1)), (2, "b", dt.datetime(2024, 1, 1))],
        "id bigint, k string, ts timestamp",
    ).coalesce(1).write.parquet(str(d / "f1"))
    dim = spark.createDataFrame([("a", "Alpha"), ("b", "Beta")], "k string, label string")

    stream = spark.readStream.schema("id bigint, k string, ts timestamp").parquet(
        str(d / "*")
    )
    q = (
        stream_static_enrich(stream, dim, on="k")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["id"], r["label"]) for r in spark.table("enrich_test").collect()}
    assert rows == {(1, "Alpha"), (2, "Beta")}


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with watermarks: only right rows within the
    interval of a left row on the same key come through; state stays
    bounded (both sides watermarked)."""
    import datetime as dt

    from skrub_spark.streaming import stream_stream_interval_join

    base = dt.datetime(2024, 1, 1, 12, 0)
    ld = tmp_path / "l"
    rd = tmp_path / "r"
    ld.mkdir(); rd.mkdir()
    spark.createDataFrame(
        [("u1", base), ("u2", base)], "user string, ts timestamp"
    ).coalesce(1).write.parquet(str(ld / "f"))
    spark.createDataFrame(
        [
            ("u1", base + dt.timedelta(minutes=30), "near"),
            ("u1", base + dt.timedelta(hours=5), "far"),
            ("u3", base, "otherkey"),
        ],
        "user string, ts timestamp, tag string",
    ).coalesce(1).write.parquet(str(rd / "f"))

    ls = spark.readStream.schema("user string, ts timestamp").parquet(str(ld / "*"))
    rs = spark.readStream.schema("user string, ts timestamp, tag string").parquet(
        str(rd / "*")
    )
    out = stream_stream_interval_join(ls, rs, key="user", interval="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["user"], r["tag"]) for r in spark.table("ssj_test").collect()}
    assert rows == {("u1", "near")}


def test_real_bmp_decode_roundtrip(spark):
    """decode_images REALLY decodes 24-bit BMP: the
    pixel stats match the source array exactly; junk payloads get
    decode_ok=False instead of crashing the job."""
    import numpy as np

    from skrub_spark.multimodal import decode_bmp, decode_images, encode_bmp

    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # odd width: padding
    payload = encode_bmp(px)
    assert np.array_equal(decode_bmp(payload), px)

    df = spark.createDataFrame(
        [(1, bytearray(payload), "image/bmp", 7, 5),
         (2, bytearray(b"not a bmp"), "image/bmp", 0, 0)],
        "id int, payload binary, mime string, width int, height int",
    )
    rows = {r["id"]: r for r in decode_images(df).collect()}
    assert rows[1]["decode_ok"] and not rows[2]["decode_ok"]
    assert rows[1]["px_mean"] == pytest.approx(float(px.mean()))
    assert rows[1]["px_std"] == pytest.approx(float(px.std()))
    assert rows[2]["px_mean"] is None


def test_real_wav_decode(spark):
    """decode_audio REALLY decodes PCM-16 WAV (stdlib wave): duration
    / RMS / peak come from the actual samples."""
    import io
    import wave

    import numpy as np

    from skrub_spark.multimodal import decode_audio

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    samples = (np.sin(2 * np.pi * 440 * t) * 16384).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.tobytes())
    payload = buf.getvalue()

    df = spark.createDataFrame(
        [(1, bytearray(payload), "audio/wav", rate),
         (2, bytearray(b"mp3junk"), "audio/mpeg", 0)],
        "id int, payload binary, mime string, sample_rate int",
    )
    rows = {r["id"]: r for r in decode_audio(df).collect()}
    assert rows[1]["decode_ok"] and not rows[2]["decode_ok"]
    assert rows[1]["duration_s"] == pytest.approx(1.0)
    x = samples.astype("float64") / 32768.0
    assert rows[1]["rms"] == pytest.approx(float(np.sqrt((x * x).mean())), rel=1e-9)
    assert rows[1]["peak"] == pytest.approx(float(np.abs(x).max()), rel=1e-9)


def test_eval_mode_dataop(spark):
    """eval_mode() evaluates to the current mode string (reference
    _data_ops.py:2060): 'preview' under .skb.preview(), then
    'fit_transform' / 'transform' through a learner."""
    from skrub_spark import SkrubLearner, eval_mode

    mode = eval_mode()
    assert mode.skb.preview() == "preview"
    assert mode.skb.eval({}) == "fit_transform"
    learner = SkrubLearner(mode).fit({})
    assert learner.transform({}) == "transform"


def test_randomized_param_search_halving(spark):
    from skrub_spark import RandomizedParamSearch
    from skrub_spark.plans.data_ops import choose_from, deferred, var

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k int, v double"
    )
    thresh = choose_from([1.0, 5.0, 10.0, 20.0, 30.0], name="thresh")

    @deferred
    def above(d, t):
        return d.filter(F.col("v") >= t)

    # scorer prefers the most aggressive filter -> best thresh is
    # the largest sampled value
    plan = above(var("data"), thresh).count()
    search = RandomizedParamSearch(
        plan, scorer=lambda n: -n, n_candidates=4, seed=1,
        subsample_var="data",
    ).fit({"data": df})
    sampled = {r["params"]["thresh"] for r in search.results_}
    assert search.best_params_["thresh"] == max(sampled)
    # the final row evaluates the winner on the FULL data
    assert search.results_[-1]["fraction"] == 1.0
    assert search.best_score_ == -df.filter(
        F.col("v") >= search.best_params_["thresh"]
    ).count()
    # candidates are distinct and within budget
    keys = {tuple(sorted(r["params"].items())) for r in search.results_}
    assert 1 < len(keys) <= 4
    # deterministic under re-run
    again = RandomizedParamSearch(
        plan, scorer=lambda n: -n, n_candidates=4, seed=1,
        subsample_var="data",
    ).fit({"data": df})
    assert again.best_params_ == search.best_params_


def test_randomized_param_search_no_choices(spark):
    from skrub_spark import RandomizedParamSearch
    from skrub_spark.plans.data_ops import var

    df = spark.createDataFrame([(1,), (2,)], "k int")
    s = RandomizedParamSearch(
        var("data").count(), scorer=lambda n: n
    ).fit({"data": df})
    assert s.best_params_ == {} and s.best_score_ == 2
