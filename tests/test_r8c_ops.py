"""Tests for the third-session round-8 additions (survival curves,
Gini concentration, Theil-Sen robust trend, skyline, A/B tests,
BFS distances, n-gram novelty, unpivot, RFM)."""

import pytest

from pyspark.sql import functions as F


# ----------------------------------------------------- Kaplan-Meier


def test_kaplan_meier_hand_computed(spark):
    from skrub_spark.report.survival import kaplan_meier

    # group a: 5 subjects — t=1 one event (S=4/5), t=2 one censored
    # (S unchanged, n_risk drops), t=3 two events of the 3 at risk
    # (S = 0.8 * 1/3).
    rows = [
        ("a", 1, 1),
        ("a", 2, 0),
        ("a", 3, 1),
        ("a", 3, 1),
        ("a", 4, 0),
    ]
    df = spark.createDataFrame(rows, "g string, t long, e int")
    out = {r["t"]: r for r in kaplan_meier(df, "g", "t", "e").collect()}
    assert out[1]["n_risk"] == 5 and out[1]["n_events"] == 1
    assert out[1]["survival"] == pytest.approx(0.8)
    assert out[2]["n_risk"] == 4 and out[2]["n_censored"] == 1
    assert out[2]["survival"] == pytest.approx(0.8)
    assert out[3]["n_risk"] == 3 and out[3]["n_events"] == 2
    assert out[3]["survival"] == pytest.approx(0.8 / 3.0, abs=1e-5)
    assert out[4]["n_risk"] == 1
    assert out[4]["survival"] == pytest.approx(0.8 / 3.0, abs=1e-5)


def test_kaplan_meier_wipeout_zeroes_curve(spark):
    from skrub_spark.report.survival import kaplan_meier

    # every subject events at t=1 (d == n_risk): S drops to exactly 0
    df = spark.createDataFrame(
        [("b", 1, 1), ("b", 1, 1), ("b", 1, 1)], "g string, t long, e int"
    )
    out = kaplan_meier(df, "g", "t", "e").collect()
    assert len(out) == 1
    assert out[0]["survival"] == 0.0


# ------------------------------------------------------------- Gini


def _gini_of(spark, vals):
    from skrub_spark.report.concentration import gini_concentration

    df = spark.createDataFrame(
        [("g", i, str(v)) for i, v in enumerate(vals)],
        "g string, id long, v string",
    ).select("g", "id", F.col("v").cast("decimal(12,2)").alias("v"))
    return gini_concentration(df, "g", "v", "id").collect()[0]


def test_gini_equal_values_is_zero(spark):
    r = _gini_of(spark, [10, 10, 10, 10])
    assert r["gini"] == 0.0
    assert r["total"] == 40.0


def test_gini_single_holder(spark):
    # all value in one hand: G = (n-1)/n
    r = _gini_of(spark, [0, 0, 0, 100])
    assert r["gini"] == pytest.approx(0.75)


def test_gini_known_example(spark):
    # values 1,2,3,4: G = (2*(1+4+9+16) - 5*10) / (4*10) = 10/40
    r = _gini_of(spark, [1, 2, 3, 4])
    assert r["gini"] == pytest.approx(0.25)


def test_gini_zero_total_null(spark):
    r = _gini_of(spark, [0, 0])
    assert r["gini"] is None


# -------------------------------------------------------- Theil-Sen


def test_theil_sen_robust_to_outlier(spark):
    from skrub_spark.report.trend import theil_sen

    # y = 2x except one corrupted point; OLS would tilt, the median
    # pairwise slope stays 2.
    pts = [(x, 2 * x) for x in range(10)]
    pts[5] = (5, 500)
    df = spark.createDataFrame(
        [("g", x, str(y)) for x, y in pts], "g string, x long, y string"
    ).select("g", "x", F.col("y").cast("decimal(12,2)").alias("y"))
    r = theil_sen(df, "g", "x", "y").collect()[0]
    assert r["n_points"] == 10
    assert r["n_pairs"] == 45
    assert r["slope"] == pytest.approx(2.0)


def test_theil_sen_single_point_null(spark):
    from skrub_spark.report.trend import theil_sen

    df = spark.createDataFrame(
        [("g", 1, 5.0)], "g string, x long, y double"
    )
    r = theil_sen(df, "g", "x", "y").collect()[0]
    assert r["n_pairs"] == 0 and r["slope"] is None


# ---------------------------------------------------------- skyline


def test_skyline2d_dominance_and_ties(spark):
    from skrub_spark.operators.skyline import skyline2d

    # minimize price, maximize size. (10,5) dominates (12,4) and
    # (10,4); (8,3) survives (cheaper); duplicate (10,5) both kept.
    rows = [
        (1, "g", 10, 5),
        (2, "g", 12, 4),   # dominated by 1
        (3, "g", 10, 4),   # dominated by 1 (same price, smaller)
        (4, "g", 8, 3),    # kept: strictly cheaper than all bigger
        (5, "g", 10, 5),   # duplicate of 1: kept (mutual non-dom)
        (6, "g", 15, 9),   # kept: biggest
        (7, "h", 99, 1),   # other group: alone, kept
    ]
    df = spark.createDataFrame(rows, "id long, g string, price long, size long")
    kept = sorted(
        r["id"] for r in skyline2d(df, "g", "price", "size").collect()
    )
    assert kept == [1, 4, 5, 6, 7]


def test_skyline2d_matches_bruteforce(spark):
    import random

    from skrub_spark.operators.skyline import skyline2d

    rng = random.Random(7)
    rows = [
        (i, "g", rng.randint(0, 20), rng.randint(0, 20))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, g string, a long, b long")
    kept = {r["id"] for r in skyline2d(df, "g", "a", "b").collect()}
    brute = {
        i
        for (i, _, a, b) in rows
        if not any(
            (qa <= a and qb >= b and (qa < a or qb > b))
            for (_, _, qa, qb) in rows
        )
    }
    assert kept == brute


# ----------------------------------------------------------- A/B test


def test_ab_proportion_test_hand_computed(spark):
    import math

    from skrub_spark.report.abtest import ab_proportion_test

    # A: 100 users 30 conv; B: 100 users 20 conv.
    rows = [("A", i, 1 if i < 30 else 0) for i in range(100)]
    rows += [("B", 1000 + i, 1 if i < 20 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "v string, u long, c int")
    r = ab_proportion_test(df, "u", "v", "c").collect()[0]
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) == (100, 30, 100, 20)
    pp = 50 / 200
    se = math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 100))
    assert r["z"] == pytest.approx((0.3 - 0.2) / se, abs=1e-6)
    assert r["chi2"] == pytest.approx(((0.3 - 0.2) / se) ** 2, abs=1e-5)
    assert r["lift"] == pytest.approx(0.5)


def test_ab_proportion_test_degenerate_null(spark):
    from skrub_spark.report.abtest import ab_proportion_test

    # nobody converts anywhere -> pooled rate 0 -> z NULL
    rows = [("A", 1, 0), ("A", 2, 0), ("B", 3, 0)]
    df = spark.createDataFrame(rows, "v string, u long, c int")
    r = ab_proportion_test(df, "u", "v", "c").collect()[0]
    assert r["z"] is None and r["chi2"] is None


# ------------------------------------------------------ BFS distances


def test_bfs_distances_path_graph(spark):
    from skrub_spark.operators.graph import bfs_distances

    # path 0-1-2-3-4-5 plus isolated island 8-9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (8, 9)],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    d = {r["node"]: r["dist"] for r in bfs_distances(
        edges, srcs, max_hops=3
    ).collect()}
    assert d == {0: 0, 1: 1, 2: 2, 3: 3}  # 4,5,8,9 out of reach


def test_bfs_distances_multi_source_min(spark):
    from skrub_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,), (4,)], "node long")
    d = {r["node"]: r["dist"] for r in bfs_distances(
        edges, srcs, max_hops=4
    ).collect()}
    # node 2 is 2 hops from both ends; 3 is 1 from landmark 4
    assert d == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_distances_directed(spark):
    from skrub_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (2, 1)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    d = {r["node"]: r["dist"] for r in bfs_distances(
        edges, srcs, max_hops=2, directed=True
    ).collect()}
    assert d == {0: 0, 1: 1}  # 2 unreachable along edge direction


# ------------------------------------------------------- EWMA smoothing


def test_ewma_smooth_matches_hand_sum(spark):
    from skrub_spark.operators.sequence import ewma_smooth

    ys = [10, 12, 9, 20, 14, 11]
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(ys)], "x long, y long"
    )
    out = {r["x"]: r for r in ewma_smooth(
        df, "x", "y", alpha=0.5, k=3
    ).collect()}
    ws = [round(0.5 * 0.5 ** i, 6) for i in range(3)]
    wsum = round(sum(ws), 6)
    # first k-1 rows: NULL (no full window)
    assert out[0]["ewma"] is None and out[1]["ewma"] is None
    for t in range(2, 6):
        expect = round(
            (ws[0] * ys[t] + ws[1] * ys[t - 1] + ws[2] * ys[t - 2])
            / wsum,
            6,
        )
        assert out[t]["ewma"] == pytest.approx(expect, abs=2e-6)
        assert out[t]["resid"] == pytest.approx(
            ys[t] - expect, abs=2e-6
        )


# ------------------------------------------------------- spatial join


def test_grid_distance_join_boundary_and_cross_cell(spark):
    from skrub_spark.operators.spatial import grid_distance_join

    # radius 10: pair at exact distance 10 kept, 11 dropped; the
    # (9,0)-(19,0) pair spans adjacent cells and must still match.
    left = spark.createDataFrame(
        [(1, 0, 0), (2, 9, 0), (3, 100, 100)], "id long, x long, y long"
    )
    right = spark.createDataFrame(
        [(10, 10, 0), (11, 0, 11), (12, 19, 0), (13, 107, 107)],
        "id long, x long, y long",
    )
    out = grid_distance_join(left, right, radius=10)
    pairs = sorted((r["id_l"], r["id_r"]) for r in out.collect())
    # 1-10: d=10 kept; 1-11: d=11 dropped; 2-10: d=1; 2-12: d=10
    # (cross-cell); 3-13: d2=98 <= 100
    assert pairs == [(1, 10), (2, 10), (2, 12), (3, 13)]


def test_grid_distance_join_matches_bruteforce(spark):
    import random

    from skrub_spark.operators.spatial import grid_distance_join

    rng = random.Random(11)
    L = [(i, rng.randint(-50, 50), rng.randint(-50, 50)) for i in range(60)]
    R = [(i, rng.randint(-50, 50), rng.randint(-50, 50)) for i in range(60)]
    ldf = spark.createDataFrame(L, "id long, x long, y long")
    rdf = spark.createDataFrame(R, "id long, x long, y long")
    out = grid_distance_join(ldf, rdf, radius=17)
    got = sorted((r["id_l"], r["id_r"]) for r in out.collect())
    want = sorted(
        (i, j)
        for (i, xl, yl) in L
        for (j, xr, yr) in R
        if (xl - xr) ** 2 + (yl - yr) ** 2 <= 17 * 17
    )
    assert got == want
    # each pair exactly once (no duplicate candidates)
    assert len(got) == len(set(got))


# ------------------------------------------------------ bitmap overlap


def test_audience_overlap_counts(spark):
    from skrub_spark.operators.bitmap import audience_overlap

    rows = (
        [("a", u) for u in [1, 2, 3, 64, 65]]
        + [("b", u) for u in [2, 3, 65, 200]]
        + [("c", u) for u in [500]]
        + [("a", 2)]  # duplicate membership must not double-count
    )
    df = spark.createDataFrame(rows, "seg string, uid long")
    out = {(r["segment_a"], r["segment_b"]): r for r in audience_overlap(
        df, "seg", "uid"
    ).collect()}
    ab = out[("a", "b")]
    assert (ab["n_a"], ab["n_b"], ab["n_overlap"]) == (5, 4, 3)
    assert ab["jaccard"] == pytest.approx(3 / 6)
    ac = out[("a", "c")]
    assert ac["n_overlap"] == 0 and ac["jaccard"] == 0.0
    assert ("b", "c") in out and len(out) == 3


# ----------------------------------------------------- co-occurrence


def test_item_cooccurrence_counts_and_cosine(spark):
    import math

    from skrub_spark.operators.association import item_cooccurrence

    rows = [
        (1, "x"), (1, "y"), (1, "z"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"), (3, "y"),  # repeat line: no double count
        (4, "z"),
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {(r["item_a"], r["item_b"]): r for r in item_cooccurrence(
        df, "b", "i", min_pair_count=2
    ).collect()}
    xy = out[("x", "y")]
    assert (xy["n_a"], xy["n_b"], xy["n_ab"]) == (3, 3, 3)
    assert xy["cosine"] == pytest.approx(3 / math.sqrt(9))
    # (x,z) co-occur once only -> filtered by min_pair_count=2
    assert ("x", "z") not in out and len(out) == 1


# -------------------------------------------------------- imputation


def test_impute_median_fills_from_group(spark):
    from skrub_spark.operators.impute import impute_median

    rows = [
        (1, "g", "10.00"),
        (2, "g", "20.00"),
        (3, "g", "30.00"),
        (4, "g", None),       # -> median 20.0
        (5, "h", None),       # all-NULL group -> stays NULL
    ]
    df = spark.createDataFrame(
        rows, "id long, g string, v string"
    ).select("id", "g", F.col("v").cast("decimal(12,2)").alias("v"))
    out = {r["id"]: r for r in impute_median(df, "g", "v", "id").collect()}
    assert out[4]["v_imputed"] == 20.0 and out[4]["v_was_imputed"]
    assert out[1]["v_imputed"] == 10.0 and not out[1]["v_was_imputed"]
    assert out[5]["v_imputed"] is None and not out[5]["v_was_imputed"]


def test_impute_median_even_group_lower_upper_mean(spark):
    from skrub_spark.operators.impute import impute_median

    rows = [(1, "g", 10.0), (2, "g", 20.0), (3, "g", None)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r["id"]: r for r in impute_median(df, "g", "v", "id").collect()}
    assert out[3]["v_imputed"] == pytest.approx(15.0)


# ----------------------------------------------------- hard negatives


def test_hard_negatives_excludes_same_label(spark):
    from skrub_spark.similarity.mining import hard_negatives

    # anchor 0 label A; same-label near-twin must NOT appear even
    # though it has the highest cosine.
    rows = [
        (0, [1.0, 0.0], "A"),
        (1, [0.99, 0.1], "A"),   # same label: excluded
        (2, [0.9, 0.3], "B"),
        (3, [0.5, 0.8], "B"),
        (4, [-1.0, 0.0], "C"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    anchors = spark.createDataFrame([(0,)], "vec_id long")
    out = hard_negatives(df, anchors, k=2).collect()
    got = [(r["rank"], r["neighbor_id"], r["neighbor_label"]) for r in out]
    assert got == [(1, 2, "B"), (2, 3, "B")]


# ------------------------------------------------- class rebalancing


def test_oversample_balance_exact_counts(spark):
    from skrub_spark.operators.sampling import oversample_balance

    rows = [(i, "big") for i in range(10)] + [(100, "small"), (101, "small"), (102, "small")]
    df = spark.createDataFrame(rows, "id long, lab string")
    out = oversample_balance(df, "lab", "id")
    per = {r["lab"]: r["n"] for r in out.groupBy("lab").count()
           .withColumnRenamed("count", "n").collect()}
    # both classes balanced to the majority count
    assert per == {"big": 10, "small": 10}
    # every original small row appears at least floor(10/3)=3 times
    small_counts = {
        r["id"]: r["n"]
        for r in out.filter(F.col("lab") == "small")
        .groupBy("id").count().withColumnRenamed("count", "n").collect()
    }
    assert sorted(small_counts.values()) == [3, 3, 4]


def test_oversample_balance_deterministic(spark):
    from skrub_spark.operators.sampling import oversample_balance

    rows = [(i, "a" if i % 3 else "b") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, lab string")
    a = sorted(map(tuple, oversample_balance(df, "lab", "id").collect()))
    b = sorted(map(tuple, oversample_balance(
        df.repartition(7), "lab", "id"
    ).collect()))
    assert a == b


# ------------------------------------------------------ group quantiles


def test_group_quantiles_selects_actual_values(spark):
    from skrub_spark.operators.winsorize import group_quantiles

    rows = [("g", float(v)) for v in range(1, 101)] + [("h", 5.0), ("h", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in group_quantiles(
        df, "g", "v", [0.5, 0.95], names=["p50", "p95"]
    ).collect()}
    # ceil(0.5*100)=50 -> value 50; ceil(0.95*100)=95 -> value 95
    assert out["g"]["n"] == 100
    assert out["g"]["p50"] == 50.0 and out["g"]["p95"] == 95.0
    # NULL excluded; single-value group returns it everywhere
    assert out["h"]["n"] == 1
    assert out["h"]["p50"] == 5.0 and out["h"]["p95"] == 5.0


# --------------------------------------------------------- join fanout


def test_join_fanout_report_exact_cardinality(spark):
    from skrub_spark.report.profiling import join_fanout_report

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,)], "k long"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (9,)], "k long"
    )
    out = join_fanout_report(left, right, "k", "k", top_k=5).collect()
    rows = {r["key"]: r for r in out}
    # key 1: 2*3=6; key 2: 1*1=1; key 3/9 one-sided -> absent
    assert rows[1]["fanout"] == 6 and rows[2]["fanout"] == 1
    assert 3 not in rows and 9 not in rows
    assert rows[1]["total_fanout"] == 7
    # equals the real join cardinality
    assert left.join(right, "k").count() == 7


# ----------------------------------------------------------- histogram


def test_histogram_report_dense_and_exact(spark):
    from skrub_spark.operators.winsorize import histogram_report

    df = spark.createDataFrame(
        [(v,) for v in [0, 0, 1, 5, 9, 9]], "v long"
    )
    out = sorted(
        histogram_report(df, "v", n_bins=5).collect(),
        key=lambda r: r["bin"],
    )
    assert len(out) == 5
    assert sum(r["cnt"] for r in out) == 6
    # width = 10, bins of 2: [0,1]=3, [2,3]=0, [4,5]=1, [8,9]=2
    assert out[0]["cnt"] == 3 and out[0]["lo_edge"] == 0
    assert out[1]["cnt"] == 0
    assert out[2]["cnt"] == 1
    assert out[4]["cnt"] == 2 and out[4]["hi_edge"] == 9
    # edges tile the domain with no gaps
    for a, b in zip(out, out[1:]):
        assert b["lo_edge"] == a["hi_edge"] + 1


# ---------------------------------------------------- interval merge


def test_interval_coverage_merges_islands(spark):
    from skrub_spark.operators.intervals import interval_coverage

    rows = [
        ("u", 0, 10),
        ("u", 5, 12),    # overlaps -> same island
        ("u", 12, 15),   # touches end-exclusive [12,15) -> merges
        ("u", 20, 25),   # gap -> new island
        ("u", 30, 30),   # zero length -> dropped
        ("v", 0, 1),
    ]
    df = spark.createDataFrame(rows, "e string, s long, t long")
    out = {r["entity"]: r for r in interval_coverage(
        df, "e", "s", "t"
    ).collect()}
    u = out["u"]
    assert u["n_intervals"] == 4
    assert u["n_islands"] == 2
    assert u["covered"] == 15 + 5  # [0,15) + [20,25)
    assert out["v"]["covered"] == 1


def test_interval_coverage_contained_interval(spark):
    from skrub_spark.operators.intervals import interval_coverage

    # second interval fully inside the first; the third starts
    # before the running max end even though it starts after the
    # SECOND's end — running-max (not lag) semantics
    rows = [("u", 0, 100), ("u", 10, 20), ("u", 30, 150)]
    df = spark.createDataFrame(rows, "e string, s long, t long")
    r = interval_coverage(df, "e", "s", "t").collect()[0]
    assert r["n_islands"] == 1 and r["covered"] == 150


# ------------------------------------------------------- attribution


def test_attribution_last_touch_picks_latest_in_window(spark):
    import datetime as dt

    from skrub_spark.operators.intervals import attribution_last_touch

    def ts(sec):
        return dt.datetime(2020, 1, 1, 0, 0, sec)

    rows = [
        ("u", ts(1), 1, "view"),
        ("u", ts(2), 2, "click"),
        ("u", ts(3), 3, "purchase"),   # -> click (id 2)
        ("u", ts(4), 4, "purchase"),   # -> click still (id 2)
        ("w", ts(5), 5, "purchase"),   # no touch -> NULLs
    ]
    df = spark.createDataFrame(
        rows, "u string, ts timestamp, id long, st string"
    )
    out = {r["conversion_id"]: r for r in attribution_last_touch(
        df, "u", "ts", "id", "st",
        conversion="purchase", lookback_us=10_000_000,
    ).collect()}
    assert out[3]["touch_id"] == 2 and out[3]["touch_state"] == "click"
    assert out[4]["touch_id"] == 2
    assert out[5]["touch_id"] is None and out[5]["touch_state"] is None


def test_attribution_lookback_expires(spark):
    import datetime as dt

    from skrub_spark.operators.intervals import attribution_last_touch

    rows = [
        ("u", dt.datetime(2020, 1, 1), 1, "click"),
        ("u", dt.datetime(2020, 3, 1), 2, "purchase"),  # click too old
    ]
    df = spark.createDataFrame(
        rows, "u string, ts timestamp, id long, st string"
    )
    r = attribution_last_touch(
        df, "u", "ts", "id", "st",
        conversion="purchase", lookback_us=86_400_000_000,
    ).collect()[0]
    assert r["touch_id"] is None


# ------------------------------------------------- truncation recall


def test_truncation_recall_full_prefix_is_one(spark):
    from skrub_spark.similarity.mining import truncation_recall

    # vectors where the first 2 dims already determine the ranking:
    # prefix recall at d=2 must be 1.0
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.5, 0.5, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r["recall"] for r in truncation_recall(
        df, [1.0, 0.0, 0.0], dims=[2, 3], k=2, exclude_id=0
    ).collect()}
    assert out[2] == 1.0 and out[3] == 1.0


def test_truncation_recall_detects_rank_flip(spark):
    from skrub_spark.similarity.mining import truncation_recall

    # at d=2 vector 2 is perfectly aligned with the query prefix,
    # but its huge third component makes it the full-width loser:
    # recall@1 at d=2 must be 0
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),     # full cosine winner
        (2, [0.99, 0.0, -5.0]),   # prefix winner, full loser
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r["recall"] for r in truncation_recall(
        df, [1.0, 0.0, 0.0], dims=[2], k=1, exclude_id=0
    ).collect()}
    assert out[2] == 0.0


# ----------------------------------------------------- token budget


def test_sample_token_budget_crossing_doc_included(spark):
    from skrub_spark.operators.sampling import sample_token_budget

    rows = [(i, "s", 600) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    out = sample_token_budget(
        df, "source", "doc_id", "n", budget=2000
    ).collect()
    # 600*3=1800 < 2000 -> fourth doc crosses and is included
    assert len(out) == 4
    assert sum(r["n"] for r in out) >= 2000
    assert max(r["cum_before"] for r in out) == 1800


def test_sample_token_budget_deterministic_and_small_group(spark):
    from skrub_spark.operators.sampling import sample_token_budget

    rows = [(i, "a" if i < 12 else "b", 100 + i) for i in range(15)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    a = sorted(map(tuple, sample_token_budget(
        df, "source", "doc_id", "n", budget=400
    ).collect()))
    b = sorted(map(tuple, sample_token_budget(
        df.repartition(5), "source", "doc_id", "n", budget=400
    ).collect()))
    assert a == b
    # group 'b' has only 3 docs (~340 total < budget): all kept
    assert sum(1 for r in a if r[1] == "b") == 3


# -------------------------------------------------- mergeable sketches


def test_sketch_merge_identity(spark):
    from skrub_spark.functions.sketches import (
        distinct_sketch, mergeable_distinct_sketches,
    )

    rows = [(i % 3, f"tok{i % 500}") for i in range(2000)]
    df = spark.createDataFrame(rows, "part int, v string")
    out = {r["part"]: r["distinct_est"] for r in
           mergeable_distinct_sketches(
               df, "v", "part", rate=8, salt="t"
           ).collect()}
    # merged estimate == one whole-corpus sketch with same salt/rate
    direct = distinct_sketch(
        df, "v", rate=8, salt="t", est_col="e"
    ).collect()[0]["e"]
    assert out["__ALL__"] == direct
    # per-part sketches see the same values -> same per-part ests
    assert set(out) == {"0", "1", "2", "__ALL__"} or set(out) == {0, 1, 2, "__ALL__"}


def test_calendar_dim_civil_fields(spark):
    import datetime as dt

    from skrub_spark.functions.datetime import calendar_dim

    df = spark.createDataFrame(
        [(dt.datetime(2020, 2, 27),), (dt.datetime(2020, 3, 2),)],
        "d timestamp",
    )
    out = {r["day"]: r for r in calendar_dim(df, "d").collect()}
    assert len(out) == 5  # feb 27 .. mar 2 (leap year)
    feb29 = [r for r in out.values() if r["month"] == 2 and r["dom"] == 29]
    assert len(feb29) == 1 and feb29[0]["is_month_end"]
    mar1 = [r for r in out.values() if r["month"] == 3 and r["dom"] == 1][0]
    assert mar1["is_month_start"] and mar1["quarter"] == 1
    # 2020-03-02 is a Monday -> dow 0
    assert out[max(out)]["dow"] == 0


# -------------------------------------------------------------- KWIC


def test_kwic_snippets_positions_and_edges(spark):
    from skrub_spark.functions.text import kwic_snippets

    df = spark.createDataFrame(
        [(1, "The cat sat on the mat"), (2, "no match here")],
        "doc_id long, text string",
    )
    out = sorted(
        kwic_snippets(df, "the", window=2).collect(),
        key=lambda r: r["pos"],
    )
    assert [(r["pos"], r["snippet"]) for r in out] == [
        (1, "the cat sat"),              # clipped at doc start
        (5, "sat on the mat"),           # clipped at doc end
    ]
    assert all(r["doc_id"] == 1 for r in out)


# --------------------------------------------------------- IQR fences


def test_iqr_outliers_flags_tukey(spark):
    from skrub_spark.report.outliers import iqr_outliers

    vals = [10, 12, 14, 16, 18, 20, 100]
    df = spark.createDataFrame(
        [(i, "g", str(v)) for i, v in enumerate(vals)],
        "id long, g string, v string",
    ).select("id", "g", F.col("v").cast("decimal(12,2)").alias("v"))
    out = {float(r["value"]): r["is_outlier"] for r in iqr_outliers(
        df, "g", "v", "id"
    ).collect()}
    # p25 = ceil(0.25*7)=2nd value = 12; p75 = ceil(.75*7)=6th = 20
    # fences: [12-1.5*8, 20+1.5*8] = [0, 32] -> only 100 flagged
    assert out[100.0] is True
    assert sum(out.values()) == 1


# -------------------------------------------------------------- TWAP


def test_twap_daily_weights_by_holding_time(spark):
    import datetime as dt

    from skrub_spark.operators.sequence import twap_daily

    day = dt.datetime(2020, 1, 1)
    rows = [
        ("u", day, 1, 10.0),                               # holds 6h
        ("u", day + dt.timedelta(hours=6), 2, 20.0),       # holds 18h
    ]
    df = spark.createDataFrame(
        rows, "u string, ts timestamp, id long, v double"
    )
    r = twap_daily(df, "u", "ts", "v", "id").collect()[0]
    # 10*(6/24) + 20*(18/24) = 17.5 ; plain mean would say 15
    assert r["n_obs"] == 2
    assert r["twap"] == pytest.approx(17.5)


# ---------------------------------------------------------- top paths


def test_top_paths_shapes(spark):
    from skrub_spark.queries import q_top_paths

    out = q_top_paths(spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(out) <= 20
    # descending counts with deterministic tie order
    ns = [r["n"] for r in out]
    assert ns == sorted(ns, reverse=True)


# ---------------------------------------------------------- LTV curve


def test_ltv_curve_monotone_cumulative(spark):
    from skrub_spark.queries import q_ltv_curve

    rows = q_ltv_curve(spark, "/root/testdata/sf0.001").collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort"], []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["age"])
        cum = [r["cum_rev"] for r in rs]
        assert cum == sorted(cum)  # cumulative revenue never drops
        assert abs(cum[0] - rs[0]["rev"]) < 1e-6
        for r in rs:
            assert r["ltv_per_user"] <= r["cum_rev"] + 1e-9


def test_dup_cluster_report_accounts_all_dups(spark):
    from skrub_spark.queries import (
        q_dup_cluster_report, q_minhash_canonical,
    )

    sf = "/root/testdata/sf0.001"
    rep = q_dup_cluster_report(spark, sf).collect()
    n_docs = sum(r["n_docs"] for r in rep)
    assert n_docs == q_minhash_canonical(spark, sf).count()
    for r in rep:
        assert r["cluster_size"] >= 2  # singletons are not clusters
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]


# ------------------------------------------------- weighted distances


def test_weighted_distances_prefers_cheap_path(spark):
    from skrub_spark.operators.graph import weighted_distances

    # 0-1 costs 10 direct, but 0-2-1 costs 2+3=5: Bellman-Ford
    # must find the cheaper 2-hop route within 2 rounds
    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 2), (2, 1, 3), (1, 3, 1)],
        "src long, dst long, w long",
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    d = {r["node"]: r["dist"] for r in weighted_distances(
        edges, srcs, n_rounds=3
    ).collect()}
    assert d == {0: 0, 2: 2, 1: 5, 3: 6}


def test_weighted_distances_round_bound(spark):
    from skrub_spark.operators.graph import weighted_distances

    # path 0-1-2-3: with 2 rounds node 3 is unreached
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1)], "src long, dst long, w long"
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    d = {r["node"]: r["dist"] for r in weighted_distances(
        edges, srcs, n_rounds=2
    ).collect()}
    assert d == {0: 0, 1: 1, 2: 2}
