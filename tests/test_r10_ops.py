"""Round-10 contracts: ADVICE-r9 fixes + new round-10 operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------- ADVICE r9: sorted_neighborhood schema
def test_sorted_neighborhood_empty_string_ids_schema(spark):
    from skrub_spark.operators.matching import sorted_neighborhood_pairs

    df = spark.createDataFrame([], "id string, k double")
    out = sorted_neighborhood_pairs(df, "id", "k", window=2)
    assert out.count() == 0
    types = dict((f.name, f.dataType.simpleString()) for f in out.schema)
    assert types == {"id_a": "string", "id_b": "string", "pos_dist": "int"}


def test_sorted_neighborhood_empty_matches_nonempty_schema(spark):
    from skrub_spark.operators.matching import sorted_neighborhood_pairs

    empty = spark.createDataFrame([], "id string, k double")
    full = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "id string, k double"
    )
    e = sorted_neighborhood_pairs(empty, "id", "k", window=2)
    f = sorted_neighborhood_pairs(full, "id", "k", window=2)
    # the empty branch must union cleanly with the non-empty branch
    assert e.unionByName(f).count() == f.count()


# ----------------------- ADVICE r9: two-group contract guards
def test_permutation_test_three_groups_raises(spark):
    from skrub_spark.report.permutation import permutation_test_means

    rows = [(float(i), "abc"[i % 3], i) for i in range(30)]
    df = spark.createDataFrame(rows, "x double, g string, k long")
    with pytest.raises(Exception, match="exactly 2 group"):
        permutation_test_means(df, "x", "g", "k", n_perm=10).collect()


def test_cuped_three_variants_raises(spark):
    from skrub_spark.report.experiment import cuped_adjust

    rows = [
        (float(i), float(i) * 0.5 + 1.0, "abc"[i % 3]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "y double, x double, g string")
    with pytest.raises(Exception, match="exactly 2 variant"):
        cuped_adjust(df, "y", "x", "g").collect()


def test_permutation_test_two_groups_still_green(spark):
    from skrub_spark.report.permutation import permutation_test_means

    rows = [(float(i % 7), "ab"[i % 2], i) for i in range(40)]
    df = spark.createDataFrame(rows, "x double, g string, k long")
    r = permutation_test_means(df, "x", "g", "k", n_perm=20).first()
    assert r["group_a"] == "a" and r["group_b"] == "b"
    assert 0.0 < r["p_value"] <= 1.0


# --------------------------- ADVICE r9: ALS bounded over-fetch
def test_als_recommend_heavy_tail_bounded(spark):
    """One heavy user must not inflate everyone's fetch; every user
    still gets exactly top_k novel items when the catalog allows."""
    from skrub_spark.operators.recommend import als_recommend

    rows = []
    # 30 light users with 2 seen items each, 1 heavy user with 40.
    for u in range(30):
        for it in (u % 5, (u + 1) % 5):
            rows.append((u, it, 3.0))
    for it in range(40):
        rows.append((99, it, 2.0))
    df = spark.createDataFrame(rows, "u int, i int, r double")
    out = als_recommend(
        df, "u", "i", "r", top_k=3, max_iter=4, rank=4
    )
    got = out.groupBy("user").count().collect()
    by_user = {r["user"]: r["count"] for r in got}
    for u in range(30):
        assert by_user.get(u) == 3
    # heavy user: 40 seen of 40 items -> nothing novel remains
    assert by_user.get(99, 0) == 0
    # no recommended item was already seen
    seen = df.select(
        F.col("u").alias("user"), F.col("i").alias("item")
    ).distinct()
    assert out.join(seen, ["user", "item"], "inner").count() == 0


# --------------------------------- unigram-LM tokenizer (r10 #1)
def test_viterbi_hand_worked():
    from skrub_spark.operators.unigram_lm import viterbi_stats

    pieces = {
        "a": -1_000_000,
        "b": -2_000_000,
        "ab": -2_500_000,
        "ba": -2_400_000,
        "nan": -3_000_000,
    }
    # single piece beats two singles: ab(-2.5M) > a+b(-3M)
    assert viterbi_stats("ab", pieces, 6) == (1, -2_500_000)
    # a+ba(-3.4M) beats ab+a(-3.5M) and a+b+a(-4M)
    assert viterbi_stats("aba", pieces, 6) == (2, -3_400_000)
    # ba+nan+a = -2.4M-3M-1M = -6.4M
    assert viterbi_stats("banana", pieces, 6) == (3, -6_400_000)


def test_viterbi_unk_fallback_and_tie_rule():
    from skrub_spark.operators.unigram_lm import (
        UNIGRAM_UNK_LP6, viterbi_stats,
    )

    pieces = {"a": -1_000_000, "aa": -2_000_000}
    # out-of-vocab chars always segment via the fixed UNK penalty
    assert viterbi_stats("zq", pieces, 6) == (2, 2 * UNIGRAM_UNK_LP6)
    # score tie between aa(-2M) and a+a(-2M): fewer pieces wins
    assert viterbi_stats("aa", pieces, 6) == (1, -2_000_000)


def test_viterbi_piece_count_bounds():
    from skrub_spark.operators.unigram_lm import viterbi_stats

    pieces = {c: -3_000_000 for c in "abcdefgh"}
    pieces["abcd"] = -5_000_000
    for w in ("abcdabcd", "hgfe", "abcd"):
        np_, s = viterbi_stats(w, pieces, 6)
        assert -(-len(w) // 6) <= np_ <= len(w)
        assert s < 0


def test_train_unigram_learns_pieces_and_coverage(spark):
    from skrub_spark.operators.unigram_lm import train_unigram

    rows = [("banana bandana cabana banana",), ("ban the bandana",)] * 30
    df = spark.createDataFrame(rows, "text string")
    m = train_unigram(
        df, "text", vocab_size=40, seed_size=120, n_em=2, max_words=500
    )
    # all corpus single chars kept (coverage guarantee)
    for ch in "banthecd":
        assert ch in m.pieces
    # at least one multi-char piece learned from the repeated mass
    assert any(len(p) > 1 for p in m.pieces)
    # lp6 are negative ints and the implied probs sum to ~1
    import math

    assert all(isinstance(v, int) and v < 0 for v in m.pieces.values())
    assert abs(sum(math.exp(v / 1e6) for v in m.pieces.values()) - 1) < 1e-3


def test_train_unigram_em_improves_likelihood(spark):
    from pyspark.sql import functions as F
    from skrub_spark.operators.unigram_lm import (
        train_unigram, unigram_token_stats,
    )

    rows = [
        ("banana bandana analysis of bananas",),
        ("the bandana analysis again and again",),
    ] * 25
    df = spark.createDataFrame(rows, "text string").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    kw = dict(vocab_size=60, seed_size=150, max_words=500)
    m0 = train_unigram(df, "text", n_em=0, **kw)
    m3 = train_unigram(df, "text", n_em=3, **kw)
    ll0 = unigram_token_stats(df, m0).agg(F.sum("ll6")).first()[0]
    ll3 = unigram_token_stats(df, m3).agg(F.sum("ll6")).first()[0]
    # EM must not make the corpus less likely than the raw seed
    assert ll3 >= ll0


def test_unigram_token_stats_frozen_invariance(spark, sf_dir):
    from skrub_spark._frozen import UNIGRAM_MODEL
    from skrub_spark.operators.unigram_lm import (
        UnigramModel, unigram_token_stats,
    )
    from skrub_spark.sources import load_table

    model = UnigramModel(
        pieces=dict(UNIGRAM_MODEL["pieces"]),
        max_piece_len=int(UNIGRAM_MODEL["max_piece_len"]),
        max_word_len=int(UNIGRAM_MODEL["max_word_len"]),
    )
    docs = load_table(spark, sf_dir, "documents").limit(60)
    a = unigram_token_stats(docs, model)
    b = unigram_token_stats(docs.repartition(7), model)
    cols = sorted(a.columns)
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )


def test_unigram_zero_word_docs(spark):
    from skrub_spark.operators.unigram_lm import (
        UnigramModel, unigram_token_stats,
    )

    m = UnigramModel(pieces={"a": -1_000_000})
    df = spark.createDataFrame(
        [(1, "!!! ???"), (2, "aaa")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in unigram_token_stats(df, m).collect()}
    assert out[1]["n_words"] == 0 and out[1]["n_pieces"] == 0
    assert out[1]["ll6"] == 0 and out[1]["chars_per_piece"] == 0.0
    assert out[2]["n_words"] == 1 and out[2]["n_pieces"] == 3


# --------------------------- exactly-once upsert sink (r10 #5)
def test_upsert_batch_idempotent_replay(spark, tmp_path):
    from skrub_spark.sources.snapshots import (
        read_snapshot, snapshot_versions,
    )
    from skrub_spark.streaming.ops import upsert_batch

    root = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(1, 10, "U", 5.0), (2, 11, "U", 6.0), (1, 12, "U", 7.0)],
        "k long, seq long, op string, val double",
    )
    assert upsert_batch(b0, root, "k", "seq", "op", batch_id=0)
    snap1 = sorted(map(tuple, read_snapshot(spark, root).collect()))
    # duplicate delivery of batch 0: skipped, snapshot unchanged
    assert not upsert_batch(b0, root, "k", "seq", "op", batch_id=0)
    assert snapshot_versions(root, spark) == [1]
    assert sorted(map(tuple, read_snapshot(spark, root).collect())) == snap1
    # batch winner: k=1 keeps seq 12 (max within batch)
    assert dict((r["k"], r["seq"]) for r in
                read_snapshot(spark, root).collect()) == {1: 12, 2: 11}


def test_upsert_batch_tombstone_and_versions(spark, tmp_path):
    from skrub_spark.sources.snapshots import (
        read_snapshot, snapshot_versions,
    )
    from skrub_spark.streaming.ops import upsert_batch

    root = str(tmp_path / "tbl2")
    b0 = spark.createDataFrame(
        [(1, 10, "U", 5.0), (2, 11, "U", 6.0)],
        "k long, seq long, op string, val double",
    )
    b1 = spark.createDataFrame(
        [(1, 20, "D", None), (3, 21, "U", 9.0)],
        "k long, seq long, op string, val double",
    )
    assert upsert_batch(b0, root, "k", "seq", "op", batch_id=0)
    assert upsert_batch(b1, root, "k", "seq", "op", batch_id=1)
    assert snapshot_versions(root, spark) == [1, 2]
    final = {r["k"]: r["val"] for r in read_snapshot(spark, root).collect()}
    # k=1 tombstoned, k=2 survives from batch 0, k=3 inserted
    assert final == {2: 6.0, 3: 9.0}
    # earlier versions remain readable (time travel)
    v1 = {r["k"] for r in read_snapshot(spark, root, 1).collect()}
    assert v1 == {1, 2}


# -------------------- adversarial-skew blocking contracts (r10 #7)
def test_sorted_neighborhood_all_equal_sort_key(spark):
    """Degenerate blocking key: EVERY row shares one sort-key value.
    The total order falls back to id ties, the pair set must equal
    the brute-force window over that order, and the pair count is
    exactly bounded by n*window (no quadratic blowup)."""
    from skrub_spark.operators.matching import sorted_neighborhood_pairs

    n, w = 97, 3
    df = spark.createDataFrame(
        [(i, 1.0) for i in range(n)], "id long, k double"
    )
    out = sorted_neighborhood_pairs(df, "id", "k", window=w)
    got = sorted((r["id_a"], r["id_b"], r["pos_dist"]) for r in out.collect())
    expect = sorted(
        (i, j, j - i)
        for i in range(n)
        for j in range(i + 1, min(i + w + 1, n))
    )
    assert got == expect
    assert len(got) == sum(max(0, n - j) for j in range(1, w + 1))


def test_sorted_neighborhood_hot_key_with_unique_tail(spark):
    """One hot key owning 90% of rows plus a sorted tail — the
    boundary stitch across merged buckets must still produce the
    exact window pair set of the (k, id) total order."""
    from skrub_spark.operators.matching import sorted_neighborhood_pairs

    rows = [(i, 5.0) for i in range(90)] + [
        (100 + i, 10.0 + i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, k double")
    out = sorted_neighborhood_pairs(df, "id", "k", window=2)
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    ids = [r[0] for r in order]
    expect = sorted(
        (ids[i], ids[j], j - i) if ids[i] < ids[j]
        else (ids[j], ids[i], j - i)
        for i in range(len(ids))
        for j in range(i + 1, min(i + 3, len(ids)))
    )
    got = sorted((r["id_a"], r["id_b"], r["pos_dist"]) for r in out.collect())
    assert got == expect


def test_jw_join_hot_block_capped(spark):
    """A single hot first-token block must be DROPPED by max_block,
    not exploded quadratically; disjoint small blocks survive."""
    from skrub_spark.dedup.strings import jaro_winkler_join

    hot = [(f"smith variant{i}",) for i in range(50)]
    cool = [("jones alpha",), ("jones alphaa",), ("parker beta",)]
    df = spark.createDataFrame(hot + cool, "name string")
    out = jaro_winkler_join(
        df, df, "name", "name", threshold=0.5, max_block=10
    ).collect()
    # no pair from the capped hot block
    assert all(not r["name_a"].startswith("smith") for r in out)
    # the small jones block still matches
    assert any(
        r["name_a"] == "jones alpha" and r["name_b"] == "jones alphaa"
        for r in out
    )


def test_jw_join_cap_disabled_matches_bruteforce(spark):
    """With a generous cap the blocked join equals brute-force JW
    over same-block pairs — the cap must not change small-block
    results."""
    import itertools

    from skrub_spark.dedup.strings import jaro_winkler_join
    from skrub_spark.functions.text import jaro_winkler

    names = [
        "martha stewart", "marhta stewart", "jonathan swift",
        "jonathon swift", "peter parker",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    out = sorted(
        (r["name_a"], r["name_b"])
        for r in jaro_winkler_join(
            df, df, "name", "name", threshold=0.9, max_block=10_000
        ).collect()
    )
    # brute force within first-token blocks via the same UDF
    pairs = [
        (a, b)
        for a, b in itertools.combinations(sorted(names), 2)
        if a.split()[0] == b.split()[0]
    ]
    pdf = spark.createDataFrame(pairs, "name_a string, name_b string")
    brute = sorted(
        (r["name_a"], r["name_b"])
        for r in pdf.withColumn("jw", jaro_winkler("name_a", "name_b"))
        .filter("jw >= 0.9")
        .collect()
    )
    assert out == brute


# ------------------- sequential testing + EB shrinkage (r10 extra)
def test_msprt_planted_effect_goes_significant(spark):
    from skrub_spark.report.abtest import msprt_two_proportion

    rows = []
    # arm a converts 10%, arm b 40%; 8 checkpoints x 200/arm
    for cp in range(8):
        for i in range(200):
            rows.append((cp, "a", i % 10 == 0))
            rows.append((cp, "b", i % 10 < 4))
    df = spark.createDataFrame(rows, "cp int, v string, c boolean")
    out = msprt_two_proportion(df, "v", "c", "cp", tau2=0.01)
    rs = sorted(out.collect(), key=lambda r: r["checkpoint"])
    # p trajectory is monotone non-increasing (running min)
    ps = [r["p_always_valid"] for r in rs]
    assert all(a >= b for a, b in zip(ps, ps[1:]))
    assert rs[-1]["significant"] is True
    assert rs[-1]["delta"] < 0  # a converts less than b
    # cumulative counts grow to the full corpus
    assert rs[-1]["n_a"] == rs[-1]["n_b"] == 8 * 200


def test_msprt_null_effect_stays_insignificant(spark):
    from skrub_spark.report.abtest import msprt_two_proportion

    rows = []
    for cp in range(6):
        for i in range(150):
            rows.append((cp, "a", i % 5 == 0))
            rows.append((cp, "b", i % 5 == 1))
    df = spark.createDataFrame(rows, "cp int, v string, c boolean")
    rs = msprt_two_proportion(df, "v", "c", "cp").collect()
    # identical 20% rates: the always-valid p never crosses 0.05
    assert all(r["significant"] is False for r in rs)
    assert all(r["p_always_valid"] > 0.5 for r in rs)


def test_msprt_three_variants_raise(spark):
    from skrub_spark.report.abtest import msprt_two_proportion

    df = spark.createDataFrame(
        [(0, "a", True), (0, "b", False), (0, "c", True)],
        "cp int, v string, c boolean",
    )
    with pytest.raises(Exception, match="exactly 2 variant"):
        msprt_two_proportion(df, "v", "c", "cp").collect()


def test_eb_shrinkage_pulls_small_groups_to_prior(spark):
    from skrub_spark.report.abtest import eb_shrunk_rates

    rows = []
    # 30 big groups at ~30% conversion
    for g in range(30):
        for i in range(100):
            rows.append((f"big{g}", (i + g) % 10 < 3))
    # tiny group: 2/2 converted (raw rate 1.0 — leaderboard noise)
    rows += [("tiny", True), ("tiny", True)]
    df = spark.createDataFrame(rows, "g string, c boolean")
    out = {r["g"]: r for r in eb_shrunk_rates(df, "g", "c").collect()}
    t = out["tiny"]
    assert t["raw_rate"] == 1.0
    # shrunk hard toward the ~0.3 prior mean
    assert t["shrunk_rate"] < 0.8
    assert t["alpha"] is not None and t["beta"] is not None
    # big groups barely move
    b = out["big0"]
    assert abs(b["shrunk_rate"] - b["raw_rate"]) < 0.05
    # posterior means stay probabilities
    assert all(0.0 <= r["shrunk_rate"] <= 1.0 for r in out.values())


def test_eb_shrinkage_degenerate_prior_returns_raw(spark):
    from skrub_spark.report.abtest import eb_shrunk_rates

    # all groups identical rate -> zero variance -> no prior
    rows = [(f"g{g}", i % 2 == 0) for g in range(5) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, c boolean")
    out = eb_shrunk_rates(df, "g", "c").collect()
    assert all(r["alpha"] is None and r["beta"] is None for r in out)
    assert all(r["shrunk_rate"] == r["raw_rate"] for r in out)


# ----------------------------- Holt-Winters forecast (r10 extra)
def test_hw_recurrence_tracks_seasonal_trend():
    """On an exactly seasonal + linear series the smoother locks on:
    late one-step-ahead fits and all forecasts stay close."""
    from skrub_spark.operators.forecast import hw_recurrence

    season = [0, 5, 9, 3, -4, -8, -5]  # weekly shape, sums to 0
    def f(t):
        return 100.0 + 2.0 * t + season[t % 7]

    y6 = [int(round(f(t) * 1e6)) for t in range(70)]
    fitted, fc = hw_recurrence(
        y6, alpha6=300000, beta6=100000, gamma6=300000,
        period=7, horizon=14,
    )
    for t in range(56, 70):
        assert abs(fitted[t] / 1e6 - f(t)) < 2.0
    for h in range(14):
        assert abs(fc[h] / 1e6 - f(70 + h)) < 3.0


def test_hw_recurrence_integer_determinism():
    from skrub_spark.operators.forecast import hw_recurrence

    y6 = [((t * 37) % 11) * 1_000_000 + 500_000 for t in range(30)]
    a = hw_recurrence(y6, alpha6=300000, beta6=100000,
                      gamma6=300000, period=7, horizon=5)
    b = hw_recurrence(list(y6), alpha6=300000, beta6=100000,
                      gamma6=300000, period=7, horizon=5)
    assert a == b
    assert all(isinstance(v, int) for v in a[1])


def test_hw_forecast_shapes_and_invariance(spark):
    import datetime as dt

    from skrub_spark.operators.forecast import holt_winters_forecast

    base = dt.date(2024, 1, 1)
    rows = []
    for g in ("a", "b"):
        for t in range(120):
            val = 50.0 + (3.0 if g == "a" else -1.0) * (t % 7) + t * 0.5
            rows.append((g, base + dt.timedelta(days=t), round(val, 2)))
    df = spark.createDataFrame(rows, "g string, d date, v double")
    out = holt_winters_forecast(
        df, "g", "d", "v", period=7, horizon=14, max_days=112
    )
    rs = out.collect()
    # per group: (112 - 7) fitted rows + 14 forecasts
    per_g = {}
    for r in rs:
        per_g.setdefault(r["g"], []).append(r)
    for g, lst in per_g.items():
        assert len(lst) == (112 - 7) + 14
        assert sum(1 for r in lst if r["y"] is None) == 14
    # partitioning invariance (exact integer recurrence)
    rs2 = holt_winters_forecast(
        df.repartition(9), "g", "d", "v",
        period=7, horizon=14, max_days=112,
    ).collect()
    key = lambda r: (r["g"], r["day"])  # noqa: E731
    assert sorted(map(tuple, rs)) == sorted(map(tuple, rs2))


def test_hw_forecast_requires_two_periods():
    from skrub_spark.operators.forecast import hw_recurrence

    with pytest.raises(ValueError, match="need >="):
        hw_recurrence([1] * 10, alpha6=300000, beta6=100000,
                      gamma6=300000, period=7, horizon=3)


# --------------------------------- CUSUM + quantile CI (r10 extra)
def test_cusum_detects_planted_shift(spark):
    import datetime as dt

    from skrub_spark.operators.forecast import cusum_monitor

    base = dt.date(2024, 1, 1)
    rows = []
    for t in range(112):
        # stable 100.00/day for 80 days, then a +60% level shift
        v = 100.0 if t < 80 else 160.0
        rows.append(("g", base + dt.timedelta(days=t), v))
    df = spark.createDataFrame(rows, "g string, d date, v double")
    out = sorted(
        cusum_monitor(df, "g", "d", "v").collect(),
        key=lambda r: r["day"],
    )
    pre = [r for r in out if r["day"] < base + dt.timedelta(days=80)]
    post = [r for r in out if r["day"] >= base + dt.timedelta(days=80)]
    assert all(not r["alarm"] for r in pre)
    assert any(r["alarm"] for r in post)
    # first alarm arrives within a couple of days of the shift
    first = min(r["day"] for r in post if r["alarm"])
    assert (first - base).days <= 82
    # reset rule: the row after an alarm restarts accumulation
    assert all(r["s_pos"] >= 0 and r["s_neg"] >= 0 for r in out)


def test_cusum_partitioning_invariant(spark):
    import datetime as dt

    from skrub_spark.operators.forecast import cusum_monitor

    base = dt.date(2024, 3, 1)
    rows = [
        (g, base + dt.timedelta(days=t), float((t * 13 + ord(g)) % 50))
        for g in "ab"
        for t in range(112)
    ]
    df = spark.createDataFrame(rows, "g string, d date, v double")
    a = sorted(map(tuple, cusum_monitor(df, "g", "d", "v").collect()))
    b = sorted(
        map(
            tuple,
            cusum_monitor(df.repartition(11), "g", "d", "v").collect(),
        )
    )
    assert a == b


def test_quantile_ci_brackets_median(spark):
    from skrub_spark.operators.winsorize import quantile_ci

    rows = [("g", float(v)) for v in range(1, 202)]  # 1..201
    df = spark.createDataFrame(rows, "g string, v double")
    r = quantile_ci(df, ["g"], "v").first()
    assert r["n"] == 201
    assert r["q_est"] == 101.0  # exact median, rank ceil(201/2)=101
    assert r["ci_lo"] < 101.0 < r["ci_hi"]
    # ~95% bracket on n=201: about +/- 14 ranks around the median
    assert 80.0 <= r["ci_lo"] <= 95.0
    assert 107.0 <= r["ci_hi"] <= 122.0


def test_quantile_ci_other_quantile_and_bounds(spark):
    from skrub_spark.operators.winsorize import quantile_ci

    rows = [("g", float(v)) for v in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = quantile_ci(df, ["g"], "v", q_num=9, q_den=10).first()
    assert r["q_est"] == 18.0  # rank ceil(20*0.9) = 18
    # bracket clamped inside [1, n]
    assert 1.0 <= r["ci_lo"] <= r["q_est"] <= r["ci_hi"] <= 20.0
    with pytest.raises(ValueError, match="0 < q_num < q_den"):
        quantile_ci(df, ["g"], "v", q_num=3, q_den=2)


# ---------------------------- log-rank + CMH (r10 extra)
def test_log_rank_separated_groups_significant(spark):
    from skrub_spark.report.survival import log_rank_test

    rows = []
    # group a: events early (t ~ 2-6); group b: events late (t ~ 20-24)
    for i in range(80):
        rows.append(("a", 2 + i % 5, 1))
        rows.append(("b", 20 + i % 5, 1))
    df = spark.createDataFrame(rows, "g string, t long, e long")
    r = log_rank_test(df, "g", "t", "e").first()
    assert r["group_a"] == "a" and r["group_b"] == "b"
    assert r["n_a"] == r["n_b"] == 80
    assert r["chi2"] > 50.0  # wildly separated curves
    assert r["o_minus_e"] > 0  # a has MORE early events than expected


def test_log_rank_identical_groups_null(spark):
    from skrub_spark.report.survival import log_rank_test

    rows = []
    for i in range(60):
        t = 1 + (i % 10)
        rows.append(("a", t, 1 if i % 4 else 0))
        rows.append(("b", t, 1 if i % 4 else 0))
    df = spark.createDataFrame(rows, "g string, t long, e long")
    r = log_rank_test(df, "g", "t", "e").first()
    # identical distributions: O-E is exactly zero by symmetry
    assert abs(r["o_minus_e"]) < 1e-6
    assert r["chi2"] < 0.01


def test_log_rank_censoring_shrinks_risk_sets(spark):
    from skrub_spark.report.survival import log_rank_test

    rows = [("a", 5, 1), ("a", 3, 0), ("b", 5, 1), ("b", 8, 1)]
    df = spark.createDataFrame(rows, "g string, t long, e long")
    r = log_rank_test(df, "g", "t", "e").first()
    assert r["events_a"] == 1 and r["events_b"] == 2
    assert r["variance"] > 0


def test_cmh_confounded_strata(spark):
    """Classic Simpson setup: within every stratum arm b converts
    MORE, but stratum sizes make the pooled rate misleading — CMH
    must side with the within-stratum direction (OR < 1 for arm a
    vs b ordering a='x', b='y')."""
    from skrub_spark.report.experiment import cmh_stratified

    rows = []
    # stratum s1: x mostly, low conversion; y converts better
    rows += [("s1", "x", i < 10) for i in range(100)]    # 10%
    rows += [("s1", "y", i < 4) for i in range(20)]      # 20%
    # stratum s2: y mostly, but high base rate
    rows += [("s2", "x", i < 12) for i in range(20)]     # 60%
    rows += [("s2", "y", i < 70) for i in range(100)]    # 70%
    df = spark.createDataFrame(rows, "s string, v string, c boolean")
    r = cmh_stratified(df, "s", "v", "c").first()
    assert r["variant_a"] == "x" and r["variant_b"] == "y"
    assert r["n_strata"] == 2
    assert r["or_mh"] is not None and r["or_mh"] < 1.0
    assert r["chi2"] is not None and r["chi2"] >= 0.0


def test_cmh_three_variants_raise(spark):
    from skrub_spark.report.experiment import cmh_stratified

    df = spark.createDataFrame(
        [("s", "a", True), ("s", "b", False), ("s", "c", True)],
        "s string, v string, c boolean",
    )
    with pytest.raises(Exception, match="exactly 2 variant"):
        cmh_stratified(df, "s", "v", "c").collect()


# ------------------- streaming CUSUM + Yuen test (r10 extra)
def test_streaming_cusum_identity_matches_reset_free_loop(spark, tmp_path):
    """Two real micro-batches; the reflected-walk state must equal
    a reset-free reference loop over the full ordered stream."""
    import glob
    import shutil

    from skrub_spark.streaming.ops import streaming_cusum

    rows = [(i, "k", float(10 + (i * 7) % 25)) for i in range(60)]
    df = spark.createDataFrame(rows, "event_id long, t string, value double")
    src = str(tmp_path / "src")
    import os as _os

    _os.makedirs(src)
    for i, part in enumerate(
        (df.filter("event_id % 2 = 0"), df.filter("event_id % 2 = 1"))
    ):
        d = str(tmp_path / f"w{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = _os.path.join(src, f"b{i}.parquet")
        shutil.copyfile(glob.glob(_os.path.join(d, "part-*.parquet"))[0], dst)
        _os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        streaming_cusum(
            stream, "t", "event_id", "value",
            mu6=20_000_000, k6=2_000_000, h6=60_000_000,
        )
        .writeStream.format("memory")
        .queryName("cusum_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["id"]: (r["s_pos6"], r["s_neg6"], r["alarm"])
        for r in spark.table("cusum_test").collect()
    }
    # reference: reset-free CUSUM over (id%2, id) order
    order = sorted(rows, key=lambda r: (r[0] % 2, r[0]))
    sp = sn = 0
    for i, _, v in order:
        v6 = int(v * 1e6)
        sp = max(0, sp + (v6 - 20_000_000 - 2_000_000))
        sn = max(0, sn + (20_000_000 - v6 - 2_000_000))
        assert got[i] == (sp, sn, sp > 60_000_000 or sn > 60_000_000)


def test_yuen_trimmed_ignores_outliers(spark):
    from skrub_spark.report.abtest import yuen_trimmed_test

    rows = [("a", float(10 + i % 3)) for i in range(50)]
    rows += [("b", float(10 + i % 3)) for i in range(50)]
    # plant huge outliers in arm b only — a trimmed test must not move
    rows += [("b", 1e6)] * 5 + [("b", -1e6)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    r = yuen_trimmed_test(df, "v", "g").first()
    assert abs(r["tmean_a"] - r["tmean_b"]) < 0.5
    assert r["t"] is None or abs(r["t"]) < 3.0
    # raw means would differ hugely; h trims the tails
    assert r["h_b"] == 60 - 2 * (60 // 5)


def test_yuen_detects_core_shift(spark):
    from skrub_spark.report.abtest import yuen_trimmed_test

    rows = [("a", float(10 + i % 3)) for i in range(60)]
    rows += [("b", float(14 + i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = yuen_trimmed_test(df, "v", "g").first()
    assert r["diff"] < 0  # a below b
    assert r["t"] < -10.0
    assert r["df"] > 10.0


def test_yuen_three_groups_raise(spark):
    from skrub_spark.report.abtest import yuen_trimmed_test

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)] * 5, "g string, v double"
    )
    with pytest.raises(Exception, match="exactly 2 group"):
        yuen_trimmed_test(df, "v", "g").collect()


# -------------------------------- tokenizer fertility (r10 extra)
def test_tokenizer_fertility_all_langs_sane(spark):
    from skrub_spark.queries import q_tokenizer_fertility

    rows = q_tokenizer_fertility(spark, "/root/testdata/sf0.001").collect()
    langs = {r["lang"] for r in rows}
    assert len(langs) >= 3
    for r in rows:
        assert r["n_docs"] > 0
        # fertility bounded: pieces are 1..6 chars, BPE tokens >=1 char
        assert 1.0 <= r["unigram_chars_per_piece"] <= 6.5
        assert r["bpe_chars_per_token"] >= 1.0
        assert r["unigram_pieces"] > 0 and r["bpe_tokens"] > 0


# ------------------------- unigram encode API (r10 extra)
def test_viterbi_segment_reassembles_word():
    from skrub_spark.operators.unigram_lm import (
        viterbi_segment, viterbi_stats,
    )

    pieces = {
        "a": -1_000_000, "b": -2_000_000, "ab": -2_500_000,
        "ba": -2_400_000, "nan": -3_000_000, "n": -2_500_000,
    }
    for w in ("ab", "aba", "banana", "zq", "nanab"):
        segs = viterbi_segment(w, pieces, 6)
        assert "".join(segs) == w
        np_, s = viterbi_stats(w, pieces, 6)
        assert len(segs) == np_
        # path score re-derives ll6 exactly
        import skrub_spark.operators.unigram_lm as um
        total = sum(
            pieces.get(p, um.UNIGRAM_UNK_LP6) for p in segs
        )
        assert total == s


def test_segment_text_matches_stats(spark):
    from skrub_spark._frozen import UNIGRAM_MODEL
    from skrub_spark.operators.unigram_lm import (
        UnigramModel, segment_text, unigram_token_stats,
    )
    from skrub_spark.sources import load_table

    model = UnigramModel(
        pieces=dict(UNIGRAM_MODEL["pieces"]),
        max_piece_len=int(UNIGRAM_MODEL["max_piece_len"]),
    )
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(40)
    st = {
        r["doc_id"]: r["n_pieces"]
        for r in unigram_token_stats(docs, model).collect()
    }
    enc = segment_text(docs, model).collect()
    for r in enc:
        assert len(r["pieces"]) == st[r["doc_id"]]
    # word order preserved: pieces concatenation equals the word stream
    from pyspark.sql import functions as F2
    from skrub_spark.functions.text import words_az09

    words = {
        r["doc_id"]: "".join(w[:24] for w in r["ws"])
        for r in docs.select(
            "doc_id", words_az09("text").alias("ws")
        ).collect()
    }
    for r in enc:
        assert "".join(r["pieces"]) == words[r["doc_id"]]


# ------------------------- isotonic calibration (r10 extra)
def _pav_reference(w, s):
    """Textbook sequential pool-adjacent-violators on (weight, sum)
    blocks — the independent reference for the minimax identity."""
    blocks = [[wi, si] for wi, si in zip(w, s)]
    out = []
    for b in blocks:
        out.append(b)
        while len(out) >= 2 and (
            out[-2][1] * out[-1][0] > out[-1][1] * out[-2][0]
        ):  # prev mean > cur mean -> pool (exact rational compare)
            b2 = out.pop()
            out[-1][0] += b2[0]
            out[-1][1] += b2[1]
    fitted = []
    for wi, si in out:
        fitted.extend([si / wi] * 1)
    # expand back to per-input-block values
    expanded = []
    i = 0
    for wi, si in out:
        # count how many original blocks were pooled into this one
        acc_w = 0
        k = 0
        while acc_w < wi:
            acc_w += w[i + k]
            k += 1
        expanded.extend([si / wi] * k)
        i += k
    return expanded


def test_isotonic_matches_sequential_pav(spark):
    from skrub_spark.report.evaluation import isotonic_calibration

    # craft rates that violate monotonicity: bins at .0,.1,...
    data = [
        (0.05, 8, 10),   # rate .8  (violator: later bins lower)
        (0.15, 2, 10),
        (0.25, 5, 10),
        (0.35, 3, 10),
        (0.45, 9, 10),
        (0.55, 4, 10),
    ]
    rows = []
    for score, pos, n in data:
        rows += [(score, 1)] * pos + [(score, 0)] * (n - pos)
    df = spark.createDataFrame(rows, "score double, label int")
    got = {
        r["bin"]: r["rate_iso"]
        for r in isotonic_calibration(df, "score", "label", n_bins=10)
        .collect()
    }
    ref = _pav_reference([10] * 6, [d[1] for d in data])
    for b, expect in zip((0, 1, 2, 3, 4, 5), ref):
        assert abs(got[b] - expect) < 1e-6, (b, got[b], expect)
    # monotone non-decreasing by construction
    vals = [got[b] for b in sorted(got)]
    assert all(a <= b + 1e-12 for a, b in zip(vals, vals[1:]))


def test_isotonic_already_monotone_is_identity(spark):
    from skrub_spark.report.evaluation import isotonic_calibration

    rows = []
    for i, pos in enumerate((1, 3, 5, 7, 9)):
        rows += [(0.05 + 0.1 * i, 1)] * pos
        rows += [(0.05 + 0.1 * i, 0)] * (10 - pos)
    df = spark.createDataFrame(rows, "score double, label int")
    out = isotonic_calibration(df, "score", "label", n_bins=10).collect()
    for r in out:
        assert abs(r["rate_iso"] - r["rate_raw"]) < 1e-9


# ------------------------------------- fan_out guard (r10 polish)
def test_fan_out_streaming_noop(spark, tmp_path):
    from skrub_spark.session import fan_out

    d = str(tmp_path / "p")
    spark.createDataFrame([(1, "x")], "id long, t string").write.parquet(d)
    stream = spark.readStream.schema("id long, t string").parquet(d)
    out = fan_out(stream)
    assert out.isStreaming  # returned untouched, no .rdd crash


def test_fan_out_batch_reaches_parallelism(spark):
    from skrub_spark.session import fan_out

    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    one = df.coalesce(1)
    assert fan_out(one, 4).rdd.getNumPartitions() >= 4
    # already-wide input passes through without an extra shuffle
    wide = df.repartition(8)
    assert fan_out(wide, 4) is wide
