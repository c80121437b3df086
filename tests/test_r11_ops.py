"""Round-11 operator contracts: DoReMi-lite mixture reweighting,
ALS frozen serving twin, delta-join IVM,
streaming late-data side output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# DoReMi-lite
# ---------------------------------------------------------------------------


def _loss_frame(spark, rows):
    return spark.createDataFrame(
        rows, "domain string, loss double, ref_loss double"
    )


def test_doremi_upweights_undertrained_domain(spark):
    """Planted domain shift: the domain whose proxy loss is furthest
    above its reference (most learning headroom) must get the
    LARGEST weight; a domain at/below reference (excess clips to 0)
    must end BELOW uniform."""
    from skrub_spark.operators.doremi import doremi_weights

    rows = (
        # webA: large excess (under-trained)
        [("webA", 3.0, 2.0)] * 40
        # books: modest excess
        + [("books", 2.4, 2.0)] * 40
        # code: proxy already matches reference -> excess 0
        + [("code", 1.9, 2.0)] * 40
    )
    w = {
        r["domain"]: (r["weight"], r["excess_loss"])
        for r in doremi_weights(
            _loss_frame(spark, rows), "domain", "loss", "ref_loss"
        ).collect()
    }
    assert w["webA"][1] == pytest.approx(1.0)
    assert w["books"][1] == pytest.approx(0.4)
    assert w["code"][1] == 0.0  # clipped, never negative
    assert w["webA"][0] > w["books"][0] > w["code"][0]
    assert w["webA"][0] > 1 / 3  # above uniform
    assert w["code"][0] < 1 / 3  # below uniform
    assert sum(v[0] for v in w.values()) == pytest.approx(1.0, abs=1e-4)


def test_doremi_per_example_clipping(spark):
    """Clipping is PER EXAMPLE (the paper's rule): a domain with
    mixed +1/-1 excess examples keeps the +1 mass (mean 0.5), it is
    not cancelled to zero by the negative half."""
    from skrub_spark.operators.doremi import doremi_weights

    rows = [("m", 3.0, 2.0)] * 10 + [("m", 1.0, 2.0)] * 10 + [
        ("flat", 2.0, 2.0)
    ] * 10
    w = {
        r["domain"]: r["excess_loss"]
        for r in doremi_weights(
            _loss_frame(spark, rows), "domain", "loss", "ref_loss"
        ).collect()
    }
    assert w["m"] == pytest.approx(0.5)
    assert w["flat"] == 0.0


def test_doremi_smoothing_floor_and_determinism(spark):
    """Uniform smoothing keeps every domain above ~c/D even when one
    domain dominates; two runs (different partitioning) are
    bit-identical."""
    from skrub_spark.operators.doremi import doremi_weights

    rows = [("hot", 10.0, 2.0)] * 30 + [("cold", 2.0, 2.0)] * 30
    df = _loss_frame(spark, rows)
    out1 = sorted(
        (r["domain"], r["weight"])
        for r in doremi_weights(
            df, "domain", "loss", "ref_loss", smoothing=0.1
        ).collect()
    )
    out2 = sorted(
        (r["domain"], r["weight"])
        for r in doremi_weights(
            df.repartition(7), "domain", "loss", "ref_loss", smoothing=0.1
        ).collect()
    )
    assert out1 == out2
    cold = dict(out1)["cold"]
    assert cold >= 0.1 / 2 * 0.9  # ~c/D floor survives the hot domain


def test_doremi_targets_budget(spark):
    """doremi_targets converts weights to integer row targets that
    sum to <= budget and track the weights proportionally."""
    from skrub_spark.operators.doremi import doremi_targets, doremi_weights

    rows = [("a", 4.0, 2.0)] * 20 + [("b", 2.5, 2.0)] * 20 + [
        ("c", 2.0, 2.0)
    ] * 20
    w = doremi_weights(_loss_frame(spark, rows), "domain", "loss", "ref_loss")
    t = doremi_targets(w, 1000)
    assert set(t) == {"a", "b", "c"}
    assert sum(t.values()) <= 1000
    assert t["a"] > t["b"] > t["c"] >= 0


# ---------------------------------------------------------------------------
# ALS frozen serving twin
# ---------------------------------------------------------------------------


def test_als_frozen_matches_numpy_reference(spark):
    """The integer-micro dot-product scoring must equal a numpy
    float reference on the frozen factors (to the 1e-12 quantum) and
    respect the (score desc, item asc) tie-break."""
    import numpy as np

    from skrub_spark._frozen import ALS_MODEL
    from skrub_spark.operators.recommend import als_topk_frozen

    empty = spark.createDataFrame([], "u int, i int")
    out = als_topk_frozen(empty, "u", "i", top_k=3).collect()
    users = {int(r[0]): np.array(r[1:], dtype="float64") for r in ALS_MODEL["users"]}
    items = {int(r[0]): np.array(r[1:], dtype="float64") for r in ALS_MODEL["items"]}
    by_user = {}
    for r in out:
        by_user.setdefault(r["custkey"], []).append(r)
    assert set(by_user) == set(users)
    for u, recs in by_user.items():
        recs = sorted(recs, key=lambda r: r["rec_rank"])
        assert [r["rec_rank"] for r in recs] == [1, 2, 3]
        # numpy reference: top-3 by (score desc, item asc)
        scores = sorted(
            ((float(users[u] @ v), -i) for i, v in items.items()),
            reverse=True,
        )[:3]
        for got, (s, negi) in zip(recs, scores):
            assert got["partkey"] == -negi
            assert got["score"] == pytest.approx(s, abs=2e-6)


def test_als_frozen_excludes_seen(spark):
    """A (user, item) pair present in the interactions must never be
    recommended; removing pairs changes only those users' lists."""
    from skrub_spark._frozen import ALS_MODEL
    from skrub_spark.operators.recommend import als_topk_frozen

    u0 = int(ALS_MODEL["users"][0][0])
    empty = spark.createDataFrame([], "u int, i int")
    base = als_topk_frozen(empty, "u", "i", top_k=2).collect()
    top = [r for r in base if r["custkey"] == u0 and r["rec_rank"] == 1][0]
    seen = spark.createDataFrame([(u0, top["partkey"])], "u int, i int")
    out = als_topk_frozen(seen, "u", "i", top_k=2).collect()
    assert all(
        not (r["custkey"] == u0 and r["partkey"] == top["partkey"])
        for r in out
    )
    # unaffected users keep identical lists
    others_base = sorted(
        tuple(r) for r in base if r["custkey"] != u0 and r["rec_rank"] == 1
    )
    others_new = sorted(
        tuple(r) for r in out if r["custkey"] != u0 and r["rec_rank"] == 1
    )
    assert others_base == others_new


def test_als_frozen_partitioning_invariance(spark):
    from skrub_spark._frozen import ALS_MODEL
    from skrub_spark.operators.recommend import als_topk_frozen

    u0 = int(ALS_MODEL["users"][0][0])
    i0 = int(ALS_MODEL["items"][0][0])
    seen = spark.createDataFrame([(u0, i0)] * 3, "u int, i int")
    a = sorted(tuple(r) for r in als_topk_frozen(seen, "u", "i").collect())
    b = sorted(
        tuple(r)
        for r in als_topk_frozen(seen.repartition(7), "u", "i").collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# Delta-join incremental view maintenance
# ---------------------------------------------------------------------------


def _ivm_frames(spark):
    a = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 6.0), (3, 20, 7.0), (4, 30, 8.0)],
        "okey int, jk int, pa double",
    )
    b = spark.createDataFrame(
        [(10, "x"), (20, "y"), (40, "z")], "jk int, pb string"
    )
    view = a.join(b, "jk").select("okey", "jk", "pa", "pb")
    return a, b, view


def _refresh(spark, da, db):
    from skrub_spark.operators.cdc import refresh_join

    a, b, view = _ivm_frames(spark)
    delta_a = (
        spark.createDataFrame(da, "op string, okey int, jk int, pa double")
        if da
        else None
    )
    delta_b = (
        spark.createDataFrame(db, "op string, jk int, pb string")
        if db
        else None
    )
    out = refresh_join(
        view, a, b, delta_a, delta_b, a_key="okey", b_key="jk", on="jk"
    )
    return sorted(tuple(r) for r in out.collect())


def _full(spark, da, db):
    a, b, _ = _ivm_frames(spark)
    arows = {r["okey"]: (r["okey"], r["jk"], r["pa"]) for r in a.collect()}
    for op, okey, jk, pa in da or []:
        if op == "D":
            arows.pop(okey, None)
        else:
            arows[okey] = (okey, jk, pa)
    brows = {r["jk"]: (r["jk"], r["pb"]) for r in b.collect()}
    for op, jk, pb in db or []:
        if op == "D":
            brows.pop(jk, None)
        else:
            brows[jk] = (jk, pb)
    return sorted(
        (okey, jk, pa, brows[jk][1])
        for okey, jk, pa in arows.values()
        if jk in brows
    )


@pytest.mark.parametrize(
    "da,db",
    [
        # fact-side update + insert + delete
        ([("U", 1, 10, 50.0), ("I", 9, 20, 9.0), ("D", 3, None, None)], []),
        # dimension-side rewrite + delete tombstone (drops ALL its
        # fact rows) + insert that LIGHTS UP a dark fact (jk=30)
        ([], [("U", 10, "x2"), ("D", 20, None), ("I", 30, "w")]),
        # both sides change at once, incl. the dA x dB corner: a new
        # fact joining a new dimension row
        (
            [("I", 9, 50, 9.5), ("U", 2, 10, 60.0), ("D", 4, None, None)],
            [("I", 50, "v"), ("U", 10, "x3"), ("D", 20, None)],
        ),
        # no-op deltas
        ([], []),
    ],
)
def test_refresh_join_matches_full_recompute(spark, da, db):
    assert _refresh(spark, da, db) == _full(spark, da, db)


def test_refresh_join_is_broadcast_only(spark):
    """The maintenance plan must broadcast the deltas — no
    sort-merge/shuffle join of the base or view sides. The view is
    materialized first (as in production, where it is a table): an
    unmaterialized view recomputes its own defining join inside the
    plan, which is not the maintenance path under test."""
    from skrub_spark.operators.cdc import refresh_join

    a, b, view = _ivm_frames(spark)
    view = spark.createDataFrame(view.collect(), view.schema)
    da = spark.createDataFrame(
        [("U", 1, 10, 50.0)], "op string, okey int, jk int, pa double"
    )
    out = refresh_join(
        view, a, b, da, None, a_key="okey", b_key="jk", on="jk"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ---------------------------------------------------------------------------
# Streaming late-data side output
# ---------------------------------------------------------------------------


def _run_late_stream(spark, tmp_path, rows, *, window_us, lateness_us):
    """rows: (event_id, key, ts_us); batch 0 = even ids, batch 1 =
    odd ids. Returns (summed agg dict, late id set)."""
    import glob
    import os as _os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from skrub_spark.streaming.ops import streaming_late_data

    df = spark.createDataFrame(
        rows, "event_id long, key string, ts_us long"
    )
    src = str(tmp_path / f"src_{uuid.uuid4().hex[:6]}")
    _os.makedirs(src)
    for i, part in enumerate(
        (df.filter("event_id % 2 = 0"), df.filter("event_id % 2 = 1"))
    ):
        d = src + f"_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = _os.path.join(src, f"b{i}.parquet")
        shutil.copyfile(glob.glob(_os.path.join(d, "part-*.parquet"))[0], dst)
        _os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "late_test_" + uuid.uuid4().hex[:6]
    q = (
        streaming_late_data(
            stream,
            "key",
            "ts_us",
            "event_id",
            window_us=window_us,
            lateness_us=lateness_us,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    mem = spark.table(name)
    agg = {
        (r["key"], r["window_start_us"]): r["n"]
        for r in mem.where("kind = 'agg'")
        .groupBy("key", "window_start_us")
        .agg(F.sum("n_rows").cast("long").alias("n"))
        .collect()
    }
    late = {r["late_id"] for r in mem.where("kind = 'late'").collect()}
    return agg, late


def test_late_data_quarantines_planted_rows(spark, tmp_path):
    """Rows older than (max prior event time - lateness) land in the
    quarantine output; on-time counts exclude exactly them."""
    w, lateness = 100, 50
    rows = (
        # batch 0 (even ids): ts up to 1000 -> watermark = 950
        [(0, "a", 950), (2, "a", 1000), (4, "a", 120)]
        # batch 1 (odd ids): 955 is inside lateness (>= 950); 10 and
        # 899 are late (< 950); 1100 advances the clock
        + [(1, "a", 955), (3, "a", 10), (5, "a", 899), (7, "a", 1100)]
    )
    agg, late = _run_late_stream(
        spark, tmp_path, rows, window_us=w, lateness_us=lateness
    )
    assert late == {3, 5}
    # on-time rows: 950,1000,120 (batch 0) + 955,1100 (batch 1)
    assert agg == {
        ("a", 900): 2,
        ("a", 1000): 1,
        ("a", 100): 1,
        ("a", 1100): 1,
    }


def test_late_data_no_late_equals_batch_agg(spark, tmp_path):
    """With nothing late, the summed partial counts equal the batch
    tumbling-window aggregation bit-for-bit."""
    w = 100
    rows = [
        (i, "k" + str(i % 2), 1000 + i * 37) for i in range(40)
    ]  # odd batch has LARGER ts than even max? ensure no late: use
    # monotone-by-batch ts: evens 1000.., odds all >= even max
    rows = [
        (i, "g", (1000 + i * 3) if i % 2 == 0 else (2000 + i * 3))
        for i in range(40)
    ]
    agg, late = _run_late_stream(
        spark, tmp_path, rows, window_us=w, lateness_us=10
    )
    assert late == set()
    import collections

    ref = collections.Counter(
        ("g", (ts // w) * w) for _, _, ts in rows
    )
    assert agg == dict(ref)


def test_late_data_first_batch_never_late(spark, tmp_path):
    """No prior state -> batch-0 rows are never quarantined, however
    old; keys appearing only in batch 1 are also never late."""
    rows = [(0, "a", 5), (2, "a", 99999), (1, "b", 7)]
    agg, late = _run_late_stream(
        spark, tmp_path, rows, window_us=10, lateness_us=1
    )
    assert late == set()
    assert sum(v for (k, _), v in agg.items() if k == "a") == 2
    assert sum(v for (k, _), v in agg.items() if k == "b") == 1


# ---------------------------------------------------------------------------
# CCNet buckets + UniMax allocation
# ---------------------------------------------------------------------------


def test_ccnet_buckets_exact_terciles(spark):
    from skrub_spark.operators.lm_filter import ccnet_buckets

    rows = [(i, "en", float(i)) for i in range(9)] + [
        (100, "en", None),
        (200, "fr", 1.0),
        (201, "fr", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, avg_nll double"
    )
    out = ccnet_buckets(df, "lang", "avg_nll", "doc_id").collect()
    en = {r["doc_id"]: r["bucket"] for r in out if r["lang"] == "en"}
    # 9 scored docs -> exact thirds, ordered by nll
    assert [en[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    assert en[100] == "unscored"
    fr = {r["doc_id"]: r["bucket"] for r in out if r["lang"] == "fr"}
    # 2 docs over 3 buckets: rank rule gives head + middle... exact:
    # ((1-1)*3)//2 = 0 head, ((2-1)*3)//2 = 1 middle
    assert fr == {200: "head", 201: "middle"}


def test_unimax_waterfill_cap_and_share(spark):
    from skrub_spark.operators.sampling import unimax_allocation

    rows = (
        [("tiny", i) for i in range(10)]
        + [("mid", i) for i in range(100)]
        + [("big", i) for i in range(1000)]
    )
    df = spark.createDataFrame(rows, "s string, i int")
    out = {
        r["s"]: (r["n_rows"], r["allocation"], r["epochs"])
        for r in unimax_allocation(
            df, "s", budget=900, max_epochs=2
        ).collect()
    }
    # ascending scan: tiny gets min(2*10, 900//3)=20 (cap binds),
    # mid gets min(200, 880//2)=200 (cap binds), big gets
    # min(2000, 680//1)=680 (share binds)
    assert out["tiny"] == (10, 20, 2.0)
    assert out["mid"] == (100, 200, 2.0)
    assert out["big"] == (1000, 680, 0.68)
    assert sum(v[1] for v in out.values()) == 900


def test_unimax_budget_exceeds_caps(spark):
    """When the budget exceeds every stratum's cap, each stratum is
    capped at max_epochs * n (leftover budget goes unspent)."""
    from skrub_spark.operators.sampling import unimax_allocation

    df = spark.createDataFrame(
        [("a", 1)] * 5 + [("b", 1)] * 10, "s string, i int"
    )
    out = {
        r["s"]: r["allocation"]
        for r in unimax_allocation(
            df, "s", budget=10_000, max_epochs=3
        ).collect()
    }
    assert out == {"a": 15, "b": 30}


def test_unimax_validation(spark):
    from skrub_spark.operators.sampling import unimax_allocation

    df = spark.createDataFrame([("a", 1)], "s string, i int")
    with pytest.raises(ValueError):
        unimax_allocation(df, "s", budget=-1)
    with pytest.raises(ValueError):
        unimax_allocation(df, "s", budget=10, max_epochs=0)


# ---------------------------------------------------------------------------
# k-center coreset
# ---------------------------------------------------------------------------


def test_kcenter_matches_greedy_reference(spark):
    """The distributed selection must equal a driver-side greedy
    farthest-point reference over the same micro-quantized metric,
    including the lowest-id tie-break."""
    import itertools

    vecs = {
        0: [0.0, 0.0],
        1: [1.0, 0.0],
        2: [0.0, 1.0],
        3: [10.0, 10.0],
        4: [10.0, 10.0],  # exact duplicate of 3 -> tie-break on id
        5: [5.0, 5.0],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    from skrub_spark.similarity.mining import kcenter_select

    got = [
        (r["rank"], r["vec_id"], r["mind2"])
        for r in sorted(
            kcenter_select(df, "vec_id", "embedding", k=4).collect()
        )
    ]
    # reference greedy in exact ints (micro = x * 1e6)
    q = {i: [round(x * 1e6) for x in v] for i, v in vecs.items()}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    chosen = [0]
    expect = [(1, 0, None)]
    mind = {i: d2(q[i], q[0]) for i in q if i != 0}
    for r in range(2, 5):
        best = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))
        expect.append((r, best[0], best[1]))
        chosen.append(best[0])
        del mind[best[0]]
        for i in mind:
            mind[i] = min(mind[i], d2(q[i], q[best[0]]))
    assert got == expect
    # the duplicate of an already-chosen point is never picked early
    assert got[1][1] == 3 and 4 not in [g[1] for g in got[:3]]
    del itertools


def test_kcenter_partitioning_invariance(spark):
    from skrub_spark.similarity.mining import kcenter_select

    rows = [
        (i, [float((i * 7) % 13), float((i * 3) % 11), float(i % 5)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        tuple(r) for r in kcenter_select(df, "vec_id", "embedding", k=5).collect()
    )
    b = sorted(
        tuple(r)
        for r in kcenter_select(
            df.repartition(7), "vec_id", "embedding", k=5
        ).collect()
    )
    assert a == b


def test_kcenter_validation(spark):
    from skrub_spark.similarity.mining import kcenter_select

    df = spark.createDataFrame(
        [(0, [1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        kcenter_select(df, "vec_id", "embedding", k=0)
    with pytest.raises(ValueError, match="seed"):
        kcenter_select(df, "vec_id", "embedding", k=1, seed_id=99)


# ---------------------------------------------------------------------------
# Time-decay attribution + propensity matching
# ---------------------------------------------------------------------------


def test_time_decay_attribution_weights(spark):
    """A touch one half-life older earns half the weight; credits
    normalize to 1 per conversion; no-touch conversions emit one
    NULL row."""
    import datetime as dt

    from skrub_spark.operators.intervals import attribution_time_decay

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    h = dt.timedelta(days=1)
    rows = [
        (1, t0 - 2 * h, 1, "view"),   # weight 0.25
        (1, t0 - h, 2, "click"),      # weight 0.5
        (1, t0, 3, "purchase"),
        (2, t0, 4, "purchase"),       # no touches
    ]
    df = spark.createDataFrame(
        rows, "user long, ts timestamp, eid long, state string"
    )
    out = attribution_time_decay(
        df, "user", "ts", "eid", "state",
        conversion="purchase",
        lookback_us=7 * 86_400_000_000,
        halflife_us=86_400_000_000,
    ).collect()
    u1 = sorted(
        (r["touch_id"], r["weight"], r["credit"])
        for r in out
        if r["entity"] == 1
    )
    assert u1 == [
        (1, pytest.approx(0.25), pytest.approx(1 / 3)),
        (2, pytest.approx(0.5), pytest.approx(2 / 3)),
    ]
    u2 = [r for r in out if r["entity"] == 2]
    assert len(u2) == 1 and u2[0]["touch_id"] is None
    assert u2[0]["credit"] is None


def test_psm_matches_nearest_within_caliper(spark):
    from skrub_spark.report.experiment import psm_match

    rows = [
        # treated
        (1, True, 0.50),
        (2, True, 0.90),   # nothing within caliper
        (3, True, 0.30),   # exact tie between controls 12 and 13
        # controls
        (10, False, 0.51),
        (11, False, 0.46),
        (12, False, 0.31),
        (13, False, 0.29),
        (14, False, 0.70),
    ]
    df = spark.createDataFrame(rows, "uid long, t boolean, s double")
    out = {
        r["treated_id"]: (r["control_id"], r["dist"])
        for r in psm_match(df, "uid", "t", "s", caliper=0.05).collect()
    }
    assert out[1] == (10, pytest.approx(0.01))
    assert out[2] == (None, None)  # caliper excludes 0.70 and all
    assert out[3][0] == 12  # tie at dist 0.01 -> lower control id
    assert out[3][1] == pytest.approx(0.01)


def test_psm_blocking_equals_bruteforce(spark):
    """Bucket blocking must not lose any within-caliper candidate:
    compare against a brute-force argmin over all pairs."""
    from skrub_spark.report.experiment import psm_match

    rows = [(i, i % 3 == 0, round(0.001 * ((i * 37) % 997), 6)) for i in range(200)]
    df = spark.createDataFrame(rows, "uid long, t boolean, s double")
    got = {
        r["treated_id"]: (r["control_id"], r["dist"])
        for r in psm_match(df, "uid", "t", "s", caliper=0.01).collect()
    }
    treated = [(i, s) for i, t, s in rows if t]
    controls = [(i, s) for i, t, s in rows if not t]
    for tid, ts in treated:
        cands = sorted(
            (abs(round(ts * 1e6) - round(cs * 1e6)), cid)
            for cid, cs in controls
            if abs(round(ts * 1e6) - round(cs * 1e6)) <= 10000
        )
        if not cands:
            assert got[tid] == (None, None)
        else:
            d, cid = cands[0]
            assert got[tid][0] == cid
            assert got[tid][1] == pytest.approx(d / 1e6)


def test_doremi_smoothing_validation(spark):
    from skrub_spark.operators.doremi import doremi_weights

    with pytest.raises(ValueError, match="smoothing"):
        doremi_weights(
            _loss_frame(spark, [("a", 1.0, 0.5)]),
            "domain",
            "loss",
            "ref_loss",
            smoothing=1.0,
        )
