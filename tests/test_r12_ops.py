"""Round-12 operator contracts: best-fit-decreasing sequence
packing, checksum-validating PII, preference-pair construction (the
streaming decontamination gate's are in ``test_overlap.py``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# BFD packing
# ---------------------------------------------------------------------------


def _len_frame(spark, lengths, start_id=0):
    return spark.createDataFrame(
        [(start_id + i, int(l)) for i, l in enumerate(lengths)],
        "doc_id long, n_tok long",
    )


def test_bfd_capacity_respected_and_known_assignment(spark):
    """One shard, known lengths: BFD places 60,50,30,25,20 into bins
    of 100 as [60,30]=bin0? — derive by hand: decreasing order
    60,50,30,25,20. 60→bin0(rem40). 50→no fit in 40? fits (50>40 no)
    → bin1(rem50). 30→best fit = bin0 rem40→rem10. 25→bin1 rem50→25.
    20→bin1 rem25→5. Bins: 0={60,30}, 1={50,25,20}."""
    from skrub_spark.operators.packing import bfd_pack

    df = _len_frame(spark, [60, 50, 30, 25, 20])
    out = bfd_pack(
        df, "n_tok", "doc_id", capacity=100, n_shards=1, salt="k"
    ).collect()
    by_len = {r["n_tok"]: r["bin_id"] for r in out}
    assert by_len[60] == by_len[30] != by_len[50]
    assert by_len[50] == by_len[25] == by_len[20]
    fills = {}
    for r in out:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tok"]
    assert all(v <= 100 for v in fills.values())


def test_bfd_best_fit_not_first_fit(spark):
    """Distinguish BFD from FFD: lengths 70, 60, 30 with capacity
    100. Decreasing: 70(bin0 rem30), 60(bin1 rem40), 30 — first fit
    would take bin0? rem30 fits exactly; BEST fit also bin0 (rem30 <
    rem40). Use 70, 65, 30, 25: 70→b0(30), 65→b1(35), 30→best=b0
    (rem30 tighter than 35) → b0 full, 25→b1(rem35→10). FFD would
    give the same here; a true separator: 50,40,30 cap 100 —
    50→b0(50), 40→b0(rem50→10) best fit... need bins with different
    rems where first-opened has MORE room. 80→b0(20), 50→b1(50),
    20→best-fit picks b0 (rem20 exact) not b1; first-fit ALSO picks
    b0. BFD≠FFD needs: bins rem [30, 20], item 15 → BFD picks rem20
    bin (second), FFD picks rem30 bin (first). Build: cap 100, items
    70, 80, 15: 80→b0(rem20), 70→b1(rem30), 15→BFD: b0 (rem20).
    """
    from skrub_spark.operators.packing import bfd_pack

    df = _len_frame(spark, [70, 80, 15])
    out = bfd_pack(
        df, "n_tok", "doc_id", capacity=100, n_shards=1, salt="k"
    ).collect()
    by_len = {r["n_tok"]: r["bin_id"] for r in out}
    # 80 opens bin0; 70 opens bin1; 15 best-fits into 80's bin
    assert by_len[15] == by_len[80]
    assert by_len[15] != by_len[70]


def test_bfd_padding_beats_naive_next_fit(spark):
    """On a mixed-length corpus, BFD's bin count (= padding) must
    beat arrival-order next-fit packing."""
    from skrub_spark.operators.packing import bfd_pack

    lengths = [((i * 37) % 90) + 8 for i in range(300)]
    df = _len_frame(spark, lengths)
    out = bfd_pack(
        df, "n_tok", "doc_id", capacity=128, n_shards=4, salt="p"
    ).collect()
    n_bins_bfd = len({(r["shard"], r["bin_id"]) for r in out})
    # naive next-fit in doc_id order, same shards
    shards = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        shards.setdefault(r["shard"], []).append(r["n_tok"])
    n_bins_naive = 0
    for ls in shards.values():
        rem = -1
        for l in ls:
            if l > rem:
                n_bins_naive += 1
                rem = 128
            rem -= l
    assert n_bins_bfd < n_bins_naive


def test_bfd_shard_invariance_and_null_oversize(spark):
    from skrub_spark.operators.packing import bfd_pack

    rows = [(i, ((i * 53) % 140) + 1) for i in range(150)] + [
        (900, None)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    kw = dict(capacity=96, n_shards=4, salt="inv")
    a = sorted(
        map(
            tuple,
            bfd_pack(df.repartition(13), "n_tok", "doc_id", **kw)
            .fillna(-1)
            .collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            bfd_pack(df.coalesce(1), "n_tok", "doc_id", **kw)
            .fillna(-1)
            .collect(),
        )
    )
    assert a == b
    oversize = {r for r in a if r[1] != -1 and r[1] > 96}
    assert all(r[3] == -1 for r in oversize)  # bin_id NULL
    null_len = [r for r in a if r[1] == -1]
    assert len(null_len) == 1 and null_len[0][3] == -1


def test_bfd_negative_length_raises(spark):
    from skrub_spark.operators.packing import bfd_pack

    df = _len_frame(spark, [10, -3])
    with pytest.raises(Exception, match="negative"):
        bfd_pack(
            df, "n_tok", "doc_id", capacity=96, n_shards=1, salt="n"
        ).collect()


def test_bfd_validates_params(spark):
    from skrub_spark.operators.packing import bfd_pack

    df = _len_frame(spark, [10])
    with pytest.raises(ValueError):
        bfd_pack(df, "n_tok", "doc_id", capacity=0)
    with pytest.raises(ValueError):
        bfd_pack(df, "n_tok", "doc_id", capacity=10, n_shards=0)


def test_packing_report_exact(spark):
    from skrub_spark.operators.packing import bfd_pack, packing_report

    df = _len_frame(spark, [60, 50, 30, 25, 20, 200])
    packed = bfd_pack(
        df, "n_tok", "doc_id", capacity=100, n_shards=1, salt="k"
    )
    r = packing_report(packed, "n_tok", 100).collect()[0]
    assert r["n_bins"] == 2
    assert r["n_seqs"] == 5
    assert r["used_tokens"] == 185
    assert r["alloc_tokens"] == 200
    assert r["n_unpacked"] == 1
    assert abs(r["padding_frac"] - (1 - 185 / 200)) < 1e-12


# ---------------------------------------------------------------------------
# Checksum-validating PII
# ---------------------------------------------------------------------------


def test_luhn_known_values(spark):
    from skrub_spark.functions.text import luhn_valid

    cases = [
        ("4111111111111111", True),
        ("5500005555555559", True),
        ("6011000990139424", True),
        ("4111111111111112", False),
        ("1234567890123456", False),
        ("79927398713", True),   # the canonical Luhn example
        ("79927398710", False),
        ("", False),
        ("abc", False),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {
        r["s"]: r["ok"]
        for r in df.select("s", luhn_valid("s").alias("ok")).collect()
    }
    for s, want in cases:
        assert got[s] == want, s


def test_iban_known_values(spark):
    from skrub_spark.functions.text import iban_valid

    cases = [
        ("DE89370400440532013000", True),
        ("GB82WEST12345698765432", True),
        ("FR1420041010050500013M02606", True),
        ("DE89370400440532013001", False),
        ("GB82WEST12345698765431", False),
        ("de89370400440532013000", False),  # lowercase fails
        ("DE8937", False),  # too short
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {
        r["s"]: r["ok"]
        for r in df.select("s", iban_valid("s").alias("ok")).collect()
    }
    for s, want in cases:
        assert got[s] == want, s


def test_checksum_redaction_composition(spark):
    """Valid PAN/IBAN → tokens; invalid ones survive the checksum
    pass; composing redact_pii afterwards turns the surviving
    digit runs into <PHONE> but never eats a validated <CARD>."""
    from skrub_spark.functions.text import redact_pii, redact_pii_checksum

    text = (
        "pay 4111111111111111 or 4111 1111 1111 1111 "
        "order 1234567890123456 iban DE89370400440532013000 "
        "bad DE89370400440532013001 end"
    )
    df = spark.createDataFrame([(text,)], "text string")
    r1 = df.select(
        redact_pii_checksum("text").alias("r")
    ).collect()[0]["r"]
    assert r1.count("<CARD>") == 2
    assert "<IBAN>" in r1
    assert "1234567890123456" in r1  # invalid PAN untouched
    assert "DE89370400440532013001" in r1  # invalid IBAN untouched
    r2 = df.select(
        redact_pii(redact_pii_checksum("text")).alias("r")
    ).collect()[0]["r"]
    assert r2.count("<CARD>") == 2  # phones never eat validated PANs
    assert "<PHONE>" in r2  # the invalid PAN falls through to phone
    assert "1234567890123456" not in r2


def test_checksum_redaction_no_overfire(spark):
    """A 16-digit order id that fails Luhn must NOT be redacted by
    the checksum pass (the exact over-fire redact_pii has)."""
    from skrub_spark.functions.text import redact_pii_checksum

    df = spark.createDataFrame(
        [("order 1111111111111111 ok",)], "text string"
    )
    r = df.select(redact_pii_checksum("text").alias("r")).collect()[0]
    assert r["r"] == "order 1111111111111111 ok"


# ---------------------------------------------------------------------------
# Preference pairs
# ---------------------------------------------------------------------------


def _resp_frame(spark, rows):
    return spark.createDataFrame(rows, "prompt string, resp string, rnk long")


def test_preference_pairs_best_vs_rest_and_ties(spark):
    from skrub_spark.operators.sft import preference_pairs

    rows = [
        ("p1", "best answer", 1),
        ("p1", "ok answer", 2),
        ("p1", "also rank two", 2),  # tie with ok answer
        ("p1", "bad answer", 3),
        ("p2", "solo", 1),  # no pair possible
    ]
    out = preference_pairs(
        _resp_frame(spark, rows), "prompt", "resp", "rnk"
    ).collect()
    got = {(r["chosen"], r["rejected"]) for r in out}
    assert got == {
        ("best answer", "ok answer"),
        ("best answer", "also rank two"),
        ("best answer", "bad answer"),
    }
    # ties never pair with each other
    assert ("ok answer", "also rank two") not in got


def test_preference_pairs_strategies(spark):
    from skrub_spark.operators.sft import preference_pairs

    rows = [
        ("p", "a", 1),
        ("p", "b", 2),
        ("p", "c", 3),
    ]
    adj = {
        (r["chosen"], r["rejected"])
        for r in preference_pairs(
            _resp_frame(spark, rows), "prompt", "resp", "rnk",
            strategy="adjacent",
        ).collect()
    }
    assert adj == {("a", "b"), ("b", "c")}
    al = {
        (r["chosen"], r["rejected"])
        for r in preference_pairs(
            _resp_frame(spark, rows), "prompt", "resp", "rnk",
            strategy="all",
        ).collect()
    }
    assert al == {("a", "b"), ("a", "c"), ("b", "c")}
    with pytest.raises(ValueError):
        preference_pairs(
            _resp_frame(spark, rows), "prompt", "resp", "rnk",
            strategy="nope",
        )


def test_preference_pairs_dedup(spark):
    from skrub_spark.operators.sft import preference_pairs

    rows = [
        ("p1", "CANNED", 1),   # cross-prompt duplicate → dropped
        ("p2", "CANNED", 1),
        ("p1", "real one", 2),
        ("p1", "real two", 3),
        ("p1", "real two", 1),  # within-prompt dup → best rank wins
        ("p2", "other", 2),
    ]
    out = preference_pairs(
        _resp_frame(spark, rows), "prompt", "resp", "rnk"
    ).collect()
    texts = {r["chosen"] for r in out} | {r["rejected"] for r in out}
    assert "CANNED" not in texts
    # p1 after dedup: real two@1, real one@2 → one pair
    got = {(r["prompt"], r["chosen"], r["rejected"]) for r in out}
    assert got == {("p1", "real two", "real one")}
    # dedup off keeps canned pairs
    out2 = preference_pairs(
        _resp_frame(spark, rows), "prompt", "resp", "rnk",
        dedup_across_prompts=False,
    ).collect()
    assert any(
        r["chosen"] == "CANNED" or r["rejected"] == "CANNED" for r in out2
    )


def test_preference_pairs_length_matched_controls_bias(spark):
    """Planted length bias: chosen always much longer than rejected
    EXCEPT equal-length control pairs. The full-set bias report
    reads chosen_longer_rate 0.75; the length_matched subset reads
    0.0 — the control separates quality signal from the length
    confound."""
    from skrub_spark.operators.sft import (
        preference_bias_report, preference_pairs,
    )

    rows = []
    for p in range(20):
        rows.append((f"p{p}", "x" * 100 + f" uniq{p}", 1))
        rows.append((f"p{p}", f"short {p}", 2))  # much shorter
        rows.append((f"p{p}", "y" * 100 + f" uneq{p}", 3))  # same len
        rows.append((f"p{p}", "z" * 30 + f" mid{p}", 4))
    pairs = preference_pairs(
        spark.createDataFrame(rows, "prompt string, resp string, rnk long"),
        "prompt", "resp", "rnk", length_match_tol=0,
    )
    full = preference_bias_report(pairs, "chosen", "rejected").collect()[0]
    assert full["n_pairs"] == 60
    # the report rounds to 6dp
    assert abs(full["chosen_longer_rate"] - 2 / 3) < 1e-6
    ctl = preference_bias_report(
        pairs.where("length_matched"), "chosen", "rejected"
    ).collect()[0]
    assert ctl["n_pairs"] == 20
    assert ctl["chosen_longer_rate"] == 0.0


def test_preference_pairs_partitioning_invariant(spark):
    from skrub_spark.operators.sft import preference_pairs

    rows = [
        (f"p{i % 7}", f"resp {i} " + "w" * (i % 13), (i % 5) + 1)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "prompt string, resp string, rnk long")
    a = sorted(
        map(tuple, preference_pairs(
            df.repartition(11), "prompt", "resp", "rnk"
        ).collect())
    )
    b = sorted(
        map(tuple, preference_pairs(
            df.coalesce(1), "prompt", "resp", "rnk"
        ).collect())
    )
    assert a == b


# ---------------------------------------------------------------------------
# ADVICE r11 regressions
# ---------------------------------------------------------------------------


def test_doremi_overflow_raises_clear_error(spark):
    """Raw perplexities instead of log-losses must fail loudly, not
    TypeError on a NULL decimal."""
    from skrub_spark.operators.doremi import doremi_weights

    rows = [("web", 5000.0, 10.0), ("code", 40.0, 10.0)]
    df = spark.createDataFrame(
        rows, "domain string, loss double, ref_loss double"
    )
    with pytest.raises(
        ValueError, match="overflow.*log-space losses"
    ):
        doremi_weights(df, "domain", "loss", "ref_loss", eta=1.0)


def test_psm_null_score_treated_kept(spark):
    from skrub_spark.report.experiment import psm_match

    rows = [
        (1, True, 0.5),
        (2, True, None),  # NULL-score treated: row must survive
        (3, False, 0.5001),
        (4, False, None),  # NULL-score control: never matches
    ]
    df = spark.createDataFrame(
        rows, "uid long, t boolean, score double"
    )
    out = {
        r["treated_id"]: r
        for r in psm_match(df, "uid", "t", "score", caliper=0.01).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["control_id"] == 3
    assert out[2]["control_id"] is None
    assert out[2]["t_score"] is None


def test_kcenter_stops_on_duplicate_vectors(spark):
    from skrub_spark.similarity.mining import kcenter_select

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0]),
         (4, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = kcenter_select(df, "vec_id", "embedding", k=4).collect()
    ids = [r["vec_id"] for r in out]
    # only 2 distinct vectors exist: selection stops at 2, no
    # duplicate ids
    assert len(ids) == len(set(ids)) == 2
    assert ids == [1, 3]


def test_unimax_empty_and_integer_strata(spark):
    from skrub_spark.operators.sampling import unimax_allocation

    empty = spark.createDataFrame([], "s string, i int")
    assert unimax_allocation(empty, "s", budget=100).count() == 0
    # integer strata with EQUAL counts: the tie must break on the
    # native value (2 before 10), so stratum 2 is visited first and
    # absorbs the remainder rounding
    rows = [(2, i) for i in range(5)] + [(10, i) for i in range(5)]
    df = spark.createDataFrame(rows, "s int, i int")
    out = {
        r["s"]: r["allocation"]
        for r in unimax_allocation(df, "s", budget=9, max_epochs=4)
        .collect()
    }
    # scan: s=2 first (9 DIV 2 = 4), then s=10 gets 5
    assert out == {2: 4, 10: 5}


def test_attribution_time_decay_validates(spark):
    from skrub_spark.operators.intervals import attribution_time_decay

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, "click")],
        "user_id long, ts string, event_id long, state string",
    ).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "state",
    )
    with pytest.raises(ValueError, match="halflife|lookback"):
        attribution_time_decay(
            df, "user_id", "ts", "event_id", "state",
            conversion="purchase", lookback_us=1000, halflife_us=0,
        )
    with pytest.raises(ValueError, match="halflife|lookback"):
        attribution_time_decay(
            df, "user_id", "ts", "event_id", "state",
            conversion="purchase", lookback_us=0, halflife_us=1000,
        )


# ---------------------------------------------------------------------------
# ROUGE / BLEU
# ---------------------------------------------------------------------------


def test_rouge_known_values(spark):
    from skrub_spark.report.texteval import rouge_n

    pairs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "the cat sat on the mat"),
            (2, "aa bb cc", "dd ee ff"),
            (3, "xy", "ab cd"),  # cand too short for bigrams
        ],
        "pid long, cand string, ref string",
    )
    out = {
        r["pid"]: r
        for r in rouge_n(pairs, "cand", "ref", "pid", n=2).collect()
    }
    assert out[1]["precision"] == out[1]["recall"] == out[1]["f1"] == 1.0
    assert out[1]["overlap"] == 5
    assert out[2]["overlap"] == 0 and out[2]["f1"] == 0.0
    assert out[3]["n_cand"] == 0 and out[3]["precision"] is None
    # clipping: repeated candidate gram can't overlap more than ref has
    rep = spark.createDataFrame(
        [(1, "a b a b a b", "a b c")], "pid long, cand string, ref string"
    )
    r = rouge_n(rep, "cand", "ref", "pid", n=2).collect()[0]
    # cand bigrams: "a b"x3, "b a"x2; ref: "a b","b c" -> clipped = 1
    assert r["overlap"] == 1 and r["n_cand"] == 5


def test_bleu_identical_and_brevity(spark):
    from skrub_spark.report.texteval import bleu_corpus

    same = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8", "w1 w2 w3 w4 w5 w6 w7 w8")],
        "pid long, cand string, ref string",
    )
    r = bleu_corpus(same, "cand", "ref", "pid").collect()[0]
    assert r["bp"] == 1.0 and r["bleu"] == 1.0
    # short candidate: perfect precisions but BP < 1
    short = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")],
        "pid long, cand string, ref string",
    )
    r2 = bleu_corpus(short, "cand", "ref", "pid").collect()[0]
    assert r2["p4"] == 1.0
    assert r2["bp"] < 1.0
    assert abs(r2["bleu"] - r2["bp"]) < 1e-6
    # any zero p_k -> NULL bleu (no smoothing)
    zero = spark.createDataFrame(
        [(1, "a b c d", "a x b y c z d q")],
        "pid long, cand string, ref string",
    )
    r3 = bleu_corpus(zero, "cand", "ref", "pid").collect()[0]
    assert r3["bleu"] is None


# ---------------------------------------------------------------------------
# Reservoir samplers
# ---------------------------------------------------------------------------


def test_reservoir_exact_k_and_invariant(spark):
    from skrub_spark.operators.sampling import reservoir_sample

    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    a = {r["k"] for r in reservoir_sample(df, "k", 50, "s").collect()}
    b = {
        r["k"]
        for r in reservoir_sample(
            df.repartition(13), "k", 50, "s"
        ).collect()
    }
    assert len(a) == 50 and a == b
    # different salt -> different (decorrelated) sample
    c = {r["k"] for r in reservoir_sample(df, "k", 50, "t").collect()}
    assert a != c
    # k > n returns all rows; k = 0 none
    assert reservoir_sample(df, "k", 1000, "s").count() == 500
    assert reservoir_sample(df, "k", 0, "s").count() == 0


def test_reservoir_plan_no_global_sort(spark):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject —
    per-partition heaps, never a full Exchange+Sort of the corpus."""
    from skrub_spark.operators.sampling import reservoir_sample

    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    plan = (
        reservoir_sample(df.repartition(8), "k", 5, "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_weighted_reservoir_proportional_and_guards(spark):
    from skrub_spark.operators.sampling import weighted_reservoir_sample

    # two weight classes: heavy rows (w=50) must dominate the
    # sample over light rows (w=1) -- E-S inclusion scales with w
    rows = [(i, 50.0) for i in range(100)] + [
        (i + 1000, 1.0) for i in range(100)
    ] + [(5000, None), (5001, 0.0), (5002, -3.0)]
    df = spark.createDataFrame(rows, "k long, w double")
    out = [
        r["k"]
        for r in weighted_reservoir_sample(df, "k", "w", 60, "s").collect()
    ]
    assert len(out) == 60
    heavy = sum(1 for k in out if k < 1000)
    assert heavy > 45  # ~58 expected; wildly above the uniform 30
    assert not any(k >= 5000 for k in out)  # null/zero/neg excluded
    # invariance
    out2 = {
        r["k"]
        for r in weighted_reservoir_sample(
            df.repartition(7), "k", "w", 60, "s"
        ).collect()
    }
    assert set(out) == out2


# ---------------------------------------------------------------------------
# Damerau-Levenshtein
# ---------------------------------------------------------------------------


def test_dl_bit_identical_to_duckdb():
    """Full DL (Lowrance-Wagner), not OSA: pinned pairwise to
    DuckDB's builtin over a random sweep + the OSA-separating
    canonical case."""
    import random

    import duckdb

    from skrub_spark.functions.text import damerau_levenshtein_py

    assert damerau_levenshtein_py("ca", "abc") == 2  # OSA would say 3
    assert damerau_levenshtein_py("ab", "ba") == 1
    assert damerau_levenshtein_py("kitten", "sitting") == 3
    assert damerau_levenshtein_py("", "abc") == 3
    assert damerau_levenshtein_py(None, "x") is None
    con = duckdb.connect()
    rng = random.Random(7)
    for _ in range(4000):
        a = "".join(
            rng.choice("abcde") for _ in range(rng.randint(0, 8))
        )
        b = "".join(
            rng.choice("abcde") for _ in range(rng.randint(0, 8))
        )
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        assert damerau_levenshtein_py(a, b) == want, (a, b)


def test_dl_join_blocked_and_capped(spark):
    from skrub_spark.dedup.strings import damerau_levenshtein_join

    rows = [
        ("alpha green box",),
        ("alpha gren box",),   # deletion: 1
        ("alpha grene box",),  # transposition: 1
        ("beta green box",),   # different block
    ]
    df = spark.createDataFrame(rows, "name string")
    out = {
        (r["name_a"], r["name_b"]): r["dl"]
        for r in damerau_levenshtein_join(
            df, df, "name", "name", max_dist=2
        ).collect()
    }
    assert out[("alpha green box", "alpha gren box")] == 1
    assert out[("alpha gren box", "alpha grene box")] == 1
    assert not any("beta" in a or "beta" in b for a, b in out)
    # hot-block cap drops the whole block
    assert (
        damerau_levenshtein_join(
            df, df, "name", "name", max_dist=2, max_block=2
        )
        .filter(F.col("name_a").startswith("alpha"))
        .count()
        == 0
    )


# ---------------------------------------------------------------------------
# Bradley-Terry arena ranking
# ---------------------------------------------------------------------------


def test_bradley_terry_recovers_planted_order(spark):
    from skrub_spark.operators.arena import bradley_terry

    rows = (
        [("A", "B")] * 9 + [("B", "A")] * 1
        + [("B", "C")] * 9 + [("C", "B")] * 1
        + [("A", "C")] * 9 + [("C", "A")] * 1
    )
    df = spark.createDataFrame(rows, "w string, l string")
    out = {r["item"]: r for r in bradley_terry(df, "w", "l").collect()}
    assert out["A"]["score"] > out["B"]["score"] > out["C"]["score"]
    assert out["A"]["n_wins"] == 18 and out["A"]["n_battles"] == 20
    # normalization: mean strength 1 (sum = |items|) up to micro
    # flooring
    assert abs(sum(r["score"] for r in out.values()) - 3.0) < 1e-4


def test_bradley_terry_guards(spark):
    from skrub_spark.operators.arena import bradley_terry

    # self-battles and NULLs ignored; never-winner floors at 1e-6
    rows = [("A", "B"), ("A", "B"), ("A", "A"), (None, "B"), ("A", None)]
    df = spark.createDataFrame(rows, "w string, l string")
    out = {r["item"]: r for r in bradley_terry(df, "w", "l").collect()}
    assert set(out) == {"A", "B"}
    assert out["A"]["n_battles"] == 2
    assert out["B"]["n_wins"] == 0
    assert out["B"]["score"] >= 1e-6
    # empty input -> typed empty frame
    empty = spark.createDataFrame([], "w string, l string")
    assert bradley_terry(empty, "w", "l").count() == 0
    with pytest.raises(ValueError):
        bradley_terry(df, "w", "l", n_iter=0)


def test_bradley_terry_partitioning_invariant(spark):
    from skrub_spark.operators.arena import bradley_terry

    rows = [
        (f"m{i % 7}", f"m{(i * 3 + 1) % 7}")
        for i in range(300)
        if i % 7 != (i * 3 + 1) % 7
    ]
    df = spark.createDataFrame(rows, "w string, l string")
    a = sorted(map(tuple, bradley_terry(df.repartition(11), "w", "l").collect()))
    b = sorted(map(tuple, bradley_terry(df.coalesce(1), "w", "l").collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Inter-annotator agreement
# ---------------------------------------------------------------------------


def test_cohen_kappa_textbook(spark):
    from skrub_spark.report.agreement import cohen_kappa

    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert (r["po"], r["pe"], r["kappa"]) == (0.7, 0.5, 0.4)
    # perfect agreement -> 1; single shared category -> NULL
    perfect = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    assert cohen_kappa(perfect, "a", "b").collect()[0]["kappa"] is None
    two = spark.createDataFrame(
        [("x", "x"), ("y", "y")], "a string, b string"
    )
    assert two.count() == 2
    assert cohen_kappa(two, "a", "b").collect()[0]["kappa"] == 1.0


def test_fleiss_kappa_textbook(spark):
    """The canonical Fleiss (1971) worked example: 14 raters, 10
    items, 5 categories -> kappa 0.2099."""
    from skrub_spark.report.agreement import fleiss_kappa

    table = [
        [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0], [2, 2, 8, 1, 1], [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0], [2, 5, 3, 2, 2], [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    rows = []
    for i, row in enumerate(table):
        for cat, cnt in enumerate(row):
            rows += [(i, str(cat))] * cnt
    df = spark.createDataFrame(rows, "item long, rating string")
    r = fleiss_kappa(df, "item", "rating", n_raters=14).collect()[0]
    assert r["n_items"] == 10
    assert abs(r["kappa"] - 0.209931) < 1e-6
    # items with the wrong panel size are dropped
    extra = df.unionByName(
        spark.createDataFrame([(99, "0")], "item long, rating string")
    )
    r2 = fleiss_kappa(extra, "item", "rating", n_raters=14).collect()[0]
    assert r2["n_items"] == 10 and r2["kappa"] == r["kappa"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fleiss_kappa(df, "item", "rating", n_raters=1)


def test_adjusted_rand_index_known_values(spark):
    from skrub_spark.report.agreement import adjusted_rand_index

    def ari(la, lb):
        df = spark.createDataFrame(list(zip(la, lb)), "a int, b int")
        return adjusted_rand_index(df, "a", "b").collect()[0]["ari"]

    assert ari([0, 0, 1, 1], [0, 0, 1, 1]) == 1.0
    assert ari([0, 0, 1, 1], [1, 1, 0, 0]) == 1.0  # label-permutation invariant
    assert ari([0, 0, 1, 2], [0, 0, 1, 1]) == 0.571429  # sklearn doc value
    assert ari([0, 1, 2, 3], [0, 1, 2, 3]) is None  # degenerate singletons


def test_krippendorff_alpha_hand(spark):
    """Hand-computed variable-panel case: units (a,a), (a,b),
    (a,a,b) and one single-vote unit (dropped) -> Do = 4/7,
    De = 10/21, alpha = 1 - 84/70 = -0.2."""
    from skrub_spark.report.agreement import krippendorff_alpha

    rows = (
        [(1, "a"), (1, "a")]
        + [(2, "a"), (2, "b")]
        + [(3, "a"), (3, "a"), (3, "b")]
        + [(4, "a")]
    )
    df = spark.createDataFrame(rows, "u long, r string")
    r = krippendorff_alpha(df, "u", "r").collect()[0]
    assert r["n_units"] == 3 and r["n_ratings"] == 7
    assert r["do"] == 0.571429 and r["de"] == 0.47619
    assert r["alpha"] == -0.2


def test_krippendorff_alpha_edges(spark):
    from skrub_spark.report.agreement import krippendorff_alpha

    # perfect agreement across >=2 categories -> 1
    perfect = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "b")], "u long, r string"
    )
    assert (
        krippendorff_alpha(perfect, "u", "r").collect()[0]["alpha"]
        == 1.0
    )
    # single observed category -> NULL (chance saturates)
    one = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "a")], "u long, r string"
    )
    assert (
        krippendorff_alpha(one, "u", "r").collect()[0]["alpha"] is None
    )
    # units above max_raters are dropped
    big = spark.createDataFrame(
        [(1, "a")] * 9 + [(2, "a"), (2, "b")], "u long, r string"
    )
    r = krippendorff_alpha(big, "u", "r", max_raters=8).collect()[0]
    assert r["n_units"] == 1 and r["n_ratings"] == 2
    import pytest as _pt

    with _pt.raises(ValueError):
        krippendorff_alpha(one, "u", "r", max_raters=1)


def test_uplift_curve_hand(spark):
    """Planted 2-bucket case: treated convert at high scores,
    control at low -> top bucket qini 1.0, uplift 1/6; full-depth
    qini 0 (equal totals)."""
    from skrub_spark.report.experiment import uplift_curve

    rows = []
    pos_t = {4: 1, 3: 1, 2: 0, 1: 0}
    pos_c = {4: 0, 3: 0, 2: 1, 1: 1}
    for s in (1, 2, 3, 4):
        rows += [
            (s, 1, pos_t[s]),
            (s, 1, 0),
            (s, 0, pos_c[s]),
            (s, 0, 0),
        ]
    df = spark.createDataFrame(rows, "s int, t int, y int")
    out = {
        r["bucket"]: r
        for r in uplift_curve(df, "s", "t", "y", 2).collect()
    }
    top, full = out[1], out[0]
    assert (top["cum_n_t"], top["cum_n_c"]) == (6, 6)
    assert (top["cum_y_t"], top["cum_y_c"]) == (2, 1)
    assert top["uplift_cum"] == 0.166667 and top["qini"] == 1.0
    assert full["uplift_cum"] == 0.0 and full["qini"] == 0.0
    assert top["qini_random"] == 0.0 and full["qini_random"] == 0.0


def test_ipw_ate_hand(spark):
    """Constant propensity 0.5 -> IPW reduces to the plain
    difference of means; off-support units land in n_trimmed."""
    from skrub_spark.report.experiment import ipw_ate

    rows = (
        [(1, 1, 0.5), (1, 1, 0.5), (1, 0, 0.5), (1, 0, 0.5)]
        + [(0, 1, 0.5), (0, 0, 0.5), (0, 0, 0.5), (0, 0, 0.5)]
        + [(1, 1, 0.001), (0, 1, 0.999)]
    )
    df = spark.createDataFrame(rows, "t int, y int, e double")
    r = ipw_ate(df, "t", "y", "e", trim=0.05).collect()[0]
    assert r["n"] == 10 and r["n_trimmed"] == 2
    assert r["n_treated"] == 4 and r["n_control"] == 4
    assert r["mean_treated"] == 0.5 and r["mean_control"] == 0.25
    assert r["ate"] == 0.25
    import pytest as _pt

    with _pt.raises(ValueError):
        ipw_ate(df, "t", "y", "e", trim=0.7)


def test_t_closeness_hand(spark):
    """Hand case: group A = {x:1, y:2} of corpus {x:2, y:2, z:1}:
    entropy = ln(3) - (2 ln 2)/3, tvd = 1/2(|1/3-2/5| + |2/3-2/5|
    + |0-1/5|) = 4/15 -> risky_t at t=0.2; singleton-sensitive
    group B -> entropy 0, risky_l."""
    from skrub_spark.report.privacy import t_closeness_report

    import math

    rows = [("A", "x"), ("A", "y"), ("A", "y"), ("B", "x"), ("B", "z")]
    df = spark.createDataFrame(rows, "g string, s0 string")
    out = {
        r["g"]: r
        for r in t_closeness_report(
            df, ["g"], "s0", l=2, t=0.2
        ).collect()
    }
    a, b = out["A"], out["B"]
    assert a["n"] == 3 and a["l_distinct"] == 2
    assert a["entropy"] == round(math.log(3) - 2 * math.log(2) / 3, 6)
    assert a["tvd"] == round(4 / 15, 6)
    # entropy ln3 - 2ln2/3 = 0.6365 < ln(2): skew-flagged at l=2
    assert a["risky_t"] and a["risky_l"]
    assert b["n"] == 2 and b["l_distinct"] == 2
    # B = {x:1, z:1}: entropy ln(2) >= ln(2) -> not risky at l=2
    assert b["entropy"] == round(math.log(2), 6) and not b["risky_l"]
    # NULL sensitive is its own category
    withnull = spark.createDataFrame(
        [("A", "x"), ("A", None)], "g string, s0 string"
    )
    r = t_closeness_report(withnull, ["g"], "s0").collect()[0]
    assert r["l_distinct"] == 2
    import pytest as _pt

    with _pt.raises(ValueError):
        t_closeness_report(df, [], "s0")
    with _pt.raises(ValueError):
        t_closeness_report(df, ["g"], "s0", t=1.5)


def test_dp_histogram_properties(spark):
    """Determinism, seed-sensitivity, epsilon scaling, and the
    no-true-count release contract."""
    from skrub_spark.report.privacy import dp_histogram

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20
    df = spark.createDataFrame(rows, "g string")
    r1 = dp_histogram(df, ["g"], epsilon=1.0, seed="s1")
    assert r1.columns == ["g", "noisy_n", "dp_n", "epsilon"]
    a = {r["g"]: r for r in r1.collect()}
    b = {r["g"]: r for r in r1.collect()}
    assert a == b  # deterministic replay
    # same seed, re-built plan -> identical draw
    c = {
        r["g"]: r
        for r in dp_histogram(
            df, ["g"], epsilon=1.0, seed="s1"
        ).collect()
    }
    assert a == c
    # different seed -> different noise (overwhelmingly)
    d = {
        r["g"]: r
        for r in dp_histogram(
            df, ["g"], epsilon=1.0, seed="s2"
        ).collect()
    }
    assert any(a[g]["noisy_n"] != d[g]["noisy_n"] for g in a)
    # noise scales ~1/epsilon: same uniform, bigger epsilon ->
    # strictly smaller |noise|
    e = {
        r["g"]: r
        for r in dp_histogram(
            df, ["g"], epsilon=10.0, seed="s1"
        ).collect()
    }
    for g in a:
        n_true = {"a": 50, "b": 30, "c": 20}[g]
        big = abs(a[g]["noisy_n"] - n_true)
        small = abs(e[g]["noisy_n"] - n_true)
        assert small < big or (big == 0 and small == 0)
        assert a[g]["dp_n"] >= 0
    import pytest as _pt

    with _pt.raises(ValueError):
        dp_histogram(df, ["g"], epsilon=0.0)
    with _pt.raises(ValueError):
        dp_histogram(df, [], epsilon=1.0)


def test_rasch_prox_reference(spark):
    """Pure-Python PROX reference (same quantization) over a small
    mixed grid; plus ordering/extreme-drop invariants."""
    import math

    from skrub_spark.report.agreement import rasch_prox

    # persons p0..p3, items easy/hard/allpass; allpass is extreme
    rows = []
    grid = {
        ("p0", "easy"): [1, 1, 1, 0],
        ("p0", "hard"): [1, 0, 0, 0],
        ("p1", "easy"): [1, 1, 0, 0],
        ("p1", "hard"): [0, 0, 0, 1],
        ("p2", "easy"): [1, 0, 1, 1],
        ("p2", "hard"): [0, 0, 1, 0],
        ("p3", "easy"): [0, 1, 1, 1],
        ("p3", "hard"): [1, 1, 0, 0],
    }
    for (p, i), cs in grid.items():
        rows += [(p, i, c) for c in cs]
    rows += [(p, "allpass", 1) for p in ("p0", "p1", "p2", "p3")]
    df = spark.createDataFrame(rows, "p string, i string, c int")
    out = rasch_prox(df, "p", "i", "c").collect()
    kinds = {(r["kind"], r["id"]): r for r in out}
    assert ("item", "allpass") not in kinds  # extreme dropped
    # reference computation
    it_m = {}
    for (p, i), cs in grid.items():
        ni, si = it_m.get(i, (0, 0))
        it_m[i] = (ni + len(cs), si + sum(cs))
    q_i = {
        i: round(math.log((n - s) / s) * 1e6)
        for i, (n, s) in it_m.items()
    }
    qs, ki = sum(q_i.values()), len(q_i)
    mu = (2 * qs + ki) // (2 * ki) if qs >= 0 else -(
        (-2 * qs + ki) // (2 * ki)
    )
    d = {i: q - mu for i, q in q_i.items()}
    vd = sum(x * x for x in d.values()) / 1e12 / (ki - 1)
    pe_m = {}
    for (p, i), cs in grid.items():
        lp, rp = pe_m.get(p, (0, 0))
        pe_m[p] = (lp + len(cs), rp + sum(cs))
    q_p = {
        p: round(math.log(r / (n - r)) * 1e6)
        for p, (n, r) in pe_m.items()
    }
    kp = len(q_p)
    sq, sqq = sum(q_p.values()), sum(x * x for x in q_p.values())
    vb = (sqq - sq * sq / kp) / 1e12 / (kp - 1)
    den = 1.0 - vb * vd / 8.35
    exi = math.sqrt((1.0 + vb / 2.89) / den)
    exp_ = math.sqrt((1.0 + vd / 2.89) / den)
    for i in ("easy", "hard"):
        r = kinds[("item", i)]
        assert r["logit"] == round(d[i] / 1e6, 6)
        assert r["measure"] == round(d[i] / 1e6 * exi, 6)
    for p in ("p0", "p1", "p2", "p3"):
        r = kinds[("person", p)]
        assert r["measure"] == round(q_p[p] / 1e6 * exp_, 6)
    # easy item is easier (lower difficulty) than hard
    assert (
        kinds[("item", "easy")]["measure"]
        < kinds[("item", "hard")]["measure"]
    )


def test_ab_power_hand(spark):
    import math

    from skrub_spark.report.abtest import _Z_ALPHA, _Z_POWER, ab_power_report

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,)], "m double"
    )
    r = ab_power_report(
        df, "m", alpha=0.05, power=0.80, mde_rel=0.02
    ).collect()[0]
    z = _Z_ALPHA[0.05] + _Z_POWER[0.80]
    var = 20 / 12  # (n*Sxx - Sx^2)/(n(n-1)) exactly
    assert r["n"] == 4 and r["mean"] == 2.5
    assert r["variance"] == round(var, 6)
    mde = z * math.sqrt(2 * var / 2.0)
    assert r["mde_abs"] == round(mde, 6)
    assert r["mde_rel_achievable"] == round(mde / 2.5, 6)
    assert r["n_per_arm_target"] == math.ceil(
        2 * var * z * z / (2.5 * 0.02) ** 2
    )
    import pytest as _pt

    with _pt.raises(ValueError):
        ab_power_report(df, "m", alpha=0.03)
    with _pt.raises(ValueError):
        ab_power_report(df, "m", power=0.5)


def test_aipw_ate_reduces_to_diff_means(spark):
    """e=0.5 and zero outcome models -> AIPW == difference of
    means; SE from the influence function."""
    import math

    from skrub_spark.report.experiment import aipw_ate

    rows = (
        [(1, 1.0, 0.5, 0.0, 0.0)] * 2
        + [(1, 0.0, 0.5, 0.0, 0.0)] * 2
        + [(0, 1.0, 0.5, 0.0, 0.0)]
        + [(0, 0.0, 0.5, 0.0, 0.0)] * 3
        + [(1, 1.0, 0.001, 0.0, 0.0)]  # trimmed
    )
    df = spark.createDataFrame(
        rows, "t int, y double, e double, m1 double, m0 double"
    )
    r = aipw_ate(df, "t", "y", "e", "m1", "m0", trim=0.05).collect()[0]
    assert r["n"] == 9 and r["n_trimmed"] == 1
    assert r["ate"] == 0.25
    # psi: [2,2,0,0,-2,0,0,0]; var=(12-0.5)/7, se=sqrt(var/8)
    se = math.sqrt((12 - 4 / 8) / 7 / 8)
    assert r["se"] == round(se, 6)
    assert r["ci_lo"] == round(0.25 - 1.959963984540054 * se, 6)
    assert r["ci_hi"] == round(0.25 + 1.959963984540054 * se, 6)


def test_skipgram_pairs_window_and_subsample(spark):
    from skrub_spark.operators.collocations import skipgram_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], "doc_id long, text string"
    )
    # t=1.0 -> p_keep = min(1,(sqrt(f)+1)/f*...) >= 1: nothing drops
    out = {
        (r["center"], r["context"]): r["cnt"]
        for r in skipgram_pairs(
            docs, window=1, subsample_t=1.0, min_count=1
        ).collect()
    }
    assert out[("a", "b")] == 2 and out[("b", "a")] == 2
    assert out[("b", "c")] == 1 and out[("c", "b")] == 1
    assert ("a", "c") not in out  # window 1 only adjacents
    # window 2 reaches two steps
    out2 = {
        (r["center"], r["context"]): r["cnt"]
        for r in skipgram_pairs(
            docs, window=2, subsample_t=1.0, min_count=1
        ).collect()
    }
    assert out2[("a", "c")] == 1 and out2[("b", "d")] == 1
    # aggressive subsampling drops occurrences of the frequent word
    big = spark.createDataFrame(
        [(i, "the quick " + "the " * 30) for i in range(40)],
        "doc_id long, text string",
    )
    full = (
        skipgram_pairs(big, window=1, subsample_t=1.0, min_count=1)
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    sub = (
        skipgram_pairs(big, window=1, subsample_t=1e-6, min_count=1)
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    assert sub is None or sub < full
    import pytest as _pt

    with _pt.raises(ValueError):
        skipgram_pairs(docs, window=0)
    with _pt.raises(ValueError):
        skipgram_pairs(docs, subsample_t=0.0)


def test_wasserstein_hand(spark):
    from skrub_spark.report.drift import wasserstein_1d

    ref = spark.createDataFrame([(0.0,), (1.0,)], "x double")
    cur = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    r = wasserstein_1d(ref, cur, "x").collect()[0]
    # shifting a distribution by 1 moves W1 by exactly 1
    assert r["w1"] == 1.0 and r["w1_norm"] == 0.5
    assert r["n_ref"] == 2 and r["n_cur"] == 2
    same = wasserstein_1d(ref, ref, "x").collect()[0]
    assert same["w1"] == 0.0
    deg = spark.createDataFrame([(5.0,)], "x double")
    d = wasserstein_1d(deg, deg, "x").collect()[0]
    assert d["w1"] == 0.0 and d["w1_norm"] is None


def test_best_of_n_hand(spark):
    from skrub_spark.operators.sft import best_of_n_curve

    rows = [
        ("A", 0.0, 1),
        ("A", 1.0, 2),
        ("B", 1.0, 3),
        ("B", 1.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "prompt string, reward double, rid long"
    )
    out = {
        (r["m"], r["n"]): r
        for r in best_of_n_curve(df, "prompt", "reward", "rid", 2)
        .collect()
    }
    # prompt A: E1 = .5, E2 = 0*(1/4) + 1*(3/4) = .75; B: 1, 1
    assert out[(2, 1)]["exp_best"] == 0.75
    assert out[(2, 2)]["exp_best"] == 0.875
    assert out[(2, 1)]["n_prompts"] == 2
    # curve is monotone nondecreasing in n for any pool
    big = spark.createDataFrame(
        [("p", (i * 7 % 10) / 10.0, i) for i in range(10)],
        "prompt string, reward double, rid long",
    )
    curve = {
        r["n"]: r["exp_best"]
        for r in best_of_n_curve(big, "prompt", "reward", "rid", 4)
        .collect()
    }
    assert curve[1] <= curve[2] <= curve[3] <= curve[4]
    import pytest as _pt

    with _pt.raises(ValueError):
        best_of_n_curve(df, "prompt", "reward", "rid", 0)


def test_fairness_report_hand(spark):
    from skrub_spark.report.evaluation import fairness_report

    rows = (
        [("a", 1, 1)] * 3 + [("a", 1, 0)] * 1 + [("a", 0, 1)] * 2
        + [("a", 0, 0)] * 2
        + [("b", 1, 1)] * 1 + [("b", 1, 0)] * 3 + [("b", 0, 0)] * 4
    )
    df = spark.createDataFrame(rows, "g string, y int, p int")
    out = {
        r["group"]: r
        for r in fairness_report(df, "g", "y", "p").collect()
    }
    a, b, o = out["a"], out["b"], out["__overall__"]
    assert (a["n"], a["pred_rate"], a["tpr"], a["fpr"], a["ppv"]) == (
        8, 0.625, 0.75, 0.5, 0.6,
    )
    assert (b["pred_rate"], b["tpr"], b["fpr"]) == (0.125, 0.25, 0.0)
    assert o["n"] == 16 and o["pred_rate"] == 0.375
    # no-positive group -> NULL tpr, not 0
    neg = spark.createDataFrame(
        [("c", 0, 1), ("c", 0, 0)], "g string, y int, p int"
    )
    r = {
        x["group"]: x
        for x in fairness_report(neg, "g", "y", "p").collect()
    }["c"]
    assert r["tpr"] is None and r["fpr"] == 0.5


def test_label_issues_hand(spark):
    from skrub_spark.report.evaluation import label_issues

    # kept labeled-a rows: 1,2,4,6 -> t_a = mean(.9,.7,.2,.81)
    # = .6525; labeled-b rows: 3,5 -> t_b = mean(.6,.1) = .35
    rows = [
        (1, "a", 0.9, 0.1),
        (2, "a", 0.7, 0.2),
        (3, "b", 0.1, 0.6),
        (4, "a", 0.2, 0.8),   # pb=0.8 >= 0.6 -> flagged, suggest b
        (5, "b", 0.85, 0.1),  # pa=0.85 >= 0.8 -> flagged, suggest a
        (6, "a", 0.81, 0.9),  # both qualify; argmax pb -> suggest b
        (7, "x", 0.9, 0.9),   # label outside class set -> dropped
        (8, "a", None, 0.9),  # NULL prob -> dropped
    ]
    df = spark.createDataFrame(
        rows, "id long, lab string, pa double, pb double"
    )
    out = {
        r["id"]: r
        for r in label_issues(
            df, "id", "lab", {"a": "pa", "b": "pb"}
        ).collect()
    }
    assert set(out) == {4, 5, 6}
    assert out[4]["suggested"] == "b" and out[4]["p_suggested"] == 0.8
    assert out[5]["suggested"] == "a"
    assert out[6]["suggested"] == "b"
    assert out[4]["p_label"] == 0.2
    import pytest as _pt

    with _pt.raises(ValueError):
        label_issues(df, "id", "lab", {})


def test_pairwise_cluster_eval_hand(spark):
    from skrub_spark.report.agreement import pairwise_cluster_eval

    # pred {1,2},{3}; gold {1},{2,3}: TP=0, P=1, G=1 -> f1 0
    df = spark.createDataFrame(
        [(1, "x", "p"), (2, "x", "q"), (3, "y", "q")],
        "id long, pred string, gold string",
    )
    r = pairwise_cluster_eval(df, "pred", "gold").collect()[0]
    assert (r["tp_pairs"], r["pred_pairs"], r["gold_pairs"]) == (
        0, 1, 1,
    )
    assert r["precision"] == 0.0 and r["f1"] == 0.0
    # perfect clustering -> all 1
    perf = spark.createDataFrame(
        [(1, "x", "p"), (2, "x", "p"), (3, "y", "q")],
        "id long, pred string, gold string",
    )
    r2 = pairwise_cluster_eval(perf, "pred", "gold").collect()[0]
    assert (r2["precision"], r2["recall"], r2["f1"]) == (1.0, 1.0, 1.0)
    # half-right: pred {1,2,3} gold {1,2},{3}: TP=1, P=3, G=1
    half = spark.createDataFrame(
        [(1, "x", "p"), (2, "x", "p"), (3, "x", "q")],
        "id long, pred string, gold string",
    )
    r3 = pairwise_cluster_eval(half, "pred", "gold").collect()[0]
    assert (r3["tp_pairs"], r3["pred_pairs"], r3["gold_pairs"]) == (
        1, 3, 1,
    )
    assert r3["precision"] == round(1 / 3, 6) and r3["recall"] == 1.0
    assert r3["f1"] == 0.5
    # all singletons -> NULL scores, not 0/0
    sing = spark.createDataFrame(
        [(1, "x", "p"), (2, "y", "q")], "id long, pred string, gold string"
    )
    r4 = pairwise_cluster_eval(sing, "pred", "gold").collect()[0]
    assert r4["f1"] is None


def test_aalen_johansen_hand(spark):
    """Textbook 6-subject case, single group: CIFs sum to 1-S and
    match the hand-walked product-limit chain."""
    import math

    from skrub_spark.report.survival import aalen_johansen

    # t=1: cause1 death (n=6); t=2: censored (n=5); t=3: cause2
    # (n=4); t=4: cause1 (n=3)
    rows = [
        ("g", 1, 1), ("g", 2, 0), ("g", 3, 2), ("g", 4, 1),
        ("g", 5, 0), ("g", 6, 0),
    ]
    df = spark.createDataFrame(rows, "grp string, t long, cause long")
    out = {
        (r["t"], r["cause"]): r
        for r in aalen_johansen(df, "grp", "t", "cause").collect()
    }
    # S(0)=1 -> inc(t=1,c1) = 1*1/6
    assert out[(1, 1)]["cif"] == round(1 / 6, 6)
    # S(1-)... S after t=1 = 5/6 (via the 6dp-ln bridge)
    s1 = math.exp(round(math.log(5 / 6), 6))
    inc3 = round(s1 * 1 / 4, 6)
    assert out[(3, 2)]["cif"] == inc3
    s3 = math.exp(
        round(math.log(5 / 6), 6) + round(math.log(3 / 4), 6)
    )
    inc4 = round(s3 * 1 / 3, 6)
    assert out[(4, 1)]["cif"] == round(round(1 / 6, 6) + inc4, 6)
    assert out[(1, 1)]["n_risk"] == 6 and out[(4, 1)]["n_risk"] == 3
